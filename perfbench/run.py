#!/usr/bin/env python3
"""perfbench: the repository's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all --seed <n> [--seconds <s>]

Run from the root of a checkout. A run compiles the engine from source
(once; the classes are cached under the build directory), generates its
inputs from the seed, starts one JVM for the workload, checks every
output, and prints one JSON line last: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics of a traced run. --all
runs the three workloads untraced and traced, prints each workload's
named metrics with units plus the tracing overhead, and exits non-zero
if any output check failed. See perfbench/NOTES.md for the workloads.
"""
import argparse
import json
import os
import shutil
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pb import build, gen, oracle, stats  # noqa: E402

import numpy as np  # noqa: E402

WORKLOADS = ("serve_mixed", "batch_etl", "ingest_cdc")
JVM_TIMEOUT_S = 170
HEAP = "3g"

SERVE_SF = 0.01
BATCH_BASE_SF, BATCH_FACTOR = 0.005, 2
WAREHOUSE = ["q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18",
             "q_join3_agg", "q_conditional_rollup", "q_percentile_huge",
             "q_skew_split_join", "q_global_dict_bitmap"]
CURATION = ["q_corpus_clean", "q_dedup_minhash_lsh", "q_dedup_ngram_block",
            "q_dedup_semantic", "q_embed_knn_lsh"]
INGEST_SF, INGEST_BATCHES, INGEST_FRAC, COMPACT_EVERY = 0.01, 6, 0.01, 1

MB = 1048576.0


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def free_port():
    with socket.socket() as s:
        s.bind(("localhost", 0))
        return s.getsockname()[1]


# ------------------------------------------------------------- inputs

def serve_config(rng, work, cfg):
    vtab_root = os.path.join(work, "vtab")
    d = os.path.join(work, "input")
    clients = min(2, cfg["cpus"])
    inp = gen.serve_inputs(rng, d, SERVE_SF, clients, 5000, vtab_root)
    cfg.update(port=free_port(), clients=clients, tables=os.path.join(d, "tables"),
               pool=inp["pool"], streams=inp["streams"], vtab_root=vtab_root,
               vtab_versions=[os.path.join(d, "vtab_versions", f"v{v}.parquet")
                              for v in range(1, inp["vtab_versions"] + 1)])
    return {"rows": inp["rows"], "bytes": gen.dir_bytes(os.path.join(d, "tables"))}


def batch_config(rng, work, cfg):
    d = os.path.join(work, "replica")
    gen.write_tables(gen.replicate(rng, gen.star_schema(rng, BATCH_BASE_SF), BATCH_FACTOR), d)
    cfg.update(replica=d, out=os.path.join(work, "out"), warehouse=WAREHOUSE,
               curation=CURATION)
    con = oracle.connect(d)
    rows = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in oracle.TABLES}
    return {"rows": rows, "bytes": gen.dir_bytes(d), "base_sf": BATCH_BASE_SF,
            "factor": BATCH_FACTOR}


def ingest_config(rng, work, cfg):
    d = os.path.join(work, "input")
    inp = gen.ingest_inputs(rng, d, INGEST_SF, INGEST_BATCHES, INGEST_FRAC)
    state = {k: os.path.join(work, "state", k) for k in ("table", "lattice", "bm25", "ivf")}
    cfg.update(input=d, batches=inp["batches"], compact_every=COMPACT_EVERY, state=state)
    return {"rows": {"lineitem": inp["rows0"], "documents": inp["docs0"],
                     "embeddings": inp["emb0"]},
            "batch_bytes": sum(b["bytes"] for b in inp["batches"]) / len(inp["batches"])}


CONFIG = {"serve_mixed": serve_config, "batch_etl": batch_config,
          "ingest_cdc": ingest_config}


# ---------------------------------------------------------------- JVM

def jvm(classes, jars, work, config_path, cds):
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "hive.exec.scratchdir": os.path.join(work, "hive-scratch"),
    }
    os.makedirs(props["java.io.tmpdir"], exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData"] + cds + build.add_opens(ROOT)
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", ":".join(classes + [os.path.join(jars, "*")]),
              "perfbench.Main", config_path])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    return code, log


# ------------------------------------------------------------ checks

def batch_checks(res, cfg):
    """Per pass: every reported dedup pair recomputed, and the DuckDB
    oracle (first pass) or identity with the first pass (later ones)."""
    checks = []
    sql = res["extra"]["oracle_sql"]
    con = oracle.connect(cfg["replica"])
    out = cfg["out"]
    for p in range(len(res["extra"]["passes"])):
        for q in WAREHOUSE + CURATION:
            d = os.path.join(out, f"p{p}", q)
            why = None
            if q in oracle.PAIR_QUERIES:
                why = oracle.check_pairs(con, d, *oracle.PAIR_QUERIES[q])
            if why is None and p == 0 and q in oracle.RECALL_QUERIES:
                why = oracle.check_recall(con, d, sql[q], oracle.RECALL_QUERIES[q])
            elif why is None and p == 0:
                why = oracle.check_oracle(con, d, sql[q])
            elif why is None:
                why = oracle.diff(oracle.read_output(con, d),
                                  oracle.read_output(con, os.path.join(out, "p0", q)))
            half = "warehouse" if q in WAREHOUSE else "curation"
            checks.append({"name": f"{q} pass {p}", "ok": why is None, "detail": why or "",
                           "op": f"{half}:{q}", "pass": p})
    res["extra"]["out_rows"] = {q: oracle.row_count(con, os.path.join(out, "p0", q))
                                for q in WAREHOUSE + CURATION}
    return checks


def mark_wrong_answers(ops, checks):
    """Count each failed check against the operation it names (`op` is
    "<class>:<name>", `pass` picks one occurrence, else all of them); a
    wrong answer fails its operation. Returns the failed checks that
    match no measured operation, which count as failures of their own."""
    seen = {}
    for o in ops:
        key = f"{o['cls']}:{o['name']}"
        o["nth"] = seen.get(key, 0)
        seen[key] = o["nth"] + 1
    unattributed = 0
    for c in checks:
        if c["ok"]:
            continue
        if not c.get("op"):
            unattributed += 1
            continue
        hit = [o for o in ops
               if f"{o['cls']}:{o['name']}" == c["op"] and c.get("pass") in (None, o["nth"])]
        for o in hit:
            o["ok"] = False
        unattributed += not hit
    return unattributed


# ----------------------------------------------------------- metrics

def primary(workload, ops):
    """The operations the gated metrics time: a refresh for ingest_cdc;
    one pass of the whole list (the nightly job) for batch_etl; each
    query for serve_mixed."""
    if workload == "ingest_cdc":
        return [o for o in ops if o["cls"] == "refresh"]
    if workload == "batch_etl":
        passes = {}
        for o in ops:
            passes.setdefault(o["nth"], []).append(o)
        return [{"cls": "pass", "name": str(p), "t0": min(o["t0"] for o in q),
                 "t1": max(o["t1"] for o in q), "ok": all(o["ok"] for o in q)}
                for p, q in sorted(passes.items())]
    return ops


def end_to_end(workload, res, ops):
    """The gated metrics (same names on every workload) and the named
    metrics of the workload."""
    setup = (res["first_op_ms"] - res["jvm_start_ms"]) / 1000.0
    mine = primary(workload, ops)
    lat = [o["t1"] - o["t0"] for o in mine if o["ok"]]
    loop = stats.closed_loop([(o["t0"], o["t1"], o["ok"]) for o in mine], res["measured_s"])
    every = stats.closed_loop([(o["t0"], o["t1"], o["ok"]) for o in ops], res["measured_s"])
    t = stats.tail(lat)
    gated = {
        "setup_s": (setup, "s"),
        "op_p50_ms": (stats.median(lat), "ms"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }
    named = {"setup_s": (setup, "s"), "heap_peak_mb": (res["heap_peak_mb"], "MB"),
             "failed_frac": (every["failed_frac"], "ratio")}

    def p50(cls):
        return stats.median([o["t1"] - o["t0"] for o in ops if o["cls"] == cls and o["ok"]])

    ex = res["extra"]
    if workload == "serve_mixed":
        named.update({
            "query_p50_ms": (stats.median(lat), "ms"),
            "query_p99_ms": (t[1] if t else float("nan"), "ms"),
            "queries_per_s": (loop["ops_per_s"], "1/s"),
            "routed_p50_ms": (p50("routed"), "ms"),
            "adhoc_p50_ms": (p50("adhoc"), "ms"),
            "lookup_p50_ms": (p50("lookup"), "ms")})
        if t:
            named["query_p99_ms"] = (t[1], f"ms@p{t[0]:.1f}")
    elif workload == "batch_etl":
        named.update({
            "warehouse_s": (stats.median([p["warehouse"] for p in ex["passes"]]), "s"),
            "curation_s": (stats.median([p["curation"] for p in ex["passes"]]), "s")})
    else:
        named.update({
            "refresh_p50_s": (p50("refresh") / 1000.0, "s"),
            "read_p50_ms": (p50("read"), "ms"),
            "write_amp": (stats.write_amp(ex["bytes_written"], ex["input_bytes"]), "ratio"),
            "space_amp": (stats.space_amp(ex["on_disk_bytes"], ex["compact_bytes"]), "ratio")})
    return gated, named, every, len(lat), t


def per_layer(workload, res, ops, cpus):
    """Per-layer metrics of a traced run (0 where the workload bypasses
    the layer), and per-query records for the report."""
    tr = res["trace"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    roots = {s["id"]: s for s in spans if s["parent"] == 0 and s["name"].startswith("op:")}
    mine = [s for s in spans if s["op"] in roots]
    selft = stats.self_times(mine)
    counters = {int(k): v for k, v in tr["counters"].items()}

    def total(span_ids, key):
        return sum(counters.get(i, {}).get(key, 0) for i in span_ids)

    op_spans = {}
    for s in mine:
        op_spans.setdefault(s["op"], []).append(s["id"])
    queries = [q for q in tr["queries"] if by_id.get(q["span"], {}).get("op") in roots]
    q_by_op = {}
    for q in queries:
        q_by_op.setdefault(by_id[q["span"]]["op"], []).append(q)

    def named_spans(name):
        return [s for s in mine if s["name"] == name]

    def dur_p50(name):
        return stats.median([(s["t1"] - s["t0"]) / 1e6 for s in named_spans(name)])

    def jobs_per(name):
        ss = named_spans(name)
        return total([s["id"] for s in ss], "jobs") / len(ss) if ss else 0.0

    n_ops = max(1, len(roots))
    all_ids = [s["id"] for s in mine]
    task_s = total(all_ids, "task_ms") / 1000.0
    m = {
        "exec.jobs": total(all_ids, "jobs") / n_ops,
        "exec.stages": total(all_ids, "stages") / n_ops,
        "exec.tasks": total(all_ids, "tasks") / n_ops,
        "exec.task_s": task_s / n_ops,
        "exec.cpu_s": total(all_ids, "cpu_ns") / 1e9 / n_ops,
        "exec.gc_s": total(all_ids, "gc_ms") / 1000.0 / n_ops,
        "exec.wait_frac": stats.wait_frac(task_s, res["measured_s"], cpus),
        "exec.shuffle_write_mb": total(all_ids, "shuffle_write_b") / MB / n_ops,
        "exec.shuffle_read_mb": total(all_ids, "shuffle_read_b") / MB / n_ops,
        "exec.spill_mb": total(all_ids, "spill_b") / MB / n_ops,
        "exec.input_mb": total(all_ids, "input_b") / MB / n_ops,
        "exec.driver_result_mb": total(all_ids, "driver_result_b") / MB / n_ops,
        "plans.analyze_ms_p50": stats.median([q["analysis_ms"] for q in queries]),
        "plans.optimize_ms_p50": stats.median([q["optimization_ms"] for q in queries]),
        "plans.physical_ms_p50": stats.median([q["planning_ms"] for q in queries]),
    }
    routed_ops = [o for o, s in roots.items() if s["name"].startswith("op:routed:")]
    hit = [o for o in roots if any(q["cuboid"] for q in q_by_op.get(o, []))]
    m["plans.routed_frac"] = (len([o for o in routed_ops if o in hit]) / len(routed_ops)
                              if routed_ops else 0.0)
    m["plans.routed_queries"] = float(len(hit))

    jdbc = named_spans("serve.jdbc")
    m["serve.statements"] = float(len(jdbc))
    q_by_span = {}
    for q in queries:
        q_by_span.setdefault(q["span"], []).append(q)
    # round trip minus the statement's own analysis and execution
    # (planning included) on the server, as the listener timed them
    m["serve.overhead_ms_p50"] = stats.median(
        [(s["t1"] - s["t0"]) / 1e6 - sum(q["analysis_ms"] + q["exec_ms"] for q in qs)
         for s in jdbc for qs in [q_by_span.get(s["id"], [])] if qs])

    records = {}
    for o, root in roots.items():
        ids = op_spans[o]
        qs = q_by_op.get(o, [])
        jobs = total(ids, "jobs")
        records.setdefault(root["name"], []).append({
            "wall_s": (root["t1"] - root["t0"]) / 1e9,
            "self_s": selft[o] / 1e9,
            "plan_ms": sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
                           for q in qs),
            "jobs": jobs,
            "job_ms_mean": total(ids, "job_ms") / jobs if jobs else 0.0,
            "task_s": total(ids, "task_ms") / 1000.0,
            "shuffle_mb": (total(ids, "shuffle_write_b") + total(ids, "shuffle_read_b")) / MB,
            "spill_mb": total(ids, "spill_b") / MB,
            "driver_result_mb": total(ids, "driver_result_b") / MB,
        })

    def rec(name, key):
        return stats.median([r[key] for r in records.get(name, [])])

    out_rows = res["extra"].get("out_rows", {})
    for q in WAREHOUSE:
        n = f"op:warehouse:{q}"
        m[f"rel.{q}.wall_s"] = rec(n, "wall_s")
        m[f"rel.{q}.plan_ms"] = rec(n, "plan_ms")
        m[f"rel.{q}.jobs"] = rec(n, "jobs")
        m[f"rel.{q}.shuffle_mb"] = rec(n, "shuffle_mb")
        m[f"rel.{q}.spill_mb"] = rec(n, "spill_mb")
    for q in CURATION:
        n = f"op:curation:{q}"
        m[f"cur.{q}.wall_s"] = rec(n, "wall_s")
        m[f"cur.{q}.jobs"] = rec(n, "jobs")
        m[f"cur.{q}.shuffle_mb"] = rec(n, "shuffle_mb")
        m[f"cur.{q}.driver_result_mb"] = rec(n, "driver_result_mb")
        m[f"cur.{q}.out_rows"] = float(out_rows.get(q, 0))

    ex = res["extra"]
    writes = named_spans("vtab.merge") + named_spans("vtab.delete") + named_spans("vtab.compact")
    m.update({
        "vtab.commits": float(ex.get("vtab_commits", 0)),
        "vtab.merge_ms_p50": dur_p50("vtab.merge"),
        "vtab.delete_ms_p50": dur_p50("vtab.delete"),
        "vtab.read_ms_p50": dur_p50("vtab.read"),
        "vtab.changes_ms_p50": dur_p50("vtab.changes"),
        "vtab.compact_ms_p50": dur_p50("vtab.compact"),
        "vtab.jobs_per_commit": (total([s["id"] for s in writes], "jobs") / len(writes)
                                 if writes else 0.0),
        "vtab.files_per_commit": (ex["table_files"] / ex["table_versions"]
                                  if ex.get("table_versions") else 0.0),
        "vtab.bytes_written_mb": ex.get("table_bytes", 0) / MB,
        "vtab.files_live": float(ex.get("table_files_live", 0)),
        "cube.maintain_ms_p50": dur_p50("cube.maintain"),
        "cube.jobs_per_batch": jobs_per("cube.maintain"),
        "bm25.upsert_ms_p50": dur_p50("bm25.upsert"),
        "bm25.jobs_per_upsert": jobs_per("bm25.upsert"),
        "bm25.compact_ms": dur_p50("bm25.compact"),
        "ivf.upsert_ms_p50": dur_p50("ivf.upsert"),
        "ivf.jobs_per_upsert": jobs_per("ivf.upsert"),
        "ivf.compact_ms": dur_p50("ivf.compact"),
    })
    return m, records


# ------------------------------------------------------------- a run

def run_workload(workload, seed, seconds, trace):
    t_start = time.time()
    out_root = os.path.abspath(
        os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    classes, jars = build.build(ROOT, HERE, out_root)
    work = os.path.join(ROOT, ".bench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    cpus = cores()
    cfg = {"workload": workload, "work": work, "seconds": seconds, "trace": trace,
           "cpus": cpus, "seed": seed, "result": os.path.join(work, "result.json")}
    t_gen = time.time()
    inputs = CONFIG[workload](rng, work, cfg)
    inputs["gen_s"] = time.time() - t_gen
    cfg_path = os.path.join(work, "config.json")
    gen.write_json(cfg, cfg_path)
    cds, archive = build.cds_flags(out_root, classes)
    t_jvm = time.time()
    code, log = jvm(classes, jars, work, cfg_path, cds)
    inputs["jvm_s"] = time.time() - t_jvm
    inputs["class_archive"] = "written" if archive else "mapped"
    if archive and code == 0 and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    if code != 0 or not os.path.exists(cfg["result"]):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        raise SystemExit(f"perfbench: {workload} JVM exited with {code}")
    res = json.load(open(cfg["result"]))
    checks = res["checks"] + (batch_checks(res, cfg) if workload == "batch_etl" else [])
    ops = res["ops"]
    unattributed = mark_wrong_answers(ops, checks)
    correct = all(c["ok"] for c in checks)
    gated, named, loop, n_lat, t = end_to_end(workload, res, ops)
    failed = loop["failed"] + unattributed
    files_left, bytes_left = 0, 0
    for r, _, fs in os.walk(work):
        files_left += len(fs)
        bytes_left += sum(os.path.getsize(os.path.join(r, f)) for f in fs)
    report = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "cpus": cpus, "inputs": inputs, "checks": checks,
              "ops_attempted": loop["attempted"], "samples": n_lat,
              "tail_percentile": t[0] if t else None,
              "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "extra": {k: v for k, v in res["extra"].items() if k not in ("oracle_sql",)},
              "left_behind": {"files": files_left, "bytes": bytes_left},
              "phases_s": res["phases"],
              "session_s": (res["session_ready_ms"] - res["jvm_start_ms"]) / 1000.0,
              "wall_s": time.time() - t_start}
    if trace:
        layers, records = per_layer(workload, res, ops, cpus)
        layers["state.files_left"] = float(files_left)
        layers["state.mb_left"] = bytes_left / MB
        layers["trace.op_p50_ms"] = gated["op_p50_ms"][0]
        report["per_layer"] = layers
        report["records"] = records
        metrics = {k: {"value": v, "unit": LAYER_UNITS.get(k, unit_of(k))}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    return {"correct": correct, "attempted": loop["attempted"],
            "failed": min(failed, loop["attempted"]), "metrics": metrics}, report


LAYER_UNITS = {"exec.wait_frac": "ratio", "plans.routed_frac": "ratio",
               "state.mb_left": "MB"}


def unit_of(name):
    tail_ = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_ms_p50", "ms"), ("_s", "s"), ("_mb", "MB")):
        if tail_.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.all:
        ok = True
        for w in WORKLOADS:
            plain, rep = run_workload(w, a.seed, a.seconds, 0)
            traced, _ = run_workload(w, a.seed, a.seconds, 1)
            ok = ok and plain["correct"] and traced["correct"]
            for k, v in rep["named"].items():
                print(f"{w} {k} {v['value']:.6g} {v['unit']}")
            over = traced["metrics"]["trace.op_p50_ms"]["value"] - \
                plain["metrics"]["op_p50_ms"]["value"]
            print(f"{w} tracing_overhead_op_p50_ms {over:.6g} ms")
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload or --all is required")
    out, _ = run_workload(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
