"""Seeded input generators.

Everything the engine reads is written here, to parquet and JSON, before
the JVM starts: the TPC-H-shaped star schema plus the events, documents
and embeddings tables the catalog queries use, the replica that
`batch_etl` runs on, the CDC batches of `ingest_cdc`, and the statement
pool and client streams of `serve_mixed`. The same seed gives the same
files byte for byte.

The tables mirror the schema and value ranges of the repository's
TPC-H-shaped test data (see TESTDATA.md): 31-word documents with 5 %
planted near-duplicates (the original text plus a trailing ``dup``
token), unit-norm 64-dim float embeddings, uniform dimension keys.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
P_ADJ = "red new hot small cold large old big".split()
P_NOUN = "bolt anvil ring rod plate gear widget nut".split()
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64

SHIP_LO = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499
ORDER_LO = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404
EVENT_LO = np.datetime64("2024-01-01T00:00:00", "us")


def _days(lo, n):
    return (lo + n.astype("timedelta64[D]")).astype("datetime64[us]")


def _ts(arr):
    return pa.array(arr.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf):
    return {
        "customer": max(150, int(150000 * sf)),
        "supplier": max(10, int(10000 * sf)),
        "part": max(200, int(200000 * sf)),
        "orders": max(1500, int(1500000 * sf)),
        "lineitem": max(6000, int(6000000 * sf)),
        "events": max(1000, int(1000000 * sf)),
        "users": max(15, int(15000 * sf)),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def lineitem_columns(rng, n, n_orders, n_part, n_supp, orderkeys=None,
                     linenumbers=None):
    """Lineitem rows as a dict of numpy columns (keys uniform unless given)."""
    if orderkeys is None:
        orderkeys = rng.integers(0, n_orders, n)
    if linenumbers is None:
        linenumbers = rng.integers(1, 8, n)
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": linenumbers.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(SHIP_LO, rng.integers(0, SHIP_DAYS, n)),
    }


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us"))])


def lineitem_table(cols):
    return pa.table({k: (_ts(v) if k == "l_shipdate" else v)
                     for k, v in cols.items()}, schema=LINEITEM_SCHEMA)


def documents(rng, n, id_base=0):
    """`n` documents; 5 % are an earlier document's text plus ' dup'."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng, n, id_base=0):
    return emb_table(np.arange(id_base, id_base + n, dtype=np.int64),
                     unit_vectors(rng, n),
                     rng.integers(0, 10, n).astype(np.int32))


def emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def star_schema(rng, sf, only=None):
    """The ten catalog tables at scale factor `sf` as {name: pa.Table}."""
    n = sizes(sf)
    out = {}

    def want(t):
        return only is None or t in only

    if want("region"):
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS})
    if want("nation"):
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if want("customer"):
        c = n["customer"]
        out["customer"] = pa.table({
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    if want("supplier"):
        s = n["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    if want("part"):
        p = n["part"]
        out["part"] = pa.table({
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, p)],
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, p) / 10.0, 1)})
    if want("orders"):
        o = n["orders"]
        out["orders"] = pa.table({
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], o).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000.0, 450000.0, o),
            "o_orderdate": _ts(_days(ORDER_LO, rng.integers(0, ORDER_DAYS, o))),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    if want("lineitem"):
        out["lineitem"] = lineitem_table(lineitem_columns(
            rng, n["lineitem"], n["orders"], n["part"], n["supplier"]))
    if want("events"):
        e = n["events"]
        off = rng.integers(0, 30 * 86400 * 1000000, e)
        out["events"] = pa.table({
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts(EVENT_LO + np.sort(off).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n["users"], e).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(60.0, e).clip(0, 560.21), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    if want("documents"):
        out["documents"] = documents(rng, n["documents"])
    if want("embeddings"):
        out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def write_tables(tables, d):
    os.makedirs(d, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))


def dir_bytes(d):
    total = 0
    for root, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------- replica

def replicate(rng, base, factor):
    """ScaleBench's derived replica, with the seed choosing the scheme.

    Copy 0 is the base verbatim. Copies 1.. get their key ranges at
    seeded, disjoint offsets; documents get a seeded per-copy token tag
    (so near-duplicate structure replicates inside a copy and never
    across copies); embeddings get a seeded isometry (coordinate stride
    permutation, rotation, negation), which keeps norms and in-copy
    pair distances. nation and region stay single copies.
    """
    def shift(t, **offs):
        cols = {c: t.column(c) for c in t.column_names}
        for c, o in offs.items():
            cols[c] = pc.add(cols[c], pa.scalar(o, cols[c].type))
        return pa.table(cols, schema=t.schema)

    slots = rng.permutation(np.arange(1, 64))[:factor - 1]
    tags = rng.permutation(np.arange(1, 1000))[:factor - 1]
    out = {k: [v] for k, v in base.items()}
    for slot, tag in zip(slots.tolist(), tags.tolist()):
        out["customer"].append(shift(base["customer"], c_custkey=slot * 10_000_000))
        out["supplier"].append(shift(base["supplier"], s_suppkey=slot * 100_000))
        out["part"].append(shift(base["part"], p_partkey=slot * 10_000_000))
        out["orders"].append(shift(base["orders"], o_orderkey=slot * 1_000_000_000,
                                   o_custkey=slot * 10_000_000))
        out["lineitem"].append(shift(base["lineitem"], l_orderkey=slot * 1_000_000_000,
                                     l_partkey=slot * 10_000_000,
                                     l_suppkey=slot * 100_000))
        out["events"].append(shift(base["events"], event_id=slot * 1_000_000_000,
                                   user_id=slot * 10_000_000))
        d = shift(base["documents"], doc_id=slot * 10_000_000)
        texts = [" ".join(w + f"c{tag}" for w in t.split())
                 for t in d.column("text").to_pylist()]
        out["documents"].append(d.set_column(
            1, "text", pa.array(texts)).set_column(
            4, "n_chars", pa.array([len(t) for t in texts], pa.int64())))
        e = base["embeddings"]
        v = np.array(e.column("embedding").to_pylist(), dtype=np.float32)
        stride = 2 * int(rng.integers(0, 32)) + 1
        rot = int(rng.integers(0, DIM))
        if stride == 1 and rot == 0:
            rot = 1  # never the identity: a verbatim copy plants exact duplicates
        v = v[:, (stride * np.arange(DIM)) % DIM]
        v = np.roll(v, -rot, axis=1)
        if rng.random() < 0.5:
            v = -v
        out["embeddings"].append(emb_table(
            e.column("vec_id").to_numpy() + slot * 10_000_000, v,
            e.column("label").to_numpy()))
    return {k: pa.concat_tables(v) if len(v) > 1 else v[0]
            for k, v in out.items()}


# --------------------------------------------------------- serve_mixed

ROUTED_DIMS = [["l_returnflag"], ["l_returnflag", "l_linestatus"],
               ["l_suppkey"], ["l_linestatus", "l_suppkey"],
               ["l_returnflag", "l_shipdate"],
               ["l_returnflag", "l_linestatus", "l_shipdate"]]
ROUTED_MEASURES = [
    "COUNT(*) AS n",
    "COUNT(l_quantity) AS cnt_qty",
    "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_qty",
    "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS s_disc",
    "MIN(l_quantity) AS mn_qty",
    "MAX(l_quantity) AS mx_qty"]
REVENUE = ("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"
           " AS DOUBLE)")


def _date(rng, lo, days):
    return str(lo + np.timedelta64(int(rng.integers(0, days)), "D"))


def routed_statement(rng, dims, filt):
    """GROUP BY `dims` with seeded measures; `filt` 0 adds a seeded
    ship-date range, 1 a seeded return flag, 2 nothing."""
    k = int(rng.integers(2, 5))
    meas = [ROUTED_MEASURES[j] for j in sorted(rng.choice(6, k, replace=False))]
    where = ""
    if filt == 0:
        d1 = _date(rng, SHIP_LO, SHIP_DAYS - 400)
        d2 = str(np.datetime64(d1) + np.timedelta64(int(rng.integers(30, 400)), "D"))
        where = f" WHERE l_shipdate >= '{d1}' AND l_shipdate < '{d2}'"
    elif filt == 1:
        where = f" WHERE l_returnflag = '{'ANR'[int(rng.integers(0, 3))]}'"
    g = ", ".join(dims)
    return (f"SELECT {g}, {', '.join(meas)} FROM lineitem{where} "
            f"GROUP BY {g} ORDER BY {g} LIMIT 200")


def adhoc_statement(rng, t):
    if t == 0:
        d1 = _date(rng, ORDER_LO, ORDER_DAYS - 200)
        d2 = str(np.datetime64(d1) + np.timedelta64(int(rng.integers(30, 200)), "D"))
        return ("SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS "
                "DECIMAL(18,2))) AS DOUBLE) AS total FROM orders JOIN customer ON "
                f"o_custkey = c_custkey WHERE o_orderdate >= '{d1}' AND "
                f"o_orderdate < '{d2}' GROUP BY c_mktsegment ORDER BY c_mktsegment")
    if t == 1:
        seg = SEGMENTS[int(rng.integers(0, 5))]
        d = _date(rng, ORDER_LO, ORDER_DAYS)
        return (f"SELECT l_orderkey, {REVENUE} AS revenue, o_orderdate FROM customer "
                "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON "
                f"l_orderkey = o_orderkey WHERE c_mktsegment = '{seg}' AND "
                f"o_orderdate < '{d}' AND l_shipdate > '{d}' GROUP BY l_orderkey, "
                "o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10")
    if t == 2:
        a = int(rng.integers(0, 8))
        q = int(rng.integers(5, 40))
        return ("SELECT l_suppkey, COUNT(*) AS n FROM lineitem WHERE l_discount "
                f"BETWEEN {a / 100:.2f} AND {(a + 2) / 100:.2f} AND l_quantity < {q} "
                "GROUP BY l_suppkey ORDER BY n DESC, l_suppkey LIMIT 20")
    r = int(rng.integers(0, 5))
    d1 = _date(rng, SHIP_LO, SHIP_DAYS - 365)
    d2 = str(np.datetime64(d1) + np.timedelta64(365, "D"))
    return (f"SELECT n_name, {REVENUE} AS revenue FROM lineitem JOIN supplier ON "
            "l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey "
            f"WHERE n_regionkey = {r} AND l_shipdate >= '{d1}' AND "
            f"l_shipdate < '{d2}' GROUP BY n_name ORDER BY revenue DESC, n_name")


def lookup_statement(rng, root, n_versions, keys, time_travel):
    if time_travel:
        v = int(rng.integers(1, n_versions + 1))
        k = int(keys[int(rng.integers(0, len(keys)))])
        return ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM "
                f"vtab.`{root}` VERSION AS OF {v} WHERE o_orderkey = {k}")
    a = int(rng.integers(1, n_versions))
    b = int(rng.integers(a + 1, n_versions + 1))
    return ("SELECT change, COUNT(*) AS n FROM "
            f"table_changes('{root}', {a}, {b}) GROUP BY change ORDER BY change")


SERVE_MIX = {"routed": 0.60, "adhoc": 0.25, "lookup": 0.15}


def serve_inputs(rng, d, sf, clients, stream_len, vtab_root):
    tables = star_schema(rng, sf, only={"region", "nation", "customer",
                                        "supplier", "part", "orders", "lineitem"})
    write_tables(tables, os.path.join(d, "tables"))
    # versioned orders table for the lookup class: v1 = 2/3 of the
    # orders, then a merge that updates prices and adds the rest
    orders = tables["orders"].select(["o_orderkey", "o_orderstatus", "o_totalprice"])
    n = orders.num_rows
    vdir = os.path.join(d, "vtab_versions")
    os.makedirs(vdir, exist_ok=True)
    keys = orders.column("o_orderkey").to_numpy()
    first = keys % 3 != 0
    pq.write_table(orders.filter(pa.array(first)), os.path.join(vdir, "v1.parquet"))
    upd = rng.choice(np.flatnonzero(first), min(2000, n // 10), replace=False)
    idx = np.sort(np.concatenate([np.flatnonzero(~first), upd]))
    t = orders.take(pa.array(idx))
    t = t.set_column(2, "o_totalprice",
                     pa.array(np.round(t.column("o_totalprice").to_numpy()
                                       * rng.uniform(0.9, 1.1, len(idx)), 2)))
    pq.write_table(t, os.path.join(vdir, "v2.parquet"))
    n_versions = 2
    # one statement per shape (each routed dimension set, each ad-hoc
    # template, each lookup kind) with seeded parameters, so every seed
    # serves the same mix of plans
    pool = ([{"cls": "routed", "sql": routed_statement(rng, dims, i % 3)}
             for i, dims in enumerate(ROUTED_DIMS)]
            + [{"cls": "adhoc", "sql": adhoc_statement(rng, t)} for t in range(4)]
            + [{"cls": "lookup", "sql": lookup_statement(rng, vtab_root, n_versions, keys, tt)}
               for tt in (True, False)])
    return {"pool": pool, "streams": serve_streams(rng, pool, clients, stream_len),
            "vtab_versions": n_versions, "rows": {k: v.num_rows for k, v in tables.items()}}


def serve_streams(rng, pool, clients, length, period=20):
    """Per-client streams of pool indices. The classes are interleaved
    evenly in exact SERVE_MIX shares (every `period` statements hold 12
    routed, 5 adhoc and 3 lookup), so the few dozen queries of a short
    window see the same mix on every seed; each client starts at its own
    point of that pattern and visits each class's statements in its own
    seeded order."""
    slots = sorted(((k + 0.5) / round(share * period), cls)
                   for cls, share in SERVE_MIX.items() for k in range(round(share * period)))
    pattern = [cls for _, cls in slots]
    by_cls = {c: [i for i, p in enumerate(pool) if p["cls"] == c] for c in SERVE_MIX}
    streams = []
    for c in range(clients):
        order = {cls: [int(i) for i in rng.permutation(ix)] for cls, ix in by_cls.items()}
        seen = dict.fromkeys(by_cls, 0)
        stream = []
        for j in range(length):
            cls = pattern[(j + c * period // clients) % period]
            stream.append(order[cls][seen[cls] % len(order[cls])])
            seen[cls] += 1
        streams.append(stream)
    return streams


# ---------------------------------------------------------- ingest_cdc

def ingest_inputs(rng, d, sf, n_batches, batch_frac):
    """Initial state plus `n_batches` CDC batches.

    Lineitem keys are unique (l_orderkey, l_linenumber) pairs, encoded
    as ``l_orderkey * 8 + l_linenumber``. Each batch updates existing
    rows (80 % drawn from the newest fifth of the keys), inserts new
    orders and deletes a few rows; documents and embeddings get
    inserts, updates (a delete and an insert of the same id) and
    deletes, in the change-feed shape the index upserts take.
    """
    n = sizes(sf)
    n_orders = n["lineitem"] // 4
    lines = rng.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines])
    os.makedirs(d, exist_ok=True)
    pq.write_table(lineitem_table(lineitem_columns(
        rng, len(ok), n_orders, n["part"], n["supplier"], ok, ln)),
        os.path.join(d, "lineitem0.parquet"))
    live = ok * 8 + ln
    docs = documents(rng, n["documents"])
    embs = embeddings(rng, n["embeddings"])
    pq.write_table(docs, os.path.join(d, "docs0.parquet"))
    pq.write_table(embs, os.path.join(d, "emb0.parquet"))
    live_docs = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    vecs = np.array(embs.column("embedding").to_pylist(), dtype=np.float32)
    live_emb = {i: (vecs[j], lab) for j, (i, lab) in enumerate(
        zip(embs.column("vec_id").to_pylist(), embs.column("label").to_pylist()))}
    next_order, next_doc, next_vec = n_orders, n["documents"], n["embeddings"]
    batches = []
    for b in range(1, n_batches + 1):
        bd = os.path.join(d, f"batch{b}")
        os.makedirs(bd)
        n_upd = max(10, int(len(live) * batch_frac))
        recent = live[int(len(live) * 0.8):]
        pick = np.where(rng.random(n_upd) < 0.8,
                        recent[rng.integers(0, len(recent), n_upd)],
                        live[rng.integers(0, len(live), n_upd)])
        upd = np.unique(pick)
        dels = np.setdiff1d(np.unique(live[rng.integers(0, len(live), max(2, n_upd // 8))]),
                            upd)
        new_orders = max(2, n_upd // 10)
        nl = rng.integers(1, 8, new_orders)
        ins_ok = np.repeat(np.arange(next_order, next_order + new_orders), nl)
        ins_ln = np.concatenate([np.arange(1, k + 1) for k in nl])
        next_order += new_orders
        m_ok = np.concatenate([upd // 8, ins_ok])
        m_ln = np.concatenate([upd % 8, ins_ln])
        pq.write_table(lineitem_table(lineitem_columns(
            rng, len(m_ok), n_orders, n["part"], n["supplier"], m_ok, m_ln)),
            os.path.join(bd, "upsert.parquet"))
        pq.write_table(pa.table({"key": dels}), os.path.join(bd, "delete.parquet"))
        live = np.setdiff1d(np.union1d(live, ins_ok * 8 + ins_ln), dels)
        touched = np.unique(np.concatenate([m_ok * 8 + m_ln, dels]))
        nd = max(4, int(len(live_docs) * batch_frac * 2))
        ids, texts, change = _changes(rng, live_docs, next_doc, nd,
                                      lambda k: documents(rng, k).column("text").to_pylist())
        next_doc += nd
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                                 "change": change}), os.path.join(bd, "docs.parquet"))
        ids, rows, change = _changes(rng, live_emb, next_vec, nd, lambda k: list(zip(
            unit_vectors(rng, k), rng.integers(0, 10, k).tolist())))
        next_vec += nd
        t = emb_table(np.array(ids, dtype=np.int64),
                      np.array([r[0] for r in rows], dtype=np.float32),
                      np.array([r[1] for r in rows], dtype=np.int32))
        pq.write_table(t.append_column("change", pa.array(change)),
                       os.path.join(bd, "emb.parquet"))
        batches.append({"dir": bd, "bytes": dir_bytes(bd)})
        pq.write_table(pa.table({"key": touched}), os.path.join(bd, "touched.parquet"))
    return {"batches": batches, "rows0": len(ok), "docs0": docs.num_rows,
            "emb0": embs.num_rows}


def _changes(rng, live, next_id, k, fresh):
    """A change feed over `live` ({id: value}): k//2 updates, k//4
    deletes, k inserts of new ids; applies it to `live`."""
    ids_live = np.array(sorted(live), dtype=np.int64)
    upd = np.unique(ids_live[rng.integers(0, len(ids_live), k // 2)])
    dele = np.setdiff1d(np.unique(ids_live[rng.integers(0, len(ids_live), k // 4)]), upd)
    new = np.arange(next_id, next_id + k, dtype=np.int64)
    values = fresh(len(upd) + k)
    ids, vals, change = [], [], []
    for i in np.concatenate([upd, dele]):
        ids.append(int(i)); vals.append(live[int(i)]); change.append("delete")
    for i, v in zip(np.concatenate([upd, new]), values):
        ids.append(int(i)); vals.append(v); change.append("insert")
        live[int(i)] = v
    for i in dele:
        del live[int(i)]
    return ids, vals, change


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f)
