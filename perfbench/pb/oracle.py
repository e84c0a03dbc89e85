"""Output checks for `batch_etl`, run in DuckDB outside the timed region.

A query's parquet output is compared with DuckDB running the query's
oracle SQL over the same input tables: same column names, same row
count, same cells (rows sorted, floats compared by repr), as the
repository's oracle gate compares them. Where the oracle is an
all-pairs join too large for the replica, the output is checked for a
stated property instead: every reported pair is recomputed and must
meet the query's threshold and blocking rule. An approximate (LSH)
query is held to the recall it states: every row it returns must be in
the exact oracle's answer, and enough of that answer must be returned.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# query -> (Jaccard threshold, pairs must share `source`)
PAIR_QUERIES = {"q_dedup_minhash_lsh": (0.8, False),
                "q_dedup_ngram_block": (0.5, True)}

# query -> least share of the exact answer it must return. The planted
# twins of q_embed_knn_lsh are found by 4-probe LSH, which misses a
# pair with probability ~3e-4 (its catalog doc); on seeded inputs a run
# can miss one of the fifty, so the exact 50-row answer is not a
# promise the query makes.
RECALL_QUERIES = {"q_embed_knn_lsh": 0.9}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _frame(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def read_output(con, out_dir):
    rel = con.execute(f"SELECT * FROM '{out_dir}/*.parquet'")
    return [d[0] for d in rel.description], rel.fetchall()


def diff(a, b):
    """None when two (cols, rows) frames are equal, else a reason."""
    (ca, ra), (cb, rb) = _frame(*a), _frame(*b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} != {len(rb)}"
    for x, y in zip(ra, rb):
        if x != y:
            return f"first differing row: {x} != {y}"
    return None


def check_oracle(con, out_dir, sql):
    rel = con.execute(sql)
    expect = ([d[0] for d in rel.description], rel.fetchall())
    return diff(read_output(con, out_dir), expect)


def check_recall(con, out_dir, sql, recall):
    """No row outside the oracle's answer, and at least `recall` of it."""
    rel = con.execute(sql)
    cols, want = _frame([d[0] for d in rel.description], rel.fetchall())
    got_cols, got = _frame(*read_output(con, out_dir))
    if got_cols != cols:
        return f"columns {got_cols} != {cols}"
    extra = sorted(set(got) - set(want))
    if extra or len(got) != len(set(got)):
        return f"rows outside the oracle's answer or repeated: {extra[:3]}"
    if len(got) < recall * len(want):
        return f"recall {len(got)}/{len(want)} below {recall}"
    return None


def shingles(text):
    """Word-bigram shingle set, as the Jaccard oracle SQL builds it."""
    w = text.split(" ")
    if len(w) < 2:
        return {w[0]}
    return {w[i] + " " + w[i + 1] for i in range(len(w) - 1)}


def check_pairs(con, out_dir, threshold, same_source):
    """Every reported (id_a, id_b, jaccard) pair, recomputed."""
    cols, rows = read_output(con, out_dir)
    if cols != ["id_a", "id_b", "jaccard"]:
        return f"columns {cols}"
    ids = sorted({r[0] for r in rows} | {r[1] for r in rows})
    docs = {}
    if ids:
        con.execute("CREATE OR REPLACE TEMP TABLE pair_ids(id BIGINT)")
        con.executemany("INSERT INTO pair_ids VALUES (?)", [(i,) for i in ids])
        docs = {d: (t, s) for d, t, s in con.execute(
            "SELECT doc_id, text, source FROM documents "
            "JOIN pair_ids ON doc_id = id").fetchall()}
    for a, b, j in rows:
        if not a < b:
            return f"pair ({a}, {b}) not ordered"
        (ta, sa), (tb, sb) = docs[a], docs[b]
        if same_source and sa != sb:
            return f"pair ({a}, {b}) crosses blocks"
        x, y = shingles(ta), shingles(tb)
        common = len(x & y)
        exact = common / (len(x) + len(y) - common)
        if exact != j or exact < threshold:
            return f"pair ({a}, {b}) jaccard {j} recomputed {exact}"
    return None


def row_count(con, out_dir):
    return con.execute(f"SELECT COUNT(*) FROM '{out_dir}/*.parquet'").fetchone()[0]
