"""Output checks.

* Batch: every persisted job output is compared with its catalog
  entry's oracle SQL by the repository's `tools/check.py`, run
  unchanged, over oracle results cached per SQL text.
* Interactive: every read is compared with the SQL twin of its template,
  run in DuckDB over the base tables plus the write batches committed
  before that read.

Both return the number of outputs checked and the list of mismatches.
"""
import hashlib
import json
import os
import re
import subprocess
import sys

import duckdb

import gen

# Twins of gen.READ_TEMPLATES. Orders and lines the interactive writes
# add are edges only (no vertices), so traversals that step onto an order
# vertex see the base orders; edge-level counts see the new rows too.
SQL_TWINS = {
    "cust_orders": """
        SELECT (SELECT count(*) FROM orders WHERE o_custkey = {c})
             + (SELECT count(*) FROM new_orders WHERE b < {k} AND o_custkey = {c})""",
    "part_order_status": """
        SELECT o_orderstatus, count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_partkey = {p} GROUP BY 1""",
    "cust_suppliers": """
        SELECT count(DISTINCT sb.l_suppkey)
        FROM orders JOIN lineitem l ON l.l_orderkey = o_orderkey
        JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sb ON sb.l_partkey = l.l_partkey
        WHERE o_custkey = {c}""",
    "part_buyers_seg": """
        SELECT count(DISTINCT c_custkey) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON c_custkey = o_custkey
        WHERE l_partkey = {p} AND c_mktsegment = '{seg}'""",
    gen.POINT_READ: """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
              FROM orders
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
              FROM new_orders WHERE b < {k})
        WHERE o_orderkey = {key}""",
}


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings"]


def _canon(rows):
    return sorted((tuple(r) for r in rows), key=lambda r: [(x is None, str(x)) for x in r])


def connect(data_dir, stream):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute("CREATE TABLE new_orders (b INT, o_orderkey BIGINT, o_custkey BIGINT, "
                "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderpriority VARCHAR)")
    con.execute("CREATE TABLE new_lines (b INT, l_orderkey BIGINT, l_partkey BIGINT, "
                "l_quantity DOUBLE)")
    for b, batch in enumerate(stream["batches"]):
        con.executemany("INSERT INTO new_orders VALUES (?, ?, ?, ?, ?, ?)", [
            (b, o["o_orderkey"], o["o_custkey"], o["o_orderstatus"], o["o_totalprice"],
             o["o_orderpriority"]) for o in batch["orders"]])
        con.executemany("INSERT INTO new_lines VALUES (?, ?, ?, ?)", [
            (b, ln["l_orderkey"], ln["l_partkey"], ln["l_quantity"]) for ln in batch["lines"]])
    return con


def check_interactive(data_dir, stream, reads_tsv):
    """Compare each recorded read (in stream order) with its SQL twin."""
    reads = [r for r in stream["requests"] if r["kind"] != "write"]
    con = connect(data_dir, stream)
    bad, n = [], 0
    with open(reads_tsv) as f:
        for i, line in enumerate(f):
            kind, applied, rows = line.rstrip("\n").split("\t")
            req = reads[i]
            if rows == "ERROR":  # counted as a failed operation already
                continue
            n += 1
            if kind != req["kind"]:
                bad.append(f"read {i}: kind {kind}, stream has {req['kind']}")
                continue
            params = dict(req.get("params", {}), key=req.get("key"), k=int(applied))
            want = _canon(con.execute(SQL_TWINS[kind].format(**params)).fetchall())
            got = _canon(json.loads(rows))
            if got != want:
                bad.append(f"read {i} {kind} {params}: got {got[:5]} want {want[:5]}")
    return n, bad


def cached_oracles(data_dir, verify_dir, cache_dir):
    """Point the persisted outputs at cached oracle results.

    The input tables are fixed, so an entry's oracle result depends only
    on its SQL text; each distinct SQL runs once per cache. Its result is
    stored as parquet (every oracle column type these entries produce is
    a parquet type, so the round trip is exact). oracle_sql.json, kept as
    oracle_sql.source.json, is rewritten to read the cached results."""
    path = os.path.join(verify_dir, "oracle_sql.json")
    source = os.path.join(verify_dir, "oracle_sql.source.json")
    if not os.path.exists(source):
        os.rename(path, source)
    with open(source) as f:
        oracle = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    for name, sql in oracle.items():
        key = hashlib.sha256((data_dir + "\n" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, key + ".parquet")
        if not os.path.exists(cached):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT PARQUET)")
            os.rename(cached + ".tmp", cached)
        oracle[name] = f"SELECT * FROM read_parquet('{cached}')"
    with open(path, "w") as f:
        json.dump(oracle, f)
    return len(oracle)


def check_batch(root, data_dir, verify_dir, cache_dir):
    """Compare the persisted outputs with their oracles by the
    repository's tools/check.py, run unchanged."""
    expected = cached_oracles(data_dir, verify_dir, cache_dir)
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        data_dir, verify_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in r.stdout.splitlines() if re.match(r"^[A-Z]+ +\S", ln)]
    ok = [ln for ln in lines if ln.startswith("OK ")]
    bad = [ln for ln in lines if not ln.startswith("OK ")]
    if len(ok) + len(bad) != expected:
        bad.append(f"tools/check.py reported {len(ok) + len(bad)} of {expected} outputs "
                   f"(exit {r.returncode})")
    elif r.returncode != 0 and not bad:
        bad.append(f"tools/check.py exit {r.returncode}")
    return len(ok) + len(bad), bad
