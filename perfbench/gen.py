"""The seeded inputs of the benchmark.

`make_stream(seed, domain, ...)` builds what `--seed` controls on the
interactive workload: the ids the reads start from, the order of the
requests, and the write batches. `domain(data_dir)` reads the keys and
value sets it draws from out of the input tables. The JVM side receives
only the file `write_stream_tsv` writes.
"""
import datetime as dt
import random

import pyarrow.compute as pc
import pyarrow.parquet as pq

NEW_ORDER_BASE = 1 << 32  # keys of orders the interactive writes create


def domain(data_dir):
    """Keys and value sets of the input tables the stream draws from."""
    def col(table, name):
        return pq.read_table(f"{data_dir}/{table}.parquet", columns=[name]).column(0)

    dates = col("orders", "o_orderdate")
    return {
        "customers": sorted(col("customer", "c_custkey").to_pylist()),
        "parts": sorted(col("part", "p_partkey").to_pylist()),
        "orders": sorted(col("orders", "o_orderkey").to_pylist()),
        "segments": sorted(pc.unique(col("customer", "c_mktsegment")).to_pylist()),
        "statuses": sorted(pc.unique(col("orders", "o_orderstatus")).to_pylist()),
        "priorities": sorted(pc.unique(col("orders", "o_orderpriority")).to_pylist()),
        "first_day": pc.min(dates).as_py().date(),
        "days": (pc.max(dates).as_py() - pc.min(dates).as_py()).days,
    }


# ------------------------------------------------------------ the stream

# Read templates of the interactive workload: 1 to 3 hops from a
# customer `{c}` or part `{p}` (encoded vertex ids), with a has-filter
# and dedup/count/groupCount. Each has an SQL twin in check.py.
READ_TEMPLATES = {
    "cust_orders": "g.V({c}).outE('placed').count()",
    "part_order_status": "g.V({p}).in('contains').groupCount('status')",
    "part_buyers_seg": "g.V({p}).in('contains').in('placed')"
                       ".has('mktsegment', '{seg}').dedup().count()",
    "cust_suppliers": "g.V({c}).out('placed').out('contains')"
                      ".out('supplied_by').dedup().count()",
}
POINT_READ = "order_point"
READ_KINDS = sorted(READ_TEMPLATES) + [POINT_READ]
LABEL_CODE = {"customer": 1, "order": 2, "part": 3}


def vid(label, key):
    return (LABEL_CODE[label] << 40) | key


def make_stream(seed, dom, n_blocks, batch_orders=4):
    """The interactive request stream over the keys and values of `dom`
    (see `domain`): `n_blocks` blocks, each one read of every kind in a
    seeded order plus one write at a seeded place. Every block runs the
    same mix; the seed picks the order, the ids and the write batches."""
    assert dom["orders"][-1] < NEW_ORDER_BASE
    rng = random.Random(seed)
    requests, batches = [], []
    next_key = NEW_ORDER_BASE
    for b in range(n_blocks):
        block = []
        kinds = list(READ_KINDS)
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == POINT_READ:
                # half the point reads target orders earlier writes made
                made = next_key - NEW_ORDER_BASE
                if made and rng.random() < 0.5:
                    key = NEW_ORDER_BASE + rng.randrange(made)
                else:
                    key = rng.choice(dom["orders"])
                block.append({"kind": kind, "key": key})
                continue
            params = {"c": rng.choice(dom["customers"]), "p": rng.choice(dom["parts"]),
                      "seg": rng.choice(dom["segments"])}
            text = READ_TEMPLATES[kind].format(
                c=vid("customer", params["c"]), p=vid("part", params["p"]),
                seg=params["seg"])
            block.append({"kind": kind, "gremlin": text, "params": params})
        orders, lines = [], []
        for _ in range(batch_orders):
            okey = next_key
            next_key += 1
            day = dom["first_day"] + dt.timedelta(days=rng.randrange(dom["days"] + 1))
            orders.append({
                "o_orderkey": okey, "o_custkey": rng.choice(dom["customers"]),
                "o_orderstatus": rng.choice(dom["statuses"]),
                "o_totalprice": round(rng.uniform(1000.0, 500000.0), 2),
                "o_orderdate": day.strftime("%Y-%m-%d"),
                "o_orderpriority": rng.choice(dom["priorities"])})
            for ln in range(1, rng.randint(1, 7) + 1):
                lines.append({
                    "l_orderkey": okey, "l_partkey": rng.choice(dom["parts"]),
                    "l_linenumber": ln, "l_quantity": float(rng.randint(1, 50)),
                    "l_extendedprice": round(rng.uniform(900.0, 50000.0), 2),
                    "l_discount": rng.randint(0, 10) / 100.0})
        batches.append({"orders": orders, "lines": lines})
        block.insert(rng.randrange(len(kinds) + 1),
                     {"kind": "write", "batch": b})
        for i, r in enumerate(block):
            r["block"], r["block_start"] = b, i == 0
        requests.extend(block)
    return {"seed": seed, "requests": requests, "batches": batches}


def write_stream_tsv(stream, path):
    """Flatten the stream into the tab-separated form the JVM side reads:
    B <block> | R <kind> <gremlin>
    | P <orderkey> | W <batch> | O <batch> <order cols> | L <batch> <line cols>."""
    with open(path, "w") as f:
        for b, batch in enumerate(stream["batches"]):
            for o in batch["orders"]:
                f.write("\t".join(["O", str(b)] + [str(o[k]) for k in (
                    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                    "o_orderdate", "o_orderpriority")]) + "\n")
            for ln in batch["lines"]:
                f.write("\t".join(["L", str(b)] + [str(ln[k]) for k in (
                    "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount")]) + "\n")
        for r in stream["requests"]:
            if r["block_start"]:
                f.write(f"B\t{r['block']}\n")
            if r["kind"] == "write":
                f.write(f"W\t{r['batch']}\n")
            elif r["kind"] == POINT_READ:
                f.write(f"P\t{r['key']}\n")
            else:
                f.write(f"R\t{r['kind']}\t{r['gremlin']}\n")
