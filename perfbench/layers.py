"""Per-layer metrics from the in-memory trace a traced run writes out.

A unit is one batch job call or one interactive request; its span is the
root of one trace. Spark jobs belong to the span whose job group they
carry; jobs started on Spark's own threads (broadcast builds) carry
Spark's group instead and go to the innermost span open when they
started. Layer metrics are summed over a group of units and reported as
the median over groups: a group is one pass on the batch workloads and
one read on `interactive`.
"""
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0

# the batch workload's catalog entries, in run order: the iterative loop
# family, then the LLM-data operators. The order is fixed: in one pass
# the first call costs 2.5 to 4.5 s more than later ones, depending on
# the entry, and a seeded order moved wall_s by a tenth between seeds.
LOOPS = ["a_pagerank_exact"]
OPERATORS = ["d5_minhash_pairs", "d27_simhash_pairs", "e3_ivf_topk", "p1_corpus_curation"]
BATCH_JOBS = LOOPS + OPERATORS

# (name, unit) of every per-layer metric, in BENCHMARK.json order
METRICS = [
    ("parser.parse_ms", "ms"), ("traversal.build_ms", "ms"),
    ("graph.build_ms", "ms"),
    ("storage.load_ms", "ms"), ("storage.save_graph_s", "s"),
    ("tx.commit_ms", "ms"), ("storage.append_ms", "ms"),
    ("storage.files", "count"), ("write.amplification", "ratio"),
    ("scan.rows", "count"), ("scan.mb", "MB"), ("scan.rows_per_result", "ratio"),
    ("plan.analysis_ms", "ms"), ("plan.optimize_ms", "ms"), ("plan.physical_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.sched_wait_s", "s"), ("exec.driver_gap_s", "s"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_frac", "frac"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("spill.mb", "MB"),
    ("broadcast.builds", "count"),
] + [m for e in LOOPS for m in ((f"algo.{e}_s", "s"), (f"algo.{e}.jobs", "count"))] + [
    ("algo.checkpoint_jobs", "count"),
] + [m for e in OPERATORS for m in ((f"op.{e}_s", "s"), (f"op.{e}.shuffle_mb", "MB"))] + [
    ("self.storage_load_ms", "ms"), ("self.parser_parse_ms", "ms"),
    ("self.traversal_build_ms", "ms"), ("self.tx_read_ms", "ms"),
    ("self.exec_collect_ms", "ms"), ("self.read_ms", "ms"),
    ("read.traced_p50_ms", "ms"), ("read.self_sum_ms", "ms"), ("read.fixed_share", "frac"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_frac", "frac"),
]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    def __init__(self, res):
        self.cores = res["cores"]
        self.spans = {s[0]: {"id": s[0], "parent": s[1], "name": s[3], "start": s[4],
                             "end": s[5]} for s in res["spans"]}
        self.children = defaultdict(list)
        for s in self.spans.values():
            if s["parent"] >= 0:
                self.children[s["parent"]].append(s)
        self.units = {u["span"]: u for u in res["units"]}
        self.submit = dict(res["stage_submit"])
        self.tasks = defaultdict(list)
        for t in res["tasks"]:
            self.tasks[t[0]].append(t)
        by_start = sorted(self.spans.values(), key=lambda s: s["start"])
        self.jobs_of = defaultdict(list)  # unit span id -> jobs
        for jid, group, desc, site, start, end, stages in res["jobs"]:
            job = {"id": jid, "desc": desc, "site": site, "start": start,
                   "end": end or start, "stages": stages, "group": group}
            sid = None
            if group.startswith("span-") and int(group[5:]) in self.spans:
                sid = int(group[5:])
            else:
                open_ = [s for s in by_start if s["start"] <= start <= s["end"]]
                if open_:
                    sid = open_[-1]["id"]
            while sid is not None and sid not in self.units:
                sid = self.spans[sid]["parent"] if self.spans[sid]["parent"] >= 0 else None
            if sid is not None:
                self.jobs_of[sid].append(job)

    def dur(self, s):
        return s["end"] - s["start"]

    def self_ms(self, s):
        kids = self.children[s["id"]]
        return self.dur(s) - union_ms([(k["start"], k["end"]) for k in kids],
                                      s["start"], s["end"])

    def child(self, unit_span, name):
        return [k for k in self.children[unit_span] if k["name"] == name]

    def unit_stats(self, sid):
        """Layer totals of one unit."""
        s, u, jobs = self.spans[sid], self.units[sid], self.jobs_of[sid]
        stages = [st for j in jobs for st in j["stages"] if st in self.submit]
        tasks = [t for st in stages for t in self.tasks[st]]
        wall = self.dur(s)
        plans = u["plans"]
        return {
            "wall_ms": wall,
            "scan.rows": sum(p[3] for p in plans),
            "scan.mb": sum(p[4] for p in plans) / MB,
            "scan.out_rows": sum(p[5] for p in plans),
            "plan.analysis_ms": sum(p[0] for p in plans),
            "plan.optimize_ms": sum(p[1] for p in plans),
            "plan.physical_ms": sum(p[2] for p in plans),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": len(tasks),
            "exec.sched_wait_s": sum(max(0, t[1] - self.submit[t[0]]) for t in tasks) / 1e3,
            "exec.driver_gap_s": (wall - union_ms([(j["start"], j["end"]) for j in jobs],
                                                  s["start"], s["end"])) / 1e3,
            "exec.task_run_s": sum(t[3] for t in tasks) / 1e3,
            "exec.task_cpu_s": sum(t[4] for t in tasks) / 1e9,
            "exec.gc_s": sum(t[5] for t in tasks) / 1e3,
            "shuffle.write_mb": sum(t[6] for t in tasks) / MB,
            "shuffle.read_mb": sum(t[7] for t in tasks) / MB,
            "spill.mb": sum(t[8] for t in tasks) / MB,
            "broadcast.builds": sum(1 for j in jobs if "broadcast exchange" in j["desc"]),
            "checkpoint_jobs": sum(1 for j in jobs if "checkpoint" in j["site"].lower()),
            "task_busy_ms": union_ms([(t[1], t[2]) for t in tasks], s["start"], s["end"]),
        }


SUMMED = ["scan.rows", "scan.mb", "plan.analysis_ms", "plan.optimize_ms", "plan.physical_ms",
          "exec.jobs", "exec.stages", "exec.tasks", "exec.sched_wait_s", "exec.driver_gap_s",
          "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "shuffle.write_mb",
          "shuffle.read_mb", "spill.mb", "broadcast.builds"]


def per_layer(res, workload):
    """Every per-layer metric of a traced run; layers the workload does
    not touch read 0."""
    m = {name: 0.0 for name, _ in METRICS}
    tr = Trace(res)
    units = sorted(tr.units.values(), key=lambda u: u["id"])
    name_of = {u["span"]: tr.spans[u["span"]]["name"] for u in units}
    stats = {u["span"]: tr.unit_stats(u["span"]) for u in units}

    if workload == "interactive":
        groups = [[sid] for sid in stats if name_of[sid].startswith("read:")]
    else:
        njobs = len(BATCH_JOBS)
        sids = [u["span"] for u in units]
        groups = [sids[i:i + njobs] for i in range(0, len(sids), njobs)]
    sums = [{k: sum(stats[sid][k] for sid in g) for k in
             SUMMED + ["wall_ms", "scan.out_rows", "task_busy_ms", "checkpoint_jobs"]}
            for g in groups]
    for k in SUMMED:
        m[k] = median(x[k] for x in sums)
    m["scan.rows_per_result"] = median(x["scan.rows"] / max(1, x["scan.out_rows"]) for x in sums)
    m["exec.busy_frac"] = median(x["exec.task_run_s"] * 1e3 / (x["wall_ms"] * tr.cores)
                                 for x in sums if x["wall_ms"] > 0)

    def span_ms(name):
        return [tr.dur(k) for sid in stats for k in tr.child(sid, name)]

    # warm-up calls (a traced batch run's untraced first pass, the
    # interactive set-up block) take no part in the per-layer figures
    ops = [o for o in res["ops"] if o["kind"] != "warm"]
    if workload == "interactive":
        reads = [sid for sid in stats if name_of[sid].startswith("read:")]
        m["parser.parse_ms"] = median(span_ms("parser.parse"))
        m["traversal.build_ms"] = median(span_ms("traversal.build"))
        m["storage.load_ms"] = median(span_ms("storage.load"))
        m["tx.commit_ms"] = median(span_ms("tx.commit"))
        m["storage.append_ms"] = median(span_ms("storage.append"))
        m["storage.save_graph_s"] = res["save_graph_s"]
        m["storage.files"] = res["storage_files"]
        m["write.amplification"] = res["write_bytes"] / max(1, res["user_bytes"])
        for child in ("storage.load", "parser.parse", "traversal.build", "tx.read",
                      "exec.collect"):
            m["self." + child.replace(".", "_") + "_ms"] = median(
                tr.self_ms(k) for sid in reads for k in tr.child(sid, child))
        m["self.read_ms"] = median(tr.self_ms(tr.spans[sid]) for sid in reads)
        m["read.traced_p50_ms"] = median(tr.dur(tr.spans[sid]) for sid in reads)
        m["read.self_sum_ms"] = sum(m[k] for k in (
            "self.storage_load_ms", "self.parser_parse_ms", "self.traversal_build_ms",
            "self.exec_collect_ms", "self.read_ms"))
        # fixed per-query cost: the share of a read with no task running
        m["read.fixed_share"] = median(
            1 - stats[sid]["task_busy_ms"] / stats[sid]["wall_ms"] for sid in reads)
        # per read kind: mean traced minus mean untraced latency
        diffs = []
        for kind in {o["name"] for o in ops if o["kind"] == "read"}:
            on_k = [o["ms"] for o in ops if o["name"] == kind and o["traced"]]
            off_k = [o["ms"] for o in ops if o["name"] == kind and not o["traced"]]
            if on_k and off_k:
                diffs.append(statistics.mean(on_k) - statistics.mean(off_k))
        off = median(o["ms"] for o in ops if o["kind"] == "read" and not o["traced"])
        on = off + median(diffs)
    else:
        def mine(e):
            return [stats[sid] for sid in stats if name_of[sid] == f"job:{e}"]
        for e in LOOPS:
            m[f"algo.{e}_s"] = median(x["wall_ms"] / 1e3 for x in mine(e))
            m[f"algo.{e}.jobs"] = median(x["exec.jobs"] for x in mine(e))
        for e in OPERATORS:
            m[f"op.{e}_s"] = median(x["wall_ms"] / 1e3 for x in mine(e))
            m[f"op.{e}.shuffle_mb"] = median(x["shuffle.write_mb"] for x in mine(e))
        m["algo.checkpoint_jobs"] = median(x["checkpoint_jobs"] for x in sums)
        m["graph.build_ms"] = median(span_ms("graph.build"))
        on = sum(o["ms"] for o in ops if o["traced"])
        off = sum(o["ms"] for o in ops if not o["traced"])
    m["trace.overhead_ms"] = on - off
    m["trace.overhead_frac"] = (on - off) / off if off else 0.0
    return m
