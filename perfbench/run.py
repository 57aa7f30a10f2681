#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload batch|interactive \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles graft and the
benchmark (perfbench/build.py) into `.bench_build`. The inputs are the
tables under perfbench/data. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["batch", "interactive"]
# the repository's seeded test tables (TESTDATA.md, seed 42), copied
# unchanged: sf0.01 is measured, sf0.001 serves the self-test
DATA = {"0.01": os.path.join(HERE, "data", "sf0.01"),
        "0.001": os.path.join(HERE, "data", "sf0.001")}
# two task threads leave the host's other cores to the JVM's compiler
# and collector threads and to the driver thread
CPUS = min(2, os.cpu_count() or 2)
STREAM_BLOCKS = 100
# interactive blocks run during set-up, before the timed blocks
WARM_BLOCKS = 1
JVM_HEAP = "2g"
# a fixed heap and young generation: peak RSS then follows what graft
# keeps live, not the collector's run-to-run sizing decisions
JVM_YOUNG = "512m"
# (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("read_p50_ms", "ms"),
              ("read_p90_ms", "ms"), ("write_p50_ms", "ms"), ("ops_per_s", "1/s"),
              ("peak_rss_mb", "MB")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def steal_jiffies():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(classes, run_dir, kv, timeout):
    jars = build.spark_jars()
    work = kv["work"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or Ctrl-C: the JVM never outlives this process
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM failed ({rc}); log {log}")


def end_to_end(res, workload):
    ops = res["ops"]
    common = {"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"]}
    if workload == "batch":
        # one pass, one call per entry. Batch has no reads or writes of
        # its own; as every workload prints every metric, the three
        # latency metrics report the mean entry call and track wall_s.
        wall = sum(o["ms"] for o in ops) / 1e3
        mean_ms = wall * 1e3 / len(ops)
        return dict(common, wall_s=wall, read_p50_ms=mean_ms, read_p90_ms=mean_ms,
                    write_p50_ms=mean_ms, ops_per_s=len(ops) / wall), \
            {"reads": 0, "writes": 0, "passes": 1}
    timed = [o for o in ops if o["kind"] != "warm"]
    reads = [o["ms"] for o in timed if o["kind"] == "read"]
    writes = [o["ms"] for o in timed if o["kind"] == "write"]
    per = len(gen.READ_KINDS) + 1  # one block of the request stream
    passes = [sum(o["ms"] for o in timed[i:i + per]) / 1e3
              for i in range(0, len(timed), per)]
    return dict(common, wall_s=statistics.median(passes),
                read_p50_ms=percentile(reads, 50), read_p90_ms=percentile(reads, 90),
                write_p50_ms=percentile(writes, 50), ops_per_s=len(timed) / res["loop_s"]), \
        {"reads": len(reads), "writes": len(writes), "passes": len(passes)}


def _terminate(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=sorted(DATA), default="0.01", help="input scale factor")
    ap.add_argument("--keep", help="copy the run's outputs and result here")
    a = ap.parse_args(argv)

    t_start = time.time()
    steal0 = steal_jiffies()
    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        raise SystemExit("perfbench: tools/check.py not found; run from a graft checkout")
    classes = build.build()
    data = DATA[a.sf]

    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out, work = os.path.join(run_dir, "out"), os.path.join(run_dir, "work")
    os.makedirs(out)
    kv = {"workload": a.workload, "data": data, "out": out, "work": work,
          "seconds": a.seconds, "trace": a.trace, "cpus": CPUS}
    stream = None
    if a.workload == "interactive":
        stream = gen.make_stream(a.seed, gen.domain(data), STREAM_BLOCKS)
        kv["stream"] = os.path.join(run_dir, "stream.tsv")
        kv["warm"] = WARM_BLOCKS
        gen.write_stream_tsv(stream, kv["stream"])
    else:
        kv["jobs"] = ",".join(layers.BATCH_JOBS)

    try:
        run_jvm(classes, run_dir, kv, timeout=a.seconds + 120)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        if stream is not None:
            checked, bad = check.check_interactive(data, stream, os.path.join(out, "reads.tsv"))
        else:
            checked, bad = check.check_batch(ROOT, data, os.path.join(out, "verify"),
                                             os.path.join(build.build_dir(), "oracle"))
        for line in bad[:20]:
            print("MISMATCH", line)
        attempted = len(res["ops"])
        failed = len(bad) + sum(o["error"] for o in res["ops"])
        e2e, counts = end_to_end(res, a.workload)
        host = {"steal_core_s": (steal_jiffies() - steal0) / 100.0, "load1": load1(),
                "run_s": round(time.time() - t_start, 3)}
        if a.trace:
            metrics = layers.per_layer(res, a.workload)
            units = dict(layers.METRICS)
        else:
            metrics = e2e
            units = dict(END_TO_END)
        for k, v in metrics.items():
            print(f"{k:32s} {v:14.4f} {units[k]}")
        print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} operations; "
              f"{checked} outputs checked)")
        print(f"samples reads={counts['reads']} writes={counts['writes']} "
              f"passes={counts['passes']} seed={a.seed}")
        if stream is None:
            print("calls " + " ".join(f"{o['name']}={o['ms'] / 1e3:.2f}s" for o in res["ops"]))
        print("host " + json.dumps(host))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        with open(os.path.join(build.build_dir(), "runs.jsonl"), "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "host": host, **result}) + "\n")
        if a.keep:
            shutil.rmtree(a.keep, ignore_errors=True)
            shutil.copytree(out, a.keep)
            shutil.copy(os.path.join(run_dir, "jvm.log"), a.keep)
            if stream is not None:
                shutil.copy(kv["stream"], a.keep)
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
