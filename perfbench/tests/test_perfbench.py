"""Self-test of the benchmark at scale factor 0.001.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. The metric tests start the JVM four times
(each workload, tracing off and on) and take a few minutes.
"""
import contextlib
import glob
import io
import json
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SF = "0.001"
DATA = run.DATA[SF]
WORK = os.path.join(build.build_dir(), "selftest")


def run_bench(workload, trace, keep=None):
    """One benchmark run at SF; returns (stdout lines, result object)."""
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
            "--sf", SF]
    if keep:
        argv += ["--keep", keep]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.main(argv)
    lines = buf.getvalue().splitlines()
    return lines, json.loads(lines[-1])


class StreamTest(unittest.TestCase):
    dom = gen.domain(DATA)

    def stream(self, seed):
        return gen.make_stream(seed, self.dom, n_blocks=20)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.stream(5), self.stream(5))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.stream(5)["requests"], self.stream(6)["requests"])
        self.assertNotEqual(self.stream(5)["batches"], self.stream(6)["batches"])

    def test_every_block_has_each_read_kind_and_one_write(self):
        reqs = self.stream(5)["requests"]
        for b in range(20):
            kinds = sorted(r["kind"] for r in reqs if r["block"] == b)
            self.assertEqual(kinds, sorted(gen.READ_KINDS + ["write"]))


class CheckerTest(unittest.TestCase):
    """The interactive checker accepts its own SQL twins' answers and
    rejects an altered one."""

    def test_altered_read_is_a_mismatch(self):
        data = DATA
        stream = gen.make_stream(4, gen.domain(data), n_blocks=6)
        con = check.connect(data, stream)
        os.makedirs(WORK, exist_ok=True)
        path = os.path.join(WORK, "reads.tsv")
        lines, applied = [], 0
        for r in stream["requests"]:
            if r["kind"] == "write":
                applied = r["batch"] + 1
                continue
            params = dict(r.get("params", {}), key=r.get("key"), k=applied)
            rows = con.execute(check.SQL_TWINS[r["kind"]].format(**params)).fetchall()
            lines.append([r["kind"], str(applied), json.dumps([list(x) for x in rows])])

        def write(ls):
            with open(path, "w") as f:
                f.writelines("\t".join(x) + "\n" for x in ls)

        write(lines)
        self.assertEqual(check.check_interactive(data, stream, path)[1], [])
        cnt = next(i for i, x in enumerate(lines) if x[0] == "cust_orders")
        lines[cnt][2] = json.dumps([[json.loads(lines[cnt][2])[0][0] + 1]])
        write(lines)
        self.assertEqual(len(check.check_interactive(data, stream, path)[1]), 1)


class MetricsTest(unittest.TestCase):
    """Every metric BENCHMARK.json names is printed with its unit, and
    the batch checker rejects an altered output."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_metrics(self, result, section):
        self.assertTrue(result["correct"], result)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        want = {m["name"]: m["unit"] for m in self.spec[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)

    def test_batch(self):
        keep = os.path.join(WORK, "batch")
        _, res = run_bench("batch", 0, keep)
        self.assert_metrics(res, "end_to_end")
        _, res = run_bench("batch", 1)
        self.assert_metrics(res, "per_layer")
        # alter one value of one persisted output: tools/check.py must flag it
        verify = os.path.join(keep, "verify")
        data = DATA
        cache = os.path.join(build.build_dir(), "oracle")
        self.assertEqual(check.check_batch(ROOT, data, verify, cache)[1], [])
        out = sorted(glob.glob(os.path.join(verify, "a_pagerank_exact", "*.parquet")))[0]
        t = pq.read_table(out)
        ranks = t.column("pr").to_pylist()
        ranks[0] += 1
        pq.write_table(t.set_column(t.schema.get_field_index("pr"), "pr",
                                    pa.array(ranks, t.schema.field("pr").type)), out)
        bad = check.check_batch(ROOT, data, verify, cache)[1]
        self.assertEqual(len(bad), 1, bad)
        self.assertTrue(bad[0].startswith("VALS"), bad)

    def test_interactive(self):
        _, res = run_bench("interactive", 0)
        self.assert_metrics(res, "end_to_end")
        _, res = run_bench("interactive", 1)
        self.assert_metrics(res, "per_layer")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
