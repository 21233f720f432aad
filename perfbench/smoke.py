#!/usr/bin/env python3
"""Smoke test of the benchmark at its smallest sizes.

    python3 perfbench/smoke.py [workload ...]

For each workload (all by default) it runs `run.py --size small` untraced
and traced, and asserts that the run is correct and that every metric of
BENCHMARK.json prints with its unit. It then proves the correctness gate is
not vacuous: it flips one value in a kept gold table and in a kept suite
result, and asserts that `check.py` reports each flip.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402


def run(workload, trace, keep=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "small",
           "--keep", str(keep)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(last)


def kept_work(workload):
    dirs = sorted(glob.glob(os.path.join(ROOT, ".bench_run", f"{workload}-7-*")),
                  key=os.path.getmtime)
    assert dirs, f"no kept work dir for {workload}"
    return dirs[-1]


def flip(path, column):
    """Rewrite a parquet file with `column` of row 0 changed."""
    t = pq.read_table(path)
    vals = t.column(column).to_pylist()
    v = vals[0]
    vals[0] = (v + 1) if isinstance(v, (int, float)) else (("x" + v) if isinstance(v, str) else 1)
    i = t.column_names.index(column)
    t = t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type))
    pq.write_table(t, path)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace, keep=1 if trace == 0 else 0)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None and got["unit"] == m["unit"], (w, m["name"], got)
                assert isinstance(got["value"], (int, float)), (w, m["name"], got)
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), (w, res)
            print(f"ok {w} trace={trace}")
        work = kept_work(w)
        art = json.load(open(os.path.join(work, "result.json")))["artifacts"]
        if "gold" in art:
            assert check.gold_and_viewer(work, art) == [], "clean gold must pass"
            flip(glob.glob(os.path.join(art["gold"], "*.parquet"))[0], "school_count")
            assert check.gold_and_viewer(work, art), "a flipped gold value must fail the check"
            print(f"ok {w}: flipped gold value is caught")
        if "suite_out" in art:
            names = [l.strip() for l in open(os.path.join(work, "queries.txt")) if l.strip()]
            oracle = json.load(open(os.path.join(art["suite_out"], "oracle_sql.json")))
            assert check.suite(work, art, names) == [], "clean suite must pass"
            victim = next(n for n in names if n in oracle and
                          pq.read_table(glob.glob(os.path.join(art["suite_out"], n, "*.parquet"))[0]).num_rows)
            f = glob.glob(os.path.join(art["suite_out"], victim, "*.parquet"))[0]
            flip(f, pq.read_table(f).column_names[0])
            assert check.suite(work, art, names), f"a flipped {victim} value must fail the check"
            print(f"ok {w}: flipped {victim} value is caught")
        shutil.rmtree(work, ignore_errors=True)
    print("smoke ok")


if __name__ == "__main__":
    main()
