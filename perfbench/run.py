#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness if they
are stale (`perfbench/build.py`), generates the workload's inputs from the
seed, runs the workload in one JVM on `local[nproc / 2]` (at most 4),
checks the outputs against DuckDB (`perfbench/check.py`), and prints one JSON line:
`correct`, `attempted`, `failed` and `metrics`. Untraced, the metrics are
the `end_to_end` list of BENCHMARK.json; traced, the `per_layer` list (a
layer the workload never calls reads 0). Exits non-zero when an output is
wrong or the run cannot complete. `--keep 1` keeps the work directory
(`.bench_run/...`) for inspection; `--size small` shrinks every input (the
smoke test uses it).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# bronze sizes: counties, city districts (LEAs = counties + cities), schools;
# full is Georgia-sized
BRONZE = {"full": (159, 41, 2300), "small": (40, 10, 300)}
SUITE_SEED = 42  # the suite's tables are fixed, as its oracle digests are
DEADLINE_S = 170  # for a run after the build; the first run adds the build


def queries_file():
    with open(os.path.join(HERE, "suite_queries.txt")) as fh:
        return [q.strip() for q in fh if q.strip() and not q.startswith("#")]


def java_cmd(cp, work, cpus, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # C1 only: with C2 a refresh kept getting faster for some 30 s (ten
    # iterations) as C2 worked through Catalyst's planner, so a run's median
    # depended on how far into that curve its window fell; C1 settles after
    # two iterations. C1 alone reserves only 48 MB of code cache, which
    # Spark fills: the flushing that followed recompiled for seconds and
    # doubled an iteration, so the cache gets C2's usual size.
    # ActiveProcessorCount sizes the JVM's GC and compiler thread pools to
    # the cores Spark is given.
    return (["java", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
             f"-XX:ActiveProcessorCount={cpus}", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", cp, "perfbench.Harness"] + args)


def run_jvm(cmd, timeout):
    """Run the harness; its stdout goes to our stderr. Kill it on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"harness exceeded {timeout:.0f}s")


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "small"], default="full")
    ap.add_argument("--keep", type=int, default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build.build()
    t_built = time.monotonic()
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "paper_http":
            counties, cities, schools = BRONZE[a.size]
            gen.bronze(work, a.seed, counties, cities, schools)
        else:
            gen.suite_tables(os.path.join(work, "suite"), SUITE_SEED)
            with open(os.path.join(work, "queries.txt"), "w") as fh:
                fh.write("\n".join(queries_file()) + "\n")
        # half the cores (at most 4): the other half absorbs the JIT, the GC
        # and other tenants; on a shared 4-vCPU host that cut the spread of a
        # run's refreshes from 16% to 10%
        cpus = str(max(1, min((os.cpu_count() or 2) // 2, 4)))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cpus", cpus, "--size", a.size]
        t_gen = time.monotonic()
        left = DEADLINE_S - (t_gen - t_built)
        code = run_jvm(java_cmd(cp, work, cpus, args), timeout=left)
        t_jvm = time.monotonic()
        result_path = os.path.join(work, "result.json")
        if not os.path.exists(result_path):
            raise SystemExit(f"harness exited {code} without a result")
        with open(result_path) as fh:
            res = json.load(fh)
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        art = res["artifacts"]
        mismatches = []
        if "gold" in art:
            mismatches = check.gold_and_viewer(work, art)
            attempted += 2
        elif "suite_out" in art:
            names = queries_file()
            mismatches = check.suite(work, art, names)
            attempted += len(names)
        print(f"phases: build {t_built - t_start:.1f}s, inputs {t_gen - t_built:.1f}s, "
              f"jvm {t_jvm - t_gen:.1f}s, checks {time.monotonic() - t_jvm:.1f}s", file=sys.stderr)
        failed += len(mismatches)
        failures += mismatches
        for f in failures[:20]:
            print(f"FAIL {f}", file=sys.stderr)
        metrics = {}
        for m in wanted:
            v = res["metrics"].get(m["name"])
            if v is None and a.trace:
                v = 0.0  # a layer this workload does not call
            if v is None:
                raise SystemExit(f"metric {m['name']} not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        correct = failed == 0 and code == 0
        print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
