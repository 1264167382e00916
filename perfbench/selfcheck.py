#!/usr/bin/env python3
"""Self-checks of the benchmark itself (not of the engine).

    python3 perfbench/selfcheck.py

1. The comparator rejects a wrong answer: one changed value, one missing
   row, one renamed column.
2. A step that misses the oracle counts as failed in every timed pass, once
   per pass even where the JVM also failed it, and leaves no pass time.
3. The gate trips end to end: a run told to drop one row of a step's timed
   output (PERFBENCH_INJECT_WRONG, read only by the benchmark) reports
   correct=false and counts the failed steps.
4. A traced run prints exactly the per-layer metric names of BENCHMARK.json,
   an untraced run exactly the end-to-end names.
5. spark.jobs, spark.tasks, spark.shuffle_write_bytes and streaming.batches
   repeat exactly across two traced runs with the same seed.
6. The benchmark's Scala adds no `broadcast(` call (the engine's plan-budget
   spec audits every such site).
Takes about five minutes; prints FAIL lines and exits 1 on any failure.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
failures = []


def check(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        failures.append(what)


def bench(workload, seed, trace, env=None):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True,
                       env={**os.environ, **(env or {})})
    if r.returncode != 0:
        sys.exit(f"benchmark run failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def main():
    cols, rows = ["a", "b"], [(1, 0.5), (2, None)]
    check(run.compare(cols, rows, cols, list(rows)) is None, "comparator accepts an equal answer")
    check(run.compare(cols, [(1, 0.5), (2, 1e-6)], cols, rows) is not None,
          "comparator rejects a changed value")
    check(run.compare(cols, rows[:1], cols, rows) is not None, "comparator rejects a missing row")
    big = 9139947813.68  # a sum of ~36k prices; its double error is near 1e-4
    check(run.compare(cols, [(1, big - 1e-4)], cols, [(1, big)]) is None,
          "comparator accepts a large sum that differs by its summation error")
    check(run.compare(cols, [(1, big - 1000.0)], cols, [(1, big)]) is not None,
          "comparator rejects a large sum that lost one price")
    check(run.compare(["a", "c"], rows, cols, rows) is not None,
          "comparator rejects a renamed column")

    r = {"passes": 3, "failures": [{"pass": 1, "step": "b", "why": "threw"}],
         "end_to_end": {"pass_s": 1.0, "setup_s": 3.0}, "per_layer": {}, "cpu_s": 2.0,
         "pass_s_all": [1.0], "cpu_s_all": [2.0], "step_s": {"a": 0.5}}
    n = run.account(r, {"a": None, "b": "1/9 rows differ"})
    check(n == 3 and r["end_to_end"]["pass_s"] is None and r["cpu_s"] is None
          and r["end_to_end"]["setup_s"] == 3.0 and not r["pass_s_all"],
          f"an oracle miss fails its step in every pass and leaves no pass time (failed={n})")

    wl = [w["name"] for w in SPEC["workloads"]]
    step = "q94_cva_end_to_end"
    bad, lines = bench("cva_refresh", 1, 0, {"PERFBENCH_INJECT_WRONG": step})
    tripped = [x for x in lines if x.startswith(f"[perfbench] FAIL pass 0 {step}: output differs")]
    check(bad["correct"] is False and tripped,
          f"gate trips on an injected wrong answer for {step} (failed={bad['failed']})")
    check(set(bad["metrics"]) == {m["name"] for m in SPEC["end_to_end"]},
          "untraced run prints exactly the end-to-end metrics of BENCHMARK.json")

    traced = [bench(wl[-1], 7, 1)[0] for _ in range(2)]
    check(set(traced[0]["metrics"]) == {m["name"] for m in SPEC["per_layer"]},
          "traced run prints exactly the per-layer metrics of BENCHMARK.json")
    for m in ("spark.jobs", "spark.tasks", "spark.shuffle_write_bytes", "streaming.batches"):
        a, b = (t["metrics"][m]["value"] for t in traced)
        check(a == b, f"{m} repeats across two traced runs of seed 7 ({a} vs {b})")

    sites = [str(p.relative_to(ROOT)) for p in (HERE / "src").rglob("*.scala")
             if "broadcast(" in p.read_text()]
    check(not sites, f"no broadcast( call in the benchmark's Scala {sites or ''}")

    print(f"\n{'ALL OK' if not failures else f'{len(failures)} FAILED'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
