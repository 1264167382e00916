#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload in one JVM, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run of a source state
builds, into perfbench/.build/:
  - the engine (src/main/scala) and the benchmark (perfbench/src), compiled
    with the Scala compiler that ships in Spark's jars;
  - the DuckDB oracle answer of every step (graft.SparkEntry.oracleSql) over
    the benchmark's fixed row sets (gen.py), which no seed changes.
Every run then:
  1. writes the input tables, rows permuted by --seed, into a run-private
     data root under perfbench/.runs/, next to a private java.io.tmpdir,
     spark.local.dir and warehouse, all deleted on exit, so no staged state
     survives from an earlier run or an earlier commit;
  2. runs the workload in one JVM (perfbench/src/Main.scala): an untimed warm
     pass, whose outputs it writes, then timed passes worth --seconds at the
     workload's nominal pass time, at least three; the JVM checks every timed
     step's full output against the warm pass's output;
  3. once the JVM has exited, checks the warm pass's output of every step
     against the oracle answer: a step that misses it failed in every pass,
     and no pass time is reported;
  4. prints a summary, then one JSON line: end-to-end metrics with --trace 0,
     per-layer metrics with --trace 1 (the traced run also writes its span
     tree to perfbench/.out/).
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

START_MS = int(time.time() * 1000)
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HEAP = "4g"
ORACLE_THREADS = 4
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

# no hsperfdata files outside the checkout; a fixed set of JIT compiler
# threads, whose CPU the benchmark takes out of cpu_s thread by thread
JVM_OPTS = ["-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads"]
# Spark 4 on JDK 17 needs these outside spark-submit (as build.sbt sets them).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars dir (it holds the Scala compiler too): SPARK_HOME's, else
    that of the first spark-submit on the PATH that ships one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        jars = Path(h) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    fail("no Spark install with a Scala compiler found; set SPARK_HOME")


def build():
    """Compile and compute oracle answers once per source state; returns the
    build dir (classes/, oracle/<step>.pkl). Concurrent runs build once."""
    (HERE / ".build").mkdir(exist_ok=True)
    with open(HERE / ".build" / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        fail(f"no engine sources under {ROOT / 'src/main/scala'}; run from a source checkout")
    srcs = engine + sorted((HERE / "src").rglob("*.scala"))
    import duckdb
    h = hashlib.sha256(duckdb.__version__.encode())
    for p in srcs + [HERE / "gen.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = HERE / ".build" / h.hexdigest()[:16]
    if (out / "ok").exists():
        return out
    for old in (HERE / ".build").iterdir():
        if old.is_dir():
            shutil.rmtree(old)
    classes = out / "classes"
    classes.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    r = subprocess.run(["java", *JVM_OPTS, "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-classpath", cp]
                       + [str(p) for p in srcs], capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    sql_file = out / "oracle_sql.json"
    r = subprocess.run(["java", *JVM_OPTS, f"-Djava.io.tmpdir={out}", "-Xmx1g", *ADD_OPENS,
                        "-cp", f"{classes}:{cp}",
                        "perfbench.Main", "--oracle-sql", str(sql_file)],
                       capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("oracle SQL dump failed:\n" + (r.stdout + r.stderr)[-4000:])
    rows = out / "rows"
    rows.mkdir()
    gen.write(rows, seed=None)
    con = duckdb.connect()
    con.execute(f"SET threads TO {ORACLE_THREADS}")
    con.execute(f"SET temp_directory = '{out}/duckdb_tmp'")
    for t in gen.NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{rows}/{t}.parquet')")
    (out / "oracle").mkdir()
    for step, sql in json.loads(sql_file.read_text()).items():
        res = con.execute(sql)
        answer = ([d[0] for d in res.description], res.fetchall())
        (out / "oracle" / f"{step}.pkl").write_bytes(pickle.dumps(answer))
    con.close()
    shutil.rmtree(rows)
    (out / "ok").touch()
    return out


# Two engines that sum doubles in different orders agree only to the
# summation's rounding error, which grows with the magnitude: q112's
# round(sum(amountUSD), 4) over ~36k prices is about 9.1e9, where a double's
# spacing is 1.9e-6 and the sum's error near 1e-4, so its fourth decimal
# is not reproducible. Floats therefore match within a relative 1e-12 (or an
# absolute 1e-9 near zero, the engine's 9-place convention): a missing or
# changed input row moves such a sum by 1e-7 of itself or more.
REL_TOL, ABS_TOL = 1e-12, 1e-9


def canon(v):
    """Type-aware canonical value: ints and floats stay distinct, floats keep
    all their digits (see `same`)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), canon(x)) for k, x in v.items())))
    return ("s", str(v))


def sort_key(c):
    """Order of canonical values that float noise does not change: floats
    compare at six significant digits, then in full."""
    if isinstance(c, tuple) and c and c[0] == "f" and c[1] != "NaN":
        return ("f", f"{c[1]:.6g}")
    if isinstance(c, tuple):
        return tuple(sort_key(x) for x in c)
    return c


def same(a, b):
    """Canonical values equal, floats within REL_TOL / ABS_TOL."""
    if isinstance(a, tuple) and isinstance(b, tuple) and a[:1] == b[:1] == ("f",):
        if "NaN" in (a[1], b[1]):
            return a[1] == b[1]
        return math.isclose(a[1], b[1], rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when both are the same multiset of rows over the same columns
    (matched by name, case-insensitive); else a one-line reason."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return f"columns {sorted(got_cols)} vs oracle {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows vs oracle {len(want_rows)}"

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        canons = [tuple(canon(r[i]) for i in order) for r in rows]
        return sorted(canons, key=lambda c: (repr(sort_key(c)), repr(c)))
    g, w = norm(got_cols, got_rows), norm(want_cols, want_rows)
    bad = [(a, b) for a, b in zip(g, w) if not same(a, b)]
    if bad:
        return f"{len(bad)}/{len(g)} rows differ, e.g. {bad[0][0]} vs oracle {bad[0][1]}"
    return None


def oracle_check(build_dir, out, steps):
    """Per step: None if the warm pass's output equals the oracle answer, else why."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {ORACLE_THREADS}")
    res = {}
    for step in steps:
        files = sorted(str(p) for p in (out / step).glob("*.parquet"))
        answer = build_dir / "oracle" / f"{step}.pkl"
        if not answer.exists():
            res[step] = "no oracle answer"
        elif not files:
            res[step] = "no output"
        else:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})")
            gcols = [d[0] for d in got.description]
            res[step] = compare(gcols, got.fetchall(), *pickle.loads(answer.read_bytes()))
    return res


def account(r, checks):
    """Fold the oracle verdicts into the JVM's result `r`; returns the number
    of failed steps. A step whose warm output missed the oracle failed in
    every timed pass, and no pass time that includes it is reported (the JVM
    already left every pass with a failed step untimed)."""
    for s, why in checks.items():
        if why:
            r["failures"] += [{"pass": p, "step": s, "why": f"oracle: {why}"}
                              for p in range(r["passes"])]
    if any(checks.values()):
        r["end_to_end"]["pass_s"] = None
        r["per_layer"]["trace.overhead"] = None
        r.update(cpu_s=None, pass_s_all=[], cpu_s_all=[], step_s={})
    return len({(f["pass"], f["step"]) for f in r["failures"]})


def show(v):
    """A metric for the summary; None where no clean pass measured it."""
    return "n/a (no pass without a failed step)" if v is None else f"{v:.6g}"


def percentile_note(n):
    """The highest percentile with at least ten samples beyond it."""
    return f"p{math.floor(100 * (1 - 10 / n))}" if n >= 11 else "none (fewer than 11 samples)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    build_dir = build()
    # set-up is timed from process start, or from the end of the build when
    # this run had to build
    start_ms = max(START_MS, int((build_dir / "ok").stat().st_mtime * 1000))
    run = HERE / ".runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    data, out = run / "data", run / "out"
    for d in (data, out, run / "tmp", run / "local", run / "warehouse"):
        d.mkdir(parents=True)
    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    try:
        gen.write(data, a.seed)
        cmd = ["java", *JVM_OPTS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run / 'tmp'}", *ADD_OPENS,
               "-cp", f"{build_dir / 'classes'}:{spark_jars()}/*", "perfbench.Main",
               a.workload, str(data), str(run), str(out), str(a.seconds), str(a.trace),
               str(start_ms)]
        with open(run / "jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            rc = proc.wait()
        if rc != 0 or not (out / "result.json").exists():
            fail(f"benchmark JVM exited with {rc}:\n" + (run / "jvm.log").read_text()[-4000:])
        for line in (run / "jvm.log").read_text().splitlines():
            if line.startswith("[perfbench]"):
                print(line)
        r = json.loads((out / "result.json").read_text())
        checks = oracle_check(build_dir, out, r["steps"])
        if a.trace:
            (HERE / ".out").mkdir(exist_ok=True)
            dest = HERE / ".out" / f"spans_{a.workload}_seed{a.seed}.json"
            shutil.copy(out / "spans.json", dest)
            print(f"[perfbench] span tree: {dest.relative_to(ROOT)}")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run, ignore_errors=True)

    for s, why in sorted(checks.items()):
        print(f"[perfbench] oracle {s}: {'OK' if not why else 'FAIL ' + why}")
    failed = account(r, checks)
    attempted = r["attempted"]
    for f in r["failures"]:
        print(f"[perfbench] FAIL pass {f['pass']} {f['step']}: {f['why']}")
    print(f"[perfbench] workload={a.workload} seed={a.seed} passes={r['passes']} "
          f"steps_attempted={attempted} steps_failed={failed} "
          f"error_rate={failed / attempted:.4f} ratio")
    print(f"[perfbench] timings are medians over {r['passes']} passes; highest "
          f"supported percentile: {percentile_note(r['passes'])}")
    print(f"[perfbench] every untraced pass: pass_s {[round(x, 3) for x in r['pass_s_all']]}"
          f" cpu_s {[round(x, 2) for x in r['cpu_s_all']]}")
    for k, v in sorted(r["step_s"].items()):
        print(f"[perfbench] step {k}: median {v:.3f} s")
    if r["fold_batch_s"] is not None:  # workloads with micro-batches
        print(f"[perfbench] fold_batch_s = {r['fold_batch_s']:.4f} s "
              f"(median micro-batch triggerExecution)")
    # a summary line, not a JSON metric: cva_refresh retains nothing per pass
    print(f"[perfbench] disk_mb = {r['disk_mb']:.6g} MB (bytes a timed pass leaves "
          f"under the temp root)")
    # a summary line, not a JSON metric: process CPU spreads wider from run
    # to run than the largest bound a gated metric may have
    print(f"[perfbench] cpu_s = {show(r['cpu_s'])} s (process CPU per pass outside "
          f"the JIT compiler threads)")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k in sorted(r["end_to_end"]):
        print(f"[perfbench] {k} = {show(r['end_to_end'][k])} {units.get(k, '')}")
    section = "per_layer" if a.trace else "end_to_end"
    missing = [m["name"] for m in spec[section] if m["name"] not in r[section]]
    if missing:
        fail(f"metrics named in BENCHMARK.json but not measured: {missing}")
    metrics = {m["name"]: {"value": r[section][m["name"]], "unit": m["unit"]}
               for m in spec[section]}
    if a.trace:
        for k in sorted(metrics):
            print(f"[perfbench] {k} = {show(metrics[k]['value'])} {metrics[k]['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
