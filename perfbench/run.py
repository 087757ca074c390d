"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload crawl_wide|crawl_deep|queries|all \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed,
drives the program through its public API in a closed loop for S
seconds, checks every output against its oracle, and prints a report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Every file it makes lives under
.bench_build in the checkout; a run's scratch directory is deleted when
the run ends, and a record of the run (metrics, host health before and
after) is kept under .bench_build/results. Exit status: 0 when every
output matched its oracle, 1 on a mismatch or failed call, 2 when the
build or the run could not complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
from bench import health, metrics, tables  # noqa: E402

WORKLOADS = ["crawl_wide", "crawl_deep", "queries"]
ROOT = Path.cwd()
SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
HEAP = "2g"
CPUS = min(4, os.cpu_count() or 1)
# C1 only: a fresh JVM's C2 needs more work than a run can afford before
# its timings settle, while C1 settles within the warm-up (README, "Warm-up
# and JIT"). C1 alone needs a larger code cache than its 48 MB default.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]
# A run's wall-time limit: set-up plus one measured pass fit in RUN_LIMIT_S
# (so an untraced run of a gated workload ends inside three minutes); the
# --seconds a run keeps measuring and each further pass it must make (a
# traced run makes three) add to it.
RUN_LIMIT_S = 160
PASS_LIMIT_S = {"crawl_wide": 45, "crawl_deep": 90, "queries": 45}
MIN_PASSES = {False: 1, True: 3}
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect",
               "java.io", "java.net", "java.nio", "java.util",
               "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action",
               "sun.util.calendar"]


class RunError(RuntimeError):
    pass


def jvm(classes, work, args, deadline):
    """Runs the harness at a fixed heap; returns its peak RSS in MB."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JIT + [
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Harness"]
    cmd += [str(a) for a in args]
    # the program's tuning knobs and Spark's scratch-dir override come from
    # the environment; the benchmark measures the defaults
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["TMPDIR"] = str(work / "tmp")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.monotonic() > deadline:
            proc.kill()
            os.wait4(proc.pid, 0)
            raise RunError("harness ran past the run's time limit")
        time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        raise RunError(f"harness exited with {proc.returncode}")
    return usage.ru_maxrss / 1024


def run_one(workload, seed, seconds, trace, classes, spec):
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S + seconds + \
        (MIN_PASSES[trace] - 1) * PASS_LIMIT_S[workload]
    work = ROOT / build.BUILD_DIR / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "health_before": health.probe()}
    try:
        args = ["--workload", workload, "--seed", seed, "--seconds", seconds,
                "--trace", int(trace), "--cpus", CPUS, "--work", work,
                "--out", work / "dump.json"]
        gen_s = 0.0
        if workload == "queries":
            t0 = time.perf_counter()
            names = tables.write(seed, work / "tables")
            gen_s = time.perf_counter() - t0
            args += ["--tables", work / "tables"]
        rss_mb = jvm(classes, work, args, deadline)
        dump = json.loads((work / "dump.json").read_text())
        checks = dump["checks"]
        failed = dump["failed"]
        if workload == "queries":
            from bench import oracle  # duckdb is needed only here
            for name, why in oracle.compare(work / "tables", names,
                                            work / "query_out").items():
                checks.append({"name": f"oracle.{name}", "ok": why is None,
                               "detail": why or ""})
                # a query without output already failed its materialization
                failed += why is not None and why != oracle.NO_OUTPUT
        d = metrics.Dump(dump)
        e2e, report = metrics.end_to_end(d, gen_s)
        e2e["peak_rss_mb"] = rss_mb
        report.append(("peak_rss_mb", rss_mb, "MB", 1))
        report.append(("ops.failed_frac", failed / dump["attempted"], "ratio",
                       dump["attempted"]))
        if trace:
            record["self_time_s"] = metrics.self_time_by_name(d)
            layer = metrics.per_layer(d)
            layer.update({n: v for n, v, _u, _k in report
                          if v is not None and n in spec["per_layer"]})
            chosen, section = layer, "per_layer"
        else:
            chosen, section = e2e, "end_to_end"
        # every metric of the section, by name; a layer this workload does
        # not exercise reads 0 (as a cache-hit count reads 0 on a workload
        # that bypasses the cache)
        out = {n: {"value": chosen.get(n, 0.0), "unit": u}
               for n, u in spec[section].items()}
        bad = [c for c in checks if not c["ok"]]
        record.update(
            correct=not bad and failed == 0, attempted=dump["attempted"],
            failed=failed, mismatches=bad, metrics=out, report=report,
            wall_s=time.monotonic() - t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["health_after"] = health.probe()
    results = ROOT / build.BUILD_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{int(time.time())}-{workload}-{seed}-t{int(trace)}.json") \
        .write_text(json.dumps(record, indent=1))
    return record


def print_report(r):
    print(f"== {r['workload']} seed {r['seed']}: {r['attempted']} calls, "
          f"{r['failed']} failed, {len(r['mismatches'])} output mismatches, "
          f"{r['wall_s']:.1f} s")
    for name, value, unit, n in r["report"]:
        shown = "n/a (fewer than 10 samples beyond it)" if value is None \
            else f"{value:.6g} {unit}"
        print(f"   {name:32s} {shown}   [n={n}]")
    for m in r["mismatches"]:
        print(f"   MISMATCH {m['name']}: {m['detail']}")
    for k in ("health_before", "health_after"):
        h = r[k]
        print(f"   {k:14s} burn {h['burn_loops_per_s']:.2f} loops/s, "
              f"fresh pages {h['fresh_pages_mb_per_s']:.0f} MB/s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        spec_json = json.loads(SPEC.read_text())
        spec = {s: {m["name"]: m["unit"] for m in spec_json[s]}
                for s in ("end_to_end", "per_layer")}
        classes = build.ensure_built(ROOT)
        todo = WORKLOADS if a.workload == "all" else [a.workload]
        records = [run_one(w, a.seed, a.seconds, bool(a.trace), classes, spec)
                   for w in todo]
    except (build.BuildError, RunError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    for r in records:
        print_report(r)
    if len(records) == 1:
        metrics_out = records[0]["metrics"]
    else:
        metrics_out = {f"{r['workload']}/{n}": v for r in records
                       for n, v in r["metrics"].items()}
    correct = all(r["correct"] for r in records)
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in records),
                      "failed": sum(r["failed"] for r in records),
                      "metrics": metrics_out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
