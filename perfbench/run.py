#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client runs one workload against
the compiled engine, checks every result and prints the metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Workloads: milan_etl, catalog_core, catalog_iterative, streaming_drain (see
perfbench/README.md). The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Exits non-zero, without
a result, when the engine cannot be built or run.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import milan_gen  # noqa: E402

WORKLOADS = ("milan_etl", "catalog_mix", "catalog_core", "catalog_iterative", "streaming_drain")
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".bench_work")
TIME_LIMIT_S = 175
# Drift of the host probe between the start and the end of a run beyond
# which the run is flagged: the smallest end-to-end bound in BENCHMARK.json.
DRIFT_BOUND = 0.10
# Day-files per table, and rows per file at 1/40 of the reference's
# 1,891,928 traffic and 2,307,306 mobility rows per day-file.
MILAN_SHAPE = {"n_files": 3, "traffic_rows": 47298, "mobility_rows": 57683}
SMOKE_SHAPE = {"n_files": 2, "traffic_rows": 2000, "mobility_rows": 2000}

END_TO_END = {
    "wall_s": "s", "op_p50_s": "s", "setup_s": "s", "heap_after_gc_peak_mb": "MB",
}
PER_LAYER = {
    "sources.scan_s": "s", "sources.input_rows": "count",
    "sources.input_bytes": "bytes", "sources.rows_per_s": "1/s",
    "plans.kernel_s": "s", "plans.codegen_compile_s": "s",
    "plans.classes_compiled": "count",
    "operators.task_s": "s", "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.fetch_wait_s": "s",
    "operators.spill_bytes": "bytes", "operators.hot_stage_skew": "ratio",
    "operators.tasks_failed": "count",
    "loops.jobs": "count", "loops.stages": "count", "loops.driver_gap_s": "s",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes", "streaming.rows_per_s": "1/s",
    "pipeline.load_traffic_s": "s", "pipeline.load_mobility_s": "s",
    "pipeline.append_s": "s", "pipeline.ledger_skip_s": "s",
    "pipeline.top_cells_s": "s", "pipeline.audit_s": "s",
    "pipeline.output_bytes": "bytes", "pipeline.output_files": "count",
    "pipeline.files_ingested_per_discovered": "ratio",
    "etl_rows_per_s": "1/s", "stored_bytes_per_input_byte": "ratio",
    "fail_ratio": "ratio",
    "self_s.bench": "s", "self_s.plans": "s", "self_s.loops": "s",
    "self_s.streaming": "s", "self_s.pipeline": "s", "self_s.operators": "s",
    "self_s.engine": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
# Module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_gb():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 << 20)))
    except (OSError, StopIteration, ValueError):
        return 2


def milan_inputs(seed, shape):
    """Generated day-files for `seed`, cached under .bench_work/milan."""
    key = f"seed{seed}-n{shape['n_files']}-t{shape['traffic_rows']}-m{shape['mobility_rows']}"
    out = os.path.join(WORK, "milan", key)
    if not os.path.exists(os.path.join(out, "expected.properties")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        milan_gen.generate(tmp, seed, **shape)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest whole percentile with at least 10 samples above it
    (nearest rank; p50 when there are fewer than 20 samples)."""
    n = len(samples)
    p = max(50, math.floor(100 * (n - 10) / n)) if n else 50
    s = sorted(samples)
    return (s[max(0, math.ceil(p / 100 * n) - 1)] if n else 0.0), p, n


def run_jvm(args, classpath, work, milan_dir, deadline):
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", CATALOG_DATA, "--milan", milan_dir, "--work", work,
              "--out", out, "--cores", str(min(4, os.cpu_count() or 4))]
           + (["--warm-ups", "0", "--min-iters", "1"] if args.smoke else [])
           + (["--corrupt-digest"] if args.corrupt_digest else []))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log_path) as lf:
        jvm_log = lf.read()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(jvm_log[-6000:])
        raise SystemExit(f"perfbench: engine run failed ({rc})")
    sys.stderr.writelines(l for l in jvm_log.splitlines(True) if l.startswith("[perfbench]"))
    with open(out) as f:
        return json.load(f)


def check_failures(res, bad):
    """Failed samples: those whose own check failed, and every sample of an
    operation whose output failed the oracle compare."""
    return sum(1 for name, _, ok in res["samples"] if not ok or name in bad)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny milan_etl inputs, no warm passes (self-tests)")
    ap.add_argument("--corrupt-digest", action="store_true",
                    help="replace every expected digest (self-test: must fail)")
    args = ap.parse_args(argv)
    deadline = time.monotonic() + TIME_LIMIT_S

    classpath = build.build()
    milan_dir = milan_inputs(args.seed, SMOKE_SHAPE if args.smoke else MILAN_SHAPE)
    work = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        r = run_jvm(args, classpath, work, milan_dir, deadline - 10)
        t1 = time.monotonic()
        import checks  # duckdb/pandas load only once the engine has run
        if args.workload == "milan_etl":
            verdicts = checks.milan(r["check_dir"], milan_dir)
        else:
            names = sorted({n for n, _, _ in r["untraced"]["samples"]})
            verdicts = checks.catalog(r["check_dir"], CATALOG_DATA, names)
        log(f"engine run {t1 - t0:.1f} s, result checks {time.monotonic() - t1:.1f} s")
        trace_file = r["traced"] and r["traced"]["trace_file"]
        if trace_file:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_file = shutil.copy(trace_file, os.path.join(WORK, "traces"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = {n for n, err in verdicts.items() if err}
    for n, err in sorted(verdicts.items()):
        print(f"check {n}: {err or 'OK'}")
    runs = [r["untraced"]] + ([r["traced"]["results"]] if r["traced"] else [])
    attempted = sum(len(x["samples"]) for x in runs)
    failed = sum(check_failures(x, bad) for x in runs)

    drift = r["probe_end_s"] / r["probe_start_s"] - 1
    print(f"host probe: start {r['probe_start_s']:.4f} s, end {r['probe_end_s']:.4f} s, "
          f"drift {drift:+.1%}" + (" HOST DRIFT: compare runs with care"
                                   if abs(drift) > DRIFT_BOUND else ""))

    u = r["untraced"]
    per_op = {}
    for name, sec, _ in u["samples"]:
        per_op.setdefault(name, []).append(sec)
    log(f"set-up {r['setup_s']:.2f} s; iterations "
        + " ".join(f"{w:.2f}" for w in u["walls"]) + " s")
    log("operation medians: " + ", ".join(
        f"{n} {median(v):.3f}" for n, v in sorted(per_op.items(), key=lambda kv: -median(kv[1]))))
    if not args.trace:
        t, pct, n = tail([s for _, s, _ in u["samples"]])
        print(f"op_tail_s = {t:.6g} s (p{pct} of n={n} operation samples; not gated)")
        values = {
            "wall_s": median(u["walls"]),
            "op_p50_s": median([s for _, s, _ in u["samples"]]),
            "setup_s": r["setup_s"],
            "heap_after_gc_peak_mb": r["heap_mb"],
        }
        units = END_TO_END
    else:
        tr = r["traced"]
        values = {k: 0.0 for k in PER_LAYER}
        values.update(tr["layers"])
        values["fail_ratio"] = failed / attempted
        values["trace.wall_s"] = median(tr["results"]["walls"])
        values["trace.overhead_s"] = values["trace.wall_s"] - median(u["walls"])
        print(f"trace spans: {trace_file}")
        units = PER_LAYER
    for k, unit in units.items():
        print(f"{args.workload} {k} = {values[k]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in units.items()},
    }))


if __name__ == "__main__":
    main()
