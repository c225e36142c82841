"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run, in one fresh process:

1. generates the workload's inputs from ``--seed`` (``gen.py``; timed
   as ``gen_s`` and excluded from set-up),
2. sets up: process start to a SparkSession that has run a fixed
   warm-up (``setup_s``),
3. runs one untimed verification pass that checks every output
   against its oracle, then ``WARM_PASSES`` untimed passes,
4. repeats timed passes until ``--seconds`` have passed, and at least
   ``MIN_PASSES`` times, and reports the fastest of them: its time and
   the quantiles of its per-op or per-batch latencies.

With ``--trace 1`` the timed passes come in pairs of one untraced and
one traced pass, in alternating order; the traced ones record spans
and Spark counters. The per-layer metrics are medians over the traced
passes, and ``trace.overhead_s`` is the median of the pairwise
differences, traced minus untraced. Each run writes its spans, per-op
and per-batch latencies and failures to ``.perfbench/trace-*.json``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; ``failed / attempted`` is
the error rate (an oracle mismatch counts as a failure). A summary
with sample counts goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A fresh driver JVM keeps getting faster for ~15 executions of the
# same plans while the JIT compiles Spark's planning and scheduling
# paths. The verification pass and WARM_PASSES untimed passes skip the
# steepest part of that curve.
WARM_PASSES = 1
MIN_PASSES = 2
# On a shared VM, load from other guests slows a pass far more than its
# share of CPU, because a pass is mostly a chain of thread hand-offs
# (py4j calls, job scheduling): on 4 shared vCPUs, 10-15% hypervisor
# steal made drains 40-80% slower, and such load comes in spells of
# tens of seconds. So the end-to-end metrics come from the fastest
# timed pass, the one the host disturbed least. The steal each pass saw
# is kept in the sidecar.

# spans whose job group runs a pass's actions (build spans run the
# builder's eager jobs and are counted under plans.*)
EXEC_SPANS = ("execute", "runner.negotiate", "io.write", "io.dest_max")
EXEC_COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                 "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def declared_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pids) -> float:
    """Summed VmHWM (peak resident set) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def quantile(xs: list[float], q: float) -> float:
    """Linearly interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def start_session(work: str):
    from dataengineering_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run readable by the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    worker daemons it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def warm_up(spark) -> None:
    """Fixed warm-up work, the same for every workload: one first job
    (scheduler start, whole-stage codegen)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def layer_metrics(tracer, passes: list[int], cores_n: int) -> dict[str, float]:
    """Per-layer metrics: sums over the spans of each traced pass, then
    the median over traced passes."""
    per_pass = []
    for p in passes:
        spans = [s for s in tracer.spans if s.attrs.get("pass") == p]

        def total(names, key=None):
            return sum(s.attrs.get(key, 0) if key else s.dur for s in spans if s.name in names)

        m = {
            "plans.build_s": total(("build",)),
            "plans.build_jobs": total(("build",), "jobs"),
            "catalyst.plan_s": total(("plan",)),
            "exec.s": total(EXEC_SPANS),
            **{f"exec.{k}": total(EXEC_SPANS, k) for k in EXEC_COUNTERS},
            "caching.persisted_after": total(("op", "batch"), "persisted_after"),
            "caching.tracked_live": total(("op", "batch"), "tracked_live"),
            "runner.negotiate_s": total(("runner.negotiate",)),
            "runner.transform_sink_s": total(("runner.transform_sink",)),
            "runner.commit_s": total(("runner.commit",)),
            "state.commit_s": total(("state.commit",)),
            "io.write_s": total(("io.write",)),
            "io.dest_max_s": total(("io.dest_max",)),
        }
        m["exec.noncpu_s"] = m["exec.task_s"] - m["exec.cpu_s"]
        m["exec.core_util"] = m["exec.task_s"] / (m["exec.s"] * cores_n) if m["exec.s"] else 0.0
        pass_span = next(s for s in spans if s.name == "pass")
        for k in ("state.versions", "io.files_written", "io.bytes_written_per_input_byte"):
            m[k] = pass_span.attrs.get(k, 0)
        m["trace.wall_s"] = pass_span.dur
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    errs = [
        abs(s.dur - sum(c.dur for c in tracer.children(s))) / s.dur
        for s in tracer.spans
        if s.name in ("op", "batch")
    ]
    out["trace.reconcile_err"] = max(errs, default=0.0)
    return out


def measure(args, wl, spark, corpus: str, work: str) -> dict:
    """Verification pass, then timed passes. Returns raw samples."""
    import workloads as W
    from spans import Tracer

    tracer = Tracer(False, spark.sparkContext)
    r = {"tracer": tracer, "failures": [], "attempted": 0}
    failures = r["failures"]
    t = time.perf_counter()
    if wl.kind == "batch":
        W.verify_batch(spark, corpus, wl.ops, failures)
        r["attempted"] += len(wl.ops)
    else:
        source_path = os.path.join(work, "source")
        W.write_sync_source(spark, corpus, source_path)
        drainer = W.SyncDrain(spark, work, source_path, tracer)
        con = drainer.oracle()
        r["input_rows"] = con.sql("SELECT COUNT(*) FROM source").fetchone()[0]
        r["source_bytes"] = drainer.source_bytes()
        d = drainer.drain()
        r["attempted"] += len(d["ranges"])
        failures += [{"op": "verify_drain", "error": p} for p in drainer.check(d, con)]
        drainer.discard(d)
    r["verify_s"] = time.perf_counter() - t

    def one_pass(n: int):
        if wl.kind == "batch":
            W.reset_caches(spark)
            with tracer.span("pass") as ps:
                t = time.perf_counter()
                lat = W.batch_pass(spark, corpus, wl.ops, tracer, failures)
                wall = time.perf_counter() - t
            r["attempted"] += len(wl.ops)
            return wall, lat
        with tracer.span("pass") as ps:
            d = drainer.drain()
        r["attempted"] += len(d["ranges"])
        failures.extend({"op": f"drain_{n}", "error": p} for p in drainer.check(d, con))
        if ps is not None:
            files, nbytes = drainer.dest_shape(d)
            ps.attrs.update({
                "state.versions": len(d["history"]),
                "io.files_written": files,
                "io.bytes_written_per_input_byte": nbytes / r["source_bytes"],
            })
        drainer.discard(d)
        return d["wall"], d["batches"]

    def timed_pass(n: int, traced: bool) -> dict:
        tracer.enabled = traced
        before = cpu_ticks()
        wall, lat = one_pass(n)
        after = cpu_ticks()
        if traced:
            for s in tracer.spans:
                s.attrs.setdefault("pass", n)
            tracer.collect_counters()
        steal = (after[0] - before[0]) / max(1, after[1] - before[1])
        return {"pass": n, "traced": traced, "wall": wall, "steal": steal, "latencies": lat}

    for n in range(-WARM_PASSES, 0):
        one_pass(n)
    # A unit is one untraced pass or, in a traced run, an (untraced,
    # traced) pair. Pairs alternate their order, so a drift over the run
    # (the JIT still warming, the host's load) favours neither side.
    units: list[list[dict]] = []
    n = 0
    t_end = time.perf_counter() + args.seconds
    while len(units) < MIN_PASSES or time.perf_counter() < t_end:
        order = (False, True)[: 1 + args.trace]
        if len(units) % 2:
            order = order[::-1]
        unit = [timed_pass(n + i, traced) for i, traced in enumerate(order)]
        n += len(unit)
        units.append(sorted(unit, key=lambda p: p["traced"]))
    r["best"] = min((u[0] for u in units), key=lambda p: p["wall"])
    if args.trace:
        r["traced_passes"] = [u[1]["pass"] for u in units]
        r["overheads"] = [u[1]["wall"] - u[0]["wall"] for u in units]
    r["passes"] = [p for u in units for p in u]
    if wl.kind == "sync":
        con.close()
    tracer.enabled = bool(args.trace)
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    r["peak_rss_mb"] = peak_rss_mb((os.getpid(), jvm_pid))
    return r


def run(args, wl, work: str) -> dict:
    from gen import generate

    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    t = time.perf_counter()
    shape = generate(ROOT, work, args.seed, wl.sizes)
    gen_s = time.perf_counter() - t
    corpus = os.path.join(work, "corpus")

    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        warm_up(spark)
        warmup_s = time.perf_counter() - t
        setup_s = process_age() - gen_s
        r = measure(args, wl, spark, corpus, work)
    finally:
        stop_session(spark)

    best = r["best"]
    wall = best["wall"]
    samples = [x for _, x in best["latencies"]]
    if wl.kind == "batch":
        # every op reads the whole input table once
        input_rows = shape[wl.input_table]["rows"] * len(wl.ops)
    else:
        input_rows = r["input_rows"]  # the source rows, all landed by a drain
    metrics = {
        "wall_s": wall,
        "batch_p50_s": quantile(samples, 0.5),
        "batch_p90_s": quantile(samples, 0.9),
        "rows_per_s": input_rows / wall,
        "setup_s": setup_s,
    }
    failures, tracer = r["failures"], r["tracer"]
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores(),
        "inputs": shape,
        "gen_s": gen_s,
        "verify_s": r["verify_s"],
        "input_rows": input_rows,
        "passes": r["passes"],
        "best_pass": best["pass"],
        "failures": failures,
        "end_to_end": metrics,
    }
    end_to_end = declared_metrics("end_to_end")
    out = {k: {"value": metrics[k], "unit": u} for k, u in end_to_end}
    if args.trace:
        layers = layer_metrics(tracer, r["traced_passes"], cores())
        layers["session.start_s"] = session_s
        layers["session.warmup_s"] = warmup_s
        layers["mem.peak_rss_mb"] = r["peak_rss_mb"]
        layers["trace.overhead_s"] = statistics.median(r["overheads"])
        out = {k: {"value": layers[k], "unit": u} for k, u in declared_metrics("per_layer")}
        report["per_layer"] = layers
        # persists still alive after an op (cleared between passes)
        report["live_persists"] = [
            {"op": s.attrs["op"], "pass": s.attrs["pass"], "persisted_after": s.attrs["persisted_after"]}
            for s in tracer.spans
            if s.name == "op" and s.attrs.get("persisted_after")
        ]
    tracer.dump(
        os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-seed{args.seed}-t{args.trace}.json"),
        report,
    )

    fastest = f"fastest of {sum(not p['traced'] for p in r['passes'])} passes"
    counts = {"wall_s": fastest, "rows_per_s": fastest, "setup_s": "1"}
    for k, u in end_to_end:
        n = counts.get(k, f"{len(samples)} latencies of the fastest pass")
        print(f"# {wl.name} {k} = {metrics[k]:.6g} {u} (samples: {n})", file=sys.stderr)
    print(f"# {wl.name} error_rate = {len(failures)}/{r['attempted']}; "
          f"gen_s = {gen_s:.2f}; verify_s = {r['verify_s']:.2f}; timed passes = "
          f"{len(r['passes'])}, steal % = {[round(100 * p['steal'], 1) for p in r['passes']]}",
          file=sys.stderr)
    for f in failures:
        print(f"# FAILED {f['op']}: {f['error'][:300]}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": r["attempted"],
        "failed": len(failures),
        "metrics": out,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Benchmark of the dataengineering_spark engine.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for needed in ("dataengineering_spark", os.path.join("scripts", "make_scaled_sf.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
