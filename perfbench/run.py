"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload weekly_export --seed 1 --seconds 20 --trace 0

The run starts one Spark session on ``local[<cores>]``, prepares the
workload's inputs from the seed and warms up (all of that is
``setup_s``), then runs the workload's fixed number of timed passes as a
closed loop with one caller, and finally computes the ground truth and
checks the outputs against it. The number of passes does not depend on
how fast they are, so runs of faster code time the same work;
``--seconds`` is accepted for the common benchmark interface and does
not change it. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics listed in BENCHMARK.json.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics: statistics of the spans around each call into a
layer, the medians over traced passes. The spans are written to
``.perfbench_work/traces/<workload>-seed<seed>.json`` for
``perfbench/report.py``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout. Exit status: 0 when every output is correct, 1 on a mismatch,
2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HEAP_MB = 2048  # the driver JVM's Java heap, fixed in size


def _median(values):
    return statistics.median(values) if values else 0.0


def start_session(cores: int, work: str, trace: bool):
    from recover_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The Java heap is fixed in size and touched at start: its resident
        # memory is then a constant set by this configuration, which
        # peak_rss_mb leaves out, and the memory outside it does not depend
        # on when the collector chose to grow the heap.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Xms{HEAP_MB}m -XX:+AlwaysPreTouch"
            " -XX:-UsePerfData"  # no hsperfdata file outside the checkout
        ),
    }
    if trace:
        # keep every job and stage in the status store until the run ends
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, procs) -> None:
    """Stop the session, the JVM and every process they started, and wait
    for each to end."""
    from pyspark import SparkContext

    started = [p for p in procs.pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on end of input
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def layer_metrics(tracer, traced_ids, names, cores, records) -> dict:
    """Each per-layer metric ``<span>.<stat>``: the per-pass sum over the
    spans of that name, median over traced passes; 0 for a layer the
    workload does not call."""
    by_run: dict[str, list] = {}
    for sp in tracer.spans:
        by_run.setdefault(sp.run_id, []).append(sp)
    phase_of = {"build_s": ("build",), "exec_s": ("exec", "probe"),
                "construct_s": ("construct",)}
    out = {}
    for name in names:
        if name.startswith("trace."):
            continue
        layer, stat = name.rsplit(".", 1)
        per_pass = []
        for rid in traced_ids:
            spans = [s for s in by_run.get(rid, ()) if s.name == layer]
            if stat in phase_of:
                per_pass.append(sum(s.wall_s for s in spans
                                    if s.attrs.get("phase") in phase_of[stat]))
            elif stat == "core_util":
                wall = sum(s.wall_s for s in spans)
                run = sum(s.stats["exec_run_s"] for s in spans)
                per_pass.append(run / (wall * cores) if wall else 0.0)
            else:
                per_pass.append(sum(s.stats.get(stat, 0) for s in spans))
        out[name] = _median(per_pass)
    # the first pass is still warming up, so the untraced passes compared
    # are the ones after the first traced pass
    first = next(n for n, (_r, t, _i) in enumerate(records) if t)
    traced = [r.wall_s for r, t, _ in records if t]
    untraced = [r.wall_s for r, t, _ in records[first:] if not t]
    out["trace.overhead_s"] = _median(traced) - _median(untraced)
    coverage = []
    for rid in traced_ids:
        root = by_run[rid][0]
        at = tracer.spans.index(root)
        covered = sum(s.wall_s for s in by_run[rid] if s.parent == at)
        coverage.append(covered / root.wall_s)
    out["trace.coverage"] = _median(coverage)
    return out


def end_to_end(records, setup_s: float, peak_rss_mb: float) -> dict:
    recs = [r for r, traced, _ in records if not traced]
    return {
        "setup_s": setup_s,
        "run_s": _median([r.wall_s for r in recs]),
        "cpu_s": _median([r.cpu_s for r in recs]),
        "peak_rss_mb": peak_rss_mb,
        "maintain_s": _median([r.maintain_s for r in recs]),
        "probe_s": _median([r.probe_s for r in recs]),
        # volume ratios of the first pass
        "write_amp": recs[0].written_bytes / recs[0].input_bytes,
        "space_amp": recs[0].space_amp,
    }


def run(workload: str, seed: int, trace: bool) -> int:
    from perfbench.tracing import ProcTree, Py4jCounter, SparkMeters, Tracer
    from perfbench.workloads import WORKLOADS, PassRecord

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{workload}-s{seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{HEAP_MB}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    os.chdir(work)  # builders write relative paths (spark-warehouse/...)

    procs = ProcTree()
    t0 = time.time()
    spark = start_session(cores, work, trace)
    print(f"perfbench: session started in {time.time() - t0:.1f} s", file=sys.stderr)
    try:
        meters = SparkMeters(spark)
        tracer = Tracer()
        wl = WORKLOADS[workload](spark, seed, work, tracer)
        wl.setup()
        setup_s = time.time() - t0
        print(f"perfbench: setup done in {setup_s:.1f} s", file=sys.stderr)
        procs.reset_peak_rss()  # peak memory of the timed passes only

        records, start = [], time.time()
        # traced runs alternate untraced and traced passes, at least three:
        # the untraced one after the traced one gives the tracing overhead
        for i in range(max(wl.PASSES, 3) if trace else wl.PASSES):
            traced = trace and i % 2 == 1
            wl.before_pass(i)
            rec = PassRecord()
            tracer.counter = Py4jCounter(spark) if traced else None
            c0, b0, w0 = procs.cpu_s(), meters.bytes_written(), time.time()
            with tracer.span("pass", f"p{i}"):
                wl.run_pass(i, rec)
            rec.wall_s = time.time() - w0
            rec.cpu_s = procs.cpu_s() - c0
            rec.written_bytes = meters.bytes_written() - b0
            if tracer.counter is not None:
                tracer.counter.close()
                tracer.counter = None
            print(f"perfbench: pass {i}{' traced' if traced else ''}: "
                  f"{rec.wall_s:.3f} s wall, {rec.cpu_s:.2f} s cpu", file=sys.stderr)
            records.append((rec, traced, f"p{i}"))

        print(f"perfbench: {len(records)} passes in {time.time() - start:.1f} s",
              file=sys.stderr)
        # before the check's own memory; without the fixed Java heap
        peak_rss_mb = procs.peak_rss_mb() - HEAP_MB
        bad = wl.check()
        for name in bad:
            print(f"MISMATCH {workload} output {name}", file=sys.stderr)
        attempted = sum(r.attempted for r, _t, _i in records)
        failed = min(attempted, sum(len(r.failed) for r, _t, _i in records) + len(bad))
        if trace:
            traced_ids = [rid for _r, t, rid in records if t]
            tracer.attach(meters.jobs(), meters.stages(), cores)
            tracer.dump(
                os.path.join(WORK_ROOT, "traces", f"{workload}-seed{seed}.json"),
                {"workload": workload, "seed": seed, "cores": cores,
                 "traced_runs": traced_ids},
            )
            values = layer_metrics(tracer, traced_ids, [m["name"] for m in wanted],
                                   cores, records)
        else:
            values = end_to_end(records, setup_s, peak_rss_mb)
    finally:
        stop_session(spark, procs)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{workload:15s} {name:60s} {m['value']:>16.6g} {m['unit']}")
    print(f"{workload:15s} {'failed_frac':60s} {failed / attempted:>16.6g} ratio"
          f"  ({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("weekly_export", "analytics_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the repository root instead of this script's directory, whose
    # module names are not meant to shadow anything
    sys.path[0] = ROOT
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    try:
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        import check_correctness  # noqa: F401
        import recover_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # check_correctness puts a fixed checkout path first; this checkout's
    # packages (perfbench among them) must win
    sys.path.insert(0, ROOT)
    return run(args.workload, args.seed, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
