"""CDC replication benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's change files
from the seed, applies them with the package's CDC path on
``local[<cores>]``, checks the replica against a DuckDB oracle and prints
a report; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(master: str, tmp: str):
    """A session with the package's own settings (``get_spark``), with its
    scratch files kept under ``tmp``."""
    from realtime_change_data_capture_streaming_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # no perf-data file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "realtime_change_data_capture_streaming_spark")):
        print("perfbench: run from the root of a checkout holding the package", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    # everything the run writes stays under the checkout
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(TZ="UTC", TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp

    session = {}
    try:
        lines, result = _run(session, args, work, tmp)
    finally:
        if "spark" in session:
            _stop_spark(session["spark"])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


def _run(session: dict, args, work: str, tmp: str):
    """Start the session (kept in ``session`` so the caller can stop it),
    run the workload and build the report."""
    import workloads as W
    from measure import peak_rss_mb

    t = time.perf_counter()
    spark = session["spark"] = _start_spark(f"local[{_cores()}]", tmp)
    session_s = time.perf_counter() - t
    if args.trace:
        import layers

        tracer_factory = lambda: layers.install(spark)  # noqa: E731
    else:
        tracer_factory = lambda: None  # noqa: E731
    run = W.WORKLOADS[args.workload]
    out = run(spark, args.seed, args.seconds, os.path.join(work, "run"), tracer_factory)
    rss = peak_rss_mb(spark)
    out.phases = {"session": session_s, **out.phases}
    e2e = W.summarize(out, session_s)
    lines = [f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}  "
             f"cores {_cores()}  events {out.events} x {len(out.passes)} pass(es)"]
    lines += _human_e2e(out, e2e)
    lines.append(f"  peak RSS of driver JVM + Python: {rss:.1f} MB")
    if args.trace:
        import layers

        per_layer = layers.per_layer(spark, out)
        per_layer["mem.peak_rss_mb"] = (rss, "MB", 1)
        spans_path = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl")
        out.extra["tracer"].dump(spans_path)
        lines.append(f"  spans written to {os.path.relpath(spans_path)}")
        per_layer.update(_single_core(session, args.workload, out, tmp))
        lines += layers.report_lines(per_layer)
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for note in out.notes[:20]:
        lines.append(f"FAILED: {note}")
    bad_value = any(not math.isfinite(m["value"]) for m in metrics.values())
    result = {
        "correct": out.failed == 0 and not bad_value,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    return lines, result


def _human_e2e(out, e2e) -> list[str]:
    from measure import percentile, progress_ms

    n_lag = sum(c for _, lags in out.passes for _, c in lags)
    n_gets = sum(map(len, out.busy_get_ms.values())) or sum(map(len, out.get_ms.values()))
    counts = {"lag_p50_s": n_lag, "lag_p99_s": n_lag, "lookup_p50_ms": len(out.get_ms[1]),
              "lookup_p99_ms": n_gets, "view_read_p50_ms": len(out.view_read_ms)}
    lines = []
    for name, (v, unit) in e2e.items():
        n = counts.get(name)
        lines.append(f"  {name:<22} {v:12.4f} {unit}" + (f"  (n={n})" if n is not None else ""))
    for when, samples in (("idle", out.get_ms), ("during ingest", out.busy_get_ms)):
        for size in (1, 32):
            s = samples[size]
            if s:
                lines.append(f"  {size}-key GET {when}: p50 {percentile(s, 50):.1f} ms, "
                             f"p99 {percentile(s, 99):.1f} ms  (n={len(s)})")
    if out.busy_view_read_ms:
        s = out.busy_view_read_ms
        lines.append(f"  view.read() during ingest: p50 {percentile(s, 50):.1f} ms  (n={len(s)})")
    if "offered_eps" in out.extra:
        lines.append(f"  offered {out.extra['offered_eps']:.1f} events/s, "
                     f"backlog max {out.extra['backlog_max']} events")
    if out.extra.get("progress"):
        lines.append("  micro-batch seconds: " + ", ".join(
            f"{progress_ms(p, 'triggerExecution') / 1000:.2f}" for p in out.extra["progress"]))
    if len(out.passes) > 1:
        lines.append("  pass seconds: " + ", ".join(f"{wall:.2f}" for wall, _ in out.passes))
    lines.append("  phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in out.phases.items()))
    rate = out.failed / out.attempted if out.attempted else 1.0
    lines.append(f"  error_rate             {rate:12.4f} ratio  ({out.failed}/{out.attempted})")
    return lines


def _single_core(session: dict, workload: str, out, tmp: str) -> dict:
    """``apply_eps_1core``: the backfill's merges and final compaction
    again, on a fresh ``local[1]`` session over the same input files
    (context for the parallel numbers; 0 on serve_during_ingest)."""
    if workload != "uniform_backfill":
        return {"apply_eps_1core": (0.0, "events/s", 0)}
    import workloads as W

    _stop_spark(session.pop("spark"))
    spark = session["spark"] = _start_spark("local[1]", tmp)
    x = out.extra
    _, _, wall, _ = W.apply_backfill(spark, os.path.join(tmp, "sink-1core"), x["input_files"], x["sizes"],
                                     x["max_lsn"])
    return {"apply_eps_1core": (out.events / wall, "events/s", 1)}


if __name__ == "__main__":
    sys.exit(main())
