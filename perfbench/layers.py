"""Per-layer metrics of a traced run (``--trace 1``).

:func:`install` wraps the package's public CDC calls with spans;
:func:`per_layer` turns the spans, the streaming progress log and a few
after-the-run probes into the metrics listed in BENCHMARK.json."""

from __future__ import annotations

import os
import statistics
import time

from measure import percentile, progress_ms
from spans import Tracer, parquet_rows


def install(spark) -> Tracer:
    """Wrap merge, lookup, the sink's table reads, compaction, commit and
    the view calls."""
    from realtime_change_data_capture_streaming_spark.cdc import apply_changes as ac
    from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
    from realtime_change_data_capture_streaming_spark.cdc import materialized as mv

    tr = Tracer(spark)

    def merge_before(sp, args, kwargs):
        sink = args[0]
        m = sink._manifest()
        sp.attrs["seq0"] = m["seq"] if m else None
        hook = kwargs.get("pre_write")
        if hook is not None:
            def spanned_hook(old, merged, _hook=hook):
                with tr.span("view.hook"):
                    return _hook(old, merged)

            kwargs = {**kwargs, "pre_write": spanned_hook}
        return args, kwargs

    def merge_after(sp, args, kwargs, _out):
        sink = args[0]
        m = sink._manifest()
        if not m or m["seq"] == sp.attrs["seq0"]:
            return  # empty batch: nothing committed
        vdir = os.path.join(sink.path, m["version"])
        written = [b for b, v in m["buckets"].items() if v == m["version"]]
        sp.attrs.update(
            buckets_touched=len(written),
            n_buckets=m["n_buckets"],
            rows_written=parquet_rows(vdir),
            bytes_written=table_commit.dir_bytes(vdir),
        )

    def read_raw_before(sp, args, kwargs):
        # which buckets the caller read: None is the whole table (a merge
        # that skipped bucket discovery), else the pruned bucket count
        buckets = kwargs.get("buckets", args[1] if len(args) > 1 else None)
        sp.attrs["buckets"] = None if buckets is None else len(buckets)
        return args, kwargs

    def compact_after(sp, args, kwargs, _out):
        m = args[0]._manifest()
        sp.attrs["buckets_rewritten"] = sum(1 for v in m["buckets"].values() if v == m["version"])

    def commit_after(sp, args, kwargs, _out):
        m = table_commit.read_manifest(args[0])
        if m and "buckets" in m:
            sp.attrs["versions_live"] = len(set(m["buckets"].values()))

    def view_after(sp, args, kwargs, _out):
        view = args[0]
        bid = kwargs.get("batch_id", args[3] if len(args) > 3 else 0)
        slot = os.path.join(table_commit.resolve(view.path), f"b={bid}")
        sp.attrs["delta_rows"] = parquet_rows(slot) if os.path.isdir(slot) else 0

    tr.wrap(ac.BucketedParquetSink, "merge", "merge", before=merge_before, after=merge_after)
    tr.wrap(ac.BucketedParquetSink, "lookup", "lookup")
    tr.wrap(ac.BucketedParquetSink, "read_raw", "read_raw", before=read_raw_before)
    tr.wrap(ac, "compact_sink", "compact", after=compact_after)
    tr.wrap(table_commit, "commit", "commit", after=commit_after)
    tr.wrap(mv.IncrementalAggView, "process_batch", "view.process_batch", after=view_after)
    tr.wrap(mv.IncrementalAggView, "read", "view.read")
    return tr


def _p50(xs):
    return percentile(xs, 50) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _children(tr: Tracer, sp, name: str) -> list:
    return [c for c in tr.spans if c.parent is sp and c.name == name]


def _batch_self_ms(tr: Tracer, n: int) -> list[float]:
    """Per micro-batch, the summed self time (ms) of every span it ran:
    the spans under its ``view.process_batch`` call."""
    tops = sorted((s for s in tr.spans if s.parent is None and s.name == "view.process_batch"), key=lambda s: s.t0)
    batch_of = {s.id: b for b, s in enumerate(tops)}
    sums = [0.0] * len(tops)
    for s in tr.spans:
        top = s
        while top.parent is not None:
            top = top.parent
        if top.id in batch_of:
            sums[batch_of[top.id]] += s.self_s * 1000
    return sums[:n]


def decode_pass(spark, files: list[str]) -> tuple[float, int]:
    """Parse-only pass over the run's input (forced with the ``noop``
    sink); returns (seconds of the faster of two passes, corrupt rows)."""
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.cdc.decode import parse_envelope

    raw = spark.read.schema("key string, value string").json(files)
    times = []
    for _ in range(2):
        t = time.perf_counter()
        parse_envelope(raw).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    corrupt = parse_envelope(raw, keep_corrupt=True).filter(F.col("_corrupt").isNotNull()).count()
    return min(times), corrupt


def sink_state(spark, sink) -> dict:
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit

    m = sink._manifest()
    files = 0
    for vdir, bids in table_commit.bucket_paths(sink.path, m).items():
        for b in bids:
            files += sum(1 for f in os.listdir(f"{vdir}/_bucket={b}") if f.endswith(".parquet"))
    row = sink.read_raw().agg(
        F.count("*").alias("rows"), F.sum((F.col("op") == "d").cast("int")).alias("tomb")
    ).collect()[0]
    return {"bytes": sink.table_bytes(m=m), "files": files, "rows": row["rows"], "tombstones": row["tomb"] or 0}


def per_layer(spark, out) -> dict:
    """name -> (value, unit, sample count)."""
    tr: Tracer = out.extra["tracer"]
    tr.unwrap()
    M: dict = {}

    def put(name, value, unit, n):
        M[name] = (float(value), unit, int(n))

    progress = sorted(out.extra.get("progress", []), key=lambda p: p["batchId"] if isinstance(p, dict) else p.batchId)
    trig = [progress_ms(p, "triggerExecution") for p in progress]
    addb = [progress_ms(p, "addBatch") for p in progress]
    engine = [t - a for t, a in zip(trig, addb)]
    nb = len(progress)
    put("streaming.batches", nb, "count", nb)
    per_batch = list(out.extra.get("batch_events", {}).values())
    put("streaming.rows_per_batch_p50", _p50(per_batch), "events", len(per_batch))
    put("streaming.trigger_ms_p50", _p50(trig), "ms", nb)
    put("streaming.add_batch_ms_p50", _p50(addb), "ms", nb)
    put("streaming.engine_ms_p50", _p50(engine), "ms", nb)
    put("streaming.backlog_events_max", out.extra.get("backlog_max", 0), "events", nb)
    put("gen.late_ms_max", out.extra.get("late_ms_max", 0.0), "ms", nb)

    merges = [s for s in tr.named("merge") if "rows_written" in s.attrs]
    events_merged = out.extra["events_applied"]
    put("merge.calls", len(merges), "count", len(merges))
    put("merge.self_ms_p50", _p50([s.self_s * 1000 for s in merges]), "ms", len(merges))
    put("merge.self_ms_max", max([s.self_s * 1000 for s in merges], default=0.0), "ms", len(merges))
    # a merge's own jobs plus those of its table reads and commit; the
    # view hook under it is a layer of its own
    put("merge.jobs_per_call", _mean([_under(tr, s, "jobs", skip="view.hook") for s in merges]), "jobs", len(merges))
    put("merge.tasks_per_call", _mean([_under(tr, s, "tasks", skip="view.hook") for s in merges]), "tasks",
        len(merges))
    put("merge.buckets_touched_frac", _mean([s.attrs["buckets_touched"] / s.attrs["n_buckets"] for s in merges]),
        "ratio", len(merges))
    # merges into an existing table read it: all of it (no bucket
    # discovery) or the touched buckets only
    reads = [_children(tr, s, "read_raw") for s in merges]
    reads = [r for r in reads if r]
    put("merge.fastpath_frac", _mean([1.0 if any(c.attrs["buckets"] is None for c in r) else 0.0 for r in reads]),
        "ratio", len(reads))
    put("merge.rows_written_per_event", sum(s.attrs["rows_written"] for s in merges) / max(1, events_merged),
        "rows/event", len(merges))
    put("merge.bytes_written_per_event", sum(s.attrs["bytes_written"] for s in merges) / max(1, events_merged),
        "B/event", len(merges))

    commits = tr.named("commit")
    put("commit.calls", len(commits), "count", len(commits))
    put("commit.ms_p50", _p50([s.dur_s * 1000 for s in commits]), "ms", len(commits))
    put("commit.cas_conflicts", sum(1 for s in commits if s.attrs.get("error") == "ConcurrentCommitError"),
        "count", len(commits))
    put("commit.versions_live_max", max([s.attrs.get("versions_live", 0) for s in commits], default=0),
        "count", len(commits))
    compacts = tr.named("compact")
    put("compact.runs", len(compacts), "count", len(compacts))
    put("compact.ms_total", sum(s.dur_s for s in compacts) * 1000, "ms", len(compacts))
    put("compact.buckets_rewritten", sum(s.attrs.get("buckets_rewritten", 0) for s in compacts),
        "count", len(compacts))

    hooks = tr.named("view.hook")
    pbs = tr.named("view.process_batch")
    put("view.hook_ms_p50", _p50([s.dur_s * 1000 for s in hooks]), "ms", len(hooks))
    put("view.delta_rows_per_batch", _mean([s.attrs.get("delta_rows", 0) for s in pbs]), "rows", len(pbs))
    view = out.extra.get("view")
    slots = 0
    if view is not None:
        from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit

        slots = sum(1 for e in os.listdir(table_commit.resolve(view.path)) if e.startswith("b="))
    put("view.log_slots", slots, "count", 1 if view is not None else 0)

    # a GET span is the reader's lookup(...).collect(); the lookup and
    # read_raw calls hang under it
    gets = tr.named("lookup.get")
    put("lookup.jobs_per_call", _mean([_under(tr, s, "jobs") for s in gets]), "jobs", len(gets))
    buckets = [sum(c.attrs["buckets"] for c in tr.spans if c.name == "read_raw" and c.parent
                   and c.parent.parent is s) for s in gets]
    put("lookup.buckets_read_per_call", _mean(buckets), "count", len(gets))

    sums = [s + e for s, e in zip(_batch_self_ms(tr, nb), engine)]
    put("trace.batch_span_sum_ms_p50", _p50(sums), "ms", len(sums))
    put("trace.overhead_ms_per_span", tr.bookkeeping_s * 1000 / max(1, len(tr.spans)), "ms", len(tr.spans))

    dec_s, corrupt = decode_pass(spark, out.extra["input_files"])
    n_in = out.extra["input_events"]
    put("decode.us_per_event", dec_s * 1e6 / n_in, "us", n_in)
    put("decode.corrupt_rows", corrupt, "rows", n_in)

    st = sink_state(spark, out.extra["sink"])
    for k, unit in (("bytes", "B"), ("files", "count"), ("rows", "rows"), ("tombstones", "rows")):
        put(f"sink.{k}", st[k], unit, 1)
    return M


def _under(tr: Tracer, sp, attr: str, skip: str | None = None) -> int:
    """``attr`` (jobs or tasks) of ``sp`` and every span below it, leaving
    out the subtrees of spans named ``skip``."""
    return getattr(sp, attr) + sum(_under(tr, c, attr, skip) for c in tr.spans if c.parent is sp and c.name != skip)


def report_lines(M: dict) -> list[str]:
    return [f"  {k:<32} {v:14.4f} {u}  (n={n})" for k, (v, u, n) in M.items()]
