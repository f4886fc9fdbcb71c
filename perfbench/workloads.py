"""The two CDC workloads: traffic parameters, set-up and measured phase.

Sizes are for ``local[4]`` and a run of about 20 s; see README.md for the
probe numbers they were chosen from."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from gen import ChangeLog, Releaser, Traffic, write_lines
from measure import backlog_max, batch_events, commit_times, event_lags, percentile, weighted_percentile
import oracle

KV_SCHEMA = "key string, value string"
SETUP_REPS = 2
IDLE_GETS = 8  # GETs on the idle sink after the measured phase
IDLE_VIEW_READS = 8  # view reads on the idle view after the measured phase

# serve_during_ingest: open-loop Zipf change files into a preloaded sink
# plus the per-merchant view, a closed-loop reader beside the stream.  The
# offered rate gives micro-batches of a few dozen events, which touch a
# fraction of the buckets (the bucket-discovery and pruning path).
SERVE_KEYS = 10_000
SERVE_BUCKETS = 32
SERVE_TRAFFIC = Traffic(zipf_s=1.1)
SERVE_RATE_EPS = 12.0
FILE_INTERVAL_S = 0.25  # open-loop release period
WARMUP_FILES = 1  # change files applied, untimed, before the release schedule

# uniform_backfill: a snapshot, then one large uniform change batch, merged
# in bulk and compacted, pass after pass
BACKFILL_KEYS = 30_000
BACKFILL_BUCKETS = 32
BACKFILL_TRAFFIC = Traffic(zipf_s=0.0, delete_frac=0.05, insert_frac=0.0)
BACKFILL_CHANGE_EVENTS = 20_000
MIN_PASSES = 3


@dataclass
class Outcome:
    """What one measured run produced."""

    setup_s: list = field(default_factory=list)
    events: int = 0
    passes: list = field(default_factory=list)  # (apply wall s, [(lag_s, n_events)])
    get_ms: dict = field(default_factory=lambda: {1: [], 32: []})  # GETs on the idle sink
    busy_get_ms: dict = field(default_factory=lambda: {1: [], 32: []})  # GETs during ingest
    view_read_ms: list = field(default_factory=list)  # reads of the idle view
    busy_view_read_ms: list = field(default_factory=list)  # view reads during ingest
    phases: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    @contextmanager
    def phase(self, name: str):
        """Record the wall time of one phase of the run (for the report)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t


def _parsed_file(spark, path):
    from realtime_change_data_capture_streaming_spark.cdc.decode import parse_envelope

    return parse_envelope(spark.read.schema(KV_SCHEMA).json(path), decimal_mode="string")


class ProbeKeys:
    """Key classes for GET checks, derived from the generated events:
    keys the change files never touch (their preload image is the only
    right answer, or no row if preload-deleted), keys that never existed,
    and hot changing keys (any image the key ever had is acceptable)."""

    def __init__(self, snapshot, change_files, n_changing: int = 64):
        images: dict[str, set] = {}
        preload: dict[str, tuple | None] = {}
        for key, line in snapshot:
            after = json.loads(json.loads(line)["value"])["after"]
            preload[key] = None if after is None else tuple(after[c] for c in oracle.IMAGE_FIELDS)
        touched: dict[str, int] = {}
        for f in change_files:
            for key, line in f:
                touched[key] = touched.get(key, 0) + 1
                after = json.loads(json.loads(line)["value"])["after"]
                if after is not None:
                    images.setdefault(key, set()).add(tuple(after[c] for c in oracle.IMAGE_FIELDS))
        self.stable_live = sorted(k for k, v in preload.items() if v is not None and k not in touched)[:256]
        self.stable_dead = sorted(k for k, v in preload.items() if v is None and k not in touched)[:64]
        self.absent = [f"missing-{i:05d}" for i in range(64)]
        self.changing = sorted(touched, key=lambda k: (-touched[k], k))[:n_changing]
        self.expect = {k: preload[k] for k in self.stable_live}
        for k in self.changing:
            images.setdefault(k, set())
            if preload.get(k) is not None:
                images[k].add(preload[k])
        self.images = images

    def batch(self, i: int, size: int) -> list[str]:
        if size == 1:
            pools = (self.changing, self.stable_live, self.stable_dead, self.absent)
            pool = pools[i % len(pools)] or self.changing
            return [pool[(i // len(pools)) % len(pool)]]
        out = []
        for pool, n in ((self.changing, 16), (self.stable_live, 8), (self.stable_dead, 4), (self.absent, 4)):
            out += [pool[(i * n + j) % len(pool)] for j in range(n)] if pool else []
        return sorted(set(out))

    def wrong_rows(self, asked: list[str], rows) -> int:
        """Rows a GET must not have returned, plus required rows missing."""
        bad = 0
        got = {}
        for r in rows:
            key, cells = r[0], tuple(r[1:])
            if key not in asked or key in got:
                bad += 1
            got[key] = cells
            if key in self.expect and cells != self.expect[key]:
                bad += 1
            elif key in self.images and cells not in self.images[key]:
                bad += 1
            elif key not in self.expect and key not in self.images:
                bad += 1  # absent or deleted before the run
        bad += sum(1 for k in asked if k in self.expect and k not in got)
        return bad


class Reader(threading.Thread):
    """Closed-loop client.  Calls cycle through a 1-key GET, a full
    ``view.read()``, a 32-key GET and a ``view.read()``; every call goes
    through ``.collect()`` and every GET is checked against the probe
    keys.  Latencies go to ``out.busy_get_ms`` and ``out.busy_view_read_ms``
    (``busy``) or to ``out.get_ms`` and ``out.view_read_ms``."""

    CYCLE = ("get1", "view", "get32", "view")

    def __init__(self, sink, view, probes: ProbeKeys, out: Outcome, tracer=None, busy: bool = True):
        super().__init__(daemon=True)
        self.sink, self.view, self.probes, self.out, self.tracer = sink, view, probes, out, tracer
        self.gets = out.busy_get_ms if busy else out.get_ms
        self.views = out.busy_view_read_ms if busy else out.view_read_ms
        self.stop_evt = threading.Event()
        self.lock = threading.Lock()
        self.since = 0.0  # perf_counter before which calls are warm-up

    def measure_from_now(self, tracer) -> None:
        """Drop the latency samples taken so far (warm-up) and trace the
        calls from here on; failures stay counted."""
        with self.lock:
            self.tracer = tracer
            self.since = time.perf_counter()
            for samples in self.gets.values():
                samples.clear()
            self.views.clear()

    def run(self) -> None:
        i = 0
        while not self.stop_evt.is_set():
            self.call(i)
            i += 1

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else _no_span()

    def call(self, i: int, kind: str | None = None) -> None:
        """One call: ``kind`` is "get1", "get32" or "view" (by ``i`` if None)."""
        kind = kind or self.CYCLE[i % len(self.CYCLE)]
        t = time.perf_counter()
        try:
            if kind == "view":
                with self._span("view.read.collect"):
                    self.view.read().collect()
                bad = 0
                samples = self.views
                what = "view read"
            else:
                keys = self.probes.batch(i, 1 if kind == "get1" else 32)
                with self._span("lookup.get"):
                    rows = self.sink.lookup(keys).select(*oracle.string_cells()).collect()
                bad = self.probes.wrong_rows(keys, rows)
                samples = self.gets[1 if kind == "get1" else 32]
                what = f"GET of {len(keys)} keys"
            ms = (time.perf_counter() - t) * 1000.0
            with self.lock:
                self.out.attempted += 1
                if t >= self.since:
                    samples.append(ms)
                if bad:
                    self.out.fail(f"{what} returned {bad} wrong rows")
        except Exception as e:  # a read that raises counts as failed; keep serving
            with self.lock:
                self.out.attempted += 1
                self.out.fail(f"read raised {type(e).__name__}: {e}")


@contextmanager
def _no_span():
    yield None


def idle_reads(sink, view, probes: ProbeKeys, out: Outcome, tracer) -> None:
    """Closed-loop reads on the idle sink and view: ``IDLE_GETS`` GETs, the
    last of 32 keys and the rest of 1 key, then ``IDLE_VIEW_READS`` view
    reads.  One untimed call of each kind goes first (the first call of a
    JVM compiles its path)."""
    r = Reader(sink, view, probes, out, busy=False)
    for kind, samples in (("get1", out.get_ms[1]), ("view", out.view_read_ms)):
        n = len(samples)
        r.call(0, kind)
        del samples[n:]
    r.tracer = tracer
    for i in range(IDLE_GETS):
        r.call(i, "get32" if i == IDLE_GETS - 1 else "get1")
    for i in range(IDLE_VIEW_READS):
        r.call(i, "view")


def _setup_reps(run_rep, work: str, out: Outcome):
    """Run the set-up ``SETUP_REPS`` times into fresh directories, record
    each duration and keep only the last one's products."""
    result = None
    for rep in range(SETUP_REPS):
        d = os.path.join(work, f"rep{rep}")
        os.makedirs(d)
        t = time.perf_counter()
        with out.phase("setup"):
            result = run_rep(d)
        out.setup_s.append(time.perf_counter() - t)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(d)
    return result


def _wait_ready(q, limit_s: float = 60.0) -> None:
    end = time.time() + limit_s
    while time.time() < end:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed to start: {q.exception()}")
        st = q.status
        if not st["isTriggerActive"] and "Waiting" in st["message"]:
            return
        time.sleep(0.05)
    raise TimeoutError("stream did not become ready")


def check_replica(spark, sink, files: list[str], out: Outcome, purged: bool = False) -> None:
    """Oracle comparison of the final replica, tombstones included."""
    from pyspark.sql import functions as F

    live, deleted = oracle.fold(files)
    rows = sink.read().select(*oracle.string_cells()).collect()
    bad = oracle.diff_rows(live, rows)
    out.attempted += 1
    if bad:
        out.fail(f"oracle: {bad} replica rows differ")
    tomb = {r[0] for r in sink.read_raw().filter(F.col("op") == "d").select("key").collect()}
    want = set() if purged else deleted
    out.attempted += 1
    if tomb != want:
        out.fail(f"oracle: tombstones differ ({len(tomb ^ want)} keys)")


def check_view(view, files: list[str], out: Outcome) -> None:
    """Oracle comparison of the per-merchant view over ``files``."""
    live, _ = oracle.fold(files)
    got = {r[0]: (r[1], r[2]) for r in view.read().collect()}
    out.attempted += 1
    if got != oracle.view_of(live):
        out.fail("oracle: view rows differ")


def run_serve(spark, seed: int, seconds: int, work: str, tracer_factory) -> Outcome:
    """Open loop: change files released on a fixed schedule for about
    ``seconds`` into ``apply_changes_with_view``, with the closed-loop
    reader running throughout."""
    from realtime_change_data_capture_streaming_spark.cdc import apply_changes as ac
    from realtime_change_data_capture_streaming_spark.cdc import materialized as mv
    from realtime_change_data_capture_streaming_spark.cdc.decode import parse_envelope

    out = Outcome()
    n_files = max(1, round(seconds / FILE_INTERVAL_S))
    per_file = max(1, round(SERVE_RATE_EPS * FILE_INTERVAL_S))

    def rep(d: str):
        log = ChangeLog(seed, SERVE_KEYS, SERVE_TRAFFIC)
        snapshot = log.snapshot()
        files = log.change_files(WARMUP_FILES + n_files, per_file)
        os.makedirs(f"{d}/staged")
        snap_path = f"{d}/snapshot.json"
        write_lines(snap_path, snapshot)
        names = []
        for i, evs in enumerate(files):
            kind = "warmup" if i < WARMUP_FILES else "changes"
            names.append(f"{kind}-{i:05d}.json")
            write_lines(f"{d}/staged/{names[-1]}", evs)
        sink = ac.BucketedParquetSink(spark, f"{d}/sink", n_buckets=SERVE_BUCKETS)
        view = mv.IncrementalAggView(spark, sink, f"{d}/view")
        view.process_batch(_parsed_file(spark, snap_path), batch_id=-1)
        return d, snapshot, files, names, sink, view

    d, snapshot, files, names, sink, view = _setup_reps(rep, work, out)
    warm, names = names[:WARMUP_FILES], names[WARMUP_FILES:]
    counts = {n: len(f) for n, f in zip(names, files[WARMUP_FILES:])}
    out.events = sum(counts.values())
    probes = ProbeKeys(snapshot, files)

    os.makedirs(f"{d}/watched")
    stream = spark.readStream.schema(KV_SCHEMA).json(f"{d}/watched")
    q = mv.apply_changes_with_view(parse_envelope(stream, decimal_mode="string"), view, f"{d}/ckpt")
    reader = Reader(sink, view, probes, out)
    try:
        with out.phase("start"):
            _wait_ready(q)
        # warm-up: a real change file as an untimed micro-batch, with the
        # reader already running, so the measured batches and reads run on
        # a JVM that has compiled these paths
        with out.phase("warmup"):
            reader.start()
            for name in warm:
                os.rename(f"{d}/staged/{name}", f"{d}/watched/{name}")
                q.processAllAvailable()
        first_batch = _get(q.lastProgress, "batchId") + 1
        tracer = tracer_factory()
        reader.measure_from_now(tracer)
        releaser = Releaser(f"{d}/staged", f"{d}/watched", names, FILE_INTERVAL_S)
        t0 = time.time() + 0.2
        releaser.start_at(t0)
        with out.phase("release"):
            releaser.join()
        with out.phase("drain"):
            q.processAllAvailable()
    finally:
        if reader.is_alive():
            reader.stop_evt.set()
            reader.join()
        q.stop()
    progress = [p for p in q.recentProgress if _get(p, "numInputRows") and _get(p, "batchId") >= first_batch]
    out.attempted += len(progress)
    if q.exception() is not None:
        out.fail(f"stream failed: {q.exception()}")
    ckpt = f"{d}/ckpt"
    out.passes.append((max(commit_times(ckpt).values()) - t0, event_lags(ckpt, releaser.due, counts)))
    input_files = [f"{d}/snapshot.json"] + [f"{d}/watched/{n}" for n in warm + names]
    out.extra.update(
        late_ms_max=releaser.late_ms_max,
        backlog_max=backlog_max(releaser.due, counts, ckpt),
        batch_events=batch_events(ckpt, counts),
        progress=progress,
        input_files=input_files,
        input_events=len(snapshot) + sum(len(f) for f in files),
        events_applied=out.events,
        offered_eps=per_file / FILE_INTERVAL_S,
    )
    with out.phase("check"):
        check_replica(spark, sink, input_files, out)
        check_view(view, input_files, out)
    with out.phase("reads"):
        idle_reads(sink, view, probes, out, tracer)
    out.extra.update(sink=sink, view=view, tracer=tracer)
    return out


def _get(p, name):
    return p[name] if isinstance(p, dict) else getattr(p, name)


def run_backfill(spark, seed: int, seconds: int, work: str, tracer_factory) -> Outcome:
    """Closed loop, one caller: the same backfill (creation merge of the
    snapshot, a bulk bucket-discovery merge, tombstone-purging compaction)
    applied to a fresh sink pass after pass, for about ``seconds``.
    Metrics are medians over the passes."""
    out = Outcome()

    def rep(d: str):
        log = ChangeLog(seed, BACKFILL_KEYS, BACKFILL_TRAFFIC)
        snapshot = log.snapshot(delete_frac=0.0)
        changes = log.change_files(1, BACKFILL_CHANGE_EVENTS)
        paths = []
        for i, evs in enumerate([snapshot] + changes):
            paths.append(f"{d}/batch-{i:02d}.json")
            write_lines(paths[-1], evs)
        return d, snapshot, changes, paths, [len(snapshot)] + [len(c) for c in changes], log.lsn

    d, snapshot, changes, paths, sizes, max_lsn = _setup_reps(rep, work, out)
    out.events = sum(sizes)
    probes = ProbeKeys(snapshot, changes)

    with out.phase("warmup"):
        # one pass, untimed: a fresh JVM ran its first pass at about 40%
        # of warm throughput.  The first timed pass is still slower than
        # the rest, and the median over passes leaves it out.  The warm-up
        # goes through the per-merchant view, which the idle view reads use.
        sink, view, _, _ = apply_backfill(spark, f"{d}/sink-0", paths, sizes, max_lsn, view_path=f"{d}/view")
        out.attempted += len(paths) + 1
    tracer = tracer_factory()
    start = time.time()
    with out.phase("passes"):
        # at least MIN_PASSES (the median then ignores one slow pass); more
        # only while the next one should end within the measured window
        while len(out.passes) < MIN_PASSES or time.time() - start + out.passes[-1][0] <= seconds:
            shutil.rmtree(sink.path)
            sink, _, wall, lags = apply_backfill(spark, f"{d}/sink-{len(out.passes) + 1}", paths, sizes, max_lsn)
            out.attempted += len(paths) + 1  # merges and the compaction
            out.passes.append((wall, lags))
    with out.phase("reads"):
        idle_reads(sink, view, probes, out, tracer)
    with out.phase("check"):
        check_replica(spark, sink, paths, out, purged=True)
        check_view(view, paths, out)
    out.extra.update(sink=sink, view=view, tracer=tracer, input_files=paths, input_events=out.events,
                     events_applied=out.events * len(out.passes), sizes=sizes, max_lsn=max_lsn)
    return out


def apply_backfill(spark, path: str, paths: list[str], sizes: list[int], max_lsn: int, view_path: str | None = None):
    """One backfill pass into a new sink: merge each file (through a new
    per-merchant view at ``view_path`` if given), then compact with every
    tombstone purged.  Returns the sink, the view (or None), the pass wall
    time (s) and, per file, ``(s from pass start to its merge's return,
    events)``."""
    from realtime_change_data_capture_streaming_spark.cdc import apply_changes as ac
    from realtime_change_data_capture_streaming_spark.cdc import materialized as mv

    sink = ac.BucketedParquetSink(spark, path, n_buckets=BACKFILL_BUCKETS)
    view = mv.IncrementalAggView(spark, sink, view_path) if view_path else None
    t0 = time.time()
    lags = []
    for i, (p, n) in enumerate(zip(paths, sizes)):
        batch = _parsed_file(spark, p)
        if view is None:
            sink.merge(batch)
        else:
            view.process_batch(batch, batch_id=i)
        lags.append((time.time() - t0, n))
    ac.compact_sink(sink, purge_tombstones_through_lsn=max_lsn)
    return sink, view, time.time() - t0, lags


def summarize(out: Outcome, session_s: float) -> dict[str, tuple[float, str]]:
    """End-to-end metrics of one run, name -> (value, unit)."""
    med = statistics.median
    # the GET tail during ingest where there is one, else on the idle sink
    gets = out.busy_get_ms[1] + out.busy_get_ms[32] or out.get_ms[1] + out.get_ms[32]
    return {
        "setup_s": (session_s + med(out.setup_s), "s"),
        "lag_p50_s": (med(weighted_percentile(lags, 50) for _, lags in out.passes), "s"),
        "lag_p99_s": (med(weighted_percentile(lags, 99) for _, lags in out.passes), "s"),
        "apply_eps": (med(out.events / wall for wall, _ in out.passes), "events/s"),
        "lookup_p50_ms": (percentile(out.get_ms[1], 50), "ms"),
        "lookup_p99_ms": (percentile(gets, 99), "ms"),
        "view_read_p50_ms": (percentile(out.view_read_ms, 50), "ms"),
    }


WORKLOADS = {"serve_during_ingest": run_serve, "uniform_backfill": run_backfill}
