"""Statistics and the checkpoint-based replication-lag computation."""

from __future__ import annotations

import json
import os


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sequence."""
    return weighted_percentile([(v, 1) for v in values], q)


def weighted_percentile(pairs, q: float) -> float:
    """Nearest-rank percentile of ``(value, count)`` pairs: the smallest
    value whose cumulative count reaches ``q`` percent of the total."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    if total <= 0:
        raise ValueError("percentile of an empty sample")
    need = q / 100.0 * total
    seen = 0
    for v, c in pairs:
        seen += c
        if seen >= need:
            return float(v)
    return float(pairs[-1][0])


def progress_ms(p, key: str) -> float:
    """One ``durationMs`` entry of a streaming progress record."""
    d = p["durationMs"] if isinstance(p, dict) else p.durationMs
    return float(d.get(key, 0))


def batch_files(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's metadata log (``sources/0``).  Entries carry their batch id,
    so compacted log files (``<n>.compact``) read the same way."""
    src = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out.setdefault(os.path.basename(e["path"]), e["batchId"])
    return out


def batch_events(checkpoint: str, counts: dict[str, int]) -> dict[int, int]:
    """Batch id -> events it read, over the files in ``counts``.  (The
    progress log's ``numInputRows`` counts a row once per scan of the
    batch, and ``foreachBatch`` scans it more than once.)"""
    out: dict[int, int] = {}
    for name, b in batch_files(checkpoint).items():
        if name in counts:
            out[b] = out.get(b, 0) + counts[name]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time its checkpoint commit was written.  The commit
    log entry is written after ``foreachBatch`` returned, i.e. after the
    sink commit (and any auto-compaction) made the batch visible."""
    d = os.path.join(checkpoint, "commits")
    return {
        int(n): os.path.getmtime(os.path.join(d, n))
        for n in os.listdir(d)
        if n.isdigit()
    }


def event_lags(checkpoint: str, due: dict[str, float], counts: dict[str, int]):
    """Per-file replication lag as ``(lag_s, n_events)`` pairs: commit time
    of the batch that read the file minus the file's scheduled release.
    Raises if a released file was never committed."""
    files = batch_files(checkpoint)
    commits = commit_times(checkpoint)
    out = []
    for name, t_due in due.items():
        b = files.get(name)
        if b is None or b not in commits:
            raise RuntimeError(f"released file {name} was not committed by the stream")
        out.append((commits[b] - t_due, counts[name]))
    return out


def backlog_max(due: dict[str, float], counts: dict[str, int], checkpoint: str) -> int:
    """Largest number of released-but-uncommitted events seen at any
    batch commit."""
    files = batch_files(checkpoint)
    commits = commit_times(checkpoint)
    worst = 0
    for b, t in commits.items():
        released = sum(c for n, c in counts.items() if due[n] <= t)
        done = sum(c for n, c in counts.items() if files.get(n, b + 1) <= b)
        worst = max(worst, released - done)
    return worst


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus the Python process."""
    return vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb(os.getpid())
