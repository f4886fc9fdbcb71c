"""Seeded Debezium change-event generator and open-loop file releaser.

Every event is a Kafka-shaped JSON line ``{"key": ..., "value": <envelope
JSON string>}`` in Debezium's ``decimal.handling.mode=string`` shape, so
the program under test sees exactly what a file-sourced CDC topic would
carry.  All files are written before timing starts; the releaser only
renames them into the watched directory on a fixed schedule.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import threading
import time
from dataclasses import dataclass

MERCHANTS = tuple(f"merchant_{i:02d}" for i in range(40))
CITIES = ("Tunis", "Sfax", "Paris", "Lyon", "Berlin", "Madrid", "Rome", "Oslo")
COUNTRIES = ("TN", "FR", "DE", "ES", "IT", "NO")
METHODS = ("credit_card", "debit_card", "paypal", "bank_transfer")
BASE_TS_MS = 1_700_000_000_000
_ENC = json.JSONEncoder(separators=(",", ":")).encode


@dataclass(frozen=True)
class Traffic:
    """Change-traffic shape of one workload.

    ``zipf_s`` skews which keys change (0 = uniform).  The ``*_frac``
    values are shares of generated changes: deletes (a delete of an
    already-deleted key becomes a re-insert), inserts of brand-new keys,
    at-least-once duplicates of a recent event, and within-key reorders (a
    key's two consecutive changes delivered newest first, the older one
    ``reorder_lag`` files later)."""

    zipf_s: float = 0.0
    delete_frac: float = 0.03
    insert_frac: float = 0.03
    dup_frac: float = 0.03
    reorder_frac: float = 0.03
    reorder_lag: int = 2


def _amount(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def _timestamp(ts_ms: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts_ms // 1000))


class ChangeLog:
    """Source-database state plus the change events that produced it.

    ``lsn`` is a global WAL order; each event's ``ts_ms`` grows with it, so
    latest-wins by ``(lsn, ts_ms)`` recovers the source state regardless
    of delivery order."""

    def __init__(self, seed: int, n_keys: int, traffic: Traffic):
        self.rng = random.Random(seed)
        self.traffic = traffic
        self.n_keys = n_keys
        self.next_id = n_keys
        self.lsn = 0
        self.state: dict[str, dict | None] = {}
        # key ids in popularity order: rank r is drawn with weight 1/r^s
        ranks = list(range(n_keys))
        self.rng.shuffle(ranks)
        self.by_rank = ranks
        if traffic.zipf_s > 0:
            self.cdf = list(itertools.accumulate(1.0 / (r + 1) ** traffic.zipf_s for r in range(n_keys)))
        else:
            self.cdf = None

    @staticmethod
    def key_of(i: int) -> str:
        return f"tx-{i:08d}"

    def _image(self, key: str, ts_ms: int) -> dict:
        r = self.rng
        return {
            "transaction_id": key,
            "user_id": f"user-{r.randrange(20_000):05d}",
            "timestamp": _timestamp(ts_ms),
            "amount": _amount(r.randrange(100, 500_000)),
            "currency": "EUR",
            "city": r.choice(CITIES),
            "country": r.choice(COUNTRIES),
            "merchant_name": r.choice(MERCHANTS),
            "payment_method": r.choice(METHODS),
            "ip_address": f"10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(256)}",
            "voucher_code": r.choice(("", "", "SAVE10")),
            "affiliate_id": f"aff-{r.randrange(100)}",
        }

    def _event(self, key: str, op: str) -> tuple[str, str]:
        self.lsn += 1
        ts_ms = BASE_TS_MS + self.lsn * 7
        before = self.state.get(key)
        if op == "d":
            after = None
        elif op == "u":
            after = dict(before, amount=_amount(self.rng.randrange(100, 500_000)),
                         payment_method=self.rng.choice(METHODS), timestamp=_timestamp(ts_ms))
        else:
            after = self._image(key, ts_ms)
        self.state[key] = after
        env = {
            "before": before if op in ("u", "d") else None,
            "after": after,
            "op": op,
            "ts_ms": ts_ms,
            "source": {"lsn": self.lsn, "table": "transactions", "db": "financialDB"},
        }
        return key, f'{{"key":{_ENC(key)},"value":{_ENC(_ENC(env))}}}'

    def snapshot(self, delete_frac: float = 0.02) -> list[tuple[str, str]]:
        """Initial-snapshot events (``op='r'``) for every key, followed by
        deletes of a ``delete_frac`` share of them."""
        out = [self._event(self.key_of(i), "r") for i in range(self.n_keys)]
        for i in self.rng.sample(range(self.n_keys), int(self.n_keys * delete_frac)):
            out.append(self._event(self.key_of(i), "d"))
        return out

    def _pick(self) -> str:
        if self.cdf is None:
            return self.key_of(self.rng.randrange(self.n_keys))
        rank = bisect.bisect_left(self.cdf, self.rng.random() * self.cdf[-1])
        return self.key_of(self.by_rank[min(rank, self.n_keys - 1)])

    def change_files(self, n_files: int, per_file: int) -> list[list[tuple[str, str]]]:
        """``n_files`` delivery units of about ``per_file`` events each, with
        the workload's mix of updates, deletes, inserts, duplicates and
        reorders."""
        t = self.traffic
        files: list[list[tuple[str, str]]] = [[] for _ in range(n_files)]
        recent: list[tuple[str, str]] = []
        for f in range(n_files):
            while len(files[f]) < per_file:
                u = self.rng.random()
                if u < t.dup_frac and recent:
                    files[f].append(self.rng.choice(recent))
                    continue
                u -= t.dup_frac
                if u < t.insert_frac:
                    key = self.key_of(self.next_id)
                    self.next_id += 1
                    evs = [self._event(key, "c")]
                else:
                    key = self._pick()
                    live = self.state.get(key) is not None
                    if not live:
                        evs = [self._event(key, "c")]
                    elif u - t.insert_frac < t.delete_frac:
                        evs = [self._event(key, "d")]
                    elif u - t.insert_frac - t.delete_frac < t.reorder_frac:
                        evs = [self._event(key, "u"), self._event(key, "u")]
                    else:
                        evs = [self._event(key, "u")]
                if len(evs) == 2:
                    # the newer change arrives first, the older one later
                    files[f].append(evs[1])
                    files[min(n_files - 1, f + t.reorder_lag)].append(evs[0])
                else:
                    files[f].append(evs[0])
                recent = (recent + evs)[-64:]
        return files

    def live_keys(self) -> list[str]:
        return [k for k, v in self.state.items() if v is not None]


def write_lines(path: str, events: list[tuple[str, str]]) -> None:
    with open(path, "w") as f:
        for _key, line in events:
            f.write(line)
            f.write("\n")


class Releaser(threading.Thread):
    """Open-loop delivery: file ``i`` is renamed from ``staged`` into
    ``watched`` at ``t0 + i * interval``.  The schedule never waits for
    the consumer; how late each rename ran is recorded."""

    def __init__(self, staged: str, watched: str, names: list[str], interval: float):
        super().__init__(daemon=True)
        self.staged, self.watched, self.names, self.interval = staged, watched, names, interval
        self.t0 = 0.0
        self.due: dict[str, float] = {}
        self.late_ms_max = 0.0

    def start_at(self, t0: float) -> None:
        self.t0 = t0
        self.due = {n: t0 + i * self.interval for i, n in enumerate(self.names)}
        self.start()

    def run(self) -> None:
        for name in self.names:
            due = self.due[name]
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(self.staged, name), os.path.join(self.watched, name))
            self.late_ms_max = max(self.late_ms_max, (time.time() - due) * 1000.0)
