"""``otp_push``: the reference's push → dedup → extract → signal path, open loop.

A generator thread writes one seeded parquet file of email events per push
into the events directory at a fixed rate, recording when each push was
due. Each push re-sends a seeded share of earlier events unchanged
(at-least-once redelivery) and, after the first, carries a seeded share of
events an hour older than the stream head (beyond the 2-minute freshness
bound). Whenever unprocessed files exist, the main loop calls
``streaming.pipeline.start_otp_pipeline`` (which resumes from the
checkpoint) and then ``streaming.drive.drain``.

Checks, outside the timing: the posted (signal_key, otp) multiset equals
the generator's expectation after id dedup, the late drop and the
event_type filter, and the cursor file's ``last_id`` equals the highest
admitted event id. The open loop itself must keep up: a run whose backlog
ever exceeds MAX_BACKLOG files, or whose generator falls more than one
push period behind schedule, is counted as failed, since its latencies
would then be queueing delay.
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import probe

# pushes per second. A warm cycle (start, data batch, no-data batch, stop)
# takes ~1.8 s on 4 cores, so 1/3 is 60% of the sustainable rate. At 1/4 the
# JVM sat idle ~2 s before each push and the latency varied more from run to
# run (README.md, "Measured sizes").
RATE_PER_S = 1 / 3
EVENTS_PER_PUSH = 24
# the CPU a cycle costs keeps falling (JIT) for about ten cycles; timed
# pushes after only four sat on that slope, and their latency then varied
# from run to run with how far compilation had got
WARMUP_PUSHES = 10
REDELIVER_SHARE = 0.1
LATE_SHARE = 0.1
MAX_BACKLOG = 1  # files waiting when a cycle starts
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SIGNAL_TYPES = ("signup", "purchase")
_US = 1_000_000
_T0 = 1_704_067_200 * _US  # 2024-01-01T00:00:00Z
PUSH_SPAN_US = 5 * _US  # event time covered by one push
LATE_BY_US = 3600 * _US
DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")
SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def make_pushes(seed: int, n: int) -> tuple[list[pa.Table], list[list[tuple[str, str, int]]]]:
    """n push files and, per push, the (signal_key, otp, event_id) signals
    the pipeline must post for it."""
    rng = np.random.default_rng([seed, 2])
    head = _T0
    next_id = 0
    history: list[dict] = []
    pushes, expected = [], []
    for p in range(n):
        n_re = int(EVENTS_PER_PUSH * REDELIVER_SHARE) if history else 0
        n_new = EVENTS_PER_PUSH - n_re
        late = rng.random(n_new) < (LATE_SHARE if p else 0.0)
        ts = head + np.sort(rng.integers(0, PUSH_SPAN_US, n_new))
        ts = np.where(late, head - LATE_BY_US, ts)
        rows = [
            {
                "event_id": next_id + i,
                "ts": int(ts[i]),
                "user_id": int(rng.integers(0, 1_000_000)),
                "event_type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
                "value": float(np.round(rng.exponential(50.0), 2)),
                "props": json.dumps({"k": int(rng.integers(0, 1_000_000))}),
            }
            for i in range(n_new)
        ]
        next_id += n_new
        head = max(head, int(ts.max()))
        want = [
            (f"{r['event_type']}_user{r['user_id']}", f"{json.loads(r['props'])['k'] % 10000:04d}", r["event_id"])
            for r, is_late in zip(rows, late)
            if not is_late and r["event_type"] in SIGNAL_TYPES
        ]
        if n_re:
            rows += [history[i] for i in rng.choice(len(history), n_re, replace=False)]
        history += rows[:n_new]
        rows = [rows[i] for i in rng.permutation(len(rows))]
        pushes.append(pa.Table.from_pylist(rows, schema=SCHEMA))
        expected.append(want)
    return pushes, expected


class OtpPush:
    name = "otp_push"

    def __init__(self, seed: int):
        self.seed = seed
        self.pushes: list[pa.Table] = []
        self.expected: list[list] = []
        self.base = ""
        self.sent = 0  # pushes written so far
        self.posts: list[tuple[float, str, str]] = []
        self.due: dict[int, float] = {}
        self.cycles: list[dict] = []
        self.timer = probe.StageTimer()

    def inputs(self, h, out_dir: str) -> None:
        # warm-up pushes, then one every 1/RATE_PER_S s for h.seconds
        self.pushes, self.expected = make_pushes(self.seed, WARMUP_PUSHES + 1 + int(h.seconds * RATE_PER_S))

    def artifacts(self, h) -> None:
        """The OTP path serves no trained artifact."""

    def _send(self) -> None:
        p = self.sent
        tmp = os.path.join(self.base, f".push-{p:05d}.parquet")
        pq.write_table(self.pushes[p], tmp)
        os.replace(tmp, os.path.join(self.base, "events", f"push-{p:05d}.parquet"))
        self.sent += 1

    def _post(self, key: str, body: dict) -> None:
        self.posts.append((time.perf_counter(), key, body["otp"]))

    def _cycle(self, h) -> int:
        """One start → drain cycle; returns the number of files consumed."""
        from data_ingestion_experiment_otp_spark.streaming import pipeline
        from data_ingestion_experiment_otp_spark.streaming.drive import drain

        b = self.base
        t0 = time.perf_counter()
        q = pipeline.start_otp_pipeline(
            h.spark, os.path.join(b, "events"), os.path.join(b, "out"), os.path.join(b, "checkpoint"),
            os.path.join(b, "cursor.json"), self._post,
        )
        t1 = time.perf_counter()
        drain(q)
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        self.cycles.append(dict(start_s=t1 - t0, wall=wall, run_id=str(q.runId), progress=progress))
        return sum(1 for pr in progress if pr["numInputRows"] > 0)

    def begin(self, h, traced: bool) -> float:
        """Fresh stream directories and the warm-up pushes, one cycle each;
        returns their wall time."""
        self.base = h.fresh_dir("otp")
        os.makedirs(os.path.join(self.base, "events"))
        t0 = time.perf_counter()
        for _ in range(WARMUP_PUSHES):
            self._send()
            self._cycle(h)
        return time.perf_counter() - t0

    def measure(self, h, traced: bool) -> dict:
        """Open loop: the generator sends one push every 1/RATE_PER_S
        seconds for h.seconds while the main loop runs cycles whenever
        files are waiting, then drains the rest."""
        from data_ingestion_experiment_otp_spark.streaming import sinks

        if traced:
            self.timer.wrap(sinks, "watermark_file_sink", "parquet_cursor")
            self.timer.wrap(sinks, "http_signal_sink", "signal")
        first = self.sent
        n = 1 + int(h.seconds * RATE_PER_S)
        period = 1.0 / RATE_PER_S
        lag: list[float] = []
        errors: list[str] = []

        def generate() -> None:
            t0 = time.perf_counter()
            for i in range(n):
                due = t0 + i * period
                self.due[first + i] = due
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                self._send()
                lag.append(time.perf_counter() - due)

        self.cycles.clear()
        self.timer.take()
        consumed, backlog = 0, []
        gen = threading.Thread(target=generate, name="perfbench-otp-gen")
        deadline = time.perf_counter() + h.seconds + 60
        try:
            with h.timed() as meter:
                gen.start()
                try:
                    while consumed < n and time.perf_counter() < deadline:
                        pending = self.sent - first - consumed
                        if pending > 0:
                            backlog.append(pending)
                            consumed += self._cycle(h)
                        elif not gen.is_alive():
                            break
                        else:
                            time.sleep(0.005)
                finally:
                    gen.join()
        finally:
            self.timer.restore()
        invalid = 0
        if consumed < n:
            errors.append(f"{n - consumed} pushes never consumed")
        if max(backlog, default=0) > MAX_BACKLOG or max(lag, default=0.0) > period:
            invalid = 1
            errors.append(f"open loop fell behind: backlog {max(backlog, default=0)} files, generator lag {max(lag, default=0.0):.2f} s")
        spans = self.timer.take()
        if traced:
            for name in ("parquet_cursor", "signal"):
                if not any(s == name for s, _, _ in spans):
                    invalid += 1
                    errors.append(f"no {name} sink call was timed")
        latencies = [t - self.due[p] for t, p in self._matched() if p >= first]
        data = [pr for c in self.cycles for pr in c["progress"] if pr["numInputRows"] > 0]
        return dict(
            ops=latencies,
            n_ops=n,
            items=sum(pr["numInputRows"] for pr in data),
            items_s=sum(c["wall"] for c in self.cycles),
            attempted=n,
            failed=n - consumed + invalid,
            errors=errors,
            groups={c["run_id"]: c["wall"] for c in self.cycles},
            layers=self._layers(self.cycles, data, spans, lag, backlog) if traced else {},
            cpu_s=meter.cpu_s,
            peak_rss_mb=meter.peak_rss_mb,
            steal_ratio=meter.steal_ratio,
        )

    def finish(self, h) -> tuple[int, list[str], dict]:
        """Signal and cursor checks over every push sent; returns
        (failed, errors, layers)."""
        self._matched()
        failed = sum(1 for m in self.missing[: self.sent] if +m) + self.extra
        errors = [f"{failed} pushes with missing or extra signals"] if failed else []
        last_id = max((e for want in self.expected[: self.sent] for _, _, e in want), default=-1)
        with open(os.path.join(self.base, "cursor.json")) as f:
            if json.load(f)["last_id"] != last_id:
                errors.append("cursor last_id is not the highest admitted event id")
                failed += 1
        return failed, errors, {}

    def _matched(self) -> list[tuple[float, int]]:
        """Match every post FIFO to the push that should have produced it;
        returns (post time, push) pairs and leaves the unmatched
        expectations in self.missing and the unexpected posts in
        self.extra."""
        pending: dict[tuple[str, str], collections.deque] = collections.defaultdict(collections.deque)
        self.missing = [collections.Counter() for _ in self.expected]
        for p, want in enumerate(self.expected):
            for key, otp, _ in want:
                pending[(key, otp)].append(p)
                self.missing[p][(key, otp)] += 1
        out, self.extra = [], 0
        for t, key, otp in self.posts:
            q = pending.get((key, otp))
            if not q:
                self.extra += 1
                continue
            p = q.popleft()
            self.missing[p][(key, otp)] -= 1
            out.append((t, p))
        return out

    @staticmethod
    def _layers(cycles, data, spans, lag, backlog) -> dict:
        med = statistics.median
        out = {
            f"otp.{k}": med(pr["durationMs"].get(d, 0) for pr in data) / 1e3
            for k, d in zip(
                ("trigger_s", "add_batch_s", "query_planning_s", "get_batch_s", "latest_offset_s", "wal_commit_s", "commit_offsets_s"),
                DURATIONS,
            )
        }
        out["otp.start_s"] = med(c["start_s"] for c in cycles)
        out["otp.stop_s"] = med(
            c["wall"] - c["start_s"] - sum(pr["durationMs"].get("triggerExecution", 0) for pr in c["progress"]) / 1e3
            for c in cycles
        )
        out["otp.batches_per_cycle"] = statistics.mean(len(c["progress"]) for c in cycles)
        for name in ("parquet_cursor", "signal"):
            ts = [t1 - t0 for s, t0, t1 in spans if s == name]
            if ts:
                out[f"sinks.{name}_s"] = med(ts)
        ops = [op for c in cycles for pr in c["progress"] for op in pr["stateOperators"]]
        out["watermark.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
        out["watermark.state_mb"] = ops[-1]["memoryUsedBytes"] / 2**20 if ops else 0.0
        out["watermark.dropped_late"] = sum(op["numRowsDroppedByWatermark"] for op in ops)
        out["watermark.dup_dropped"] = sum(op["customMetrics"].get("numDroppedDuplicateRows", 0) for op in ops)
        out["otp.gen_lag_s.max"] = max(lag)
        out["otp.backlog_files.max"] = max(backlog)
        return out
