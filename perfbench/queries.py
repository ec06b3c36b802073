"""``queries``: registered relational and text-dedup queries, closed loop.

One client runs whole passes over QUERIES back to back while the
measured window lasts, at least one, on a seeded fixture
(``fixture.write_tables`` at SF); each pass goes in a new seeded order
and is one op. One
execution is the registry call that returns the DataFrame (build,
including any eager jobs) followed by a ``noop`` write (exec). The
warm-up pass runs every query once, cold, and collects its result for
the checks. None of the queries serves a trained store cached across
calls (``llm_sim_ivfpq`` trains its quantizers inside the call), so there
is no separate artifact step.

Checks, outside the timing, on the warm-up results: every query with a
DuckDB oracle returns the oracle's row multiset on the same files
(columns matched by name, floats to 9 digits): all of them but
``llm_sim_ivfpq``, which must return exactly k rows per query vector with
a recall against an exact numpy top-k of at least RECALL_FLOOR.
"""

from __future__ import annotations

import collections
import concurrent.futures
import datetime
import decimal
import os
import statistics
import time

import numpy as np

import fixture

SF = 0.01
RELATIONAL = ("agg_groupby", "join_broadcast", "join_asof", "win_rank", "pipeline_otp_ingest")
TEXT = ("llm_exact_dedup", "llm_sim_ivfpq", "llm_bm25_topk")
QUERIES = RELATIONAL + TEXT
WARMUP_THREADS = 4
RECALL_FLOOR = 0.3


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    return v


def multiset(columns: list[str], rows) -> tuple[tuple[str, ...], collections.Counter]:
    """Order-insensitive form of a result: columns sorted by lower-cased
    name, and the multiset of normalized rows in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return (
        tuple(columns[i].lower() for i in order),
        collections.Counter(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def exact_topk(emb, k: int) -> set[tuple[int, int]]:
    """(query_id, vec_id) pairs of the exact cosine top-k for every query
    vector (vec_id % 100 == 0), ties broken by vec_id."""
    ids = np.array(emb["vec_id"].to_pylist())
    X = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    out = set()
    for q in np.flatnonzero(ids % 100 == 0):
        cos = np.round(X @ X[q], 12)
        for j in np.lexsort((ids, -cos))[:k]:
            out.add((int(ids[q]), int(ids[j])))
    return out


class Queries:
    name = "queries"

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 4])
        self.sf_dir = ""
        self.tables: dict = {}
        self.fns: dict = {}
        self.results: dict = {}

    def inputs(self, h, out_dir: str) -> None:
        self.sf_dir = os.path.join(out_dir, "sf")
        self.tables = fixture.write_tables(self.sf_dir, self.seed, SF)

    def artifacts(self, h) -> None:
        """No query here serves a cached artifact."""

    def _order(self) -> list[str]:
        return [QUERIES[i] for i in self.rng.permutation(len(QUERIES))]

    def _execute(self, h, name: str, group: str | None) -> tuple[float, float]:
        """One execution: (build seconds, exec seconds)."""
        sc = h.spark.sparkContext
        if group:
            sc.setJobGroup(group, f"queries {name}")
        try:
            t0 = time.perf_counter()
            df = self.fns[name](h.spark, self.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return t1 - t0, time.perf_counter() - t1
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def begin(self, h, traced: bool) -> float:
        """Warm-up pass, collecting every result; returns its wall time. The
        queries share no state, so the pass runs WARMUP_THREADS queries
        at a time."""
        from data_ingestion_experiment_otp_spark.plans.registry import all_queries

        specs = all_queries()
        self.fns = {n: specs[n].fn for n in QUERIES}
        self.oracles = {n: specs[n].oracle for n in QUERIES if specs[n].oracle}

        def collect(n):
            df = self.fns[n](h.spark, self.sf_dir)
            return n, (df.columns, df.collect())

        t0 = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(WARMUP_THREADS) as pool:
            self.results = dict(pool.map(collect, self._order()))
        return time.perf_counter() - t0

    def measure(self, h, traced: bool) -> dict:
        """Closed loop: whole passes back to back while the window lasts
        (at least one), each in a fresh seeded order. An op is a pass."""
        passes, groups, spans, failed, errors = [], {}, collections.defaultdict(list), 0, []
        with h.timed() as meter:
            end = time.perf_counter() + h.seconds
            while not passes or time.perf_counter() < end:
                wall = 0.0
                for n in self._order():
                    group = f"p{len(passes)}-{n}" if traced else None
                    try:
                        build, run = self._execute(h, n, group)
                    except Exception as e:  # noqa: BLE001 - a failed execution is counted, the loop goes on
                        failed += 1
                        errors.append(f"{n} pass {len(passes)}: {e!r}"[:300])
                        continue
                    wall += build + run
                    spans[n].append((build, run))
                    if group:
                        groups[group] = build + run
                passes.append(wall)
        med = statistics.median
        layers = {}
        if traced:
            for n in QUERIES:
                if spans[n]:
                    layers[f"query.{n}.build_s"] = med(b for b, _ in spans[n])
                    layers[f"query.{n}.exec_s"] = med(r for _, r in spans[n])
        executed = sum(len(v) for v in spans.values())
        return dict(
            ops=passes,
            n_ops=len(passes),
            items=executed,
            items_s=sum(passes),
            attempted=executed + failed,
            failed=failed,
            errors=errors,
            groups=groups,
            layers=layers,
            cpu_s=meter.cpu_s,
            peak_rss_mb=meter.peak_rss_mb,
            steal_ratio=meter.steal_ratio,
        )

    def finish(self, h) -> tuple[int, list[str], dict]:
        """Result checks on the warm-up results; returns (failed, errors,
        layers)."""
        import duckdb

        from data_ingestion_experiment_otp_spark.operators.similarity import _TOP_K

        errors = []
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
            for n in QUERIES:
                cols, rows = self.results[n]
                if n in self.oracles:
                    cur = con.execute(self.oracles[n])
                    want = multiset([d[0] for d in cur.description], cur.fetchall())
                    if multiset(cols, rows) != want:
                        errors.append(f"{n}: result differs from the DuckDB oracle")
                elif n == "llm_sim_ivfpq":
                    got = {(r["query_id"], r["vec_id"]) for r in rows}
                    per_query = collections.Counter(q for q, _ in got)
                    exact = exact_topk(self.tables["embeddings"], _TOP_K)
                    recall = len(got & exact) / len(exact) if exact else 0.0
                    if set(per_query.values()) != {_TOP_K} or recall < RECALL_FLOOR:
                        errors.append(f"{n}: {dict(per_query)} rows per query, recall {recall:.2f}")
        finally:
            con.close()
        return len(errors), errors, {}
