"""``corpus_ingest``: the streaming corpus ladder, closed loop.

One ``streaming.corpus_pipeline.corpus_ingest_epoch`` call per epoch against
a fresh store root, with all twelve stages on (domain gate, exact, near and
semantic dedup screens, model, decontamination, trained-LM and DSIR
selection gates, then curation, vector index, text index and span screen
on a 2-wide tail pool). The feed is a seeded 5,000-doc corpus (the size of
the package's sf0.1 ``documents``) joined with its embeddings, permuted
and cut into six equal epochs of 833 docs; every epoch also re-sends a
seeded share of the docs sent so far, its own included, byte-identically
(exact redelivery) and another share under new doc ids with a few words
changed (near-duplicates).

The closed loop times epochs from the first one, on fresh stores, for
the window but at least MIN_TIMED of them. At the window the benchmark
runs under, that is the first epoch alone: one epoch costs about half a
run (the artifacts the other half), and the benchmark's time budget has
room for one. So the dedup screens see their own epoch's redeliveries
and near-duplicates, not an index grown by earlier epochs.

Checks, outside the timing: the domain gate and exact screen admit exactly
the doc ids an independent model of the two stages admits (so no
redelivered doc is ever admitted), and every later gate splits its input
into disjoint accepted and audit id sets that cover it.
"""

from __future__ import annotations

import concurrent.futures
import hashlib
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import fixture
import probe

N_DOCS = 5000
EPOCH_DOCS = 833
REDELIVER_SHARE = 0.1
NEAR_SHARE = 0.1
NEAR_EDITS = 3
# epochs every run times, so the funnel prefix the admit ratios count is
# fixed; there is no warm-up epoch (see begin())
MIN_TIMED = 1
BLOCKED_MOD13 = (3, 7, 11)  # provenance blocklist d3/d7/d11.example.org

# (stage, accepted store, audit store) in ladder order; each stage's input
# is the previous stage's accepted store (the feed for the first)
GATES = (
    ("dom", "dom_accepted", "dom_audit"),
    ("screen", "accepted", None),
    ("near", "near_accepted", "near_audit"),
    ("sem", "sem_accepted", "sem_audit"),
    ("gate", "gate_accepted", "gate_audit"),
    ("decon", "decon_accepted", "decon_audit"),
    ("ppl", "ppl_accepted", "ppl_audit"),
    ("select", "sel_accepted", "sel_audit"),
)
STAGES = ("dom", "screen", "near", "sem", "gate", "decon", "ppl", "select", "curate", "vindex", "tindex", "spans")
TAIL = ("curate", "vindex", "tindex", "spans")
INDEXES = ("dedup_index", "shingle_index", "gram_index", "sem_index", "vector_index", "text_index")
# sink factories the epoch builder looks up at call time: (module, attr, stage)
FACTORIES = (
    ("corpus_pipeline", "corpus_dedup_sink", "screen"),
    ("corpus_pipeline", "span_screen_sink", "spans"),
    ("corpus_pipeline", "curation_sink", "curate"),
    ("corpus_pipeline", "text_index_sink", "tindex"),
    ("corpus_pipeline", "vector_index_sink", "vindex"),
    ("corpus_index", "neardup_screen_sink", "near"),
    ("corpus_index", "semdedup_screen_sink", "sem"),
    ("curation", "domain_gate_sink", "dom"),
    ("curation", "classifier_gate_sink", "gate"),
    ("curation", "decon_gate_sink", "decon"),
    ("curation", "ppl_gate_sink", "ppl"),
    ("curation", "dsir_gate_sink", "select"),
)


def make_feed(seed: int, docs: pa.Table, emb: pa.Table) -> list[pa.Table]:
    """The epoch feed: (doc_id, source, n_chars, text, embedding) per epoch."""
    rng = np.random.default_rng([seed, 1])
    vec = dict(zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist()))
    base = [
        {"doc_id": d, "source": s, "n_chars": n, "text": t, "embedding": vec.get(d)}
        for d, s, n, t in zip(
            docs["doc_id"].to_pylist(), docs["source"].to_pylist(), docs["n_chars"].to_pylist(), docs["text"].to_pylist()
        )
    ]
    order = rng.permutation(len(base))
    words = np.array(fixture.WORDS, dtype=object)
    next_id = len(base)
    sent: list[dict] = []
    epochs = []
    for b in range(len(base) // EPOCH_DOCS):
        rows = [base[i] for i in order[b * EPOCH_DOCS : (b + 1) * EPOCH_DOCS]]
        sent += rows
        n_re = int(EPOCH_DOCS * REDELIVER_SHARE)
        n_near = int(EPOCH_DOCS * NEAR_SHARE)
        picks = rng.choice(len(sent), n_re + n_near, replace=False)
        rows += [sent[i] for i in picks[:n_re]]
        for i in picks[n_re:]:
            src = sent[i]
            toks = src["text"].split(" ")
            for at in rng.choice(len(toks), NEAR_EDITS, replace=False):
                # a different word, so the copy never equals its source
                toks[at] = rng.choice(words[words != toks[at]])
            text = " ".join(toks)
            rows.append({**src, "doc_id": next_id, "text": text, "n_chars": len(text)})
            next_id += 1
        rows = [rows[i] for i in rng.permutation(len(rows))]
        epochs.append(
            pa.Table.from_pylist(
                rows,
                schema=pa.schema(
                    [
                        ("doc_id", pa.int64()),
                        ("source", pa.string()),
                        ("n_chars", pa.int64()),
                        ("text", pa.string()),
                        ("embedding", pa.list_(pa.float32())),
                    ]
                ),
            )
        )
    return epochs


def expected_screen(feed: list[pa.Table]) -> list[tuple[list[int], list[int]]]:
    """Independent model of the domain gate and exact screen: per epoch,
    the (dom-admitted, exact-admitted) doc id lists."""
    seen: set[str] = set()
    out = []
    for t in feed:
        dom, acc = [], []
        for d, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
            if d % 13 in BLOCKED_MOD13:
                continue
            dom.append(d)
            h = hashlib.sha256(text.encode()).hexdigest()
            if h not in seen:
                seen.add(h)
                acc.append(d)
        out.append((sorted(dom), sorted(acc)))
    return out


def _ids(store: str, batch_id: int) -> list[int]:
    path = os.path.join(store, f"batch_id={batch_id}")
    if not os.path.isdir(path):
        return []
    return sorted(ds.dataset(path, format="parquet").to_table(columns=["doc_id"])["doc_id"].to_pylist())


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class CorpusIngest:
    name = "corpus_ingest"

    def __init__(self, seed: int):
        self.seed = seed
        self.feed_dir = ""
        self.sf_dir = ""
        self.feed: list[pa.Table] = []
        self.params: dict = {}
        self.root = ""
        self.epoch = None
        self.next = 0  # next epoch to run
        self.timer = probe.StageTimer()

    def inputs(self, h, out_dir: str) -> None:
        self.sf_dir = os.path.join(out_dir, "sf")
        tables = fixture.write_corpus(self.sf_dir, self.seed, N_DOCS)
        self.feed = make_feed(self.seed, tables["documents"], tables["embeddings"])
        self.feed_dir = os.path.join(out_dir, "feed")
        for b, t in enumerate(self.feed):
            os.makedirs(os.path.join(self.feed_dir, f"epoch={b}"))
            pq.write_table(t, os.path.join(self.feed_dir, f"epoch={b}", "part-0.parquet"))

    def artifacts(self, h) -> None:
        """The calibrate-once inputs every stage serves, built the way the
        package builds them for its own benchmark. The builders are
        independent, so they run concurrently, one thread each."""
        from pyspark.sql import functions as F

        from data_ingestion_experiment_otp_spark.operators.clustering import sem_model_dir
        from data_ingestion_experiment_otp_spark.operators.ngram_lm import ppl_gate_calibration
        from data_ingestion_experiment_otp_spark.operators.provenance import _BLOCKLIST
        from data_ingestion_experiment_otp_spark.operators.sampling import dsir_calibration
        from data_ingestion_experiment_otp_spark.operators.text_analysis import qct_trained_weights
        from data_ingestion_experiment_otp_spark.sources.catalog import load
        from data_ingestion_experiment_otp_spark.streaming.curation import benchmark_shingles

        spark, sf = h.spark, self.sf_dir
        docs = load(spark, sf, "documents")
        builders = dict(
            centroids=lambda: load(spark, sf, "embeddings")
            .orderBy("vec_id")
            .limit(4)
            .select("vec_id", "embedding")
            .collect(),
            sem_model=lambda: sem_model_dir(spark, sf),
            gate_weights=lambda: qct_trained_weights(spark, sf),
            decon_hashes=lambda: benchmark_shingles(
                docs.filter(F.pmod("doc_id", F.lit(fixture.BENCH_EVERY)) == 0).select("text")
            ),
            ppl_calib=lambda: ppl_gate_calibration(spark, sf),
            select_calib=lambda: dsir_calibration(spark, sf),
        )
        with concurrent.futures.ThreadPoolExecutor(len(builders)) as pool:
            futures = {k: pool.submit(fn) for k, fn in builders.items()}
        self.params = {k: f.result() for k, f in futures.items()}
        self.params.update(
            quality_min={"*": 0.0},
            span_screen=True,
            near_dedup=True,
            domain_blocklist=list(_BLOCKLIST),
        )

    def _build(self, traced: bool):
        """The epoch function; in a traced run its sinks are timed."""
        from data_ingestion_experiment_otp_spark.streaming import corpus_index, corpus_pipeline, curation

        modules = {"corpus_pipeline": corpus_pipeline, "corpus_index": corpus_index, "curation": curation}
        if traced:
            for mod, attr, stage in FACTORIES:
                self.timer.wrap(modules[mod], attr, stage)
        try:
            self.epoch = corpus_pipeline.corpus_ingest_epoch(self.root, **self.params)
        finally:
            self.timer.restore()

    def _run_epoch(self, h, group: bool) -> float:
        b = self.next
        self.next += 1
        sc = h.spark.sparkContext
        df = h.spark.read.parquet(os.path.join(self.feed_dir, f"epoch={b}"))
        if group:
            sc.setJobGroup(f"epoch-{b}", f"corpus_ingest epoch {b}")
        try:
            t0 = time.perf_counter()
            self.epoch(df, b)
            return time.perf_counter() - t0
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def begin(self, h, traced: bool) -> float:
        """Fresh store root and the epoch function; returns 0. There is no
        warm-up epoch: the artifact builds have already run the JVM and
        the Python workers through the same kernels, a first epoch costs
        only ~20% more than a later one, and a warm-up epoch would cost
        as much as the timed one."""
        self.root = h.fresh_dir("stores")
        self._build(traced)
        return 0.0

    def measure(self, h, traced: bool) -> dict:
        """Closed loop: epochs back to back for h.seconds (at least
        MIN_TIMED of them) on the stores begin() started."""
        self.timer.take()
        walls, spans, groups, failed, errors, docs = [], [], {}, 0, [], 0
        unspanned = 0  # traced epochs with a stage whose sink was never timed
        with h.timed() as meter:
            end = time.perf_counter() + h.seconds
            while self.next < len(self.feed) and (len(walls) + failed < MIN_TIMED or time.perf_counter() < end):
                b = self.next
                try:
                    wall = self._run_epoch(h, group=traced)
                except Exception as e:  # noqa: BLE001 - a failed epoch is counted, the loop goes on
                    failed += 1
                    errors.append(f"epoch {b}: {e!r}"[:300])
                    continue
                walls.append(wall)
                docs += self.feed[b].num_rows
                groups[f"epoch-{b}"] = wall
                ss = self.timer.take()
                untimed = set(STAGES) - {name for name, _, _ in ss}
                if traced and untimed:
                    unspanned += 1
                    errors.append(f"epoch {b}: no sink call timed for {', '.join(sorted(untimed))}")
                spans.append((wall, ss))
        return dict(
            ops=walls,
            n_ops=len(walls),
            items=docs,
            items_s=sum(walls),
            attempted=len(walls) + failed,
            failed=failed + unspanned,
            errors=errors,
            groups=groups,
            layers=self.stage_layers(spans) if traced else {},
            cpu_s=meter.cpu_s,
            peak_rss_mb=meter.peak_rss_mb,
            steal_ratio=meter.steal_ratio,
        )

    def finish(self, h) -> tuple[int, list[str], dict]:
        """Checks over every epoch run; returns (failed, errors, layers)."""
        self.epoch.close()
        bad, layers = self.check(self.root, self.next)
        return bad, [f"{bad} epochs failed the store checks"] if bad else [], layers

    def check(self, root: str, ran: int) -> tuple[int, dict]:
        """Count epochs whose stores break the screen model or a gate's
        accept/audit partition of its input; collect funnel and store
        layers."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import corpus_ingest_dirs

        dirs = corpus_ingest_dirs(root)
        model = expected_screen(self.feed[:ran])
        bad_epochs = set()
        admitted = {g: 0 for g, _, _ in GATES}
        offered = {g: 0 for g, _, _ in GATES}
        for b in range(ran):
            inp = sorted(self.feed[b]["doc_id"].to_pylist())
            for g, acc_store, audit_store in GATES:
                acc = _ids(dirs[acc_store], b)
                if audit_store is not None:
                    aud = _ids(dirs[audit_store], b)
                    if set(acc) & set(aud) or sorted(set(acc) | set(aud)) != sorted(set(inp)):
                        bad_epochs.add(b)
                if g == "dom" and acc != model[b][0]:
                    bad_epochs.add(b)
                if g == "screen" and acc != model[b][1]:
                    bad_epochs.add(b)
                if b < MIN_TIMED:
                    admitted[g] += len(acc)
                    offered[g] += len(inp)
                inp = acc
        layers = {f"ingest.admit_ratio.{g}": admitted[g] / offered[g] if offered[g] else 0.0 for g, _, _ in GATES}
        files = size = 0
        for store in os.listdir(root):
            f, s = _dir_stats(os.path.join(root, store))
            files += f
            size += s
            if store in INDEXES:
                layers[f"ingest.index_mb.{store}"] = s / 2**20
        layers["ingest.files_written"] = files / ran
        layers["ingest.bytes_written_mb"] = size / 2**20 / ran
        return len(bad_epochs), layers

    @staticmethod
    def stage_layers(spans: list) -> dict:
        """Per-stage medians over the timed epochs from the wrapped sinks."""
        if not spans:
            return {}
        per = {s: [] for s in STAGES}
        tail_wall, overlap, glue = [], [], []
        for wall, ss in spans:
            got = {s: 0.0 for s in STAGES}
            for name, t0, t1 in ss:
                got[name] += t1 - t0
            for s in STAGES:
                per[s].append(got[s])
            tail = [(t0, t1) for name, t0, t1 in ss if name in TAIL]
            tw = max(t1 for _, t1 in tail) - min(t0 for t0, _ in tail) if tail else 0.0
            tail_wall.append(tw)
            overlap.append(sum(got[s] for s in TAIL) / tw if tw > 0 else 0.0)
            serial = sum(got[s] for s in STAGES if s not in TAIL)
            glue.append(wall - serial - tw)
        med = statistics.median
        out = {f"ingest.stage.{s}_s": med(v) for s, v in per.items()}
        out["ingest.tail_wall_s"] = med(tail_wall)
        out["ingest.tail_overlap"] = med(overlap)
        out["ingest.glue_s"] = med(glue)
        return out
