"""corpus_build: the LLM-data ingest-and-serve loop. Documents (text
plus an embedding payload) arrive in seeded micro-batches. Set-up
lands the first batch, which holds no near-copies, as the archive the
landed corpus starts from, and creates an empty ``PostingsIndex``.
Each pass, one new batch file arrives and a Structured Streaming
``availableNow`` + ``foreachBatch`` query (one checkpoint for the
whole run) drains it:

1. write op ``land``: deduplicate the batch against the landed corpus
   (MinHash LSH pairs, then ``connected_components`` over them; batch
   documents in a component are near-duplicates and are dropped), then
   land the survivors in the landed-corpus parquet later batches
   dedup against, and as a ``PostingsIndex`` segment;
2. read ops: BM25 searches against the live generation (base plus the
   new segment);
3. write op ``compact``: ``maybe_compact``, which folds the segment
   into a new base generation.

Reads interleave with writes on the same generational store, so a
landing change that slows serving shows in ``read_cpu_s`` while
``write_cpu_s`` improves."""

from __future__ import annotations

import decimal
import math
import os
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

import inputs as I
from harness import dir_bytes, reset_dir

BATCH_DOCS = 40
N_BATCHES = 12
COMPACT_AT = 1  # fold every landed segment, so every pass does the same work
COMPACT_FILES = 4  # files per store after a fold; the corpus is a few hundred rows
TOP_K = 10
N_BM25 = 4
BM25_TERMS = 3

DOC_SCHEMA = "doc_id BIGINT, text STRING, ce ARRAY<DOUBLE>"


class CorpusBuild:
    name = "corpus_build"
    max_passes = N_BATCHES  # one batch arrives per pass; set-up lands batch 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    # ------------------------------------------------------------ setup
    def setup_data(self) -> None:
        """Generate the seeded batches and search terms."""
        root = reset_dir(os.path.join(self.ctx.state, "corpus"))
        self.staged = os.path.join(root, "staged")
        self.arrivals = os.path.join(root, "arrivals")
        os.makedirs(self.arrivals)
        data = I.corpus(self.ctx.seed, BATCH_DOCS * N_BATCHES, N_BATCHES)
        I.write_corpus_batches(self.staged, data)
        self.batch_ids = data["batches"]
        self.texts = data["texts"]
        rng = np.random.default_rng([self.ctx.seed, 40])
        self.bm25_terms = [
            sorted(rng.choice(I.WORDS, BM25_TERMS, replace=False).tolist())
            for _ in range(N_BM25)
        ]

    def bootstrap(self) -> None:
        """The archive batch as the landed corpus, an empty text index
        and a fresh stream checkpoint."""
        from batch_processing_etl_orchestration_spark.operators.retrieval import PostingsIndex
        from batch_processing_etl_orchestration_spark.tables import empty_df

        spark, root = self.spark, os.path.join(self.ctx.state, "corpus")
        self.text_idx = os.path.join(root, "postings")
        self.landed = os.path.join(root, "landed")
        self.ckpt = os.path.join(root, "checkpoint")
        first_file = os.path.join(self.staged, I.batch_file(0))
        spark.read.schema(DOC_SCHEMA).parquet(first_file).write.parquet(self.landed)
        PostingsIndex.build(spark, empty_df(spark, "doc_id BIGINT, text STRING"), self.text_idx)
        self.arrived, self.dropped = len(self.batch_ids[0]), 0
        self.input_bytes = os.path.getsize(first_file)
        self.served: list[int] = []  # ids that arrived through the stream
        self.dropped_ids: list[int] = []

    def prepare_pass(self, pass_no: int) -> None:
        """The next batch arrives: its file moves into the directory the
        stream reads."""
        name = I.batch_file(pass_no)
        dst = os.path.join(self.arrivals, name)
        os.replace(os.path.join(self.staged, name), dst)
        self.arrived += len(self.batch_ids[pass_no])
        self.served.extend(self.batch_ids[pass_no])
        self.input_bytes += os.path.getsize(dst)

    # ------------------------------------------------------------- ops
    def _dedup(self, docs) -> list[int]:
        from batch_processing_etl_orchestration_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs_against,
        )

        corpus = self.spark.read.schema(DOC_SCHEMA).parquet(self.landed).select("doc_id", "text")
        pairs = minhash_lsh_pairs_against(docs, corpus)
        labels = connected_components(pairs.select("doc_a", "doc_b"))
        batch_ids = docs.select(F.col("doc_id").alias("id"))
        return sorted(r["id"] for r in labels.join(batch_ids, "id", "left_semi").collect())

    def _land(self, batch_df, batch_id: int) -> None:
        from batch_processing_etl_orchestration_spark.operators.retrieval import PostingsIndex

        tracer, counters = self.ctx.tracer, self.ctx.counters
        with tracer.span("operators.dedup"):
            dupes = self._dedup(batch_df.select("doc_id", "text"))
        self.dropped += len(dupes)
        self.dropped_ids.extend(dupes)
        keep = batch_df.where(~F.col("doc_id").isin(dupes)) if dupes else batch_df
        text = PostingsIndex(self.spark, self.text_idx)
        jobs0 = counters.next_job() if tracer.enabled else 0
        with tracer.span("operators.landing"):
            keep.select("doc_id", "text", "ce").write.mode("append").parquet(self.landed)
            text.add_segment(keep.select("doc_id", "text"), f"batch-{batch_id}")
        if tracer.enabled:
            self.ctx.add("operators.landing_jobs", counters.next_job() - jobs0)

    def _compact(self) -> None:
        from batch_processing_etl_orchestration_spark.operators.retrieval import PostingsIndex

        with self.ctx.tracer.span("operators.compact"):
            PostingsIndex(self.spark, self.text_idx).maybe_compact(COMPACT_AT, COMPACT_FILES)

    def _bm25(self, terms: list[str]):
        from batch_processing_etl_orchestration_spark.operators.retrieval import (
            PostingsIndex,
            bm25_topk,
        )

        with self.ctx.tracer.span("operators.search"):
            idx = PostingsIndex(self.spark, self.text_idx)
            return [tuple(r) for r in bm25_topk(idx.postings(), idx.doclens(), terms, k=TOP_K).collect()]

    def _sink(self, batch_df, batch_id: int) -> None:
        op = self.ctx.op
        op("write", "land", lambda: self._land(batch_df, batch_id))
        for i, terms in enumerate(self.bm25_terms):
            op("read", f"bm25-{i}", lambda: self._bm25(terms))
        op("write", "compact", self._compact)

    def run_pass(self, pass_no: int) -> None:
        stream = (
            self.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(self.arrivals)
        )
        query = (
            stream.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"drain failed: {query.exception()}")
        if self.ctx.tracer.enabled:
            for p in query.recentProgress:
                d = p.durationMs
                trig, add = d.get("triggerExecution", 0) / 1e3, d.get("addBatch", 0) / 1e3
                self.ctx.add("streaming.trigger_s", trig)
                self.ctx.add("streaming.add_batch_s", add)
                self.ctx.add("streaming.overhead_s", trig - add)

    # ---------------------------------------------------------- checks
    def stored_bytes(self) -> int:
        """Bytes under the text index and the landed corpus;
        ``input_bytes`` counts the batch files that have arrived."""
        return sum(dir_bytes(p) for p in (self.text_idx, self.landed))

    def check(self) -> list[str]:
        """Every arrived document either landed or was dropped as a
        near-dup, and BM25 top-k over the live (compacted) index equals
        an independent BM25 over the indexed texts."""
        wrong = []
        n_landed = self.spark.read.schema(DOC_SCHEMA).parquet(self.landed).count()
        if n_landed + self.dropped != self.arrived:
            wrong.append(f"{n_landed} landed + {self.dropped} dropped != {self.arrived} arrived")
        indexed = sorted(set(self.served) - set(self.dropped_ids))
        terms = sorted({t for ts in self.bm25_terms for t in ts})
        got = self._bm25(terms)
        want = bm25_reference({d: self.texts[d] for d in indexed}, terms, TOP_K)
        if [g[:2] for g in got] != [w[:2] for w in want] or any(
                abs(g[2] - w[2]) > 2e-6 for g, w in zip(got, want)):
            wrong.append(f"bm25 {terms}: live index differs from the reference")
        return wrong

    def pass_metrics(self) -> dict[str, float]:
        return {}


def bm25_reference(docs: dict[int, str], terms: list[str], k: int,
                   k1: float = 1.2, b: float = 0.75) -> list[tuple]:
    """Okapi BM25 top-k in plain Python, with ``bm25_topk``'s
    conventions: space-split tokens, idf = ln(1 + (N - df + .5)/(df +
    .5)), per-doc sum of term scores rounded at 1e-9, score rounded to
    6 places (half up), ties broken by ascending doc id. Returns
    ``(doc_id, terms_matched, score)`` rows."""
    def half_up(x: float, places: str) -> float:
        return float(decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(places), rounding=decimal.ROUND_HALF_UP))

    tfs = {d: Counter(t.split(" ")) for d, t in docs.items()}
    dls = {d: len(t.split(" ")) for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(dls.values()) / n
    qs = set(terms)
    df = {w: sum(1 for c in tfs.values() if w in c) for w in qs}
    rows = []
    for d, c in tfs.items():
        hit = [w for w in qs if w in c]
        if not hit:
            continue
        total = 0
        for w in hit:
            idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
            ts = idf * (c[w] * (k1 + 1)) / (c[w] + k1 * (1 - b + b * dls[d] / avgdl))
            total += int(half_up(ts * 1e9, "1"))
        rows.append((d, len(hit), half_up(total / 1e9, "1e-6")))
    rows.sort(key=lambda r: (-r[2], r[0]))
    return rows[:k]
