"""operators/retrieval.py — inverted index, AND search, BM25."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.operators.retrieval import (
    PostingsIndex,
    bm25_topk,
    build_postings,
    doc_lengths,
    search_all_terms,
)
from batch_processing_etl_orchestration_spark.tables import load_table

# Upper bound on the Spark jobs of PostingsIndex.compact_segments folding
# one small segment (test_segment_add_then_compact_equivalence), as
# measured: the fold records its sidecar from the doclens write and
# reads its stores back with the schemas it wrote, so it runs no
# read-back aggregation and no schema-inference job; token positions
# ride in postings, so it writes three stores; a fold of a few docs
# writes one file per store, so no store write samples range bounds.
FOLD_JOBS = 7
# The same bound for folding one segment and one tombstone into an
# impact-blocked PostingsIndex and into an IvfIndex
# (test_fold_equals_fresh_build_of_live_docs): the impact fold
# computes its block offsets from one collected histogram.
IMPACT_FOLD_JOBS = 20
IVF_FOLD_JOBS = 12
# Upper bound on the Spark jobs of an append-only add_segment onto a
# folded PostingsIndex (test_append_landing_on_folded_index_jobs), the
# shape of every landing in a stream that folds each segment, as
# measured: the sidecar intervals prove the batch disjoint, so the
# landing never reads the live ids.
LANDING_JOBS = 12


@pytest.fixture(scope="module")
def idx(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path_factory.mktemp("idx") / "postings")
    return PostingsIndex.build(spark, docs, path), docs


def test_and_search_matches_bruteforce(spark, idx):
    index, docs = idx
    got = {
        r["doc_id"]: r["total_tf"]
        for r in search_all_terms(index.postings(), ["join", "hash"]).collect()
    }
    # brute force: docs whose token set contains both words
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).select(
        "doc_id",
        F.array_contains("t", "join").alias("a"),
        F.array_contains("t", "hash").alias("b"),
        (
            F.size(F.filter("t", lambda w: w == "join"))
            + F.size(F.filter("t", lambda w: w == "hash"))
        ).alias("tf"),
    )
    want = {
        r["doc_id"]: r["tf"]
        for r in toks.where(F.col("a") & F.col("b")).collect()
    }
    assert got == want and len(got) > 0


def test_term_lookup_prunes_posting_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Range clustering gives each posting file a compact word range;
    a single-term lookup's [term, term] interval overlaps ~1 of 16
    files — the same footer-stats skip decision as zorder_by's audit.
    Files scale with docs, so 32 docs per file spreads the fixture's
    documents over the 16-file cap."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(PostingsIndex, "_DOCS_PER_FILE", 32)
    index = PostingsIndex.build(
        spark, load_table(spark, sf_dir, "documents"), str(tmp_path / "idx")
    )
    pdir = os.path.join(index._gen(), "postings")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(files) > 4
    hit = 0
    for f in files:
        md = pq.read_metadata(os.path.join(pdir, f))
        for rg in range(md.num_row_groups):
            c = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "word"
            )
            if c.statistics.min <= "join" <= c.statistics.max:
                hit += 1
                break
    assert hit <= max(2, len(files) // 4), (hit, len(files))


def test_bm25_sane_and_deterministic(spark, idx):
    index, docs = idx
    top = bm25_topk(index.postings(), index.doclens(), ["join", "hash", "scan"], k=10)
    rows = top.collect()
    assert len(rows) == 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_terms_matched"] <= 3 for r in rows)
    # rare terms outrank common ones: a doc matching all 3 terms with
    # high tf should beat a doc matching 1 — spot-check monotonicity
    one = bm25_topk(index.postings(), index.doclens(), ["join"], k=5).collect()
    assert all(r["n_terms_matched"] == 1 for r in one)
    # determinism across rebuilds
    rows2 = bm25_topk(
        index.postings(), index.doclens(), ["join", "hash", "scan"], k=10
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_doc_lengths_no_shuffle(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = doc_lengths(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_postings_tf_sums_to_doc_length(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    total_tf = build_postings(docs).agg(F.sum("tf")).first()[0]
    total_dl = doc_lengths(docs).agg(F.sum("dl")).first()[0]
    assert total_tf == total_dl


def test_phrase_search_exact_and_repeated_terms(spark):
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        build_positional_postings,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat the mat"),
            (2, "the cat sat on the cat the"),
            (3, "cat the the cat"),
            (4, "the the the"),
        ],
        "doc_id BIGINT, text STRING",
    )
    pos = build_positional_postings(docs)
    # simple phrase
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search(pos, ["the", "cat"]).collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}
    # phrase with a REPEATED term: "the cat the" — slot-distinct
    # counting must not let two different "the" occurrences satisfy
    # one slot
    got2 = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search(pos, ["the", "cat", "the"]).collect()
    }
    assert got2 == {1: 1, 2: 1}


def test_phrase_scan_prunes_to_terms(spark, idx):
    """The positional scan must push the term IN-filter into parquet."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        phrase_search,
    )

    index, _ = idx
    plan = (
        phrase_search(index.positions(), ["slow", "hash"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "word" in plan.split("PushedFilters")[1][:200]


def test_proximity_same_term_pairs_distinct_occurrences(spark):
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        build_positional_postings,
        proximity_search,
    )

    docs = spark.createDataFrame(
        [(1, "hash a b hash"), (2, "hash only once"), (3, "a hash hash b")],
        "doc_id BIGINT, text STRING",
    )
    pos = build_positional_postings(docs)
    got = {
        r["doc_id"]: (r["n_pairs"], r["min_gap"])
        for r in proximity_search(pos, "hash", "hash", window=5).collect()
    }
    # doc 2 has a single occurrence: no self-pair; gaps are real
    assert got == {1: (1, 3), 3: (1, 1)}


def _sidecar(idx):
    """The live base generation's store-stats sidecar."""
    return idx._read_stats(idx._gen())


def test_segment_add_then_compact_equivalence(spark, tmp_path, count_jobs):
    """Segmented reads ≡ monolithic build; compact_segments folds
    generations and preserves every store row exactly, and the folded
    sidecar equals the monolithic build's. The fold of this
    one-segment index is pinned at an upper bound on its Spark jobs
    (a rise fails here, not at benchmark time)."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    docs = spark.createDataFrame(
        [
            (1, "hash join scan"),
            (2, "scan scan filter"),
            (3, "join hash hash"),
            (4, "filter merge sort"),
        ],
        "doc_id BIGINT, text STRING",
    )
    base = docs.where("doc_id <= 2")
    batch = docs.where("doc_id > 2")
    mono = PostingsIndex.build(spark, docs, str(tmp_path / "mono"))
    seg = PostingsIndex.build(spark, base, str(tmp_path / "seg"))
    seg.add_segment(batch, "b1")

    def snap(idx):
        return (
            sorted(tuple(r) for r in idx.postings().collect()),
            sorted(tuple(r) for r in idx.doclens().collect()),
            sorted(tuple(r) for r in idx.positions().collect()),
        )

    assert snap(seg) == snap(mono)
    n_folded, n_jobs = count_jobs(seg.compact_segments)
    assert n_folded == 1
    assert n_jobs <= FOLD_JOBS, n_jobs
    assert seg._segment_dirs() == []  # folded
    assert snap(seg) == snap(mono)  # row-identical after the merge
    assert seg.corpus_stats() == mono.corpus_stats() == (4, 12)
    assert _sidecar(seg) == _sidecar(mono) == {
        "n_docs": 4, "total_dl": 12, "id_lo": 1, "id_hi": 4,
    }


def test_append_landing_on_folded_index_jobs(
    spark, tmp_path, count_jobs, monkeypatch
):
    """An append-only landing onto a folded index runs at most
    LANDING_JOBS Spark jobs and never builds the live-id scan (a rise
    fails here, not at benchmark time)."""
    idx = PostingsIndex.build(
        spark,
        spark.createDataFrame(
            [(1, "hash join scan"), (2, "scan scan filter")],
            "doc_id BIGINT, text STRING",
        ),
        str(tmp_path / "idx"),
    )
    idx.add_segment(
        spark.createDataFrame([(3, "join hash")], "doc_id BIGINT, text STRING"),
        "b1",
    )
    assert idx.compact_segments() == 1

    def no_scan(*args, **kw):
        raise AssertionError("append-only landing read the live ids")

    monkeypatch.setattr(PostingsIndex, "_live_ids", no_scan)
    batch = spark.createDataFrame(
        [(4, "filter merge sort"), (5, "hash scan")],
        "doc_id BIGINT, text STRING",
    )
    _, n_jobs = count_jobs(lambda: idx.add_segment(batch, "b2"))
    assert n_jobs <= LANDING_JOBS, n_jobs
    monkeypatch.undo()
    assert {r["doc_id"] for r in idx.doclens().collect()} == {1, 2, 3, 4, 5}


@pytest.fixture
def parquet_write_options(monkeypatch):
    """{path: options} of every DataFrameWriter.parquet call."""
    from pyspark.sql.readwriter import DataFrameWriter

    pending, written = {}, {}
    option, parquet = DataFrameWriter.option, DataFrameWriter.parquet

    def spy_option(self, key, value):
        pending.setdefault(id(self), {})[key] = str(value)
        return option(self, key, value)

    def spy_parquet(self, path, *args, **kwargs):
        written[os.path.normpath(path)] = pending.pop(id(self), {})
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "option", spy_option)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    return written


@pytest.mark.parametrize("family", ["postings", "impact", "ivf"])
def test_fold_equals_fresh_build_of_live_docs(
    spark, tmp_path, count_jobs, parquet_write_options, family
):
    """Folding a segment and a tombstone yields, store by store, what
    a fresh build over the live docs writes: the same rows, sidecar
    and files per store, and postings keep the 2 MB row-group cap.
    A PostingsIndex sizes its files by doc count under the n_files
    cap, so 60 docs fold into one file per store.
    Build, landing and fold share one layout per store, so a fold
    cannot drift from the build (a fold that dropped the row-group
    cap once made block-max pruning a no-op). The fold's Spark jobs
    are pinned."""
    import glob
    import random

    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(25)]
    dead = spark.createDataFrame([(7,)], "id BIGINT")
    if family == "ivf":
        docs = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
            "cand_id BIGINT, ce ARRAY<DOUBLE>",
        )
        cent = [(c, [rng.uniform(-1, 1) for _ in range(8)]) for c in range(4)]

        def build(df, name):
            return IvfIndex.build(
                spark, df, str(tmp_path / name), dim=8, centroids=cent
            )

        live = docs.where("cand_id <> 7")
        stores, n_files, bound = IvfIndex._STORES, 8, IVF_FOLD_JOBS
        idx = build(docs.where("cand_id < 40"), "fold")
        idx.add_segment(docs.where("cand_id >= 40"), "s1")
        idx.delete_vectors(dead, id_col="id")
    else:
        docs = spark.createDataFrame(
            [
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
                for i in range(60)
            ],
            "doc_id BIGINT, text STRING",
        )

        def build(df, name):
            return PostingsIndex.build(
                spark, df, str(tmp_path / name),
                impact_ordered=family == "impact",
            )

        live = docs.where("doc_id <> 7")
        stores, n_files = PostingsIndex._STORES, 16
        bound = IMPACT_FOLD_JOBS if family == "impact" else None
        idx = build(docs.where("doc_id < 40"), "fold")
        idx.add_segment(docs.where("doc_id >= 40"), "s1")
        idx.delete_docs(dead, id_col="id")

    n_folded, n_jobs = count_jobs(lambda: idx.compact_segments(n_files))
    assert n_folded == 1
    if bound is not None:
        assert n_jobs <= bound, n_jobs
    fresh = build(live, "fresh")
    folded_gen, fresh_gen = idx._gen(), fresh._gen()
    assert idx._segment_dirs() == [] and not idx.has_tombstones()
    assert idx._meta() == fresh._meta()
    assert idx._read_stats(folded_gen) == fresh._read_stats(fresh_gen)

    def files(gen, store):
        return len(
            glob.glob(os.path.join(gen, store, "**", "part-*"), recursive=True)
        )

    for store in stores:
        got, want = (
            sorted(
                tuple(r)
                for r in spark.read.parquet(os.path.join(g, store)).collect()
            )
            for g in (folded_gen, fresh_gen)
        )
        assert got == want and got, store
        assert files(folded_gen, store) == files(fresh_gen, store), store
        if family != "ivf":
            assert files(folded_gen, store) == 1, store
    if family != "ivf":
        for gen in (folded_gen, fresh_gen):
            opts = parquet_write_options[os.path.join(gen, "postings")]
            assert opts["parquet.block.size"] == str(2 * 1024 * 1024)


def test_files_scale_with_docs_under_the_cap():
    per = PostingsIndex._DOCS_PER_FILE
    assert per == 32_768
    for n, want in ((0, 1), (1, 1), (per, 1), (per + 1, 2), (None, 16)):
        assert PostingsIndex._files_for(n, 16) == want, n
    for cap in (1, 2, 4, 16):
        for n in (0, 1, per, per + 1, 40 * per, 10**9, None):
            assert 1 <= PostingsIndex._files_for(n, cap) <= cap, (n, cap)


def test_tombstones_hide_then_compact_applies(spark, tmp_path):
    """Deleted docs vanish from every store at read time; compaction
    applies the bitmap physically and clears it."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan hash"), (3, "join scan")],
        "doc_id BIGINT, text STRING",
    )
    idx = PostingsIndex.build(spark, docs, str(tmp_path / "idx"))
    idx.delete_docs(docs.where("doc_id = 2").select("doc_id"))
    want = PostingsIndex.build(
        spark, docs.where("doc_id <> 2"), str(tmp_path / "want")
    )

    def snap(i):
        return (
            sorted(tuple(r) for r in i.postings().collect()),
            sorted(tuple(r) for r in i.doclens().collect()),
            sorted(tuple(r) for r in i.positions().collect()),
        )

    assert snap(idx) == snap(want)
    idx.compact_segments()
    assert idx._tombstones() is None  # bitmap applied and cleared
    assert snap(idx) == snap(want)
    # the folded sidecar counts live docs only, once each
    assert _sidecar(idx) == _sidecar(want)
    assert _sidecar(idx)["n_docs"] == 2
    assert idx.corpus_stats() == want.corpus_stats()


def test_half_written_segment_not_served(spark, tmp_path):
    """A segment missing any of its three stores (a mid-write crash)
    is invisible to readers instead of breaking them."""
    import shutil

    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan hash")], "doc_id BIGINT, text STRING"
    )
    idx = PostingsIndex.build(spark, docs, str(tmp_path / "idx"))
    idx.add_segment(
        spark.createDataFrame([(3, "join scan")], "doc_id BIGINT, text STRING"),
        "ok",
    )
    # simulate a crash mid-publish: a segment missing two stores
    # (renamed in by tampering — the _tmp- path never renames early,
    # so this is the worst case the _SUCCESS gate must still catch)
    seg_root = os.path.join(idx._gen(), "segments")
    shutil.copytree(
        os.path.join(seg_root, "ok", "postings"),
        os.path.join(seg_root, "half", "postings"),
    )
    assert len(idx._segment_dirs()) == 1  # only the complete segment
    assert idx.doclens().count() == 3  # readers unaffected


def test_positions_store_generation_must_be_rebuilt(spark, tmp_path):
    """A generation from the layout that kept token positions in a
    separate `positions` store is refused with a rebuild message,
    never served as postings without pos; exists() reports it absent,
    and a rebuild over it serves again."""
    import shutil

    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan hash")], "doc_id BIGINT, text STRING"
    )
    path = str(tmp_path / "idx")
    idx = PostingsIndex.build(spark, docs, path)
    # what marks the old layout: a `positions` store in the generation
    gen = idx._gen()
    shutil.copytree(
        os.path.join(gen, "postings"), os.path.join(gen, "positions")
    )
    assert not PostingsIndex.exists(spark, path)
    for call in (
        lambda: idx.postings(),
        lambda: idx.positions(),
        lambda: idx.add_segment(
            spark.createDataFrame([(3, "join")], "doc_id BIGINT, text STRING"),
            "b1",
        ),
        lambda: PostingsIndex.stream_sink(path)(docs, 0),
    ):
        with pytest.raises(ValueError, match="rebuild the index"):
            call()
    PostingsIndex.build(spark, docs, path)
    assert PostingsIndex.exists(spark, path)
    assert PostingsIndex(spark, path).positions().count() == 4


def test_add_segment_rejects_tombstoned_ids(spark, tmp_path):
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan hash")], "doc_id BIGINT, text STRING"
    )
    idx = PostingsIndex.build(spark, docs, str(tmp_path / "idx"))
    idx.delete_docs(docs.where("doc_id = 2").select("doc_id"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tombstoned"):
        idx.add_segment(
            spark.createDataFrame(
                [(2, "scan hash v2")], "doc_id BIGINT, text STRING"
            ),
            "redeliver",
        )
    # compact applies the delete; re-adding then succeeds and the doc
    # is visible again
    idx.compact_segments()
    idx.add_segment(
        spark.createDataFrame(
            [(2, "scan hash v2")], "doc_id BIGINT, text STRING"
        ),
        "redeliver",
    )
    assert idx.doclens().where("doc_id = 2").count() == 1


def test_publish_keeps_retired_generation_for_readers(spark, tmp_path):
    """A DataFrame planned before compaction still executes after it:
    the retired generation survives the publish (and publish-time
    cleanup only reaps orphans older than _REAP_AGE_SEC, so lagging
    readers and concurrent mutations keep their files lock-free)."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan hash")], "doc_id BIGINT, text STRING"
    )
    idx = PostingsIndex.build(spark, docs, str(tmp_path / "idx"))
    idx.add_segment(
        spark.createDataFrame([(3, "join scan")], "doc_id BIGINT, text STRING"),
        "b1",
    )
    pre = idx.postings()  # lazy plan against the pre-compaction layout
    idx.compact_segments()
    # the in-flight reader still executes (old generation retained)
    assert pre.count() == idx.postings().count()
    gens = [d for d in os.listdir(idx.path) if d.startswith("gen-")]
    assert len(gens) == 2  # live + retired


def test_read_during_compaction_is_atomic(spark, tmp_path):
    """Read-during-compaction certification (VERDICT r6 ask #7): a
    second SparkSession plans+executes doclens() reads in a loop while
    this session adds segments and compacts. Each read resolves the
    generation pointer once (_union_store pins it), so every observed
    doc count must equal a COMMITTED state's count — never a mixture
    like old-base + new-generation's empty segment list dropping docs
    that were already visible."""
    import threading

    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    docs = spark.createDataFrame(
        [(i, f"word{i % 5} common filler{i}") for i in range(40)],
        "doc_id BIGINT, text STRING",
    )
    idx = PostingsIndex.build(spark, docs.where("doc_id < 20"), str(tmp_path / "idx"))

    reader_spark = spark.newSession()
    reader = PostingsIndex(reader_spark, idx.path)
    observed: list[int] = []
    errors: list[str] = []
    stop = threading.Event()

    def read_loop() -> None:
        while not stop.is_set():
            try:
                observed.append(reader.doclens().count())
            except Exception as e:  # pragma: no cover - failure detail
                errors.append(repr(e))
                break

    th = threading.Thread(target=read_loop)
    th.start()
    try:
        for b in range(2):
            lo, hi = 20 + 10 * b, 30 + 10 * b
            idx.add_segment(
                docs.where(f"doc_id >= {lo} AND doc_id < {hi}"), f"b{b}"
            )
            idx.compact_segments()
    finally:
        stop.set()
        th.join(timeout=120)

    assert not errors, errors
    # committed states: 20 (base), 30 (base+b0 / compacted), 40
    assert observed, "reader never completed a read"
    assert set(observed) <= {20, 30, 40}, sorted(set(observed))


def test_concurrent_segment_writers_serialize_or_fail_clean(spark, tmp_path):
    """Two-writer contention on the index mutation path (VERDICT r7
    ask #6): concurrent add_segment/delete_docs must yield both
    effects serialized, or one CLEAN failure — never a merged, lost,
    or double-counted store.

    Three races: (a) two add_segment with distinct names → both
    segments land and reads see both batches; (b) two add_segment
    racing on the SAME name → exactly one wins the atomic rename, the
    loser raises, and the batch is indexed exactly once (no double
    df/tf); (c) add_segment racing delete_docs on disjoint ids → both
    apply."""
    import threading

    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    base = spark.createDataFrame(
        [(1, "hash join scan"), (2, "scan scan filter")],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame([(3, "join hash hash")], "doc_id BIGINT, text STRING")
    b2 = spark.createDataFrame([(4, "filter merge sort")], "doc_id BIGINT, text STRING")

    def run_pair(fn_a, fn_b):
        errs: list[Exception | None] = [None, None]
        barrier = threading.Barrier(2)

        def wrap(i, fn):
            def go():
                barrier.wait()
                try:
                    fn()
                except Exception as e:  # noqa: BLE001 — recorded for assert
                    errs[i] = e

            return go

        ts = [
            threading.Thread(target=wrap(0, fn_a)),
            threading.Thread(target=wrap(1, fn_b)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return errs

    # (a) distinct names: both land
    idx = PostingsIndex.build(spark, base, str(tmp_path / "a"))
    errs = run_pair(
        lambda: idx.add_segment(b1, "s1"), lambda: idx.add_segment(b2, "s2")
    )
    assert errs == [None, None]
    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 2, 3, 4}

    # (b) same name: exactly one winner, no double count
    idx2 = PostingsIndex.build(spark, base, str(tmp_path / "b"))
    errs = run_pair(
        lambda: idx2.add_segment(b1, "dup"),
        lambda: idx2.add_segment(b1.withColumn("doc_id", F.lit(9)), "dup"),
    )
    assert sum(e is not None for e in errs) == 1, errs
    assert isinstance(next(e for e in errs if e is not None), OSError)
    rows = idx2.doclens().collect()
    assert len(rows) == len({r["doc_id"] for r in rows}) == 3
    # losing writer left only an ignored _tmp- dir (or nothing), and
    # every served segment is complete
    seg_root = os.path.join(idx2._gen(), "segments")
    served = [s for s in os.listdir(seg_root) if not s.startswith("_tmp-")]
    assert served == ["dup"]

    # (c) add_segment vs delete_docs on disjoint ids: both apply
    idx3 = PostingsIndex.build(spark, base, str(tmp_path / "c"))
    dead = spark.createDataFrame([(2,)], "doc_id BIGINT")
    errs = run_pair(
        lambda: idx3.add_segment(b2, "s1"), lambda: idx3.delete_docs(dead)
    )
    assert errs == [None, None]
    got = {r["doc_id"] for r in idx3.doclens().collect()}
    assert got == {1, 4}


def test_add_segment_chases_racing_compaction(spark, tmp_path, monkeypatch):
    """The lost-update race: compact_segments snapshots the live
    generation's segment list while an add_segment build is in
    flight, then publishes a successor WITHOUT the new segment. The
    chase protocol (folded manifest + forward rename) must land the
    segment in the live generation — never strand it in the retired
    one."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    base = spark.createDataFrame(
        [(1, "hash join scan"), (2, "scan scan filter")],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(3, "join hash hash")], "doc_id BIGINT, text STRING"
    )
    b2 = spark.createDataFrame(
        [(4, "filter merge sort")], "doc_id BIGINT, text STRING"
    )
    path = str(tmp_path / "race")
    idx = PostingsIndex.build(spark, base, path)
    idx.add_segment(b1, "s0")

    orig = PostingsIndex._write_stores
    fired = {}

    def hooked(docs, out, n_files, id_col, text_col, block_width,
               impact=False, blk_base=0):
        orig(docs, out, n_files, id_col, text_col, block_width)
        if not fired:
            fired["x"] = True
            # compaction completes BETWEEN our store build and the
            # rename into the (about-to-be-retired) generation
            PostingsIndex(spark, path).compact_segments()

    monkeypatch.setattr(
        PostingsIndex, "_write_stores", staticmethod(hooked)
    )
    idx.add_segment(b2, "late")
    monkeypatch.setattr(
        PostingsIndex, "_write_stores", staticmethod(orig)
    )

    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 2, 3, 4}  # the late batch survived the race
    # the live generation serves it as a segment; folding it is clean
    assert idx.compact_segments() == 1
    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 2, 3, 4}


def test_delete_docs_chases_racing_compaction(spark, tmp_path, monkeypatch):
    """A tombstone written into a generation that compaction retired
    mid-write must chase forward — the delete is never silently
    undone by the concurrent merge."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    base = spark.createDataFrame(
        [(1, "hash join scan"), (2, "scan scan filter")],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(3, "join hash hash")], "doc_id BIGINT, text STRING"
    )
    path = str(tmp_path / "race2")
    idx = PostingsIndex.build(spark, base, path)
    idx.add_segment(b1, "s0")
    gen_old = idx._gen()
    idx.compact_segments()  # retires gen_old

    # replay the interleaving: delete_docs resolved the generation
    # BEFORE the compaction published (first two _gen() calls are
    # _meta's and the placement's)
    real_gen = PostingsIndex._gen
    state = {"n": 0}

    def fake_gen(self):
        state["n"] += 1
        return gen_old if state["n"] <= 2 else real_gen(self)

    monkeypatch.setattr(PostingsIndex, "_gen", fake_gen)
    idx.delete_docs(spark.createDataFrame([(2,)], "doc_id BIGINT"))
    monkeypatch.setattr(PostingsIndex, "_gen", real_gen)

    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 3}  # the racing delete still applied
    idx.compact_segments()  # physically applies it
    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 3}


def test_add_segment_retracts_on_concurrent_tombstone(
    spark, tmp_path, monkeypatch
):
    """delete_docs lands AFTER add_segment's tombstone pre-check but
    before its rename: the post-landing re-check must retract the
    segment and raise — the caller must never believe a batch is
    indexed while the bitmap silently hides it."""
    import os as _os

    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    base = spark.createDataFrame(
        [(1, "hash join scan"), (2, "scan scan filter")],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(3, "join hash hash")], "doc_id BIGINT, text STRING"
    )
    path = str(tmp_path / "race3")
    idx = PostingsIndex.build(spark, base, path)

    orig = PostingsIndex._write_stores
    fired = {}

    def hooked(docs, out, n_files, id_col, text_col, block_width,
               impact=False, blk_base=0):
        orig(docs, out, n_files, id_col, text_col, block_width)
        if not fired:
            fired["x"] = True
            PostingsIndex(spark, path).delete_docs(
                spark.createDataFrame([(3,)], "doc_id BIGINT")
            )

    monkeypatch.setattr(
        PostingsIndex, "_write_stores", staticmethod(hooked)
    )
    with pytest.raises(ValueError, match="tombstoned concurrently"):
        idx.add_segment(b1, "doomed")
    monkeypatch.setattr(
        PostingsIndex, "_write_stores", staticmethod(orig)
    )

    seg_root = _os.path.join(idx._gen(), "segments")
    if _os.path.isdir(seg_root):
        assert "doomed" not in _os.listdir(seg_root)
    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 2}


def test_compaction_rescues_segment_landed_during_fold(
    spark, tmp_path, monkeypatch
):
    """The interleaving the writer-side chase CANNOT see: the segment
    renames into the old generation after compaction's snapshot, and
    the writer reads the generation pointer BEFORE the publish — its
    chase believes it is live and returns. compact_segments' post-
    publish rescue must move the straggler into the new generation."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    base = spark.createDataFrame(
        [(1, "hash join scan"), (2, "scan scan filter")],
        "doc_id BIGINT, text STRING",
    )
    b1 = spark.createDataFrame(
        [(3, "join hash hash")], "doc_id BIGINT, text STRING"
    )
    b2 = spark.createDataFrame(
        [(4, "filter merge sort")], "doc_id BIGINT, text STRING"
    )
    path = str(tmp_path / "race4")
    idx = PostingsIndex.build(spark, base, path)
    idx.add_segment(b1, "s0")
    gen_a = idx._gen()

    orig_meta = PostingsIndex._write_meta
    fired = {}

    def hooked_meta(gen_dir, id_col, text_col, block_width, impact=False):
        orig_meta(gen_dir, id_col, text_col, block_width)
        if fired or "segments" in gen_dir:
            return
        fired["x"] = True
        # the racing writer: lands in gen A and reads the (not yet
        # flipped) pointer — pin _gen to A for the duration of its add
        writer = PostingsIndex(spark, path)
        monkeypatch.setattr(writer, "_gen", lambda: gen_a)
        monkeypatch.setattr(
            PostingsIndex, "_write_meta", staticmethod(orig_meta)
        )
        try:
            writer.add_segment(b2, "late")
        finally:
            monkeypatch.setattr(
                PostingsIndex, "_write_meta", staticmethod(hooked_meta)
            )

    monkeypatch.setattr(
        PostingsIndex, "_write_meta", staticmethod(hooked_meta)
    )
    idx.compact_segments()  # snapshot misses 'late'; rescue must save it
    monkeypatch.setattr(
        PostingsIndex, "_write_meta", staticmethod(orig_meta)
    )

    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 2, 3, 4}  # the straggler batch is live
    assert idx.compact_segments() == 1  # and folds cleanly
    got = {r["doc_id"] for r in idx.doclens().collect()}
    assert got == {1, 2, 3, 4}


def test_compact_retries_once_on_vanished_segment(spark, tmp_path):
    """A concurrent add_segment RETRACT renames a snapshotted segment
    dir away mid-fold: the first fold attempt fails loudly, and since
    a directory of its snapshot is gone, compact_segments re-snapshots
    and retries once — the retracted segment is absent from the fresh
    listing, so the retry folds the other one, and the failed attempt
    leaves no partial generation."""
    idx = PostingsIndex.build(
        spark,
        spark.createDataFrame(
            [(1, "hash join scan"), (2, "scan scan filter")],
            "doc_id BIGINT, text STRING",
        ),
        str(tmp_path / "idx"),
    )
    for name, doc in (("seg-a", (3, "join hash")), ("seg-b", (4, "hash"))):
        idx.add_segment(
            spark.createDataFrame([doc], "doc_id BIGINT, text STRING"), name
        )

    calls = {"union": 0, "fold": 0}
    orig_union, orig_fold = idx._union_store, idx._fold_stores
    seg_root = os.path.join(idx._gen(), "segments")

    def retracting(store, **kw):
        if calls["union"] == 0:  # what a retract does: one rename
            os.rename(
                os.path.join(seg_root, "seg-a"),
                os.path.join(seg_root, "_tmp-retract-test"),
            )
        calls["union"] += 1
        return orig_union(store, **kw)

    def counted(*args):
        calls["fold"] += 1
        return orig_fold(*args)

    idx._union_store, idx._fold_stores = retracting, counted
    assert idx.compact_segments() == 1  # retried and folded seg-b only
    idx._union_store, idx._fold_stores = orig_union, orig_fold
    assert calls["fold"] == 2  # the first fold failed and was retried
    # exactly two generations remain: the retired base and the
    # published fold — the failed first attempt left no partial dir
    gens = [d for d in os.listdir(idx.path) if d.startswith("gen-")]
    assert len(gens) == 2, sorted(gens)
    # the folded index serves the base and seg-b
    got = {
        r["doc_id"]
        for r in idx.postings().where("word = 'hash'").collect()
    }
    assert got == {1, 4}
    assert {r["doc_id"] for r in idx.doclens().collect()} == {1, 2, 4}


def test_compact_no_retry_when_snapshot_intact(spark, tmp_path):
    """A fold failure with every snapshotted directory still in place
    is not the retract race, whatever its class: it propagates after
    ONE fold attempt (a FileNotFoundError included) and leaves no
    stray generation."""
    idx = PostingsIndex.build(
        spark,
        spark.createDataFrame(
            [(1, "hash join scan")], "doc_id BIGINT, text STRING"
        ),
        str(tmp_path / "idx"),
    )
    idx.add_segment(
        spark.createDataFrame([(2, "join")], "doc_id BIGINT, text STRING"),
        "seg-a",
    )
    calls = []

    def failing(*args):
        calls.append(args)
        raise FileNotFoundError("not a vanished snapshot dir")

    idx._fold_stores = failing
    with pytest.raises(FileNotFoundError, match="not a vanished"):
        idx.compact_segments()
    assert len(calls) == 1
    gens = [d for d in os.listdir(idx.path) if d.startswith("gen-")]
    assert len(gens) == 1, sorted(gens)


def test_is_file_vanished_gates_retry_classes():
    """compact_segments' retry gate (ADVICE r9): only the two vanished-
    file signatures retry — chained causes are walked, deterministic
    errors are not retried, and cycles in the cause chain terminate."""
    from tests.jvm_errors import _is_file_vanished

    assert _is_file_vanished(FileNotFoundError("gone"))
    assert _is_file_vanished(
        RuntimeError("[PATH_NOT_FOUND] Path does not exist: /x")
    )
    assert _is_file_vanished(
        Exception("java.io.FileNotFoundException: part-0000.parquet")
    )
    # chained cause is walked
    outer = RuntimeError("fold failed")
    outer.__cause__ = FileNotFoundError("renamed away")
    assert _is_file_vanished(outer)
    # deterministic errors do NOT retry (review r10 narrowed the match:
    # a bare 'does not exist' misconfiguration message no longer gates)
    assert not _is_file_vanished(ValueError("schema mismatch"))
    assert not _is_file_vanished(RuntimeError("Path does not exist: /x"))
    # a cause-chain cycle terminates
    a, b = RuntimeError("a"), RuntimeError("b")
    a.__cause__, b.__cause__ = b, a
    assert not _is_file_vanished(a)


def test_is_file_vanished_ignores_trace_only_mentions():
    """ADVICE r10 #2: a deterministic failure whose RENDERED TRACE
    merely mentions FileNotFoundException (a frame / suppressed line
    below the top-line message) must NOT gate the retry; structured
    signals (getCondition, a real Java cause chain, or the desc/top
    line) are what count."""
    from tests.jvm_errors import _is_file_vanished

    # multi-line str(exc) where only a deep frame mentions the class
    deep = RuntimeError(
        "[DIVIDE_BY_ZERO] Division by zero\n"
        "JVM stacktrace:\n"
        "  at org.apache.spark.SomeClass(SomeClass.java:1)\n"
        "  Suppressed: java.io.FileNotFoundException: /tmp/unrelated\n"
    )
    assert not _is_file_vanished(deep)

    # a CapturedException-shaped object: _desc is clean, the rendered
    # str() carries a trace-only mention — still not a retry
    class FakeCaptured(Exception):
        _desc = "[DIVIDE_BY_ZERO] Division by zero"

        def getCondition(self):
            return "DIVIDE_BY_ZERO"

        def __str__(self):
            return self._desc + "\nCaused by: java.io.FileNotFoundException"

    assert not _is_file_vanished(FakeCaptured())

    # structured positives: condition, desc, and python _cause chain
    class VanishedCaptured(Exception):
        _desc = "[PATH_NOT_FOUND] Path does not exist: /x"

        def getCondition(self):
            return "PATH_NOT_FOUND"

    assert _is_file_vanished(VanishedCaptured())

    class StageFailure(Exception):
        _desc = (
            "Job aborted due to stage failure: Task 3 failed: "
            "java.io.FileNotFoundException: part-0.parquet"
        )

        def getCondition(self):
            return None

    assert _is_file_vanished(StageFailure())

    class OuterCaptured(Exception):
        _desc = "fold failed"
        _cause = VanishedCaptured()

        def getCondition(self):
            return None

    assert _is_file_vanished(OuterCaptured())


def test_is_file_vanished_matches_stage_failure_message():
    """ADVICE r11 #1: an EXECUTOR-side FileNotFoundException survives
    task serialization only as text in the stage-failure
    SparkException's getMessage() — no java cause link, and a raw
    Py4JJavaError's str() top line is 'An error occurred while
    calling o...'. The JVM walk must match the throwable's own
    message; a deterministic executor failure must still not gate."""
    from tests.jvm_errors import _is_file_vanished

    class FakeJThrow:
        def __init__(self, name, msg, cause=None):
            self._name, self._msg, self._cause = name, msg, cause

        def getClass(self):
            name = self._name

            class _C:
                @staticmethod
                def getName():
                    return name

            return _C

        def getMessage(self):
            return self._msg

        def getCause(self):
            return self._cause

    class FakePy4J(Exception):
        def __init__(self, jexc):
            super().__init__("ignored")
            self.java_exception = jexc

        def __str__(self):
            return (
                "An error occurred while calling o123.fold.\n"
                ": org.apache.spark.SparkException: Job aborted\n"
            )

    vanished = FakeJThrow(
        "org.apache.spark.SparkException",
        "Job aborted due to stage failure: Task 3 failed: "
        "java.io.FileNotFoundException: part-0000.parquet does not exist",
    )
    assert _is_file_vanished(FakePy4J(vanished))

    deterministic = FakeJThrow(
        "org.apache.spark.SparkException",
        "Job aborted due to stage failure: Task 3 failed: "
        "java.lang.ArithmeticException: / by zero",
    )
    assert not _is_file_vanished(FakePy4J(deterministic))


def test_is_file_vanished_jvm_message_head_only():
    """Review r12: the JVM-message match must inspect only the reason
    HEAD — a stage-failure message embeds the task's full rendered
    trace, so an unrelated deterministic error whose trace mentions a
    FileNotFoundException frame (wrapped/suppressed/caused-by) must
    not be classified as the vanished-file race, while the genuine
    executor-side FNF (rendered in the reason segment before any
    frame) still gates."""
    from tests.jvm_errors import _is_file_vanished

    class FakeJThrow:
        def __init__(self, name, msg, cause=None):
            self._name, self._msg, self._cause = name, msg, cause

        def getClass(self):
            name = self._name

            class _C:
                @staticmethod
                def getName():
                    return name

            return _C

        def getMessage(self):
            return self._msg

        def getCause(self):
            return self._cause

    class FakePy4J(Exception):
        def __init__(self, jexc):
            super().__init__("ignored")
            self.java_exception = jexc

        def __str__(self):
            return "An error occurred while calling o123.fold.\n"

    # trace-only mention below the reason head: frame line
    framed = FakeJThrow(
        "org.apache.spark.SparkException",
        "Job aborted due to stage failure: Task 3 failed: "
        "java.lang.IllegalStateException: config missing\n"
        "\tat org.example.Reader.open(Reader.java:10)\n"
        "\tat java.io.FileNotFoundException.whatever(F.java:1)\n",
    )
    assert not _is_file_vanished(FakePy4J(framed))

    # trace-only mention in a Caused-by block (FNF caught and
    # rethrown as a config error: the OUTER class is the truth)
    caused = FakeJThrow(
        "org.apache.spark.SparkException",
        "Job aborted due to stage failure: Task 3 failed: "
        "org.example.ConfigError: metadata file absent\n"
        "Caused by: java.io.FileNotFoundException: /perm/missing.meta\n"
        "\tat org.example.Meta.load(Meta.java:5)\n",
    )
    assert not _is_file_vanished(FakePy4J(caused))

    # genuine executor-side FNF: class rendered in the reason head
    vanished = FakeJThrow(
        "org.apache.spark.SparkException",
        "Job aborted due to stage failure: Task 3 failed: "
        "java.io.FileNotFoundException: part-0000.parquet does not "
        "exist\n\tat org.apache.parquet.Reader.open(Reader.java:42)\n",
    )
    assert _is_file_vanished(FakePy4J(vanished))


# -- block-max serving (r13, VERDICT r12 #2) --------------------------


def test_bm25_blockmax_matches_full_scan(spark, idx):
    """The pruned serving path must be row-for-row identical to the
    full posting walk — pruning is an optimization, never a
    semantics change."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        bm25_topk_blockmax,
    )

    index, _ = idx
    for terms, k in (
        (["join", "hash", "scan"], 15),
        (["join"], 5),
        (["join", "hash", "scan"], 1),
        (["nosuchword"], 5),
    ):
        full = bm25_topk(
            index.postings(), index.doclens(), terms, k=k
        ).collect()
        pruned = bm25_topk_blockmax(index, terms, k=k, min_docs=0).collect()
        assert [tuple(r) for r in full] == [tuple(r) for r in pruned], (
            terms,
            k,
        )


def test_bm25_blockmax_skewed_corpus(spark, tmp_path):
    """Adversarial shapes: a tiny set of short high-tf docs that must
    dominate the ranking, a mass of long boilerplate docs the bounds
    should prune, score ties at the k boundary (doc_id tie-break),
    and sparse doc ids (width > 1 blocks)."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        bm25_topk_blockmax,
    )

    rows = []
    for i in range(400):
        if i % 97 == 0:  # short, term-dense docs — the true top-k
            rows.append((i * 7, "join hash scan join hash join"))
        else:  # long boilerplate with one term occurrence
            filler = " ".join(f"w{j}" for j in range(40))
            rows.append((i * 7, f"join {filler}"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    path = str(tmp_path / "skewidx")
    index = PostingsIndex.build(spark, docs, path)
    for terms, k in (
        (["join", "hash", "scan"], 10),
        (["join"], 7),
        (["hash", "scan"], 4),
    ):
        full = bm25_topk(
            index.postings(), index.doclens(), terms, k=k
        ).collect()
        pruned = bm25_topk_blockmax(index, terms, k=k, min_docs=0).collect()
        assert [tuple(r) for r in full] == [tuple(r) for r in pruned], (
            terms,
            k,
        )
    # the skewed shape is exactly where block-max should pay: the
    # boundful blocks (holding the dense docs) are few
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        blockmax_prune_plan,
    )

    plan = blockmax_prune_plan(index, ["join", "hash", "scan"], k=5)
    assert plan is not None and plan["theta_scaled"] is not None
    assert plan["kept_blocks"] is not None
    assert len(plan["kept_blocks"]) < plan["_blocks_df"].count(), plan


def test_bm25_blockmax_segments_and_tombstone_fallback(spark, tmp_path):
    """Segments: stats union keeps the pruned path exact. Tombstones:
    stats-derived df would overcount, so the plan must refuse and
    serving must fall back to the (tombstone-aware) full scan."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        blockmax_prune_plan,
        bm25_topk_blockmax,
    )

    base = spark.createDataFrame(
        [(i, f"join hash w{i % 5} scan w{i % 7}") for i in range(0, 60)],
        "doc_id BIGINT, text STRING",
    )
    index = PostingsIndex.build(spark, base, str(tmp_path / "segidx"))
    seg = spark.createDataFrame(
        [(i, f"join join hash w{i % 3}") for i in range(100, 130)],
        "doc_id BIGINT, text STRING",
    )
    index.add_segment(seg, "batch-1")
    terms = ["join", "hash", "scan"]
    full = bm25_topk(index.postings(), index.doclens(), terms, k=12).collect()
    pruned = bm25_topk_blockmax(index, terms, k=12, min_docs=0).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in pruned]

    index.delete_docs(
        spark.createDataFrame([(0,), (100,)], "doc_id BIGINT")
    )
    assert blockmax_prune_plan(index, terms) is None  # refuses
    full2 = bm25_topk(index.postings(), index.doclens(), terms, k=12).collect()
    fb = bm25_topk_blockmax(index, terms, k=12, min_docs=0).collect()  # falls back
    assert [tuple(r) for r in full2] == [tuple(r) for r in fb]

    # compaction applies the deletes and rebuilds exact stats: the
    # pruned path must come back and still match
    index.compact_segments()
    assert blockmax_prune_plan(index, terms) is not None
    full3 = bm25_topk(index.postings(), index.doclens(), terms, k=12).collect()
    pr3 = bm25_topk_blockmax(index, terms, k=12, min_docs=0).collect()
    assert [tuple(r) for r in full3] == [tuple(r) for r in pr3]


def test_bm25_blockmax_serving_plan_shape(spark, idx):
    """The final pruned-scan stage: broadcast joins only (no
    SortMergeJoin — df/consts are literal-backed tiny relations, the
    doclens join is gone via the denormalized dl), TakeOrderedAndProject
    for the top-k, and the word IN-filter pushed to parquet."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        bm25_topk_blockmax,
    )

    index, _ = idx
    df = bm25_topk_blockmax(index, ["join", "hash", "scan"], k=15, min_docs=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "word" in pushed


def test_blockmax_plan_pinned_against_midplan_publish(
    spark, tmp_path, monkeypatch
):
    """review r14 (high): a delete_docs + compact_segments publishing
    BETWEEN the plan's snapshot and the stats scan must not mix
    committed states. The plan pins (generation, segment list,
    no-tombstones) at ONE instant; df/theta/kept and the final scan
    all derive from it, so serving returns the pre-publish top-k
    exactly — never stats from one state and postings from another."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        bm25_topk_blockmax,
    )

    base = spark.createDataFrame(
        [(i, f"join hash w{i % 5} scan w{i % 7}") for i in range(80)],
        "doc_id BIGINT, text STRING",
    )
    index = PostingsIndex.build(spark, base, str(tmp_path / "raceidx"))
    gen0 = index._gen()
    terms = ["join", "hash", "scan"]
    expected = bm25_topk(
        index.postings(gen0), index.doclens(gen0), terms, k=10
    ).collect()

    real_blockstats = PostingsIndex.blockstats
    fired = []

    def racing_blockstats(self, gen=None, segs=None):
        if not fired:
            fired.append(True)
            other = PostingsIndex(spark, self.path)
            other.delete_docs(
                spark.createDataFrame(
                    [(0,), (7,), (14,)], "doc_id BIGINT"
                )
            )
            other.compact_segments()
        return real_blockstats(self, gen=gen, segs=segs)

    monkeypatch.setattr(PostingsIndex, "blockstats", racing_blockstats)
    got = bm25_topk_blockmax(index, terms, k=10, min_docs=0).collect()
    assert fired, "the racing publish never fired"
    assert index._gen() != gen0, "compaction should have published"
    assert [tuple(r) for r in expected] == [tuple(r) for r in got]


def test_blockstats_respects_pinned_generation(spark, tmp_path):
    """blockstats(gen) must read THAT generation's stats, not chase the
    live pointer (review r14 high: the gen parameter was ignored)."""
    base = spark.createDataFrame(
        [(i, f"join hash w{i % 5}") for i in range(60)],
        "doc_id BIGINT, text STRING",
    )
    index = PostingsIndex.build(spark, base, str(tmp_path / "pinidx"))
    gen0 = index._gen()
    stats0 = sorted(
        tuple(r) for r in index.blockstats(gen0).collect()
    )
    index.delete_docs(
        spark.createDataFrame([(i,) for i in range(0, 30)], "doc_id BIGINT")
    )
    index.compact_segments()
    assert index._gen() != gen0
    # pinned read: identical to the pre-delete snapshot
    assert (
        sorted(tuple(r) for r in index.blockstats(gen0).collect()) == stats0
    )
    # unpinned read: the live (post-delete) stats differ
    assert (
        sorted(tuple(r) for r in index.blockstats().collect()) != stats0
    )


def test_blockmax_margin_covers_coarse_round_to(spark, tmp_path):
    """round_to is public on bm25_topk_blockmax; with round_to < 6 a
    doc up to half an ulp below the k-th seed score still ties it at
    round_to precision, so the 1e6-scale pruning margin must slacken
    by ceil(0.5·10^(6-round_to)) (review r14) — and the pruned path
    must stay row-identical to the full scan at every precision."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        blockmax_prune_plan,
        bm25_topk_blockmax,
    )

    rows = []
    for i in range(400):
        if i % 97 == 0:
            rows.append((i * 7, "join hash scan join hash join"))
        else:
            filler = " ".join(f"w{j}" for j in range(40))
            rows.append((i * 7, f"join {filler}"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    index = PostingsIndex.build(spark, docs, str(tmp_path / "marginidx"))
    terms = ["join", "hash", "scan"]
    plan6 = blockmax_prune_plan(index, terms, k=10, round_to=6)
    plan2 = blockmax_prune_plan(index, terms, k=10, round_to=2)
    assert plan6["margin"] == len(terms) + 2
    assert plan2["margin"] == len(terms) + 2 + 5000  # ceil(0.5e4)
    for round_to in (2, 3, 6):
        full = bm25_topk(
            index.postings(), index.doclens(), terms, k=10,
            round_to=round_to,
        ).collect()
        pruned = bm25_topk_blockmax(
            index, terms, k=10, round_to=round_to, min_docs=0
        ).collect()
        assert [tuple(r) for r in full] == [tuple(r) for r in pruned], (
            round_to
        )


def test_add_segment_rejects_live_and_duplicate_ids(spark, tmp_path):
    """review r14: an id already live in the base or another segment
    would make bm25_topk's countDistinct df disagree with blockstats'
    summed df_blk — add_segment must refuse, as must a within-batch
    duplicate."""
    base = spark.createDataFrame(
        [(i, f"join hash w{i % 5}") for i in range(60)],
        "doc_id BIGINT, text STRING",
    )
    index = PostingsIndex.build(spark, base, str(tmp_path / "dupidx"))
    ok = spark.createDataFrame(
        [(i, "join hash") for i in range(100, 110)],
        "doc_id BIGINT, text STRING",
    )
    index.add_segment(ok, "batch-ok")

    with pytest.raises(ValueError, match="already live"):
        index.add_segment(
            spark.createDataFrame(
                [(5, "join"), (200, "hash")], "doc_id BIGINT, text STRING"
            ),
            "batch-base-dup",
        )
    with pytest.raises(ValueError, match="already live"):
        index.add_segment(
            spark.createDataFrame(
                [(105, "join")], "doc_id BIGINT, text STRING"
            ),
            "batch-seg-dup",
        )
    with pytest.raises(ValueError, match="duplicate doc ids"):
        index.add_segment(
            spark.createDataFrame(
                [(300, "join"), (300, "hash")], "doc_id BIGINT, text STRING"
            ),
            "batch-self-dup",
        )
    # a clean disjoint batch still lands after the rejections
    index.add_segment(
        spark.createDataFrame(
            [(400, "join scan")], "doc_id BIGINT, text STRING"
        ),
        "batch-clean",
    )
    got = {
        r["doc_id"]
        for r in index.doclens().select("doc_id").collect()
    }
    assert 400 in got and len(got) == 71


def test_append_only_watermark_skips_disjointness_scan(
    spark, tmp_path, monkeypatch
):
    """The _corpus.json id intervals must prove an append-only batch
    disjoint with ZERO Spark jobs (the scan is never built), scan only
    the stores the batch could overlap, and stay conservative (scan
    everything) when any non-empty store lacks an interval key."""
    base = spark.createDataFrame(
        [(i, f"join w{i % 3}") for i in range(50)],
        "doc_id BIGINT, text STRING",
    )
    index = PostingsIndex.build(spark, base, str(tmp_path / "wmidx"))
    # base sidecar records the build-time max id
    import json

    with open(os.path.join(index._gen(), "_corpus.json")) as f:
        assert json.load(f)["id_hi"] == 49

    calls = []
    orig = PostingsIndex._live_ids

    def spy(self, gen, dirs=None):
        calls.append(dirs)
        return orig(self, gen, dirs=dirs)

    monkeypatch.setattr(PostingsIndex, "_live_ids", spy)

    # append-only: lo=100 above the base's [0, 49] — no scan
    index.add_segment(
        spark.createDataFrame(
            [(i, "join hash") for i in range(100, 105)],
            "doc_id BIGINT, text STRING",
        ),
        "wm-append",
    )
    assert calls == []
    # the segment's sidecar records its own interval
    assert [
        (lo, hi) for _, lo, hi in index._live_id_intervals(index._gen())
    ] == [(0, 49), (100, 104)]

    # overlapping the base's [0, 49] interval: scan runs — PRUNED to
    # the one overlapping store — and rejects
    with pytest.raises(ValueError, match="already live"):
        index.add_segment(
            spark.createDataFrame(
                [(30, "join")], "doc_id BIGINT, text STRING"
            ),
            "wm-overlap",
        )
    assert len(calls) == 1
    assert calls[0] is not None and len(calls[0]) == 1

    # gap-filling but disjoint (60 lies between the base's [0, 49] and
    # the segment's [100, 104]): the intervals PROVE disjointness
    # from metadata alone, no scan at all
    index.add_segment(
        spark.createDataFrame(
            [(60, "scan")], "doc_id BIGINT, text STRING"
        ),
        "wm-gap",
    )
    assert len(calls) == 1

    # overlapping ONLY the wm-append segment's [100, 104]: the scan
    # reads that one store dir, not base + 2 segments
    with pytest.raises(ValueError, match="already live"):
        index.add_segment(
            spark.createDataFrame(
                [(102, "hash")], "doc_id BIGINT, text STRING"
            ),
            "wm-overlap-seg",
        )
    assert len(calls) == 2
    assert calls[1] is not None and len(calls[1]) == 1
    assert calls[1][0].endswith("wm-append")

    # a non-empty store without the key poisons the intervals:
    # conservative full scan (dirs=None)
    with open(os.path.join(index._gen(), "_corpus.json")) as f:
        st = json.load(f)
    st.pop("id_hi")
    with open(os.path.join(index._gen(), "_corpus.json"), "w") as f:
        json.dump(st, f)
    assert index._live_id_intervals(index._gen()) is None
    index.add_segment(
        spark.createDataFrame(
            [(500, "join")], "doc_id BIGINT, text STRING"
        ),
        "wm-nosidecar",
    )
    assert len(calls) == 3 and calls[2] is None  # full-scan fallback

    # served state is the union of everything landed
    got = {
        r["doc_id"] for r in index.doclens().select("doc_id").collect()
    }
    assert got == set(range(50)) | set(range(100, 105)) | {60, 500}


@pytest.mark.parametrize("impact", [False, True])
def test_empty_build_fast_path(spark, tmp_path, impact):
    """r15 optimization: the empty bootstrap build writes its stores
    via the direct schema-bearing fast path. The schemas must stay
    IDENTICAL to what the full _write_stores pipeline emits on zero
    rows — any drift breaks every later base+segment union read —
    and the empty index must accept a first segment and serve it."""
    empty = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    index = PostingsIndex.build(
        spark, empty, str(tmp_path / "fastidx"), impact_ordered=impact
    )
    slow = str(tmp_path / "slowstores")
    PostingsIndex._write_stores(
        empty, slow, 4, "doc_id", "text",
        32 if impact else 32, impact=impact,
    )
    for store in ("postings", "doclens", "blockstats"):
        fast_s = spark.read.parquet(
            os.path.join(index._gen(), store)
        ).schema
        slow_s = spark.read.parquet(os.path.join(slow, store)).schema
        assert fast_s == slow_s, (impact, store, fast_s, slow_s)
        if store == "postings":
            assert fast_s["pos"].dataType.simpleString() == "array<int>"
    # lifecycle works on the fast-path index: land + serve
    index.add_segment(
        spark.createDataFrame(
            [(1, "join hash"), (2, "join scan")],
            "doc_id BIGINT, text STRING",
        ),
        "first",
    )
    got = bm25_topk(index.postings(), index.doclens(), ["join"], k=5)
    assert {r["doc_id"] for r in got.collect()} == {1, 2}


def test_impact_index_matches_full_scan_and_prunes(spark, sf_dir, tmp_path):
    """Impact-ordered blocking (VERDICT r13 #1): same top-k as the full
    walk — blocking is physical geometry, never semantics — and, on a
    natural corpus whose doc lengths vary, block-LEVEL pruning actually
    engages (kept/candidate < 0.5), which the doc-id-range blocks could
    not achieve (uniform ids mix short and long docs in every block)."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        blockmax_prune_plan,
        bm25_topk_blockmax,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = PostingsIndex.build(
        spark, docs, str(tmp_path / "impidx"), impact_ordered=True
    )
    for terms, k in (
        (["join", "hash", "scan"], 15),
        (["join"], 5),
        (["nosuchword"], 3),
    ):
        full = bm25_topk(
            index.postings(), index.doclens(), terms, k=k
        ).collect()
        pruned = bm25_topk_blockmax(index, terms, k=k, min_docs=0).collect()
        assert [tuple(r) for r in full] == [tuple(r) for r in pruned], terms
    plan = blockmax_prune_plan(index, ["join", "hash", "scan"], k=15)
    assert plan is not None and plan["impact"] and plan["pred_col"] == "blk"
    assert plan["theta_scaled"] is not None
    assert plan["kept_blocks"] is not None, "kept overflow on fixture"

    # engagement needs corpus >> k (at 500 docs the top-15 legitimately
    # spread over all 16 blocks): replicate the fixture 40× with
    # disjoint ids — now θ sits in the extreme tail and block-LEVEL
    # pruning must drop over half the candidate blocks
    big = docs.crossJoin(
        spark.range(40).select(F.col("id").alias("_rep"))
    ).select(
        (F.col("doc_id") * 64 + F.col("_rep")).alias("doc_id"), "text"
    )
    bidx = PostingsIndex.build(
        spark, big, str(tmp_path / "impbig"), impact_ordered=True
    )
    bplan = blockmax_prune_plan(bidx, ["join", "hash", "scan"], k=15)
    assert bplan["theta_scaled"] is not None
    assert bplan["kept_blocks"] is not None
    n_blocks = bplan["_blocks_df"].count()
    assert len(bplan["kept_blocks"]) < 0.5 * n_blocks, (
        len(bplan["kept_blocks"]),
        n_blocks,
    )
    full = bm25_topk(
        bidx.postings(), bidx.doclens(), ["join", "hash", "scan"], k=15
    ).collect()
    pruned = bm25_topk_blockmax(
        bidx, ["join", "hash", "scan"], k=15, min_docs=0
    ).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in pruned]


def test_impact_index_segments_tombstones_compact(spark, tmp_path):
    """The impact-blocked lifecycle: segments mint disjoint blk
    ranges, tombstones force the full-scan fallback, compaction
    re-blocks globally and the pruned path returns — exact at every
    step."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        blockmax_prune_plan,
        bm25_topk_blockmax,
    )

    base = spark.createDataFrame(
        [
            (i, "join hash scan " + " ".join(f"w{j}" for j in range(i % 37)))
            for i in range(300)
        ],
        "doc_id BIGINT, text STRING",
    )
    index = PostingsIndex.build(
        spark, base, str(tmp_path / "implife"), impact_ordered=True
    )
    seg = spark.createDataFrame(
        [(1000 + i, f"join join hash w{i % 3}") for i in range(60)],
        "doc_id BIGINT, text STRING",
    )
    index.add_segment(seg, "batch-1")
    terms = ["join", "hash", "scan"]
    full = bm25_topk(index.postings(), index.doclens(), terms, k=12).collect()
    pruned = bm25_topk_blockmax(index, terms, k=12, min_docs=0).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in pruned]
    # segment blocks live in their own range: no (word, blk) group
    # mixes base and segment docs' stats
    blks = index.blockstats().select("blk").distinct().count()
    assert blks > 0

    index.delete_docs(spark.createDataFrame([(0,), (1000,)], "doc_id BIGINT"))
    assert blockmax_prune_plan(index, terms) is None
    fb = bm25_topk_blockmax(index, terms, k=12, min_docs=0).collect()
    full2 = bm25_topk(index.postings(), index.doclens(), terms, k=12).collect()
    assert [tuple(r) for r in full2] == [tuple(r) for r in fb]

    index.compact_segments()
    meta = index._meta()
    assert meta["impact_blocked"] is True
    plan = blockmax_prune_plan(index, terms)
    assert plan is not None and plan["impact"]
    full3 = bm25_topk(index.postings(), index.doclens(), terms, k=12).collect()
    pr3 = bm25_topk_blockmax(index, terms, k=12, min_docs=0).collect()
    assert [tuple(r) for r in full3] == [tuple(r) for r in pr3]
    # compaction re-blocked into ONE dense dl-ordered space: max blk
    # is bounded by the folded doc count's block span
    n_docs = index.corpus_stats()[0]
    top_blk = index.blockstats().agg(F.max("blk")).first()[0]
    assert top_blk <= n_docs // 32 + 1
    # the folded sidecar equals an impact build over the live docs
    want = PostingsIndex.build(
        spark,
        base.unionByName(seg).where("doc_id NOT IN (0, 1000)"),
        str(tmp_path / "implife_want"),
        impact_ordered=True,
    )
    assert _sidecar(index) == _sidecar(want)
    assert n_docs == _sidecar(index)["n_docs"] == 358
    assert index.corpus_stats() == want.corpus_stats()


def test_impact_index_rejects_negative_ids(spark, tmp_path):
    docs = spark.createDataFrame(
        [(-1, "join hash"), (2, "scan")], "doc_id BIGINT, text STRING"
    )
    with pytest.raises(ValueError, match="non-negative"):
        PostingsIndex.build(
            spark, docs, str(tmp_path / "negidx"), impact_ordered=True
        )
    ok = PostingsIndex.build(
        spark,
        spark.createDataFrame(
            [(i, "join hash") for i in range(40)],
            "doc_id BIGINT, text STRING",
        ),
        str(tmp_path / "negidx2"),
        impact_ordered=True,
    )
    with pytest.raises(ValueError, match="non-negative"):
        ok.add_segment(
            spark.createDataFrame(
                [(-5, "join")], "doc_id BIGINT, text STRING"
            ),
            "neg-batch",
        )


def test_impact_serving_plan_shape(spark, sf_dir, tmp_path):
    """Serving over an impact-ordered index keeps the classic path's
    physical shape — broadcast-only joins, TakeOrderedAndProject, the
    word IN-filter pushed to parquet — and the kept-block predicate
    lands on the stored blk column so the blk-clustered row groups can
    skip."""
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        bm25_topk_blockmax,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = PostingsIndex.build(
        spark, docs, str(tmp_path / "impplan"), impact_ordered=True
    )
    df = bm25_topk_blockmax(index, ["join", "hash", "scan"], k=15, min_docs=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:400]
    assert "word" in pushed


def test_hybrid_served_full_probe_equals_exact(spark):
    """VERDICT r14 #3: the index-served hybrid RRF with every cell
    probed (n_probe = n_cells) is hash-EQUAL (ordered) to the exact
    hybrid — the vector leg's only approximation is cell pruning, and
    the in-cell scoring kernel is the identical scaled-long cosine.
    At the serving setting (n_probe=4) the fused-top-10 overlap is 8
    of 10 on the sf0.01 fixture — comfortably above the query's 0.5
    attestation floor."""
    from pyspark.sql import Window

    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        bm25_topk_blockmax,
    )
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        brute_force_topk,
    )
    from batch_processing_etl_orchestration_spark.plans.northstar import (
        _BM25_TERMS,
        _impact_index,
        _ivf_full_index,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    text = bm25_topk_blockmax(_impact_index(spark, sf), _BM25_TERMS, k=50)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    tr = text.select("doc_id", F.row_number().over(w).alias("r_text"))
    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")
    )
    idx_v = _ivf_full_index(spark, sf)

    def fuse(vr):
        return [
            r["doc_id"]
            for r in (
                tr.join(vr, "doc_id", "full_outer")
                .select(
                    "doc_id",
                    (
                        F.coalesce(1.0 / (60 + F.col("r_text")), F.lit(0.0))
                        + F.coalesce(1.0 / (60 + F.col("r_vec")), F.lit(0.0))
                    ).alias("rrf"),
                )
                .orderBy(F.desc("rrf"), F.asc("doc_id"))
                .limit(10)
                .collect()
            )
        ]

    def vleg(n_probe):
        return idx_v.probe(q, k=50, n_probe=n_probe).select(
            F.col("cand_id").alias("doc_id"), F.col("rank").alias("r_vec")
        )

    exact = fuse(
        brute_force_topk(q, c, k=50).select(
            F.col("cand_id").alias("doc_id"), F.col("rank").alias("r_vec")
        )
    )
    assert fuse(vleg(8)) == exact  # full probe: ordered hash equality
    assert len(set(fuse(vleg(4))) & set(exact)) >= 8  # serving setting
