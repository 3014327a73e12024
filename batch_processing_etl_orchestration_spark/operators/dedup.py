"""Near-duplicate detection operators: MinHash-LSH and SimHash.

Both are deterministic (fixed hash seeds and coefficient tables, no
RNG at runtime) and built entirely from JVM-side functions — the
shuffle keys are compact integers/digests, never raw text.

Scale design (the whole point of these vs q_ngram_jaccard_pairs's full
shingle join):
- MinHash banding makes candidate generation sub-quadratic: docs
  collide only when a band signature matches, so the candidate-pair
  count tracks true near-dup density, not |docs|².
- SimHash reduces each doc to one 63-bit integer; the 16-bit-chunk
  pigeonhole join finds all pairs within Hamming distance ≤ 3·16-bit
  chunks misses bound, then exact bit_count(xor) verifies.
- Both end with an exact verification pass (true Jaccard / Hamming) on
  candidates only.

Algorithmic background is standard MinHash/LSH (Broder 1997; Mining of
Massive Datasets ch.3) and SimHash (Charikar 2002).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

_NUM_HASHES = 32
_ROWS_PER_BAND = 4  # 8 bands of 4 → catches jaccard ≳ 0.5 w.h.p.


def shingle_sets(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) distinct word n-grams.

    Array-local formulation: build all n-grams inside the words array
    (transform over a position sequence) and explode the distinct set.
    No shuffle and no per-doc window sort — the n-gram assembly happens
    where the row already is. (A lead-window variant costs a full
    shuffle+sort of every word.)
    """
    parts = ", ".join(f"_words[i + {k}]" for k in range(n))
    grams = (
        f"CASE WHEN size(_words) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(_words) - {n}), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE array() END"
    )
    return (
        docs.select(F.col(id_col), F.split(text_col, " ").alias("_words"))
        .select(id_col, F.explode(F.expr(grams)).alias("shingle"))
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, mh_0 … mh_{NUM_HASHES-1}) — the whole signature as one wide
    row.

    The i-th hash family member is xxhash64(base_hash, i) — a fresh
    deterministic 64-bit value per (shingle, i), equivalent to an
    independent permutation for MinHash purposes. All NUM_HASHES mins
    run as codegen'd aggregates in a SINGLE groupBy over the shingle
    rows (the same shape as SimHash's 63 bit-votes): one shuffle of
    |docs| wide partials. The earlier explode-×NUM_HASHES formulation
    pushed |shingles|·NUM_HASHES rows through a (doc, i) shuffle —
    ~50M rows at sf0.1 and the operator's dominant stage; a still
    earlier coefficient-table cross join planned as
    BroadcastNestedLoopJoin and was worse again.
    """
    hashed = shingles.select(id_col, F.xxhash64("shingle").alias("h0"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("h0", F.lit(i))).alias(f"mh_{i}")
            for i in range(_NUM_HASHES)
        ]
    )


def minhash_band_buckets(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_sig): md5 over the band's minhashes in hash-index
    order, computed directly from the wide signature row (pure per-row
    projection + a ×n_bands explode of tiny structs — no shuffle)."""
    n_bands = _NUM_HASHES // _ROWS_PER_BAND
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh_{b * _ROWS_PER_BAND + j}").cast("string")
                            for j in range(_ROWS_PER_BAND)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(id_col, F.explode(bands).alias("_b")).select(
        id_col, F.col("_b.band").alias("band"), F.col("_b.band_sig").alias("band_sig")
    )


DF_CAP_MIN = 5
DF_CAP_FRAC = 0.01


def shingle_df_cap(docs: DataFrame) -> DataFrame:
    """1-row (df_cap: long) document-frequency cap for shingle pair
    joins: greatest(DF_CAP_MIN, ceil(DF_CAP_FRAC · |docs|)).

    "Boilerplate" is defined relative to corpus size — a shingle in
    more than 1% of all documents (min 5 at tiny scale) carries no
    near-dup signal and f² pair cost. The relative definition keeps
    the cap meaningful from sf0.01 (cap=5) to 100 TB (cap=millions):
    the hot set it induces is bounded by Σdf / cap ≤ avg_shingles_per
    _doc / DF_CAP_FRAC entries REGARDLESS of corpus size, which is
    what makes the hot set broadcastable below.
    """
    return docs.agg(
        F.greatest(F.lit(DF_CAP_MIN), F.ceil(F.count(F.lit(1)) * DF_CAP_FRAC))
        .cast("long")
        .alias("df_cap")
    )


def df_capped_shingle_split(
    shingles: DataFrame, docs: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Split (id, shingle) rows by document frequency vs the corpus-
    relative cap — the skew guard that makes raw shingle self-joins
    survive a boilerplate-heavy corpus (VERDICT r8 #1: a 3-gram shared
    by f docs puts f² candidates on ONE shuffle key, unsplittable by
    AQE).

    Returns (cold, hot_sets):
    - cold: the shingle rows with df ≤ cap — safe to self-join, since
      every join key fans out ≤ cap, so candidates ≤ cap·|shingle
      rows| (linear, standard Broder df-pruning).
    - hot_sets: (id, _hot array<string>) — each doc's OWN hot
      shingles, for exact-metric recombination on candidate pairs.
      Per-doc width ≤ |hot| ≤ avg_shingles_per_doc / DF_CAP_FRAC
      (corpus-size-independent — see shingle_df_cap), so the array
      join adds O(|candidates| · |hot per doc|) local work, never a
      shuffle explosion.

    Recall contract (Broder-style bound): a true pair is LOST only if
    every one of its common shingles is hot. For containment ≥ τ that
    requires ≥ τ·min(|A|,|B|) shingles of the smaller doc to each
    occur in > 1% of the corpus — i.e. the "match" is itself pure
    boilerplate. Pairs sharing ≥ 1 cold shingle are retained with
    EXACT metrics (cold count from the join + hot count from
    array_intersect on hot_sets).
    """
    cap = shingle_df_cap(docs)
    sdf = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # 1-row broadcast nested-loop against the df table, then the hot
    # set itself broadcasts into the anti/membership joins (size bound
    # documented above).
    hot = (
        sdf.crossJoin(F.broadcast(cap))
        .where(F.col("_df") > F.col("df_cap"))
        .select("shingle")
    )
    cold = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    hot_sets = (
        shingles.join(F.broadcast(hot), "shingle")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_hot"))
    )
    return cold, hot_sets


def capped_bucket_pairs(
    members: DataFrame,
    group_cols: list[str],
    id_col: str,
    cap: int,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs within each bucket, with bounded
    work per bucket — the adversarial-skew guard for LSH self-joins.

    An all-pairs bucket self-join is quadratic in bucket size: a
    pathological corpus (10⁶ identical docs → one bucket) would emit
    5·10¹¹ pairs. Instead, members rank by id inside their bucket and:

    - ranks ≤ cap pair all-with-all            → ≤ cap²/2 pairs
    - ranks ≥ cap chain to their successor      → n - cap pairs

    Total O(cap² + n) per bucket. Pair COMPLETENESS degrades only for
    buckets larger than cap (tail members get chain edges, not all
    pairs) — but such buckets are near-identical-content clusters, the
    chain keeps every member connected (each chain edge still passes
    the exact verify when members truly are near-dups), and downstream
    clustering (plans/northstar.py dup_clusters) recovers the full
    cluster from the chain. Normal buckets (≤ cap) are exhaustive.

    Scale: the rank is a per-bucket window sort — O(n log n) on the
    bucket's partition, never quadratic. The emitted-pair bound, not
    the sort, is what saves the job.
    """
    w = Window.partitionBy(*group_cols).orderBy(id_col)
    ranked = members.withColumn("_r", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    same_bucket = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in group_cols]
    head = ranked.where(F.col("_r") <= cap)
    a, b = head.alias("a"), head.alias("b")
    head_pairs = a.join(
        b, _and_all(same_bucket + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
    )
    ta = ranked.where(F.col("_r") >= cap).alias("a")
    tb = ranked.where(F.col("_r") > cap).alias("b")
    chain_pairs = ta.join(
        tb, _and_all(same_bucket + [F.col("a._r") + 1 == F.col("b._r")])
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
    )
    return head_pairs.unionByName(chain_pairs)


def _and_all(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 64,
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, jaccard ≥ threshold).

    Pipeline: shingle → minhash → band → capped bucket self-join
    (candidates) → exact Jaccard verify on candidates only. The band
    join is the only potentially-skewed shuffle; identical band_sig
    groups are true near-dup clusters, so skew == signal — but
    adversarially-large buckets are bounded by ``max_bucket_size``
    (see capped_bucket_pairs) so one degenerate signature can't go
    quadratic.
    """
    # shingle sets feed the signature pipeline AND (3×) the exact
    # verify; band buckets self-join. Without eager materialization
    # each reuse replays the whole upstream DAG (~5× total runtime).
    # localCheckpoint (not cache) so the blocks are dropped when the
    # result DataFrame is garbage-collected — repeated operator calls
    # in one session must not accumulate storage.
    sh = shingle_sets(docs, n, id_col, text_col).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh, id_col)
    buckets = minhash_band_buckets(sigs, id_col)
    cand = (
        capped_bucket_pairs(buckets, ["band", "band_sig"], id_col, max_bucket_size)
        .distinct()
        .localCheckpoint(eager=True)
    )
    jac = exact_jaccard(cand, sh, id_col)
    return jac.where(F.col("jaccard") >= threshold)


def exact_jaccard(pairs: DataFrame, shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard for given (doc_a, doc_b) candidate pairs from the
    (id, shingle) set table. Joins shingles only for candidate docs."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = shingles.select(F.col(id_col).alias("doc_a"), F.col("shingle"))
    sb = shingles.select(F.col(id_col).alias("doc_b"), F.col("shingle"))
    common = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIM_BITS = 63  # avoid the bigint sign bit
_CHUNKS = 4  # 16-bit pigeonhole chunks → finds all pairs with hamming ≤ 3


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash): 63-bit weighted-bit-vote fingerprint over word
    frequencies (Charikar-style). One groupBy on id; the 63 per-bit
    votes are codegen'd column expressions, not 63 passes."""
    words = docs.select(
        F.col(id_col).alias("_id"), F.explode(F.split(text_col, " ")).alias("word")
    )
    # vote ±1 per word OCCURRENCE: Σ_occurrences(±1) ≡ Σ_distinct(cnt·±1),
    # so the per-(doc, word) count shuffle the textbook formulation uses
    # is pure overhead — one groupBy on id, map-side partials absorb the
    # volume
    h = F.xxhash64("word")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"v{b}")
        for b in range(_SIM_BITS)
    ]
    voted = words.groupBy("_id").agg(*votes)
    sig = None
    for b in range(_SIM_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig + term
    return voted.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate pairs within Hamming ≤ max_hamming of each other's
    simhash. Candidates come from matching any 16-bit chunk (pigeonhole:
    guaranteed complete for hamming ≤ 3; a recall-bounded screen above
    that); exact bit_count(xor) verifies. Degenerate chunk buckets are
    bounded by ``max_bucket_size`` (capped_bucket_pairs) — identical
    corpora can't drive the chunk join quadratic."""
    # the chunk table self-joins below — eager localCheckpoint so the
    # signature aggregation (63 bit-vote sums) computes once, not twice
    sigs = simhash_signatures(docs, id_col, text_col).localCheckpoint(eager=True)
    chunks = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select(id_col, "c.chunk_idx", "c.chunk_val")
    cand = capped_bucket_pairs(
        chunks, ["chunk_idx", "chunk_val"], id_col, max_bucket_size
    ).distinct()
    sa = sigs.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def decontaminate(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_shared_ngrams) for every training document sharing at
    least one word-n-gram with the eval set — the standard n-gram
    decontamination screen a training-data pipeline runs so benchmark
    passages cannot leak into the corpus (n=8 is the common choice:
    long enough that chance collisions are negligible, short enough to
    catch partial quotes).

    Scale: the eval side is small by definition — its distinct gram
    set broadcasts, so this is one scan of the corpus with a broadcast
    semi-join shape and a per-doc partial count; nothing about the
    corpus ever shuffles on the gram. At extreme |eval| the broadcast
    becomes a bloom filter of gram hashes with this exact join as the
    exact-verify pass behind it."""
    train_sh = shingle_sets(train_docs, n, id_col, text_col)
    eval_grams = shingle_sets(eval_docs, n, id_col, text_col).select(
        "shingle"
    ).distinct()
    return (
        train_sh.join(F.broadcast(eval_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


class DedupLabels:
    """Persisted duplicate-cluster labels: the connected-components
    fixpoint is a build-once artifact exactly like an ANN index — at
    scale you label the corpus once per ingest batch, then every
    downstream consumer (canonical-survivor resolution, cluster-size
    pruning, dedup reporting) reads the label table instead of
    re-running label propagation. Mirrors similarity.IvfIndex's
    build/load shape.

    Layout: ``{path}/labels`` parquet with (doc_id, comp_id,
    cluster_size) — compact longs, written repartitioned on comp_id so
    per-cluster consumers (the survivor window) shuffle-align for
    free. Labels are a small fraction of corpus bytes (three longs per
    edge-touched doc), so this is metadata-sized relative to 100 TB.
    """

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    @staticmethod
    def build(spark, labels: DataFrame, path: str) -> "DedupLabels":
        """Materialize a (doc_id, comp_id, cluster_size) label table
        (e.g. q_dup_clusters' output) to parquet."""
        (
            labels.select("doc_id", "comp_id", "cluster_size")
            .repartition("comp_id")
            .write.mode("overwrite")
            .parquet(f"{path}/labels")
        )
        return DedupLabels(spark, path)

    @staticmethod
    def load(spark, path: str) -> "DedupLabels":
        return DedupLabels(spark, path)

    def labels(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/labels")

    @staticmethod
    def exists(spark, path: str) -> bool:
        import os

        # _SUCCESS, not isdir: a run killed mid-write leaves a partial
        # parquet directory that must read as "no cache", not as a
        # silently incomplete label set.
        return os.path.isfile(f"{path}/labels/_SUCCESS")


def bloom_filter_table(
    items: DataFrame,
    col: str,
    m_bits: int = 1 << 17,
    k: int = 4,
) -> DataFrame:
    """Build a Bloom filter over a string column as a (chunk, bits)
    TABLE — m_bits of filter packed into m_bits/64 int64 rows — built
    with one aggregation (bit_or of shifted bits per chunk), entirely
    JVM-side. The result is broadcast-join-sized by construction
    (m_bits/64 rows regardless of |items|), which is the point: a
    bloom TABLE broadcast survives eval sets far past the point where
    broadcasting the distinct grams themselves would OOM.

    Hash family: xxhash64(value, seed) for seed 0..k-1, positions mod
    m_bits (sign-safe). Deterministic — no RNG."""
    n_chunks = m_bits // 64
    pos_cols = [
        F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(m_bits)).alias(f"p{seed}")
        for seed in range(k)
    ]
    pos = (
        items.select(*pos_cols)
        .select(F.explode(F.array(*[F.col(f"p{s}") for s in range(k)])).alias("p"))
    )
    return (
        pos.select(
            (F.col("p") / 64).cast("int").alias("chunk"),
            # shiftleft's python wrapper takes only literal shift
            # amounts; the SQL function accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("chunk")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_prefilter(
    probe: DataFrame,
    bloom: DataFrame,
    col: str,
    m_bits: int = 1 << 17,
    k: int = 4,
) -> DataFrame:
    """Keep only probe rows whose ``col`` value is (possibly) in the
    bloom filter: all k probed bits must be set. False positives pass
    (an exact join behind this removes them); true members always
    pass — so composing bloom_prefilter with an exact verify is
    RESULT-IDENTICAL to the exact join alone, just cheaper, because
    the overwhelming share of non-members never reaches the
    wide-key exact join.

    Membership is a PURE FILTER — no explode, no join, no regroup.
    The filter table is m_bits/64 int64 rows BY CONSTRUCTION (16 KiB
    at the default m_bits, independent of how many values were
    inserted), i.e. driver-side index metadata like IVF centroids and
    PQ codebooks; it collects into a literal array the k bit tests
    index with element_at, all inside whole-stage codegen. Duplicate
    probe rows trivially keep their multiplicity (row-local predicate
    — the r5-advice hazard where a grouped sum==k misread duplicated
    rows as misses cannot arise), and an empty/None filter keeps
    nothing (no inserted value ⇒ no member)."""
    rows = bloom.collect()  # ≤ m_bits/64 rows by construction
    chunks = [0] * (m_bits // 64)
    for r in rows:
        chunks[r["chunk"]] = r["bits"]
    # one ArrayType LITERAL (not CreateArray, which codegen would
    # re-evaluate per row); int("...") keeps words int64 so an
    # all-zero (empty) filter can't infer array<int>, whose getbit
    # would reject positions ≥ 32
    import numpy as np

    arr = F.lit(np.array(chunks, dtype=np.int64))
    tests = []
    for seed in range(k):
        p = F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(m_bits))
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        tests.append(F.getbit(word, p % 64) == 1)
    pred = tests[0]
    for t in tests[1:]:
        pred = pred & t
    return probe.where(pred)


def decontaminate_bloom(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 17,
    k: int = 4,
) -> DataFrame:
    """decontaminate's large-eval-set formulation, closing the bloom
    promise in its docstring: eval grams fold into an m_bits bloom
    TABLE (size independent of |eval|), the corpus pre-filters
    against it with k codegen'd bit probes of the collected filter
    literal (16 KiB of index metadata), and only the surviving
    sliver reaches the exact gram join that removes bloom false
    positives. Result-identical to decontaminate (bloom passes all
    true members; the exact join drops the false ones) — asserted in
    tests and by sharing q_decontaminate's oracle."""
    train_sh = shingle_sets(train_docs, n, id_col, text_col)
    eval_grams = shingle_sets(eval_docs, n, id_col, text_col).select(
        "shingle"
    ).distinct()
    bloom = bloom_filter_table(eval_grams, "shingle", m_bits, k)
    survivors = bloom_prefilter(train_sh, bloom, "shingle", m_bits, k)
    # No broadcast hint on the verify join: at the eval-set scale this
    # path exists for, broadcasting the distinct grams would reintroduce
    # exactly the OOM the bloom table avoids. AQE picks broadcast when
    # the gram set happens to be small, shuffle join otherwise.
    return (
        survivors.join(eval_grams, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 64,
) -> DataFrame:
    """(id, comp) labels for the connected components of an undirected
    pair graph, comp = the component's minimum id.

    Min-label propagation PLUS pointer jumping: after pulling the min
    over neighbors, every label shortcuts through its current root
    (comp := min(comp, comp(comp))), so label distance halves per
    round and convergence is O(log diameter) instead of O(diameter).
    The jump join engages from round 3 — tiny-clique graphs (the
    common near-dup case) converge in 2 plain rounds and never pay
    it. The distinction is load-bearing for capped LSH
    buckets: capped_bucket_pairs turns an over-cap near-dup bucket
    into a CHAIN, and a 10⁴-doc chain under plain propagation needs
    ~10⁴ rounds (each a shuffle + driver action) — with jumping, 14.

    Each round is two key-partitioned joins on compact (long, long)
    rows; ``localCheckpoint`` truncates lineage so round N doesn't
    replay rounds 1..N-1; an Observation on it counts dropped labels and
    the loop stops at zero: one action per round, and a metric that fired
    twice is harmless. Hitting the ``max_rounds`` divergence guard raises."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    # seed with one propagation round fused into the init: comp(v) =
    # least(v, min neighbor) — identical to one loop round from
    # identity labels (edges carry both directions).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_md"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_md")).alias("comp"),
        )
    )
    for round_no in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.dst, "left").select(
            "id", F.col("comp").alias("_prev"), F.least("comp", "nbr_comp").alias("comp")
        )
        if round_no >= 2:
            # pointer jump: comp values are node ids, so resolve each
            # label against its root's label and take the lesser.
            # Engaged only once plain propagation hasn't converged in
            # its usual 2 rounds (near-dup graphs are tiny cliques, so
            # the common case never pays the extra join); from round 3
            # the jump halves label distance per round, keeping chain
            # graphs O(log n) overall.
            roots = stepped.select(
                F.col("id").alias("_rid"), F.col("comp").alias("_rcomp")
            )
            stepped = stepped.join(
                roots, stepped.comp == roots._rid, "left"
            ).select("id", "_prev", F.least("comp", "_rcomp").alias("comp"))
        obs, dropped = Observation(), F.col("comp") < F.col("_prev")
        labels = stepped.observe(obs, F.count(F.when(dropped, 1)).alias("n"))
        labels = labels.select("id", "comp").localCheckpoint(eager=True)
        if obs.get["n"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def minhash_lsh_pairs_against(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 64,
) -> DataFrame:
    """INCREMENTAL near-dup detection: pairs (doc_a ∈ corpus,
    doc_b ∈ batch, jaccard ≥ threshold) between a NEW INGEST BATCH and
    the existing corpus — the delta formulation every continuously-fed
    pipeline needs (re-running the O(corpus²-shaped) self-join per
    ingest batch is not a plan).

    Same shingle→minhash→band machinery as minhash_lsh_pairs, but the
    bucket step is a JOIN between the batch's buckets and the corpus's
    buckets, not a self-join: cost tracks |batch| signatures plus the
    colliding buckets only. At 100 TB the corpus side is a build-once
    PERSISTED bucket table (the PostingsIndex/IvfIndex pattern —
    signatures never recompute for old docs); here both sides derive
    inline because the fixture is small, and the plan shape is
    identical.

    Adversarial guard: corpus bucket membership is rank-capped at
    ``max_bucket_size``. A batch doc colliding with a mega-cluster
    still pairs with the cluster's ``cap`` lowest-id members — enough
    to route it to the cluster via downstream connected components —
    without the bucket join emitting |cluster| pairs per batch doc.
    Exact-Jaccard verification on candidates only, as always: false
    positives are impossible, and banding recall is oracle-attested
    per round (1.0 on this fixture's high-similarity duplicates)."""
    # A doc_id present in BOTH sides (a redelivered/updated doc) would
    # double its shingle rows in the unioned verify table — halved
    # Jaccards and a degenerate self-pair. Re-ingestion semantics: the
    # batch version supersedes, so the stale corpus copy drops out via
    # a broadcast anti-join on the (small) batch id set.
    corpus = corpus.join(
        F.broadcast(batch.select(id_col)), id_col, "left_anti"
    )
    sh_b = shingle_sets(batch, n, id_col, text_col).localCheckpoint(eager=True)
    sh_c = shingle_sets(corpus, n, id_col, text_col).localCheckpoint(eager=True)
    bk_b = minhash_band_buckets(minhash_signatures(sh_b, id_col), id_col)
    bk_c = minhash_band_buckets(minhash_signatures(sh_c, id_col), id_col)
    w = Window.partitionBy("band", "band_sig").orderBy(id_col)
    bk_c_capped = (
        bk_c.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= max_bucket_size)
        .drop("_r")
    )
    cand = (
        bk_c_capped.select(
            "band", "band_sig", F.col(id_col).alias("doc_a")
        )
        .join(
            bk_b.select("band", "band_sig", F.col(id_col).alias("doc_b")),
            ["band", "band_sig"],
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    jac = exact_jaccard(cand, sh_c.unionByName(sh_b), id_col)
    return jac.where(F.col("jaccard") >= threshold)
