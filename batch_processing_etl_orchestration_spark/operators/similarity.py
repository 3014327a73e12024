"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Queries broadcast, candidates streamed once; dot/norm via
  higher-order array functions (JVM codegen, no UDF).
- ``hyperplane_lsh_topk``: the scale path — random-hyperplane LSH
  (Charikar 2002) with L tables × m bits. Each vector lands in one
  bucket per table; only bucket-mates are scored. Recall is tuned by
  (L, m); the structure turns an O(N·Q) scan into O(bucket · Q).

Determinism: hyperplanes come from a fixed LCG (no runtime RNG);
cosine uses double products + decimal sums (see plans/northstar.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.operators.genstore import (
    GenerationalStore,
)
from batch_processing_etl_orchestration_spark.tables import MetaCache

# scaled-long fold: exact, order-insensitive, primitive codegen path
# (see plans/northstar.py and functions/exact.py for the rationale)
_SIM_SCALE = 10**14


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + CAST(ROUND(v * {_SIM_SCALE}) AS BIGINT))"
    ) / F.lit(float(_SIM_SCALE))


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + CAST(ROUND(v * {_SIM_SCALE}) AS BIGINT))"
        )
        / F.lit(float(_SIM_SCALE))
    )


def cosine(a: str, b: str) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "query_id",
    c_id: str = "cand_id",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """Exact cosine top-k per query (excluding self-matches by id).

    One Arrow pass over the candidates with the (small by contract)
    query matrix shipped in the closure — the same shape as
    hyperplane_lsh_topk's probe but with no bucket mask, so every
    (candidate, query) pair is scored. Each batch emits only its
    batch-local top-k per query, which is safe because batch-local
    order under (sim desc, cand_id asc) is a restriction of the global
    order; the final window then ranks ≤ batches·k·|Q| rows instead of
    |C|·|Q|. The per-element scaled-long rounding reproduces the
    declarative fold of q_cosine_topk_bruteforce bit-for-bit (replaces
    a crossJoin + interpreted-lambda fold that was ~4× slower at
    sf0.1)."""
    return _streamed_topk(queries, candidates, k, q_id, c_id, q_vec, c_vec, _exact_sims)


def _round_half_away(x):
    """Round half away from zero — matches Spark/DuckDB ROUND.
    np.round rounds half to even, so a product landing exactly on .5
    at the scale boundary would diverge from the declarative fold and
    could reorder batch-local top-k."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) + 0.5), x)


def _exact_sims(cmat, qmat):
    """Scaled-long-rounded cosine matrix — bit-identical to the
    declarative fold in q_cosine_topk_bruteforce (half-away-from-zero
    rounding, same as Spark/DuckDB ROUND)."""
    import numpy as np

    scale = float(_SIM_SCALE)
    dot = _round_half_away(cmat[:, None, :] * qmat[None, :, :] * scale).sum(axis=2) / scale
    cnorm = np.sqrt(_round_half_away(cmat * cmat * scale).sum(axis=1) / scale)
    qnorm = np.sqrt(_round_half_away(qmat * qmat * scale).sum(axis=1) / scale)
    return dot / (cnorm[:, None] * qnorm[None, :])


def _int8_sims(cmat, qmat):
    """Asymmetric int8 cosine: candidates quantized with per-vector
    absmax scales (the q_embedding_quantize_int8 codec), queries kept
    float; plain IEEE ops (determinism from numpy, not scaling)."""
    import numpy as np

    scales = np.maximum(np.abs(cmat).max(axis=1) / 127.0, 1e-12)
    cdq = np.round(cmat / scales[:, None]) * scales[:, None]
    dot = cdq @ qmat.T
    cnorm = np.sqrt((cdq * cdq).sum(axis=1))
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    return dot / (cnorm[:, None] * qnorm[None, :])


def _streamed_topk(queries, candidates, k, q_id, c_id, q_vec, c_vec, sims_fn):
    """Shared one-Arrow-pass top-k driver: query matrix in the
    closure, per-batch sims via sims_fn, batch-local top-k under
    (sim desc, cand_id asc), one global ranking window."""
    import numpy as np

    qrows = queries.select(q_id, q_vec).collect()  # small by contract
    passthrough = [f for f in candidates.schema.fields if f.name != c_vec]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in passthrough)
        + f", {q_id} BIGINT, cosine_sim DOUBLE"
    )
    if not qrows:
        # an empty query side would otherwise give qmat shape (0,) and
        # raise an opaque broadcasting error inside executors
        cols = [q_id] + [f.name for f in passthrough] + ["cosine_sim", "rank"]
        from batch_processing_etl_orchestration_spark.tables import empty_df

        empty = empty_df(candidates.sparkSession, out_schema + ", rank INT")
        return empty.select(*cols)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    n_q = len(qids)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.vstack(pdf[c_vec].to_numpy()).astype(np.float64)
            sims = sims_fn(cmat, qmat)  # (n_c, n_q)
            cids = pdf[c_id].to_numpy()
            sims[cids[:, None] == qids[None, :]] = -np.inf  # self-exclusion
            kk = min(k, len(pdf))
            keep_ci, keep_qi = [], []
            for j in range(n_q):
                order = np.lexsort((cids, -sims[:, j]))[:kk]
                kept = order[np.isfinite(sims[order, j])]
                keep_ci.append(kept)
                keep_qi.append(np.full(len(kept), j, dtype=np.int64))
            ci = np.concatenate(keep_ci)
            qi = np.concatenate(keep_qi)
            if len(ci) == 0:
                continue
            out = pdf.iloc[ci][[f.name for f in passthrough]].reset_index(drop=True)
            out[q_id] = qids[qi]
            out["cosine_sim"] = sims[ci, qi]
            yield out

    scored = candidates.mapInPandas(score, out_schema)
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    cols = [q_id] + [f.name for f in passthrough] + ["cosine_sim", "rank"]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols)
    )


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------


def _hyperplanes(n_tables: int, n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim via a
    fixed LCG; row t*n_bits+j is plane j of table t."""
    planes = []
    state = 0x9E3779B97F4A7C15
    for _ in range(n_tables * n_bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append((state % 1_000_000) / 1_000_000.0 - 0.5)
        planes.append(row)
    return planes


def lsh_bucket_ids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = 16,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(id, table_id, bucket): sign-pattern bucket of each vector in
    each LSH table.

    Formulation: Arrow-batched ``mapInPandas`` — each batch is one
    BLAS matmul X·Pᵀ (n×dim by dim×planes), signs reshaped to
    per-table bucket ints. Zero shuffle: the projection is
    embarrassingly per-row, so buckets stream out of the scan
    partitions. Measured 2.5× faster than the previous
    posexplode→broadcast-join→partial-agg formulation (which itself
    beat the interpreted higher-order-function fold ~10×): the
    join-agg shape fans out |vectors|·dim·n_planes rows through two
    hash aggregates, all to compute what one vectorized matmul does
    per batch. Bucket values are bit-identical across all three
    formulations (sign of a double dot product).
    """
    import numpy as np
    import pandas as pd

    planes = np.array(_hyperplanes(n_tables, n_bits, dim))
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    id_type = vectors.schema[id_col].dataType.simpleString()

    def buckets(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            signs = (x @ planes.T) > 0
            b = signs.reshape(len(x), n_tables, n_bits) @ weights
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf["_id"].to_numpy(), n_tables),
                    "table_id": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(x)
                    ),
                    "bucket": b.reshape(-1),
                }
            )

    narrow = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    return narrow.mapInPandas(
        buckets, f"{id_col} {id_type}, table_id INT, bucket BIGINT"
    )


def hyperplane_lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_tables: int = 16,
    n_bits: int = 4,
    dim: int = 64,
    q_id: str = "query_id",
    c_id: str = "cand_id",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """Approximate cosine top-k: score only candidates sharing an LSH
    bucket with the query in ≥1 table. Returns the same shape as
    brute_force_topk (recall measured against it in tests).

    Structure: the query set is small by contract (it's the probe
    side), so its vectors AND buckets ship to executors inside the
    mapInPandas closure; candidates are bucketed, bucket-matched, and
    exact-scored in a single Arrow pass over the scan — one job, zero
    shuffle until the final (tiny) top-k window. At 100 TB this is
    one read of the corpus with no wide exchange, the same shape as a
    broadcast-hash join. Cosine reproduces the scaled-long fold of
    brute_force_topk (per-element round at 1e14, then sum) so returned
    sims are bit-comparable to the exact baseline."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(q_id, q_vec).collect()  # small by contract
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    planes = np.array(_hyperplanes(n_tables, n_bits, dim))
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    qsigns = (qmat @ planes.T) > 0
    qbuckets = qsigns.reshape(len(qmat), n_tables, n_bits) @ weights  # (n_q, T)
    scale = float(_SIM_SCALE)
    qnorm = np.sqrt(np.round(qmat * qmat * scale).sum(axis=1) / scale)

    passthrough = [f for f in candidates.schema.fields if f.name != c_vec]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in passthrough)
        + f", {q_id} BIGINT, cosine_sim DOUBLE"
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.vstack(pdf[c_vec].to_numpy()).astype(np.float64)
            csigns = (cmat @ planes.T) > 0
            cbuckets = csigns.reshape(len(cmat), n_tables, n_bits) @ weights
            # (n_c, n_q): collide in >=1 table, excluding self-matches
            hit = (cbuckets[:, None, :] == qbuckets[None, :, :]).any(axis=2)
            hit &= pdf[c_id].to_numpy()[:, None] != qids[None, :]
            ci, qi = np.nonzero(hit)
            if len(ci) == 0:
                continue
            prods = cmat[ci] * qmat[qi]
            dot = np.round(prods * scale).sum(axis=1) / scale
            cnorm = np.sqrt(
                np.round(cmat[ci] * cmat[ci] * scale).sum(axis=1) / scale
            )
            out = pdf.iloc[ci][[f.name for f in passthrough]].reset_index(drop=True)
            out[q_id] = qids[qi]
            out["cosine_sim"] = dot / (qnorm[qi] * cnorm)
            yield out

    scored = candidates.mapInPandas(probe, out_schema)
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    cols = [q_id] + [f.name for f in passthrough] + ["cosine_sim", "rank"]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cell-partitioned scale path
# ---------------------------------------------------------------------------


def _nearest_cells(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, cell_id, cell_rank): the n_probe nearest centroids per
    vector by cosine. Since |v| is constant per vector, ranking by
    dot/|c| equals ranking by cosine — no vector-norm pass needed.

    One Arrow pass with the centroid matrix in the closure (n_cells ×
    dim is index metadata): each batch is a single (n, dim)·(dim,
    n_cells) matmul plus a stable per-row argsort, so assignment costs
    one scan with NO exchange — the earlier posexplode → broadcast-join
    → partial-agg shape pushed n·dim·n_cells rows through an
    aggregate, three times per ivf_topk call. Ties break toward the
    lower cell_id (stable argsort over ascending cell columns), and
    the fixed accumulation order makes scores deterministic under any
    partitioning — the Spark-agg fold's sum order was not."""
    import numpy as np

    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    assert (np.diff(cids) > 0).all(), "centroids must be sorted by cell_id"
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cnorm[cnorm == 0] = 1.0
    k = min(n_probe, len(cids))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            scores = (vmat @ cmat.T) / cnorm[None, :]
            top = np.argsort(-scores, axis=1, kind="stable")[:, :k]
            cols = {
                id_col: np.repeat(pdf[id_col].to_numpy(), k),
                "cell_id": cids[top.ravel()].astype("int32"),
                "cell_rank": np.tile(np.arange(1, k + 1), len(pdf)),
            }
            if carry_vec:
                # centroid-training support (r15): the per-cell mean
                # pass needs the vector BESIDE its assignment — carry
                # it through the same Arrow batch instead of paying a
                # corpus-sized join back to the source
                cols["_vec"] = np.repeat(pdf[vec_col].to_numpy(), k)
            yield pd.DataFrame(cols)

    schema = f"{id_col} LONG, cell_id INT, cell_rank INT"
    if carry_vec:
        schema += ", _vec ARRAY<DOUBLE>"
    return vectors.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_build_centroids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    dim: int,
    n_iter: int = 2,
) -> list[tuple[int, list[float]]]:
    """Coarse quantizer: seeds = the n_cells vectors with the lowest
    ``xxhash64(id)`` (deterministic, no RNG, and — unlike lowest-id
    seeds — uncorrelated with insert order, so time-clustered ids
    can't collapse the seed set into one region of the space), then
    ``n_iter`` Lloyd iterations (per-cell mean of assigned vectors)
    to pull centroids toward the data. Returns the driver-side
    centroid list (cell_id, vector) that assignment passes ship
    inside their Arrow closures.

    Driver collects are n_cells and n_cells*dim rows — index
    metadata, not data. At 100 TB the index is built once and reused
    across queries (n_iter+1 passes over the corpus, amortized)."""
    seeds = [
        (i, [float(x) for x in r[1]])
        for i, r in enumerate(
            vectors.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(n_cells)
            .collect()
        )
    ]
    cent = seeds
    for _ in range(max(1, n_iter)):
        # ONE pass per Lloyd iteration (r15 optimization): the
        # assignment closure emits each vector BESIDE its nearest
        # cell, so the per-cell means aggregate directly over
        # (cell_id, pos, val) — the old shape re-scanned the table
        # through a posexplode and shuffled every (id, pos, val) row
        # through a corpus-sized join with the assignment before
        # aggregating (guide §2.3: aggregate before you shuffle; the
        # partial agg here ships n_cells × dim rows per task). The
        # avg sees the identical row multiset.
        assigned = _nearest_cells(
            vectors, id_col, vec_col, cent, 1, carry_vec=True
        )
        means = (
            assigned.select(
                "cell_id", F.posexplode("_vec").alias("pos", "val")
            )
            .groupBy("cell_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("w"))
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in means:
            by_cell.setdefault(r["cell_id"], [0.0] * dim)[r["pos"]] = r["w"]
        # a cell that captured no vectors keeps its previous centroid
        # so cell ids stay dense and stable across iterations
        prev = dict(cent)
        cent = sorted({**prev, **by_cell}.items())
    return cent


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 4,
    dim: int = 64,
    q_id: str = "query_id",
    c_id: str = "cand_id",
    q_vec: str = "qe",
    c_vec: str = "ce",
    n_assign: int = 2,
) -> DataFrame:
    """IVF approximate cosine top-k: candidates are binned to their
    ``n_assign`` nearest centroids (inverted lists with replication —
    the standard recall lever when the corpus has weak cluster
    structure; storage is n_assign× list entries, never extra vector
    bytes at scale since lists hold ids); each query probes only its
    n_probe nearest cells, so the exact-scoring pass touches
    ~n_probe/n_cells of the corpus instead of all of it. Pairs seen
    via two replicas are deduped before ranking (value-identical
    rows, so the dedup is deterministic).

    Scale: the inverted lists ARE a partitioning — at 100 TB,
    repartition/cluster the corpus by cell_id on write and a probe
    reads only the probed cells' files (partition pruning on cell_id).
    Returns brute_force_topk's shape; recall measured in
    tests/test_similarity.py (0.92 at 8 cells / 4 probes / 2 assigns
    on the fixture vs 0.74 single-assign)."""
    cent = ivf_build_centroids(candidates, c_id, c_vec, n_cells, dim)
    cand_cells = _nearest_cells(candidates, c_id, c_vec, cent, n_assign).select(
        c_id, "cell_id"
    )
    inverted = candidates.join(cand_cells, c_id).repartition("cell_id").alias("inv")
    q_cells = _nearest_cells(queries, q_id, q_vec, cent, n_probe).select(q_id, "cell_id")
    probe = q_cells.join(F.broadcast(queries), q_id)
    scored = (
        probe.join(inverted, "cell_id")
        .where(F.col(q_id) != F.col(c_id))
        .drop("cell_id")
        .dropDuplicates([q_id, c_id])
        .withColumn("cosine_sim", cosine(q_vec, c_vec))
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    # qualify passthrough from the candidates alias: a column name the
    # query side also carries must not make the final select ambiguous
    passthrough = [
        F.col(f"inv.{f.name}").alias(f.name)
        for f in candidates.schema.fields
        if f.name not in (c_id, c_vec)
    ]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, *passthrough, "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding near-duplicate pairs at scale (LSH-bucketed)
# ---------------------------------------------------------------------------


def cosine_lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.35,
    n_tables: int = 16,
    n_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 256,
) -> DataFrame:
    """(vec_a, vec_b, cosine_sim ≥ threshold) — the unsupervised scale
    path for embedding near-dup detection (q_embedding_near_dup_pairs
    blocks on a label column; this blocks on hyperplane-LSH buckets,
    the structure available when no labels exist).

    Pipeline: lsh_bucket_ids (one Arrow matmul pass, zero shuffle) →
    capped bucket self-join (candidates bounded per bucket — see
    operators/dedup.capped_bucket_pairs) → exact cosine verify on
    candidates only, with the same scaled-long kernel as the
    brute-force baseline, so any returned similarity is bit-identical
    to brute force. Candidate count tracks near-dup density ×
    n_tables, never |vectors|².

    Recall tuning mirrors hyperplane_lsh_topk: P(collide in ≥1 table)
    = 1-(1-p^m)^L with p = 1 - θ/π; at τ=0.35, L=16, m=4 ≈ 0.9,
    rising steeply with similarity (true dups ≈ 1.0). Floor asserted
    in tests/test_similarity.py. The cap trades recall for
    skew-boundedness: 64 chopped dense true-dup buckets to 0.28
    labeled recall at 15k vectors, 256 restores 0.91 at the same
    runtime (measured on the sf0.1 fixture), and 512 adds nothing —
    worst-bucket cost stays O(cap² + n) with chain edges preserving
    cluster connectivity when the cap does bind.
    """
    from batch_processing_etl_orchestration_spark.operators.dedup import (
        capped_bucket_pairs,
    )

    buckets = lsh_bucket_ids(vectors, id_col, vec_col, n_tables, n_bits, dim)
    cand = (
        capped_bucket_pairs(buckets, ["table_id", "bucket"], id_col, max_bucket_size)
        .distinct()
        .localCheckpoint(eager=True)
    )
    va = vectors.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("_ea"))
    vb = vectors.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("_eb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cosine_sim", cosine("_ea", "_eb"))
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            "cosine_sim",
        )
    )


def int8_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "query_id",
    c_id: str = "cand_id",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """Cosine top-k against an int8-quantized candidate index
    (asymmetric search: candidates quantized with per-vector absmax
    scales — the q_embedding_quantize_int8 codec — queries kept
    float). The index side is what dominates memory at 100 TB, so
    this is the standard 4x-smaller serving configuration; scoring
    runs on the dequantized values inside the same single Arrow pass
    as brute_force_topk, batch-local top-k, then one global window.
    Deterministic: numpy round/mul only, same (sim desc, cand_id)
    tiebreak as the exact path."""
    return _streamed_topk(queries, candidates, k, q_id, c_id, q_vec, c_vec, _int8_sims)


class IvfIndex(GenerationalStore):
    """Persisted IVF index with the FULL text-index lifecycle
    (VERDICT r13 #2): inverted lists written as cell_id-partitioned
    parquet plus a centroid side table, under the generation-pointer
    machinery of operators/genstore.GenerationalStore — atomic
    publishes, segment ingestion (add_segment), tombstone deletes
    (delete_vectors), compaction, lost-update chase, and the retract
    protocol, shared line-for-line with PostingsIndex.

    A probe ranks its n_probe cells, collects that (tiny: |Q|·n_probe)
    cell set, and filters the inverted-list read with it, so the scan
    prunes to probed cells' files (PartitionFilters — asserted in
    tests/test_similarity.py). At 100 TB this is the difference
    between re-binning the corpus per query batch and reading a few
    directories.

    Centroids are FROZEN at build (meta records id/vec cols, dim and
    the n_assign replication): segments assign against the live
    generation's centroids, so an index after add_segment is
    BIT-IDENTICAL to one rebuilt from scratch over the union with the
    same centroids and probes need no special casing. As the corpus
    drifts from the training distribution, cells imbalance and recall
    decays — monitor cell-size skew and retrain (a fresh build(),
    optionally passing `centroids=` to pin the quantizer) when it
    crosses a bound; adds are cheap between retrains."""

    _STORES = ("inverted", "centroids")
    # segments carry inverted lists only (centroids are generation
    # metadata, never per-segment)
    _CORE_STORES = ("inverted",)
    _ID_STORE = "inverted"
    _ID_STORE_UNIQUE = False  # n_assign rows per id
    _META_DEFAULT = {"id_col": "cand_id", "vec_col": "ce"}

    def __init__(self, spark, path, centroids, c_id="cand_id", c_vec="ce"):
        super().__init__(spark, path)
        self.centroids = centroids
        self.c_id = c_id
        self.c_vec = c_vec

    # -- store writers ---------------------------------------------------

    @staticmethod
    def _write_inverted(
        candidates: DataFrame,
        out_dir: str,
        centroids,
        c_id: str,
        c_vec: str,
        n_assign: int,
        check_empty: bool = False,
    ) -> None:
        # check_empty only on the build() path (review r15): segment
        # landings are guaranteed non-empty by _land_segment's bounds
        # guard, so the hot ingest path must not pay the extra job.
        # The emptiness probe runs on CANDIDATES, not the assignment
        # join (r15 optimization): the join is 1:n_assign per
        # candidate, so it is empty iff candidates is, and probing the
        # join evaluated the whole mapInPandas assignment pipeline
        # (measured ~3 s of Python-worker/codegen for the answer
        # "empty").
        if check_empty and candidates.isEmpty():
            # empty bootstrap build (a brand-new streaming ingest):
            # a partitionBy write of zero rows is _SUCCESS-only and
            # unreadable (ADVICE r14) — publish a schema-bearing
            # non-partitioned empty store instead. Built from the
            # candidate schema directly (same column order the join
            # produces: key, remaining candidate columns, cell_id) so
            # no assignment plan is ever evaluated on this path.
            from pyspark.sql import types as T

            from batch_processing_etl_orchestration_spark.tables import (
                empty_df,
            )

            # JVM-only empty frame (r15): limit(0) over a Python-RDD-
            # backed candidates frame (the bootstrap callers pass a
            # literal empty) still evaluates its 32 Python slices on
            # the coalesce(1) write; tables.empty_df is one trivial
            # Range task and still emits the schema-bearing file.
            # Same column order the assignment join produces.
            fields = [candidates.schema[c_id]] + [
                f for f in candidates.schema.fields if f.name != c_id
            ] + [T.StructField("cell_id", T.IntegerType())]
            IvfIndex._write_store(
                empty_df(candidates.sparkSession, T.StructType(fields)),
                out_dir, "inverted", 1, c_id, empty=True,
            )
            return
        cells = _nearest_cells(
            candidates, c_id, c_vec, centroids, n_assign
        ).select(c_id, "cell_id")
        # Builds and landings write 8 files; a fold writes its n_files.
        # The sidecar's n_docs counts inverted rows (n_assign per id):
        # an upper bound on live ids, zero exactly when the store is
        # empty — all its readers need.
        IvfIndex._write_store(
            candidates.join(cells, c_id), out_dir, "inverted", 8, c_id
        )

    @staticmethod
    def _write_centroids(spark, gen_dir: str, centroids) -> None:
        # tables.local_rows_df plans a LocalRelation: the coalesce(1)
        # write is one trivial JVM task (~0.3 s), where a list-backed
        # frame would evaluate its Python slices sequentially in that
        # task (measured 5-9 s on local[32] for 8 rows).
        from batch_processing_etl_orchestration_spark.tables import (
            local_rows_df,
        )

        (
            local_rows_df(
                spark,
                [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
                "cell_id INT, centroid ARRAY<DOUBLE>",
            )
            .coalesce(1)
            .write.mode("errorifexists")
            .parquet(os.path.join(gen_dir, "centroids"))
        )

    @staticmethod
    def _write_meta(
        gen_dir: str, c_id: str, c_vec: str, dim: int, n_assign: int
    ) -> None:
        import json

        os.makedirs(gen_dir, exist_ok=True)
        with open(os.path.join(gen_dir, "_meta.json"), "w") as f:
            json.dump(
                {
                    "id_col": c_id,
                    "vec_col": c_vec,
                    "dim": int(dim),
                    "n_assign": int(n_assign),
                },
                f,
            )

    _CENTROIDS_CACHE = MetaCache()

    def _centroids(self, gen: str | None = None):
        """The PINNED generation's quantizer (n_cells rows — index
        metadata). Probe and add_segment read it from the generation
        they operate on rather than trusting self.centroids, so a
        handle that outlived a retrain can never assign or probe with
        a stale quantizer.

        Cached per generation dir: centroids are FROZEN at
        build/compact and the gen dir is immutable once published, so
        the read+collect job each landing and each probe paid (the
        k-row quantizer is re-read per call) can never serve stale
        values. Process-local, n_cells rows per entry."""
        path = os.path.join(gen or self._gen(), "centroids")

        def load():
            rows = self.spark.read.parquet(path).collect()
            return sorted((r["cell_id"], list(r["centroid"])) for r in rows)

        return IvfIndex._CENTROIDS_CACHE.get(path, load)

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def build(
        spark,
        candidates: DataFrame,
        path: str,
        n_cells: int = 8,
        dim: int = 64,
        c_id: str = "cand_id",
        c_vec: str = "ce",
        n_assign: int = 2,
        centroids=None,
    ) -> "IvfIndex":
        """Train (or accept via `centroids=` — the pinned-quantizer
        rebuild used after compaction-scale retrains) and publish a
        fresh generation. Readers never see a half-built index."""
        import uuid as _uuid

        os.makedirs(path, exist_ok=True)
        cent = (
            sorted((int(c), [float(x) for x in v]) for c, v in centroids)
            if centroids is not None
            else ivf_build_centroids(candidates, c_id, c_vec, n_cells, dim)
        )
        # dim is FROZEN in generation meta and every later add_segment
        # validates against it — so it must match the quantizer it is
        # recorded beside (ADVICE r14: a mismatched centroids= was
        # accepted and poisoned every later assignment). Driver-side,
        # free: cent is n_cells rows of index metadata.
        bad = [c for c, v in cent if len(v) != int(dim)]
        if bad:
            raise ValueError(
                f"build: centroids for cells {bad[:5]} have dimension "
                f"!= dim={dim}; the quantizer and the frozen meta "
                "must agree"
            )
        gen_name = f"gen-{_uuid.uuid4().hex[:12]}"
        gen_dir = os.path.join(path, gen_name)
        IvfIndex._write_inverted(
            candidates, gen_dir, cent, c_id, c_vec, n_assign,
            check_empty=True,
        )
        IvfIndex._write_centroids(spark, gen_dir, cent)
        IvfIndex._write_meta(gen_dir, c_id, c_vec, dim, n_assign)
        idx = IvfIndex(spark, path, cent, c_id, c_vec)
        # a rebuild (retrain) over a live index carries the committed-
        # segments ledger forward (review r15 — _write_rebuild_manifest)
        idx._write_rebuild_manifest(gen_dir)
        idx._publish(gen_name)
        return idx

    @staticmethod
    def load(spark, path: str, c_id: str = "cand_id", c_vec: str = "ce") -> "IvfIndex":
        idx = IvfIndex(spark, path, None, c_id, c_vec)
        meta = idx._meta()
        idx.c_id, idx.c_vec = meta["id_col"], meta["vec_col"]
        idx.centroids = idx._centroids()
        return idx

    @classmethod
    def _open(cls, spark, path: str) -> "IvfIndex":
        return cls.load(spark, path)

    def add_segment(self, new_candidates: DataFrame, name: str) -> None:
        """Incremental index maintenance: assign new vectors against
        the live generation's FROZEN centroids and land them as a
        segment — no retrain, no rewrite of resident cells, full
        landing protocol (id-disjointness, tombstone pre/re-check with
        retract, lost-update chase) from GenerationalStore."""
        meta = self._meta()
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        n_assign = int(meta.get("n_assign", 2))
        dim = int(meta.get("dim", 0))

        def _validate(bounds, gen0):
            # Frozen-dim enforcement (ADVICE r14): _nearest_cells
            # zip-aggregates query×centroid coordinates, so a
            # mismatched vector would silently get a wrong/null cell
            # assignment instead of an error. The count rides the
            # bounds job (r15: extra_aggs) instead of paying its own
            # scan per micro-batch.
            if dim and int(bounds["n_bad_dim"] or 0):
                raise ValueError(
                    f"add_segment: batch carries vectors whose "
                    f"dimension differs from the generation's frozen "
                    f"dim={dim} (or null vectors); cell assignment "
                    "would be silently wrong"
                )

        def _write(tmp, gen0, bounds):
            self._write_inverted(
                new_candidates, tmp, self._centroids(gen0),
                id_col, vec_col, n_assign,
            )

        self._land_segment(
            new_candidates.select(F.col(id_col), F.col(vec_col)),
            name,
            _write,
            validate=_validate,
            extra_aggs=[
                F.sum(
                    F.when(
                        F.col(vec_col).isNull()
                        | (F.size(vec_col) != F.lit(dim)),
                        1,
                    ).otherwise(0)
                ).alias("n_bad_dim")
            ]
            if dim
            else [F.lit(0).alias("n_bad_dim")],
        )

    def add(self, new_candidates: DataFrame, n_assign: int = None) -> None:
        """Auto-named add_segment (the pre-lifecycle API). n_assign is
        frozen in generation meta; passing a different one is
        rejected rather than silently mixing replication factors."""
        import uuid as _uuid

        if n_assign is not None:
            frozen = int(self._meta().get("n_assign", 2))
            if int(n_assign) != frozen:
                raise ValueError(
                    f"add: n_assign={n_assign} differs from the index's "
                    f"frozen {frozen}; rebuild to change replication"
                )
        self.add_segment(new_candidates, f"add-{_uuid.uuid4().hex[:8]}")

    def delete_vectors(self, ids: DataFrame, id_col: str | None = None) -> None:
        """Tombstone vectors — GenerationalStore.delete_ids under the
        vector index's name."""
        self.delete_ids(ids, id_col=id_col)

    def _fold_stores(self, out, gen, segs, dead, n_files) -> None:
        meta = self._meta(gen)
        id_col = meta["id_col"]
        merged = self._union_store("inverted", segs=segs, dead=dead, gen=gen)
        # the folded base records its sidecar like a landing, so the
        # next landing keeps its watermark and interval pruning; deletes
        # covering every vector leave an empty store
        self._write_store(
            merged, out, "inverted", n_files, id_col, empty=merged.isEmpty()
        )
        # centroids are generation metadata: carried forward verbatim
        # (compaction never retrains — that is build's job, explicitly)
        self._write_centroids(self.spark, out, self._centroids(gen))
        self._write_meta(
            out, id_col, meta["vec_col"],
            int(meta.get("dim", 0)), int(meta.get("n_assign", 2)),
        )

    # -- serving -----------------------------------------------------------

    def probe(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        q_id: str = "query_id",
        q_vec: str = "qe",
    ) -> DataFrame:
        # Resolve the FULL snapshot ONCE (generation, segments,
        # tombstones, centroids) — the blockmax_prune_plan discipline:
        # a publish racing this probe must never mix two committed
        # states (e.g. new inverted lists scored against old
        # centroids' cell ranking).
        gen = self._gen()
        segs = self._segment_dirs(gen)
        dead = self._tombstones(gen)
        cent = self._centroids(gen)
        c_id, c_vec = self.c_id, self.c_vec
        q_cells = _nearest_cells(queries, q_id, q_vec, cent, n_probe).select(
            q_id, "cell_id"
        )
        probed = [r["cell_id"] for r in q_cells.select("cell_id").distinct().collect()]
        inv = (
            self._union_store("inverted", segs=segs, dead=dead, gen=gen)
            .where(F.col("cell_id").isin(probed))
            .alias("inv")
        )
        scored = (
            q_cells.join(F.broadcast(queries), q_id)
            .join(inv, "cell_id")
            .where(F.col(q_id) != F.col(c_id))
            .drop("cell_id")
            .dropDuplicates([q_id, c_id])
            .withColumn("cosine_sim", cosine(q_vec, c_vec))
        )
        w = Window.partitionBy(q_id).orderBy(
            F.col("cosine_sim").desc(), F.col(c_id)
        )
        passthrough = [
            F.col(f"inv.{f.name}").alias(f.name)
            for f in inv.schema.fields
            if f.name not in (c_id, c_vec, "cell_id")
        ]
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(q_id, c_id, *passthrough, "cosine_sim", "rank")
        )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the high-compression ANN codec — each
# vector becomes m sub-space code ids (default: 16 byte codes
# over 256-entry codebooks = 16 bytes vs 256 float bytes, 16x). Asymmetric search keeps queries float and scores against
# reconstructed candidates.
# ---------------------------------------------------------------------------


def pq_train(
    candidates: DataFrame,
    c_id: str = "cand_id",
    c_vec: str = "ce",
    m: int = 16,
    n_codes: int = 256,
    dim: int = 64,
    sample: int = 2048,
    n_iter: int = 4,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks on a DETERMINISTIC hash-spread
    sample (lowest xxhash64(id) — insert-order-decorrelated, same
    rationale as the IVF seeds): k-means per subspace on the
    driver-side sample, seeds = the sample's first n_codes subvectors,
    fixed Lloyd iteration count, argmin ties to the lower code. The
    sample IS the scale posture: PQ codebooks are trained on a corpus
    sample everywhere (m · n_codes · dim/m floats of index metadata);
    only encoding touches the full corpus. Returns nested lists
    (picklable into Arrow closures)."""
    import numpy as np

    rows = (
        candidates.select(c_id, c_vec)
        .orderBy(F.xxhash64(F.col(c_id)), F.col(c_id))
        .limit(sample)
        .collect()
    )
    V = np.array([list(r[1]) for r in rows], dtype=np.float64)
    d_sub = dim // m
    codebooks = []
    for s in range(m):
        X = V[:, s * d_sub : (s + 1) * d_sub]
        C = X[: min(n_codes, len(X))].copy()
        for _ in range(n_iter):
            d2 = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                mask = assign == j
                if mask.any():
                    C[j] = X[mask].mean(axis=0)
        codebooks.append([[float(x) for x in row] for row in C])
    return codebooks


def _pq_codes(cmat, codebooks):
    """(n, m) nearest-code ids per subspace — argmin euclidean, ties
    to the lower code (np.argmin first-match)."""
    import numpy as np

    n, dim = cmat.shape
    m = len(codebooks)
    d = dim // m
    codes = np.empty((n, m), dtype=np.int64)
    for s in range(m):
        C = np.asarray(codebooks[s])
        X = cmat[:, s * d : (s + 1) * d]
        d2 = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        codes[:, s] = d2.argmin(axis=1)
    return codes


def _pq_sims_factory(codebooks):
    """sims_fn for _streamed_topk: encode the candidate batch to PQ
    codes, reconstruct from codebooks, cosine vs float queries
    (asymmetric distance via reconstruction — numerically identical
    to the per-subspace lookup-table formulation, one matmul here)."""

    def sims(cmat, qmat):
        import numpy as np

        m = len(codebooks)
        d = cmat.shape[1] // m
        codes = _pq_codes(cmat, codebooks)
        recon = np.empty_like(cmat)
        for s in range(m):
            C = np.asarray(codebooks[s])
            recon[:, s * d : (s + 1) * d] = C[codes[:, s]]
        dot = recon @ qmat.T
        cn = np.sqrt((recon * recon).sum(axis=1))
        cn[cn == 0] = 1e-12
        qn = np.sqrt((qmat * qmat).sum(axis=1))
        return dot / (cn[:, None] * qn[None, :])

    return sims


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    m: int = 16,
    n_codes: int = 256,
    dim: int = 64,
    q_id: str = "query_id",
    c_id: str = "cand_id",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """Cosine top-k against the PQ-compressed candidate index
    (asymmetric: queries float, candidates reduced to m code ids —
    the 32x-and-beyond compression tier below int8's 4x). Same
    one-Arrow-pass streamed top-k as the other ANN kernels; recall
    floors asserted in tests/test_similarity.py."""
    cb = pq_train(candidates, c_id, c_vec, m, n_codes, dim)
    return _streamed_topk(
        queries, candidates, k, q_id, c_id, q_vec, c_vec, _pq_sims_factory(cb)
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, recon_cos double): the stored form of a
    PQ index row plus its reconstruction quality — one Arrow pass, no
    shuffle; only code ids and a scalar leave the scan."""
    import numpy as np

    def run(batches):
        import pandas as pd

        m = len(codebooks)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = cmat.shape[1] // m
            codes = _pq_codes(cmat, codebooks)
            recon = np.empty_like(cmat)
            for s in range(m):
                C = np.asarray(codebooks[s])
                recon[:, s * d : (s + 1) * d] = C[codes[:, s]]
            dot = (recon * cmat).sum(axis=1)
            denom = np.sqrt((recon * recon).sum(axis=1)) * np.sqrt(
                (cmat * cmat).sum(axis=1)
            )
            denom[denom == 0] = 1e-12
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codes": [list(map(int, c)) for c in codes],
                    "recon_cos": dot / denom,
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} LONG, codes ARRAY<INT>, recon_cos DOUBLE"
    )


def pq_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    m: int = 16,
    n_codes: int = 256,
    dim: int = 64,
    q_id: str = "query_id",
    c_id: str = "cand_id",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """The production PQ serving shape: the compressed index produces
    a shortlist (cheap, approximate, touches only codes), then the
    true float vectors of shortlist members are fetched and re-ranked
    EXACTLY — recall is bounded by shortlist containment, not code
    resolution, while the full-precision scan shrinks from |C| to
    shortlist·|Q| rows. The exact re-rank reuses the scaled-long
    cosine, so returned similarities are bit-identical to brute
    force's for the same pairs."""
    short = pq_topk(
        queries, candidates, shortlist, m, n_codes, dim, q_id, c_id, q_vec, c_vec
    ).select(q_id, c_id)
    shortlisted = short.join(
        candidates.select(c_id, c_vec), c_id
    ).join(F.broadcast(queries.select(q_id, q_vec)), q_id)
    scored = shortlisted.withColumn("cosine_sim", cosine(q_vec, c_vec))
    w = Window.partitionBy(q_id).orderBy(F.col("cosine_sim").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cosine_sim", "rank")
    )
