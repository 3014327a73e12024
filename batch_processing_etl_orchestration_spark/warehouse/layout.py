"""Physical layout utilities: date-partitioned writes, compaction and
clustering. Date partitioning and bucketing are the two levers that
make 100 TB queries cheap (SCALE.md §storage).

The reference stores flat Postgres tables; every date-bounded query
scans everything. Here, facts land date-partitioned (partition pruning
turns the reference's bounded fetch horizons into near-free scans) and
can be bucketed by their join key with a plain ``bucketBy`` write
(shuffle-free fact-fact joins — proven in tests/test_bucketing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    mode: str = "overwrite",
    grain: str = "day",
) -> None:
    """Write parquet partitioned by a date column derived from ts_col.
    Readers filtering on `p_date` (or on ts_col ranges rewritten to
    p_date) scan only matching partitions."""
    out = df.withColumn("p_date", F.date_trunc(grain, F.col(ts_col)).cast("date"))
    out.write.mode(mode).partitionBy("p_date").parquet(path)


def read_date_partitioned(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_rows_per_file: int,
    cluster_col: str | None = None,
) -> int:
    """Rewrite a fragmented parquet dataset into ~target-sized files,
    optionally range-clustered on cluster_col. Returns the number of
    output partitions.

    Small-file compaction is the steady-state maintenance job of any
    streaming/incremental 100 TB table: micro-batches and dynamic
    partition overwrites leave thousands of KB-sized files whose
    open/footer costs dominate scans. One pass: count, size the
    partition count, `repartitionByRange` (when clustering — gives
    each file a disjoint value range, so min/max footer stats prune
    like a coarse index) or round-robin `repartition`, and a
    maxRecordsPerFile cap as the safety net against skewed ranges.
    """
    df = spark.read.parquet(src_path)
    n = df.count()
    n_parts = max(1, -(-n // target_rows_per_file))
    out = (
        df.repartitionByRange(n_parts, cluster_col)
        if cluster_col
        else df.repartition(n_parts)
    )
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(dst_path)
    )
    return n_parts


def _equidepth_bucket(col: str, bounds: list[float]) -> "F.Column":
    """Bucket index of `col` against sorted boundary values: the count
    of boundaries ≤ value, computed JVM-side with a higher-order
    aggregate over a literal array (no UDF). Equi-depth boundaries
    (percentiles) keep buckets balanced under skew, where linear
    width_bucket binning would collapse hot ranges into one bucket."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(col).cast("double") >= b, 1).otherwise(0),
    )


def zorder_by(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits_per_dim: int = 8,
) -> DataFrame:
    """Cluster rows along a Z-order (Morton) curve over `cols` so that
    EVERY listed column gets tight per-file min/max ranges — the
    multi-dimensional generalization of repartitionByRange's
    one-column clustering.

    Why it matters at 100 TB: parquet row-group stats (and file-level
    stats in a catalogued table) prune reads only if values are
    physically clustered. A linear sort by (a, b) gives perfect
    pruning on `a` and none on `b`; Z-ordering interleaves the bit
    patterns of equi-depth bucket ranks, so a selective predicate on
    ANY clustered dimension skips most files (audited against footer
    stats in tests/test_layout.py).

    Mechanics — all JVM-side expressions, no UDF:
    1. Per column, 2^bits_per_dim − 1 approx-percentile boundaries
       (driver-side index metadata, a few KB).
    2. Rank each value into its equi-depth bucket via a higher-order
       aggregate over the boundary array.
    3. Interleave bucket bits into the Morton code with
       shiftleft/bitwise-or.
    4. repartitionByRange(n_files, z) → each output file covers a
       compact curve segment, hence a small hyper-rectangle.

    Returns the clustered DataFrame (caller writes it; one file per
    partition when followed by a plain .write)."""
    n_buckets = 1 << bits_per_dim
    qs = [i / n_buckets for i in range(1, n_buckets)]
    ranks = []
    for c in cols:
        bounds = [
            b
            for b in df.select(
                F.percentile_approx(F.col(c).cast("double"), qs, 10_000)
            ).first()[0]
        ]
        ranks.append(_equidepth_bucket(c, bounds))

    z = F.lit(0).cast("long")
    n_dims = len(cols)
    for bit in range(bits_per_dim):
        for d, r in enumerate(ranks):
            src_bit = F.shiftright(r.cast("long"), bit).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(src_bit, bit * n_dims + (n_dims - 1 - d))
            )
    return df.withColumn("__z", z).repartitionByRange(n_files, "__z").drop("__z")
