"""Z-order (Morton) data-layout operators.

Extension beyond the reference pipeline (SURVEY.md §6): the reference
reads scene tiles in whatever order the filesystem lists them
(`data_pair/main_function.py` directory walk); at 100 TB the dominant
cost of every spatial query is how many parquet files a 2-D predicate
has to open. Z-ordering interleaves the bits of two sort keys so
rows close in BOTH dimensions land in the same file, making parquet
min/max (and Delta/Iceberg file-skipping) effective for 2-D range
predicates — the standard lakehouse layout trick, here as a reusable
operator.

Everything is exact 64-bit integer arithmetic (`&`, `|`, `<<` on
longs) with identical semantics in Spark and DuckDB, so the bucket
summary query has a bit-exact oracle. The bit-spread uses the
classic mask-and-shift doubling scheme: 4 steps for 16-bit inputs,
constant work per row, fully inside whole-stage codegen — no UDF, no
join, no shuffle for key computation itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (shift, mask) steps spreading a 16-bit value onto the even bit
# positions of a 32-bit lane: abcd -> 0a0b0c0d (shown for 4 bits).
SPREAD16_STEPS: tuple[tuple[int, int], ...] = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` onto even bit positions.

    Each step doubles the gap between occupied bit groups; 4 steps of
    two bit-ops each, so the expression tree stays small (the unrolled
    alternative — one term per bit — is the JIT-limit trap documented in
    `operators/similarity.py:dot_cast`).
    """
    c = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in SPREAD16_STEPS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def zorder_key(x: Column, y: Column) -> Column:
    """32-bit Morton key interleaving the low 16 bits of ``x`` (even
    positions) and ``y`` (odd positions). Monotone per dimension when the
    other is fixed; a 2-D range maps to O(log) contiguous key ranges."""
    return spread16(x).bitwiseOR(F.shiftleft(spread16(y), 1))


def zorder_partitioned_write(
    df: DataFrame, x: str, y: str, path: str, n_buckets: int = 64
) -> None:
    """Write ``df`` as a Z-ordered parquet layout with EXACTLY one file
    per non-empty Morton bucket (bucket = top ``log2(n_buckets)`` bits
    of the 32-bit key — deterministic, unlike a sampled
    ``repartitionByRange``, so the written layout is bit-reproducible
    across sessions and oracle-checkable).

    One-file-per-bucket holds by construction: ``repartition(n,
    "z_bucket")`` puts every row of a bucket in one task, and
    ``partitionBy`` writes one file per (task, partition-value), so each
    ``z_bucket=N`` directory gets a single part file. Rows inside each
    file are zkey-sorted, so parquet row-group min/max are tight in BOTH
    source dimensions — the file-skipping property the whole operator
    exists for. At 100 TB, raise ``n_buckets`` so each bucket is
    file-sized (~1 GB); the plan shape (one hash shuffle + local sort)
    is unchanged.

    The bucket is the top ``log2(n_buckets)`` bits of the OCCUPIED key
    range, not of the fixed 32-bit lane: small-domain keys (e.g. a few
    thousand part ids) occupy only the low Morton bits, and a fixed
    ``>> 26`` would collapse every row into bucket 0 — one giant file.
    The occupied range comes from a plan-time ``max(zkey)`` probe (one
    aggregate job, the same AQE-style decision class as
    ``dedup._jaccard_bitmap``'s vocabulary probe); the shift is
    ``max(bit_length(max_zkey) - log2(n_buckets), 0)``, integer-exact
    and reproducible in any engine."""
    if n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two")
    keyed = df.withColumn("zkey", zorder_key(F.col(x), F.col(y)))
    max_z = keyed.agg(F.max("zkey")).first()[0] or 0
    shift = max(int(max_z).bit_length() - (n_buckets.bit_length() - 1), 0)
    keyed = keyed.withColumn("z_bucket", F.shiftright(F.col("zkey"), shift))
    (
        keyed.repartition(n_buckets, "z_bucket")
        .sortWithinPartitions("z_bucket", "zkey")
        .write.mode("overwrite")
        .partitionBy("z_bucket")
        .parquet(path)
    )


def written_file_stats(spark, path: str, x: str, y: str) -> DataFrame:
    """Read back a ``zorder_partitioned_write`` layout and report, per
    bucket, the statistics a file-skipping reader would prune on —
    computed from the ACTUAL files (``input_file_name``), not from the
    logical plan, so a writer bug that scatters a bucket across files or
    files across buckets shows up as extra ``n_files`` / widened min-max
    and breaks the oracle hash. ``min_z``/``max_z`` re-derive the Morton
    key from the stored source columns (NOT the stored ``zkey``), so the
    read-back statistics independently re-execute the ``zorder_key``
    interleave arithmetic against the oracle — the coverage the retired
    ``zorder_buckets`` diagnostic entry carried, now per adaptive bucket
    (its fixed ``>> 26`` bucketing collapsed small key domains into one
    bucket, making its per-bucket stats vacuous at fixture scale).

    Returns (z_bucket, n_files, n_rows, min_x, max_x, min_y, max_y,
    min_z, max_z)."""
    df = spark.read.parquet(path)
    z = zorder_key(F.col(x), F.col(y))
    return (
        df.withColumn("_file", F.input_file_name())
        .withColumn("_z", z)
        .groupBy("z_bucket")
        .agg(
            F.count_distinct(F.col("_file")).cast("long").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(x).cast("long").alias("min_x"),
            F.max(x).cast("long").alias("max_x"),
            F.min(y).cast("long").alias("min_y"),
            F.max(y).cast("long").alias("max_y"),
            F.min("_z").cast("long").alias("min_z"),
            F.max("_z").cast("long").alias("max_z"),
        )
        .select(
            F.col("z_bucket").cast("long"),
            "n_files",
            "n_rows",
            "min_x",
            "max_x",
            "min_y",
            "max_y",
            "min_z",
            "max_z",
        )
    )
