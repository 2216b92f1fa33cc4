"""Stage 1 — scene catalog build (reference E1, SURVEY.md §3).

Reimplements ``main_fct.SL_create_csv`` (reference main_function_beta.py:
24-93) as one lazy DataFrame chain per sensor:

  listing -> to_date parse (ops 36/37') -> histogram-range filter (op 15)
  -> epoch-week bin (op 21) -> dense_rank + base-26 label over the tiny
  distinct-week table (op 23) -> broadcast label join back -> week-spine
  anti-join for "0" placeholder rows (op 25) -> {class, path, data}.

Scale notes (100 TB stance): the dense_rank runs over the aggregated
distinct-week table (#weeks rows, e.g. 53) — never over the scene rows —
so the only wide op on the big side is one partial-aggregating groupBy;
labels re-attach via an auto-broadcast join. The reference's positional
``adjust_list`` (op 25) disappears: labels attach by date, not by list
position.

Empty-bin semantics (pinned by the goldens, SURVEY.md §1.4): a non-empty
bin gets the next letter; an empty INTERIOR bin (strictly between the
first and last non-empty bins) emits exactly one placeholder row
(class="0", data="0") and consumes no letter; leading and trailing
empty bins emit nothing. Leading-empty behavior is unreachable in the
goldens and unverifiable against the reference (the deciding
``new_class_list`` lives in the absent ``date_extraction`` module, and
the fixed calendar grid at main_function_beta.py:29 could produce
leading empties with mid-year data); "no row" is this engine's
documented spec choice, and tests/test_properties.py pins all three
run positions.

The pipeline's stages 1-2 (``plans/satellite.py:build_scene_pairs``)
need only which bins pair, not labels or placeholder rows: they start
from the same ``binned_scenes`` projection and pair bins by rank with
``paired_bins``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dates import WeekGrid, week_start_of_index
from ..functions.labels import base26_label


def label_weeks(df: DataFrame, date_expr: Column) -> DataFrame:
    """Generic op-21+23 composition: epoch-aligned weekly tumbling count
    plus dense-rank base-26 class labels, over any date expression.

    Returns one row per non-empty week: (wk, week_start, n, class).
    The groupBy partial-aggregates map-side; the rank runs over the
    already-tiny weekly table, so this scales to arbitrary input size.
    """
    from pyspark.sql.window import Window

    from ..functions.dates import epoch_week_index

    weekly = (
        df.select(epoch_week_index(date_expr).alias("wk"))
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return weekly.select(
        "wk",
        week_start_of_index(F.col("wk")).alias("week_start"),
        "n",
        base26_label(F.dense_rank().over(Window.orderBy("wk"))).alias("class"),
    )


def binned_scenes(listing: DataFrame, date_expr: Column, grid: WeekGrid) -> DataFrame:
    """The in-range scenes of ``listing`` (column ``data``) with their
    parsed ``date`` and 0-based grid ``bin`` (ops 36/37', 15, 21) — the
    projection both ``build_catalog`` and the pipeline's pairing path
    (``plans/satellite.py:build_scene_pairs``) start from."""
    return (
        listing.select(F.col("data"))
        .withColumn("date", date_expr)
        .filter(grid.in_range(F.col("date")))
        .withColumn("bin", grid.bin_of(F.col("date")))
    )


def paired_bins(left_bins, right_bins) -> list[tuple[int, int]]:
    """Week-class pairing on bin indexes: the k-th non-empty left bin
    pairs with the k-th non-empty right bin, in week order.

    This is exactly what equal class labels mean in
    ``pair_catalogs(build_catalog(l), build_catalog(r))``: a label is
    the base-26 form of the dense rank over a sensor's non-empty bins,
    so two labels are equal iff the ranks are; an empty interior bin
    consumes no letter, so it shifts no rank; and native pairing drops
    the class="0" placeholders, so they pair with nothing. The surplus
    bins of the sensor with more non-empty weeks pair with nothing.
    Pure Python over at most ``grid.n_bins`` values per side.
    """
    return list(zip(sorted(set(left_bins)), sorted(set(right_bins))))


def build_catalog(
    listing: DataFrame,
    date_expr: Column,
    root_path: str,
    grid: WeekGrid,
    keep_week: bool = False,
) -> DataFrame:
    """Label every scene in ``listing`` (column ``data``) with its week
    class; emit placeholder rows for empty non-trailing bins.

    Returns columns (class, path, data) ordered by (bin, data) — the
    golden CSV row order (lexicographic within a week; placeholder rows
    are their bin's only row). Pass keep_week=True to retain the bin
    index and week-start date for downstream date-keyed joins.
    """
    scenes = binned_scenes(listing, date_expr, grid)

    # Tiny side: one row per non-empty bin, ranked in week order.
    bins = scenes.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    ranked = bins.withColumn(
        "class", base26_label(F.dense_rank().over(Window.orderBy("bin")))
    )

    labeled = scenes.join(F.broadcast(ranked.select("bin", "class")), "bin")

    # Placeholder rows: every bin in the grid that is empty and INTERIOR
    # — strictly between the first and last non-empty bins. Leading and
    # trailing empties emit nothing and consume no letter (SURVEY §1.4:
    # only *interior* empty bins place a row; trailing pinned by the
    # goldens, leading by symmetry — the reference derives its histogram
    # edges from the data minimum, so a leading empty is unreachable
    # there and "no row" is the only reading consistent with its
    # construction). Spine is spark.range(n_bins) — metadata-size.
    spark = listing.sparkSession
    bounds = ranked.agg(
        F.min("bin").alias("min_bin"), F.max("bin").alias("max_bin")
    )
    spine = spark.range(grid.n_bins).select(F.col("id").alias("bin"))
    placeholders = (
        spine.join(ranked.select("bin"), "bin", "left_anti")
        .join(F.broadcast(bounds))
        .filter((F.col("bin") > F.col("min_bin")) & (F.col("bin") < F.col("max_bin")))
        .select("bin", F.lit("0").alias("class"), F.lit("0").alias("data"))
    )

    out = labeled.select("bin", "class", "data").unionByName(placeholders)
    out = out.select(
        F.col("class"),
        F.lit(root_path).alias("path"),
        F.col("data"),
        F.col("bin"),
    ).orderBy("bin", "data")
    if keep_week:
        return out.withColumn(
            "week", week_start_of_index(F.col("bin") + F.lit(grid.first_edge_idx))
        )
    return out.drop("bin")
