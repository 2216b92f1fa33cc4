"""Stage 2 — cross-sensor scene pairing (reference E2, SURVEY.md §2 ops
17-19, 24, 39).

The reference's ``images_pair.paths_pair`` (data_pair/fct_data_extraction
.py:216-248) is an O(N*M) nested-loop inner equi-join on ``class`` whose
result is grouped per left scene as ``{left_path: [right_path, ...]}``,
with left rows lacking matches keeping an empty list. Here it is a
broadcast-hash equi-join + ``collect_list``; the right-side list order
(the right catalog's row order, i.e. week then name) is restored with
``array_sort`` over (bin, data) structs — collect_list order is not
deterministic under parallel merge, sorting is what makes the operator
scale-stable.

The pathological ``class="0"`` placeholder self-join (op 19) is
reproduced when ``include_placeholders=True`` (compat) and filtered out
in native mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_catalogs(
    left: DataFrame,
    right: DataFrame,
    include_placeholders: bool = False,
) -> DataFrame:
    """Pair every left-catalog scene with all right-catalog scenes of the
    same week class.

    Inputs are stage-1 catalogs built with ``keep_week=True`` (columns
    class, path, data, bin). Returns (data_1, data_2) with data_2 a real
    ArrayType column — the stringified-Python-list rendering is applied
    only by the compat CSV sink (SURVEY.md §1.2).
    """
    if not include_placeholders:
        left = left.filter(F.col("class") != "0")
        right = right.filter(F.col("class") != "0")

    # The reference keys its output dict by data_1, so duplicate keys
    # collapse (reachable only via the "0" placeholder rows, which share
    # path/data and class); dict insertion order keeps the FIRST
    # occurrence's position -> dedupe to the minimum (bin, data).
    l = (
        left.select(
            F.col("class"),
            F.col("bin"),
            F.col("data"),
            F.concat_ws("/", "path", "data").alias("data_1"),
        )
        .groupBy("data_1")
        .agg(
            F.min(
                F.struct(
                    F.col("bin").alias("l_bin"),
                    F.col("data").alias("l_data"),
                    F.col("class").alias("class"),
                )
            ).alias("k")
        )
        .select(
            F.col("k.class").alias("class"),
            F.col("k.l_bin").alias("l_bin"),
            F.col("k.l_data").alias("l_data"),
            "data_1",
        )
    )
    r = right.select(
        F.col("class"),
        F.struct(
            F.col("bin").alias("bin"),
            F.col("data").alias("data"),
            F.concat_ws("/", "path", "data").alias("p"),
        ).alias("r_scene"),
    )
    # Catalogs are tiny relative to downstream raster data; broadcast the
    # right side so pairing never shuffles the left.
    joined = l.join(F.broadcast(r), "class", "left")
    return (
        joined.groupBy("l_bin", "l_data", "data_1")
        .agg(
            F.array_sort(F.collect_list("r_scene")).alias("sorted_scenes")
        )
        .select(
            "data_1",
            F.transform(F.col("sorted_scenes"), lambda s: s["p"]).alias("data_2"),
            F.col("l_bin"),
            F.col("l_data"),
        )
        .orderBy("l_bin", "l_data")
        .drop("l_bin", "l_data")
    )
