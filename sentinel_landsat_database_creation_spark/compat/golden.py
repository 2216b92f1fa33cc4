"""Compat sinks and shims: the reference's CSV formats, byte-for-byte
(SURVEY.md §1.2, §2 ops 6/25).

- Catalog CSV: header ``class,path,data``, '\\n' endings, trailing
  newline — pandas ``to_csv(index=False)`` shape
  (main_function_beta.py:82-86).
- Pair CSV: header ``data_1,data_2`` where data_2 is a **stringified
  Python list** (``"['a', 'b']"``) that the reference re-parses with
  ``split("'")[1::2]`` (main_function_beta.py:167,
  fct_data_extraction.py:250-263). Internally the engine keeps a real
  ArrayType and renders the string only at the sink.

Writers funnel through a single Spark task (catalogs are tiny by
construction — one row per scene, not per pixel); everything upstream
of the sink stays distributed.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stringify_list(arr: Column) -> Column:
    """Render an array<string> the way Python ``str(list)`` does:
    ``[]``, ``['a']``, ``['a', 'b']``."""
    return F.concat(
        F.lit("["),
        F.array_join(
            F.transform(arr, lambda x: F.concat(F.lit("'"), x, F.lit("'"))),
            ", ",
        ),
        F.lit("]"),
    )


def _write_single_csv(df: DataFrame, out_path: str) -> None:
    """Write a DataFrame as ONE csv file at out_path (header, '\\n',
    trailing newline) via a single-task Spark write + rename."""
    tmp = tempfile.mkdtemp(prefix="compat_csv_")
    staging = os.path.join(tmp, "out")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("lineSep", "\n")
        .csv(staging)
    )
    part = glob.glob(os.path.join(staging, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    shutil.move(part, out_path)
    shutil.rmtree(tmp, ignore_errors=True)


def write_catalog_csv(catalog: DataFrame, out_path: str) -> None:
    """Golden-compat stage-1 sink. Input must already be in catalog row
    order (build_catalog emits it ordered)."""
    _write_single_csv(catalog.select("class", "path", "data"), out_path)


def write_pair_csv(pairs: DataFrame, out_path: str) -> None:
    """Golden-compat stage-2 sink: ArrayType data_2 rendered as a
    stringified Python list (quoted by the CSV layer exactly as
    csv.writer would, since it contains ', ')."""
    _write_single_csv(
        pairs.select("data_1", stringify_list(F.col("data_2")).alias("data_2")),
        out_path,
    )
