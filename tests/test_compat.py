"""Compat-mode fidelity: byte-exact golden CSVs, stringified pair lists,
header validation, op-19 placeholder joins."""

from __future__ import annotations

import csv
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.compat.golden import (
    stringify_list,
    write_catalog_csv,
)
from sentinel_landsat_database_creation_spark.functions.dates import (
    GOLDEN_GRID,
    hls_date,
    s2_date,
)
from sentinel_landsat_database_creation_spark.operators.catalog import build_catalog
from sentinel_landsat_database_creation_spark.operators.pairing import pair_catalogs
from sentinel_landsat_database_creation_spark.sources.csvio import read_catalog_csv

GOLDEN_DIR = Path("/root/reference/data_pair")


def _golden_rows(name):
    with open(GOLDEN_DIR / name, newline="") as f:
        return list(csv.DictReader(f))


def _listing_df(spark, name):
    data = [r["data"] for r in _golden_rows(name) if r["data"] != "0"]
    return spark.createDataFrame([(d,) for d in data], ["data"])


@pytest.mark.parametrize(
    "golden,date_fn,root",
    [
        ("L_out.csv", hls_date, "./2023/crop/L8_bis_crop"),
        ("S_out.csv", s2_date, "./2023/crop/S2_bis_crop"),
    ],
)
def test_catalog_csv_byte_exact(spark, tmp_path, golden, date_fn, root):
    cat = build_catalog(
        _listing_df(spark, golden), date_fn(F.col("data")), root, GOLDEN_GRID
    )
    out = tmp_path / "out.csv"
    write_catalog_csv(cat, str(out))
    assert out.read_bytes() == (GOLDEN_DIR / golden).read_bytes()


def test_stringified_list_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, ["a/b", "c d"]), (2, []), (3, ["x"])],
        "id long, arr array<string>",
    )
    rows = df.select("id", "arr", stringify_list(F.col("arr")).alias("s")).collect()
    for r in rows:  # the reference's split("'")[1::2] recovers the list
        assert r["s"].split("'")[1::2] == r["arr"]
    strs = {r["id"]: r["s"] for r in rows}
    assert strs == {1: str(["a/b", "c d"]), 2: "[]", 3: str(["x"])}


def test_catalog_csv_source_validates_header(spark, tmp_path):
    cat = read_catalog_csv(spark, str(GOLDEN_DIR / "L_out.csv"))
    assert cat.count() == 88
    bad = tmp_path / "bad.csv"
    bad.write_text("data,path,class\nx,y,z\n")
    with pytest.raises(ValueError, match="class"):
        read_catalog_csv(spark, str(bad))


def test_catalog_csv_source_validates_every_part_file(spark, tmp_path):
    """Directory of part files (the natural Spark CSV layout): a valid
    multi-file catalog reads fine; one bad part file is caught even when
    it isn't the file .first() would land on (ADVICE r1: a single
    first() over a directory may hit an arbitrary file)."""
    d = tmp_path / "catalog_parts"
    d.mkdir()
    for i in range(4):
        (d / f"part-{i:05d}.csv").write_text(
            "class,path,data\n" + f"a,/root,scene{i}\n"
        )
    cat = read_catalog_csv(spark, str(d))
    assert cat.count() == 4

    (d / "part-00004.csv").write_text("data,path,class\nx,y,z\n")
    with pytest.raises(ValueError, match="part-00004"):
        read_catalog_csv(spark, str(d))


def test_placeholder_rows_join_each_other_compat(spark):
    """Op 19: class='0' rows from both catalogs pair with each other in
    compat mode and are excluded in native mode."""
    s2 = build_catalog(
        _listing_df(spark, "S_out.csv"),
        s2_date(F.col("data")),
        "S2",
        GOLDEN_GRID,
        keep_week=True,
    )
    l8 = build_catalog(
        _listing_df(spark, "L_out.csv"),
        hls_date(F.col("data")),
        "L8",
        GOLDEN_GRID,
        keep_week=True,
    )
    compat = pair_catalogs(s2, l8, include_placeholders=True)
    junk = compat.filter(F.col("data_1") == "S2/0").collect()
    # 4 S placeholder rows collapse to ONE dict key, whose list holds the
    # 3 L placeholder paths (the reference's junk pairs, SURVEY op 19).
    assert len(junk) == 1
    assert junk[0]["data_2"] == ["L8/0", "L8/0", "L8/0"]
    native = pair_catalogs(s2, l8)
    assert native.filter(F.col("data_1") == "S2/0").count() == 0
