"""Verify drive: golden replay + driver contract vs DuckDB oracle.

Exit codes: 0 = both halves ran and matched (VERIFY: ALL PASS);
1 = a mismatch or error in either half (VERIFY: FAIL);
2 = the driver contract matched but a golden reference CSV is absent,
so the golden replay did not run (VERIFY: CONTRACT PASS, GOLDEN SKIPPED).
"""
import os
import sys
from pathlib import Path

# the checkout this script belongs to, wherever it is
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import tempfile

import duckdb
import pandas as pd

from sentinel_landsat_database_creation_spark.session import get_spark

spark = get_spark(shuffle_partitions=8)

# ---------- 1. Golden stage-1 replay ----------
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.compat.golden import write_catalog_csv
from sentinel_landsat_database_creation_spark.operators.catalog import build_catalog
from sentinel_landsat_database_creation_spark.functions import dates as D
from sentinel_landsat_database_creation_spark.sources.csvio import read_catalog_csv

GRID = D.WeekGrid.from_range("2023-01-01", "2024-01-15")

failures = []
skipped = []
for name, parser in (("L_out", D.hls_date), ("S_out", D.s2_date)):
    gpath = f"/root/reference/data_pair/{name}.csv"
    if not os.path.exists(gpath):
        skipped.append(name)
        print(f"GOLDEN {name}: SKIPPED (reference CSV absent)")
        continue
    # the production reader checks the class,path,data header; the
    # rebuilt catalog goes out through the production sink and must
    # match the golden byte for byte (header and line endings included)
    try:
        golden = read_catalog_csv(spark, gpath)
    except ValueError as e:
        failures.append(name)
        print(f"GOLDEN {name}: BAD CSV {e}")
        continue
    root = golden.first()["path"]
    listing = golden.filter(F.col("data") != "0").select("data")
    out = build_catalog(listing, parser(F.col("data")), root, GRID)
    with tempfile.TemporaryDirectory() as tmp:
        written = Path(tmp) / f"{name}.csv"
        write_catalog_csv(out, str(written))
        got = written.read_bytes().splitlines(keepends=True)
    want = Path(gpath).read_bytes().splitlines(keepends=True)
    if got == want:
        print(f"GOLDEN {name}: EXACT MATCH ({len(got) - 1} rows, byte-identical)")
    else:
        failures.append(name)
        print(f"GOLDEN {name}: MISMATCH got={len(got)} lines want={len(want)}")
        diff = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), None)
        if diff is None:
            print(f"  first {min(len(got), len(want))} lines equal; line counts differ")
        else:
            print(f"  first diff at line {diff + 1}: got {got[diff]!r} want {want[diff]!r}")

# ---------- 2. Driver contract ----------
import importlib
entry_mod = importlib.import_module("__spark_entry__")

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

r = entry_mod.entry(spark)
n = r.count()
print(f"entry(): {n} rows, schema ok")

queries = entry_mod.queries()
oracles = entry_mod.oracle_sql()
print(f"{len(queries)} queries, {len(oracles)} oracles")

def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype) or "decimal" in str(pdf[c].dtype).lower():
            pdf[c] = pd.to_numeric(pdf[c], errors="coerce").round(4)
        elif "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)

bad = []
for qname, fn in queries.items():
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as e:
        bad.append((qname, f"spark error: {e}"))
        print(f"{qname}: SPARK ERROR {e}")
        continue
    if qname not in oracles:
        print(f"{qname}: rows-only ({len(sdf)} rows)")
        continue
    try:
        odf = con.execute(oracles[qname]).fetchdf()
    except Exception as e:
        bad.append((qname, f"oracle error: {e}"))
        print(f"{qname}: ORACLE ERROR {e}")
        continue
    if len(sdf) != len(odf):
        bad.append((qname, f"rowcount {len(sdf)} vs {len(odf)}"))
        print(f"{qname}: ROWCOUNT MISMATCH {len(sdf)} vs {len(odf)}")
        continue
    a, b = normalize(sdf), normalize(odf)
    if sorted(a.columns) != sorted(b.columns):
        bad.append((qname, f"cols {sorted(a.columns)} vs {sorted(b.columns)}"))
        print(f"{qname}: COLS MISMATCH {sorted(a.columns)} vs {sorted(b.columns)}")
        continue
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-3, atol=1e-6)
        print(f"{qname}: MATCH ({len(sdf)} rows)")
    except AssertionError as e:
        bad.append((qname, "value mismatch"))
        print(f"{qname}: VALUE MISMATCH {str(e)[:300]}")

print()
if failures or bad:
    print("VERIFY: FAIL", failures, bad)
    sys.exit(1)
if skipped:
    print("VERIFY: CONTRACT PASS, GOLDEN SKIPPED")
    sys.exit(2)
print("VERIFY: ALL PASS")
