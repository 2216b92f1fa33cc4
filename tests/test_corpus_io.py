"""JSONL source + partitioned corpus sink round trips (sources/corpus.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.sources.corpus import (
    CORRUPT_COL,
    corrupt_split,
    read_documents_jsonl,
    write_corpus,
)
from sentinel_landsat_database_creation_spark.sources.testdata import table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return table(spark, SF, "documents")


def test_jsonl_round_trip_exact(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "docs_jsonl")
    docs.write.mode("overwrite").json(p)
    back, bad = corrupt_split(read_documents_jsonl(spark, p))
    assert bad.count() == 0
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "also ok", "lang": "de", "source": "s", "n_chars": 7}\n'
    )
    raw = read_documents_jsonl(spark, str(p))
    clean, bad = corrupt_split(raw)
    assert clean.count() == 2
    assert CORRUPT_COL not in clean.columns
    assert [r[CORRUPT_COL] for r in bad.collect()] == ["this is not json"]


def test_write_corpus_layout_and_round_trip(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "corpus")
    write_corpus(docs, p, partition_by=("lang",), max_records_per_file=10)
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(p) if d.startswith("lang=")}
    assert dirs == {f"lang={l}" for l in langs}
    # maxRecordsPerFile: no parquet file holds more than 10 rows
    for d in dirs:
        full = os.path.join(p, d)
        files = [f for f in os.listdir(full) if f.endswith(".parquet")]
        assert files
        for f in files:
            n = spark.read.parquet(os.path.join(full, f)).count()
            assert n <= 10
    back = spark.read.parquet(p)
    assert sorted(back.columns) == sorted(docs.columns)
    a = sorted(map(tuple, docs.select(*sorted(docs.columns)).collect()))
    b = sorted(map(tuple, back.select(*sorted(docs.columns)).collect()))
    assert a == b


def test_compact_corpus_collapses_small_files(spark, tmp_path):
    """compact_corpus must (1) reduce the file count of an
    ingest-fragmented corpus to the aligned-writer layout, (2) bound
    file sizes, and (3) preserve content exactly."""
    import glob

    from sentinel_landsat_database_creation_spark.sources.corpus import (
        compact_corpus,
    )

    docs = table(spark, SF, "documents")
    frag = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    # continuous-ingest shape: many writer tasks x partition dirs
    docs.repartition(7, F.col("doc_id")).write.partitionBy("lang").parquet(frag)
    n_before = len(glob.glob(f"{frag}/lang=*/*.parquet"))

    back = compact_corpus(spark, frag, dst, max_records_per_file=1000)
    n_after = len(glob.glob(f"{dst}/lang=*/*.parquet"))
    n_langs = docs.select("lang").distinct().count()

    assert n_before > n_langs, "fixture must actually be fragmented"
    assert n_after < n_before
    # aligned writer: exactly ceil(n/1000) files per lang dir
    per_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for lang, n in per_lang.items():
        got = len(glob.glob(f"{dst}/lang={lang}/*.parquet"))
        assert got == (n + 999) // 1000
    # content identical
    cols = sorted(docs.columns)
    a = sorted(map(tuple, docs.select(*cols).collect()))
    b = sorted(map(tuple, back.select(*cols).collect()))
    assert a == b


def test_jsonl_quarantine_roundtrip_is_byte_exact(spark, tmp_path):
    """The q_jsonl_quarantine fixture rule end-to-end on adversarial
    text: clean rows must survive to_json -> PERMISSIVE parse with
    every field BYTE-EXACT (escapes, unicode planes, embedded quotes/
    newlines), corrupt rows must quarantine EXACTLY the doc_id%7==3
    cohort with all schema fields NULL, and the anchored triage regex
    must recover (doc_id, n_chars) from every raw corrupt line. The
    registry entry pins aggregates under the driver hash; this pins
    the row-level roundtrip those aggregates summarize."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.sources.corpus import (
        CORRUPT_COL,
        corrupt_split,
        read_documents_jsonl,
    )

    rows = [
        (i, t, "en", "web", len(t) if t is not None else None)
        for i, t in enumerate(
            [
                'plain words',
                'quotes "inside" and \\backslash\\',
                "newline\nand\ttab",
                "naïve café 日本語 🛰️",
                "",
                None,
                "{looks: like json}",
                '{"doc_id": 999, "fake": true}',
                "trailing spaces   ",
                "a" * 500,
            ]
        )
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "jsonl")
    payload = F.to_json(F.struct("doc_id", "n_chars", "lang", "source", "text"))
    line = F.when(
        F.col("doc_id") % 7 == 3, F.concat(F.lit("{CORRUPT "), payload)
    ).otherwise(payload)
    docs.select(line.alias("value")).write.mode("overwrite").text(path)

    clean, bad = corrupt_split(read_documents_jsonl(spark, path))
    got = {
        r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
        for r in clean.collect()
    }
    want = {i: (t, lg, s, n) for i, t, lg, s, n in rows if i % 7 != 3}
    assert got == want  # byte-exact fields, nothing lost or mutated

    bad_rows = bad.collect()
    assert {r[CORRUPT_COL] is not None for r in bad_rows} == {True}
    assert sorted(
        int(r[CORRUPT_COL].split('"doc_id":')[1].split(",")[0])
        for r in bad_rows
    ) == [i for i, *_ in rows if i % 7 == 3]
    for r in bad_rows:  # schema fields all NULL on quarantined rows
        assert r["doc_id"] is None and r["text"] is None
    triage = r'^\{CORRUPT \{"doc_id":(\d+),"n_chars":(\d+)'
    triaged = bad.select(
        F.regexp_extract(F.col(CORRUPT_COL), triage, 1).cast("long").alias("d"),
        F.regexp_extract(F.col(CORRUPT_COL), triage, 2).cast("long").alias("n"),
    ).collect()
    for r in triaged:
        assert r["d"] is not None and r["d"] % 7 == 3


def test_delete_from_corpus_is_partition_pruned(spark, tmp_path):
    """Tombstones confined to one lang must leave every other lang dir
    BYTE-UNTOUCHED (same file names, same bytes) — the pruning that
    makes a takedown rewrite 10% of a 100 TB corpus instead of all of
    it is structural, not advisory."""
    import glob
    import hashlib

    from sentinel_landsat_database_creation_spark.sources.corpus import (
        delete_from_corpus,
    )

    docs = _docs(spark)
    target = docs.select("lang").distinct().orderBy("lang").first()["lang"]
    p = str(tmp_path / "corpus")
    write_corpus(docs, p, max_records_per_file=10)

    def fileset(lang_glob):
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{p}/{lang_glob}/*.parquet")
        }

    before_others = {
        d: fileset(d)
        for d in os.listdir(p)
        if d.startswith("lang=") and d != f"lang={target}"
    }
    tomb = docs.filter(F.col("lang") == target).select("doc_id").limit(5)
    tomb_ids = {r["doc_id"] for r in tomb.collect()}
    back = delete_from_corpus(
        spark, p, spark.createDataFrame([(i,) for i in tomb_ids], "doc_id long"),
        max_records_per_file=10,
    )
    # untouched langs: identical files, byte for byte
    for d, want in before_others.items():
        assert fileset(d) == want, f"{d} was rewritten"
    # target lang: tombstoned rows gone, everything else intact
    got = {r["doc_id"] for r in back.collect()}
    want_ids = {r["doc_id"] for r in docs.collect()} - tomb_ids
    assert got == want_ids


def test_delete_from_corpus_idempotent_and_removes_empty_partition(
    spark, tmp_path
):
    """Re-running the same delete converges (the documented crash
    recovery), and a partition whose every row is tombstoned is
    REMOVED from the layout rather than left as an empty dir."""
    from sentinel_landsat_database_creation_spark.sources.corpus import (
        delete_from_corpus,
    )

    docs = _docs(spark)
    langs = sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )
    gone, trimmed = langs[0], langs[1]
    p = str(tmp_path / "corpus")
    write_corpus(docs, p, max_records_per_file=10)
    tomb = docs.filter(
        (F.col("lang") == gone)
        | ((F.col("lang") == trimmed) & (F.col("doc_id") % 2 == 0))
    ).select("doc_id")
    tomb_ids = {r["doc_id"] for r in tomb.collect()}
    tdf = spark.createDataFrame([(i,) for i in sorted(tomb_ids)], "doc_id long")

    back1 = delete_from_corpus(spark, p, tdf, max_records_per_file=10)
    rows1 = sorted(map(tuple, back1.select(*sorted(back1.columns)).collect()))
    assert not os.path.isdir(os.path.join(p, f"lang={gone}"))
    assert {r["doc_id"] for r in back1.collect()}.isdisjoint(tomb_ids)

    back2 = delete_from_corpus(spark, p, tdf, max_records_per_file=10)
    rows2 = sorted(map(tuple, back2.select(*sorted(back2.columns)).collect()))
    assert rows1 == rows2
    # no leftover swap siblings
    assert not os.path.isdir(p + "__deleting")
    assert not os.path.isdir(p + "__deleting_old")


def test_delete_from_corpus_restores_parked_partition_on_rerun(
    spark, tmp_path
):
    """The worst crash point: a prior delete died BETWEEN its two
    per-dir swap moves — the live partition dir is gone and its only
    copy sits parked under __deleting_old. The re-run (the documented
    recovery) must RESTORE the park before its entry cleanup, then
    finish the delete; before the r11 restore rule, the cleanup
    rmtree'd the park and silently lost the whole partition."""
    import shutil

    from sentinel_landsat_database_creation_spark.sources.corpus import (
        delete_from_corpus,
    )

    docs = _docs(spark)
    target = docs.select("lang").distinct().orderBy("lang").first()["lang"]
    p = str(tmp_path / "corpus")
    write_corpus(docs, p, max_records_per_file=10)

    tomb = docs.filter(F.col("lang") == target).select("doc_id").limit(3)
    tomb_ids = {r["doc_id"] for r in tomb.collect()}
    tdf = spark.createDataFrame([(i,) for i in sorted(tomb_ids)], "doc_id long")

    # simulate the mid-swap crash: park the target partition, live gone
    old = p + "__deleting_old"
    os.makedirs(old, exist_ok=True)
    shutil.move(
        os.path.join(p, f"lang={target}"), os.path.join(old, f"lang={target}")
    )
    assert not os.path.isdir(os.path.join(p, f"lang={target}"))

    back = delete_from_corpus(spark, p, tdf, max_records_per_file=10)
    got = {r["doc_id"] for r in back.collect()}
    want = {r["doc_id"] for r in docs.collect()} - tomb_ids
    assert got == want, "parked partition must be restored, then deleted from"
    assert not os.path.isdir(old)


def _docs_with_odd_partitions(spark):
    """documents with a partition column exercising the two values the
    r11 delete silently skipped: NULL (lands on disk as
    __HIVE_DEFAULT_PARTITION__) and an escape-needing string (':' is
    %-hex-encoded in the dir name)."""
    return _docs(spark).withColumn(
        "plang",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 11 == 7, F.concat(F.col("lang"), F.lit(":x")))
        .otherwise(F.col("lang")),
    )


def test_delete_from_corpus_null_and_escaped_partitions(spark, tmp_path):
    """The r11 ADVICE medium hole: tombstoned rows living in a NULL or
    escape-needing partition must be ERASED, not silently kept — the
    pruning predicate needs eqNullSafe (plain == is never true against
    NULL) and the swap needs Spark's partition-path escaping (the live
    dir is lang%3Ax / __HIVE_DEFAULT_PARTITION__, not the raw value)."""
    from sentinel_landsat_database_creation_spark.sources.corpus import (
        _HIVE_DEFAULT_PARTITION,
        delete_from_corpus,
    )

    docs = _docs_with_odd_partitions(spark)
    p = str(tmp_path / "corpus")
    write_corpus(docs, p, partition_by=("plang",), max_records_per_file=10)
    dirs = set(os.listdir(p))
    assert f"plang={_HIVE_DEFAULT_PARTITION}" in dirs
    assert any("%3A" in d for d in dirs), dirs  # ':' escaped on disk

    # tombstones drawn from BOTH odd partitions plus a clean one
    tomb = docs.filter(
        (F.col("doc_id") % 11).isin(3, 7) | (F.col("doc_id") % 23 == 1)
    ).select("doc_id")
    tomb_ids = {r["doc_id"] for r in tomb.collect()}
    assert tomb_ids, "fixture must contain odd-partition rows"
    tdf = spark.createDataFrame(
        [(i,) for i in sorted(tomb_ids)], "doc_id long"
    )
    back = delete_from_corpus(
        spark, p, tdf, partition_by=("plang",), max_records_per_file=10
    )
    got = {r["doc_id"] for r in back.collect()}
    want = {r["doc_id"] for r in docs.collect()} - tomb_ids
    assert got == want, "NULL/escaped partitions must be erased from"
    # every doc_id % 11 in {3, 7} row was tombstoned, so both odd
    # partitions are now fully removed from the layout
    dirs_after = set(os.listdir(p))
    assert f"plang={_HIVE_DEFAULT_PARTITION}" not in dirs_after
    assert not any("%3A" in d for d in dirs_after)
    # no leftover swap siblings
    assert not os.path.isdir(p + "__deleting")
    assert not os.path.isdir(p + "__deleting_old")


def test_delete_from_corpus_hinted_probe_prunes_and_fails_closed(
    spark, tmp_path
):
    """The r11 VERDICT item-5 fast path: with tombstone_partitions the
    affected-partition probe reads ONLY the hinted dirs (the partition
    predicate reaches the scan's PartitionFilters — plan-pinned here),
    and a hint that does NOT cover every tombstoned id raises instead
    of silently skipping erasure (fail closed), leaving the corpus
    untouched."""
    import glob
    import hashlib

    import pytest

    from sentinel_landsat_database_creation_spark.sources.corpus import (
        _partition_predicate,
        delete_from_corpus,
    )

    docs = _docs(spark)
    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    target, other = langs[0], langs[1]
    p = str(tmp_path / "corpus")
    write_corpus(docs, p, max_records_per_file=10)

    # the probe's scan prunes to the hinted dirs: the eqNullSafe hint
    # predicate must land in PartitionFilters (partition pruning), not
    # in post-scan Filter
    probe = spark.read.parquet(p).filter(
        _partition_predicate(("lang",), [(target,)])
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines and any(target in ln for ln in scan_lines), plan
    assert probe.select("lang").distinct().collect()[0]["lang"] == target

    tomb = docs.filter(F.col("lang") == target).select("doc_id").limit(5)
    tomb_ids = {r["doc_id"] for r in tomb.collect()}
    tdf = spark.createDataFrame(
        [(i,) for i in sorted(tomb_ids)], "doc_id long"
    )

    def fileset():
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{p}/lang=*/*.parquet")
        }

    before = fileset()
    # lying hint: the tombstones live in `target`, the hint names
    # `other` — must raise and leave every byte in place
    with pytest.raises(ValueError, match="does not cover"):
        delete_from_corpus(
            spark, p, tdf, max_records_per_file=10,
            tombstone_partitions=[(other,)],
        )
    assert fileset() == before, "failed-closed delete must not rewrite"

    # empty hint set + non-empty tombstones: fail closed, no rewrite
    with pytest.raises(ValueError, match="empty"):
        delete_from_corpus(
            spark, p, tdf, max_records_per_file=10, tombstone_partitions=[]
        )
    assert fileset() == before

    # honest hint: erasure proceeds exactly as the unhinted path
    back = delete_from_corpus(
        spark, p, tdf, max_records_per_file=10,
        tombstone_partitions=[(target,)],
    )
    got = {r["doc_id"] for r in back.collect()}
    want = {r["doc_id"] for r in docs.collect()} - tomb_ids
    assert got == want


def test_delete_from_corpus_expected_counts_catch_straddling_ids(
    spark, tmp_path
):
    """The r12 ADVICE hole: a tombstoned id with rows both INSIDE and
    OUTSIDE the hinted partitions passes the distinct-found check (at
    least one row found) while its outside rows silently survive. With
    ``expected_col`` the per-id in-hint row count is compared against
    the caller's expected total, so the straddle raises; with hints
    covering every partition the id lives in, the same expected counts
    pass and both rows are erased."""
    import pytest

    from sentinel_landsat_database_creation_spark.sources.corpus import (
        delete_from_corpus,
    )

    rows = [(i, "aa" if i % 2 else "bb", f"t{i}") for i in range(1, 21)]
    rows.append((5, "bb", "straddler"))  # doc_id 5 also lives in aa
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    p = str(tmp_path / "corpus")
    write_corpus(
        docs, p, partition_by=("lang",), max_records_per_file=10,
        sort_within=("doc_id",),
    )

    tdf = spark.createDataFrame([(5, 2)], "doc_id long, expected long")

    # straddling id + hint naming only one of its partitions: the
    # distinct-found check alone would pass (1 of 1 ids found), but the
    # expected-count check sees 1 of 2 rows and fails closed
    with pytest.raises(ValueError, match="every row"):
        delete_from_corpus(
            spark, p, tdf, max_records_per_file=10, sort_within=("doc_id",),
            tombstone_partitions=[("aa",)], expected_col="expected",
        )
    back = spark.read.parquet(p)
    assert back.filter(F.col("doc_id") == 5).count() == 2, "no rewrite"

    # hints covering both partitions: expected counts match, erasure
    # removes every row of the id
    back = delete_from_corpus(
        spark, p, tdf, max_records_per_file=10, sort_within=("doc_id",),
        tombstone_partitions=[("aa",), ("bb",)], expected_col="expected",
    )
    assert back.filter(F.col("doc_id") == 5).count() == 0
    assert back.count() == 19
