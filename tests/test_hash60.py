"""Cross-engine contract for functions.text.hash60 — the 60-bit
md5-prefix BIGINT key the span pipeline shuffles on (r7) and the
MinHash family is designated to adopt in r8.

The driver's correctness gate only ever exercises the key over the
synthetic corpus's token alphabet; this suite pins the THREE-engine
agreement (Spark conv/substring/md5, DuckDB hex-literal cast, Python
hashlib) on an adversarial corpus — unicode planes, combining marks,
whitespace/control characters, md5 digests with leading-zero prefixes
— plus the ordering lemma the r8 narrowing's exactness rests on:
min(prefix(x)) == prefix(min(x)) for fixed-width hex.

One Spark job / one DuckDB query over the whole corpus (per-example
sessions would be minutes, not seconds).
"""

from __future__ import annotations

import hashlib
import random
import string

import duckdb
import pytest

from sentinel_landsat_database_creation_spark.functions.text import hash60

ADVERSARIAL = [
    "",
    " ",
    "\t\n\r",
    "a",
    "0" * 64,
    "the_quick_brown_fox_jumps_over_the_lazy_dog",  # span-ish shape
    "tok1_tok2_tok3_tok4_tok5_tok6_tok7_tok8",
    "naïve café résumé",  # latin-1 accents (2-byte UTF-8)
    "日本語のテキスト処理",  # CJK (3-byte UTF-8)
    "🛰️📡🗺️",  # emoji incl. ZWJ/VS16 sequences (4-byte UTF-8)
    "é vs é",  # combining acute vs precomposed
    "  ",  # unicode line/paragraph separators
    "mixed — dash…ellipsis nbsp",
    "a" * 10_000,  # long single token
    "'; DROP TABLE docs; --",  # quoting hazards for the SQL side
    'he said "hi" \\ back\\slash',
]


def _py60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _corpus() -> list[str]:
    rng = random.Random(0xC0FFEE)
    alphabet = string.ascii_letters + string.digits + "_- "
    randoms = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 80)))
        for _ in range(600)
    ]
    # P(leading hex nibble == 0) = 1/16, so ~37 of the randoms already
    # exercise leading-zero prefixes; assert instead of hoping.
    corpus = ADVERSARIAL + randoms
    assert sum(
        1
        for s in corpus
        if hashlib.md5(s.encode()).hexdigest().startswith("0")
    ) >= 10
    return corpus


def test_hash60_three_engine_agreement(spark):
    corpus = _corpus()
    expected = [_py60(s) for s in corpus]

    got_spark = [
        r.h
        for r in (
            spark.createDataFrame([(s,) for s in corpus], "s string")
            .select(hash60("s").alias("h"))
            .collect()
        )
    ]
    assert got_spark == expected

    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()[0]
        for s in corpus
    ]
    assert got_duck == expected

    # 60-bit range: non-negative, below 2^60 (the cast-never-wraps claim)
    assert all(0 <= v < 1 << 60 for v in expected)


def test_hash60_prefix_min_commutes():
    """The r8 exactness lemma: for fixed-width lowercase hex, numeric
    order of the 60-bit prefix agrees with lexicographic order of the
    digest, so min commutes with prefixing. Checked over many random
    salted-digest sets, the shape operators/dedup.py:minhash_signatures
    reduces (a min over the 60-bit prefixes of salted md5 digests)."""
    rng = random.Random(7)
    for _ in range(200):
        digests = [
            hashlib.md5(f"{rng.random()}".encode()).hexdigest()
            for _ in range(rng.randrange(2, 40))
        ]
        lex_min = min(digests)
        assert min(int(d[:15], 16) for d in digests) == int(
            lex_min[:15], 16
        )


def test_hash60_span_occurrence_matches_python(spark):
    """End-to-end through _span_occurrences: the memoized stream's key
    column equals the Python-reference key of each raw window."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        _span_occurrences,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "naïve café x y z w q r"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    rows = _span_occurrences(docs, 8).orderBy("doc_id", "pos").collect()
    by_doc = {
        1: "a b c d e f g h i j".split(),
        2: "naïve café x y z w q r".split(),
    }
    expected = []
    for doc_id, toks in by_doc.items():
        for pos in range(len(toks) - 7):
            expected.append(
                (doc_id, pos, _py60("_".join(toks[pos : pos + 8])))
            )
    assert [(r.doc_id, r.pos, r.s) for r in rows] == expected


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def _py120(s: str) -> tuple[int, int]:
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[:15], 16), int(h[15:30], 16)


def test_hash120_three_engine_agreement(spark):
    """The widened two-word key (r9): word 0 == hash60, word 1 is the
    second 15-hex-char window — all three engines agree on the pair
    over the same adversarial corpus the one-word contract uses."""
    from sentinel_landsat_database_creation_spark.functions.text import (
        hash120,
    )

    corpus = _corpus()
    expected = [_py120(s) for s in corpus]

    w0, w1 = hash120("s")
    got_spark = [
        (r.w0, r.w1)
        for r in (
            spark.createDataFrame([(s,) for s in corpus], "s string")
            .select(w0.alias("w0"), w1.alias("w1"))
            .collect()
        )
    ]
    assert got_spark == expected
    assert [a for a, _ in got_spark] == [_py60(s) for s in corpus]

    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT,"
            "       ('0x' || substr(md5(?), 16, 15))::BIGINT",
            [s, s],
        ).fetchone()
        for s in corpus
    ]
    assert [tuple(r) for r in got_duck] == expected
    assert all(0 <= a < 1 << 60 and 0 <= b < 1 << 60 for a, b in expected)


def test_hash120_pairwise_min_commutes():
    """Two-word ordering lemma: lexicographic (w0, w1) order equals
    30-hex-char prefix order, so min over word pairs picks exactly the
    lexicographic-min digest's words — the widened signature stays an
    exact min-wise scheme."""
    rng = random.Random(11)
    for _ in range(200):
        digests = [
            hashlib.md5(f"{rng.random()}".encode()).hexdigest()
            for _ in range(rng.randrange(2, 40))
        ]
        lex_min = min(digests)
        pairs = [(int(d[:15], 16), int(d[15:30], 16)) for d in digests]
        assert min(pairs) == (int(lex_min[:15], 16), int(lex_min[15:30], 16))


SF001 = "/root/testdata/sf0.01"


def test_minhash_family_width120_matches_duckdb(spark):
    """The hash120 CONSUMER path end-to-end (r10, r9 VERDICT item 4 —
    the committed widening must be usable, not prose): the full
    MinHash+LSH candidate pipeline at width=120 — two-word shingle
    keys, struct-min'd two-word signatures, both-word band folds —
    over the real documents table, against the width-parameterized
    DuckDB fragment generators. (No cross-width containment is
    asserted: the salted inputs render the full key, so the two widths
    are different hash FAMILIES with independent band collisions, not
    a bit-drop of one another.)"""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        _sql_minhash,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    docs = table(spark, SF001, "documents")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, width=120).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF001}/documents.parquet')"
    )
    want = {
        (a, b) for a, b in con.execute(_sql_minhash(width=120)).fetchall()
    }
    assert got == want
    assert len(got) > 0  # the fixture corpus has real near-dups


def test_span_dedup_width120_matches_duckdb(spark):
    """_span_occurrences' width knob end-to-end: span_dedup at
    width=120 (two-word span keys through the dictionary groupBy and
    the semi-join probe) equals a DuckDB mirror keyed on the
    two-element [word0, word1] list — and, on this corpus, the 60-bit
    counts themselves (no 60-bit collision among its ~50k distinct
    spans, so widening must not change any verdict)."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        span_dedup,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    docs = table(spark, SF001, "documents")
    got = {
        (r["doc_id"], r["n_spans"], r["n_dup_spans"])
        for r in span_dedup(docs, span_tokens=8, width=120).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF001}/documents.parquet')"
    )
    # DuckDB key = the 30-hex-char prefix string (bijective with the
    # Spark side's two-BIGINT pair; nested lists don't unnest there)
    gram = "list_aggregate(toks[i:i+7], 'string_agg', '_')"
    want = {
        tuple(r)
        for r in con.execute(f"""
WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
           FROM documents),
occ AS (
  SELECT doc_id, unnest(
           CASE WHEN len(toks) >= 8
                THEN list_transform(range(1, len(toks) - 6),
                     i -> substr(md5({gram}), 1, 30))
                ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM d
),
shared AS (SELECT s FROM occ GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
pd AS (
  SELECT doc_id, count(*) AS nd FROM occ
  WHERE s IN (SELECT s FROM shared) GROUP BY doc_id
),
tot AS (SELECT doc_id, greatest(len(toks) - 7, 0) AS n_spans FROM d)
SELECT CAST(tot.doc_id AS BIGINT), CAST(n_spans AS BIGINT),
       CAST(coalesce(nd, 0) AS BIGINT)
FROM tot LEFT JOIN pd USING (doc_id)
""").fetchall()
    }
    assert got == want
    sixty = {
        (r["doc_id"], r["n_spans"], r["n_dup_spans"])
        for r in span_dedup(docs, span_tokens=8).collect()
    }
    assert got == sixty


def test_width_knob_rejects_typos_everywhere(spark):
    """r11 ADVICE: every family member that branches on width==120 must
    reject other values — before this guard, width=12 silently ran the
    60-bit path (a different, unverified hash family) in everything but
    _shingle_rows."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        _shingle_rows,
        _span_occurrences,
        banded_buckets,
        minhash_signatures,
        span_dedup,
    )

    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    ex60 = _shingle_rows(docs, 2)
    sig60 = minhash_signatures(ex60, 8)
    for call in (
        lambda: _shingle_rows(docs, 2, width=12),
        lambda: minhash_signatures(ex60, 8, width=12),
        lambda: banded_buckets(sig60, 8, 4, width=12),
        lambda: _span_occurrences(docs, 8, width=12),
        lambda: span_dedup(docs, 8, width=12),
    ):
        with pytest.raises(ValueError, match="width must be 60 or 120"):
            call()


def test_minhash_signatures_rejects_width_mismatched_shingles(spark):
    """A width-120 shingle table fed to the 60 path would build
    signatures from word0 alone; a width-60 table on the 120 path lacks
    s2 — both are now plan-time errors, not silent family changes."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        _shingle_rows,
        minhash_signatures,
    )

    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    ex60 = _shingle_rows(docs, 2, width=60)
    ex120 = _shingle_rows(docs, 2, width=120)
    with pytest.raises(ValueError, match="two-word"):
        minhash_signatures(ex60, 8, width=120)
    with pytest.raises(ValueError, match="width-120 two-word key"):
        minhash_signatures(ex120, 8, width=60)
