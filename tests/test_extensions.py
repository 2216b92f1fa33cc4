"""Semantic tests for the LLM-pipeline extension operators — properties
the oracle equivalence can't see (recall relationships, plumbing shape,
behavior on real-language text)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.multimodal.media import (
    fake_features,
    media_from_documents,
)
from sentinel_landsat_database_creation_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from sentinel_landsat_database_creation_spark.operators.similarity import (
    brute_force_topk,
    bucketed_topk,
)
from sentinel_landsat_database_creation_spark.operators.textops import language_id
from sentinel_landsat_database_creation_spark.sources.testdata import table

SF = "/root/testdata/sf0.01"


def test_minhash_recall_of_strong_neardups(spark):
    """High-Jaccard pairs should nearly all surface as LSH candidates:
    with 4 bands x 2 rows, P(candidate | j=0.9) = 1-(1-0.81)^4 ≈ 0.9987."""
    docs = table(spark, SF, "documents")
    strong = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, 2, 0.8).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs).collect()
    }
    assert strong, "fixture corpus must contain strong near-dups"
    recall = len(strong & cands) / len(strong)
    assert recall >= 0.9, (recall, strong - cands)


def test_ivf_topk_ranked_and_consistent_with_bruteforce(spark):
    """IVF results carry contiguous ranks with non-increasing scores,
    and any (qid,cid) IVF surfaces must score identically to the exact
    brute-force scorer (IVF prunes candidates, never alters scores)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivf_topk,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    brute = {
        (r["qid"], r["cid"]): r["cos"]
        for r in brute_force_topk(e, q, k=10_000).collect()
    }
    rows = ivf_topk(e, q, k=5, n_centroids=8).collect()
    assert rows, "IVF must return results on a self-indexed corpus"
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["rnk"], r["cid"], r["cos"]))
        assert brute[(r["qid"], r["cid"])] == r["cos"]
    for qid, lst in by_q.items():
        lst.sort()
        assert [rnk for rnk, _, _ in lst] == list(range(1, len(lst) + 1))
        scores = [c for _, _, c in lst]
        assert scores == sorted(scores, reverse=True)


def test_bucketed_topk_subset_of_bruteforce_scores(spark):
    """LSH top-k scores can only come from the true candidate set, and
    per-query recall must be positive on self-similar data."""
    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    brute = {
        (r["qid"], r["cid"]): r["cos"]
        for r in brute_force_topk(e, q, k=10).collect()
    }
    lsh = [(r["qid"], r["cid"], r["cos"]) for r in bucketed_topk(e, q, k=10).collect()]
    assert lsh, "sign-LSH buckets must be non-empty"
    for qid, cid, cos in lsh:
        if (qid, cid) in brute:
            assert brute[(qid, cid)] == cos


def test_exact_dedup_generic(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id long, key string"
    )
    rows = {
        r["key"]: (r["keep_id"], r["n_dups"])
        for r in exact_dedup(df, ["key"], "id").collect()
    }
    assert rows == {"x": (1, 2), "y": (3, 1)}


def test_language_id_on_real_text(spark):
    samples = [
        (1, "the cat sat on the mat and it is happy"),
        (2, "der hund ist nicht in der stadt und das haus"),
        (3, "le chat est dans la maison et les jardins"),
        (4, "el perro es un animal que vive en la casa"),
        (5, "qqq www zzz"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", language_id(F.col("text")).alias("g")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_media_fake_features_plumbing(spark):
    docs = table(spark, SF, "documents").limit(20)
    media = media_from_documents(docs)
    feats = fake_features(media, n_features=4)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["kind"] == "image"
        assert r["n_bytes"] > 0
        assert len(r["features"]) == 4
        assert all(0.0 <= f <= 1.0 for f in r["features"])
    # determinism across runs/partitionings
    again = {r["media_id"]: r["features"] for r in fake_features(media.repartition(7), 4).collect()}
    assert {r["media_id"]: r["features"] for r in rows} == again


def test_chunk_documents_short_and_exact_docs(spark):
    """Chunking edge cases: a doc shorter than the window yields one
    (short) chunk; an exact-multiple doc yields full windows with the
    configured overlap."""
    from sentinel_landsat_database_creation_spark.operators.textops import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                                  # shorter than window
            (2, " ".join(f"t{i}" for i in range(8))),      # window + 1 stride
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    }
    assert rows[(1, 0)] == (3, "a b c")
    assert (1, 1) not in rows
    # doc 2: 8 tokens, window 4, stride 3 -> starts 0,3 and final short 6
    assert rows[(2, 0)] == (4, "t0 t1 t2 t3")
    assert rows[(2, 1)] == (4, "t3 t4 t5 t6")
    assert rows[(2, 2)] == (2, "t6 t7")
    assert (2, 3) not in rows


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping must converge on a path graph whose diameter far
    exceeds max_iter (plain min-propagation would need ~n rounds and,
    post-round-1, raises instead of returning wrong labels)."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        connected_components,
    )

    n = 300  # path 0-1-2-...-299, diameter 299 >> max_iter 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(pairs, max_iter=20).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {0}, "every node must label to the min id"


def test_connected_components_raises_when_budget_exhausted(spark):
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_repetition_stats_semantics(spark):
    from sentinel_landsat_database_creation_spark.operators.textops import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one token flood
            (2, "a b c a b c a b c"),            # repeated 3-gram cycle
            (3, "all distinct words here now"),  # clean
            (4, "x y"),                          # shorter than n: ratio 0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs, n=3).collect()}
    assert got[1]["top_tok_ratio"] == 1.0
    # 4 tokens -> 2 trigrams, both "spam_spam_spam": 1 repeat / 2
    assert got[1]["rep_ngram_ratio"] == 0.5
    # 9 tokens -> 7 trigrams, 3 distinct (abc, bca, cab) -> 4/7 repeats
    assert abs(got[2]["rep_ngram_ratio"] - 4 / 7) < 1e-12
    assert got[2]["top_tok_ratio"] == 3 / 9
    assert got[3]["rep_ngram_ratio"] == 0.0
    assert got[3]["top_tok_ratio"] == 1 / 5
    assert got[4]["rep_ngram_ratio"] == 0.0 and got[4]["n_tok"] == 2


def test_textops_survive_edge_documents(spark):
    """Degenerate docs (empty, single-token, shorter-than-shingle) must
    flow through every text operator without runtime errors — the
    shingles() sequence(1,0) trap (fixed this round) was only reachable
    on exactly these shapes."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash_docs,
    )
    from sentinel_landsat_database_creation_spark.operators.textops import (
        chunk_documents,
        language_id,
        quality_stats,
        repetition_stats,
        rolling_fingerprint,
        token_fingerprint_stats,
    )
    from pyspark.sql import functions as F2

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two tokens"), (4, "now three tokens")],
        "doc_id long, text string",
    )
    assert quality_stats(docs).count() == 4
    assert token_fingerprint_stats(docs).count() == 4
    assert repetition_stats(docs, n=3).count() == 4
    assert docs.select(language_id(F2.col("text"))).count() == 4
    assert docs.select(rolling_fingerprint(F2.col("text"))).count() == 4
    assert chunk_documents(docs, chunk_tokens=4, stride=3).count() >= 4
    assert simhash_docs(docs).count() == 4
    # pair ops: no candidates among degenerate docs is fine; no throw is the point
    ngram_jaccard_pairs(docs, n=2, threshold=0.1).count()
    minhash_lsh_candidates(docs, n=2).count()


def test_contamination_edge_cases(spark):
    """Short docs produce no n-grams (never NULL rows); an empty eval
    side contaminates nothing; a doc sharing k distinct n-grams counts
    each once."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        contaminated_docs,
    )

    train = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shares 'a b c' and 'b c d' with eval
            (2, "x y"),             # too short for n=3: no shingles
            (3, "p q r s"),         # no overlap
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, "a b c d zz"), (11, "zz b c d qq")], "doc_id long, text string"
    )
    # eval's distinct 3-grams: a_b_c, b_c_d, c_d_zz, zz_b_c, c_d_qq;
    # doc 1 contributes a_b_c + b_c_d (c_d_e is not in eval) -> 2 hits
    out = {r["doc_id"]: r["n_hits"] for r in contaminated_docs(train, ev, n=3).collect()}
    assert out == {1: 2}
    empty = ev.filter(F.lit(False))
    assert contaminated_docs(train, empty, n=3).count() == 0


def test_stratified_sample_deterministic_and_classwise(spark):
    """Same rows kept under repartitioning; unlisted classes keep all
    rows; rate=0 keeps none."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        stratified_sample,
    )

    docs = table(spark, SF, "documents").select("doc_id", "lang")
    rates = {"en": 0.5, "zh": 0.0}
    kept1 = {r["doc_id"] for r in stratified_sample(docs, "lang", rates).collect()}
    kept2 = {
        r["doc_id"]
        for r in stratified_sample(docs.repartition(7), "lang", rates).collect()
    }
    assert kept1 == kept2
    by_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept_rows = stratified_sample(docs, "lang", rates)
    kept_by_lang = {
        r["lang"]: r["n"]
        for r in kept_rows.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert "zh" not in kept_by_lang  # rate 0 -> nothing survives
    for lang in ("de", "fr", "es"):  # unlisted -> untouched
        assert kept_by_lang[lang] == by_lang[lang]
    assert 0 < kept_by_lang["en"] < by_lang["en"]


def test_vocab_coverage_totals(spark):
    """Coverage is in [0,1]; a doc made entirely of the top token has
    coverage 1; n_in_vocab never exceeds n_toks."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [
            (1, "t t t t t t"),   # 't' dominates the corpus
            (2, "t u v"),
            (3, "w w x"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in vocab_coverage(docs, k=2).collect()}
    # top-2 vocab by count then token asc: t (7), w (2)
    assert out[1]["coverage"] == 1.0
    assert out[2]["n_in_vocab"] == 1 and out[2]["n_toks"] == 3
    assert out[3]["n_in_vocab"] == 2
    for r in out.values():
        assert 0.0 <= r["coverage"] <= 1.0
        assert r["n_in_vocab"] <= r["n_toks"]


def test_tfidf_terms_semantics(spark):
    """A token present in every document has idf 0 and so can never
    outrank a discriminative token; ranking ties break on token text."""
    from sentinel_landsat_database_creation_spark.operators.scoring import (
        tfidf_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common other"),
            (3, "common common common"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["rank"]): (r["tok"], r["score_u"])
        for r in tfidf_terms(docs, k=2).collect()
    }
    # doc 1: "rare" (tf=2, df=1) beats "common" (idf 0).
    assert rows[(1, 1)][0] == "rare"
    assert rows[(1, 1)][1] > 0
    # "common" appears in all 3 docs -> idf_u == 0 exactly.
    assert rows[(1, 2)] == ("common", 0)
    # doc 3 has only zero-score terms; ties broken by token asc.
    assert rows[(3, 1)] == ("common", 0)


def test_unigram_surprisal_hand_computed(spark):
    """Tiny corpus where the unigram model is computable by hand."""
    import math

    from sentinel_landsat_database_creation_spark.operators.scoring import (
        unigram_surprisal,
    )

    # corpus: a a a b  -> p(a)=3/4, p(b)=1/4
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    sur_a = round(-math.log(3 / 4) * 1e6)
    sur_b = round(-math.log(1 / 4) * 1e6)
    assert out[1]["n_toks"] == 3 and out[1]["nll_u"] == 3 * sur_a
    assert out[2]["n_toks"] == 1 and out[2]["nll_u"] == sur_b
    assert out[2]["mean_nll"] == (float(sur_b) / 1.0) / 1e6


def test_pack_sequences_straddle_and_shards(spark):
    """A document whose tokens straddle the budget boundary belongs to
    the sequence its FIRST token falls into; shards pack independently."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        pack_sequences,
    )

    # one shard (n_shards=1): lengths 3, 3, 3 with budget 4:
    #   doc 0 -> cum_before 0 -> seq 0
    #   doc 1 -> cum_before 3 -> seq 0 (straddles: 3+3 > 4)
    #   doc 2 -> cum_before 6 -> seq 1
    docs = spark.createDataFrame(
        [(0, "x x x"), (1, "x x x"), (2, "x x x")], ["doc_id", "text"]
    )
    rows = {
        (r["shard"], r["seq_id"]): (r["n_docs"], r["n_toks_packed"])
        for r in pack_sequences(docs, budget=4, n_shards=1).collect()
    }
    assert rows == {(0, 0): (2, 6), (0, 1): (1, 3)}

    # two shards: doc ids 0,2 -> shard 0; 1,3 -> shard 1; cumsums reset.
    docs2 = spark.createDataFrame(
        [(i, "x x x") for i in range(4)], ["doc_id", "text"]
    )
    rows2 = {
        (r["shard"], r["seq_id"]): (r["n_docs"], r["n_toks_packed"])
        for r in pack_sequences(docs2, budget=4, n_shards=2).collect()
    }
    assert rows2 == {(0, 0): (2, 6), (1, 0): (2, 6)}


def test_lss_components_match_min_label(spark):
    """Both CC engines must agree — on a long chain (the propagation
    stress case), a star, a 2-cycle component, and random extra edges."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        connected_components,
        connected_components_lss,
    )

    chain = [(i, i + 1) for i in range(100, 140)]
    star = [(0, i) for i in range(1, 6)]
    pairs = chain + star + [(200, 201), (201, 202), (202, 200), (300, 301)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    a = {r["doc_id"]: r["cluster"] for r in connected_components(df).collect()}
    b = {
        r["doc_id"]: r["cluster"]
        for r in connected_components_lss(df).collect()
    }
    assert a == b and b[139] == 100 and b[5] == 0 and b[202] == 200


def test_span_dedup_hand_computed(spark):
    """3-token spans: docs 1 and 2 share 'a b c'; doc 3 shares nothing;
    doc 4 is too short for any span."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        span_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),   # spans: a_b_c, b_c_d
            (2, "x a b c"),   # spans: x_a_b, a_b_c
            (3, "p q r s"),   # spans: p_q_r, q_r_s
            (4, "u v"),       # no span
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in span_dedup(docs, span_tokens=3).collect()}
    assert (out[1]["n_spans"], out[1]["n_dup_spans"]) == (2, 1)
    assert out[1]["dup_ratio"] == 0.5
    assert (out[2]["n_spans"], out[2]["n_dup_spans"]) == (2, 1)
    assert (out[3]["n_spans"], out[3]["n_dup_spans"]) == (2, 0)
    assert (out[4]["n_spans"], out[4]["n_dup_spans"]) == (0, 0)
    assert out[4]["dup_ratio"] == 0.0


def test_scrub_spans_hand_computed(spark):
    """k=3 range mechanics: gap > k splits ranges, gap == k merges
    (touching), overlapping hits merge, a fully-shared doc scrubs to
    md5(''), a short doc is untouched."""
    import hashlib

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        scrub_spans,
    )

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    docs = spark.createDataFrame(
        [
            # shares a_b_c (pos 0) and e_f_g (pos 4) with doc 2:
            # gap 4 > k=3 -> ranges [0,2] and [4,6], kept "x1 y1"
            (1, "a b c x1 e f g y1"),
            (2, "a b c z e f g"),  # ranges [0,2],[4,6], kept "z"
            # doc 3 entirely inside doc 4: hits 0..3 overlap -> one
            # range covering everything, kept ""
            (3, "m n o p q r"),
            (4, "w m n o p q r"),  # hits 1..4 -> range [1,6], kept "w"
            # hits at 0 and 3 (gap == k): touching ranges merge ->
            # [0,5], kept "u"; its partner's hits at 0 and 6 stay split
            (5, "a b c d e f u"),
            (6, "a b c q1 q2 q3 d e f"),
            (7, "p p2 p3 p4"),  # no shared span: untouched
            (8, "s t"),  # too short for any span: untouched
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in scrub_spans(docs, span_tokens=3).collect()}

    def check(d, n_tokens, n_ranges, n_removed, kept):
        r = out[d]
        assert (r["n_tokens"], r["n_ranges"], r["n_removed"]) == (
            n_tokens,
            n_ranges,
            n_removed,
        ), (d, dict(r.asDict()))
        assert r["kept_md5"] == h(kept), (d, kept)

    check(1, 8, 2, 6, "x1 y1")
    check(2, 7, 2, 6, "z")
    check(3, 6, 1, 6, "")
    check(4, 7, 1, 6, "w")
    check(5, 7, 1, 6, "u")
    check(6, 9, 2, 6, "q1 q2 q3")
    check(7, 4, 0, 0, "p p2 p3 p4")
    check(8, 2, 0, 0, "s t")


def _scrub_ref(texts: dict[int, str], k: int) -> dict[int, tuple]:
    """Independent pure-Python reference for scrub_spans."""
    import hashlib
    from collections import defaultdict

    toks = {d: t.split(" ") for d, t in texts.items()}
    spans = {
        d: ["_".join(tk[i : i + k]) for i in range(len(tk) - k + 1)]
        for d, tk in toks.items()
    }
    span_docs = defaultdict(set)
    for d, ss in spans.items():
        for s in ss:
            span_docs[s].add(d)
    out = {}
    for d, tk in toks.items():
        hits = [i for i, s in enumerate(spans[d]) if len(span_docs[s]) >= 2]
        segs: list[list[int]] = []
        prev = None
        for p in hits:
            if prev is None or p - prev > k:
                segs.append([p, p])
            else:
                segs[-1][1] = p
            prev = p
        ranges = [(a, b + k - 1) for a, b in segs]
        removed = set()
        for a, b in ranges:
            removed.update(range(a, b + 1))
        kept = " ".join(t for i, t in enumerate(tk) if i not in removed)
        out[d] = (
            len(tk),
            len(ranges),
            sum(b - a + 1 for a, b in ranges),
            hashlib.md5(kept.encode()).hexdigest(),
        )
    return out


def test_scrub_spans_matches_python_reference(spark):
    """Seeded random corpus with planted boilerplate blocks: every
    column (incl. the scrubbed-text md5) must equal an independent
    Python implementation's, and removed+kept must partition the
    tokens."""
    import random

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        scrub_spans,
    )

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(30)]
    blocks = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 12)))
        for _ in range(5)
    ]
    texts = {}
    for d in range(40):
        parts = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.5:
                parts.append(rng.choice(blocks))
            else:
                parts.append(
                    " ".join(
                        rng.choice(vocab) for _ in range(rng.randint(1, 15))
                    )
                )
        texts[d] = " ".join(parts)
    k = 4
    ref = _scrub_ref(texts, k)
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_ranges"],
            r["n_removed"],
            r["kept_md5"],
        )
        for r in scrub_spans(df, span_tokens=k).collect()
    }
    assert got == ref
    assert any(v[2] > 0 for v in ref.values())  # scrubbing actually fired
    assert any(v[1] > 1 for v in ref.values())  # multi-range docs exist


def test_epoch_shuffle_is_a_deterministic_permutation(spark):
    """(shard, pos) must be a bijection over the input ids: every id
    appears once, pos is contiguous 1..|shard| within each shard,
    shards stay within range and roughly even; same seed reproduces
    the order bit-for-bit and a different seed actually reshuffles."""
    from collections import Counter

    from sentinel_landsat_database_creation_spark.operators.curation import (
        epoch_shuffle,
    )

    n, shards = 500, 16
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    a = epoch_shuffle(df, seed=7, n_shards=shards).collect()
    assert sorted(r["doc_id"] for r in a) == list(range(n))
    by_shard = Counter(r["shard"] for r in a)
    assert set(by_shard) <= set(range(shards))
    for s, cnt in by_shard.items():
        poss = sorted(r["pos"] for r in a if r["shard"] == s)
        assert poss == list(range(1, cnt + 1))
    # md5 uniformity: no shard should be empty or pathological at n=500
    assert min(by_shard.values()) > 0
    assert max(by_shard.values()) < 3 * (n / shards)

    b = epoch_shuffle(df, seed=7, n_shards=shards).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["pos"]) for r in rows)  # noqa: E731
    assert key(a) == key(b)
    c = epoch_shuffle(df, seed=8, n_shards=shards).collect()
    assert key(a) != key(c)


def test_delta_dedup_flags_existing_content(spark):
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        delta_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "seen text"), (2, "other text")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "seen text"), (11, "brand new")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["is_dup"] for r in delta_dedup(corpus, batch).collect()}
    assert out == {10: True, 11: False}


def test_mixture_plan_hand_computed(spark):
    """counts en=30, fr=10 with equal weights: retention-maximal total
    is bound by fr (T=20), so en downsamples to 10 and fr is kept whole;
    achieved counts must equal the md5-bucket filter computed here in
    pure Python; unweighted classes are dropped."""
    import hashlib

    from sentinel_landsat_database_creation_spark.operators.curation import (
        mixture_plan,
    )

    rows = (
        [(i, "en") for i in range(30)]
        + [(100 + i, "fr") for i in range(10)]
        + [(200, "zz")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {
        r["lang"]: r
        for r in mixture_plan(docs, "lang", {"en": 1, "fr": 1}).collect()
    }
    assert set(out) == {"en", "fr"}
    assert (out["en"]["keep_target"], out["fr"]["keep_target"]) == (10, 10)
    assert out["en"]["thresh"] == 10 * 256 // 30
    assert out["fr"]["thresh"] == 256

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16)

    want_en = sum(1 for i in range(30) if bucket(i) < out["en"]["thresh"])
    assert out["en"]["achieved"] == want_en
    assert out["fr"]["achieved"] == 10


def test_length_trim_band_edges(spark):
    """percent_rank band keeps min-rank row only when lo == 0; a
    singleton language has pr == 0 and is dropped by lo > 0 in BOTH
    engines (pinned here so a tokenizer/engine change can't silently
    diverge)."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        length_trim,
    )

    docs = spark.createDataFrame(
        [("en", 10), ("en", 20), ("en", 30), ("en", 40), ("zz", 5)],
        ["lang", "n_chars"],
    )
    # en ranks: pr = 0, 1/3, 2/3, 1 -> [0.05, 0.95] keeps 20 and 30.
    out = {r["lang"]: r for r in length_trim(docs).collect()}
    assert out["en"]["n_kept"] == 2
    assert (out["en"]["min_chars"], out["en"]["max_chars"]) == (20, 30)
    assert "zz" not in out
    # lo=0 keeps the minimum (and the singleton language).
    out0 = {r["lang"]: r for r in length_trim(docs, lo=0.0).collect()}
    assert out0["en"]["min_chars"] == 10 and out0["zz"]["n_kept"] == 1


def test_length_trim_matches_direct_percent_rank_under_skew(spark):
    """The grouped-counts formulation must equal the textbook per-row
    percent_rank() — including with one dominant language (the skew case
    the rewrite exists for) and with heavy ties."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.curation import (
        length_trim,
    )

    rng = random.Random(7)
    rows = [("en", rng.randint(1, 40)) for _ in range(900)] + [
        (lang, rng.randint(1, 40)) for lang in ("fr", "de") for _ in range(50)
    ]
    docs = spark.createDataFrame(rows, ["lang", "n_chars"])
    pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("n_chars"))
    direct = {
        r["lang"]: (r["n_kept"], r["min_chars"], r["max_chars"])
        for r in docs.select("lang", "n_chars", pr.alias("pr"))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .collect()
    }
    got = {
        r["lang"]: (r["n_kept"], r["min_chars"], r["max_chars"])
        for r in length_trim(docs).collect()
    }
    assert got == direct and set(got) == {"en", "fr", "de"}


def test_bigram_surprisal_hand_computed(spark):
    """Tiny corpus where the bigram conditional model is computable by
    hand; single-token documents contribute no rows."""
    import math

    from sentinel_landsat_database_creation_spark.operators.scoring import (
        bigram_surprisal,
    )

    # bigrams: doc1 a_b, doc2 a_c, doc3 a_b  ->  c(a_b)=2, c(a_c)=1,
    # c(a.)=3  ->  p(b|a)=2/3, p(c|a)=1/3.
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "a b"), (4, "z")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
    sur_ab = round(-math.log(2 / 3) * 1e6)
    sur_ac = round(-math.log(1 / 3) * 1e6)
    assert out[1]["n_bigrams"] == 1 and out[1]["nll2_u"] == sur_ab
    assert out[2]["n_bigrams"] == 1 and out[2]["nll2_u"] == sur_ac
    assert out[1]["mean_nll2"] == (float(sur_ab) / 1.0) / 1e6
    assert 4 not in out  # no bigrams -> no row


def test_zorder_key_interleaves_bits(spark, tmp_path):
    """Pinned Morton values plus the defining property: bit i of x lands
    at position 2i, bit i of y at 2i+1."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.layout import (
        zorder_key,
        zorder_partitioned_write,
    )

    def morton(x, y):
        return sum(
            ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
            for i in range(16)
        )

    cases = [(0, 0), (3, 5), (65535, 0), (0, 65535), (12345, 54321)]
    df = spark.createDataFrame(cases, ["x", "y"]).select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])

    import pytest

    with pytest.raises(ValueError, match="power of two"):
        zorder_partitioned_write(df, "x", "y", str(tmp_path / "z"), n_buckets=48)


def test_zorder_written_layout_tighter_than_unsorted(spark, tmp_path):
    """End-to-end through real parquet files: a zorder_partitioned_write
    layout must (a) put each bucket in exactly one file and (b) yield
    strictly smaller summed per-file (x, y) bounding boxes than the same
    data written in row order — the file-skipping win, measured on the
    files themselves rather than the logical plan."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.layout import (
        written_file_stats,
        zorder_partitioned_write,
    )

    df = spark.createDataFrame(
        [(i % 251, (i * 7) % 241) for i in range(4000)], ["x", "y"]
    )
    zpath = str(tmp_path / "zordered")
    zorder_partitioned_write(df, "x", "y", zpath, n_buckets=16)
    stats = written_file_stats(spark, zpath, "x", "y").collect()
    assert len(stats) > 1
    assert all(r["n_files"] == 1 for r in stats)
    assert sum(r["n_rows"] for r in stats) == 4000

    upath = str(tmp_path / "unsorted")
    df.repartition(len(stats)).write.parquet(upath)
    base = (
        spark.read.parquet(upath)
        .withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        )
        .collect()
    )

    def area(rows):
        return sum(
            (r["max_x"] - r["min_x"] + 1) * (r["max_y"] - r["min_y"] + 1)
            for r in rows
        )

    assert area(stats) < area(base)


def test_ivf_multiprobe_recall_monotone(spark):
    """Probing more cells can only add candidates, so recall@k vs brute
    force is monotone in nprobe (and pair sets never duplicate)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    e = table(spark, "/root/testdata/sf0.001", "embeddings")
    from pyspark.sql import functions as F

    q = e.filter(F.col("vec_id") < 5)
    bf = {
        (r["qid"], r["cid"])
        for r in brute_force_topk(e, q, k=3).collect()
    }
    hits = []
    for nprobe in (1, 2, 4):
        got = {
            (r["qid"], r["cid"])
            for r in ivf_topk(e, q, k=3, n_centroids=16, nprobe=nprobe).collect()
        }
        assert len(got) <= 15  # k per query, no duplicated pairs
        hits.append(len(got & bf))
    assert hits[0] <= hits[1] <= hits[2]


def test_topk_recall_hand_computed(spark):
    """2 queries x k=2 baseline; one method agrees on 3 of 4 pairs, the
    other on none."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        topk_recall,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], ["qid", "cid"]
    )
    good = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)], ["qid", "cid"]
    )
    bad = spark.createDataFrame([(1, 98), (2, 99)], ["qid", "cid"])
    out = {
        r["method"]: r
        for r in topk_recall(exact, {"good": good, "bad": bad}).collect()
    }
    assert out["good"]["n_hits"] == 3 and out["good"]["recall"] == 0.75
    assert out["bad"]["n_hits"] == 0 and out["bad"]["recall"] == 0.0
    assert all(
        (r["n_queries"], r["n_possible"]) == (2, 4) for r in out.values()
    )


def test_top_tokens_per_lang_ties(spark):
    from sentinel_landsat_database_creation_spark.operators.textops import (
        top_tokens_per_lang,
    )

    docs = spark.createDataFrame(
        [("en", "b a b a"), ("de", "z")], ["lang", "text"]
    )
    rows = {
        (r["lang"], r["rank"]): (r["tok"], r["n"])
        for r in top_tokens_per_lang(docs, k=2).collect()
    }
    # equal counts -> token asc breaks the tie.
    assert rows[("en", 1)] == ("a", 2) and rows[("en", 2)] == ("b", 2)
    assert rows[("de", 1)] == ("z", 1)


def test_train_centroids_hand_computed(spark):
    """Two obvious clusters on a 2-D-ish fixture: after one iteration the
    sum vectors are exactly the element-wise sums of each cluster's
    quantized members, empty cells carry their previous sum with n=0,
    and a second run is bit-identical (pure function of the input)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        QUANT_SCALE,
        train_centroids,
    )

    # vec 0 ~ +x axis, vec 1 ~ +y axis seed the two cells; vectors 2-4
    # hug +x, vector 5 hugs +y. Pad to 4 dims.
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.8, 0.0, 0.1, 0.0]),
        (4, [0.7, 0.1, 0.1, 0.0]),
        (5, [0.1, 0.9, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = train_centroids(e, n_centroids=2, n_iters=1)
    assert [c for c, _s, _n in cents] == [0, 1]
    qs = {
        i: [round(x * QUANT_SCALE) for x in v] for i, v in vecs
    }
    want0 = [sum(qs[i][p] for i in (0, 2, 3, 4)) for p in range(4)]
    want1 = [sum(qs[i][p] for i in (1, 5)) for p in range(4)]
    assert cents[0] == (0, want0, 4)
    assert cents[1] == (1, want1, 2)
    assert train_centroids(e, n_centroids=2, n_iters=1) == cents


def test_train_centroids_kd_ceiling_guard(spark, monkeypatch):
    """The driver-recurrence bound (round-6 VERDICT item 6): crossing
    the K*d ceiling raises the design-note error BEFORE any Lloyd
    iteration collects, and the guard names the distributed fix."""
    import pytest as _pytest

    from sentinel_landsat_database_creation_spark.operators import (
        similarity as sim,
    )

    vecs = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(4)]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "TRAIN_KD_CEILING", 7)  # K*d = 2*4 = 8 > 7
    with _pytest.raises(ValueError, match="train_centroids_distributed"):
        sim.train_centroids(e, n_centroids=2, n_iters=1)
    monkeypatch.setattr(sim, "TRAIN_KD_CEILING", 8)  # at the ceiling: ok
    assert len(sim.train_centroids(e, n_centroids=2, n_iters=1)) == 2
    # and the named fix actually works past the ceiling: the
    # distributed path never collects, so the ceiling doesn't apply
    monkeypatch.setattr(sim, "TRAIN_KD_CEILING", 7)
    st = sim.train_centroids_distributed(e, n_centroids=2, n_iters=1)
    assert st.count() == 2


def test_train_pq_codebooks_ceiling_guard(spark, monkeypatch):
    """The PQ trainers' driver bound, shared by both through _lloyd_pq:
    m·k*·dsub codebook values over TRAIN_KD_CEILING raise before the
    seed collect; exactly at the ceiling both train."""
    from sentinel_landsat_database_creation_spark.operators import (
        similarity as sim,
    )

    vecs = [(i, [float(i), 1.0, float(i % 2), 2.0]) for i in range(4)]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    coarse = sim.train_centroids(e, n_centroids=2, n_iters=1)
    trainers = {
        "raw": lambda: sim.train_pq_codebooks(
            e, m=2, n_sub_centroids=2, n_iters=1
        ),
        "residual": lambda: sim.train_pq_codebooks_residual(
            e, coarse, m=2, n_sub_centroids=2, n_iters=1
        ),
    }
    for name, train in trainers.items():
        monkeypatch.setattr(sim, "TRAIN_KD_CEILING", 7)  # 2*2*2 = 8 > 7
        with pytest.raises(ValueError, match="driver ceiling"):
            train()
        monkeypatch.setattr(sim, "TRAIN_KD_CEILING", 8)  # at the ceiling
        assert len(train()) == 4, name  # m·k* = 2·2 centroids


_PQ_OPS = {
    "pq_topk": lambda sim, e, co, cb: sim.pq_topk(e, e, m=4),
    "ivfpq_topk": lambda sim, e, co, cb: sim.ivfpq_topk(e, e, m=4),
    "ivfpq_topk_trained": lambda sim, e, co, cb: sim.ivfpq_topk_trained(
        e, e, co, cb, m=4
    ),
    "ivfpq_topk_residual": lambda sim, e, co, cb: sim.ivfpq_topk_residual(
        e, e, co, cb, m=4
    ),
    "train_pq_codebooks": lambda sim, e, co, cb: sim.train_pq_codebooks(
        e, m=4
    ),
    "train_pq_codebooks_residual": (
        lambda sim, e, co, cb: sim.train_pq_codebooks_residual(e, co, m=4)
    ),
}


@pytest.mark.parametrize("op", sorted(_PQ_OPS))
def test_pq_family_refuses_indivisible_dim(spark, op):
    """Every PQ operator and trainer splits d into m equal subspaces, so
    a 6-d corpus with m=4 is refused by name before any plan is built."""
    from sentinel_landsat_database_creation_spark.operators import (
        similarity as sim,
    )

    vecs = [(i, [float(i + j) for j in range(6)]) for i in range(4)]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    coarse = [(0, [0] * 6, 1)]
    books = [(s, 0, [0]) for s in range(4)]
    with pytest.raises(ValueError, match="dim 6 not divisible by m=4"):
        _PQ_OPS[op](sim, e, coarse, books)


def test_pq_topk_empty_corpus_is_named(spark):
    """An empty corpus has no dimension to split into subspaces: the
    probe names the empty input instead of failing on a missing row."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        pq_topk,
    )

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="embeddings is empty"):
        pq_topk(e, e)


def test_train_centroids_distributed_matches_driver_path(spark):
    """The distributed state recurrence is value-identical to the
    collected-literal path on every fixture shape the driver path is
    pinned on: the separable two-cluster fixture, the empty-cell
    fixture (cell 1 starves, carries its seed sum with n=0), and a
    multi-iteration run where iteration 2's input is iteration 1's
    reassignment."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        train_centroids,
        train_centroids_distributed,
    )

    fixtures = [
        # separable clusters (the hand-computed fixture)
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.8, 0.0, 0.1, 0.0]),
            (4, [0.7, 0.1, 0.1, 0.0]),
            (5, [0.1, 0.9, 0.0, 0.0]),
        ],
        # everything hugs +x: cell 1 goes empty and must carry
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [1.0, 0.05]),
            (3, [0.95, 0.0]),
        ],
    ]
    for vecs in fixtures:
        e = spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>"
        )
        for iters in (1, 2):
            want = train_centroids(e, n_centroids=2, n_iters=iters)
            got = sorted(
                (int(r["cell"]), [int(x) for x in r["s"]], int(r["n"]))
                for r in train_centroids_distributed(
                    e, n_centroids=2, n_iters=iters
                ).collect()
            )
            assert got == want, (vecs, iters)


def test_ivf_trained_accepts_centroid_dataframe(spark):
    """ivf_topk_trained over train_centroids_distributed's state
    DataFrame returns exactly the rows the collected-list form returns
    (the past-the-ceiling wiring end to end)."""
    from pyspark.sql import functions as F
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivf_topk_trained,
        train_centroids,
        train_centroids_distributed,
    )

    rows = []
    for g in range(2):
        base = [0.0] * 8
        base[g * 4] = 1.0
        for j in range(8):
            v = list(base)
            v[g * 4 + 1] = 0.01 * j
            rows.append((g * 8 + j, v))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id").isin(0, 8))
    as_list = train_centroids(e, n_centroids=2, n_iters=2)
    as_df = train_centroids_distributed(e, n_centroids=2, n_iters=2)
    key = lambda r: (r["qid"], r["rnk"])  # noqa: E731
    want = {key(r): (r["cid"], r["cos"]) for r in
            ivf_topk_trained(e, q, as_list, k=3).collect()}
    got = {key(r): (r["cid"], r["cos"]) for r in
           ivf_topk_trained(e, q, as_df, k=3).collect()}
    assert got == want and len(want) == 6


def test_train_centroids_empty_cell_carries(spark):
    """A centroid that attracts nothing keeps its previous sum and
    reports n=0 (the oracle's LEFT JOIN does the same)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        QUANT_SCALE,
        train_centroids,
    )

    # every vector (including seed 1 itself) hugs +x, so cell 0 absorbs
    # the corpus and cell 1 can end up empty after an iteration
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [1.0, 0.05]),
        (3, [0.95, 0.0]),
    ]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = train_centroids(e, n_centroids=2, n_iters=2)
    by_cell = {c: (s, n) for c, s, n in cents}
    assert set(by_cell) == {0, 1}
    # every vector is assigned somewhere each iteration
    assert sum(n for _s, n in by_cell.values()) in (3, 4)
    # any empty cell must carry a non-degenerate previous sum
    for c, (s, n) in by_cell.items():
        if n == 0:
            assert any(x != 0 for x in s)


def test_ivf_trained_matches_bruteforce_on_separable_data(spark):
    """On clearly clustered data, trained-centroid IVF at nprobe=1
    recovers the exact top-k (all true neighbors share the query's
    cell)."""
    from pyspark.sql import functions as F
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_trained,
        train_centroids,
    )

    rows = []
    for g in range(2):
        base = [0.0] * 8
        base[g * 4] = 1.0
        for j in range(8):
            v = list(base)
            v[g * 4 + 1] = 0.01 * j
            rows.append((g * 8 + j, v))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id").isin(0, 8))
    cents = train_centroids(e, n_centroids=2, n_iters=2)
    bf = {(r["qid"], r["cid"]) for r in brute_force_topk(e, q, k=3).collect()}
    ivf = {
        (r["qid"], r["cid"])
        for r in ivf_topk_trained(e, q, cents, k=3).collect()
    }
    assert ivf == bf


def test_lsh_index_compact_preserves_probe_and_bounds_files(spark, tmp_path):
    """Index maintenance round trip (operators/dedup.py:
    lsh_index_write -> 3x lsh_index_append -> lsh_index_compact):
    compaction must leave probe results BIT-identical (same buckets,
    same rows) while collapsing the per-append file sets into one
    aligned layout."""
    import glob
    import os

    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        lsh_index_append,
        lsh_index_compact,
        lsh_index_write,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    path = os.path.join(str(tmp_path), "idx")
    lsh_index_write(docs.filter(F.col("doc_id") % 4 == 0), path)
    for gen in (1, 2, 3):
        lsh_index_append(docs.filter(F.col("doc_id") % 4 == gen), path)

    def snapshot():
        rows = spark.read.parquet(path).collect()
        return sorted((r["doc_id"], r["bucket"]) for r in rows)

    def n_files():
        return len(glob.glob(os.path.join(path, "*.parquet")))

    before_rows, before_files = snapshot(), n_files()
    assert before_files >= 4, "each append lands its own file set"
    lsh_index_compact(spark, path)
    after_rows, after_files = snapshot(), n_files()
    assert after_rows == before_rows, "compaction must not change content"
    assert after_files < before_files, "compaction must shrink file count"
    assert not os.path.exists(path.rstrip("/") + "__compacting")
    assert not os.path.exists(path.rstrip("/") + "__old")


def test_lsh_index_compact_crash_recovery(spark, tmp_path):
    """Crash-safety of the compact swap (round-5 ADVICE): (a) a run
    that died BETWEEN the two swap moves leaves the live index parked
    at __old with the canonical path absent — the next compact must
    restore and proceed; (b) stale __old/__compacting leftovers from a
    crash BEFORE the swap must be pre-removed, not become nesting
    targets for shutil.move."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        lsh_index_compact,
        lsh_index_write,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 5 + j) % 19}" for j in range(10)))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    path = os.path.join(str(tmp_path), "idx")
    lsh_index_write(docs, path)
    want = sorted(
        (r["doc_id"], r["bucket"]) for r in spark.read.parquet(path).collect()
    )

    # (a) simulate death between move(path, old) and move(tmp, path)
    old = path.rstrip("/") + "__old"
    shutil.move(path, old)
    assert not os.path.exists(path)
    lsh_index_compact(spark, path)
    got = sorted(
        (r["doc_id"], r["bucket"]) for r in spark.read.parquet(path).collect()
    )
    assert got == want, "recovery from __old must lose no rows"
    assert not os.path.exists(old)

    # (b) stale leftovers alongside a LIVE index: pre-removed, and the
    # swap must rename — never nest the index inside the stale target
    os.makedirs(old, exist_ok=True)
    with open(os.path.join(old, "stale"), "w") as f:
        f.write("junk")
    tmp = path.rstrip("/") + "__compacting"
    os.makedirs(tmp, exist_ok=True)
    lsh_index_compact(spark, path)
    got = sorted(
        (r["doc_id"], r["bucket"]) for r in spark.read.parquet(path).collect()
    )
    assert got == want
    assert not os.path.exists(old) and not os.path.exists(tmp)
    assert not os.path.exists(os.path.join(path, os.path.basename(old)))


def test_scrub_pii_hand_computed(spark):
    """Real PII strings through scrub_pii/pii_counts: multiple matches
    per kind, adjacent kinds, and clean text — expected outputs written
    by hand, not by the implementation."""
    from sentinel_landsat_database_creation_spark.operators.textops import (
        pii_counts,
        scrub_pii,
    )

    rows = [
        ("a@b.io or c.d+x@e-f.org", "<EMAIL> or <EMAIL>", 2, 0, 0),
        ("call 25-989-741-2988 now", "call <PHONE> now", 0, 1, 0),
        ("host 10.0.255.1 up", "host <IP> up", 0, 0, 1),
        (
            "x@y.com 12-345-678-9012 1.2.3.4",
            "<EMAIL> <PHONE> <IP>",
            1,
            1,
            1,
        ),
        # email domain containing digits+dots must NOT leave an IP-ish
        # remnant: email wins by pattern order
        ("u@1.2.3.4a.net ok", "<EMAIL> ok", 1, 0, 0),
        ("no pii here 123", "no pii here 123", 0, 0, 0),
        # word-boundary guards: digit runs glued to letters don't match
        ("id987-654-321-0000x", "id987-654-321-0000x", 0, 0, 0),
        # r8 widened phone alternatives (r7 VERDICT item 5)
        ("(123) 456-7890 ok", "<PHONE> ok", 0, 1, 0),
        ("(123)456.7890", "<PHONE>", 0, 1, 0),
        ("123-456-7890 and 987.654.3210", "<PHONE> and <PHONE>", 0, 2, 0),
        ("id 1234567890 end", "id <PHONE> end", 0, 1, 0),
        # near-misses: 9 and 11 digit runs, glued 10-digit
        ("123456789 and 12345678901", "123456789 and 12345678901", 0, 0, 0),
        ("x1234567890", "x1234567890", 0, 0, 0),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], ["t"]
    )
    c = pii_counts(F.col("t"))
    out = df.select(
        "t",
        scrub_pii(F.col("t")).alias("s"),
        c["email"].alias("ne"),
        c["phone"].alias("np"),
        c["ip"].alias("ni"),
    ).collect()
    by_text = {r["t"]: r for r in out}
    for t, want_s, ne, np_, ni in rows:
        r = by_text[t]
        assert r["s"] == want_s, (t, r["s"])
        assert (r["ne"], r["np"], r["ni"]) == (ne, np_, ni), (t, r)


def test_pii_sql_mirrors_patterns():
    """The DuckDB oracle inlines the regex literals; this pins the
    mirror so PII_PATTERNS and SQL_PII_SCRUB cannot drift apart (each
    pattern and its replacement token must appear verbatim in the
    SQL)."""
    from sentinel_landsat_database_creation_spark.operators.textops import (
        PII_PATTERNS,
    )
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        SQL_PII_SCRUB,
    )

    for kind, pat, repl in PII_PATTERNS:
        # counts CTE + scrub CTE: the pattern appears at least twice
        assert SQL_PII_SCRUB.count(pat) >= 2, (kind, pat)
        assert repl in SQL_PII_SCRUB, (kind, repl)


def _winnow_ref(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Independent reference: robust winnowing per Schleimer et al.
    §4 — min hash per window, rightmost on ties — written directly
    from the paper, no packed-key trick."""
    import hashlib

    toks = text.split(" ")
    grams = [
        "_".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 0))
    ]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
    ]
    if not hs:
        return set()
    out = set()
    n_win = max(len(hs) - w + 1, 1)
    for s in range(n_win):
        win = hs[s : s + w]
        m = min(win)
        # rightmost index achieving the min
        p = s + max(i for i, h in enumerate(win) if h == m)
        out.add((p + 1, hs[p]))  # 1-based position
    return out


def test_winnow_packing_bound_guard(spark):
    """_winnow_select's packed-key bound is ENFORCED (r7 VERDICT item
    2): a doc at exactly 2^20 k-grams must raise (previously it
    silently wrapped the position term into the hash bits), and one
    k-gram under the bound must still select fingerprints. k=1 keeps
    the fixture a plain 2^20-token string; w == n collapses the
    selection to ONE window (the interpreted window transform costs
    n_win * w element scans, so only w near n keeps the boundary doc
    affordable — measured ~5 s vs minutes at mid-range w)."""
    import pytest

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        _WINNOW_POS_OFF,
        _winnow_select,
    )

    n = _WINNOW_POS_OFF  # 2^20 k-grams at k=1 == 2^20 tokens
    over = spark.createDataFrame(
        [(1, " ".join(["a"] * n))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="packed-key bound exceeded"):
        _winnow_select(over, k=1, w=n).collect()

    under = spark.createDataFrame(
        [(2, " ".join(["a"] * (n - 1)))], "doc_id long, text string"
    )
    row = _winnow_select(under, k=1, w=n).select(
        "n_kgrams", F.size("fps").alias("n_fp")
    ).first()
    assert row["n_kgrams"] == n - 1 and row["n_fp"] >= 1


def test_winnow_fingerprints_match_paper_reference(spark):
    """The packed-key HOF selection must equal a from-the-paper
    reference implementation on texts engineered for ties and
    boundary cases (repeated k-grams force equal hashes inside one
    window, exercising the rightmost rule). Each selected packed key
    h * 2^21 + (2^20 - p) unpacks to (p, h) = (2^20 - key % 2^21,
    key >> 21)."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        winnow_selected_materialized,
    )

    texts = [
        "a b c d e f g h i j k l",          # plain
        "x y x y x y x y x y x y",          # every window full of ties
        "a b c d a b c d a b c d a b",      # period-4 repeats, k=4
        "one two three four",               # exactly k tokens -> 1 kgram
        "one two three",                    # < k tokens -> no kgrams
        "p q r s t",                        # n_pos=2 < w -> one window
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], (1 << 20) - key % (1 << 21), key >> 21)
        for r in winnow_selected_materialized(df, k=4, w=5).collect()
        for key in r["fps"] or ()
    }
    want = {
        (i, p, h)
        for i, t in enumerate(texts)
        for (p, h) in _winnow_ref(t, 4, 5)
    }
    assert got == want


def test_winnow_summary_shared_counts(spark):
    """Two docs sharing an 8-token run must share a fingerprint
    (the paper's coverage guarantee: any match of length w + k - 1
    yields at least one common selected k-gram); a disjoint doc must
    not, and a sub-k doc surfaces with zeros."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        winnow_summary,
    )

    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks
    rows = [
        (0, "u v w " + shared_run + " m n o"),
        (1, shared_run + " p q r s t"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in winnow_summary(df, k=4, w=5).collect()}
    assert out[0]["n_shared_fp"] > 0
    assert out[1]["n_shared_fp"] > 0
    assert out[2]["n_shared_fp"] == 0
    assert out[3]["n_kgrams"] == 0
    assert out[3]["n_fp"] == 0 and out[3]["sum_h"] == 0
    # coverage guarantee across all docs: density ~2/(w+1), never 0
    for i in (0, 1, 2):
        assert 0 < out[i]["n_fp"] <= out[i]["n_kgrams"]


def test_scrub_pii_fuzz_matches_python_re(spark):
    """Seeded fuzz: random token soup with PII fragments injected at
    random positions, Spark's scrub/counts vs a Python ``re``
    reference — a THIRD regex engine (the oracle already pins RE2).
    The patterns live in the Java/RE2/Python common subset; this
    sweep is what catches an accidental drift out of it (e.g. a
    possessive quantifier or lookaround creeping in)."""
    import random
    import re

    from sentinel_landsat_database_creation_spark.operators.textops import (
        PII_PATTERNS,
        pii_counts,
        scrub_pii,
    )

    rng = random.Random(20260814)
    words = ["alpha", "beta", "x9", "q", "data", "12", "a-b", "v.w"]
    pii_makers = [
        lambda r: f"user{r.randrange(99)}@ex-{r.randrange(9)}.org",
        lambda r: f"{r.randrange(10,99)}-{r.randrange(100,999)}"
        f"-{r.randrange(100,999)}-{r.randrange(1000,9999)}",
        lambda r: f"{r.randrange(256)}.{r.randrange(256)}"
        f".{r.randrange(256)}.{r.randrange(256)}",
        # r8 widened phone alternatives
        lambda r: f"({r.randrange(100,999)}) {r.randrange(100,999)}"
        f"-{r.randrange(1000,9999)}",
        lambda r: f"({r.randrange(100,999)}){r.randrange(100,999)}"
        f".{r.randrange(1000,9999)}",
        lambda r: f"{r.randrange(100,999)}.{r.randrange(100,999)}"
        f".{r.randrange(1000,9999)}",
        lambda r: f"{r.randrange(1,9)}{r.randrange(10**8, 10**9)}",
        # near-misses that must NOT match
        lambda r: f"user{r.randrange(99)}atex.org",
        lambda r: f"{r.randrange(10,99)}-{r.randrange(100,999)}-x",
        lambda r: f"{r.randrange(256)}.{r.randrange(256)}.{r.randrange(256)}",
        lambda r: f"{r.randrange(10**8, 10**9)}",
        lambda r: f"({r.randrange(10,99)}) {r.randrange(100,999)}"
        f"-{r.randrange(1000,9999)}",
    ]
    rows = []
    for i in range(120):
        toks = rng.choices(words, k=rng.randrange(3, 20))
        for _ in range(rng.randrange(0, 4)):
            toks.insert(
                rng.randrange(len(toks) + 1), rng.choice(pii_makers)(rng)
            )
        rows.append((i, " ".join(toks)))

    def ref(text):
        counts = [len(re.findall(p, text)) for _, p, _ in PII_PATTERNS]
        s = text
        for _, p, repl in PII_PATTERNS:
            s = re.sub(p, repl, s)
        return (*counts, s)

    df = spark.createDataFrame(rows, ["i", "t"])
    c = pii_counts(F.col("t"))
    got = {
        r["i"]: (r["ne"], r["np"], r["ni"], r["s"])
        for r in df.select(
            "i",
            c["email"].alias("ne"),
            c["phone"].alias("np"),
            c["ip"].alias("ni"),
            scrub_pii(F.col("t")).alias("s"),
        ).collect()
    }
    for i, text in rows:
        assert got[i] == ref(text), (i, text, got[i], ref(text))


def test_winnow_coverage_guarantee_property(spark):
    """The paper's central guarantee (Schleimer et al. §3, Theorem):
    if two documents share a substring of at least w + k - 1 tokens,
    robust winnowing selects at least one fingerprint inside the
    shared run in BOTH documents — regardless of surrounding context.
    Randomized check: plant a shared run of exactly w + k - 1 random
    tokens inside two otherwise-random docs at random offsets; the
    pair must always report n_shared_fp >= 1 for both members."""
    import random

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        winnow_summary,
    )

    k, w = 4, 5
    rng = random.Random(424242)

    def tokens(n, tag):
        # per-doc unique vocabulary so only the planted run is shared
        return [f"{tag}{rng.randrange(10**6)}" for _ in range(n)]

    rows = []
    for pair in range(30):
        run = [f"run{pair}_{j}" for j in range(w + k - 1)]
        for side in (0, 1):
            ctx = tokens(rng.randrange(0, 30), f"d{pair}_{side}_")
            pos = rng.randrange(len(ctx) + 1)
            doc = ctx[:pos] + run + ctx[pos:]
            rows.append((pair * 2 + side, " ".join(doc)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in winnow_summary(df, k=k, w=w).collect()}
    misses = [
        i for i, _ in rows if out[i]["n_shared_fp"] < 1
    ]
    assert not misses, f"coverage guarantee violated for docs {misses}"


def test_semantic_dedup_keep_rule_and_cell_scope(spark):
    """SemDeDup semantics on hand-built vectors: (a) within a cell, a
    vector with a smaller-id near-duplicate is dropped and the smallest
    id survives; (b) near-orthogonal same-cell vectors both survive;
    (c) the search is CELL-scoped — similarity across cells never drops
    (the paper's pruning, and the one behavior the all-pairs baseline
    embedding_cosine_pairs cannot exhibit)."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        semantic_dedup,
    )

    # Two orthogonal centroids; vectors cluster by first/second axis.
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cent_id long, embedding array<float>",
    )
    vecs = spark.createDataFrame(
        [
            # cell 0: 10 ~ 11 (cos ~0.999) -> 11 dropped; 12 dissimilar
            # enough (cos ~0.71 vs 10) to survive at t=0.9
            (10, [1.0, 0.01, 0.0]),
            (11, [1.0, 0.02, 0.0]),
            (12, [1.0, 0.0, 1.0]),
            # cell 1: 20 and 21 are EXACT duplicates of each other's
            # direction but 21 sits in cell 1's list with 20 -> 21 drops
            (20, [0.1, 1.0, 0.0]),
            (21, [0.1, 1.0, 0.0]),
            # cross-cell: 30 duplicates 10's direction but lands in cell
            # 1 (y-dominant tilt) -> must survive despite cos≈1 with 10
            (30, [0.6, 0.8, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup(vecs, cent, threshold=0.9).collect()
    }
    assert out[10] == (0, 1)
    assert out[11] == (0, 0)
    assert out[12] == (0, 1)
    assert out[20] == (1, 1)
    assert out[21] == (1, 0)
    assert out[30] == (1, 1)

    # expanding-join discipline: no cartesian / nested-loop pair stage
    plan = semantic_dedup(vecs, cent, threshold=0.9)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_containment_pairs_flags_subset_duplicate(spark):
    """The truncation-dup class: doc 2 is a strict token-prefix of doc
    1, so its shingle set is fully contained (cont_max = 1.0) while
    Jaccard < 1; an unrelated doc 3 must not pair. Also pins the
    orientation-free score: containment is computed on the smaller
    side whichever join side it lands on."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs,
    )

    # The prefix length is chosen so the pair IS a banded-LSH candidate
    # for these exact strings (md5 is deterministic; a 6-token prefix
    # of this base misses all 4 bands — the operator's documented
    # recall caveat, exercised here on purpose at length 7).
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),                                   # 9 2-shingles
            (2, " ".join(base.split()[:7])),             # prefix: 6
            (3, "one two three four five six seven"),    # unrelated
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert (r["n_a"], r["n_b"], r["n_inter"]) == (9, 6, 6)
    assert r["cont_max"] == 1.0
    # and the symmetric score this class defeats: jaccard 6/9 < 0.9
    assert r["n_inter"] / (r["n_a"] + r["n_b"] - r["n_inter"]) < 0.9


def test_containment_small_side_probe_beats_lsh_recall(spark):
    """The r8 extreme-size-ratio path (r7 VERDICT item 3): a ~40-token
    doc embedded verbatim in a ~600-token page has Jaccard ~0.07, so
    the banded-LSH candidate stage misses it (asserted — this exact
    fixture is deterministic), while the small-side exact probe must
    surface it with full recall (cont_max = 1.0). Also pins that the
    probe only ADDS pairs: the LSH-only result is a subset of the
    probed result."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs,
    )

    words = [f"w{i}x{(i * 7) % 13}" for i in range(600)]
    big = " ".join(words)
    small = " ".join(words[100:140])
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, "q r s t u v")],
        "doc_id long, text string",
    )
    lsh_only = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert (1, 2) not in lsh_only  # the documented LSH recall hole
    probed = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(
            docs, threshold=0.9, probe_small_max=50
        ).collect()
    }
    assert (1, 2) in probed
    r = probed[(1, 2)]
    assert r["cont_max"] == 1.0 and r["n_b"] == 39
    assert lsh_only <= set(probed)


def test_containment_probe_cascade_boundary(spark):
    """The PPJoin cascade's tight pigeonhole edge (r8): doc A has 10
    shingles, B contains exactly 9 of them (cont = 0.9, AT the 0.9
    threshold), and the one shingle B misses is deliberately A's
    RAREST (df=1, first in the cascade's rarity order) — so of A's
    2*miss+1 = 3 probed shingles, B matches exactly miss+1 = 2, the
    minimum the count filter may demand. Any off-by-one in the probe
    width or the match requirement drops this pair; the final float
    threshold keeps it (9/10 >= 0.9 in IEEE doubles)."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs,
    )

    # A = a0..a10 -> shingles a0_a1..a9_a10 (10). B repeats A's
    # a1..a10 run (so a1_a2..a9_a10 are shared, df >= 2) inside
    # filler; a0_a1 appears ONLY in A -> df=1 -> A's rarest.
    a_tokens = [f"a{i}" for i in range(11)]
    b_text = " ".join(["f1 f2 f3"] + a_tokens[1:] + ["f4 f5 f6"])
    docs = spark.createDataFrame(
        [(1, " ".join(a_tokens)), (2, b_text)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["cont_max"])
        for r in containment_pairs(
            docs, threshold=0.9, probe_small_max=45
        ).collect()
    }
    assert got[(1, 2)] == (9, 10, 0.9)


def test_span_family_null_text_matches_oracle(spark):
    """The r9 NULL-text fix, cross-engine: a corpus containing a NULL
    text row (the PERMISSIVE JSONL ingest shape) must produce
    IDENTICAL scrub_spans / span_dedup output on Spark and on the
    committed DuckDB oracles — NULL coalesces to '' (one empty token,
    zero windows) on both engines, closing the r7 ADVICE divergence
    where Spark emitted NULL kept_md5/n_tokens."""
    import duckdb

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        scrub_spans,
        span_dedup,
    )
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        SQL_SPAN_DEDUP,
    )

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "z a b c d e f g h q"),  # shares the 8-token run with 1
        (3, None),  # the NULL-edge row
        (4, ""),  # and its coalesced twin
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    # the r13 merged oracle carries BOTH halves' columns per doc row
    merged = span_dedup(docs, span_tokens=8).join(
        scrub_spans(docs, span_tokens=8), "doc_id"
    )
    got = [tuple(r) for r in merged.orderBy("doc_id").collect()]
    want = con.execute(SQL_SPAN_DEDUP).fetchall()
    assert got == want
    # the NULL row is present, defined, and equals the ''-text row
    scrubbed = {
        r["doc_id"]: (r["n_tokens"], r["kept_md5"])
        for r in scrub_spans(docs, span_tokens=8).collect()
    }
    assert scrubbed[3] == scrubbed[4]
    assert scrubbed[3][0] == 1 and scrubbed[3][1] is not None


def test_semantic_dedup_zero_norm_excluded_matches_oracle(spark):
    """The r9 zero-norm fix, cross-engine: a zero embedding is
    deterministically EXCLUDED (never assigned, never paired) on both
    engines instead of riding a NULL-vs-NaN cosine divergence. The
    oracle is the committed generator instantiated at the fixture's
    K, run on the same rows in DuckDB."""
    import duckdb

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        semantic_dedup,
    )
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        _sql_semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),  # near 0 -> dropped
        (3, [0.0, 0.0, 0.0]),  # zero norm -> excluded entirely
        (4, [0.0, 0.95, 0.05]),  # near 1 -> dropped
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"), "embedding"
    )
    got = [
        tuple(r)
        for r in semantic_dedup(vecs, cent, threshold=0.9)
        .orderBy("vec_id")
        .collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = con.execute(_sql_semantic_dedup(n_centroids=2, threshold=0.9)).fetchall()
    assert got == want
    ids = [r[0] for r in got]
    assert 3 not in ids and sorted(ids) == [0, 1, 2, 4]
    keep = {r[0]: r[2] for r in got}
    assert keep == {0: 1, 1: 1, 2: 0, 4: 0}


def test_containment_probe_df_cap_is_lossless(spark):
    """probe_df_max worst case (r8 VERDICT item 4): small docs whose
    EVERY shingle is boilerplate-hot (df far above the cap). The cap
    may shrink the probe width only down to the mandatory miss+1
    rarest shingles — never below — so the qualifying pair must
    survive, and the full result set must equal the uncapped run
    row-for-row."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs,
    )

    a_tokens = [f"a{i}" for i in range(11)]  # 10 bigram shingles
    rows = [(1, " ".join(a_tokens))]
    # B fully contains A (cont 1.0); filler makes B large
    rows.append((2, " ".join(["f1 f2 f3"] + a_tokens + ["f4 f5 f6"])))
    # 30 boilerplate carriers: each repeats ALL of A's shingles, so
    # every probe-eligible shingle of A has df >= 32 >> cap
    for d in range(3, 33):
        rows.append((d, " ".join(a_tokens + [f"u{d}_1 u{d}_2"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        return {
            (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["n_b"])
            for r in containment_pairs(
                docs, threshold=0.9, probe_small_max=50, **kw
            ).collect()
        }

    uncapped = run()
    capped = run(probe_df_max=5)
    assert capped == uncapped
    assert (1, 2) in capped and capped[(1, 2)][0] == 10


def test_pq_topk_matches_python_reference(spark):
    """pq_topk's whole decision surface — quantize grid, per-subspace
    argmin codes with the (dist, cent_id) tie-break, m-term ADC sums,
    (adc, cid) ranking — against a from-the-paper pure-Python ADC
    reference (Jégou et al. TPAMI 2011) in exact integer arithmetic."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        pq_topk,
    )

    m, dsub, ksub, k = 4, 16, 16, 3
    e = table(spark, SF, "embeddings").filter(F.col("vec_id") < 400)
    q = e.filter(F.col("vec_id") < 5)

    def grid(x: float) -> int:  # half-away-from-zero, like F.round
        import math

        y = float(x) * 65536.0
        return int(math.floor(abs(y) + 0.5)) * (1 if y >= 0 else -1)

    vecs = {
        r["vec_id"]: [grid(x) for x in r["embedding"]]
        for r in e.select("vec_id", "embedding").collect()
    }

    def sub_d(a: int, c: int, s: int) -> int:
        va, vc = vecs[a], vecs[c]
        return sum(
            (va[s * dsub + i] - vc[s * dsub + i]) ** 2 for i in range(dsub)
        )

    cents = [cid for cid in sorted(vecs) if cid < ksub]
    codes = {
        (vid, s): min(cents, key=lambda c: (sub_d(vid, c, s), c))
        for vid in vecs
        for s in range(m)
    }
    expected = {}
    for qid in range(5):
        adc = {
            cid: sum(sub_d(qid, codes[(cid, s)], s) for s in range(m))
            for cid in vecs
            if cid != qid
        }
        top = sorted(adc, key=lambda c: (adc[c], c))[:k]
        for rnk, cid in enumerate(top, 1):
            expected[(qid, rnk)] = cid

    got = {
        (r["qid"], r["rnk"]): r["cid"]
        for r in pq_topk(e, q, k=k, m=m, n_sub_centroids=ksub).collect()
    }
    assert got == expected


def test_pq_ranking_is_two_phase(spark):
    """The r9 VERDICT flagged pq_topk's per-qid ranking window as a
    single-reducer funnel; adjudication showed Spark 4's rank-limit
    pushdown already plans it TWO-PHASE — WindowGroupLimit(Partial)
    below the qid exchange forwards only k rows per qid per map
    partition, so the reducer's per-qid input is bounded by k x
    upstream partitions, never the nq*N candidate stream. An explicit
    spark_partition_id pre-window was built, measured to add one whole
    extra exchange for the same bound, and reverted. This test pins
    the Partial limit's presence in BOTH ADC rankings (pq_topk and the
    composed ivfpq_topk) so a windowGroupLimitThreshold config change
    or an optimizer regression fails CI instead of silently restoring
    the funnel."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    for df in (
        pq_topk(e, q, k=3, m=4, n_sub_centroids=16),
        ivfpq_topk(e, q, k=3, m=4, n_sub_centroids=16, n_centroids=16),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        partials = [
            ln
            for ln in plan.splitlines()
            if "WindowGroupLimit" in ln and "Partial" in ln and "qid" in ln
        ]
        assert partials, (
            "no map-side (Partial) WindowGroupLimit over qid in the ADC "
            "ranking — the per-query top-k would funnel every candidate "
            f"score into one reducer:\n{plan[:3000]}"
        )


def test_ivfpq_all_cells_probed_equals_pq(spark):
    """Composition sanity: with nprobe = n_centroids every cell is
    probed, so IVF pruning admits the full corpus and ivfpq_topk must
    reproduce pq_topk's ranking EXACTLY (same codes, same ADC sums,
    same tie-breaks) — pinning that the composed operator differs from
    plain PQ only by the candidate cells."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    e = table(spark, SF, "embeddings").filter(F.col("vec_id") < 300)
    q = e.filter(F.col("vec_id") < 5)
    full = {
        (r["qid"], r["rnk"]): (r["cid"], round(r["cos"], 9))
        for r in pq_topk(e, q, k=3, m=4, n_sub_centroids=16).collect()
    }
    composed = {
        (r["qid"], r["rnk"]): (r["cid"], round(r["cos"], 9))
        for r in ivfpq_topk(
            e, q, k=3, m=4, n_sub_centroids=16, n_centroids=16, nprobe=16
        ).collect()
    }
    assert composed == full


def test_ivfpq_results_come_from_probed_cells(spark):
    """Structural IVF bound: every returned candidate's cell must be
    one of its query's nprobe probed cells — the pruning that makes
    per-query work O(nprobe*N/K) is real, not advisory."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        assign_cells,
        ivfpq_topk,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    centroids = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), "embedding"
    )
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(e, centroids, "vec_id").collect()
    }
    probed = {}
    for r in assign_cells(q, centroids, "vec_id", nprobe=2).collect():
        probed.setdefault(r["vec_id"], set()).add(r["cell"])
    out = ivfpq_topk(
        e, q, k=3, m=4, n_sub_centroids=16, n_centroids=16, nprobe=2
    ).collect()
    assert len(out) == 15
    for r in out:
        assert cell_of[r["cid"]] in probed[r["qid"]]


def test_ivfpq_recall_bounded_by_ivf_same_nprobe(spark):
    """Provable recall order at equal nprobe: if a brute-force top-k
    member is in the probed candidate set, exact in-cell scoring (ivf)
    necessarily ranks it into the top-k (cosine order is global), so IVF's hit
    count equals |bf top-k ∩ probed| — the maximum any scorer of the
    same candidate set can reach. IVFPQ scores the SAME candidates by
    quantized ADC, so its hits can only match or miss: recall(ivfpq)
    <= recall(ivf) at the same nprobe, with equality when the code
    budget suffices. A violation means the composition scored
    candidates outside its probed cells (pruning broken) or the rerank
    reordered the ADC decision."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        topk_recall,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(e, q, k=3)
    rec = {
        r["method"]: (r["n_hits"], r["recall"])
        for r in topk_recall(
            bf,
            {
                "ivf2": ivf_topk(e, q, k=3, n_centroids=16, nprobe=2),
                "ivfpq2": ivfpq_topk(
                    e, q, k=3, m=4, n_sub_centroids=16, n_centroids=16,
                    nprobe=2,
                ),
            },
        ).collect()
    }
    assert rec["ivfpq2"][0] <= rec["ivf2"][0]
    assert rec["ivfpq2"][1] > 0  # the composed path finds real hits


def test_train_pq_codebooks_matches_python_reference(spark):
    """The per-subspace Lloyd recurrence — exact squared-L2 assignment
    on the quantize grid with (dist, cent_id) tie-break, per-(sub,
    cent, pos) BIGINT sums, mean rounded half-away-from-zero back onto
    the grid, empty cells carrying their previous centroid — against a
    from-scratch pure-Python reference (same discipline as
    test_pq_topk_matches_python_reference)."""
    import math

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        train_pq_codebooks,
    )

    m, dsub, ksub, iters = 4, 16, 8, 2
    e = table(spark, SF, "embeddings").filter(F.col("vec_id") < 200)

    def grid(x: float) -> int:  # half-away-from-zero, like F.round
        y = float(x) * 65536.0
        return int(math.floor(abs(y) + 0.5)) * (1 if y >= 0 else -1)

    vecs = {
        r["vec_id"]: [grid(x) for x in r["embedding"]]
        for r in e.select("vec_id", "embedding").collect()
    }
    subs = {
        (vid, s): v[s * dsub : (s + 1) * dsub]
        for vid, v in vecs.items()
        for s in range(m)
    }
    cb = {(s, c): list(subs[(c, s)]) for s in range(m) for c in range(ksub)}
    for _ in range(iters):
        members: dict[tuple[int, int], list[list[int]]] = {}
        for (vid, s), sq in subs.items():
            best = min(
                range(ksub),
                key=lambda c: (
                    sum((a - b) ** 2 for a, b in zip(sq, cb[(s, c)])),
                    c,
                ),
            )
            members.setdefault((s, best), []).append(sq)
        new = {}
        for key, old in cb.items():
            got = members.get(key)
            if not got:
                new[key] = old  # empty cell keeps previous centroid
                continue
            n = len(got)
            new[key] = [
                int(math.floor(abs(q) + 0.5)) * (1 if q >= 0 else -1)
                for q in (sum(col) / n for col in zip(*got))
            ]
        cb = new

    trained = train_pq_codebooks(e, m=m, n_sub_centroids=ksub, n_iters=iters)
    got = {(s, c): list(v) for s, c, v in trained}
    assert got == cb


def test_train_pq_codebooks_zero_iters_is_standin(spark):
    """n_iters=0 must return exactly the first-k* subvectors — the
    deterministic stand-in pq_topk uses — so the trained path is a
    strict generalization, not a different quantizer family."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        pq_subvectors,
        train_pq_codebooks,
    )

    e = table(spark, SF, "embeddings")
    cb = train_pq_codebooks(e, m=4, n_sub_centroids=16, n_iters=0)
    want = {
        (int(r["sub"]), int(r["vid"])): [int(x) for x in r["sq"]]
        for r in pq_subvectors(e, 4, 16, out_id="vid")
        .filter(F.col("vid") < 16)
        .collect()
    }
    assert {(s, c): list(v) for s, c, v in cb} == want


def test_train_pq_codebooks_empty_cell_carries(spark):
    """A sub-centroid that loses every member keeps its previous
    centroid (the coarse trainer's LEFT-join rule): vec 1 duplicates
    vec 0, so BOTH initial centroids are identical, every vector ties
    at equal distance to both, and the (dist, cent_id) tie-break sends
    everything to cent 0 — cent 1 is empty in iteration 1 and must
    still emit its initial subvectors (one iteration only: a carried
    duplicate centroid legitimately re-attracts members in iteration 2
    once cent 0 has moved to the global mean — verified by hand and by
    the Python-reference test above, which models the same rule)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        train_pq_codebooks,
    )

    base = [float(i % 7) / 8.0 for i in range(8)]
    rows = [
        (0, base),
        (1, list(base)),  # exact duplicate of vec 0
        (2, [x + 0.25 for x in base]),
        (3, [x - 0.125 for x in base]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = train_pq_codebooks(e, m=2, n_sub_centroids=2, n_iters=1)
    got = {(s, c): list(v) for s, c, v in cb}
    init = train_pq_codebooks(e, m=2, n_sub_centroids=2, n_iters=0)
    init_map = {(s, c): list(v) for s, c, v in init}
    for s in range(2):
        assert got[(s, 1)] == init_map[(s, 1)], "empty cell must carry"
        # ...and cent 0 must have MOVED (to the 4-member mean), so the
        # carry assertion is discriminating, not trivially equal
        assert got[(s, 0)] != init_map[(s, 0)]


def test_trainer_memo_hit_launches_no_spark_job(spark):
    """A second trainer call on the same frame with the same params is
    a pure driver-side memo hit: the dimension probe and its guards run
    inside the memoized build, so the hit launches zero Spark jobs
    (counted by job group). q_ivfpq_trained and the ann_index setup
    both call train_pq_codebooks(e, 4, 16, 2) on one corpus."""
    import uuid

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        train_centroids,
        train_pq_codebooks,
        train_pq_codebooks_residual,
    )

    sc = spark.sparkContext
    # a plan no other test trains on, so the first call is a miss
    e = table(spark, SF, "embeddings").filter(F.col("vec_id") != -7)

    def jobs(call):
        group = f"memo-hit-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "trainer memo probe")
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    coarse, n_cold = jobs(lambda: train_centroids(e, n_centroids=16, n_iters=2))
    assert n_cold > 0, "the job-group counter must see the cold build"
    for call in (
        lambda: train_centroids(e, n_centroids=16, n_iters=2),
        lambda: train_pq_codebooks(e, m=4, n_sub_centroids=16, n_iters=2),
        lambda: train_pq_codebooks_residual(
            e, coarse, m=4, n_sub_centroids=16, n_iters=1
        ),
    ):
        cold, _ = jobs(call)
        hot, n_hot = jobs(call)
        assert hot == cold
        assert n_hot == 0, f"memo hit launched {n_hot} Spark job(s)"


def test_ivfpq_trained_recall_beats_standin(spark):
    """The r10 VERDICT's acceptance test for trained quantizers:
    recall of the fully-trained IVFADC stack must be >= the first-K
    stand-in's at identical (k, m, k*, K, nprobe). Measured strictly
    greater on the fixture (0.40 vs 0.20 at sf0.01)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_trained,
        topk_recall,
        train_centroids,
        train_pq_codebooks,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(e, q, k=3)
    coarse = train_centroids(e, n_centroids=16, n_iters=2)
    cb = train_pq_codebooks(e, m=4, n_sub_centroids=16, n_iters=2)
    rec = {
        r["method"]: r["n_hits"]
        for r in topk_recall(
            bf,
            {
                "standin": ivfpq_topk(
                    e, q, k=3, m=4, n_sub_centroids=16, n_centroids=16,
                    nprobe=2,
                ),
                "trained": ivfpq_topk_trained(
                    e, q, coarse, cb, k=3, m=4, nprobe=2
                ),
            },
        ).collect()
    }
    assert rec["trained"] >= rec["standin"]
    assert rec["trained"] > 0


def test_ivfpq_trained_results_come_from_probed_cells(spark):
    """The IVF bound holds with TRAINED centroids too: every returned
    candidate's (trained) cell is among its query's nprobe probed
    cells, and the ADC ranking carries the same two-phase
    WindowGroupLimit(Partial) bound as the stand-in stack."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _assign_trained,
        _trained_centroid_frame,
        ivfpq_topk_trained,
        train_centroids,
        train_pq_codebooks,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    coarse = train_centroids(e, n_centroids=16, n_iters=2)
    cb = train_pq_codebooks(e, m=4, n_sub_centroids=16, n_iters=2)
    cdf = _trained_centroid_frame(spark, coarse)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in _assign_trained(e, cdf, "vec_id", 1).collect()
    }
    probed = {}
    for r in _assign_trained(q, cdf, "vec_id", 2).collect():
        probed.setdefault(r["vec_id"], set()).add(r["cell"])
    out_df = ivfpq_topk_trained(e, q, coarse, cb, k=3, m=4, nprobe=2)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert any(
        "WindowGroupLimit" in ln and "Partial" in ln and "qid" in ln
        for ln in plan.splitlines()
    ), "trained ADC ranking lost the two-phase rank-limit pushdown"
    out = out_df.collect()
    assert len(out) == 15
    for r in out:
        assert cell_of[r["cid"]] in probed[r["qid"]]


def _clustered_embeddings(spark, d=64, n_clusters=8, n=400, sigma=0.15):
    """Deterministic CLUSTERED embedding fixture for the residual-
    encoding claim (Jégou et al. TPAMI 2011 §IVFADC assumes residual
    energy << vector energy, which isotropic random vectors — the
    driver testdata — cannot provide). Cluster ids interleave with
    vec_id (vid % n_clusters) so the first-K seeds of BOTH trainers
    span all clusters; a sorted-by-cluster layout degenerate-seeds
    k-means and was measured to invert the comparison."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1.0, (n_clusters, d))
    rows = [
        (
            vid,
            [float(x) for x in centers[vid % n_clusters] + rng.normal(0, sigma, d)],
        )
        for vid in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_residual_beats_raw_on_clustered(spark):
    """The r11 VERDICT's acceptance test for residual encoding — the
    paper's central §IVFADC claim: at EQUAL code budget (k, m, k*, K,
    nprobe), PQ over residuals y − q1(y) strictly out-recalls PQ over
    raw vectors, because the residual cloud the sub-codebooks must
    cover is much smaller on clustered data. Measured 15 vs 11 hits of
    60 on this fixture (deterministic: exact integer arithmetic, fixed
    seed). On the ISOTROPIC driver testdata the gain inverts (0.267 vs
    0.40 at sf0.01 — no cluster structure to remove; documented in
    q_ivfpq_topk_residual's docstring, the ann_recall_trained honest-
    finding pattern), which is exactly why this claim is pinned on a
    clustered fixture."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk_residual,
        ivfpq_topk_trained,
        topk_recall,
        train_centroids,
        train_pq_codebooks,
        train_pq_codebooks_residual,
    )

    e = _clustered_embeddings(spark)
    q = e.filter(F.col("vec_id") < 20)
    bf = brute_force_topk(e, q, k=3)
    coarse = train_centroids(e, n_centroids=8, n_iters=2)
    cb_raw = train_pq_codebooks(e, m=4, n_sub_centroids=16, n_iters=2)
    cb_res = train_pq_codebooks_residual(
        e, coarse, m=4, n_sub_centroids=16, n_iters=2
    )
    rec = {
        r["method"]: r["n_hits"]
        for r in topk_recall(
            bf,
            {
                "raw": ivfpq_topk_trained(
                    e, q, coarse, cb_raw, k=3, m=4, nprobe=2
                ),
                "residual": ivfpq_topk_residual(
                    e, q, coarse, cb_res, k=3, m=4, nprobe=2
                ),
            },
        ).collect()
    }
    assert rec["residual"] > rec["raw"], rec
    assert rec["residual"] > 0


def test_ivfpq_residual_results_come_from_probed_cells(spark):
    """The IVF bound holds through residual encoding: every returned
    candidate's assigned cell is among its query's nprobe probed cells
    (the per-cell LUT join IS the prune — a row from an unprobed cell
    has no LUT row to join), and the ADC ranking keeps the two-phase
    WindowGroupLimit(Partial) bound."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _assign_trained,
        _trained_centroid_frame,
        ivfpq_topk_residual,
        train_centroids,
        train_pq_codebooks_residual,
    )

    e = table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    coarse = train_centroids(e, n_centroids=16, n_iters=2)
    cb = train_pq_codebooks_residual(
        e, coarse, m=4, n_sub_centroids=16, n_iters=2
    )
    cdf = _trained_centroid_frame(spark, coarse)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in _assign_trained(e, cdf, "vec_id", 1).collect()
    }
    probed = {}
    for r in _assign_trained(q, cdf, "vec_id", 2).collect():
        probed.setdefault(r["vec_id"], set()).add(r["cell"])
    out_df = ivfpq_topk_residual(e, q, coarse, cb, k=3, m=4, nprobe=2)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert any(
        "WindowGroupLimit" in ln and "Partial" in ln and "qid" in ln
        for ln in plan.splitlines()
    ), "residual ADC ranking lost the two-phase rank-limit pushdown"
    out = out_df.collect()
    assert len(out) == 15
    for r in out:
        assert cell_of[r["cid"]] in probed[r["qid"]]


def test_ivfpq_batch_queries_share_one_corpus_pass(spark):
    """The grouped-ANN batch API is the existing shape (r11 VERDICT
    item 8): every top-k entry point takes a query TABLE, and the
    corpus-side stages — encode scan, cell assignment, code groupBy —
    appear ONCE in the plan regardless of nq (queries join the
    broadcast LUT/cell sets; they never multiply corpus scans). Pinned
    structurally: the executed plan's embeddings-scan count and
    aggregate count are IDENTICAL for nq=5 and nq=50, and the output
    grows with nq while the plan does not. This is what makes query
    batching free at 10^9 vectors — per-batch corpus work is one
    encode, amortized over the whole batch."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk,
    )

    e = table(spark, SF, "embeddings")

    def plan_shape(nq):
        q = e.filter(F.col("vec_id") < nq)
        df = ivfpq_topk(
            e, q, k=3, m=4, n_sub_centroids=16, n_centroids=16, nprobe=2
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        return (
            plan.count("Scan parquet"),
            plan.count("HashAggregate"),
            df.count(),
        )

    scans5, aggs5, rows5 = plan_shape(5)
    scans50, aggs50, rows50 = plan_shape(50)
    assert scans5 == scans50, "corpus scan count must not grow with nq"
    assert aggs5 == aggs50, "aggregate count must not grow with nq"
    assert rows5 == 5 * 3 and rows50 == 50 * 3


def test_residual_trainer_zero_iters_is_residual_seed(spark):
    """train_pq_codebooks_residual(n_iters=0) returns exactly the
    first-k* vectors' RESIDUAL subvectors (the seed rule mirrors
    train_pq_codebooks'), and the residual arithmetic is the exact
    int64 difference qv - gv of coarse_grid_centroids' grid-rounded
    means — recomputed independently here in Python."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _assign_trained,
        _trained_centroid_frame,
        coarse_grid_centroids,
        quantize_vec,
        train_centroids,
        train_pq_codebooks_residual,
    )

    e = table(spark, SF, "embeddings")
    coarse = train_centroids(e, n_centroids=16, n_iters=2)
    cb0 = train_pq_codebooks_residual(
        e, coarse, m=4, n_sub_centroids=16, n_iters=0
    )
    grid = dict(coarse_grid_centroids(coarse))
    cdf = _trained_centroid_frame(spark, coarse)
    firstk = e.filter(F.col("vec_id") < 16)
    cells = {
        r["vec_id"]: r["cell"]
        for r in _assign_trained(firstk, cdf, "vec_id", 1).collect()
    }
    qv = {
        r["vec_id"]: [int(x) for x in r["qv"]]
        for r in firstk.select(
            "vec_id", quantize_vec(F.col("embedding")).alias("qv")
        ).collect()
    }
    dsub = 16
    expected = sorted(
        (
            s,
            vid,
            [
                qv[vid][s * dsub + i] - grid[cells[vid]][s * dsub + i]
                for i in range(dsub)
            ],
        )
        for vid in range(16)
        for s in range(4)
    )
    assert cb0 == expected


def test_lsh_index_delete_removes_ghost_pairs(spark, tmp_path):
    """The GDPR-erasure audit check: after lsh_index_delete, (1) no
    index row carries a tombstoned doc_id, (2) a probe of the deleted
    documents re-arriving as a 'new' batch matches only SURVIVING
    near-dups — never its own ghost — and (3) surviving rows are
    byte-identical to a from-scratch index over the surviving corpus
    (delete == rebuild, at one scan instead of a full re-shingle)."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        delta_neardup,
        lsh_index_delete,
        lsh_index_write,
    )

    docs = table(spark, SF, "documents").filter(F.col("doc_id") < 300)
    path = str(tmp_path / "idx")
    lsh_index_write(docs, path)
    tomb_ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 5 == 1).select("doc_id").collect()]
    tdf = spark.createDataFrame([(i,) for i in tomb_ids], "doc_id long")
    lsh_index_delete(spark, path, tdf)

    idx = spark.read.parquet(path)
    assert idx.filter(F.col("doc_id").isin(tomb_ids)).count() == 0

    # delete == rebuild over survivors
    survivors = docs.filter(~F.col("doc_id").isin(tomb_ids))
    rebuilt_path = str(tmp_path / "rebuilt")
    lsh_index_write(survivors, rebuilt_path)
    a = sorted(map(tuple, idx.collect()))
    b = sorted(map(tuple, spark.read.parquet(rebuilt_path).collect()))
    assert a == b

    # the deleted docs re-arrive as a batch: every emitted pair's
    # index (corpus) side must be a survivor (no ghost matches)
    batch = docs.filter(F.col("doc_id").isin(tomb_ids))
    pairs = delta_neardup(survivors, batch, idx).collect()
    surviving = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    for r in pairs:
        assert r["corpus_doc"] in surviving
        assert r["corpus_doc"] not in tomb_ids


def test_lsh_index_width120_lifecycle(spark, tmp_path):
    """FORMAT v3 (r12, r11 VERDICT item 4): the full persisted-index
    lifecycle at width=120 — write lands the sidecar marker, append
    extends the same family, compact and delete PRESERVE the marker
    through the crash-safe swap, delete == rebuild over survivors, and
    the width-120 delta probe finds a planted near-dup through the v3
    index. Cross-family operations refuse mechanically: a width-60
    append into a v3 directory (and the reverse) raises instead of
    landing buckets no probe can hit — the v1-vs-v2 silent-mismatch
    failure mode, now closed for v2-vs-v3."""
    import pytest

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        delta_neardup,
        lsh_index_append,
        lsh_index_compact,
        lsh_index_delete,
        lsh_index_format,
        lsh_index_write,
    )

    docs = table(spark, SF, "documents").filter(F.col("doc_id") < 240)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "idx120")
    lsh_index_write(corpus, path, width=120)
    fmt = lsh_index_format(path)
    assert fmt == {
        "format": 3, "width": 120, "n": 2, "n_hashes": 8, "bands": 4,
    }

    # cross-family operations refuse
    with pytest.raises(ValueError, match="width-120"):
        lsh_index_append(batch, path, width=60)
    p60 = str(tmp_path / "idx60")
    lsh_index_write(corpus, p60)  # default width-60, sidecar-less v2
    assert lsh_index_format(p60) == {"format": 2, "width": 60}
    with pytest.raises(ValueError, match="width-60"):
        lsh_index_append(batch, p60, width=120)

    # the v3 probe finds a PLANTED near-dup: batch doc 0's text is a
    # copy of a corpus doc's text, so the verified pair must surface
    donor = corpus.select("text").first()["text"]
    planted = spark.createDataFrame(
        [(100001, donor, "en", "t", len(donor))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    idx = spark.read.parquet(path)
    pairs = delta_neardup(corpus, planted, idx, width=120).collect()
    assert any(r["batch_doc"] == 100001 and r["jaccard"] == 1.0 for r in pairs)

    # append the real batch, compact: marker survives, rows equal a
    # from-scratch v3 index over corpus+batch
    lsh_index_append(batch, path, width=120)
    lsh_index_compact(spark, path)
    assert lsh_index_format(path)["format"] == 3
    full_path = str(tmp_path / "idx120_full")
    lsh_index_write(docs, full_path, width=120)
    a = sorted(map(tuple, spark.read.parquet(path).collect()))
    b = sorted(map(tuple, spark.read.parquet(full_path).collect()))
    assert a == b

    # an append that CREATES the directory must land the marker too
    # (self-review r12: a fresh-path width-120 append would otherwise
    # read back as v2 and refuse every later width-120 op)
    fresh = str(tmp_path / "idx120_fresh")
    lsh_index_append(batch, fresh, width=120)
    assert lsh_index_format(fresh)["format"] == 3
    lsh_index_append(corpus, fresh, width=120)  # and extends fine

    # delete == rebuild over survivors, marker still in place
    tomb_ids = [
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") % 5 == 1)
        .select("doc_id")
        .collect()
    ]
    tdf = spark.createDataFrame([(i,) for i in tomb_ids], "doc_id long")
    lsh_index_delete(spark, path, tdf)
    assert lsh_index_format(path)["format"] == 3
    survivors = docs.filter(~F.col("doc_id").isin(tomb_ids))
    rebuilt = str(tmp_path / "idx120_rebuilt")
    lsh_index_write(survivors, rebuilt, width=120)
    a = sorted(map(tuple, spark.read.parquet(path).collect()))
    b = sorted(map(tuple, spark.read.parquet(rebuilt).collect()))
    assert a == b


def test_lsh_index_delete_crash_recovery(spark, tmp_path):
    """The delete rides lsh_index_compact's sibling swap (shared
    _sibling_swap_rewrite): a run that died between the two swap moves
    leaves __old holding the live index, and the next delete must
    restore it before rewriting — same recovery contract the compact
    test pins."""
    import shutil

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        lsh_index_delete,
        lsh_index_write,
    )

    docs = table(spark, SF, "documents").filter(F.col("doc_id") < 200)
    path = str(tmp_path / "idx")
    lsh_index_write(docs, path)
    want_all = sorted(map(tuple, spark.read.parquet(path).collect()))

    # simulate the worst crash point: live set parked at __old, path gone
    shutil.move(path, path + "__old")
    tdf = spark.createDataFrame([(1,), (3,)], "doc_id long")
    lsh_index_delete(spark, path, tdf)

    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    # index rows are (doc_id, bucket) — drop the tombstoned ids
    want = [t for t in want_all if t[0] not in (1, 3)]
    assert got == want


def test_approx_stats_exact_median_is_true_median(spark):
    """The entry's exact_p50 column is the discrete median by rank
    arithmetic — cross-check against a Python-computed median of the
    same data so the rank formula (min value with cum >= ceil(n/2))
    can't drift."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        q_approx_stats_checks,
    )

    d = table(spark, SF, "documents")
    by_lang = {}
    for r in d.select("lang", "n_chars").collect():
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    rows = {r["lang"]: r for r in q_approx_stats_checks(spark, SF).collect()}
    for lang, vals in by_lang.items():
        vals.sort()
        want = vals[(len(vals) + 1) // 2 - 1]  # rank ceil(n/2), 1-based
        assert rows[lang]["exact_p50"] == want, lang
        assert rows[lang]["n_docs"] == len(vals)
        assert rows[lang]["exact_distinct"] == len(set(vals))


def test_approx_stats_bounds_hold_and_are_tightish(spark):
    """Both error-contract booleans hold on the fixture, and the HLL
    estimate is actually CLOSE (within 3 standard errors) — so the
    10-sigma gate in the entry is slack over a real margin, not a
    tautology."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        q_approx_stats_checks,
    )

    rows = q_approx_stats_checks(spark, SF).collect()
    assert rows, "entry returned no rows"
    for r in rows:
        assert r["p50_within_bound"] is True, r
        assert r["hll_within_bound"] is True, r
    d = table(spark, SF, "documents")
    est = {
        r["lang"]: (r["ahll"], r["ex"])
        for r in d.groupBy("lang")
        .agg(
            F.approx_count_distinct("n_chars", 0.02).alias("ahll"),
            F.count_distinct("n_chars").alias("ex"),
        )
        .collect()
    }
    for lang, (ahll, ex) in est.items():
        assert abs(ahll - ex) <= max(3 * 0.02 * ex, 3), (lang, ahll, ex)


def test_approx_stats_sketches_are_one_pass_aggregates(spark):
    """The scale story the entry exists to pin: the approximate side
    plans as ObjectHashAggregate pairs (mergeable sketch state,
    map-side partial), with no Sort/Window/Expand anywhere in the
    sketch aggregation — the exact-median window lives on the tiny
    (lang, n_chars) count table, never on the corpus."""
    d = table(spark, SF, "documents")
    df = d.groupBy("lang").agg(
        F.percentile_approx("n_chars", 0.5, 10000).alias("ap50"),
        F.approx_count_distinct("n_chars", 0.02).alias("ahll"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" in plan
    for bad in ("Sort", "Window", "Expand"):
        assert bad not in plan, f"{bad} in the sketch aggregation:\n{plan[:2000]}"


def test_ivfpq_residual_nprobe_monotone(spark):
    """The ivf_probe2 recall/work dial applied to the residual stack
    (r12 VERDICT item 7): at fixed (k, m, k*, K), raising nprobe can
    only widen the candidate set each query scores, so brute-force
    recall must be NON-DECREASING in nprobe — the knob a deployment
    turns to buy recall with probe work. Checked on the clustered
    fixture with K=16 coarse cells over its 8 clusters: OVER-
    partitioning splits each cluster across sibling cells, so true
    neighbors genuinely live outside the query's top-1 cell and the
    dial must MOVE, not just hold (at K=8 the clusters are so
    separated that nprobe=1 already saturates — measured 15/15/15).
    Deterministic: exact integer ADC, fixed seed."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk_residual,
        topk_recall,
        train_centroids,
        train_pq_codebooks_residual,
    )

    e = _clustered_embeddings(spark)
    q = e.filter(F.col("vec_id") < 20)
    bf = brute_force_topk(e, q, k=3)
    coarse = train_centroids(e, n_centroids=16, n_iters=2)
    cb_res = train_pq_codebooks_residual(
        e, coarse, m=4, n_sub_centroids=16, n_iters=2
    )
    hits = {}
    for nprobe in (1, 2, 4):
        approx = ivfpq_topk_residual(
            e, q, coarse, cb_res, k=3, m=4, nprobe=nprobe
        )
        rec = {
            r["method"]: r["n_hits"]
            for r in topk_recall(bf, {"res": approx}).collect()
        }
        hits[nprobe] = rec["res"]
    assert hits[1] <= hits[2] <= hits[4], hits
    # the dial must actually move on this fixture, or the test pins
    # nothing: probing every cluster must beat the single-cell probe
    assert hits[4] > hits[1], hits
