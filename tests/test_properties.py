"""Property tests (hypothesis) for the binning/labeling pair —
SURVEY.md §5's invariants: labels are gapless in week order, placeholder
rows sit exactly at empty non-trailing bins, and the date-keyed label
join is equivalent to histogram+letters+positional alignment."""

from __future__ import annotations

import datetime as dt

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.functions.dates import (
    GOLDEN_GRID,
    s2_date,
)
from sentinel_landsat_database_creation_spark.operators.catalog import build_catalog

_dates = st.lists(
    st.dates(dt.date(2022, 12, 1), dt.date(2024, 2, 10)),
    min_size=0,
    max_size=40,
)


def _label(k: int) -> str:
    out = ""
    while k > 0:
        k -= 1
        out = chr(97 + k % 26) + out
        k //= 26
    return out


_edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(_edge_lists)
def test_lss_matches_union_find_on_random_graphs(spark, edges):
    """Large-star/small-star labels == a driver-side union-find oracle
    on arbitrary small graphs (multi-edges, cycles, any density)."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        connected_components_lss,
    )

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["doc_id"]: r["cluster"]
        for r in connected_components_lss(df).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(_dates)
def test_catalog_invariants(spark, dates):
    listing = [
        (d.strftime("%Y%m%d") + "T000000_x_T1",) for d in sorted(dates)
    ]
    df = spark.createDataFrame(listing, "data string") if listing else (
        spark.createDataFrame([], "data string")
    )
    rows = build_catalog(
        df, s2_date(F.col("data")), "r", GOLDEN_GRID, keep_week=True
    ).collect()

    # oracle: bin each in-range date
    def bin_of(d: dt.date) -> int | None:
        if not (GOLDEN_GRID.first_edge <= d <= GOLDEN_GRID.last_edge):
            return None
        wk = (d - dt.date(1970, 1, 1)).days // 7 - GOLDEN_GRID.first_edge_idx
        return min(wk, GOLDEN_GRID.n_bins - 1)

    bins = sorted({b for b in (bin_of(d) for d in dates) if b is not None})
    by_bin = {}
    for d in dates:
        b = bin_of(d)
        if b is not None:
            by_bin[b] = by_bin.get(b, 0) + 1

    # 1. letters gapless in bin order
    expect_labels = {b: _label(i + 1) for i, b in enumerate(bins)}
    got_scene = [r for r in rows if r["data"] != "0"]
    assert len(got_scene) == sum(by_bin.values())
    for r in got_scene:
        d = dt.datetime.strptime(r["data"][:8], "%Y%m%d").date()
        assert r["class"] == expect_labels[bin_of(d)]

    # 2. placeholders exactly at empty INTERIOR bins (strictly between
    # the first and last non-empty bin); leading/trailing emit nothing
    got_ph = [r for r in rows if r["data"] == "0"]
    if bins:
        expect_ph = [
            b for b in range(min(bins) + 1, max(bins)) if b not in by_bin
        ]
    else:
        expect_ph = []
    assert len(got_ph) == len(expect_ph)
    for r in got_ph:
        assert r["class"] == "0"

    # 3. output ordered by (week, data)
    keys = [(r["week"], r["data"]) for r in rows]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# Empty-bin RUNS (SURVEY §7 hard-part c): the occupancy-driven strategy
# below deliberately constructs runs of adjacent empty weeks in every
# position — leading (including at the very start of the grid),
# interior, and trailing — which the date-list strategy above only hits
# by chance. Spec pinned: leading/trailing empty runs consume no letter
# and emit NO row; each interior empty bin emits exactly one
# (class="0", data="0") placeholder; letters stay gapless over the
# non-empty bins only.

_occupancy = st.lists(st.booleans(), min_size=0, max_size=40)


@settings(max_examples=12, deadline=None)
@given(_occupancy, st.integers(min_value=1, max_value=3))
def test_catalog_empty_bin_runs(spark, occupancy, per_bin):
    listing = []
    for b, occupied in enumerate(occupancy):
        if not occupied:
            continue
        day = GOLDEN_GRID.first_edge + dt.timedelta(weeks=b)
        for i in range(per_bin):
            listing.append(
                ((day + dt.timedelta(days=i % 7)).strftime("%Y%m%d")
                 + f"T0000{i:02d}_x_T1",)
            )
    df = spark.createDataFrame(listing, "data string") if listing else (
        spark.createDataFrame([], "data string")
    )
    rows = build_catalog(
        df, s2_date(F.col("data")), "r", GOLDEN_GRID, keep_week=True
    ).collect()

    occupied = [b for b, o in enumerate(occupancy) if o]
    if not occupied:
        assert rows == []
        return
    lo, hi = min(occupied), max(occupied)

    # scene rows: per_bin per occupied bin, gapless letters in bin order
    scene = [r for r in rows if r["data"] != "0"]
    assert len(scene) == per_bin * len(occupied)
    want_label = {b: _label(i + 1) for i, b in enumerate(occupied)}
    for r in scene:
        d = dt.datetime.strptime(r["data"][:8], "%Y%m%d").date()
        b = (d - GOLDEN_GRID.first_edge).days // 7
        assert r["class"] == want_label[b]

    # placeholders: exactly the interior empty bins — leading and
    # trailing empty runs (and the grid tail past hi) emit nothing
    ph_bins = sorted(
        (r["week"] - GOLDEN_GRID.first_edge).days // 7
        for r in rows
        if r["data"] == "0"
    )
    assert ph_bins == [b for b in range(lo + 1, hi) if b not in occupied]
    assert all(r["class"] == "0" for r in rows if r["data"] == "0")


# ---------------------------------------------------------------------------
# build_scene_pairs (rank-paired bins, no catalog) vs the catalog
# composition it replaced: two build_catalog(keep_week=True) calls,
# pair_catalogs, explode, the same pair_id. Scenes are drawn as (week
# offset from the grid's first edge, day, name suffix): offsets past
# either end land outside the grid, (n_bins, 0) is the last edge (kept,
# in the last bin), repeated draws give several scenes per week and
# repeated names, and the two sensors' non-empty week counts differ.

_grid_scenes = st.lists(
    st.tuples(
        st.integers(-2, GOLDEN_GRID.n_bins + 1),
        st.integers(0, 6),
        st.integers(0, 2),
    ),
    max_size=14,
)


def _scene_day(week: int, day: int) -> dt.date:
    return GOLDEN_GRID.first_edge + dt.timedelta(weeks=week, days=day)


def _catalog_scene_pairs(s2, hls):
    from sentinel_landsat_database_creation_spark.functions.dates import hls_date
    from sentinel_landsat_database_creation_spark.operators.pairing import (
        pair_catalogs,
    )

    pairs = pair_catalogs(
        build_catalog(s2, s2_date(F.col("data")), "S2", GOLDEN_GRID, keep_week=True),
        build_catalog(hls, hls_date(F.col("data")), "L8", GOLDEN_GRID, keep_week=True),
    )
    return pairs.select(
        F.col("data_1").alias("s2_path"), F.explode("data_2").alias("hls_path")
    ).select(
        F.xxhash64("s2_path", "hls_path").alias("pair_id"),
        F.element_at(F.split("s2_path", "/"), -1).alias("s2_scene"),
        F.element_at(F.split("hls_path", "/"), -1).alias("hls_scene"),
    )


_LAST = GOLDEN_GRID.n_bins


@settings(max_examples=6, deadline=None)
@example([(0, 0, 0), (2, 3, 0), (2, 3, 0), (2, 3, 1), (5, 0, 0), (_LAST, 0, 0)],
         [(-1, 6, 0), (1, 0, 0), (1, 0, 0), (_LAST, 0, 0), (_LAST, 1, 0)])
@example([], [(3, 0, 0)])
@given(_grid_scenes, _grid_scenes)
def test_scene_pairs_match_catalog_composition(spark, s2_draw, hls_draw):
    from sentinel_landsat_database_creation_spark.plans.satellite import (
        build_scene_pairs,
    )
    from sentinel_landsat_database_creation_spark.session import local_df

    s2 = local_df(
        spark,
        [(f"{_scene_day(w, d):%Y%m%d}T0000{k:02d}_x_T1",) for w, d, k in s2_draw],
        "data string",
    )
    hls = local_df(
        spark,
        [
            (f"HLS.L30.T1.{x.year}{x.timetuple().tm_yday:03d}T0000{k:02d}.v2.0",)
            for x, k in ((_scene_day(w, d), k) for w, d, k in hls_draw)
        ],
        "data string",
    )
    got = build_scene_pairs(s2, hls)
    want = _catalog_scene_pairs(s2, hls)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.collect() == want.collect()


# ---------------------------------------------------------------------------
# blocked_self_pairs: the all-pairs equi-join must enumerate every
# unordered distinct pair exactly once, for any id multiset and block
# count (the diagonal/off-diagonal key algebra is easy to get wrong).

_ids = st.lists(
    st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=40,
    unique=True,
)


@settings(max_examples=6, deadline=None)
@given(_ids, st.integers(min_value=1, max_value=9))
def test_blocked_self_pairs_exactly_once(spark, ids, n_blocks):
    from itertools import combinations

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        blocked_self_pairs,
    )

    df = (
        spark.createDataFrame([(i,) for i in ids], "vid long")
        if ids
        else spark.createDataFrame([], "vid long")
    )
    got = sorted(
        tuple(sorted((r["a_vid"], r["b_vid"])))
        for r in blocked_self_pairs(df, "vid", n_blocks=n_blocks).collect()
    )
    want = sorted(tuple(sorted(p)) for p in combinations(ids, 2))
    assert got == want


# ---------------------------------------------------------------------------
# sessionize_batch vs a direct Python reference

_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # user_id
        st.integers(min_value=0, max_value=10_000),     # seconds offset
        st.floats(min_value=-5, max_value=5, allow_nan=False),
    ),
    min_size=0,
    max_size=50,
)


@settings(max_examples=6, deadline=None)
@given(_events, st.integers(min_value=1, max_value=30))
def test_sessionize_batch_matches_python_reference(spark, events, gap_min):
    from sentinel_landsat_database_creation_spark.streaming.sessions import (
        sessionize_batch,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (uid, base + dt.timedelta(seconds=off), eid, val)
        for eid, (uid, off, val) in enumerate(events)
    ]
    df = (
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, value double"
        )
        if rows
        else spark.createDataFrame(
            [], "user_id long, ts timestamp, event_id long, value double"
        )
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in sessionize_batch(df, gap_minutes=gap_min).collect()
    }

    # reference: sort per user by (ts, event_id), split on gap
    want = set()
    gap = dt.timedelta(minutes=gap_min)
    by_user: dict = {}
    for uid, ts, eid, val in rows:
        by_user.setdefault(uid, []).append((ts, eid, val))
    for uid, evs in by_user.items():
        evs.sort()
        cur: list = []
        for ts, eid, val in evs:
            if cur and ts - cur[-1][0] > gap:
                want.add(
                    (uid, cur[0][0], cur[-1][0], len(cur),
                     round(sum(v for _, _, v in cur), 6))
                )
                cur = []
            cur.append((ts, eid, val))
        if cur:
            want.add(
                (uid, cur[0][0], cur[-1][0], len(cur),
                 round(sum(v for _, _, v in cur), 6))
            )
    assert got == want


# ---------------------------------------------------------------------------
# time_range_join: the bucket ±1 fan-out must reproduce the exact
# |dt| <= tol predicate, including rows exactly at the tolerance edge

_tevents = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),        # key
        st.integers(min_value=0, max_value=3600),     # seconds offset
    ),
    min_size=0,
    max_size=30,
)


@settings(max_examples=6, deadline=None)
@given(_tevents, _tevents, st.sampled_from([60, 300, 600]))
def test_time_range_join_matches_bruteforce(spark, lrows, rrows, tol):
    from sentinel_landsat_database_creation_spark.operators.rangejoin import (
        time_range_join,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda rows: [
        (k, base + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(rows)
    ]
    schema = "user_id long, ts timestamp, event_id long"
    ldata, rdata = mk(lrows), mk(rrows)
    ldf = spark.createDataFrame(ldata, schema) if ldata else spark.createDataFrame([], schema)
    rdf = spark.createDataFrame(rdata, schema) if rdata else spark.createDataFrame([], schema)
    got = {
        (r["l_event_id"], r["r_event_id"], r["dt_us"])
        for r in time_range_join(ldf, rdf, "user_id", tol_seconds=tol).collect()
    }
    want = {
        (li, ri, int((rts - lts).total_seconds() * 1_000_000))
        for lk, lts, li in ldata
        for rk, rts, ri in rdata
        if lk == rk and abs((rts - lts).total_seconds()) <= tol
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.data(),
)
def test_tiffcodec_roundtrip_property(h, w, data):
    """encode_gray -> decode_gray_np is the identity on any float32-exact
    grid, including NaN/±inf payloads (nodata semantics travel through
    the quality predicates) — no Spark needed, the codec is plain
    Python."""
    import math
    import struct as _struct

    from sentinel_landsat_database_creation_spark.sources.tiffcodec import (
        decode_gray_np,
        encode_gray,
    )

    vals = data.draw(
        st.lists(
            st.one_of(
                st.floats(width=32, allow_nan=False),
                st.sampled_from([float("inf"), float("-inf"), float("nan"), -9999.0]),
            ),
            min_size=h * w,
            max_size=h * w,
        )
    )
    # snap to float32 so equality is exact
    vals = [_struct.unpack("<f", _struct.pack("<f", v))[0] for v in vals]
    hh, ww, px = decode_gray_np(encode_gray(h, w, vals))
    out = px.tolist()
    assert (hh, ww) == (h, w)
    assert len(out) == len(vals)
    for a, b in zip(out, vals):
        assert (math.isnan(a) and math.isnan(b)) or a == b


# ---------------------------------------------------------------------------
# domain_quota: the skew-safe two-stage top-k-per-group (value-level
# boundary + tie-only row sort) must equal the naive row_number window
# for any (group, score, id) multiset — boundary-tie arithmetic is the
# part that's easy to get wrong.

_quota_rows = st.lists(
    st.tuples(
        st.integers(0, 3),      # group
        st.integers(0, 5),      # score (narrow: forces heavy ties)
        st.integers(0, 10_000), # id
    ),
    min_size=0,
    max_size=60,
    unique_by=lambda t: t[2],
)


@settings(max_examples=10, deadline=None)
@given(_quota_rows, st.integers(min_value=1, max_value=6))
def test_domain_quota_matches_naive_window(spark, rows, quota):
    from sentinel_landsat_database_creation_spark.operators.curation import (
        domain_quota,
    )

    df = (
        spark.createDataFrame(rows, "source int, n_chars int, doc_id int")
        if rows
        else spark.createDataFrame([], "source int, n_chars int, doc_id int")
    )
    got = sorted(
        (r["source"], r["doc_id"], r["n_chars"])
        for r in domain_quota(df, "source", quota, "n_chars", "doc_id").collect()
    )
    # oracle: per group, top-quota by (score desc, id asc)
    by_group: dict[int, list[tuple[int, int]]] = {}
    for g, s, i in rows:
        by_group.setdefault(g, []).append((s, i))
    want = sorted(
        (g, i, s)
        for g, pairs in by_group.items()
        for s, i in sorted(pairs, key=lambda p: (-p[0], p[1]))[:quota]
    )
    assert got == want


# ---------------------------------------------------------------------------
# delta_neardup: the persisted-index probe + candidate verification must
# equal a direct recomputation (python minhash/banding/jaccard) for any
# tiny corpus — banding string-format or bucket-join mistakes would
# survive the one fixture the driver checks.

_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6
    ).map(" ".join),
    min_size=0,
    max_size=14,
)


@settings(max_examples=6, deadline=None)
@given(_texts)
def test_delta_neardup_matches_direct_computation(spark, texts):
    import hashlib
    import tempfile

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        delta_neardup,
        lsh_index_write,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = (
        spark.createDataFrame(rows, "doc_id long, text string")
        if rows
        else spark.createDataFrame([], "doc_id long, text string")
    )
    corpus = df.filter("doc_id % 2 = 1")
    batch = df.filter("doc_id % 2 = 0")
    with tempfile.TemporaryDirectory() as d:
        lsh_index_write(corpus, d, n=2, n_hashes=8, bands=4)
        try:
            index = spark.read.parquet(d)
        except Exception:  # empty corpus -> no files written
            return
        got = sorted(
            (r["batch_doc"], r["corpus_doc"], r["n_inter"], r["n_union"])
            for r in delta_neardup(
                corpus, batch, index, n=2, n_hashes=8, bands=4, threshold=0.3
            ).collect()
        )

    # direct python recomputation of the r8 60-bit-key machinery
    # (hash60's three-engine contract, functions/text.py): shingle
    # keys, salted signature family, and band-folded bucket longs
    def h60(x: str) -> int:
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    def sh(t):
        w = [x for x in t.split(" ") if x]
        return {h60(f"{a}_{b}") for a, b in zip(w, w[1:])}

    def buckets(s):
        hs = [min(h60(f"{i}:{x}") for x in s) for i in range(8)]
        return {
            (b << 60) + h60(f"{hs[2 * b]}|{hs[2 * b + 1]}") for b in range(4)
        }

    shingles = {i: sh(t) for i, t in rows}
    want = []
    for bi, bt in rows:
        if bi % 2 != 0 or not shingles[bi]:
            continue
        for ci, ct in rows:
            if ci % 2 != 1 or not shingles[ci]:
                continue
            if not (buckets(shingles[bi]) & buckets(shingles[ci])):
                continue
            inter = len(shingles[bi] & shingles[ci])
            union = len(shingles[bi] | shingles[ci])
            if inter / union >= 0.3:
                want.append((bi, ci, inter, union))
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# pack_sequences: the shard-local cumulative-sum packing must equal a
# plain sequential python packer for any doc sizes / budget / shard
# count (the floor(cum_before/budget) streaming-fill rule and the
# shard split are both off-by-one magnets).

_doc_sizes = st.lists(
    st.integers(min_value=1, max_value=9), min_size=0, max_size=30
)


@settings(max_examples=8, deadline=None)
@given(_doc_sizes, st.integers(1, 12), st.integers(1, 4))
def test_pack_sequences_matches_sequential_reference(spark, sizes, budget, shards):
    from sentinel_landsat_database_creation_spark.operators.curation import (
        pack_sequences,
    )

    rows = [(i, " ".join(["t"] * n)) for i, n in enumerate(sizes)]
    docs = (
        spark.createDataFrame(rows, "doc_id long, text string")
        if rows
        else spark.createDataFrame([], "doc_id long, text string")
    )
    got = sorted(
        (r["shard"], r["seq_id"], r["n_docs"], r["n_toks_packed"])
        for r in pack_sequences(docs, budget=budget, n_shards=shards).collect()
    )

    # reference: per shard in id order, a doc lands in the sequence its
    # first token falls into
    packed: dict[tuple[int, int], list[int]] = {}
    cum: dict[int, int] = {}
    for i, n in enumerate(sizes):
        sh = i % shards
        seq = cum.get(sh, 0) // budget
        packed.setdefault((sh, seq), []).append(n)
        cum[sh] = cum.get(sh, 0) + n
    want = sorted(
        (sh, seq, len(ns), sum(ns)) for (sh, seq), ns in packed.items()
    )
    assert got == want


# ---------------------------------------------------------------------------
# slice_crop_pairs chunk-boundary math (round-5 VERDICT item 8): the
# chunk explode (ceil(n/centers_per_chunk) slices of the collected
# center array) is the one expression subtree the volume fixtures pin
# only through aggregate hashes. This drives n across every boundary
# shape (n % cp in {0, 1, cp-1}, n < cp, n = cp) against a direct
# per-center Python reference of the slice semantics (including the
# NumPy-faithful right-edge clamp and bottom truncation).

_cp_centers = st.lists(
    st.tuples(st.integers(2, 7), st.integers(2, 7)),
    min_size=1,
    max_size=9,
    unique=True,
)


def _ref_slice2d(flat, width, r0, c0, h, w):
    w_eff = max(min(w, width - c0), 0)
    out = []
    for r in range(r0, r0 + h):
        start = r * width + c0
        if start >= len(flat) or w_eff == 0:
            continue
        out.extend(flat[start : start + w_eff])
    return out


@settings(max_examples=12, deadline=None)
@given(_cp_centers, st.integers(min_value=1, max_value=4))
def test_slice_crop_pairs_chunk_boundaries(spark, centers, cp):
    from sentinel_landsat_database_creation_spark.operators.crops import (
        slice_crop_pairs,
    )

    W, B, S = 8, 4, 2
    LW = W // S
    hr = [float(i % 97) + 1.0 for i in range(W * W)]
    lr = [float((i * 7) % 89) + 1.0 for i in range(LW * LW)]
    pairs = spark.createDataFrame(
        [(1, [hr], W, [lr], LW)],
        "pair_id long, hr_bands array<array<double>>, hr_width int, "
        "lr_bands array<array<double>>, lr_width int",
    )
    cdf = spark.createDataFrame(
        [(1, i, r, c) for i, (r, c) in enumerate(centers)],
        "mask_id int, ord long, r int, c int",
    )
    got = {
        (row["r"], row["c"]): (row["hr_crop"][0], row["lr_crop"][0])
        for row in slice_crop_pairs(
            pairs, cdf, batch_size=B, scale=S, centers_per_chunk=cp
        ).collect()
    }
    assert len(got) == len(centers)
    half = B // 2
    for r, c in centers:
        want_hr = _ref_slice2d(hr, W, r - half, c - half, B, B)
        want_lr = _ref_slice2d(
            lr, LW, (r - half) // S, (c - half) // S, B // S, B // S
        )
        assert got[(r, c)][0] == want_hr, (r, c, cp)
        assert got[(r, c)][1] == want_lr, (r, c, cp)


# ---------------------------------------------------------------------------
# The crop_volume_greedy oracle's recursive-CTE walk model
# (plans/crop_volume.py:SQL_CROP_VOLUME_GREEDY) is sealed against the
# driver fixture by hash; this generalizes the seal: for ARBITRARY
# candidate lists the CTE's (cursor, surviving-list, kept-list)
# recurrence must equal the reference's mutating-list walk
# (fct_data_extraction.py:90-157, reimplemented in operators/crops.py:
# _greedy_walk). Pure DuckDB vs pure Python — no Spark needed.

_walk_cands = st.lists(
    st.tuples(
        st.integers(0, 40), st.integers(0, 40), st.booleans()
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(max_examples=30, deadline=None)
@given(_walk_cands, st.sampled_from([(12, 0.7), (4, 0.5), (10, 0.33)]))
def test_greedy_recursive_cte_matches_reference_walk(cands, cfg):
    import duckdb

    from sentinel_landsat_database_creation_spark.operators.crops import (
        _greedy_walk,
    )

    batch, pct = cfg
    want = _greedy_walk(cands, batch, pct, overlap=True)

    # integer restatement of the float band [rr + b*pct, cc + b*pct]
    # for integer candidates: ceil/floor of the non-integer edges (the
    # oracle inlines these the same way; property holds whenever b*pct
    # is not an exact integer, which these configs guarantee)
    bp = batch * pct
    import math

    lo_off, hi_off = math.ceil(bp), math.floor(bp)
    if not cands:
        return
    rows = ", ".join(
        f"({i}, {r}, {c}, {str(ok).lower()})"
        for i, (r, c, ok) in enumerate(cands)
    )
    sql = f"""
WITH RECURSIVE
cand AS (
  SELECT list(struct_pack(r := r, c := c, ok := ok) ORDER BY ord) AS lst
  FROM (VALUES {rows}) t(ord, r, c, ok)
),
walk AS (
  SELECT lst, CAST(-1 AS BIGINT) AS i,
         CAST([] AS STRUCT(r BIGINT, c BIGINT)[]) AS kept
  FROM cand
  UNION ALL
  SELECT CASE WHEN cur.ok THEN
           list_filter(lst, x ->
             NOT (x.r >= cur.r + {lo_off} AND x.r <= cur.c + {hi_off})
             AND NOT (x.c >= cur.r + {lo_off} AND x.c <= cur.c + {hi_off}))
         ELSE lst END,
         i1,
         CASE WHEN cur.ok
              THEN list_append(kept, struct_pack(r := cur.r, c := cur.c))
              ELSE kept END
  FROM (
    SELECT lst, kept, i + 1 AS i1, lst[CAST(i + 2 AS INTEGER)] AS cur
    FROM walk WHERE i < len(lst) - 1
  )
)
SELECT u.r, u.c
FROM (SELECT max_by(kept, i) AS kept FROM walk) , unnest(kept) t(u)
"""
    got = [(int(r), int(c)) for r, c in duckdb.connect().execute(sql).fetchall()]
    assert got == [(int(r), int(c)) for r, c in want]


# ---------------------------------------------------------------------------
# semantic_dedup vs a direct Python reference (assignment + keep rule)

_vecs = st.lists(
    st.lists(
        st.integers(min_value=-4, max_value=4).map(float),
        min_size=3,
        max_size=3,
    ).filter(lambda v: any(x != 0.0 for x in v)),
    min_size=1,
    max_size=24,
)


@settings(max_examples=6, deadline=None)
@given(_vecs, st.floats(min_value=0.3, max_value=0.95))
def test_semantic_dedup_matches_python_reference(spark, vecs, threshold):
    """The full SemDeDup decision (nearest-centroid cell with
    lowest-id tie-break, then drop-iff-smaller-id-same-cell-neighbor
    at >= threshold) against a brute-force Python reference. Small
    integer-coordinate vectors make ties COMMON, so the deterministic
    tie-break is actually exercised; both sides compute the same
    IEEE double cosine so the threshold compare is exact."""
    import math

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        semantic_dedup,
    )

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    cell_of = {
        i: max(range(3), key=lambda c: (cos(v, cents[c]), -c))
        for i, v in enumerate(vecs)
    }
    want = {}
    for i, v in enumerate(vecs):
        dropped = any(
            cell_of[j] == cell_of[i] and cos(vecs[j], v) >= threshold
            for j in range(i)
        )
        want[i] = (cell_of[i], 0 if dropped else 1)

    cent_df = spark.createDataFrame(
        [(c, cents[c]) for c in range(3)],
        "cent_id long, embedding array<float>",
    )
    vec_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup(vec_df, cent_df, threshold=threshold).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# containment_pairs vs a direct Python reference of the WHOLE path
# (60-bit shingle keys -> salted hash60 signatures -> band-folded
# bucket longs -> candidates -> containment): a third implementation
# of the r8-narrowed MinHash machinery, so a drift in
# minhash_signatures/banded_buckets breaks this even though those
# stages' oracles live in SQL.

_doc_texts = st.lists(
    st.lists(
        st.sampled_from("red blue green gold iron wolf moon star".split()),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(_doc_texts, st.sampled_from([0.5, 0.8, 1.0]))
def test_containment_matches_python_reference(spark, texts, threshold):
    import hashlib

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs,
    )

    n, n_hashes, bands = 2, 8, 4

    def h60(x: str) -> int:
        # hash60's python leg (tests/test_hash60.py pins all three)
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    def shingle_set(text):
        t = text.split()
        return {
            h60("_".join(t[i : i + n])) for i in range(len(t) - n + 1)
        }

    def signature(sh):
        return [
            min(h60(f"{i}:{s}") for s in sh) for i in range(n_hashes)
        ]

    def buckets(sg):
        rows = n_hashes // bands
        return {
            (b << 60)
            + h60("|".join(str(x) for x in sg[b * rows : (b + 1) * rows]))
            for b in range(bands)
        }

    sets = {i: shingle_set(t) for i, t in enumerate(texts)}
    bks = {i: buckets(signature(s)) for i, s in sets.items() if s}
    want = {}
    for a in sorted(bks):
        for b in sorted(bks):
            if a < b and bks[a] & bks[b]:
                inter = len(sets[a] & sets[b])
                cont = inter / min(len(sets[a]), len(sets[b]))
                if cont >= threshold:
                    want[(a, b)] = (
                        inter,
                        len(sets[a]),
                        len(sets[b]),
                        cont,
                    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_inter"],
            r["n_a"],
            r["n_b"],
            r["cont_max"],
        )
        for r in containment_pairs(docs, threshold=threshold).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(_doc_texts, st.sampled_from([0.3, 0.4, 0.5, 0.6, 0.9, 1.0]))
def test_containment_probe_matches_python_reference(spark, texts, threshold):
    """The small-side exact probe's SEMANTIC contract, independent of
    the cascade that implements it: with probe_small_max set, the
    result is exactly {pairs with cont_max >= t whose smaller side has
    <= cutoff shingles} ∪ {LSH-candidate pairs with cont_max >= t}.
    The PPJoin prefix+count cascade (r8/r9) is supposed to be a
    lossless candidate filter — this reference computes the contract
    directly from shingle sets, so a cascade that drops a qualifying
    pair (the sf1 bug class) fails here. The 8-word vocabulary makes
    every shingle HOT (high df), which is the regime where the
    cascade's rarity ordering does the least work — the adversarial
    case. Thresholds <= 0.5 (r8 ADVICE) exercise the truncated-prefix
    regime where |A| < 2*miss+1 and the r8 fixed miss+1 demand
    silently over-filtered — the r9 plen accounting must stay
    lossless there."""
    import hashlib

    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs,
    )

    n, n_hashes, bands, cutoff = 2, 8, 4, 6

    def h60(x: str) -> int:
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    def shingle_set(text):
        t = text.split()
        return {h60("_".join(t[i : i + n])) for i in range(len(t) - n + 1)}

    def signature(sh):
        return [min(h60(f"{i}:{s}") for s in sh) for i in range(n_hashes)]

    def buckets(sg):
        rows = n_hashes // bands
        return {
            (b << 60)
            + h60("|".join(str(x) for x in sg[b * rows : (b + 1) * rows]))
            for b in range(bands)
        }

    sets = {i: shingle_set(t) for i, t in enumerate(texts)}
    bks = {i: buckets(signature(s)) for i, s in sets.items() if s}
    want = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            cont = inter / min(len(sets[a]), len(sets[b]))
            lsh = a in bks and b in bks and bool(bks[a] & bks[b])
            probed = min(len(sets[a]), len(sets[b])) <= cutoff
            if cont >= threshold and (lsh or probed):
                want[(a, b)] = (inter, len(sets[a]), len(sets[b]), cont)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_inter"],
            r["n_a"],
            r["n_b"],
            r["cont_max"],
        )
        for r in containment_pairs(
            docs, threshold=threshold, probe_small_max=cutoff
        ).collect()
    }
    assert got == want
