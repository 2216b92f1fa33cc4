"""Physical-plan shape assertions — the 100 TB stance, checked in CI.

These pin the properties that matter at scale: predicate pushdown into
the parquet scan, column pruning, broadcast joins for small dimensions
(no shuffle of the big side), and no Python eval in hot paths.
"""

from __future__ import annotations

from sentinel_landsat_database_creation_spark.plans.driver_queries import REGISTRY

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name][0](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: untouched wide columns never reach the scan
    assert "l_comment" not in plan
    assert "HashAggregate" in plan


def test_top_orders_broadcasts_customer(spark):
    # top_orders lives inside the order_rank_checks merge since r8;
    # the parent fn still builds the exact Q3 plan this test pins
    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        q_top_orders,
    )

    df = q_top_orders(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan  # top-k without global sort


def test_nation_revenue_all_dims_broadcast(spark):
    plan = _plan(spark, "nation_revenue")
    # customer/nation/region all broadcast: lineitem never shuffles for
    # the joins themselves
    assert plan.count("BroadcastHashJoin") >= 3


def test_pairing_keys_broadcast(spark):
    plan = _plan(spark, "pairing_keys")
    assert "BroadcastHashJoin" in plan


def test_catalog_event_labels_no_python_eval(spark):
    plan = _plan(spark, "catalog_event_labels")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # tiny week-label table broadcast


def test_embed_checks_stays_native(spark):
    plan = _plan(spark, "embed_checks")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_fingerprint_shape(spark):
    """Winnowing selection is row-local HOFs: native end to end, no
    window function, and the only Generate-side shuffles are the
    hash-only distinct/dictionary aggregations."""
    plan = _plan(spark, "winnow_fingerprint")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_doc_stats_stays_native(spark):
    plan = _plan(spark, "doc_stats")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides of a join on the join key pre-shuffles the
    data at write time — the co-located join then plans with NO Exchange
    (the 100 TB repeated-join pattern: pay the shuffle once at layout
    time, never per query)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.sources.testdata import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    left = ev.select("event_id", "user_id", "value")
    right = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, df in (("bt_left", left), ("bt_right", right)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, "user_id")
                .sortBy("user_id")
                .mode("overwrite")
                .saveAsTable(name)
            )
        joined = spark.table("bt_left").join(spark.table("bt_right"), "user_id")
        assert joined.count() == left.count()
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for name in ("bt_left", "bt_right"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics: hot-key events joined to
    a user dim give identical results salted or plain."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.skew import salted_join
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    # manufacture skew: fold most users onto one hot key
    skewed = ev.select(
        F.when(F.col("user_id") % 4 != 0, F.lit(7))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_id",
        "value",
    )
    dim = (
        skewed.select("user_id").distinct().withColumn("tag", F.col("user_id") * 10)
    )
    plain = {
        (r["user_id"], r["event_id"], r["tag"])
        for r in skewed.join(dim, "user_id").collect()
    }
    salted = {
        (r["user_id"], r["event_id"], r["tag"])
        for r in salted_join(
            skewed, dim, "user_id", n_salts=8, salt_source="event_id"
        ).collect()
    }
    assert salted == plain and len(plain) > 0


def test_blocked_pairs_plan_shape(spark):
    """The all-pairs cosine must plan as a shuffled equi-join on the
    block key — BroadcastNestedLoopJoin (single-task, interpreted) or a
    broadcast hash join (inherits the 1-partition scan) would both
    regress the quadratic stage to one core."""
    import io
    from contextlib import redirect_stdout

    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    df = REGISTRY["embed_cosine_neardup"][0](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_doc_queries_prune_documents_scan(spark):
    """Column pruning: text-analysis scans read only (doc_id, text) —
    a scan hauling unused columns at 100 TB is wrong even when the
    answer is right."""
    for name in ("doc_stats", "doc_repetition", "token_fingerprint_checks"):
        plan = _plan(spark, name)
        scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scan, name
        assert "ReadSchema" in scan[0] or "ReadSchema" in plan, name
        # testdata documents carry no extra wide columns, so instead pin
        # that the scan schema mentions only the two needed fields
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, name
        fields = {f.split(":")[0] for f in m.group(1).split(",") if f}
        assert fields <= {"doc_id", "text"}, (name, fields)


def test_decontaminate_broadcasts_eval_dictionary(spark):
    """The eval n-gram dictionary must broadcast — shuffling the train
    side against it is the difference between a map-side semi join and
    a full repartition of the corpus at 100 TB."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        REGISTRY_EXT,
    )

    df = REGISTRY_EXT["decontaminate"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # only doc_id + text may reach the documents scan
    assert "n_chars" not in plan and "source" not in plan


def test_stratified_sample_is_shuffle_free_before_agg(spark):
    """The sampling filter itself is a narrow map: exactly one exchange
    in the whole plan (the final per-lang count), none for sampling.
    (r11: the standalone registry entry merged into mixture_plan; the
    plan property is pinned on the operator composed the way the
    merged entry's strat arm composes it.)"""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.curation import (
        stratified_sample,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    rates = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.25}
    df = (
        stratified_sample(table(spark, SF, "documents"), "lang", rates)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("strat_n_kept"))
        .orderBy("lang")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one shuffle for the groupBy('lang'), one for the orderBy — the
    # filter adds none
    assert plan.count("Exchange") <= 2
    assert "text#" not in plan  # sampling never reads the text column


def test_vocab_coverage_broadcasts_vocabulary(spark):
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        REGISTRY_EXT,
    )

    df = REGISTRY_EXT["vocab_coverage"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_vocab_coverage_topk_is_bounded(spark):
    """The vocabulary top-k must plan as TakeOrderedAndProject
    (per-partition bounded heaps), NEVER as a window over the full
    distinct-token table — an unpartitioned row_number() window funnels
    hundreds of millions of token counts through one task at web scale."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        vocab_coverage,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    df = vocab_coverage(table(spark, SF, "documents"), k=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_span_and_delta_dedup_form_no_pair_space(spark):
    """Sub-document and incremental dedup must stay bounded equi-joins:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere in either
    plan (the N² trap these operators exist to avoid)."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        REGISTRY_EXT,
    )

    for name in ("span_dedup", "delta_dedup"):
        df = REGISTRY_EXT[name][0](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_length_trim_window_is_over_grouped_lengths(spark):
    """length_trim's per-lang window must run over the per-(lang,
    n_chars) COUNT table, not over raw documents — otherwise one task
    sorts the dominant language's whole corpus. The plan therefore shows
    a partial_count hash-aggregate BELOW the Window's sort."""
    from sentinel_landsat_database_creation_spark.operators.curation import (
        length_trim,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    df = length_trim(table(spark, SF, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    w = plan.index("Window")
    assert "partial_count" in plan[w:], (
        "window input is not pre-aggregated - it sorts raw documents"
    )


def test_greedy_walk_python_boundary_is_centers_only(spark):
    """VERDICT r3 item 5, re-pinned for the r14 Arrow metadata path:
    the E4 greedy suppression must hand the walk's Python boundary
    (FlatMapGroupsInPandas) METADATA rows only — (pair_id, r, c, ord,
    ok, nz_hr) — never the band payloads; the band payload crosses
    into Python exactly ONCE, at the MapInArrow candidate-stats stage
    (guide §8: heavy bytes move once, decisions flow as metadata); and
    NO Exchange anywhere in the plan carries a band column (pixels
    never shuffle — the rule that predates both shapes)."""
    from sentinel_landsat_database_creation_spark.plans.crop_volume import (
        greedy_volume_meta_dataset,
    )

    df = greedy_volume_meta_dataset(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, "exactly one payload crossing"
    assert "FlatMapGroupsInPandas" in plan
    for line in plan.splitlines():
        if "FlatMapGroupsInPandas" in line:
            assert "hr_bands" not in line and "lr_bands" not in line
            assert "pair_id" in line and "ok" in line
        if "Exchange" in line:
            assert "hr_bands" not in line and "lr_bands" not in line


# Python-evaluation operators other than MapInArrow
_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
)


def _formatted_nodes(df) -> list[tuple[str, str]]:
    """(operator name, its input column list) for every node of the
    formatted physical plan."""
    import re

    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    nodes = []
    for block in re.split(r"\n(?=\(\d+\) )", text):
        head = re.match(r"\(\d+\) (\w+)", block)
        if head:
            cols = re.search(r"^(?:Input|Output) \[\d+\]: (.*)$", block, re.M)
            nodes.append((head.group(1), cols.group(1) if cols else ""))
    return nodes


def test_crop_stage_python_boundary_is_one_arrow_kernel(spark):
    """Stage 4 (build_crop_dataset, run by crop_volume in grid and in
    greedy mode) crosses into Python exactly ONCE: one MapInArrow over
    the pair tensors, no other Python node, no Generate, and no
    Exchange whose input carries a band or crop column — heavy bytes
    move once, and only survivors' pixels come back."""
    from sentinel_landsat_database_creation_spark.plans.crop_volume import (
        _summarize,
        crop_volume_dataset,
    )

    payload = ("hr_bands#", "lr_bands#", "hr_pixels#", "lr_pixels#")
    for compat in (False, True):
        nodes = _formatted_nodes(
            _summarize(crop_volume_dataset(spark, SF, compat=compat))
        )
        kernels = [cols for name, cols in nodes if name == "MapInArrow"]
        assert len(kernels) == 1 and "hr_bands#" in kernels[0], compat
        for name, cols in nodes:
            assert name not in _PYTHON_NODES and name != "Generate", (compat, name)
            if name in ("Exchange", "BroadcastExchange"):
                assert not any(p in cols for p in payload), (compat, cols)


def test_ann_encode_is_one_arrow_kernel_and_one_exchange(spark):
    """The persisted ANN index's encode (ann_index_write and
    ann_index_append) crosses into Python exactly ONCE — one MapInArrow
    that assigns cells and picks PQ codes — with no Generate, no
    BroadcastExchange and no HashAggregate left of the retired
    join/posexplode/groupBy chain, and exactly one Exchange: the cell
    repartition, fed only the four code columns."""
    import pyarrow as pa

    from sentinel_landsat_database_creation_spark.operators.ann_index import (
        _BOOKS,
        _COARSE,
        _code_rows,
        _Quantizers,
    )
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    e = table(spark, SF, "embeddings")
    d = len(e.first()["embedding"])
    coarse = pa.Table.from_pylist(
        [{"cell": c, "s": [c + 1] * d} for c in range(2)], _COARSE
    )
    books = pa.Table.from_pylist(
        [{"sub": b, "cent_id": c, "cv": [c] * (d // 4)}
         for b in range(4) for c in range(2)],
        _BOOKS,
    )
    nodes = _formatted_nodes(
        _code_rows(e, _Quantizers(coarse, books, 4), "vec_id", "embedding")
    )
    names = [name for name, _cols in nodes]
    assert names.count("MapInArrow") == 1, names
    for banned in _PYTHON_NODES + ("Generate", "BroadcastExchange", "HashAggregate"):
        assert banned not in names, (banned, names)
    exchanges = [cols for name, cols in nodes if name == "Exchange"]
    assert len(exchanges) == 1, names
    cols = [c.split("#")[0] for c in exchanges[0].strip("[]").split(", ")]
    assert cols == ["cell", "cid", "sub", "code"], exchanges


def test_blocked_pairs_keeps_full_reducer_width(spark):
    """AQE sizes reducers on an exchange's INPUT bytes, so the tiny
    block-key fan-out used to coalesce to 1-2 reducers — serializing
    the N² join output exactly like the broadcast plan would (measured:
    media_neardup's scoring stage on 2 tasks, 4.0 s for 12.5M pairs).
    blocked_self_pairs now pins an explicit partition count on both
    sides; this test asserts the exchanges carry it (user-specified
    repartitions are exempt from AQE coalescing)."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.similarity import (
        blocked_self_pairs,
    )

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    v = spark.range(100).select(
        F.col("id").alias("vid"), (F.col("id") * 2).alias("x")
    )
    plan = (
        blocked_self_pairs(v, "vid", n_blocks=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert f"hashpartitioning(_k#" in plan
    assert plan.count(f", {n_parts}), REPARTITION_BY_NUM") >= 2, plan[:2000]


def test_promo_revenue_broadcasts_part_and_pushes_window(spark):
    plan = _plan(spark, "promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: only the four lineitem columns the query needs
    assert "l_comment" not in plan and "l_tax" not in plan


def test_scene_volume_python_boundary_and_payload_discipline(spark):
    """VERDICT r5 item 1: E3's Python boundary is exactly the decode
    mapInPandas (one per sensor side), fed by the band-FILTERED file
    rows — never the QA decoys — and everything downstream of the
    stack runs JVM-side. Pinned per side from the executed plan (the
    two sides are materialized as separate jobs — the sequencing that
    keeps the 10x probe inside a 1 GB heap, scripts/bench_scale.py):
    exactly one MapInPandas whose input carries the band filter, no
    other Python eval, and the scene key never leaves the stack
    aggregation carrying payload into the final project's exchange
    inputs."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.plans import (
        scene_volume as sv,
    )

    root = sv.ensure_fixture(spark, "/root/testdata/sf0.01")
    files = sv.scene_file_listing(spark, root)
    side = sv._summarize_side(files, sv.HR_PREFIX, sv.SENTINEL_BANDS, "hr")
    plan = side._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, "exactly one decode boundary"
    assert "FlatMapGroupsInPandas" not in plan
    # the band filter runs BEFORE the decode boundary: the filter's
    # rlike band-token predicates sit below MapInPandas in the tree
    below_decode = plan[plan.index("MapInPandas") :]
    assert "B2" in below_decode and ".xml" in below_decode, (
        "band/xml filter must be upstream of the decode"
    )
    # summary rows leaving the stack are metadata-sized: the final
    # project exposes only longs/strings (no array payload columns)
    assert [f.name for f in side.schema.fields] == [
        "pair_id", "side", "height", "width", "n_bands", "px_sum", "n_high",
    ]
    # decoys never reach the decoder: the decoded row count equals
    # 4 bands x n_pairs, with the QA files dropped by the filter
    from sentinel_landsat_database_creation_spark.sources.raster import (
        decode_rasters,
    )

    bf = sv.filter_band_files(
        files.filter(F.col("scene").startswith(sv.HR_PREFIX)),
        sv.SENTINEL_BANDS,
    )
    assert bf.count() == 4 * sv.params_for("/root/testdata/sf0.01")["n_pairs"]
    assert decode_rasters(bf).count() == bf.count()


def test_greedy_scale_twin_matches_generated_oracle(spark):
    """The pair-scale twin (round-6 VERDICT item 4) at a small n: the
    compat greedy pipeline over 8 pairs at the driver fixture's raster
    shape must match greedy_oracle_sql(8) — pins the generator and the
    twin's wiring so scripts/verify_scale.py's 60-pair run can't drift
    silently between scale runs."""
    import duckdb
    import pandas as pd

    from sentinel_landsat_database_creation_spark.plans.crop_volume import (
        greedy_oracle_sql,
        greedy_scale_twin,
    )

    sdf = greedy_scale_twin(spark, n_pairs=8).toPandas()
    odf = duckdb.connect().execute(greedy_oracle_sql(8)).df()
    assert len(sdf) == 8
    pd.testing.assert_frame_equal(sdf.astype(odf.dtypes.to_dict()), odf)


def _jobs_of(spark, call):
    """(call's result, Spark jobs it launched), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_scene_pairs_collect_one_job_and_plan_no_catalog(spark):
    """Stages 1-2 (build_scene_pairs) never build a catalog: the call
    launches exactly one Spark job — the grid-bounded (sensor, bin)
    collect — and the returned plan has no Window (dense_rank), Range
    (placeholder spine) or Generate (explode) node left."""
    from sentinel_landsat_database_creation_spark.plans.satellite import (
        build_scene_pairs,
    )
    from sentinel_landsat_database_creation_spark.session import local_df

    s2 = local_df(
        spark,
        [("20230315T104629_N0509_T32UNU",), ("20230329T104629_N0509_T32UNU",)],
        "data string",
    )
    hls = local_df(
        spark,
        [("HLS.L30.T32UNU.2023074T104629.v2.0",), ("HLS.L30.T32UNU.2023089T1.v2.0",)],
        "data string",
    )
    # 2023-03-29 and doy 089 (03-30) fall in different weeks, but each
    # is its sensor's second non-empty week: both carry class "b"
    pairs, n_jobs = _jobs_of(spark, lambda: build_scene_pairs(s2, hls))
    assert n_jobs == 1
    names = {name for name, _cols in _formatted_nodes(pairs)}
    assert not names & {"Window", "Range", "Generate"}, names
    assert [(r["s2_scene"], r["hls_scene"]) for r in pairs.collect()] == [
        ("20230315T104629_N0509_T32UNU", "HLS.L30.T32UNU.2023074T104629.v2.0"),
        ("20230329T104629_N0509_T32UNU", "HLS.L30.T32UNU.2023089T1.v2.0"),
    ]


def test_collected_centers_one_job_matches_candidate_centers(spark):
    """collected_centers is candidate_centers' rows sorted by (mask_id,
    ord) and grouped per mask, under both bound modes, in ONE Spark
    job: the sort runs on the driver and the compat centerline count is
    a per-mask-row array count, so neither adds an Exchange."""
    import numpy as np

    from sentinel_landsat_database_creation_spark.operators.crops import (
        candidate_centers,
        collected_centers,
    )
    from sentinel_landsat_database_creation_spark.session import local_df

    rng = np.random.default_rng(7)
    masks = local_df(
        spark,
        [
            (m, 40, 40, (rng.random(1600) < p).astype(float).tolist())
            for m, p in ((1, 0.05), (2, 0.3))
        ],
        "mask_id int, height int, width int, pixels array<double>",
    )
    for compat in (True, False):
        got, n_jobs = _jobs_of(
            spark, lambda: collected_centers(masks, 6, compat_bounds=compat)
        )
        assert n_jobs == 1, compat
        want: dict = {}
        for m, o, r, c in sorted(
            tuple(x)
            for x in candidate_centers(masks, 6, compat_bounds=compat)
            .select("mask_id", "ord", "r", "c")
            .collect()
        ):
            want.setdefault(m, []).append((o, r, c))
        assert got == want and sorted(got) == [1, 2], compat
