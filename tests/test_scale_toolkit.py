"""Bucketing + skew toolkit: results must be bit-identical to the plain
plans, and the bucketed join's exchange-free property is plan-guarded."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.operators.bucketing import (
    assert_no_shuffle_join,
    bucketed_join,
    write_bucketed,
)
from sentinel_landsat_database_creation_spark.operators.skew import (
    salted_agg,
    salted_join,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    from sentinel_landsat_database_creation_spark.sources.testdata import table

    return table(spark, SF, "events")


def test_bucketed_join_is_exchange_free(spark, events):
    left = events.select("user_id", "event_id", "value")
    right = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    write_bucketed(left, "t_ev_bucketed", ["user_id"], 8)
    write_bucketed(right, "t_users_bucketed", ["user_id"], 8)
    try:
        joined = bucketed_join(spark, "t_ev_bucketed", "t_users_bucketed", ["user_id"])
        # the whole point: no shuffle on either side
        assert_no_shuffle_join(joined.select("user_id", "event_id", "n"))
        got = joined.count()
        want = left.join(right, "user_id").count()
        assert got == want > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_users_bucketed")


def test_assert_no_shuffle_join_catches_plain_join(spark, events):
    plain = events.join(
        events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")), "user_id"
    )
    with pytest.raises(AssertionError, match="exchange-free"):
        assert_no_shuffle_join(plain)


def test_salted_agg_matches_plain(spark, events):
    plain = {
        (r["user_id"],): (r["n"], r["mx"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("mx"))
        .collect()
    }
    salted = {
        (r["user_id"],): (r["n"], r["mx"])
        for r in salted_agg(
            events,
            ["user_id"],
            {
                "n": ("sum", F.count(F.lit(1))),
                "mx": ("max", F.max("event_id")),
            },
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_accepts_map_columns(spark):
    """r13 ADVICE: the deterministic content salt hashes every column
    via xxhash64, which rejects map types at analysis time (rand()
    accepted any frame). Map columns must be excluded from the salt —
    results are unchanged (the merge is salt-independent) and the
    query must analyze and run."""
    df = spark.createDataFrame(
        [(1, 2, {"a": 1}), (1, 3, {"b": 2}), (2, 5, {"c": 3})],
        "k int, v int, m map<string,int>",
    )
    got = {
        (r["k"],): r["s"]
        for r in salted_agg(
            df, ["k"], {"s": ("sum", F.sum("v"))}, n_salts=4
        ).collect()
    }
    assert got == {(1,): 5, (2,): 5}


def test_salted_join_salt_deterministic_under_repartition(spark, events):
    """The default salt must be a pure function of row content: the same
    input re-partitioned arbitrarily yields the exact same joined
    multiset (a partition-/offset-derived salt would re-deal the salts
    and, under speculative retries, could double- or zero-match)."""
    left = events.select("user_id", "event_id")
    dim = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    base = sorted(
        (r["user_id"], r["event_id"], r["n"])
        for r in salted_join(left, dim, "user_id", n_salts=8).collect()
    )
    for n_parts in (1, 7):
        redealt = sorted(
            (r["user_id"], r["event_id"], r["n"])
            for r in salted_join(
                left.repartition(n_parts), dim, "user_id", n_salts=8
            ).collect()
        )
        assert redealt == base and len(base) > 0


def test_salted_join_matches_plain(spark, events):
    dim = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plain = sorted(
        (r["user_id"], r["event_id"], r["n"])
        for r in events.select("user_id", "event_id").join(dim, "user_id").collect()
    )
    salted = sorted(
        (r["user_id"], r["event_id"], r["n"])
        for r in salted_join(
            events.select("user_id", "event_id"), dim, "user_id", n_salts=8
        ).collect()
    )
    assert salted == plain and len(salted) > 0


def test_memo_checkpoint_rebuilds_after_block_loss(spark, events):
    """The checkpoint memo must not hand out a handle whose localCheckpoint
    blocks are gone (lineage is truncated — such a handle can never
    recompute). Simulate block loss by unpersisting the checkpoint RDD
    out from under the cache, then assert the next call detects it via
    the persistent-RDD registry probe and rebuilds instead of failing."""
    from sentinel_landsat_database_creation_spark.memo import (
        _CHECKPOINTS,
        checkpoint_memo,
    )

    src = events.select("user_id").distinct()
    builds = []

    def builder():
        builds.append(1)
        return src

    first = checkpoint_memo(src, ("memo-guard-test",), builder)
    n0 = first.count()
    assert n0 > 0 and builds == [1]
    # hit: same key returns the cached handle, no rebuild
    again = checkpoint_memo(src, ("memo-guard-test",), builder)
    assert builds == [1] and again.count() == n0

    # kill the blocks the way an executor loss / eviction would
    key = next(k for k in _CHECKPOINTS if k[-1] == "memo-guard-test")
    _, ck_ids = _CHECKPOINTS[key]
    assert ck_ids, "creation must capture the checkpoint RDD ids"
    # unpersisting the JVM handle removes the rdd_N_* blocks
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ck_ids:
        if jmap.containsKey(i):
            jmap.get(i).unpersist(False)

    rebuilt = checkpoint_memo(src, ("memo-guard-test",), builder)
    assert builds == [1, 1], "stale entry must trigger a rebuild"
    assert rebuilt.count() == n0
    del _CHECKPOINTS[next(k for k in _CHECKPOINTS if k[-1] == "memo-guard-test")]


def test_verify_scale_harness_names_resolve_at_module_level():
    """r10 regression pin: verify_scale's --tier2-patch crashed with
    UnboundLocalError because a late inner `from bench_scale import
    SF10` inside main() made the name function-local before its first
    use. Both tier dirs (and the cohort lists the patch modes index)
    must resolve as MODULE attributes so every code path in main() —
    which runs long after an edit, on an expensive fixture — sees them
    regardless of where its branch sits relative to any import."""
    import importlib
    import sys
    from pathlib import Path

    # r11 ADVICE: the path entry must not outlive the import — leaked,
    # it shadows same-named modules for every later test in the session
    scripts_dir = str(Path(__file__).resolve().parents[1] / "scripts")
    sys.path.insert(0, scripts_dir)
    try:
        vs = importlib.import_module("verify_scale")
    finally:
        sys.path.remove(scripts_dir)
    for name in ("SF1", "SF10", "TIER2_QUERIES", "EXCLUDED_TIER2",
                 "TABLE_ORACLE_QUERIES", "DIGEST_TIER2"):
        assert hasattr(vs, name), f"verify_scale.{name} not module-level"
    # the inner-import pattern must not come back
    import inspect

    src = inspect.getsource(vs.main)
    assert "from bench_scale import" not in src, (
        "an import inside main() rebinds bench_scale names function-"
        "locally and re-opens the --tier2-patch UnboundLocalError"
    )


def test_tier2_extra_covers_patch_verified_entries():
    """The full verify_scale run must reproduce the committed tier-2
    artifact: every entry whose 100x evidence landed via --tier2-patch
    belongs to TIER2_EXTRA (disjoint from the timing cohort, all
    registry-resolvable), or a full re-run silently drops its
    results_tier2 record."""
    import importlib
    import sys
    from pathlib import Path

    scripts_dir = str(Path(__file__).resolve().parents[1] / "scripts")
    sys.path.insert(0, scripts_dir)
    try:
        vs = importlib.import_module("verify_scale")
    finally:
        sys.path.remove(scripts_dir)

    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    extra = set(vs.TIER2_EXTRA)
    assert extra.isdisjoint(set(vs.TIER2_QUERIES)), (
        "TIER2_EXTRA must not duplicate the timing cohort"
    )
    missing = extra - set(REGISTRY)
    assert not missing, f"TIER2_EXTRA names not in the registry: {missing}"
    # every committed tier-2 result is producible by the full run:
    # timing cohort + extras + the separately-run payload pipeline
    import json

    art = json.loads(
        (Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json")
        .read_text()
    )
    producible = (
        set(vs.TIER2_QUERIES) | extra | {"scene_tensors_volume"}
    ) - set(vs.EXCLUDED_TIER2)
    orphans = set(art["results_tier2"]) - producible
    assert not orphans, (
        f"committed tier-2 results a full run would drop: {orphans}"
    )
