"""Mechanical pin for the _PROVEN_TAIL rotation policy (round-5
VERDICT item 7).

The driver's correctness gate checks only the first 50 registry
entries each round; spilled (tail) entries rely on the claim "nothing
touched this query's plan since its last green check". That claim used
to rest on diff review. This test makes it a CHECK: every registry
entry's analyzed logical plan — normalized for the things that
legitimately vary per session (expression ids, application ids, temp
paths, stream query uuids) — is hashed against a committed snapshot
(tests/plan_snapshot.json). An accidental plan change in a tail query
now fails CI the same day, instead of surfacing rounds later at its
next driver check.

Deliberate plan changes update the snapshot by re-running
``python scripts/gen_plan_snapshot.py`` (which probes two fresh
sessions and records only entries whose normalized plan is
session-stable; the rest are listed under "excluded" with the driver
gate as their only guard — keep that list short).
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SNAPSHOT_PATH = Path(__file__).parent / "plan_snapshot.json"
SF_DIR = "/root/testdata/sf0.01"

# Session-variant tokens, in the order they must be scrubbed.
_NORM_RULES = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    # pyspark auto-names HOF lambda variables x_/y_/z_<process-global
    # counter> — the counter depends on how many lambdas the process
    # created before this plan
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"local-\d+"), "APP"),  # applicationId (incl. tmp paths)
    (
        re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
        "UUID",
    ),
    (re.compile(r"/tmp/[^\s,)\]]*"), "/TMP"),  # scratch paths
    (re.compile(r"@[0-9a-f]{6,}"), "@ADDR"),  # object identity hashes
    # host core count (defaultParallelism): the blocked-cosine
    # repartition (similarity.py) and spark.range's default splits.
    # Templates — only the session's OWN core count is scrubbed, so an
    # explicit count elsewhere in a plan still pins
    (r"\bRepartition {cores}, true\b", "Repartition CORES, true"),
    (r"\bsplits=Some\({cores}\)", "splits=Some(CORES)"),
]


def normalized_plan(df) -> str:
    s = df._jdf.queryExecution().analyzed().toString()
    cores = df.sparkSession.sparkContext.defaultParallelism
    for pat, repl in _NORM_RULES:
        if isinstance(pat, str):
            pat = re.compile(pat.format(cores=cores))
        s = pat.sub(repl, s)
    return s


def plan_hash(df) -> str:
    return hashlib.md5(normalized_plan(df).encode()).hexdigest()


def _snapshot() -> dict:
    if not SNAPSHOT_PATH.exists():  # first generation bootstrap
        return {"plans": {}, "excluded": [], "allowed_unpinned_tail": {}}
    return json.loads(SNAPSHOT_PATH.read_text())


SNAP = _snapshot()


@pytest.mark.parametrize("name", sorted(SNAP["plans"]))
def test_plan_matches_snapshot(spark, name):
    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    assert name in REGISTRY, (
        f"{name} is in the snapshot but not the registry — re-run "
        "scripts/gen_plan_snapshot.py after removing a query"
    )
    df = REGISTRY[name][0](spark, SF_DIR)
    got = plan_hash(df)
    want = SNAP["plans"][name]
    assert got == want, (
        f"{name}: analyzed plan changed since the committed snapshot.\n"
        "If the change is DELIBERATE, re-run scripts/gen_plan_snapshot.py "
        "and commit the updated tests/plan_snapshot.json — and if the "
        "query is in _PROVEN_TAIL, move it back into the driver-check "
        "prefix this round (plans/driver_queries.py rotation policy).\n"
        f"normalized plan follows:\n{normalized_plan(df)[:4000]}"
    )


def test_snapshot_covers_registry():
    """Every registry entry is either snapshotted or explicitly
    excluded (with the exclusion listed in the snapshot file), so a new
    query can't silently skip the pin."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    covered = set(SNAP["plans"]) | set(SNAP["excluded"])
    missing = sorted(set(REGISTRY) - covered)
    assert not missing, (
        f"registry entries missing from the plan snapshot: {missing} — "
        "re-run scripts/gen_plan_snapshot.py"
    )


@pytest.mark.parametrize("name", sorted(SNAP.get("twin_plans", {})))
def test_twin_plan_matches_snapshot(spark, name):
    """Batch twins of the drained streaming entries
    (plans/stream_twins.py): the twin applies the streaming query's
    transformation + post-drain projection to a batch read, so this pin
    catches shared-code plan drift that the session-variant streaming
    plan itself cannot expose."""
    from sentinel_landsat_database_creation_spark.plans.stream_twins import (
        TWIN_BUILDERS,
    )

    assert name in TWIN_BUILDERS, (
        f"{name} has a twin pin but no builder — re-run "
        "scripts/gen_plan_snapshot.py after removing a twin"
    )
    df = TWIN_BUILDERS[name](spark, SF_DIR)
    got = plan_hash(df)
    want = SNAP["twin_plans"][name]
    assert got == want, (
        f"twin of {name}: analyzed plan changed since the committed "
        "snapshot. If deliberate, re-run scripts/gen_plan_snapshot.py, "
        "commit the snapshot, and move the streaming entry back into "
        "the driver-check prefix this round.\n"
        f"normalized plan follows:\n{normalized_plan(df)[:4000]}"
    )


def test_every_twin_is_pinned():
    """A twin builder whose plan the generator found session-unstable
    would silently drop out of twin_plans and re-open the gap it was
    built to close — require full coverage."""
    from sentinel_landsat_database_creation_spark.plans.stream_twins import (
        TWIN_BUILDERS,
    )

    missing = sorted(set(TWIN_BUILDERS) - set(SNAP.get("twin_plans", {})))
    assert not missing, (
        f"twin builders without a pinned plan: {missing} — re-run "
        "scripts/gen_plan_snapshot.py (it hard-fails on unstable twins)"
    )


def test_unpinned_allowlist_is_closed():
    """The ALLOWED_UNPINNED_TAIL escape hatch must not grow silently
    (r7 VERDICT item 6): every member needs a written justification
    AND deliberate enrollment here. The seven streaming drains are the
    only plans whose analyzed form embeds per-run stream state that
    no normalization can scrub; each is guarded by its exact oracle
    in the in-repo replica plus a pinned batch twin (twin_plans /
    user_sessions). Adding an entry requires editing BOTH the
    justification dict (scripts/gen_plan_snapshot.py — see the policy
    comment above it) and this frozen set, in the same commit."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from gen_plan_snapshot import ALLOWED_UNPINNED_TAIL

    enrolled = {
        "stream_sessions",
        "stream_sessions_native",
        "stream_weekly_counts",
        "stream_dedup_keys",
        "stream_dedup_ttl",
        "stream_click_signup",
        # r10: spills to the tail for the first time; justified by the
        # exact batch oracle + the new twin_stream_lsh_delta pin
        "stream_lsh_delta",
    }
    assert set(ALLOWED_UNPINNED_TAIL) == enrolled, (
        "ALLOWED_UNPINNED_TAIL changed without deliberate enrollment: "
        f"{sorted(set(ALLOWED_UNPINNED_TAIL) ^ enrolled)} — a new "
        "unpinned entry needs a written justification AND this test "
        "updated in the same commit (policy comment in "
        "scripts/gen_plan_snapshot.py)"
    )
    # the committed snapshot must agree with the source-of-truth dict
    assert set(SNAP.get("allowed_unpinned_tail", {})) == enrolled
    for name, why in ALLOWED_UNPINNED_TAIL.items():
        assert len(why.strip()) >= 40, f"{name}: justification too thin"


def test_tail_entries_are_pinned():
    """The rotation policy's load-bearing set: every _PROVEN_TAIL entry
    must carry a plan pin (a tail entry in 'excluded' would re-open the
    manual-diff-review hole this test exists to close) — unless its
    exclusion is one of the documented session-variant streaming
    shapes."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        _PROVEN_TAIL,
    )

    unpinned = [
        n
        for n in _PROVEN_TAIL
        if n not in SNAP["plans"] and n not in SNAP["allowed_unpinned_tail"]
    ]
    assert not unpinned, (
        f"tail entries without a plan pin: {unpinned} — either make "
        "their plans deterministic, move them into the driver-check "
        "prefix, or (for inherently session-variant plans) add them to "
        "allowed_unpinned_tail with a reason in gen_plan_snapshot.py"
    )
