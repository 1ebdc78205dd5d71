"""Plan pins for every registry entry.

Every session-stable registry entry is pinned by intent: its analyzed
logical plan — normalized for the things that legitimately vary per
session (expression ids, application ids, temp paths, stream query
uuids) — is hashed against a committed snapshot
(tests/plan_snapshot.json), so an accidental plan change fails the
suite the same day instead of surfacing as a wrong answer or a
slowdown later. The only unpinned entries are the drained streaming
queries enrolled in ``ALLOWED_UNPINNED`` (scripts/gen_plan_snapshot.py),
each with a written reason and a pinned batch twin.

Deliberate plan changes update the snapshot by re-running
``python scripts/gen_plan_snapshot.py``, which probes two fresh
sessions and fails, naming the entries, if any entry outside
``ALLOWED_UNPINNED`` is session-unstable.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

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
]


def normalized_plan(df) -> str:
    s = df._jdf.queryExecution().analyzed().toString()
    for pat, repl in _NORM_RULES:
        s = pat.sub(repl, s)
    return s


def plan_hash(df) -> str:
    return hashlib.md5(normalized_plan(df).encode()).hexdigest()


def _snapshot() -> dict:
    if not SNAPSHOT_PATH.exists():  # first generation bootstrap
        return {"plans": {}, "excluded": [], "allowed_unpinned": {}}
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
        "and commit the updated tests/plan_snapshot.json.\n"
        f"normalized plan follows:\n{normalized_plan(df)[:4000]}"
    )


def test_snapshot_covers_registry():
    """Every registry entry is pinned unless ALLOWED_UNPINNED enrolls
    it with a written reason, and the snapshot's 'excluded' list is
    exactly that allowlist: a new entry cannot skip the pin, and a
    pinned entry cannot drop out of it silently."""
    from gen_plan_snapshot import ALLOWED_UNPINNED

    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    unpinned = sorted(
        n
        for n in REGISTRY
        if n not in SNAP["plans"] and len(ALLOWED_UNPINNED.get(n, "").strip()) < 40
    )
    assert not unpinned, (
        f"registry entries without a plan pin: {unpinned} — make their "
        "plans session-stable and re-run scripts/gen_plan_snapshot.py, "
        "or (for inherently session-variant plans) enroll them in "
        "ALLOWED_UNPINNED with a written reason"
    )
    assert SNAP["excluded"] == sorted(ALLOWED_UNPINNED), (
        "the snapshot's excluded list differs from ALLOWED_UNPINNED: "
        f"{sorted(set(SNAP['excluded']) ^ set(ALLOWED_UNPINNED))} — "
        "re-run scripts/gen_plan_snapshot.py"
    )


def test_generator_refuses_unlisted_unstable_entry(monkeypatch, tmp_path):
    """An entry outside ALLOWED_UNPINNED whose plan differs between the
    generator's two probes stops it, naming the entry, before it writes
    a snapshot that would silently exclude it."""
    import subprocess
    import types

    import gen_plan_snapshot
    import test_plan_snapshot as module

    first = {"plans": {"pinned_q": "h1", "drifting_q": "h2"}, "twins": {}}
    second = {"plans": {"pinned_q": "h1", "drifting_q": "h3"}, "twins": {}}
    out = tmp_path / "plan_snapshot.json"
    monkeypatch.setattr(module, "SNAPSHOT_PATH", out)
    monkeypatch.setattr(gen_plan_snapshot, "_probe", lambda: first)
    monkeypatch.setattr(
        subprocess,
        "run",
        lambda *a, **k: types.SimpleNamespace(stdout=json.dumps(second)),
    )
    with pytest.raises(SystemExit) as exc:
        gen_plan_snapshot.main()
    assert "drifting_q" in str(exc.value)
    assert "pinned_q" not in str(exc.value)
    assert not out.exists()


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
        "snapshot. If deliberate, re-run scripts/gen_plan_snapshot.py "
        "and commit the snapshot.\n"
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
    """The ALLOWED_UNPINNED escape hatch must not grow silently: every
    member needs a written reason AND deliberate enrollment here. The
    seven streaming drains are the only plans whose analyzed form
    embeds per-run stream state that no normalization can scrub; each
    is guarded by its exact oracle (tests/test_oracle_equivalence.py)
    plus a pinned batch twin (twin_plans / user_sessions). Adding an
    entry requires editing BOTH the reason dict
    (scripts/gen_plan_snapshot.py) and this frozen set, in the same
    commit."""
    from gen_plan_snapshot import ALLOWED_UNPINNED

    enrolled = {
        "stream_sessions",
        "stream_sessions_native",
        "stream_weekly_counts",
        "stream_dedup_keys",
        "stream_dedup_ttl",
        "stream_click_signup",
        "stream_lsh_delta",
    }
    assert set(ALLOWED_UNPINNED) == enrolled, (
        "ALLOWED_UNPINNED changed without deliberate enrollment: "
        f"{sorted(set(ALLOWED_UNPINNED) ^ enrolled)} — a new "
        "unpinned entry needs a written reason AND this test "
        "updated in the same commit"
    )
    # the committed snapshot must agree with the source-of-truth dict
    assert set(SNAP.get("allowed_unpinned", {})) == enrolled
