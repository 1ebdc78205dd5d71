#!/usr/bin/env python
"""Regenerate tests/plan_snapshot.json (the registry plan pins).

Builds every registry entry's analyzed plan in TWO fresh Spark
sessions (separate JVMs) and pins the normalized-plan hash of each
entry — every session-stable entry, by intent. An entry is stable when
its hash agrees across both probes after scrubbing expression ids,
application ids, temp paths, and uuids
(tests/test_plan_snapshot.py:_NORM_RULES). The only entries allowed to
differ are the streaming drains enrolled in ALLOWED_UNPINNED below,
whose plans carry per-run stream state; they are written to
"excluded". Any other unstable entry, and any unstable batch twin,
makes the generator exit non-zero, naming them, without writing the
snapshot.

Run this ONLY for deliberate plan changes, and commit the diff
together with the code change that caused it:

    python scripts/gen_plan_snapshot.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))

# Streaming entries whose ANALYZED plan embeds per-run stream state
# (source offsets / checkpoint bindings) that no textual normalization
# can make session-stable. Each is justified here by checks that ARE
# pinned: the drained-projection entries carry BATCH TWIN pins
# (plans/stream_twins.py, snapshotted under "twin_plans") that apply
# the same transformation + post-drain projection to a batch read, so
# shared-code plan drift still fails the suite. Keep this list short;
# anything else unstable should be fixed.
ALLOWED_UNPINNED: dict[str, str] = {
    "stream_sessions": (
        "availableNow drain; plan embeds per-run stream state. Guarded "
        "by its watermark-sealed exact oracle (in-repo replica every "
        "run) and the PINNED batch twin user_sessions over the same "
        "sessionizer."
    ),
    "stream_sessions_native": (
        "session_window streaming drain, same per-run state. Guarded "
        "by its exact oracle in the in-repo replica and the pinned "
        "batch session_window shape in user_sessions."
    ),
    "stream_weekly_counts": (
        "availableNow drain of streaming/weekly.py:weekly_counts_stream. "
        "Guarded by its exact oracle in the in-repo replica and the "
        "twin_plans pin (stream_twins.py applies the same transform to "
        "the batch events table)."
    ),
    "stream_dedup_keys": (
        "streaming dropDuplicates drain. Guarded by the batch-DISTINCT "
        "exact oracle in the in-repo replica and its twin_plans pin."
    ),
    "stream_dedup_ttl": (
        "dropDuplicatesWithinWatermark drain (bounded state). Guarded "
        "by the batch-DISTINCT exact oracle in the in-repo replica and "
        "its twin_plans pin (watermark + TTL dedup analyze on batch)."
    ),
    "stream_click_signup": (
        "watermarked stream-stream interval join drain. Guarded by the "
        "exact batch-join oracle in the in-repo replica and its "
        "twin_plans pin over streaming/joins.py:click_signup_join_stream."
    ),
    "stream_lsh_delta": (
        "availableNow drain of streaming/lsh_delta.py:lsh_delta_stream "
        "(memory sink + per-run index fixture paths). Guarded by the "
        "exact batch oracle (SQL_DELTA_NEARDUP) in the in-repo replica "
        "and its twin_plans pin (the same row-local shingle/signature/"
        "bucket plan + probe + verify applied to a batch read)."
    ),
}


def _probe() -> dict[str, dict[str, str | None]]:
    from test_plan_snapshot import SF_DIR, plan_hash

    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )
    from sentinel_landsat_database_creation_spark.plans.stream_twins import (
        TWIN_BUILDERS,
    )
    from sentinel_landsat_database_creation_spark.session import get_spark

    # shuffle_partitions MUST match tests/conftest.py's session (8):
    # explicit-count repartitions (operators/skew.py:full_width) embed
    # the number in the plan text
    spark = get_spark(app_name="plan-snapshot", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, str | None] = {}
    for name, (fn, _) in REGISTRY.items():
        try:
            out[name] = plan_hash(fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001 - record, don't abort
            print(f"  {name}: BUILD FAILED: {exc}", file=sys.stderr)
            out[name] = None
    twins: dict[str, str | None] = {}
    for name, fn in TWIN_BUILDERS.items():
        try:
            twins[name] = plan_hash(fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001 - record, don't abort
            print(f"  twin:{name}: BUILD FAILED: {exc}", file=sys.stderr)
            twins[name] = None
    spark.stop()
    return {"plans": out, "twins": twins}


def main() -> None:
    import subprocess

    from test_plan_snapshot import SNAPSHOT_PATH

    # Probe 2 runs in a SEPARATE interpreter: process-seeded variance
    # (hash randomization, pyspark's process-global lambda-variable
    # counter) only shows up across processes — an in-process re-probe
    # once declared 29 entries "stable" that failed in the next pytest
    # run.
    print("probe 1/2 (this process) ...")
    a = _probe()
    print("probe 2/2 (fresh interpreter) ...")
    res = subprocess.run(
        [sys.executable, __file__, "--probe"],
        capture_output=True,
        text=True,
        check=True,
    )
    b = json.loads(res.stdout.strip().splitlines()[-1])

    a_plans, a_twins = a["plans"], a["twins"]
    b_plans, b_twins = b["plans"], b["twins"]
    plans = {
        n: h for n, h in a_plans.items() if h is not None and b_plans.get(n) == h
    }
    excluded = sorted(set(a_plans) - set(plans))
    twin_plans = {
        n: h for n, h in a_twins.items() if h is not None and b_twins.get(n) == h
    }
    twin_unstable = sorted(set(a_twins) - set(twin_plans))
    print(f"pinned {len(plans)} / {len(a_plans)} entries; excluded: {excluded}")
    print(f"twin pins {len(twin_plans)} / {len(a_twins)}; unstable: {twin_unstable}")
    unexpected = sorted(set(excluded) - set(ALLOWED_UNPINNED))
    if unexpected or twin_unstable:
        sys.exit(
            "session-unstable plans outside ALLOWED_UNPINNED: "
            f"{unexpected}; unstable twins: {twin_unstable} — fix them "
            "before committing (snapshot not written)"
        )
    payload = {
        "_comment": (
            "Generated by scripts/gen_plan_snapshot.py — do not edit by "
            "hand. 'plans' maps registry entry -> md5 of its normalized "
            "analyzed plan at sf0.01; 'excluded' lists entries whose "
            "plans are session-variant even after normalization; "
            "'twin_plans' pins the batch twins of the drained streaming "
            "entries (plans/stream_twins.py)."
        ),
        "plans": dict(sorted(plans.items())),
        "excluded": excluded,
        "twin_plans": dict(sorted(twin_plans.items())),
        "allowed_unpinned": ALLOWED_UNPINNED,
    }
    SNAPSHOT_PATH.write_text(json.dumps(payload, indent=1) + "\n")


if __name__ == "__main__":
    if "--probe" in sys.argv:
        print(json.dumps(_probe()))
    else:
        main()
