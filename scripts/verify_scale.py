#!/usr/bin/env python
"""Hash-verify correctness at the 10x scale tier (round-5 VERDICT
item 3).

scripts/bench_scale.py measures TIME at the 10x synthetic but never
checked RESULTS there — its four scale bugs were caught by crashes, so
a silent wrong-at-scale defect (overflow, skew-related truncation, an
Arrow batch-boundary bug) would pass every gate. This script closes
that: it runs the probe cohort's Spark queries against the sf1
synthetic and compares rows + schema + values to DuckDB running the
SAME oracle over the SAME scaled parquet — the driver's sf0.01
contract, lifted one decade.

Oracle sources per query:
- table-backed queries: their REGISTRY oracle SQL verbatim, with the
  DuckDB views pointed at the sf1 parquet instead of sf0.01.
- generated-fixture queries (crop_volume, scene_tensors_volume): the
  plan modules' oracle GENERATORS instantiated at the sf1 tier's
  params_for values — the sf0.01 instantiation of the same generators
  is what the driver gate checks, so the generators themselves are
  already proven.
- crop_volume_greedy is EXCLUDED, with the reason recorded in the
  artifact: its recursive-CTE oracle carries (cursor, surviving-list)
  state whose cost is quadratic in the per-pair candidate count —
  ~200 candidates at sf0.01, ~4000 at the scale tier — which no SQL
  engine evaluates in useful time. Its semantics stay pinned by the
  sf0.01 hash oracle, the seed/order unit tests, and its native twin
  crop_volume (verified here at 10x).

Writes CORRECTNESS_SCALE.json at the repo root. Offline experiment
script — run by hand, not concurrently with bench_scale.py (shared
sf1 fixture dir; the _DONE marker makes reuse safe sequentially).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from bench_scale import (  # noqa: E402
    CAPPED_CONF,
    CAPPED_QUERIES,
    SF1,
    SF10,
    TABLE_QUERIES,
    _fresh_session,
    build_sf1,
)

# Beyond bench_scale's timing cohort, the ANN/dedup scale paths are
# cheap to verify here and widen the 10x evidence: ann_topk (the
# bucketed/partition-pruned similarity paths), simhash_docs,
# exact_dedup_checks (hash-only dedup shuffles);
# r7 adds its new operators the round they land —
# winnow_fingerprint (row-local HOF selection + hash-only dictionary),
# pii_scrub (scan-speed regex projection over the derived contact
# corpus; the % 100 customer join is SF-invariant), and
# semantic_dedup (SemDeDup cluster-scoped embedding dedup: its
# registry instantiation pins K=16, so the pair space is N^2/16 —
# quadratic like embed_cosine_neardup and likewise EXCLUDED from the
# TIMING probes, but at the 10x tier that is ~25M fold evals / a
# 4.9 s DuckDB oracle, an affordable one-off correctness check; at
# 100x it would be ~2.5G evals, so no tier-2 membership. The 100 TB
# path grows K with the corpus — operators/similarity.py docstring),
# and containment_dedup (candidate-bounded like minhash_estimate —
# shares its banded-LSH candidate set and memoized shingle/signature
# tables; 2,559-row result / 7.5 s oracle at sf1).
# These fit the uncapped local[32] session; the pair-space trio
# (neardup_pipeline, dedup_clusters, lsh_delta_checks) does NOT at sf1 —
# it stays in the capped set exactly as bench_scale measures it.
EXTRA_UNCAPPED = [
    # r8 merges: ann_topk = lsh_topk + ivf_topk; exact_dedup_checks =
    # dedup_docs_exact + normalized_dedup (strictly stronger — both
    # parents' outputs ride each merged hash)
    "ann_topk",
    "simhash_docs",
    "exact_dedup_checks",
    "winnow_fingerprint",
    "pii_scrub",
    "semantic_dedup",
    # r9 entries, hash-verified at 10x the round they land:
    # the distributed Lloyd trainer (broadcast-state recurrence; its
    # PAST-THE-CEILING shape is separately proven by
    # _centroid_scale_probe) and the end-to-end curation write (gate
    # -> mixture -> corpus write -> pack; one vocab probe + narrow
    # filters + a per-shard window — no pair space anywhere)
    "train_centroids_distributed",
    "curation_pipeline_write",
    # r10 entries, hash-verified at 10x the round they land (r12: the
    # standalone ivfpq_topk retired into ann_topk's union above — the
    # merged entry carries its cell-pruned probe, per-query work
    # O(nprobe*N/K), plus the lsh/ivf/pq arms; its DuckDB dist CTEs
    # are N*m*k* ~ 2.6M exact-BIGINT sub-sums at sf1):
    # jsonl_quarantine (one fixture write + one PERMISSIVE read + a
    # lang-keyed aggregate — linear, no pair space; the corrupt_split
    # cache spills MEMORY_AND_DISK so the uncapped heap holds), and
    # corpus_append_compact (two partition-aligned writes + one
    # compaction shuffle + a read-back aggregate — linear)
    "jsonl_quarantine",
    "corpus_append_compact",
    # r11 entries, hash-verified at 10x the round they land:
    # ivfpq_topk_trained (same cell-pruned IVFADC probe as ivfpq_topk
    # plus the two training recurrences — coarse 2 x N x K dot-64s and
    # per-subspace 2 x N*m*k* exact sub-sums, both linear scans; the
    # DuckDB side triples ivfpq's dist-CTE cost, affordable at sf1),
    # corpus_delete_compact (one broadcast semi probe + one partition-
    # pruned anti-join rewrite + a read-back aggregate — linear, the
    # corpus_append_compact cost class), and lsh_index_delete (one
    # full-index scan + bounded shuffle through the sibling swap + a
    # map-side-combined per-band digest — the lsh_index_compact cost
    # class; its oracle re-derives the surviving index rows from
    # documents exactly as lsh_index_compact's does)
    "ivfpq_topk_trained",
    "corpus_delete_compact",
    "lsh_index_delete",
    # approx_stats_checks: two grouped one-pass sketches + exact rank
    # arithmetic per lang — linear, and the sketches' error contracts
    # are what the booleans verify AT scale (the GK rank bound is
    # deterministic at every n; the HLL 10-sigma slack is confirmed
    # empirically at each tier the entry runs)
    "approx_stats_checks",
    # r12 entry, hash-verified at 10x the round it lands:
    # ivfpq_topk_residual — ivfpq_topk_trained's cost class plus the
    # linear gcent/residual projections (one broadcast K-row attach on
    # the corpus scan); the residual PQ trainer is the same 2 x N*m*k*
    # recurrence over residual subvectors
    "ivfpq_topk_residual",
    # r13 entry, hash-verified at 10x the round it lands:
    # ann_index_lifecycle — the persisted-IVFADC write/append/delete
    # fixture (one-time session cost, the lsh_index_delete class) +
    # the file-answered probe (cell-pruned, broadcast LUT) + a
    # map-side-combined per-cell digest; its oracle is
    # ivfpq_topk_trained's verified coarse+PQ k-means cost plus the
    # linear codes/digest CTEs
    "ann_index_lifecycle",
    # (bpe_token_checks joins the TIMING cohorts in bench_scale —
    # fixture-free linear scans — so its tier membership flows in
    # through TABLE_QUERIES/DECADE2_QUERIES, not this list)
]
# containment_dedup moved UNCAPPED -> CAPPED in r8: its small-side
# exact probe made it a pair-space query (the PPJoin-style cascade in
# containment_pairs bounds the blow-up, but the ~27M-group probe
# aggregate at sf1 still needs local[8]'s per-task memory share — 32
# uncapped slots racing the 1 GB heap OOM'd, 8 capped slots run it in
# ~47 s; same classification as the neardup trio below).
TABLE_ORACLE_QUERIES = TABLE_QUERIES + EXTRA_UNCAPPED + [
    "neardup_pipeline",
    "dedup_clusters",
    "lsh_delta_checks",
    "containment_dedup",
    # r9: the streaming LSH-delta drain runs in the capped set (its
    # membership comes from bench_scale.CAPPED_QUERIES) and is held to
    # the batch lifecycle's oracle here exactly as at sf0.01 — this
    # list is what builds the oracle dict, and omitting a capped
    # runner is a KeyError at compare time (measured: the first r9
    # full run died on exactly that after every frame had matched)
    "stream_lsh_delta",
]

# second decade: when bench_scale's sf10 synthetic exists, the
# decade-2 cohort is hash-verified there too (results_tier2) — same
# membership and capped conditions as bench_scale.DECADE2_QUERIES
# (stream_sessions is documented out there; minhash_estimate joined
# in r8 once the 60-bit keys made it fit, digest-compared because its
# sf10 candidate table is too wide to collect)
from bench_scale import DECADE2_QUERIES as TIER2_QUERIES  # noqa: E402

# Tier-2 members beyond bench_scale's TIMING cohort: entries whose
# 100x HASH verification landed via --tier2-patch the round they
# shipped (the r10 trio, then the r11 four). They are deliberately
# NOT in DECADE2_QUERIES — that list drives bench_scale's decade-2
# TIMING probes, and these entries' costs are dominated by one-time
# session fixtures (index/corpus writes) whose exponents would
# measure setup, not plans — but the FULL verification run must still
# cover them: without this list a full re-run would silently DROP
# their results_tier2 evidence down to the timing cohort (r11 ADVICE-
# class gap, caught in self-review).
TIER2_EXTRA = [
    # r12: ivfpq_topk retired into ann_topk's four-way union — the
    # union entry inherits its tier-2 slot, so the ivfpq arm's 100x
    # evidence continues under the merged hash (the other
    # three arms are cell/bucket-pruned or N·m·k* linear, all cheaper
    # than the ivfpq CTE stack already verified here in r10/r11)
    "ann_topk",
    "jsonl_quarantine",
    "corpus_append_compact",
    "ivfpq_topk_trained",
    # r12: the residual IVFADC entry, patch-verified the round it
    # lands — its oracle adds the gcent/residual CTEs (linear) on top
    # of ivfpq_topk_trained's verified coarse+PQ k-means cost
    "ivfpq_topk_residual",
    "corpus_delete_compact",
    "lsh_index_delete",
    "approx_stats_checks",
    # r13: the persisted-ANN lifecycle, patch-verified the round it
    # lands — fixture-dominated cost (index writes), so no DECADE2
    # timing membership, but the 100x hash evidence lives here
    "ann_index_lifecycle",
]

# Results too large to collect to the driver at the 100x tier are
# compared via an IN-ENGINE digest instead of a row-by-row frame diff:
# both engines aggregate (count, sum of a 32-bit md5 prefix over the
# '|'-joined sorted columns) so verification cost stays in the engines
# and the comparison is O(1) rows — the only comparison strategy that
# survives arbitrary scale. Sound here because every registry output
# is exact by design (longs / strings / bools — no engine-variant
# float rendering enters the digest). user_sessions emits ~9.5M rows
# at sf10; its full-frame collect killed the 1 GB Spark driver.
DIGEST_TIER2 = {
    "user_sessions",
    "minhash_lsh",
    "minhash_estimate",
}

# Tier-2 oracle exclusions, each with its measured story (the same
# honesty contract as EXCLUDED below and bench_scale's
# quadratic_baselines_excluded). containment_dedup: r9 attempted the
# r8 VERDICT's in-engine-digest plan and MEASURED it infeasible on
# this box — the UNFILTERED oracle formulation's distinct-pair state
# at sf10 (the naive inverted-index self-join the PPJoin cascade
# exists to avoid; ~1.7G directed probe rows on the
# boilerplate-dominated synthetic) exceeded the ~73 GB of free disk
# as spill TWICE: once under the default DuckDB session (died writing
# .tmp under the repo) and once tuned (preserve_insertion_order=false,
# threads=8, memory_limit=90GB, dedicated temp dir — died after ~55
# min at 73 GB spilled). A chunked pure-output-partition evaluation
# (WHERE doc_a % K = i, digests summed) bounds the DISTINCT state by
# 1/K but re-runs the full probe join K times (~3-5 h at K=4) —
# out of scope for a per-round artifact run on one node. What IS
# verified: the cascade == unfiltered-oracle equivalence is
# hash-pinned at sf0.01 (driver gate) and at sf1 (tier-1 full-frame
# MATCH here, 341 s oracle), the sf10 Spark digest row count (27,827)
# reproduces the r8 measurement exactly, and the sf10 TIMING is in
# BENCH_SCALE.json's second decade (e 0.98). The exclusion is
# recorded in the artifact so the gap is visible, not silent.
EXCLUDED_TIER2 = {
    "containment_dedup": (
        "unfiltered-oracle DuckDB evaluation at sf10 needs more than "
        "the box's 73 GB free disk as spill (two measured deaths: "
        "default session, and preserve_insertion_order=false + "
        "threads=8 + memory_limit=90GB + dedicated temp dir, ~55 min "
        "in); chunked K-way evaluation bounds state but multiplies "
        "the full probe join by K (~3-5 h at K=4). Equivalence to the "
        "cascade is hash-pinned at sf0.01 (driver) and sf1 (tier-1 "
        "full-frame MATCH, 341 s oracle); Spark's sf10 digest row "
        "count 27,827 reproduces the r8 measurement; the sf10 timing "
        "is recorded in BENCH_SCALE.json (second decade, e 0.98)."
    ),
}

# Payload-pipeline tier-2 conditions: CAPPED_CONF with the per-slot
# memory knobs one notch tighter (rationale at the call site).
PAYLOAD_TIER2_CONF = dict(
    CAPPED_CONF,
    **{
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32",
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    },
)

EXCLUDED = {
    "crop_volume_greedy": (
        "the 256px-tier instantiation only: recursive-CTE oracle state "
        "is quadratic in per-pair candidate count (~4000 at this tier "
        "vs ~200 at sf0.01), which no SQL engine evaluates in useful "
        "time. The PAIR-count scale axis — the one the operator scales "
        "along in production (pairs partition freely; per-pair "
        "candidates are bounded by mask density by design) — IS "
        "verified here since r7: crop_volume_greedy_scale runs the "
        "same compat pipeline at 10x the driver fixture's pairs "
        "against greedy_oracle_sql(60). Candidate-count semantics stay "
        "pinned by the sf0.01 hash oracle + unit tests + the native "
        "twin crop_volume (also verified here at the 256px tier)."
    ),
}


def _generated_oracles() -> dict[str, str]:
    from sentinel_landsat_database_creation_spark.plans import crop_volume as cv
    from sentinel_landsat_database_creation_spark.plans import (
        scene_int16 as si16,
    )
    from sentinel_landsat_database_creation_spark.plans import scene_volume as sv

    cp = cv.params_for(SF1)
    sp = sv.params_for(SF1)
    ip = si16.params_for(SF1)
    return {
        "crop_volume": cv.scale_oracle_sql(cp["n_pairs"], cp["hrw"], cp["lrw"]),
        "scene_tensors_volume": sv.scale_oracle_sql(
            sp["n_pairs"], sp["hrw"], sp["lrw"]
        ),
        "scene_tensors_int16": si16.scale_oracle_sql(ip["n_pairs"], ip["w"]),
    }


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    # same discipline as scripts/verify_drive.py
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype) or "decimal" in str(pdf[c].dtype).lower():
            pdf[c] = pd.to_numeric(pdf[c], errors="coerce").round(4)
        elif "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _compare(qname: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    rec = {
        "rows_match": len(sdf) == len(odf),
        "schema_match": sorted(sdf.columns) == sorted(odf.columns),
        "values_match": False,
        "n_rows": int(len(sdf)),
        "err": None,
    }
    if not rec["rows_match"] or not rec["schema_match"]:
        rec["err"] = f"rows {len(sdf)} vs {len(odf)}; cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        return rec
    a, b = _normalize(sdf), _normalize(odf)
    try:
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, rtol=1e-3, atol=1e-6
        )
        rec["values_match"] = True
    except AssertionError as exc:
        rec["err"] = f"value mismatch: {str(exc)[:300]}"
    return rec


def _digest_spark(df) -> tuple[pd.DataFrame, dict]:
    """(n_rows, digest) of a DataFrame, computed in-engine: sum of a
    32-bit md5 prefix over the '|'-joined sorted columns. Returns the
    1-row pandas frame plus the column spec the oracle wrapper must
    reproduce. DOUBLE columns enter the digest as round(x * 1e9)
    BIGINTs (r8, for minhash_estimate's ratio columns): the underlying
    doubles are bit-identical by construction, so the scaled rounding
    is identical on both engines, while raw double->string rendering
    is not a cross-engine contract."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    dtypes = dict(df.dtypes)
    dbl = sorted(c for c in cols if dtypes[c] in ("double", "float"))
    parts = [
        F.round(F.col(c) * 1e9, 0).cast("long").cast("string")
        if c in dbl
        else F.col(c).cast("string")
        for c in cols
    ]
    joined = F.concat_ws("|", *parts)
    # 32-bit prefix: a 48-bit one overflowed the BIGINT sum at ~10M
    # rows (ANSI long overflow, caught on the first digest run)
    d = F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")
    out = df.select(d.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("d").cast("long").alias("digest"),
    )
    return out.toPandas(), {"cols": cols, "double_cols": dbl}


def _digest_oracle_sql(inner_sql: str, spec: dict) -> str:
    joined = ", ".join(
        f"CAST(CAST(round({c} * 1e9) AS BIGINT) AS VARCHAR)"
        if c in spec["double_cols"]
        else f"CAST({c} AS VARCHAR)"
        for c in sorted(spec["cols"])
    )
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', {joined})), 1, 8)) AS BIGINT)) AS BIGINT) AS digest
FROM ({inner_sql}) _digest_src
"""


def _safe_err(exc: Exception) -> str:
    """Stringify without trusting the exception: a Py4JJavaError's
    __str__ calls back into the gateway, so formatting the error from
    a DEAD JVM raised ConnectionRefusedError and killed the whole
    verification run (measured r7) — exactly the cascade this function
    exists to stop."""
    try:
        return f"{type(exc).__name__}: {exc}"[:300]
    except Exception:  # noqa: BLE001 — __str__ needs the dead gateway
        return f"{type(exc).__name__} (unprintable: gateway dead)"


def _run_spark_set(
    queries: list[str],
    capped: bool,
    results: dict,
    tier_dir: str,
    digest: frozenset = frozenset(),
    digest_cols: dict | None = None,
    conf: dict | None = None,
    master: str | None = None,
) -> dict:
    """Run a query set at ``tier_dir``, collecting pandas results (or
    in-engine digests for ``digest`` members). Capped sets run at
    local[8] + the payload-sized conf, mirroring bench_scale's
    measurement conditions (the honest probe's memory:core story).

    Like bench.py/bench_scale.run_set, one query killing the 1 GB
    harness JVM must not void the rest of the cohort: a dead context
    is rebuilt and the failed query RETRIED once in the fresh session
    (heap pressure accumulated from earlier collects, not the query's
    own plan, is the usual killer — r7 measured exactly that after
    eight 500k-row toPandas collects in one session)."""
    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )
    from sentinel_landsat_database_creation_spark.session import context_dead

    name = "vscale-capped" if capped else "vscale"
    if conf is None:
        conf = CAPPED_CONF if capped else None
    if master is None:
        master = "local[8]" if capped else None
    spark = _fresh_session(name, conf, master)
    out: dict[str, pd.DataFrame] = {}

    def run_one(q):
        t0 = time.perf_counter()
        df = REGISTRY[q][0](spark, tier_dir)
        if q in digest:
            res, spec = _digest_spark(df)
            if digest_cols is not None:
                digest_cols[q] = spec
            print(
                f"  spark {q}: digest over {int(res['n_rows'][0])} rows "
                f"in {time.perf_counter()-t0:.1f}s"
            )
        else:
            res = df.toPandas()
            print(
                f"  spark {q}: {len(res)} rows in "
                f"{time.perf_counter()-t0:.1f}s"
            )
        return res

    for q in queries:
        if context_dead(spark):
            try:
                spark.stop()
            except Exception:  # noqa: BLE001 — dead gateway
                pass
            spark = _fresh_session(name, conf, master)
            print("  [session revived]")
        try:
            out[q] = run_one(q)
        except Exception as exc:  # noqa: BLE001 — maybe the JVM died:
            # revive and retry once before recording a failure
            first = _safe_err(exc)
            if context_dead(spark):
                try:
                    spark.stop()
                except Exception:  # noqa: BLE001
                    pass
                spark = _fresh_session(name, conf, master)
                print(f"  [session died on {q} ({first}); revived, retrying]")
                try:
                    out[q] = run_one(q)
                    continue
                except Exception as exc2:  # noqa: BLE001
                    first = _safe_err(exc2)
            results[q] = {
                "rows_match": False,
                "schema_match": False,
                "values_match": False,
                "n_rows": None,
                "err": f"spark error: {first}",
            }
            print(f"  spark {q}: FAILED {first}")
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a query death can leave the
        # gateway dead; one failed entry must not abort the whole run
        # (measured r8: containment's OOM killed the remaining tiers)
        pass
    return out


def _oracle_compare(
    spark_frames: dict,
    oracles: dict,
    tier_dir: str,
    results: dict,
    digest_cols: dict | None = None,
) -> None:
    con = duckdb.connect()
    # r9: tuned for the sf10-tier digest oracles. The containment
    # digest's unfiltered pair formulation spilled past the ~73 GB of
    # free disk under the DEFAULT session (measured: "No space left on
    # device" from .tmp under the repo). Order never matters here —
    # _normalize sorts full frames and the digests are order-free sums
    # — and preserve_insertion_order=false removes the materialization
    # that order guarantee costs; a bounded thread count bounds
    # per-thread operator buffers; the explicit temp_directory keeps
    # any residual spill off the repo tree.
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET threads=8")
    con.execute("SET memory_limit='90GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
    for t in tables:
        p = f"{tier_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
            )
        except Exception:  # noqa: BLE001 — tier dir without this table
            # (r14: patch modes for the SELF-GENERATED fixtures — e.g.
            # scene_tensors_volume's closed-form tier-2 oracle — need
            # only the tier dir's NAME; an oracle that actually reads a
            # missing table still fails loudly at execute() below)
            pass
    for q, sdf in spark_frames.items():
        t0 = time.perf_counter()
        sql = oracles[q]
        if digest_cols and q in digest_cols:
            sql = _digest_oracle_sql(sql, digest_cols[q])
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as exc:  # noqa: BLE001
            results[q] = {
                "rows_match": False,
                "schema_match": False,
                "values_match": False,
                "n_rows": int(len(sdf)),
                "err": f"oracle error: {type(exc).__name__}: {exc}"[:300],
            }
            print(f"  oracle {q}: FAILED {exc}"[:200])
            continue
        results[q] = _compare(q, sdf, odf)
        status = "MATCH" if results[q]["values_match"] else f"FAIL ({results[q]['err']})"
        print(f"  {q}: {status} [{len(sdf)} rows, oracle {time.perf_counter()-t0:.1f}s]")


def _centroid_scale_probe(results: dict) -> None:
    """At-scale evidence for train_centroids_distributed (r8): the
    registry pins the COLLECTED driver path against its DuckDB oracle
    at sf0.01, and the distributed path is unit-tested value-equal to
    the driver path — this probe extends that equality chain to a
    20k x 64-dim synthetic corpus below the K·d ceiling (K=256: the
    two paths' full centroid states compared row-exact), then runs the
    distributed path PAST the ceiling the driver path refuses
    (K=4096 x d=512 = 2.097M > TRAIN_KD_CEILING, asserted to raise)
    and checks the Lloyd invariants there: exactly K cells, member
    counts summing to N, every sum vector at full dimension. The
    synthetic embeddings are md5-seeded (deterministic, no RNG), so
    the probe is reproducible bit-for-bit."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators import (
        similarity as sim,
    )

    name = "centroids_distributed_scale"
    spark = _fresh_session("vscale-centroids", CAPPED_CONF, "local[8]")
    try:
        t0 = time.perf_counter()

        def synth(n: int, d: int):
            vec = F.transform(
                F.sequence(F.lit(1), F.lit(d)),
                lambda j: (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("vec_id"), j)),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("double")
                    / F.lit(4294967296.0)
                    - F.lit(0.5)
                ).cast("float"),
            )
            return (
                spark.range(n)
                .select(F.col("id").alias("vec_id"))
                .select("vec_id", vec.alias("embedding"))
                .localCheckpoint(eager=True)
            )

        eq_emb = synth(20_000, 64)
        want = sim.train_centroids(eq_emb, n_centroids=256, n_iters=2)
        got = sorted(
            (int(r["cell"]), [int(x) for x in r["s"]], int(r["n"]))
            for r in sim.train_centroids_distributed(
                eq_emb, n_centroids=256, n_iters=2
            ).collect()
        )
        eq_ok = got == want
        print(
            f"  {name}: under-ceiling equality (K=256, d=64) "
            f"{'MATCH' if eq_ok else 'MISMATCH'} "
            f"[{time.perf_counter()-t0:.1f}s]"
        )

        # Past-ceiling shape: crossing K·d > 2M is about the STATE
        # size, not the corpus — assignment cost is N·K·d, so keep N
        # at the minimum that still gives a non-degenerate second
        # phase (every cell seeded, ~32% of vectors non-seed). The
        # first probe sizing (N=20k) ran the same state shape 3.3x
        # longer for no extra evidence.
        big_n, big_k, big_d = 6_000, 4_096, 512
        big_emb = synth(big_n, big_d)
        guard_ok = False
        try:
            sim.train_centroids(big_emb, n_centroids=big_k, n_iters=1)
        except ValueError:
            guard_ok = True
        t1 = time.perf_counter()
        state = sim.train_centroids_distributed(
            big_emb, n_centroids=big_k, n_iters=1
        )
        inv = state.agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum("n").alias("members"),
            F.min(F.size("s")).alias("dmin"),
            F.max(F.size("s")).alias("dmax"),
        ).collect()[0]
        inv_ok = (
            int(inv["cells"]) == big_k
            and int(inv["members"]) == big_n
            and int(inv["dmin"]) == big_d
            and int(inv["dmax"]) == big_d
        )
        secs = round(time.perf_counter() - t1, 1)
        ok = eq_ok and guard_ok and inv_ok
        results[name] = {
            "rows_match": ok,
            "schema_match": ok,
            "values_match": ok,
            "n_rows": int(inv["cells"]),
            "err": None
            if ok
            else (
                f"eq_ok={eq_ok} guard_ok={guard_ok} inv_ok={inv_ok} "
                f"(cells={int(inv['cells'])}, members={int(inv['members'])})"
            ),
            "past_ceiling": (
                f"K={big_k} x d={big_d} = {big_k*big_d/1e6:.3f}M "
                f"(> 2M ceiling), N={big_n}, 1 iter"
            ),
            "past_ceiling_secs": secs,
        }
        print(
            f"  {name}: past-ceiling run (K·d=2.097M) "
            f"{'OK' if inv_ok and guard_ok else 'FAILED'} in {secs}s"
        )
    except Exception as exc:  # noqa: BLE001 — record, keep verifying
        results[name] = {
            "rows_match": False,
            "schema_match": False,
            "values_match": False,
            "n_rows": None,
            "err": f"spark error: {type(exc).__name__}: {exc}"[:300],
        }
        print(f"  {name}: FAILED {exc}"[:200])
    try:
        spark.stop()
    except Exception:  # noqa: BLE001
        pass


def main() -> None:
    os.environ["SPARK_GRAFT_MEMO_STORAGE"] = "DISK_ONLY"
    spark = _fresh_session("vscale-build")
    build_sf1(spark)
    spark.stop()

    from sentinel_landsat_database_creation_spark.plans.driver_queries import (
        REGISTRY,
    )

    results: dict[str, dict] = {}
    # --tier2-only: iterate on the sf10 phase without re-running the
    # ~30 min 10x phase; tier-1 results merge in from the existing
    # artifact (same code, same fixtures — the full run remains the
    # canonical end-to-end path)
    tier2_only = "--tier2-only" in sys.argv
    # --tier1-patch q1,q2: re-run named tier-1 queries (fresh uncapped
    # session, digest rules as in the full run) and merge them into the
    # existing artifact — for repairing a single entry after a fix
    # without the ~40 min full run. The full run stays the canonical
    # end-to-end path.
    if "--tier1-patch" in sys.argv:
        qnames = sys.argv[sys.argv.index("--tier1-patch") + 1].split(",")
        path = Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json"
        prior = json.loads(path.read_text())
        results = prior["results"]
        digest1 = frozenset(
            {"minhash_lsh", "minhash_estimate", "user_sessions"}
        ) & frozenset(qnames)
        dcols1: dict = {}
        frames = _run_spark_set(
            qnames,
            capped="--capped" in sys.argv,
            results=results,
            tier_dir=SF1,
            digest=digest1,
            digest_cols=dcols1,
        )
        oracles = {q: REGISTRY[q][1] for q in qnames}
        # generated-fixture entries need the sf1 instantiation of their
        # oracle generators, exactly as the full run builds them — the
        # registry holds the sf0.01 instantiation (r14: patching
        # scene_tensors_volume compared 2000 rows against the 12-row
        # driver oracle until this overlay landed)
        for q, sql in _generated_oracles().items():
            if q in oracles:
                oracles[q] = sql
        _oracle_compare(frames, oracles, SF1, results, digest_cols=dcols1)
        for q in dcols1:
            if q in results:
                results[q]["digest"] = True
        n_pass = sum(1 for r in results.values() if r.get("values_match"))
        prior["results"] = dict(sorted(results.items()))
        prior["n_checked"] = len(results)
        prior["n_pass"] = n_pass
        path.write_text(json.dumps(prior, indent=1) + "\n")
        print(f"\nSCALE VERIFY (tier1-patch merge): {n_pass}/{len(results)}")
        return
    # --tier2-patch q1,q2: the tier-1 patch mode one tier up — re-run
    # named queries at the sf10 tier (capped conditions, DIGEST_TIER2
    # digest rules) and merge into the existing artifact's
    # results_tier2. Exists because the sf10 containment digest is a
    # multi-hour two-engine evaluation: repairing it after a harness
    # fix must not cost the full ~40 min tier-1 run on top.
    if "--tier2-patch" in sys.argv:
        qnames = sys.argv[sys.argv.index("--tier2-patch") + 1].split(",")
        path = Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json"
        prior = json.loads(path.read_text())
        results10 = prior["results_tier2"]
        dcols: dict = {}
        # scene_tensors_volume runs under its OWN tier-2 conditions
        # (PAYLOAD_TIER2_CONF + local[4]) and a GENERATED oracle — the
        # generic path below would use the sf0.01 registry oracle and
        # the wrong conf (r14: needed to re-verify the stats-decode
        # path without the full tier-2 run; its self-generated fixture
        # also means it needs only SF10's NAME, not the synthetic
        # tables)
        scene_special = "scene_tensors_volume" in qnames
        qnames = [q for q in qnames if q != "scene_tensors_volume"]
        frames10 = {}
        if qnames:
            frames10 = _run_spark_set(
                qnames,
                capped=True,
                results=results10,
                tier_dir=SF10,
                digest=frozenset(DIGEST_TIER2) & frozenset(qnames),
                digest_cols=dcols,
            )
        if scene_special:
            frames10.update(
                _run_spark_set(
                    ["scene_tensors_volume"],
                    capped=True,
                    results=results10,
                    tier_dir=SF10,
                    digest=frozenset({"scene_tensors_volume"}),
                    digest_cols=dcols,
                    conf=PAYLOAD_TIER2_CONF,
                    master="local[4]",
                )
            )
            qnames = qnames + ["scene_tensors_volume"]
        oracles10 = {q: REGISTRY[q][1] for q in qnames}
        if scene_special:
            from sentinel_landsat_database_creation_spark.plans import (
                scene_volume as _sv,
            )

            sp10 = _sv.params_for(SF10)
            oracles10["scene_tensors_volume"] = _sv.scale_oracle_sql(
                sp10["n_pairs"], sp10["hrw"], sp10["lrw"]
            )
        _oracle_compare(frames10, oracles10, SF10, results10, digest_cols=dcols)
        for q in dcols:
            if q in results10:
                results10[q]["digest"] = True
        n_pass10 = sum(1 for r in results10.values() if r.get("values_match"))
        prior["results_tier2"] = dict(sorted(results10.items()))
        prior["n_checked_tier2"] = len(results10)
        prior["n_pass_tier2"] = n_pass10
        path.write_text(json.dumps(prior, indent=1) + "\n")
        print(f"\nSCALE VERIFY (tier2-patch merge): {n_pass10}/{len(results10)}")
        return
    # --centroids-only: (re)run just the centroid-scale probe and merge
    # it into the existing artifact — it needs no tier fixtures, so
    # iterating on it must not cost the ~40 min full run
    if "--centroids-only" in sys.argv:
        path = Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json"
        prior = json.loads(path.read_text())
        results = prior["results"]
        _centroid_scale_probe(results)
        n_pass = sum(1 for r in results.values() if r.get("values_match"))
        prior["results"] = dict(sorted(results.items()))
        prior["n_checked"] = len(results)
        prior["n_pass"] = n_pass
        path.write_text(json.dumps(prior, indent=1) + "\n")
        print(f"\nSCALE VERIFY (centroids-only merge): {n_pass}/{len(results)}")
        return
    # --greedy-only: (re)run just the greedy walk's pair-scale twin
    # (crop_volume_greedy_scale, the full run's dedicated block) and
    # merge — the patch mode the r14 Arrow-path change needs, since
    # the twin is not a registry entry and --tier1-patch can't name it
    if "--greedy-only" in sys.argv:
        import duckdb

        from sentinel_landsat_database_creation_spark.plans import (
            crop_volume as _cv,
        )

        path = Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json"
        prior = json.loads(path.read_text())
        results = prior["results"]
        gname = "crop_volume_greedy_scale"
        gspark = _fresh_session("vscale-greedy", CAPPED_CONF, "local[8]")
        t0 = time.perf_counter()
        gdf = _cv.greedy_scale_twin(gspark, n_pairs=60).toPandas()
        gspark.stop()
        print(f"  spark {gname}: {len(gdf)} rows in {time.perf_counter()-t0:.1f}s")
        odf = duckdb.connect().execute(_cv.greedy_oracle_sql(60)).df()
        ok = len(gdf) == len(odf) and gdf.astype(
            odf.dtypes.to_dict()
        ).equals(odf)
        results[gname] = {
            "rows_match": len(gdf) == len(odf),
            "schema_match": list(gdf.columns) == list(odf.columns),
            "values_match": bool(ok),
            "n_rows": len(gdf),
            "err": None,
        }
        n_pass = sum(1 for r in results.values() if r.get("values_match"))
        prior["results"] = dict(sorted(results.items()))
        prior["n_checked"] = len(results)
        prior["n_pass"] = n_pass
        path.write_text(json.dumps(prior, indent=1) + "\n")
        print(f"\nSCALE VERIFY (greedy-only merge): {n_pass}/{len(results)}")
        return
    if tier2_only:
        prior = json.loads(
            (Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json").read_text()
        )
        results = prior["results"]
        print(f"(tier2-only: tier-1 results carried from prior artifact, "
              f"{prior['n_pass']}/{prior['n_checked']})")
    else:
        # split mirrors bench_scale: the payload/pair-space queries only
        # fit the 1 GB harness heap under the capped local[8] conditions.
        # The uncapped cohort itself runs as TWO sessions: eight+ 500k-row
        # collects in one 1 GB JVM accumulated enough heap pressure to
        # kill the gateway mid-cohort (measured r7) — the queries are
        # independent, so session-scoped accumulation is pure harness
        # artifact, not plan cost.
        # Tier-1 digest set (r8): the three biggest frames collected
        # ~2M pandas rows into the 1 GB driver; minhash_lsh's 522k-row
        # collect alone left so little driver heap that the NEXT
        # query's (tiny, correct) vocab broadcast failed to build
        # ("Not enough memory to build and broadcast", measured this
        # round after the key narrowing flipped that join to
        # broadcast). The in-engine digest is the same all-values
        # comparison with O(1) rows on the wire — the proven tier-2
        # mechanism applied one tier down.
        dcols1: dict = {}
        digest1 = frozenset({"minhash_lsh", "minhash_estimate", "user_sessions"})
        table_res = _run_spark_set(
            TABLE_QUERIES,
            capped=False,
            results=results,
            tier_dir=SF1,
            digest=digest1,
            digest_cols=dcols1,
        )
        table_res.update(
            _run_spark_set(
                EXTRA_UNCAPPED,
                capped=False,
                results=results,
                tier_dir=SF1,
            )
        )
        capped = [q for q in CAPPED_QUERIES if q not in EXCLUDED]
        capped_res = _run_spark_set(
            capped, capped=True, results=results, tier_dir=SF1
        )

        # the greedy walk's pair-scale twin (round-6 VERDICT item 4):
        # 10x the driver fixture's pairs at the oracle-tractable raster
        # shape — see EXCLUDED["crop_volume_greedy"] for the axis split
        from sentinel_landsat_database_creation_spark.plans import (
            crop_volume as _cv,
        )

        gname = "crop_volume_greedy_scale"
        gspark = _fresh_session("vscale-greedy", CAPPED_CONF, "local[8]")
        try:
            t0 = time.perf_counter()
            gdf = _cv.greedy_scale_twin(gspark, n_pairs=60).toPandas()
            capped_res[gname] = gdf
            print(
                f"  spark {gname}: {len(gdf)} rows in "
                f"{time.perf_counter()-t0:.1f}s"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep verifying
            results[gname] = {
                "rows_match": False,
                "schema_match": False,
                "values_match": False,
                "n_rows": None,
                "err": f"spark error: {type(exc).__name__}: {exc}"[:300],
            }
            print(f"  spark {gname}: FAILED {exc}"[:200])
        gspark.stop()

        # semantic_dedup K-growth twin: the registry entry pins K=16,
        # so its pair space is N^2/16 — the 10x check above is the
        # fixed-K correctness point, not the scale path. The 100 TB
        # path grows K with the corpus (SemDeDup uses K ~ sqrt(N));
        # at sf1 (10x vectors) K=160 keeps the expected cell size at
        # the fixture's (~125 vs 20k/160), so TOTAL pair work stays at
        # the fixture's per-vector rate instead of 10x it. Verified
        # against the SAME generated oracle (_sql_semantic_dedup(160))
        # under the capped local[8] 1 GB conditions.
        from sentinel_landsat_database_creation_spark.operators.similarity import (
            semantic_dedup as _semdedup,
        )
        from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
            _sql_semantic_dedup,
        )

        sname = "semantic_dedup_scale"
        sspark = _fresh_session("vscale-semantic", CAPPED_CONF, "local[8]")
        try:
            t0 = time.perf_counter()
            from pyspark.sql import functions as F

            emb = sspark.read.parquet(f"{SF1}/embeddings.parquet")
            cent = emb.filter(F.col("vec_id") < 160).select(
                F.col("vec_id").alias("cent_id"), "embedding"
            )
            sdf = (
                _semdedup(emb, cent, threshold=0.35)
                .orderBy("vec_id")
                .toPandas()
            )
            capped_res[sname] = sdf
            print(
                f"  spark {sname} (K=160): {len(sdf)} rows in "
                f"{time.perf_counter()-t0:.1f}s"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep verifying
            results[sname] = {
                "rows_match": False,
                "schema_match": False,
                "values_match": False,
                "n_rows": None,
                "err": f"spark error: {type(exc).__name__}: {exc}"[:300],
            }
            print(f"  spark {sname}: FAILED {exc}"[:200])
        sspark.stop()

        # r8: distributed Lloyd path past the driver K·d ceiling
        _centroid_scale_probe(results)

        spark_frames = {**table_res, **capped_res}

        oracles = {q: REGISTRY[q][1] for q in TABLE_ORACLE_QUERIES}
        oracles.update(_generated_oracles())
        oracles[gname] = _cv.greedy_oracle_sql(60)
        oracles[sname] = _sql_semantic_dedup(160)
        _oracle_compare(spark_frames, oracles, SF1, results, digest_cols=dcols1)
        for q in dcols1:
            if q in results:
                results[q]["digest"] = True

    # second decade, when bench_scale has landed the sf10 synthetic
    # (SF10 imported at module top — an inner import here once made the
    # name main-local and broke --tier2-patch's earlier use of it)
    results10: dict[str, dict] = {}
    if os.path.exists(os.path.join(SF10, "_DONE")):
        # capped conditions, as in bench_scale's second decade: at sf10
        # the memo builds and 64m-threshold broadcasts OOM the 1 GB
        # harness heap at 32 slots
        print("second decade (sf10, local[8] capped) ...")
        dcols: dict = {}
        tier2_run = [
            q
            for q in list(TIER2_QUERIES) + TIER2_EXTRA
            if q not in EXCLUDED_TIER2
        ]
        frames10 = _run_spark_set(
            tier2_run,
            capped=True,
            results=results10,
            tier_dir=SF10,
            digest=frozenset(DIGEST_TIER2),
            digest_cols=dcols,
        )
        # round-6 VERDICT item 5: one mapInPandas payload pipeline in
        # the tier-2 cohort. scene_tensors_volume's params_for selects
        # its sf>=5 fixture from the SF10 dir name (4000 pairs — 4x the
        # tier-1 fixture; the in-engine digest keeps the comparison
        # O(1) rows) and its oracle comes from the same closed-form
        # generator the driver gate proves at sf0.01. Dedicated session
        # with the payload knobs one notch tighter: at 4000 pairs the
        # stacking shuffle's DECOMPRESSED reduce buffers exceed the
        # 1 GB harness heap at 8 slots / 16m advisory (measured r7:
        # java.lang.OutOfMemoryError: Java heap space; local[4] + 4m
        # advisory + 32-record Arrow batches runs it in ~8 min) — the
        # same memory-per-slot knob a cluster sizes, turned one more
        # notch for 4x the payload.
        print("tier-2 payload pipeline (scene_tensors_volume, local[4]) ...")
        frames10.update(
            _run_spark_set(
                ["scene_tensors_volume"],
                capped=True,
                results=results10,
                tier_dir=SF10,
                digest=frozenset({"scene_tensors_volume"}),
                digest_cols=dcols,
                conf=PAYLOAD_TIER2_CONF,
                master="local[4]",
            )
        )
        from sentinel_landsat_database_creation_spark.plans import (
            scene_volume as _sv,
        )

        sp10 = _sv.params_for(SF10)
        oracles10 = {q: REGISTRY[q][1] for q in tier2_run}
        oracles10["scene_tensors_volume"] = _sv.scale_oracle_sql(
            sp10["n_pairs"], sp10["hrw"], sp10["lrw"]
        )
        _oracle_compare(
            frames10,
            oracles10,
            SF10,
            results10,
            digest_cols=dcols,
        )
        for q in dcols:
            if q in results10:
                results10[q]["digest"] = True

    n_pass = sum(1 for r in results.values() if r.get("values_match"))
    n_pass10 = sum(1 for r in results10.values() if r.get("values_match"))
    payload = {
        "metric": "correctness_scale_10x",
        "tier": SF1,
        "n_checked": len(results),
        "n_pass": n_pass,
        "results": dict(sorted(results.items())),
        "tier2": SF10 if results10 else None,
        "n_checked_tier2": len(results10),
        "n_pass_tier2": n_pass10,
        "results_tier2": dict(sorted(results10.items())),
        "excluded": EXCLUDED,
        "excluded_tier2": EXCLUDED_TIER2,
    }
    out = Path(__file__).resolve().parents[1] / "CORRECTNESS_SCALE.json"
    out.write_text(json.dumps(payload, indent=1) + "\n")
    print(
        f"\nSCALE VERIFY: {n_pass}/{len(results)} pass at 10x, "
        f"{n_pass10}/{len(results10)} at 100x -> {out.name}"
    )
    if n_pass != len(results) or n_pass10 != len(results10):
        sys.exit(1)


if __name__ == "__main__":
    main()
