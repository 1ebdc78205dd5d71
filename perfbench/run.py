"""Paper-pipeline benchmark: stages 1-4 over a generated scene tree.

    python3 perfbench/run.py --workload ingest-wide --seed 1 --seconds 18 --trace 0

Run from the repository root. One run:

1. generates the workload's scene tree from ``--seed`` under
   ``.perfbench/work/`` (uncharged; its time is recorded as ``gen_s``) and
   computes the NumPy reference digest (reference.py);
2. starts the session with ``session.get_spark`` at
   ``SPARK_GRAFT_CPUS`` = the usable core count, and runs one uncharged
   warm-up pass: together they are ``setup_s``;
3. repeats the pipeline pass (pipeline.py) for ``--seconds`` seconds, at
   least twice, checking each pass's crop digest against the
   reference.

With ``--trace 0`` the result carries the end-to-end metrics, measured
untraced. With ``--trace 1`` the run interleaves untraced and traced
passes over its window, then adds the stacking span, the single-thread TIFF
decode microbench and the per-layer counters; the result carries the
per-layer metrics. Host facts go to a ``host`` line on stdout, and the
full record (spans included) to ``.perfbench/results/``. The last stdout
line is the JSON result.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_PASSES = 2
STAGE_METRICS = (
    "wall_s", "plan_s", "task_s", "task_skew", "shuffle_mb", "spill_mb",
    "gc_s", "py_mb", "rows_out",
)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak summed resident memory (MB) of this process and all its
    descendants, sampled from /proc while ``active`` is set."""

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.active = threading.Event()
        self.stopped = threading.Event()
        self.peak_mb = 0.0

    def run(self) -> None:
        while not self.stopped.wait(self.period_s):
            if self.active.is_set():
                mb = sum(_resident_bytes(p) for p in process_tree(os.getpid())) / 1e6
                self.peak_mb = max(self.peak_mb, mb)

    def stop(self) -> None:
        self.stopped.set()
        self.join(timeout=5)


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _resident_bytes(pid: int) -> int:
    """Resident bytes of one process, shared pages split among sharers
    (PSS), so forked Python workers that share the daemon's pages count
    them once. The JVM shares almost nothing and its proportional count is
    slow to read, so it uses plain RSS."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def host_facts(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": _cores(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def stop_session(spark) -> None:
    """Stop the session, end the JVM it launched, and wait for every
    process this run started to exit."""
    from pyspark import SparkContext

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tiffcodec_bench(band_files: list, min_s: float = 0.5) -> dict:
    """Single-thread ``decode_gray_np`` over the fixture's own band files."""
    from sentinel_landsat_database_creation_spark.sources.tiffcodec import (
        decode_gray_np,
    )

    blobs = [Path(p).read_bytes() for p in band_files]
    px = nbytes = 0
    t0 = time.perf_counter()
    while True:
        for b in blobs:
            h, w, _ = decode_gray_np(b)
            px += h * w
            nbytes += len(b)
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return {"mpx_per_s": px / 1e6 / elapsed, "mb_per_s": nbytes / 1e6 / elapsed}


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this host between two
    /proc/stat readings (the steal column); recorded to explain noisy runs."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta[:8]) if sum(delta[:8]) else 0.0


def _median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    """One generated tree, its reference digest and stage outputs, and the
    pass counters."""

    def __init__(self, args, work: Path):
        from fixtures import WORKLOADS, generate
        from pipeline import Paths
        import reference

        from sentinel_landsat_database_creation_spark.plans.satellite import (
            CropConfig,
        )

        wl = WORKLOADS[args.workload]
        self.cfg = CropConfig(compat=wl.compat)
        self.fx = generate(wl, args.seed, str(work / "tree"))
        t0 = time.perf_counter()
        self.ref = reference.digest(self.fx.s2, self.fx.hls, self.fx.mask, wl.compat)
        self.ref_s = time.perf_counter() - t0
        self.paths = Paths(str(work / "stages"))
        self.attempted = self.failed = 0

    def one_pass(self, spark, tracer) -> float | None:
        """A pass, charged to ``attempted``; None when it raised or its
        digest differs from the reference."""
        from pipeline import crop_digest, run_pass
        from reference import matches

        self.attempted += 1
        try:
            wall = run_pass(spark, self.fx, self.paths, self.cfg, tracer)
            got = crop_digest(self.paths)
        except Exception as exc:  # noqa: BLE001 - a failed pass is a result
            print(f"pass failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            self.failed += 1
            return None
        if not matches(got, self.ref):
            print(f"digest mismatch: got {got}, reference {self.ref}", file=sys.stderr)
            self.failed += 1
            return None
        return wall


def measure(bench: Bench, spark, seconds: float, tracer, min_passes: int) -> list:
    """Passes for ``seconds`` seconds and at least ``min_passes``; returns
    the wall times of the passes that matched the reference."""
    walls = []
    t_end = time.perf_counter() + seconds
    for n in itertools.count(1):
        wall = bench.one_pass(spark, tracer)
        if wall is not None:
            walls.append(wall)
        if n >= min_passes and time.perf_counter() >= t_end:
            return walls


def measure_alternating(bench: Bench, spark, seconds: float, tracer) -> tuple:
    """Untraced and traced passes in blocks of untraced, traced, traced,
    untraced, so a steady warm-up drift falls on both sides equally; whole
    blocks until ``seconds`` have passed."""
    from pipeline import NullTracer

    sides = ([], [])
    t_end = time.perf_counter() + seconds
    for n in itertools.count():
        traced = n % 4 in (1, 2)
        wall = bench.one_pass(spark, tracer if traced else NullTracer())
        if wall is not None:
            sides[traced].append(wall)
        if n % 4 == 3 and time.perf_counter() >= t_end:
            return sides


def stage_sum_ratios(spans: list) -> list:
    """Per traced pass, the stage spans' summed wall time over the pass's:
    how much of the pass the stages account for."""
    walls = {}
    for s in spans:
        if s["parent"] is not None:
            walls[s["parent"]] = walls.get(s["parent"], 0.0) + s["end"] - s["start"]
    return [
        walls.get(s["id"], 0.0) / (s["end"] - s["start"])
        for s in spans if s["name"] == "pipeline"
    ]


def layer_metrics(bench: Bench, spark, tracer, untraced_walls, traced_walls) -> dict:
    """The per-layer metrics from the traced passes' spans."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pipeline import STAGES, pair_tensors

    from sentinel_landsat_database_creation_spark.operators.crops import (
        candidate_centers,
    )

    with tracer.span("stacking"):
        tensors = pair_tensors(spark, bench.paths)
        tracer.plan(tensors)
        tensors.write.format("noop").mode("overwrite").save()
    tracer.collect()

    out = {}
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s["counters"])
    for layer in STAGES + ("stacking",):
        for m in STAGE_METRICS:
            out[f"{layer}.{m}"] = _median([c[m] for c in by_name[layer]])
    raster = by_name["raster"]
    out["raster.files"] = _median([c["files"] for c in raster])
    out["raster.mb_in"] = _median([c["mb_in"] for c in raster])
    px = 0
    for path in (bench.paths.s2, bench.paths.hls):
        t = pq.read_table(path, columns=["height", "width"])
        px += pc.sum(pc.multiply(t["height"].cast("int64"), t["width"])).as_py()
    out["raster.mpx_out"] = px / 1e6
    n_pairs = pq.read_table(bench.paths.pairs, columns=["pair_id"]).num_rows
    n_centers = candidate_centers(
        spark.read.parquet(bench.fx.mask_path), bench.cfg.batch_size, bench.cfg.compat
    ).count()
    out["crops.candidates"] = n_pairs * n_centers
    out["crops.accept_ratio"] = bench.ref["crops"] / (n_pairs * n_centers)
    out.update({f"tiffcodec.{k}": v for k, v in tiffcodec_bench(bench.fx.band_files).items()})
    out["trace.overhead_s"] = _median(traced_walls) - _median(untraced_walls)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything the run writes stays under the checkout: the scene tree,
    # stage outputs, Spark's scratch space, and the temp files of Python
    # and of the JVM (whose perf-data file would otherwise go to /tmp).
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        from sentinel_landsat_database_creation_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from fixtures import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    (work / "tmp").mkdir(parents=True)
    spark = None
    sampler = RssSampler()
    try:
        bench = Bench(args, work)
        from pipeline import NullTracer
        from spans import Tracer

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        warm_ok = bench.one_pass(spark, NullTracer()) is not None
        warmup_s = time.perf_counter() - t0 - start_s
        bench.attempted = bench.failed = 0
        steal_before = _cpu_ticks()
        host = host_facts(spark)
        record = {
            "args": vars(args), "host": host, "gen_s": bench.fx.gen_s,
            "ref_s": bench.ref_s, "reference": bench.ref,
            "session.start_s": start_s, "session.warmup_s": warmup_s,
        }

        if args.trace:
            tracer = Tracer(spark, f"{args.workload}-s{args.seed}")
            untraced, traced = measure_alternating(bench, spark, args.seconds, tracer)
            metrics = layer_metrics(bench, spark, tracer, untraced, traced)
            metrics["session.start_s"] = start_s
            metrics["session.warmup_s"] = warmup_s
            record["spans"] = tracer.spans
            record["stage_sum_ratio"] = stage_sum_ratios(tracer.spans)
            print(f"stage wall sum / pass wall: {record['stage_sum_ratio']}", file=sys.stderr)
            record["untraced_s"] = untraced
            record["traced_s"] = traced
        else:
            sampler.start()
            sampler.active.set()
            walls = measure(bench, spark, args.seconds, NullTracer(), MIN_PASSES)
            sampler.active.clear()
            pipeline_s = _median(walls)
            metrics = {
                "pipeline_s": pipeline_s,
                "crops_per_s": bench.ref["crops"] / pipeline_s if pipeline_s else 0.0,
                "setup_s": start_s + warmup_s,
                "peak_rss_mb": sampler.peak_mb,
                "pass_ratio": (bench.attempted - bench.failed) / bench.attempted,
            }
            record["pipeline_s"] = walls
        record["metrics"] = metrics
        record["attempted"], record["failed"] = bench.attempted, bench.failed
        record["warm_up_ok"] = warm_ok
        record["cpu_steal_share"] = _steal_share(steal_before, _cpu_ticks())
        results = ROOT / ".perfbench" / "results"
        results.mkdir(parents=True, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        out = results / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
        out.write_text(json.dumps(record, indent=1, default=str))
        print("host " + json.dumps(host))
        units = declared_units()
        print(json.dumps({
            "correct": warm_ok and bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def declared_units() -> dict:
    """Metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
