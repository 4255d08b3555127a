"""The repository benchmark.

    python3 perfbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

Run from the repository root. Each run starts its own ``local[cpus]`` Spark
session, builds its inputs from ``--seed``, measures its workload for
``--seconds`` seconds, checks its answers against the pandas oracle and
prints, as its last line, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, taken
from spans recorded around calls into the engine's public functions. The line
before it (``detail {...}``) holds per-mode figures, sample counts, the host
sentinels and the recorded baseline for this core count, if any. All scratch
files live under ``.perfbench/`` in the checkout; a traced run leaves its
spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(ROOT), str(HERE)]


class Run:
    """State shared by a workload and the traced layer probe."""

    def __init__(self, spark, tracer, args, work: Path):
        from searchengine_spark.config import EngineConfig

        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cpus = spark.sparkContext.defaultParallelism
        self.cfg = EngineConfig(parallelism=self.cpus)
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, dict] = {}
        self.build_span = None
        self.build_result = None
        self._dirs = 0

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        path = self.work / f"{prefix}{self._dirs}"
        path.mkdir(parents=True)
        return str(path)

    def check(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{what}: {reason}")

    def note(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.detail[name] = {"value": value, "unit": unit, **({"n": n} if n else {})}


def sentinels(run: Run, input_path: str) -> None:
    """Host-drift context: a fixed CPU-bound job and a fixed parquet scan,
    three times each; the medians go into the detail line."""
    from statistics import median

    from pyspark.sql import functions as F

    from searchengine_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    cpu, scan = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        run.spark.range(64_000_000).selectExpr("sum(id * 2 + 1) as s").collect()
        cpu.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        table = run.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(input_path)
        table.agg(F.count("*"), F.sum(F.length("text"))).collect()
        scan.append(time.perf_counter() - t0)
    run.note("host.cpus", run.cpus, "count")
    run.note("host.range_agg_s", median(cpu), "s", 3)
    run.note("host.scan_agg_s", median(scan), "s", 3)


def start_spark(cpus: int, work: Path, trace: bool):
    from searchengine_spark.session import get_spark

    conf = {"spark.driver.memory": "2g", "spark.local.dir": str(work / "local")}
    if trace:
        (work / "events").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext
    from spans import process_tree, start_time

    live = {p: start_time(p) for p in process_tree(os.getpid()) if p != os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(start_time(p) == t for p, t in live.items()):
        time.sleep(0.1)
    for p, t in live.items():
        if start_time(p) == t:  # same process, not a reused pid
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_once(args) -> int:
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no trace was kept
        except OSError:
            pass


def measure(args, work: Path) -> int:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # every JVM (the launcher too) keeps its temp files in the checkout and
    # writes no hsperfdata file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"

    # the program must be importable before anything runs
    import searchengine_spark.engine  # noqa: F401
    import layers
    import workloads
    from spans import RssSampler, Tracer, cpu_times, stage_bytes, steal_share

    cpus = len(os.sched_getaffinity(0))
    started = cpu_times()
    sampler = RssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cpus, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, args, work)
        run.note("session_start_s", session_s, "s", 1)
        workloads.WORKLOADS[args.workload](run)
        per_layer = layers.probe(run) if run.trace else {}
        sentinels(run, run.input_path)
        run.note("host.steal_share", steal_share(started, cpu_times()), "ratio")
        if run.trace:
            per_layer.update(
                {k: (v["value"], v["unit"]) for k, v in run.detail.items() if k.startswith("host.")}
            )
        tracer.close()
    finally:
        sampler.close()
        if spark is not None:
            stop_spark(spark)
    peak_mb = sampler.peak_total / 2**20
    if run.trace:
        groups = tracer.groups(run.build_span)
        for key, v in stage_bytes(str(work / "events"), groups).items():
            per_layer[f"build_index.{key}"] = (float(v), "bytes")
        tracer.write(str(ROOT / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json"))
        metrics = per_layer
    else:
        run.metrics["peak_rss_mb"] = (peak_mb, "MB")
        metrics = run.metrics
    run.note("peak_rss_mb", peak_mb, "MB")
    run.note("python_peak_rss_mb", sampler.peak_python / 2**20, "MB")
    run.note("jvm_peak_rss_mb", sampler.peak_jvm / 2**20, "MB")
    run.note("failed_op_ratio", len(run.failures) / max(1, run.attempted), "ratio", run.attempted)

    for f in run.failures[:20]:
        print("FAILED", f, file=sys.stderr)
    baseline = json.loads((HERE / "baseline.json").read_text())["by_cpus"].get(str(cpus), {})
    print("detail " + json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "baseline_for_cpus": baseline.get(args.workload, {}).get("end_to_end"),
        **run.detail,
    }))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": max(1, run.attempted),
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def smoke() -> int:
    """Run every workload, untraced and traced, for a short window and check
    that every metric named in BENCHMARK.json prints with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    missing = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "2", "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                missing.append(f"{w['name']} trace={trace}: exit {out.returncode}")
                print(out.stderr[-3000:], file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            for m in spec[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    missing.append(f"{w['name']} trace={trace}: {m['name']} [{m['unit']}] -> {got}")
            print(lines[-2])
            print(lines[-1])
            if not result["correct"]:
                missing.append(f"{w['name']} trace={trace}: {result['failed']} failed checks")
    for m in missing:
        print("SMOKE", m, file=sys.stderr)
    return 1 if missing else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["build", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
