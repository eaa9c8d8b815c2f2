"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload taxi_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench/<workload>/``, starts a Spark session through
``session.get_spark`` on ``local[<usable cores>]``, sets up (session,
input generation, one warm-up pass), then runs a closed loop with one
client for ``--seconds`` and gates every op's output against an
independent oracle. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer counters with ``--trace 1``.
The line before it records the run's provenance. Exits 1 when an op or
a gate failed, 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEM = "1g"

FULL = ("wall_s", "jobs", "tasks", "task_s", "core_util", "driver_gap_s", "input_bytes",
        "shuffle_write_bytes", "spill_bytes")
#: span name -> counters reported for it; counters that are zero by
#: construction are left out (lazy functions run no job, only writers
#: write, only spans with traced children have self time apart from wall)
LAYER_SPANS = {
    "session.get_spark": ("wall_s",),
    "etl.extract": FULL,
    "etl.transform": FULL,
    "etl.load": (*FULL, "self_s", "output_bytes"),
    "sources.writers.write_parquet": (*FULL, "output_bytes"),
    "sources.writers.write_parquet_timestamped": (*FULL, "output_bytes"),
    "plans.pipeline.transform": ("wall_s",),
    "plans.pipeline.transform_materialized": FULL,
    "plans.dashboard.query": (*FULL, "self_s"),
    "operators.dedup.dedup_keep_first": ("wall_s",),
    "operators.dedup.minhash_lsh_pairs": FULL,
    "operators.dedup.connected_components": FULL,
    "operators.similarity.knn_bruteforce": FULL,
}
UNITS = {"wall_s": "s", "self_s": "s", "task_s": "s", "driver_gap_s": "s", "jobs": "count",
         "tasks": "count", "core_util": "ratio", "input_bytes": "B", "shuffle_write_bytes": "B",
         "spill_bytes": "B", "output_bytes": "B"}
#: per-layer metrics that are not span counters: (unit, better)
EXTRA_LAYER = {
    "sources.readers.input_file_bytes": ("B", "lower"),
    "sources.readers.bytes_read": ("B", "lower"),
    "sources.readers.scan_ratio": ("ratio", "lower"),
    "sources.readers.records_read": ("count", "lower"),
    "sources.readers.result_rows": ("count", "higher"),
    "sources.readers.rows_scanned_per_result_row": ("ratio", "lower"),
    "sources.writers.output_bytes_per_input_byte": ("ratio", "lower"),
    "trace.ops": ("count", "higher"),
    "trace.op_traced_s": ("s", "lower"),
    "trace.op_untraced_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.untraced_remainder_s": ("s", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
    "trace.failed_tasks": ("count", "lower"),
}
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
    "recall": "ratio",
    "peak_pss_mb": "MB",
}


def per_layer_spec() -> list[dict]:
    """The per-layer metric list, as BENCHMARK.json declares it."""
    out = []
    for span, counters in LAYER_SPANS.items():
        for c in counters:
            better = "higher" if c == "core_util" else "lower"
            out.append({"name": f"{span}.{c}", "unit": UNITS[c], "better": better})
    for name, (unit, better) in EXTRA_LAYER.items():
        out.append({"name": name, "unit": unit, "better": better})
    return out


class MemorySampler(threading.Thread):
    """Peak resident memory of the engine's processes: every descendant of
    this process (the driver JVM and the Python workers it forks),
    sampled from /proc. Memory is summed as PSS, so pages a forked child
    shares with its parent count once. This process itself is left out:
    it holds the input generators and the DuckDB oracle."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.sample())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    @staticmethod
    def sample() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        me = os.getpid()
        tree, frontier = {me}, [me]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        tree.discard(me)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total


def pin_environment(work: str, cpus: int) -> None:
    """Noise control: all cores the process may use, and every scratch
    directory Spark or the JVM writes inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_digest() -> str:
    """Digest of the engine's sources, a commit id that survives a
    checkout without git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _, files in os.walk(os.path.join(ROOT, "nyc_taxi_etl_dashboard_spark")):
        paths.extend(os.path.join(base, f) for f in files if f.endswith(".py"))
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "nyc_taxi_etl_dashboard_spark"))):
        print(f"perfbench: engine sources not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    pin_environment(work, cpus)

    import gen
    from spans import Tracer, read_event_log

    # the session module reads SPARK_GRAFT_CPUS at import
    from nyc_taxi_etl_dashboard_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, work)
    failures: list[str] = []
    attempted = 0
    op_errors = 0
    memory = MemorySampler()
    memory.start()

    # ---- set-up: session, input generation (x SETUP_REPS), warm-up ----
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a resident heap of fixed size: peak memory then moves with
            # off-heap, JIT and worker memory, not with GC timing
            "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    t0 = time.time()
    spark = get_spark(extra_conf=conf)
    t1 = time.time()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        versions = {"spark": spark.version,
                    "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version")}
        tracer = Tracer(spark.sparkContext)
        tracer.record("session.get_spark", t0, t1)

        gen_s, digests = [], []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            g = wl.generate(args.seed)
            wl.prepare(g)
            gen_s.append(time.perf_counter() - t)
            digests.append(gen.digest(g))
        other = gen.digest(wl.generate(args.seed + 1))
        if len(set(digests)) != 1 or other in digests:
            failures.append(f"determinism self-test: {len(set(digests))} digests for one seed, "
                            f"next seed {'collides' if other in digests else 'differs'}")
        wl.expect(g)
        if args.trace:
            wl.install(tracer)

        def run_op() -> tuple[float, object]:
            nonlocal attempted, op_errors
            wl.before_op()
            spark.catalog.clearCache()
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    result = wl.op(spark, tracer)
            except Exception:  # an op failure is a measurement, not a crash
                traceback.print_exc()
                op_errors += 1
                result = None
            return time.perf_counter() - t, result

        def gate(result) -> float | None:
            if result is None:
                return None
            bad, rec = wl.gate(result)
            failures.extend(bad)
            return rec

        warmup_s = 0.0
        for _ in range(wl.warmup_ops):
            dt, result = run_op()
            warmup_s += dt
            gate(result)
        setup_s = (t1 - t0) + statistics.median(gen_s) + warmup_s

        # ---- measured closed loop; a traced run traces every other op ----
        latencies: list[float] = []
        traced: list[float] = []
        recalls: list[float] = []
        result_rows: list[int] = []
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < args.seconds or i < wl.min_ops or i % wl.op_batch:
            tracer.active = bool(args.trace) and i % 2 == 1
            tracer.op = i
            dt, result = run_op()
            (traced if tracer.active else latencies).append(dt)
            tracer.active = False
            rec = gate(result)
            if rec is not None:
                recalls.append(rec)
                result_rows.append(wl.result_rows(result))
            i += 1
        if args.trace:
            tracer.active = True
            tracer.op = None
            wl.traced_extras(spark, tracer)
            tracer.active = False
        output_bytes = wl.output_bytes()
    finally:
        stop_spark(spark)
        memory.stop()

    failed = op_errors + len(failures)
    for f in failures:
        print(f"perfbench: gate failed: {f}", file=sys.stderr)
    provenance = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "input": wl.props, "input_digest": digests[0], "cores": cpus, **versions,
        "python": sys.version.split()[0], "git_commit": git_commit(),
        "source_digest": source_digest(),
        "setup": {"session_s": t1 - t0, "generate_s": gen_s, "warmup_s": warmup_s,
                  "warmup_ops": wl.warmup_ops},
        "ops": len(latencies) + len(traced), "op_latencies_s": latencies,
        "error_rate": failed / max(attempted, 1),
        "noise_control": {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                          "work_dir": os.path.relpath(work, ROOT),
                          "spark_cache": "cleared before every op",
                          "engine_memos": "kept warm across ops (operators._STAT_MEMO)"},
    }
    if args.trace:
        metrics = layer_metrics(tracer, read_event_log(event_dir), cpus, wl, latencies, traced,
                                result_rows, output_bytes)
    else:
        p50 = statistics.median(latencies)
        values = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "throughput_per_s": wl.items_per_op / p50,
            "recall": statistics.fmean(recalls) if recalls else 0.0,
            "peak_pss_mb": memory.peak_kb / 1024.0,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def layer_metrics(tracer, jobs, cpus, wl, untraced, traced, result_rows, output_bytes) -> dict:
    """Per-layer counters of the traced ops, tracing overhead and span
    coverage; every declared per-layer metric is present (0 where the
    workload does not reach that layer)."""
    layers = tracer.layer_counters(jobs, cpus)
    values = {m["name"]: 0.0 for m in per_layer_spec()}
    for span, counters in LAYER_SPANS.items():
        for c in counters:
            values[f"{span}.{c}"] = layers.get(span, {}).get(c, 0.0)
    op = layers.get("op", {})
    bytes_read = op.get("input_bytes", 0.0)
    records = op.get("records_read", 0.0)
    rows = statistics.fmean(result_rows) if result_rows else 0.0
    op_untraced = statistics.median(untraced) if untraced else 0.0
    op_traced = statistics.median(traced) if traced else 0.0
    values.update({
        "sources.readers.input_file_bytes": wl.input_bytes,
        "sources.readers.bytes_read": bytes_read,
        "sources.readers.scan_ratio": bytes_read / wl.input_bytes if wl.input_bytes else 0.0,
        "sources.readers.records_read": records,
        "sources.readers.result_rows": rows,
        "sources.readers.rows_scanned_per_result_row": records / rows if rows else 0.0,
        "sources.writers.output_bytes_per_input_byte": output_bytes / wl.input_bytes,
        "trace.ops": len(traced),
        "trace.op_traced_s": op_traced,
        "trace.op_untraced_s": op_untraced,
        "trace.overhead_s": op_traced - op_untraced,
        "trace.untraced_remainder_s": op.get("self_s", 0.0),
        "trace.span_coverage": 1.0 - op["self_s"] / op["wall_s"] if op.get("wall_s") else 0.0,
        "trace.failed_tasks": sum(j["failed_tasks"] for j in jobs.values()),
    })
    spec = {m["name"]: m["unit"] for m in per_layer_spec()}
    return {k: {"value": v, "unit": spec[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
