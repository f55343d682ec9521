"""One-command benchmark of the engine: three workloads, one per pillar.

    python3 perfbench/run.py --workload log_ingest_grep --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``; the
timed phase lasts ``--seconds``; every output is checked. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (spans,
layer calls, Spark counters) with ``--trace 1``. ``--detail PATH`` also
writes everything measured, spans included, to a JSON file. The exit code
is 0 only when every correctness check passed. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

from spans import Tracer
from sysstats import SPARK_FIELDS, group_counters, median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The Spark driver's heap is pinned, and committed up front (-Xms), so peak RSS
# does not swing with the JVM's heap sizing from run to run.
DRIVER_MEM = "1g"
# Host calibration: a fixed JVM-only aggregate (no I/O, no Python workers).
CALIBRATION_ROWS = 20_000_000

def process_start() -> float:
    """This process's start time on the CLOCK_BOOTTIME scale, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return start_ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """State shared by the workloads: session, tracer, timings, checks."""

    def __init__(self, args, t_proc: float):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.tiny = args.tiny
        self.t_proc = t_proc
        self.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.counters: dict[str, list[dict]] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.outputs: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.tracer = Tracer(bool(args.trace))

    # -- session -----------------------------------------------------------

    def start_session(self):
        for sub in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        # every JVM, spark-submit's launcher included, keeps its files here
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        from hadoop_stuff_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
                },
            )
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.calibration = [self.calibrate()]

    def calibrate(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(CALIBRATION_ROWS).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the JVM's gateway server exits on EOF of its stdin
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    # -- timing ------------------------------------------------------------

    def setup_done(self) -> None:
        self.setup_s = time.clock_gettime(time.CLOCK_BOOTTIME) - self.t_proc

    def op(self, kind: str, fn, timed: bool = True):
        """Run one op of type ``kind`` under its own job group; record its
        wall time, and in the traced run its span and Spark counters. A
        failed op, timed or not, counts as attempted and failed."""
        self.tracer.op_id += 1
        group = f"{kind}-{self.tracer.op_id}"
        self.sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind):
                out = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"# op {kind} failed:\n{traceback.format_exc()}", file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t0
        if timed:
            self.attempted += 1
            self.samples.setdefault(kind, []).append(wall * 1e3)
            if self.tracer.enabled:
                self.counters.setdefault(kind, []).append(group_counters(self.sc, group, wall))
        return out

    def layer_call(self, name: str, fn):
        """Time one call into a layer's public function (traced run only)."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.layer.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED {name}: {detail}", file=sys.stderr)

    # -- metrics -----------------------------------------------------------

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def put_latency(self, kind: str) -> None:
        """Median, tail, tail percentile and sample count of an op type."""
        xs = self.samples.get(kind, [])
        pct, val = tail(xs)
        self.put(f"{kind}_p50_ms", median(xs), "ms")
        self.put(f"{kind}_tail_ms", val, "ms")
        self.put(f"{kind}_tail_pct", pct, "%")
        self.put(f"{kind}_samples", len(xs), "count")

    def put_layers(self) -> None:
        """Median time of each layer call; ``*_ms`` names in ms, others s."""
        for name, xs in self.layer.items():
            ms = name.endswith("_ms")
            self.put(name, median(xs) * (1e3 if ms else 1.0), "ms" if ms else "s")

    def put_counters(self, kind: str) -> None:
        """Median over the op type's ops of each Spark counter."""
        rows = self.counters.get(kind, [])
        units = {"busy_share": "ratio", "executor_cpu_s": "s", "gc_s": "s"}
        for f in SPARK_FIELDS:
            unit = units.get(f, "MB" if f.endswith("_mb") else "count")
            self.put(f"{kind}.spark.{f}", median([r[f] for r in rows]), unit)


# --------------------------------------------------------------------------


def metric_names(kind: str) -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[kind]]


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--workload", required=True, choices=("log_ingest_grep", "corpus_curate", "wiretap_stream")
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--detail", help="also write every measurement to this JSON file")
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    p.add_argument(
        "--plant-wrong",
        action="store_true",
        help="self-test: corrupt one expected count, so the run must fail",
    )
    args = p.parse_args(argv)
    # a terminated run still stops the JVM and the stream generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "hadoop_stuff_spark")):
        print(f"error: no hadoop_stuff_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import wiretap
    import workloads

    runners = {
        "log_ingest_grep": workloads.log_ingest_grep,
        "corpus_curate": workloads.corpus_curate,
        "wiretap_stream": wiretap.wiretap_stream,
    }
    bench = Bench(args, t_proc)
    try:
        bench.start_session()
        runners[args.workload](bench)
        bench.put_layers()
        bench.put("error_rate", bench.failed / max(bench.attempted, 1), "ratio")
    finally:
        if args.detail:
            with open(args.detail, "w") as f:
                json.dump(
                    {
                        "metrics": bench.metrics,
                        "checks": bench.checks,
                        "outputs": bench.outputs,
                        "samples_ms": bench.samples,
                        "layer_s": bench.layer,
                        "spans": bench.tracer.spans,
                        "driver_mem": DRIVER_MEM,
                    },
                    f,
                )
        bench.stop()

    wanted = metric_names("per_layer" if args.trace else "end_to_end")
    out = {
        name: {"value": bench.metrics.get(name, (0.0, unit))[0], "unit": unit}
        for name, unit in wanted
    }
    correct = bench.failed == 0 and all(ok for _, ok, _ in bench.checks)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(bench.attempted, 1),
                "failed": bench.failed,
                "metrics": out,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
