"""wiretap_stream: an open loop through ``Engine.wiretap``.

A separate process (``wiretap_gen.py``) drops rolled log files on a fixed
schedule and receives the routed records over TCP. The engine tails the
directory and routes every line to three regex subscriptions. Latency is
taken per record, from its due time to its receipt.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import gen
import sysstats
from hadoop_stuff_spark.engine import Engine
from hadoop_stuff_spark.streaming.wiretap import route_and_deliver_batch
from sysstats import median
from workloads import finish

# One fixed offered load, well below the rate where the backlog grows
# (see README.md for how it was found).
RATE_LINES_PER_S = 4000
FILE_PERIOD_S = 0.25
WARMUP_S = 12.0
DRAIN_TIMEOUT_S = 30.0


class Generator:
    def __init__(self, b, logdir: str):
        here = os.path.dirname(os.path.abspath(__file__))
        rate = 400 if b.tiny else RATE_LINES_PER_S
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(here, "wiretap_gen.py"),
                "--dir", logdir, "--seed", str(b.seed),
                "--rate", str(rate), "--period", str(FILE_PERIOD_S),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        hello = self.read()
        self.ports = hello["ports"]
        self.per_file = hello["per_file"]

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("wiretap generator exited")
        return json.loads(line)

    def ask(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"cmd": "quit"}\n')
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except Exception:  # noqa: BLE001
                self.proc.kill()
                self.proc.wait()


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def wiretap_stream(b) -> None:
    eng = Engine(b.spark)
    logdir = os.path.join(b.work, "logs")
    os.makedirs(logdir)
    g = Generator(b, logdir)
    query = None
    try:
        subs = [f"{rx} 127.0.0.1:{port}" for rx, port in zip(
            (gen.NEEDLE_RE, gen.HOT_IP_RE, gen.TELNET_RE), g.ports
        )]
        query = eng.wiretap(logdir, subs, checkpoint_dir=os.path.join(b.work, "ckpt"))
        g.ask(cmd="feed", phase="w", seconds=2.0 if b.tiny else WARMUP_S)
        b.setup_done()

        pids = [p for p in sysstats.process_tree() if p not in sysstats.process_tree(g.proc.pid)]
        cpu0 = sysstats.tree_cpu_s(pids)
        t_wall0 = time.time()
        fed = g.ask(cmd="feed", phase="t", seconds=b.seconds)
        pids = [p for p in sysstats.process_tree() if p not in sysstats.process_tree(g.proc.pid)]
        b.timed_cpu_s = sysstats.tree_cpu_s(pids) - cpu0
        got = g.ask(cmd="report", timeout=DRAIN_TIMEOUT_S)
        # engine-side throughput: the timed lines over the span from the
        # first one's due time to the receipt of the last routed record
        # (CLOCK_MONOTONIC is one clock for both processes)
        last_ns = got["last_t_ns"] or time.monotonic_ns()
        b.timed_wall_s = (last_ns - fed["first_due_ns"]) / 1e9
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        stream_group = str(query.runId)
        query.stop()
        query = None

        exp = got["expected"]
        if b.args.plant_wrong:
            exp[0]["t"] += 1
        undelivered = 0
        for i, (e, r) in enumerate(zip(exp, got["received"])):
            want = e["w"] + e["t"]
            have = r["w"] + r["t"]
            undelivered += max(0, want - have)
            b.check(f"subscriber{i + 1}.delivered", have == want, f"got {have}, want {want}")
        b.attempted += sum(e["w"] + e["t"] for e in exp)
        b.failed += undelivered
        b.put("streaming.wiretap.dropped", undelivered, "count")

        b.samples["deliver"] = got["latency_ms"]
        b.put_latency("deliver")
        # batches that started after the timed feed began: they carry its lines
        timed = [p for p in progress if _epoch(p["timestamp"]) >= t_wall0]
        b.samples["microbatch"] = [float(p["durationMs"]["triggerExecution"]) for p in timed]
        b.put_latency("microbatch")
        rows = [p["numInputRows"] for p in timed]
        b.put("streaming.batch_ms", b.metrics["microbatch_p50_ms"][0], "ms")
        b.put("streaming.batch_rows", median(rows), "count")
        b.put("streaming.tail.backlog_files", max(rows, default=0) / g.per_file, "count")
        b.put("bench.gen_late_ms", max(fed["late_ms"]), "ms")

        finish(b, fed["lines"], "deliver", "microbatch")

        if b.tracer.enabled:
            stream_counters(b, stream_group, progress)
            route_deliver_layer(b, logdir, g.ports[-1])
    finally:
        if query is not None:
            query.stop()
        g.close()


def stream_counters(b, group: str, batches: list[dict]) -> None:
    """Spark counters of the stream's micro-batches (all of its non-empty
    batches, warm-up included), per batch."""
    wall = sum(p["durationMs"]["triggerExecution"] for p in batches) / 1e3
    total = sysstats.group_counters(b.sc, group, wall)
    n = max(len(batches), 1)
    b.counters["microbatch"] = [
        {k: (v if k in ("busy_share", "cached_rdds") else v / n) for k, v in total.items()}
    ]
    b.put_counters("microbatch")


def route_deliver_layer(b, logdir: str, sink_port: int) -> None:
    """``route_and_deliver_batch`` on one checkpointed file of lines,
    delivering to the generator's sink listener."""
    first = sorted(os.listdir(logdir))[0]
    batch = b.spark.read.text(os.path.join(logdir, first)).localCheckpoint(eager=True)
    subs = [
        {"sub_id": i + 1, "regex": rx, "host": "127.0.0.1", "port": sink_port, "proto": "tcp"}
        for i, rx in enumerate((gen.NEEDLE_RE, gen.HOT_IP_RE, gen.TELNET_RE))
    ]
    for _ in range(3):
        b.layer_call(
            "streaming.wiretap.route_deliver_ms", lambda: route_and_deliver_batch(batch, subs)
        )
