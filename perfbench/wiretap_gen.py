"""Open-loop log generator and wiretap subscribers, in one process apart
from the engine.

The generator drops one rolled log file into ``--dir`` every ``--period``
seconds at ``--rate`` lines per second, on a fixed schedule that does not
slow when the engine does. A file holds the lines logged during its period
and lands when the period ends. Every line carries the monotonic time it
was logged (its due time, spread evenly over the period) and its phase
(``w`` warm-up, ``t`` timed). Three TCP listeners (one
per subscription) and one sink listener (for layer calls) count and
timestamp every record they receive; since due time and receipt are taken
in this one process, one clock serves both.

Protocol: one JSON object per line. On start the process prints
``{"ports": [sub1, sub2, sub3, sink]}``; then it answers each command read
from stdin:

- ``{"cmd": "feed", "phase": "w"|"t", "seconds": s}`` feeds for ``s``
  seconds and replies with the lines written, the due time of the first
  one and the generator lateness;
- ``{"cmd": "report", "timeout": s}`` waits until every expected record
  has arrived (or the timeout) and replies with expected and received
  counts, the timed-phase latencies and the last timed-phase receipt;
- ``{"cmd": "quit"}`` exits.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import socketserver
import sys
import threading
import time

import gen

PATTERNS = [gen.NEEDLE_RE, gen.HOT_IP_RE, gen.TELNET_RE]


class Listener(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.lock = threading.Lock()
        self.received = {"w": 0, "t": 0}
        self.latency_ms: list[float] = []
        self.last_t_ns = 0


class _Handler(socketserver.StreamRequestHandler):
    def handle(self):
        srv = self.server
        for raw in self.rfile:
            now = time.monotonic_ns()
            line = raw.decode("utf-8").rstrip("\n")
            if not line:
                continue
            due_ns, phase = line.rsplit(" ", 2)[-2:]
            with srv.lock:
                srv.received[phase] += 1
                if phase == "t":
                    srv.latency_ms.append((now - int(due_ns)) / 1e6)
                    srv.last_t_ns = max(srv.last_t_ns, now)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--period", type=float, required=True)
    args = p.parse_args()

    rng = random.Random(args.seed)
    regexes = [re.compile(x) for x in PATTERNS]
    listeners = [Listener() for _ in range(len(PATTERNS) + 1)]
    for srv in listeners:
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    expected = [{"w": 0, "t": 0} for _ in PATTERNS]
    staging = os.path.join(os.path.dirname(args.dir), "staging")
    os.makedirs(staging, exist_ok=True)
    per_file = max(1, round(args.rate * args.period))
    seq = 0
    n_file = 0

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    def make_line(due_ns: int, phase: str) -> str:
        nonlocal seq
        r = rng.random()
        user = gen.NEEDLE_USER if r < 0.01 else rng.choice(gen.USERS)
        ip = f"126.247.0.{rng.randint(90, 99)}" if rng.random() < 0.02 else gen.plain_ip(rng)
        proto = 23 if rng.random() < 0.03 else rng.choice((6, 17))
        line = gen.flow_line(rng, seq, user, ip, proto) + f" ; due {due_ns} {phase}"
        seq += 1
        for i, rx in enumerate(regexes):
            if rx.search(line):
                expected[i][phase] += 1
        return line

    def feed(phase: str, seconds: float) -> dict:
        nonlocal n_file
        files = max(1, round(seconds / args.period))
        period_ns = int(args.period * 1e9)
        start = time.monotonic_ns()
        late_ms = []
        lines = 0
        for k in range(files):
            opened = start + k * period_ns
            body = "".join(
                make_line(opened + j * period_ns // per_file, phase) + "\n"
                for j in range(per_file)
            )
            due = opened + period_ns  # the file rolls at the end of its period
            wait = (due - time.monotonic_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
            name = f"cdr.{n_file:06d}.log"
            tmp = os.path.join(staging, name)
            with open(tmp, "w") as f:
                f.write(body)
            os.rename(tmp, os.path.join(args.dir, name))
            late_ms.append((time.monotonic_ns() - due) / 1e6)
            n_file += 1
            lines += per_file
        return {
            "phase": phase, "files": files, "lines": lines, "late_ms": late_ms, "first_due_ns": start
        }

    def report(timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            complete = all(
                srv.received["w"] >= exp["w"] and srv.received["t"] >= exp["t"]
                for srv, exp in zip(listeners, expected)
            )
            if complete:
                break
            time.sleep(0.05)
        time.sleep(0.2)  # anything beyond the expected count would be an error too
        return {
            "expected": expected,
            "received": [dict(srv.received) for srv in listeners[: len(PATTERNS)]],
            "latency_ms": sorted(x for srv in listeners[: len(PATTERNS)] for x in srv.latency_ms),
            "last_t_ns": max(srv.last_t_ns for srv in listeners[: len(PATTERNS)]),
        }

    reply({"ports": [srv.server_address[1] for srv in listeners], "per_file": per_file})
    for raw in sys.stdin:
        cmd = json.loads(raw)
        if cmd["cmd"] == "feed":
            reply(feed(cmd["phase"], cmd["seconds"]))
        elif cmd["cmd"] == "report":
            reply(report(cmd["timeout"]))
        elif cmd["cmd"] == "quit":
            break
    for srv in listeners:
        srv.shutdown()
        srv.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
