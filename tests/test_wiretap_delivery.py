"""The wiretap's one route→deliver step, `route_and_deliver_batch`, which
both the streaming wiretap's micro-batches and `Engine.grep_to_wiretap`
run: what it costs with no subscribers, and how it tallies drops. No
socket is opened: a subscriber that fails stands in for a dead one."""

from hadoop_stuff_spark.streaming.wiretap import route_and_deliver_batch


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _refusing_subscriber():
    # a nested function pickles by value: workers need not import this module
    def refuse(host, port, records):
        raise ConnectionRefusedError(f"{host}:{port}")

    return refuse


def test_no_subscribers_runs_no_spark_job(spark):
    """With an empty subscription list nothing can be delivered, so no
    job runs; the same batch with one subscriber does run (the probe
    sees jobs)."""
    batch = spark.createDataFrame([("CALL alpha",), ("noise",)], "value string")
    sub = {"sub_id": 1, "regex": "^CALL", "host": "127.0.0.1", "port": 1}
    refuse = _refusing_subscriber()

    assert _jobs_in_group(
        spark, "wiretap-no-subs", lambda: route_and_deliver_batch(batch, [])
    ) == []
    assert _jobs_in_group(
        spark,
        "wiretap-one-sub",
        lambda: route_and_deliver_batch(batch, [sub], deliver=refuse),
    )


def test_drop_stats_add_up_across_calls(spark):
    """Each call adds its own drops per (host, port) to the dict it is
    given, so one dict shared by several calls (the stream's batches)
    holds their total."""
    batch = spark.createDataFrame(
        [("CALL alpha",), ("FLOW beta",), ("CALL gamma",)], "value string"
    )
    subs = [
        {"sub_id": 1, "regex": "^CALL", "host": "127.0.0.1", "port": 1},
        {"sub_id": 2, "regex": "FLOW", "host": "127.0.0.1", "port": 2},
    ]
    refuse = _refusing_subscriber()
    drops: dict = {}
    route_and_deliver_batch(batch, subs, deliver=refuse, drop_stats=drops)
    assert drops == {("127.0.0.1", 1): 2, ("127.0.0.1", 2): 1}
    route_and_deliver_batch(batch, subs[:1], deliver=refuse, drop_stats=drops)
    assert drops == {("127.0.0.1", 1): 4, ("127.0.0.1", 2): 1}
