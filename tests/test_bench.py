"""Contract checks for bench.py: the headline names resolve before any
warm-up, the >= 2 s extra-runs rule, the shape of the stdout contract
line, the curate breakdown's link to the registry, the codegen block, and
the two floors timed beside the headline (the JVM noise probe and the
Python-boundary floor, which is the only check here that runs Spark
jobs)."""

import json

import pytest

import bench


def test_headline_names_unique_and_registered():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    missing = [name for name in bench.HEADLINE if name not in bench.ALL_QUERIES]
    assert not missing, missing


def test_slow_rule_selects_queries_at_or_above_two_seconds():
    medians = {"a": 0.4, "b": 1.999, "c": 2.0, "d": 2.001, "e": 13.7, "f": 0.0}
    assert bench._slow_queries(medians) == ["c", "d", "e"]
    assert bench._slow_queries({}) == []


def test_contract_line_shape():
    timings = {name: 0.1 + 0.37 * i for i, name in enumerate(bench.HEADLINE)}
    line = bench._contract_line(timings, 0.1)
    assert set(line) == {"metric", "value", "unit", "queries", "sf"}
    assert line["queries"] == timings
    assert line["value"] == round(sum(line["queries"].values()), 3)
    assert line["sf"] == 0.1
    assert json.loads(json.dumps(line)) == line


def test_curate_breakdown_and_registry_query_share_one_curation(monkeypatch):
    """The staged curate breakdown and n1_curate_pipeline both take their
    corpus, holdout and threshold from registry.curated_corpus."""
    from hadoop_stuff_spark.plans import registry
    from hadoop_stuff_spark.plans.qlog import QueryLog

    class Called(Exception):
        pass

    calls = []

    def fake_curated_corpus(spark, sf_dir, qlog=None):
        calls.append((spark, sf_dir, qlog))
        raise Called

    monkeypatch.setattr(registry, "curated_corpus", fake_curated_corpus)
    with pytest.raises(Called):
        registry.QUERIES["n1_curate_pipeline"].fn("spark", "sf")
    with pytest.raises(Called):
        bench._curate_stage_breakdown("spark", "sf")
    assert [c[:2] for c in calls] == [("spark", "sf")] * 2
    assert calls[0][2] is None
    assert isinstance(calls[1][2], QueryLog)


def test_probe_times_three_runs_and_reports_their_median(monkeypatch):
    calls = []
    ticks = iter([0.0, 0.5, 1.0, 1.1, 2.0, 2.3])
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks))
    assert bench._probe(lambda: calls.append(1)) == {"runs": [0.5, 0.1, 0.3], "median": 0.3}
    assert len(calls) == 3


def test_python_floor_is_one_arrow_udf_task(spark):
    df = bench._python_floor_frame(spark)
    assert df.rdd.getNumPartitions() == 1
    assert "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()
    assert [r.id for r in df.collect()] == [0]
    floor = bench._python_floor(spark)
    assert len(floor["runs"]) == 3 and all(r > 0 for r in floor["runs"])
    assert floor["median"] == sorted(floor["runs"])[1]


def test_codegen_block_reports_compiles_per_pass_and_the_cache_cap(spark):
    from hadoop_stuff_spark.session import CODEGEN_CACHE_ENTRIES

    block = bench._codegen_block(spark, [1182, 0, 0])
    assert block == {"compiles_per_pass": [1182, 0, 0], "cache_max_entries": CODEGEN_CACHE_ENTRIES}
    assert json.loads(json.dumps(block)) == block
