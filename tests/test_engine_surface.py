"""Engine's public surface: the reference's entry points plus the
composites that hide a decision. Any other operator is called from its
own module, so a one-line forward added here fails this test."""

import inspect

from hadoop_stuff_spark.engine import Engine


def test_engine_public_methods_are_entry_points_and_composites():
    public = {
        name
        for name, _ in inspect.getmembers(Engine, inspect.isfunction)
        if not name.startswith("_")
    }
    assert public == {
        # reference entry points + SQL
        "ingest",
        "grep",
        "grep_count",
        "record_count",
        "sql",
        "wiretap",
        "grep_to_wiretap",
        # composites
        "curate",
        "audit",
        "score_by_frequency",
    }
