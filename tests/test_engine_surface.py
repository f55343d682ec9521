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


def test_curate_takes_only_the_options_callers_set():
    """curate's stage rules are module constants; its parameters are the
    inputs and the two settings callers pass. A removed option that comes
    back fails here."""
    params = list(inspect.signature(Engine.curate).parameters)
    assert params == ["self", "docs", "holdout", "max_contamination", "qlog"]
