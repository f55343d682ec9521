"""CLI subcommands: lint exit codes and dq output path."""

from hadoop_stuff_spark.__main__ import main


def test_cli_lint_exit_codes(spark, sf_dir, capsys):
    rc = main(["lint", "SELECT count(*) AS n FROM customer", "--sf-dir", sf_dir])
    assert rc == 0
    assert "plan clean" in capsys.readouterr().out

    rc = main(
        ["lint", "SELECT c.c_name FROM customer c CROSS JOIN nation n", "--sf-dir", sf_dir]
    )
    assert rc == 1


def test_cli_dq_prints_report(spark, sf_dir, capsys):
    rc = main(["dq", "--sf-dir", sf_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "positive_price" in out and "fk(o_custkey)" in out


def test_cli_overlap_and_drift(capsys):
    from hadoop_stuff_spark.__main__ import main

    assert main(["overlap", "purchase", "click",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "jaccard" in out

    assert main(["drift", "2024-01-05",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "ks_distance" in out



def test_cli_advise_prints_findings_or_none(spark, sf_dir, capsys):
    join = "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"
    assert main(["advise", f"SELECT c.c_name, n.n_name {join}", "--sf-dir", sf_dir]) == 0
    assert capsys.readouterr().out.strip() == "no advisories"

    # a MERGE hint plans a shuffle join although nation fits the
    # broadcast threshold: the advisor names the missed broadcast
    q = f"SELECT /*+ MERGE(n) */ c.c_name, n.n_name {join}"
    assert main(["advise", q, "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert out.startswith("missed-broadcast: ") and "broadcast() hint" in out
