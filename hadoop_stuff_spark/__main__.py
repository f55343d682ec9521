"""CLI — the reference's gradle JavaExec tasks (build.gradle:36-55) as
subcommands:

    python -m hadoop_stuff_spark ingest  SRC DST [--chunk-size N]
    python -m hadoop_stuff_spark grep    PATH PATTERN [--format chunked|text|parquet] [--count]
    python -m hadoop_stuff_spark count   PATH [--format chunked|text|parquet]
    python -m hadoop_stuff_spark sql     QUERY [--sf-dir DIR]
    python -m hadoop_stuff_spark wiretap LOG_DIR "REGEX HOST:PORT" [...] [--available-now]
    python -m hadoop_stuff_spark dq      [--sf-dir DIR]
    python -m hadoop_stuff_spark lint    QUERY [--sf-dir DIR]   # exit 1 on findings
    python -m hadoop_stuff_spark advise  QUERY [--sf-dir DIR]
    python -m hadoop_stuff_spark overlap TYPE_A TYPE_B [--sf-dir DIR]
    python -m hadoop_stuff_spark drift   YYYY-MM-DD [--sf-dir DIR]

The reference packed these args into one comma-delimited string parsed
positionally (DistributedGrep.java:85-93); argparse replaces that."""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hadoop_stuff_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="text file(s) -> gzip-chunked parquet store")
    ing.add_argument("source")
    ing.add_argument("target")
    ing.add_argument("--chunk-size", type=int, default=1000)

    gr = sub.add_parser("grep", help="regex filter over a store")
    gr.add_argument("path")
    gr.add_argument("pattern")
    gr.add_argument("--format", default="chunked", choices=["chunked", "text", "parquet", "orc"])
    gr.add_argument("--count", action="store_true", help="print only the match count")
    gr.add_argument("--limit", type=int, default=20)

    ct = sub.add_parser("count", help="record count over a store")
    ct.add_argument("path")
    ct.add_argument("--format", default="chunked", choices=["chunked", "text", "parquet", "orc"])

    sq = sub.add_parser("sql", help="ANSI SQL over the testdata views")
    sq.add_argument("query")
    sq.add_argument("--sf-dir", default=None)
    sq.add_argument("--limit", type=int, default=20)

    wt = sub.add_parser("wiretap", help="tail a log dir, route matches to TCP subscribers")
    wt.add_argument("log_dir")
    wt.add_argument("subscription", nargs="+", help='"<regex> <host>:<port>"')
    wt.add_argument("--checkpoint", default=None)
    wt.add_argument("--available-now", action="store_true")

    dq = sub.add_parser("dq", help="data-quality report over the orders testdata table")
    dq.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    ql = sub.add_parser("lint", help="lint the physical plan of an ANSI SQL query")
    ql.add_argument("query")
    ql.add_argument("--sf-dir", default=None)

    ad = sub.add_parser(
        "advise", help="size-aware plan advisory for an ANSI SQL query"
    )
    ad.add_argument("query")
    ad.add_argument("--sf-dir", default=None)

    ov = sub.add_parser(
        "overlap", help="audience overlap between two event types (theta sketches)"
    )
    ov.add_argument("type_a")
    ov.add_argument("type_b")
    ov.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    dr = sub.add_parser(
        "drift", help="per-type KS drift between before/after a split date (KLL)"
    )
    dr.add_argument("split_date", help="YYYY-MM-DD")
    dr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from hadoop_stuff_spark.engine import Engine  # deferred: JVM start

    eng = Engine()
    if args.cmd == "ingest":
        eng.ingest(args.source, args.target, args.chunk_size)
        print(f"ingested {args.source} -> {args.target}")
    elif args.cmd == "grep":
        if args.count:
            print(eng.grep_count(args.path, args.pattern, args.format).collect()[0]["match_count"])
        else:
            eng.grep(args.path, args.pattern, args.format).show(args.limit, truncate=False)
    elif args.cmd == "count":
        print(eng.record_count(args.path, args.format).collect()[0]["record_count"])
    elif args.cmd == "sql":
        eng.sql(args.query, args.sf_dir).show(args.limit, truncate=False)
    elif args.cmd == "wiretap":
        q = eng.wiretap(
            args.log_dir,
            args.subscription,
            checkpoint_dir=args.checkpoint,
            available_now=args.available_now,
        )
        q.awaitTermination()
    elif args.cmd == "dq":
        from hadoop_stuff_spark.operators.quality import dq_orders_report

        dq_orders_report(eng.spark, args.sf_dir).show(truncate=False)
    elif args.cmd == "advise":
        from hadoop_stuff_spark.plans.advisor import advise

        findings = advise(eng.sql(args.query, args.sf_dir))
        if findings:
            for rule, ev in findings:
                print(f"{rule}: {ev}")
        else:
            print("no advisories")
    elif args.cmd == "overlap":
        from hadoop_stuff_spark.catalog import load_table
        from hadoop_stuff_spark.operators.sketches import (
            build_user_theta_sketches,
            theta_audience_overlap,
        )

        events = load_table(eng.spark, args.sf_dir, "events")
        theta_audience_overlap(
            build_user_theta_sketches(events), args.type_a, args.type_b
        ).show(truncate=False)
    elif args.cmd == "drift":
        from hadoop_stuff_spark.catalog import load_table
        from hadoop_stuff_spark.operators.sketches import (
            build_value_kll_sketches,
            kll_drift_by_type,
        )

        events = load_table(eng.spark, args.sf_dir, "events")
        kll_drift_by_type(
            build_value_kll_sketches(events), args.split_date
        ).show(truncate=False)
    elif args.cmd == "lint":
        from hadoop_stuff_spark.plans.lint import lint_plan

        findings = lint_plan(eng.sql(args.query, args.sf_dir))
        if findings:
            for rule, ev in findings:
                print(f"{rule}: {ev}")
            return 1
        print("plan clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
