"""CLI entry point — the engine's replacement for the reference's per-program
``spark-submit`` drivers (SURVEY §3 entry point 1).

The reference compiles one driver per query, parameterized by --input/--date
(``a6/Q1.scala:14-33`` Scallop config); the engine exposes every registered
operator behind one CLI:

    python -m big_data_toolkit_spark.cli list
    python -m big_data_toolkit_spark.cli run q1_count_shipped \
        --sf-dir /root/testdata/sf0.01 --show 20
    python -m big_data_toolkit_spark.cli sql "SELECT count(*) FROM lineitem" \
        --sf-dir /root/testdata/sf0.01
    python -m big_data_toolkit_spark.cli explain q15_top_supplier \
        --mode formatted

``sql`` registers the TESTDATA tables as views and hands the statement to
``spark.sql`` — the full Catalyst path the reference never had.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="big-data-toolkit-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    run = sub.add_parser("run", help="run a registered query")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--show", type=int, default=20, help="rows to print")
    run.add_argument(
        "--output",
        help="write the full result to this directory instead of printing "
        "(the reference drivers' output-dir contract; overwrites like "
        "S14)",
    )
    run.add_argument(
        "--format",
        default="parquet",
        choices=["parquet", "csv", "json"],
        help="sink format for --output",
    )

    sql = sub.add_parser("sql", help="run ad-hoc SQL over the TESTDATA views")
    sql.add_argument("statement")
    sql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sql.add_argument("--show", type=int, default=20)

    explain = sub.add_parser(
        "explain", help="print a registered query's physical plan"
    )
    explain.add_argument("query")
    explain.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    explain.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
        help="df.explain() mode",
    )

    args = parser.parse_args(argv)
    from big_data_toolkit_spark.registry import queries

    registry = queries()

    if args.cmd == "list":
        for name in sorted(registry):
            print(name)
        return 0

    from big_data_toolkit_spark.catalog import register_tables
    from big_data_toolkit_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd in ("run", "explain"):
        if args.query not in registry:
            print(f"unknown query {args.query!r}; try 'list'", file=sys.stderr)
            return 2
        df = registry[args.query](spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain(args.mode)
            return 0
        if args.cmd == "run" and args.output:
            writer = df.write.mode("overwrite")
            if args.format == "csv":
                writer = writer.option("header", "true")
            getattr(writer, args.format)(args.output)
            print(f"wrote {args.output} ({args.format})")
            return 0
    else:
        register_tables(spark, args.sf_dir)
        df = spark.sql(args.statement)
    df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
