"""Batch command-line entry point.

The reference drives everything from an argparse ``main()`` with a date
range and an operation picked by the CI workflow (reference
src/01-scrape-images.py:532-543 for the parser;
.github/workflows/main.yml:14-23 declares start-month / continue /
retry-failed / verify-month).  This CLI is that surface over the Spark
engine: the date range prunes the events scan (partition-pruned,
pushed-down predicate), the operation dispatches through
``operators.incremental.run_operation``, and any registered query can
be run ad hoc by name.

Usage examples::

    python -m newspapers_etl_spark run --operation start \
        --start-date 2024-01-01 --end-date 2024-01-31 \
        --target /tmp/sink --sf-dir /root/testdata/sf0.01
    python -m newspapers_etl_spark run --operation verify \
        --start-date 2024-01-01 --end-date 2024-01-31 --target /tmp/sink
    python -m newspapers_etl_spark query --name q1_pricing_summary
    python -m newspapers_etl_spark list
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="newspapers_etl_spark",
        description="PySpark analytics engine — batch operations and ad-hoc queries",
    )
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="fixture table directory")
    p.add_argument("--cpus", type=int, default=None, help="local[] parallelism")
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="execute one workflow operation over a date range")
    run.add_argument(
        "--operation",
        choices=["start", "continue", "retry-failed", "verify"],
        required=True,
    )
    run.add_argument("--start-date", required=True, help="YYYY-MM-DD inclusive")
    run.add_argument("--end-date", required=True, help="YYYY-MM-DD inclusive")
    run.add_argument("--target", required=True, help="parquet sink directory")

    q = sub.add_parser("query", help="run one registered query and print its rows")
    q.add_argument("--name", required=True)
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list registered query names")

    ex = sub.add_parser(
        "explain",
        help="plan audit for one registered query: formatted plan, "
        "shuffle count, exchange partitionings, pushed filters, "
        "read schemas",
    )
    ex.add_argument("--name", required=True)

    lint = sub.add_parser(
        "lint",
        help="scale lint: fail if a query plans a CartesianProduct, a "
        "row-at-a-time Python UDF, or a text-keyed exchange "
        "(one query with --name, else the whole registry)",
    )
    lint.add_argument("--name", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    # Imports deferred so `--help` costs no JVM startup.
    from newspapers_etl_spark import registry
    from newspapers_etl_spark.session import get_spark

    if args.command == "list":
        oracles = registry.all_oracles()
        for name in sorted(registry.all_queries()):
            kind = "oracle" if name in oracles else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    spark = get_spark("newspapers_etl_spark_cli", cpus=args.cpus)

    if args.command == "query":
        queries = registry.all_queries()
        if args.name not in queries:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        queries[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0

    if args.command == "explain":
        from newspapers_etl_spark import plans  # deferred: CLI start-up

        queries = registry.all_queries()
        if args.name not in queries:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        df = queries[args.name](spark, args.sf_dir)
        print(plans.formatted(df))
        print(f"shuffles (hash exchanges): {plans.shuffle_count(df)}")
        for h in plans.exchange_headers(df):
            print(f"  exchange: {h}")
        for f in plans.pushed_filters(df):
            print(f"  {f}")
        for s in plans.read_schemas(df):
            print(f"  {s}")
        return 0

    if args.command == "lint":
        from newspapers_etl_spark import plans  # deferred: CLI start-up

        queries = registry.all_queries()
        if args.name is not None and args.name not in queries:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        names = [args.name] if args.name else sorted(queries)
        violations = []
        for name in names:
            df = queries[name](spark, args.sf_dir)
            violations.extend(plans.lint_violations(name, df))
        for v in violations:
            print(v)
        print(
            f"linted {len(names)} queries: {len(violations)} violations",
            file=sys.stderr,
        )
        return 1 if violations else 0

    # command == "run": date-ranged events batch through one operation.
    # Imports deferred, like the ones above, to keep CLI start-up fast.
    from newspapers_etl_spark.catalog import load_table
    from newspapers_etl_spark.operators.incremental import run_operation

    src = load_table(spark, args.sf_dir, "events").filter(
        (F.to_date("ts") >= F.lit(args.start_date))
        & (F.to_date("ts") <= F.lit(args.end_date))
    )
    result = run_operation(
        spark, args.operation, src, args.target, key_cols=["event_id"]
    )
    if args.operation == "verify":
        result.orderBy("day").show(100, truncate=False)
        n_bad = result.filter(F.col("status") == "incomplete").count()
        print(f"incomplete days: {n_bad}", file=sys.stderr)
        return 0 if n_bad == 0 else 1
    print(f"rows written: {result}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
