"""Command-line entry points — the Spark-native equivalents of the
reference's three executables plus a query runner:

    python -m busdata_pipeline_spark collect  --ids ids.txt --out bronze/
    python -m busdata_pipeline_spark subscribe --drop-dir d/ --warehouse wh/
    python -m busdata_pipeline_spark transform --in 'day/*.jsonl' --warehouse wh/
    python -m busdata_pipeline_spark query [--sf-dir DIR] [NAME ...]
    python -m busdata_pipeline_spark list

reference mapping: `collect` = data_collector.py:164-196 (id-list fan-out
-> raw archive; the HTTP fetcher needs network, so offline runs must pass
--fake-fetch), `subscribe` = data_subscriber.py:100-145 (drain the drop
dir into the warehouse exactly-once, then promote), `transform` =
transform.py:314-344 (per-day JSONL -> enrich -> star schema), `query` =
psql -f analytic.sql (runs registered analytics and prints them).
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from busdata_pipeline_spark.session import get_spark

    return get_spark(app)


def cmd_collect(args: argparse.Namespace) -> int:
    from busdata_pipeline_spark.sources.collector import (
        fetch_breadcrumbs,
        http_fetcher,
        read_vehicle_ids,
        write_bronze,
    )

    spark = _spark("collect")
    ids = read_vehicle_ids(spark, args.ids)
    if args.fake_fetch:
        from busdata_pipeline_spark.sources.collector import fake_fetcher

        fetcher = fake_fetcher
    else:
        fetcher = http_fetcher
    raw = fetch_breadcrumbs(ids, fetcher, parallelism=args.parallelism)
    write_bronze(raw, args.out)
    print(f"collected -> {args.out}")
    return 0


def cmd_subscribe(args: argparse.Namespace) -> int:
    from busdata_pipeline_spark.operators.warehouse import promote_stage
    from busdata_pipeline_spark.streaming.ingest import (
        stream_breadcrumbs,
        stream_into_warehouse,
    )
    from busdata_pipeline_spark.streaming.replay import await_or_raise

    spark = _spark("subscribe")
    q = stream_into_warehouse(
        stream_breadcrumbs(spark, args.drop_dir),
        args.warehouse,
        args.checkpoint or f"{args.warehouse}/_checkpoint",
        incremental=True,
    )
    try:
        await_or_raise(q, args.timeout)
    except TimeoutError as e:
        # a half-staged day must not be promoted
        print(e, file=sys.stderr)
        return 1
    promote_stage(spark, args.warehouse)
    print(f"subscribed {args.drop_dir} -> {args.warehouse}")
    return 0


def cmd_transform(args: argparse.Namespace) -> int:
    from busdata_pipeline_spark.operators.warehouse import (
        audit_day_count,
        load_day,
    )
    from busdata_pipeline_spark.sources.jsonl import read_breadcrumb_jsonl

    spark = _spark("transform")
    raw = read_breadcrumb_jsonl(spark, args.infile)
    load_day(raw, args.warehouse)
    if args.date:
        print(f"{args.date}: {audit_day_count(spark, args.warehouse, args.date)} rows")
    print(f"transformed {args.infile} -> {args.warehouse}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    import __spark_entry__ as entry

    spark = _spark("query")
    queries = entry.queries()
    names = args.names or sorted(n for n in queries if n.startswith("bus_"))
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    for name in names:
        print(f"== {name}")
        queries[name](spark, args.sf_dir).show(args.rows, truncate=False)
    return 0


def cmd_check(args: argparse.Namespace) -> int:
    """Data-quality gate: run the expectation suite against a parquet
    table; exit 1 if any rule has violations (CI/orchestrator contract —
    the reference's per-line try/except becomes an explicit gate)."""
    from pyspark.sql import functions as F

    from busdata_pipeline_spark.operators.profile import quality_report

    spark = _spark("check")
    df = spark.read.parquet(args.path)
    missing = [c for c in (args.not_null or []) + ([args.unique] if args.unique else [])
               if c not in df.columns]
    if missing:
        print(f"no such columns: {missing}", file=sys.stderr)
        return 2
    rules = [(f"null_{c}", F.col(c).isNull()) for c in (args.not_null or [])]
    report = quality_report(df, rules, unique_key=args.unique).collect()
    bad = 0
    for r in report:
        print(f"{r.rule}\t{r.n_violations}")
        bad += r.n_violations
    return 1 if bad else 0


def cmd_list(_args: argparse.Namespace) -> int:
    import __spark_entry__ as entry

    qs, os_ = entry.queries(), entry.oracle_sql()
    for name in sorted(qs):
        print(f"{name}\t{'oracled' if name in os_ else 'rows-only'}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="busdata_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("collect", help="id-list fetch fan-out -> raw archive")
    c.add_argument("--ids", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--parallelism", type=int, default=32)
    c.add_argument("--fake-fetch", action="store_true",
                   help="use the deterministic offline fetcher (no network here)")
    c.set_defaults(fn=cmd_collect)

    s = sub.add_parser("subscribe", help="drain drop dir -> warehouse, exactly-once")
    s.add_argument("--drop-dir", required=True)
    s.add_argument("--warehouse", required=True)
    s.add_argument("--checkpoint")
    s.add_argument("--timeout", type=int, default=300)
    s.set_defaults(fn=cmd_subscribe)

    t = sub.add_parser("transform", help="per-day JSONL -> enrich -> star schema")
    t.add_argument("--in", dest="infile", required=True)
    t.add_argument("--warehouse", required=True)
    t.add_argument("--date", help="audit count for this service date after load")
    t.set_defaults(fn=cmd_transform)

    q = sub.add_parser("query", help="run registered analytics queries")
    q.add_argument("names", nargs="*")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--rows", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    l = sub.add_parser("list", help="list registered queries")
    l.set_defaults(fn=cmd_list)

    k = sub.add_parser("check", help="data-quality gate over a parquet table")
    k.add_argument("--path", required=True)
    k.add_argument("--not-null", nargs="*", default=[])
    k.add_argument("--unique")
    k.set_defaults(fn=cmd_check)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
