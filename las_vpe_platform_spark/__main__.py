"""Operational CLI — the launcher surface of the reference platform.

The reference submits work by producing command strings to a Kafka
topic that MessageHandlingApp compiles into per-task ExecutionPlans
(MessageHandlingApp.java:113-125, 214-337). This CLI is the same
vocabulary driven directly: ``run`` compiles a command and executes it
as one Spark plan over a video table, with one fixed fake tracker and
one fixed fake recognizer (no provider selection); ``compact`` is the
HAR-packing maintenance analog (K4); ``query`` runs any catalog entry.

    python -m las_vpe_platform_spark run track-attrrecog \
        --videos fixtures/videos.parquet --output /tmp/out
    python -m las_vpe_platform_spark query q01_pricing_summary \
        --sf-dir /root/testdata/sf0.01
    python -m las_vpe_platform_spark compact /tmp/out/tracklets
"""

from __future__ import annotations

import argparse
import sys


def _cmd_run(args: argparse.Namespace) -> int:
    from las_vpe_platform_spark.plans.pipeline import (
        COMMANDS,
        BatchExecutor,
        compile_command,
    )
    from las_vpe_platform_spark.session import get_spark

    spark = get_spark("vpe-run")
    try:
        plan = compile_command(args.command)
    except ValueError:
        print(f"unknown command {args.command!r}; known: {COMMANDS}", file=sys.stderr)
        return 2
    videos = spark.read.parquet(args.videos)
    outputs = BatchExecutor(spark, output_dir=args.output).run(plan, videos)
    for stream, df in outputs.items():
        print(f"{stream}: {df.count()} rows")
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from las_vpe_platform_spark.queries import CATALOG
    from las_vpe_platform_spark.session import get_spark

    if args.name not in CATALOG:
        print(f"unknown query {args.name!r}; see COVERAGE.md", file=sys.stderr)
        return 2
    spark = get_spark("vpe-query")
    fn, _sql = CATALOG[args.name]
    df = fn(spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    from las_vpe_platform_spark.operators.maintenance import (
        compact_parquet_table,
        recover_compaction,
    )
    from las_vpe_platform_spark.session import get_spark

    state = recover_compaction(args.table_dir)
    if state != "ok":
        print(f"recovered prior compaction state: {state}")
    n = compact_parquet_table(
        get_spark("vpe-compact"), args.table_dir, target_file_mb=args.target_mb
    )
    print(f"compacted to {n} files")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="las_vpe_platform_spark")
    sub = p.add_subparsers(dest="subcommand", required=True)

    run = sub.add_parser("run", help="compile + execute a pipeline command")
    run.add_argument("command", help="e.g. track-attrrecog (MessageHandlingApp vocabulary)")
    run.add_argument("--videos", required=True, help="video table parquet path")
    run.add_argument("--output", default=None, help="sink directory (omit for dry run)")
    run.set_defaults(fn=_cmd_run)

    q = sub.add_parser("query", help="run a catalog query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--output", default=None, help="write parquet instead of show()")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    c = sub.add_parser("compact", help="compact a parquet table (K4 analog)")
    c.add_argument("table_dir")
    c.add_argument("--target-mb", type=int, default=128)
    c.set_defaults(fn=_cmd_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
