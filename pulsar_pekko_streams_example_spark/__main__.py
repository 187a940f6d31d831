"""Engine CLI — the user-facing surface for running, explaining, and
oracle-checking registry queries:

    python -m pulsar_pekko_streams_example_spark list [--tag TAG]
    python -m pulsar_pekko_streams_example_spark run NAME [--sf-dir D] [--show N]
    python -m pulsar_pekko_streams_example_spark explain NAME [--sf-dir D]
    python -m pulsar_pekko_streams_example_spark oracle NAME
    python -m pulsar_pekko_streams_example_spark check NAME... [--sf-dir D]

``check`` is the local mirror of the driver's correctness gate: it runs the
Spark query and its DuckDB oracle twin side-by-side and diffs row count,
column names, and normalized cell values.
"""

from __future__ import annotations

import argparse
import sys

from pulsar_pekko_streams_example_spark.plans import REGISTRY, all_queries
from pulsar_pekko_streams_example_spark.sources.tables import TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _spark():
    from pulsar_pekko_streams_example_spark.session import get_spark

    spark = get_spark(app_name="engine-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_list(args: argparse.Namespace) -> int:
    all_queries()
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        if args.tag and args.tag not in spec.tags:
            continue
        oracle = "oracle" if spec.oracle else "rows-only"
        print(f"{name:36s} {oracle:9s} {','.join(spec.tags)}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    all_queries()
    df = REGISTRY[args.name].build(_spark(), args.sf_dir)
    df.show(args.show, truncate=False)
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    import textwrap

    all_queries()
    spec = REGISTRY[args.name]
    print(
        textwrap.fill(
            f"{args.name}: {spec.doc}", 79, break_long_words=False, break_on_hyphens=False
        ),
        end="\n\n",
    )
    spec.build(_spark(), args.sf_dir).explain("formatted")
    return 0


def cmd_oracle(args: argparse.Namespace) -> int:
    all_queries()
    spec = REGISTRY[args.name]
    if spec.oracle is None:
        print(f"-- {args.name} has no SQL oracle (rows-only check)", file=sys.stderr)
        return 1
    print(spec.oracle.strip())
    return 0


def cmd_check(args: argparse.Namespace) -> int:
    import duckdb

    all_queries()
    if args.all:
        args.names = sorted(REGISTRY)
    if not args.names:
        print("nothing to check: pass query names or --all", file=sys.stderr)
        return 2
    spark = _spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')")
    from pulsar_pekko_streams_example_spark.verify import compare

    failed = []
    for name in args.names:
        spec = REGISTRY[name]
        df = spec.build(spark, args.sf_dir)
        if spec.oracle is None:
            n = df.count()
            print(f"{name}: rows-only ({n} rows)")
            continue
        problems = compare(df, con.sql(spec.oracle))
        if problems:
            failed.append(name)
            print(f"{name}: MISMATCH — " + "; ".join(problems))
        else:
            print(f"{name}: MATCH")
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pulsar_pekko_streams_example_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("list", help="list registry queries")
    sp.add_argument("--tag", default=None)
    sp.set_defaults(fn=cmd_list)

    sp = sub.add_parser("run", help="run a query and show rows")
    sp.add_argument("name", choices=None)
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.add_argument("--show", type=int, default=20)
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser(
        "explain", help="print the query's doc and its formatted physical plan"
    )
    sp.add_argument("name")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    sp.add_argument("name")
    sp.set_defaults(fn=cmd_oracle)

    sp = sub.add_parser("check", help="run query vs DuckDB oracle and diff")
    sp.add_argument("names", nargs="*")
    sp.add_argument("--all", action="store_true", help="check every registry query")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.set_defaults(fn=cmd_check)

    args = p.parse_args(argv)
    all_queries()
    for name in [getattr(args, "name", None), *getattr(args, "names", [])]:
        if name is not None and name not in REGISTRY:
            p.error(f"unknown query {name!r}; see `list`")
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
