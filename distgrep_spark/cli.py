"""Command-line client — parity with the reference's client entry point.

The reference client (client.go:25-29) takes ``-f`` (file), ``-substr``
(pattern), ``-s`` (server address), ``-hl`` (highlight mode) and prints
``Freq.\\tLine`` then one ``<freq>\\t<line>`` row per distinct matching
line (client.go:80, server.go:229-235). This CLI keeps the flags
(``-s`` becomes the Spark master URL — the "server" of a Spark engine)
and the output format, adds ``--regex``/``--ignore-case`` for the
superset modes, and ``--ordered`` for stable output (the reference is
explicitly unordered, README.md:32-34, so unordered stays the default).

Beyond reference parity, ``--sql`` runs arbitrary ANSI SQL over the
fixture catalog views (``register_views``) — the ad-hoc entry point an
engine user expects — and ``--explain`` prints the formatted physical
plan instead of rows (the .explain() surface from the shell).

Usage::

    python -m distgrep_spark.cli -f ILIAD.txt -substr Achille -hl classic
    python -m distgrep_spark.cli --sql "SELECT count(*) FROM orders" \
        --sf-dir /root/testdata/sf0.001
    python -m distgrep_spark.cli --sql "SELECT ..." --explain
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="distgrep", description="distributed grep on Spark"
    )
    p.add_argument("-f", "--file", help="input text file/glob (grep mode)")
    p.add_argument("-substr", "--pattern", help="pattern to match (grep mode)")
    p.add_argument(
        "-s", "--master", default="local[*]", help="Spark master URL (default local[*])"
    )
    p.add_argument(
        "-hl",
        "--highlight",
        choices=["classic", "asterisks", "none"],
        default="none",
        help="highlight matches in output (reference client.go:17-21)",
    )
    p.add_argument("--regex", action="store_true", help="treat pattern as regex")
    p.add_argument("--ignore-case", action="store_true")
    p.add_argument("--ordered", action="store_true", help="sort by freq desc, line")
    p.add_argument("--sql", help="run SQL over the fixture catalog views instead of grep")
    p.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="fixture dir for --sql catalog views",
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="with --sql: print the formatted physical plan, not rows",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.sql is None and (args.file is None or args.pattern is None):
        parser.error("either --sql or both -f and -substr are required")

    from distgrep_spark.operators.grep import distgrep, highlight
    from distgrep_spark.session import get_spark
    from distgrep_spark.sources.readers import read_lines

    spark = get_spark("distgrep-cli", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.sql is not None:
            from distgrep_spark.sources.catalog import register_views

            register_views(spark, args.sf_dir)
            res = spark.sql(args.sql)
            if args.explain:
                print(
                    res._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    )
                )
                return 0
            print("\t".join(res.columns))
            for row in res.toLocalIterator():
                print("\t".join("" if v is None else str(v) for v in row))
            return 0
        df = distgrep(
            read_lines(spark, args.file),
            args.pattern,
            column="value",
            mode="regex" if args.regex else "contains",
            case_sensitive=not args.ignore_case,
            ordered=args.ordered,
        )
        if args.highlight != "none" and not args.regex:
            df = highlight(
                df,
                args.pattern,
                column="line",
                style=args.highlight,
                case_sensitive=not args.ignore_case,
            )
        print("Freq.\tLine\n---")
        for row in df.toLocalIterator():
            print(f"{row['freq']}\t{row['line']}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
