"""Catalog query runner — run any SURVEY §2 query from the shell.

``python -m llm_map_reduce_summarizer_spark.query <key> [--sf DIR]``
runs one entry of the query catalog (``__spark_entry__.queries()``)
and prints the result; with no key it lists every available query.
Kept separate from ``__main__`` so the reference-parity summarizer CLI
surface stays an exact mirror of the reference's argparse.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="llm_map_reduce_summarizer_spark.query",
        description="Run a catalog query against a testdata directory",
    )
    p.add_argument("key", nargs="?",
                   help="Query key (omit to list all available keys)")
    p.add_argument("--sf", default="/root/testdata/sf0.01",
                   help="Table directory (default: %(default)s)")
    p.add_argument("--limit", type=int, default=20,
                   help="Max rows to print (default: %(default)s; 0 = all)")
    p.add_argument("--json", action="store_true", dest="as_json",
                   help="Print one JSON object per row instead of a table")
    return p


def _catalog() -> dict:
    # import here so `--help` and key listing errors stay snappy
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.queries()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    queries = _catalog()
    if not args.key:
        for k in sorted(queries):
            print(k)
        return 0
    if args.key not in queries:
        print(f"unknown query key: {args.key!r} "
              f"(run with no key to list all {len(queries)})",
              file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark("catalog-query")
    try:
        df = queries[args.key](spark, args.sf)
        if args.limit:
            df = df.limit(args.limit)
        if args.as_json:
            for row in df.collect():
                print(json.dumps(row.asDict(), default=str))
        else:
            df.show(args.limit or df.count(), truncate=40)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
