"""CLI — parity with the reference binary's usage
``./warpdb "<expr> [WHERE cond]" [data_file]`` (src/main.cu:120-145):

    python -m warpdb_spark "price * quantity WHERE price > 10" data.csv
    python -m warpdb_spark --sql "SELECT price FROM t ORDER BY price DESC LIMIT 5" data.csv

Prints the result table (df.show analog of the reference's stdout sink,
src/main.cu:222-296).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="warpdb_spark")
    ap.add_argument("query", help="expression mini-language (or SQL with --sql)")
    ap.add_argument("data_file", nargs="?", default="data/test.csv")
    ap.add_argument("--sql", action="store_true", help="treat query as full dialect SQL")
    ap.add_argument("--limit", type=int, default=20, help="max rows to print")
    ap.add_argument("--float32", action="store_true", help="coerce result to float32 (reference parity)")
    args = ap.parse_args(argv)

    from warpdb_spark.api import WarpDB
    from warpdb_spark.errors import WarpDBError
    from warpdb_spark.session import get_spark
    from warpdb_spark.sources.readers import load_table

    try:
        # one query per process: a lazy scan, no cached snapshot to fill
        spark = get_spark()
        db = WarpDB(df=load_table(spark, args.data_file), spark=spark, table_name="t")
        if args.sql:
            df = db.query_sql(args.query)
        else:
            df = db.query(args.query, coerce_float32=args.float32)
        df.show(args.limit, truncate=False)
    except (WarpDBError, ValueError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
