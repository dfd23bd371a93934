"""CLI runner for the query registry.

    python tools/run_query.py --list
    python tools/run_query.py tpch_q1 [--sf /root/testdata/sf0.01]
    python tools/run_query.py knn_topk --explain
    python tools/run_query.py vocab_topk --oracle   # print the DuckDB SQL
    python tools/run_query.py --oracle > oracles.json  # every {key: sql}

Runs one registry query on a local session and prints the result (first
--rows rows, default 20). `--explain` prints the formatted physical plan
instead of executing; `--oracle` prints the ANSI-SQL oracle string, or
with no query the whole {key: sql} map as sorted JSON, the text to diff
before and after a registry change.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", nargs="?", help="registry query name")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--rows", type=int, default=20)
    ap.add_argument("--list", action="store_true",
                    help="list registry query names")
    ap.add_argument("--explain", action="store_true",
                    help="print the physical plan, don't execute")
    ap.add_argument("--oracle", action="store_true",
                    help="print the DuckDB oracle SQL, don't execute")
    args = ap.parse_args()

    from tripgogo_vector_search_spark.plans.registry import ORACLES, QUERIES

    if args.oracle and not args.query:
        print(json.dumps(ORACLES, indent=1, sort_keys=True))
        return
    if args.list or not args.query:
        for name in QUERIES:
            print(name)
        return
    if args.query not in QUERIES:
        raise SystemExit(f"unknown query {args.query!r} (see --list)")
    if args.oracle:
        print(ORACLES.get(args.query, "-- no SQL oracle (rows-only query)"))
        return

    from tripgogo_vector_search_spark.session import get_spark
    spark = get_spark(f"run-{args.query}")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.query](spark, args.sf)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.rows, truncate=False)


if __name__ == "__main__":
    main()
