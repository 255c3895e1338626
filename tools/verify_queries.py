"""Targeted driver-sim verify: run named registry queries against
their DuckDB oracles (order-insensitive rows+schema compare, the
tests/compare.py harness == the driver's t2 check) at one or more SFs.
``ulp_sensitive`` entries compare float-exact, as in tier-1.

Usage: python tools/verify_queries.py [--sf 0.01[,0.1]] name [name ...]
(``--sf`` may come before, between or after the names.)

Like the driver, the tool builds a vanilla SparkSession (no configs from
``session.get_spark``) and starts it from a temporary working directory,
so Spark's Python workers cannot import this package: a Python operator
whose function pickles by reference to a module of the package fails
here as it does under the driver.

VERDICT r13 item 8: the driver's rotating 50-query sample left 23 of
28 rewritten queries unverified by the driver; this tool produces the
committed board for every query an optimization round touches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _guard import sweep

WATCHDOG_S = 120


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="name", help="registry query names")
    ap.add_argument(
        "--sf", default="0.01", help="comma-separated scale factors (default 0.01)"
    )
    args = ap.parse_intermixed_args()
    sfs = args.sf.split(",")
    names = args.names

    from pyspark.sql import SparkSession

    from tiny_etl_multiproc_bigdata_spark.session import _cpus
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        oracle_sql,
        queries,
        query_metadata,
    )
    from tests.compare import compare, duck_connect

    # The JVM, and with it every Python worker, inherits this directory.
    os.chdir(tempfile.gettempdir())
    cpus = _cpus()

    def new_session():
        return (
            SparkSession.builder.appName("verify-queries")
            .master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )

    q, o, meta = queries(), oracle_sql(), query_metadata()
    board: dict[str, dict] = {}
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        con = duck_connect(sf_dir)

        def check(spark, name: str) -> dict:
            counts: dict = {}
            problems = compare(
                q[name](spark, sf_dir), con, o[name],
                meta[name]["ulp_sensitive"], counts,
            )
            row = {
                "ok": not problems,
                "spark_rows": counts["spark"],
                "oracle_rows": counts["duckdb"],
            }
            if problems:
                row["first_diff"] = problems
            return row

        for name, out in sweep(new_session, names, "verify", WATCHDOG_S, check).items():
            key = f"{name}@sf{sf}"
            board[key] = (
                out.value if out.status == "ok"
                else {"ok": False, "err": repr(out.error)[:300]}
            )
            print(f"{key}: {'OK' if board[key]['ok'] else 'FAIL'}", flush=True)
        con.close()
    print(json.dumps(board, indent=1))
    sys.exit(0 if all(r["ok"] for r in board.values()) else 1)


if __name__ == "__main__":
    main()
