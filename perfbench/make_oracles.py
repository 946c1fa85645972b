"""Regenerate oracles.json: the row digest of every read-mix query's
DuckDB oracle over the benchmark's tables.

The oracles run here, once, so a benchmark run never pays for them (the
multimodal_phash oracle alone is seconds of DuckDB time). With --verify
each query also runs on Spark and must produce the same digest.

    python3 perfbench/make_oracles.py [--verify]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from olap import DATA, MIX, ORACLES, rows_digest  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--verify", action="store_true",
                    help="also run every query on Spark and compare")
    args = ap.parse_args()

    from tiflash_spark.registry import all_oracles, all_queries
    from tiflash_spark.testing import duckdb_connection

    con = duckdb_connection(DATA)
    sqls = all_oracles()
    digests = {name: rows_digest(con.execute(sqls[name]).fetchdf()) for name in MIX}
    bad = []
    if args.verify:
        from tiflash_spark.session import get_spark

        spark = get_spark("make_oracles")
        spark.sparkContext.setLogLevel("ERROR")
        queries = all_queries()
        for name in MIX:
            got = rows_digest(queries[name](spark, DATA).toPandas())
            print(f"{name}: {'ok' if got == digests[name] else 'MISMATCH'}")
            if got != digests[name]:
                bad.append(name)
        spark.stop()
    with open(ORACLES, "w") as fh:
        json.dump({"data": "data/sf0.01", "digests": digests}, fh, indent=1,
                  sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
