#!/usr/bin/env python3
"""Write golden/query_suite_sf0.01.json: for every registry query, the
hash of its DuckDB oracle result over data/sf0.01, normalized the way
``tests/oracle_harness`` compares results.

    python3 perfbench/make_golden.py

Needs no Spark; rerun only when the oracle SQL or the tables change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import common


def main() -> None:
    sys.path.insert(0, common.ROOT)
    sys.path.insert(0, os.path.join(common.ROOT, "tests"))
    from oracle_harness import _norm_pdf, duck_connection

    from query_suite import GOLDEN, SF_DIR
    from weather_monitoring_spark.plans.registry import all_queries

    con = duck_connection(SF_DIR)
    try:
        golden = {
            name: hashlib.sha256(
                repr(_norm_pdf(con.sql(spec.oracle).df())).encode()
            ).hexdigest()
            for name, spec in sorted(all_queries().items())
        }
    finally:
        con.close()
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(golden)} golden hashes -> {GOLDEN}")


if __name__ == "__main__":
    main()
