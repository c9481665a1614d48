#!/usr/bin/env python
"""Machine-readable targeted differential for round-touched queries
(ADVICE r13: the per-change oracle checks existed only as prose).

Runs the driver-identical compare (tests/parity.compare, plain
driver-config session) for every named query at the given SF and writes
a JSON artifact {name: {ok, detail}}.

Usage: python scripts/check_touched.py OUT.json q63_dedup_near ...
       [SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))


def main(out: str, names: list[str]) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from parity import compare

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    results: dict[str, dict] = {"_sf_dir": {"ok": True, "detail": sf}}
    bad = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            ok, detail = compare(queries[name](spark, sf), con, oracles[name])
        except Exception as exc:  # noqa: BLE001 - recorded, not raised
            ok, detail = False, f"{type(exc).__name__}: {exc}"
        if not ok:
            bad += 1
        results[name] = {
            "ok": bool(ok),
            "detail": str(detail)[:500],
            "sec": round(time.perf_counter() - t0, 1),
        }
        print(("OK  " if ok else "FAIL") + f" {name}", flush=True)
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out} ({len(names) - bad}/{len(names)} OK)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2:]))
