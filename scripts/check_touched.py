#!/usr/bin/env python
"""Driver-identical differential, written as a JSON artifact
{name: {ok, detail, sec}}.

Each named query runs against its oracle_sql() on DuckDB through
tests/parity.compare. A query without an oracle runs to .count() and is
recorded ok with its row count; a name that is not registered is
recorded MISSING.

Usage:
    python scripts/check_touched.py OUT.json q63_dedup_near ...  # named queries
    python scripts/check_touched.py OUT.json   # entry(), then every queries() entry

SPARK_GRAFT_SF_DIR overrides the sf0.01 fixture. SPARK_GRAFT_PLAIN=1 runs
on a fully default SparkSession (shuffle=200, host timezone) instead of
the driver config: the harshest approximation of an unknown driver.

Exit code 0 iff every recorded entry is ok.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))


def _session():
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if os.environ.get("SPARK_GRAFT_PLAIN"):
        builder = builder.master("local[*]")
    else:
        builder = (
            builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.session.timeZone", "UTC")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(out: str, names: list[str]) -> int:
    spark = _session()

    import __spark_entry__ as entry_mod
    from parity import compare, make_duck

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    con = make_duck(sf)
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    results: dict[str, dict] = {"_sf_dir": {"ok": True, "detail": sf}}

    def record(name: str, run) -> None:
        t0 = time.perf_counter()
        try:
            ok, detail = run()
        except Exception as exc:  # noqa: BLE001 - recorded, not raised
            ok, detail = False, f"{type(exc).__name__}: {exc}"
        results[name] = {
            "ok": bool(ok),
            "detail": str(detail)[:500],
            "sec": round(time.perf_counter() - t0, 1),
        }
        print(f"{'OK  ' if ok else 'FAIL'} {name} {str(detail)[:200]}", flush=True)

    def check(name: str):
        if name not in queries:
            return False, "MISSING (not registered)"
        df = queries[name](spark, sf)
        if name not in oracles:
            return True, f"ok (no oracle, {df.count()} rows)"
        return compare(df, con, oracles[name])

    def smoke():
        rows = entry_mod.entry(spark).count()
        return rows > 0, f"{rows} rows"

    if not names:
        record("_entry", smoke)
        names = list(queries)
    t_walk = time.perf_counter()
    for name in names:
        record(name, lambda: check(name))
    bad = [n for n, r in results.items() if not r["ok"]]
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(
        f"wrote {out} ({len(bad)} not ok of {len(results) - 1} checked, "
        f"walk {time.perf_counter() - t_walk:.1f}s)"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2:]))
