"""Local driver-simulation: run registered queries against their DuckDB
oracles (exact string-tuple compare, the verify-skill recipe) at a given
SF dir. Used in the optimization round to re-verify every query whose
module was touched.

Usage:
    python tools/oracle_sim.py --sf /root/testdata/sf0.01 \
        [--only name1,name2 | --changed] [--out /tmp/sim.json]

--changed runs verification.must_verify() (fingerprint mismatches vs the
manifest) — the mechanically derived "my edits touched these" set.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--changed", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as m
    from redpanda_iceberg_duckdb_spark import cache
    from redpanda_iceberg_duckdb_spark.session import get_spark

    spark = get_spark("oracle_sim")
    qs, osql = m.queries(), m.oracle_sql()

    names = list(qs)
    if args.changed:
        from redpanda_iceberg_duckdb_spark.verification import must_verify
        changed = must_verify()
        names = [n for n in names if n in changed]
        print(f"# must_verify: {len(names)} queries", file=sys.stderr)
    if args.only:
        names = [n.strip() for n in args.only.split(",")]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf}/{t}.parquet')")

    results = {}
    n_fail = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            srows = sorted(tuple(str(x) for x in r)
                           for r in qs[name](spark, args.sf).collect())
            if name in osql:
                orows = sorted(tuple(str(x) for x in r)
                               for r in con.execute(osql[name]).fetchall())
                ok = srows == orows
                results[name] = {"ok": ok, "spark_rows": len(srows),
                                 "oracle_rows": len(orows),
                                 "s": round(time.perf_counter() - t0, 2)}
            else:
                ok = True
                results[name] = {"ok": True, "rows_only": len(srows),
                                 "s": round(time.perf_counter() - t0, 2)}
        except Exception as exc:
            ok = False
            results[name] = {"ok": False, "err": str(exc)[:300],
                             "s": round(time.perf_counter() - t0, 2)}
        if not ok:
            n_fail += 1
        print(f"# {name}: {'OK' if ok else 'FAIL'} "
              f"({results[name].get('s')}s)", file=sys.stderr, flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    print(json.dumps({"n": len(results), "fail": n_fail,
                      "cache": cache.stats()}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
