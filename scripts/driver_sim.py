#!/usr/bin/env python
"""Simulate the driver's verify pass against __spark_entry__.py.

Builds a PLAIN SparkSession (deliberately not our tuned factory — the
driver owns its session), smoke-runs ``entry(spark)``, then runs every
``queries()[name]`` at the given SF dir and diffs it against
``oracle_sql()[name]`` via DuckDB: row count, column names,
order-insensitive normalized value multiset.

Usage: python scripts/driver_sim.py [--json OUT.json] [--registration-order]
           [--perm N [--seed S]] [sf_dir] [query ...]

With ``--json`` the per-query results are also written in the driver's
CORRECTNESS_r{N}.json format.

``--registration-order`` runs queries in registration order instead of
sorted — the driver's actual iteration order, which matters because all
queries share ONE session and an earlier query's session-conf mutation
(e.g. the nanos-parquet legacy flag set by any events read) can leak
into a later query.

``--perm N`` runs the whole suite N times in seeded random orders, each
under a FRESH ``spark.newSession()`` (fresh SQLConf, shared JVM), and
reports any query that fails in some order but not others — a sweep
for session-conf order-dependence across the full registry.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import duckdb
from pyspark.sql import SparkSession


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _pop_flag(argv: list, flag: str, has_value: bool = False):
    if flag not in argv:
        return None if has_value else False
    i = argv.index(flag)
    if has_value:
        val = argv[i + 1]
        del argv[i : i + 2]
        return val
    del argv[i]
    return True


def run_suite(spark, con, sf_dir: str, ordered_names, qs, oracles):
    """Run each named query and diff it against its oracle; returns
    (results dict in the driver's CORRECTNESS format, failed list)."""
    failed = []
    results = {}
    for name in ordered_names:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": f"spark: {ex}"[:300],
            }
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (rows-only) in {time.time() - t0:.1f}s")
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None, "err": "no_oracle",
            }
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0].lower() for d in rel.description]
            drows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(srows), "oracle_rows": None, "err": f"duckdb: {ex}"[:300],
            }
            continue
        status, detail, diff = "OK", "", None
        schema_match = sorted(scols) == sorted(dcols)
        rows_match = len(srows) == len(drows)
        hash_match = False
        if not schema_match:
            status, detail = "FAIL", f"cols spark={scols} duck={dcols}"
        else:
            sm, dm = _multiset(srows, scols), _multiset(drows, dcols)
            hash_match = rows_match and sm == dm
            if not hash_match:
                # Symmetric difference of the normalized multisets — the
                # actual differing rows, so a red row is diagnosable from
                # the artifact alone (VERDICT r5 "What's wrong" #2).
                from collections import Counter

                cs, cd = Counter(sm), Counter(dm)
                only_s = [list(t) for t in (cs - cd).elements()][:20]
                only_d = [list(t) for t in (cd - cs).elements()][:20]
                diff = {
                    "cols_sorted": sorted(scols),
                    "spark_only": only_s,
                    "oracle_only": only_d,
                }
                status = "FAIL"
                if not rows_match:
                    detail = f"rows spark={len(srows)} duck={len(drows)}"
                else:
                    detail = (
                        f"values differ; spark-only={only_s[:3]} "
                        f"oracle-only={only_d[:3]}"
                    )
        print(f"{status:5s} {name}: {len(srows)} rows in {time.time() - t0:.1f}s {detail}")
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(srows),
            "oracle_rows": len(drows), "err": detail or None,
        }
        if diff is not None:
            results[name]["diff"] = diff
        if status == "FAIL":
            failed.append(name)
    return results, failed


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = _pop_flag(argv, "--json", has_value=True)
    reg_order = _pop_flag(argv, "--registration-order")
    perms = _pop_flag(argv, "--perm", has_value=True)
    seed = int(_pop_flag(argv, "--seed", has_value=True) or "5")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    n = e.entry(spark).count()
    print(f"SMOKE entry(): {n} rows in {time.time() - t0:.1f}s -> {'OK' if n > 0 else 'FAIL'}")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    names = list(qs) if reg_order else sorted(qs)
    if only:
        names = [n_ for n_ in names if n_ in only]

    if perms:
        # Order-dependence sweep: same suite, N seeded shuffles, each in
        # a fresh session (fresh SQLConf, shared JVM) so leaked confs
        # from one permutation cannot mask or cause a failure in the
        # next. A query red in one order and green in another is a
        # session-state bug, not a data bug.
        import random

        failures_by_perm = {}
        for p in range(int(perms)):
            rng = random.Random(seed + p)
            order = names[:]
            rng.shuffle(order)
            sess = spark.newSession()
            print(f"\n=== perm {p} (seed {seed + p}) first 5: {order[:5]} ===")
            _, failed = run_suite(sess, con, sf_dir, order, qs, oracles)
            failures_by_perm[p] = failed
        flaky = {n_ for fl in failures_by_perm.values() for n_ in fl}
        print(f"\npermutation sweep: {len(failures_by_perm)} orders, failures: ")
        for p, fl in failures_by_perm.items():
            print(f"  perm {p}: {len(fl)}" + (f" {fl}" if fl else ""))
        if json_out:
            import json

            with open(json_out, "w") as fh:
                json.dump(
                    {
                        "seed": seed,
                        "n_queries": len(names),
                        "sf_dir": sf_dir,
                        "failures_by_perm": failures_by_perm,
                    },
                    fh,
                    indent=2,
                )
            print(f"wrote {json_out}")
        return 1 if flaky else 0

    results, failed = run_suite(spark, con, sf_dir, names, qs, oracles)
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {json_out} ({len(results)} queries)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
