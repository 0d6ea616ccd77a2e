"""Vanilla driver-loop simulator — the pre-round insurance gate.

Replicates the driver's t2 oracle check EXACTLY (the details that have
bitten before are load-bearing):

  * a PLAIN SparkSession (not utils_spark.session.get_spark) — round 4's
    INVALID_CONF_VALUE crash was vanilla-session-only and invisible to
    every factory-session test;
  * sf0.01 parquet, DuckDB views over the same files;
  * columns sorted BY NAME before value comparison (the driver's hash
    protocol), rows stringified and sorted.

Usage (from the repo root, idle box not required — this is correctness):

    python tools/driver_sim.py                # the driver's ~50-prefix
    python tools/driver_sim.py --full         # all registered queries
    python tools/driver_sim.py --prefix 80    # custom prefix length
    python tools/driver_sim.py name1 name2    # just the named queries

Exit code 0 iff every compared query matches (and entry() smokes >0 rows
when running the prefix/full modes).
"""

from __future__ import annotations

import itertools
import sys
import time

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


USAGE = "usage: driver_sim.py [--full] [--prefix N] [query_name ...]"


def main() -> int:
    args = list(sys.argv[1:])
    prefix = 50
    full = "--full" in args
    if full:
        args.remove("--full")
    if "--prefix" in args:
        i = args.index("--prefix")
        if i + 1 >= len(args) or not args[i + 1].isdigit():
            print(f"--prefix needs an integer value\n{USAGE}", file=sys.stderr)
            return 2
        prefix = int(args[i + 1])
        del args[i : i + 2]
    bad_flags = [a for a in args if a.startswith("-")]
    if bad_flags:
        print(f"unknown flags: {bad_flags}\n{USAGE}", file=sys.stderr)
        return 2
    names_filter = args  # explicit query names, if any

    # Validate names against the registry BEFORE the Spark session spins
    # up (round-12 ADVICE: a typo used to surface as a bare KeyError deep
    # in the loop after ~20 s of JVM startup).
    import __spark_entry__ as E
    from utils_spark.plans import release_scratch_caches

    qs, os_ = E.queries(), E.oracle_sql()
    unknown = [n for n in names_filter if n not in qs]
    if unknown:
        print(f"unknown query names: {unknown}\n{USAGE}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("driver_sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    from utils_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    if names_filter:
        names = names_filter
    elif full:
        names = list(qs)
    else:
        names = list(itertools.islice(qs.keys(), prefix))

    bad, rows_only = [], []
    t0 = time.time()
    for name in names:
        if name not in os_:
            rows_only.append(name)
            if names_filter:
                # Explicitly requested: still EXECUTE it (rows-only count)
                # so a diff-touched query can never look green without
                # having run (round-12 ADVICE). Prefix/full modes keep the
                # driver's skip semantics — those samples are oracle-only.
                n_rows = qs[name](spark, SF_DIR).count()
                print(f"rows-only {name}: {n_rows} rows (no oracle)")
            continue
        sdf = qs[name](spark, SF_DIR)
        s = norm([tuple(r) for r in sdf.collect()], sdf.columns)
        release_scratch_caches()  # session hygiene for --full sweeps (r16)
        res = con.execute(os_[name])
        d = norm(res.fetchall(), [c[0] for c in res.description])
        if s != d:
            bad.append(name)
            print(f"MISMATCH {name}: spark {len(s)} rows vs oracle {len(d)}")
        else:
            print(f"match {name}: {len(s)} rows")
    if not names_filter:
        entry_rows = len(E.entry(spark).collect())
        print(f"entry rows: {entry_rows}")
        if entry_rows <= 0:
            bad.append("__entry__")
    print(f"{len(names)} queries in {time.time() - t0:.0f}s; rows-only: {len(rows_only)}")
    print("ALL GREEN" if not bad else f"FAILED: {bad}")
    spark.stop()
    return 0 if not bad else 1


if __name__ == "__main__":
    raise SystemExit(main())
