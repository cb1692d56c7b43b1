"""Registry-wide cache-teardown lint: run EVERY registry query, call
``unpersist_shared``, and assert zero persisted RDDs remain in the JVM.

It checks the teardown contract: ``unpersist_shared`` frees everything
the session persisted — the SQL cache manager and every persisted RDD,
MLlib's factor RDDs and ``localCheckpoint`` blocks included — so
operators ``.persist()``/``.cache()`` what they reuse and never track
it. A query that leaves ANY persisted RDD behind after
``unpersist_shared`` fails the lint, with the offending RDD names in
the log.

Unlike tools/driver_sim.py (which deliberately keeps shared caches warm
across queries, as the real driver does), this sweep tears down after
EVERY query — shared plans rebuild each time, so run it at sf0.001
where rebuilds are cheap.

Usage: python tools/cache_lint.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None

    from pyspark.sql import SparkSession

    from pyspark_recs.session import (
        persistent_rdd_snapshot,
        release_all_persistent,
    )
    from pyspark_recs.workloads.common import unpersist_shared

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    names = list(qs)
    if only is not None:
        unknown = sorted(set(only) - set(names))
        if unknown:
            raise SystemExit(f"unknown query names: {', '.join(unknown)}")
        names = [n for n in names if n in set(only)]

    # Baseline must be clean (a dirty session would blame query 1).
    unpersist_shared(spark)

    leaks: dict[str, list] = {}
    t_total = time.time()
    for name in names:
        t0 = time.time()
        try:
            qs[name](spark, sf).count()
            err = None
        except Exception as ex:  # run errors are the oracle gate's job
            err = str(ex)[:160]
        unpersist_shared(spark)
        left = persistent_rdd_snapshot(spark)
        if left:
            leaks[name] = left
            release_all_persistent(spark)  # isolate the next query
        tag = "LEAK" if left else ("ERR " if err else "CLEAN")
        extra = (
            " :: " + "; ".join(d for _, d in left) if left
            else (f" :: {err}" if err else "")
        )
        print(f"{tag} {name} ({time.time() - t0:.1f}s){extra}", flush=True)

    print(
        f"done: {len(names) - len(leaks)} clean, {len(leaks)} leaking "
        f"({time.time() - t_total:.0f}s total)"
    )
    if leaks:
        print("leaking queries:", ", ".join(sorted(leaks)))
    return 1 if leaks else 0


if __name__ == "__main__":
    sys.exit(main())
