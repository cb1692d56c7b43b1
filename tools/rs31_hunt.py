"""Hunt the round-5 driver hash flip on rs31_behavioral_audit.

CORRECTNESS_r05 recorded rs31 as rows/schema-match but hash-mismatch at
sf0.01, while every local run (standalone AND in the driver's exact
tier-0 prefix order rs30 -> l74 -> l75 -> rs31) passes. Both the Spark
plan and the DuckDB twin are all-integer with total tie-break orders on
inspection, so this script gathers evidence instead of theorizing:

per iteration, in ONE long-lived session (like the driver's):
  1. clear the shared-plan cache (fresh materialization each round),
  2. run the driver prefix (rs30_ensemble_eval, l74, l75) to reproduce
     the memory/cache pressure rs31 saw in the driver run,
  3. hash rs31 AND each shared holdout artifact it consumes
     (holdout_base / holdout_lists / holdout_co / holdout_top10),
  4. hash a shared-bypass rebuild of rs31 (builders called directly,
     no persist) and diff against the shared-path result,
  5. run the DuckDB twin and hash it too (the flip could be oracle-side).

Any hash that differs across iterations, between paths, or between
engines is printed with the offending rows.

Usage: python tools/rs31_hunt.py [n_iter] [sf_dir] [--vanilla]
  --vanilla: build the session like the driver does (no UTC pin, no
             shuffle-partition conf) instead of pyspark_recs.get_spark.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import canon_rows, value_hash  # noqa: E402


def df_hash(df):
    rows = [tuple(r) for r in df.collect()]
    cols = list(df.columns)
    _, lines = canon_rows(cols, rows)
    return value_hash(lines), lines


def main() -> int:
    n_iter = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    vanilla = "--vanilla" in sys.argv

    import duckdb

    from pyspark_recs.workloads import recsys
    from pyspark_recs.workloads.common import unpersist_shared

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        ).getOrCreate()
    else:
        from pyspark_recs.session import get_spark

        spark = get_spark("rs31-hunt")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )

    artifacts = {
        "holdout_base": recsys._holdout_base,
        "holdout_lists": recsys._holdout_lists,
        "holdout_co": recsys._holdout_co,
        "holdout_top10": recsys._holdout_top10,
    }

    baseline: dict[str, tuple[str, list[str]]] = {}
    flips = 0
    for it in range(n_iter):
        unpersist_shared()

        # driver tier-0 prefix pressure (results discarded)
        from pyspark_recs.workloads import QUERIES

        for pre in (
            "rs30_ensemble_eval",
            "l74_two_tower_align",
            "l75_mixture_sample",
        ):
            QUERIES[pre](spark, sf).collect()

        observed: dict[str, tuple[str, list[str]]] = {}
        observed["rs31/shared"] = df_hash(
            recsys.rs31_behavioral_audit(spark, sf)
        )
        for name, fn in artifacts.items():
            observed[f"artifact/{name}"] = df_hash(fn(spark, sf))

        # shared-bypass rebuild: clear the cache so every builder
        # recomputes from the raw parquet, then hash rs31 again
        unpersist_shared()
        observed["rs31/fresh"] = df_hash(
            recsys.rs31_behavioral_audit(spark, sf)
        )

        res = con.execute(recsys.RS31_SQL)
        dcols = [d[0] for d in res.description]
        _, dl = canon_rows(dcols, res.fetchall())
        observed["rs31/duckdb"] = (value_hash(dl), dl)

        for key, (h, lines) in observed.items():
            if key not in baseline:
                baseline[key] = (h, lines)
            elif baseline[key][0] != h:
                flips += 1
                print(f"FLIP iter={it} {key}")
                base_set = set(baseline[key][1])
                for ln in lines:
                    if ln not in base_set:
                        print(f"  now: {ln}")
                for ln in baseline[key][1]:
                    if ln not in set(lines):
                        print(f"  was: {ln}")

        same_paths = (
            observed["rs31/shared"][0]
            == observed["rs31/fresh"][0]
            == observed["rs31/duckdb"][0]
        )
        print(
            f"iter {it}: rs31 shared={observed['rs31/shared'][0][:12]} "
            f"fresh={observed['rs31/fresh'][0][:12]} "
            f"duck={observed['rs31/duckdb'][0][:12]} "
            f"{'OK' if same_paths else 'MISMATCH'}"
        )
        if not same_paths:
            flips += 1
            for key in ("rs31/shared", "rs31/fresh", "rs31/duckdb"):
                print(f"  {key}:")
                for ln in observed[key][1]:
                    print(f"    {ln}")

    print(f"\n{n_iter} iterations, {flips} flips")
    return 1 if flips else 0


if __name__ == "__main__":
    sys.exit(main())
