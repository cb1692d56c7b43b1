"""Re-baseline every TRUE-asserted quality floor in one run.

Five registry queries gate seeded ML fits with boolean flags whose
oracle side asserts literal TRUE (rs04, rs28, rs30, rs32, l74). The
flags are deliberate — float fits aren't SQL-expressible — but their
margins are empirical and PARTITIONING-SENSITIVE in principle, so a
Spark/core-count bump can silently turn a thin margin into a mystery
hash-fail. This tool recomputes the underlying RATES at each SF and
prints a margins table; run it after any dependency bump and update the
docstring numbers if anything moved.

Usage: python tools/rebaseline_floors.py [sf_dir ...]
       (default: sf0.001 sf0.01 sf0.1)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def hit_rate(recs, truth, eval_users):
    """Fraction of eval users with >=1 held-out item in their rec list."""
    t = truth.withColumn("t", F.lit(1))
    peru = (
        recs.select("user_id", "item_id")
        .join(t, ["user_id", "item_id"], "left")
        .groupBy("user_id")
        .agg(F.max(F.col("t").isNotNull()).alias("hit"))
    )
    row = (
        eval_users.join(peru, "user_id", "left")
        .agg(
            F.sum(F.col("hit").cast("long")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return (row.h or 0) / row.n if row.n else float("nan")


def main() -> int:
    sfs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]

    from pyspark_recs.session import get_spark
    from pyspark_recs.workloads import recsys
    from pyspark_recs.workloads.common import unpersist_shared

    spark = get_spark("rebaseline-floors")
    rows = []

    for sf in sfs:
        tag = os.path.basename(sf.rstrip("/"))

        # ---- rs04: ALS train-hit rate vs floor 0.10 ------------------
        from pyspark_recs.model.retrieval import recommend_topk, train_als

        inter = recsys._shared_interactions(spark, sf)
        model = train_als(inter, rank=16, max_iter=5, seed=42)
        users = (
            inter.select("user_id").distinct().filter(F.col("user_id") < 50)
        )
        recs04 = recommend_topk(model, users, k=5)
        r04 = hit_rate(recs04, inter.select("user_id", "item_id"), users)
        rows.append((tag, "rs04.train_hit", r04, 0.10))

        # ---- rs28: content LR AUC + recall@10 ------------------------
        from pyspark_recs.model.content import (
            score_candidates,
            train_content_model,
        )
        from pyspark_recs.model.metrics import ranking_metrics
        from pyspark_recs.workloads.recsys import build_content_training_data

        data = build_content_training_data(spark, sf)
        assembler, cmodel = train_content_model(data.train, max_iter=10)
        rows.append(
            (tag, "rs28.train_auc", cmodel.summary.areaUnderROC, 0.52)
        )
        preds = score_candidates(assembler, cmodel, data.eval_candidates, k=10)
        met = ranking_metrics(preds, data.truth, k=10)
        rows.append((tag, "rs28.recall_at10", met["recall_at_10"], 0.30))

        # ---- rs30 / rs32: hit@10 of each source on the shared
        # candidate protocol (ens must match-or-beat both; joint must
        # match-or-beat content) ---------------------------------------
        truth = recsys._holdout_test_items(spark, sf)
        eval_users = recsys._ens_eval_users(spark, sf)
        content_h = hit_rate(
            recsys._ens_content_topk(spark, sf), truth, eval_users
        )
        joint_h = hit_rate(recsys._joint_topk(spark, sf), truth, eval_users)

        from pyspark.sql import Window

        als_r = recsys._ens_als_topk(spark, sf)
        als_h = hit_rate(als_r, truth, eval_users)

        fused = (
            als_r.unionByName(recsys._ens_content_topk(spark, sf))
            .withColumn("rr_q", F.expr("1000000000L div (60L + rank)"))
            .groupBy("user_id", "item_id")
            .agg(F.sum("rr_q").alias("rrf_q"))
        )
        w_f = Window.partitionBy("user_id").orderBy(
            F.desc("rrf_q"), F.asc("item_id")
        )
        ens = (
            fused.withColumn("frank", F.row_number().over(w_f))
            .filter(F.col("frank") <= 10)
            .select("user_id", "item_id")
        )
        ens_h = hit_rate(ens, truth, eval_users)
        rows.append((tag, "rs30.ens_minus_als", ens_h - als_h, 0.0))
        rows.append((tag, "rs30.ens_minus_content", ens_h - content_h, 0.0))
        rows.append((tag, "rs32.joint_minus_content", joint_h - content_h, 0.0))
        rows.append((tag, "  (raw) als/content/joint/ens",
                     f"{als_h:.4f}/{content_h:.4f}/{joint_h:.4f}/{ens_h:.4f}",
                     None))

        # ---- l74: mean matched cosine vs 0.99 ------------------------
        from pyspark_recs.io import load_table
        from pyspark_recs.llmops.encoder import TinyMLPEncoder, TinyTextEncoder
        from pyspark_recs.llmops.multimodal import (
            encode_payloads,
            fetch_payloads,
            synthesize_image_urls,
        )

        docs = load_table(spark, sf, "documents").select("doc_id")
        images = encode_payloads(
            fetch_payloads(synthesize_image_urls(docs)).filter(
                F.col("status") == "ok"
            ),
            encoder=TinyMLPEncoder(pad_mode="cycle"),
        )
        prompts = docs.filter(F.col("doc_id") % 13 != 0).select(
            "doc_id",
            F.encode(
                F.concat(
                    F.lit("photo of asset "), F.col("doc_id").cast("string")
                ),
                "utf-8",
            ).alias("payload"),
        )
        texts = encode_payloads(prompts, encoder=TinyTextEncoder())
        tv = texts.select("doc_id", F.col("embedding").alias("tv"))
        iv = images.select(
            F.col("doc_id").alias("img_id"), F.col("embedding").alias("iv")
        )
        dot2 = F.aggregate(
            F.zip_with("tv", "iv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        mean_cm = (
            tv.join(iv, tv.doc_id == iv.img_id)
            .agg(F.avg(dot2).alias("m"))
            .collect()[0]
            .m
        )
        rows.append((tag, "l74.mean_matched_cos", mean_cm, 0.99))

        unpersist_shared(spark)
        spark.catalog.clearCache()

    print(f"\n{'sf':<8} {'floor':<28} {'measured':>12} {'floor':>8} {'margin':>9}")
    worst = None
    for tag, name, val, floor in rows:
        if floor is None:
            print(f"{tag:<8} {name:<28} {val}")
            continue
        margin = val - floor
        flag = "  <-- THIN" if margin < 0.02 else ""
        print(
            f"{tag:<8} {name:<28} {val:>12.4f} {floor:>8.2f} "
            f"{margin:>+9.4f}{flag}"
        )
        if worst is None or margin < worst[1]:
            worst = (f"{tag}/{name}", margin)
    if worst:
        print(f"\nthinnest margin: {worst[0]} at {worst[1]:+.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
