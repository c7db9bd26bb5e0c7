"""One-off: measure approx-vs-exact margins for the 4 rows-only
queries so the round-4 bound-check restructure picks safe tolerances."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from innercircle_etl_spark.plans import QUERIES
from innercircle_etl_spark.operators.percentiles import percentile_disc
from innercircle_etl_spark.plans.registry import load
from innercircle_etl_spark.plans.similarity_queries import (
    ivf_topk,
    lloyd_codebook,
)

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

for sf in ("sf0.001", "sf0.01", "sf0.1"):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        continue
    print(f"=== {sf} ===")
    # a1b: HLL distinct rel error per group
    li = load(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.countDistinct("l_partkey").alias("ep"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("asu"),
        F.countDistinct("l_suppkey").alias("esu"),
    )
    for r in both.collect():
        print(
            "a1b", r["l_returnflag"],
            "parts rel", abs(r["ap"] - r["ep"]) / max(r["ep"], 1),
            "supps rel", abs(r["asu"] - r["esu"]) / max(r["esu"], 1),
        )
    # a8b: approx percentile rel error
    exact = {
        r["l_returnflag"]: r["p20"]
        for r in percentile_disc(
            li, ["l_returnflag"], "l_extendedprice", 0.2, out_col="p20"
        ).collect()
    }
    ap = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.lit(0.2), F.lit(10000)
        ).alias("pa")
    )
    for r in ap.collect():
        e = exact[r["l_returnflag"]]
        print("a8b", r["l_returnflag"], "rel", abs(r["pa"] - e) / abs(e))
    # lloyd: per-query top1 gap + recall vs brute
    brute = QUERIES["ann_cosine_topk"](spark, sf_dir)
    b1 = {r["query_id"]: r["cos"] for r in brute.filter(F.col("rank") == 1).collect()}
    bset = {}
    for r in brute.filter(F.col("rank") <= 3).collect():
        bset.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # ann_ivf_lloyd's REGISTERED query now returns the contract
    # schema (query_id, n_retrieved, top1_within_margin), so build
    # the raw retrieval frame directly from its building blocks;
    # ann_ivf_probe still returns the ranked retrieval itself.
    from innercircle_etl_spark.functions import vectors as V

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    retrievals = {
        "ann_ivf_lloyd": ivf_topk(emb, lloyd_codebook(emb)),
        "ann_ivf_probe": QUERIES["ann_ivf_probe"],
    }
    for name, res in retrievals.items():
        if callable(res):
            res = res(spark, sf_dir)
        t1 = {r["query_id"]: r["cos"] for r in res.filter(F.col("rank") == 1).collect()}
        nn = {}
        for r in res.filter(F.col("rank") <= 3).collect():
            nn.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        gaps = {q: b1[q] - t1.get(q, -1.0) for q in b1}
        recalls = {q: len(bset[q] & nn.get(q, set())) / len(bset[q]) for q in bset}
        print(name, "worst top1 gap", max(gaps.values()),
              "gaps", {q: round(g, 4) for q, g in sorted(gaps.items())})
        print(name, "mean recall", sum(recalls.values()) / len(recalls),
              "min recall", min(recalls.values()))

spark.stop()
