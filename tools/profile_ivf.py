"""Stage-level profile of the x10 IVF index build (bench's
topk_cosine_ivf_x10_build entry), to attribute the r8 2x build-net
regression (r7 2.106s -> r8 4.093s at sf0.1).

Reproduces the bench setup exactly (same session confs, same x10
replication, untimed parquet prep), then times each build stage
separately: vector-cache build, bounded training collect, driver-side
numpy Lloyd fit, centroid materialize, inverted-file materialize, first
probe, steady probe. Usage:

    python tools/profile_ivf.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, "/root/repo")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "61")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.driver.memory", "16g")
        .appName("profile-ivf")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pandas_ta_spark.caches import (
        SessionCache, invalidate_dir, table_fingerprint)
    from pandas_ta_spark.ext import SUITE as EXT
    from pandas_ta_spark.ext import similarity as S
    from pandas_ta_spark.sources.bars import load_table

    x10v_dir = tempfile.mkdtemp(prefix="profile_vecs_x10_")
    t = {}
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        repd = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
        pert = F.transform(
            F.col("embedding"),
            lambda x: x + F.col("rep").cast("double") * F.lit(0.001),
        )
        (emb.select("*", repd)
            .select((F.col("vec_id") * 10 + F.col("rep")).alias("vec_id"),
                    pert.alias("embedding"), "label")
            .coalesce(4)
            .write.mode("overwrite").parquet(f"{x10v_dir}/embeddings.parquet"))

        t0 = time.time()
        v = S._spark_vectors_cached(spark, x10v_dir)
        t["vecs_cache_build"] = round(time.time() - t0, 3)

        t0 = time.time()
        sample = (
            v.filter(
                ((F.col("vec_id") % S.TRAIN_MOD == 0)
                 & (F.col("vec_id") < S.TRAIN_MOD * S.TRAIN_CAP))
                | ((F.col("vec_id") >= S.N_QUERIES)
                   & (F.col("vec_id") < S.N_QUERIES + S.K_CENTROIDS))
            ).select("vec_id", "e", "nrm").collect()
        )
        t["train_collect"] = round(time.time() - t0, 3)
        t["train_rows"] = len(sample)

        t0 = time.time()
        cents = S._train_centroids_numpy(sample)
        t["numpy_lloyd_fit"] = round(time.time() - t0, 3)

        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StructField, StructType,
        )
        cent_schema = StructType([
            StructField("centroid_id", LongType(), False),
            StructField("ce", ArrayType(DoubleType(), False), False),
            StructField("cn", DoubleType(), False),
        ])
        from pandas_ta_spark.ckpt import materialize

        t0 = time.time()
        centn = spark.createDataFrame(cents, cent_schema)
        t["centroid_create"] = round(time.time() - t0, 3)

        t0 = time.time()
        lists = materialize(S.assign_vectors(v, centn))
        t["invfile_materialize"] = round(time.time() - t0, 3)

        S._IVF_CACHE.put(SessionCache.key(
            spark, x10v_dir,
            version=table_fingerprint(x10v_dir, "embeddings")), (centn, lists))

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        t0 = time.time()
        force(EXT["topk_cosine_ivf"].query(spark, x10v_dir))
        t["first_probe"] = round(time.time() - t0, 3)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            force(EXT["topk_cosine_ivf"].query(spark, x10v_dir))
            best = min(best, time.time() - t0)
        t["steady_probe"] = round(best, 3)
        t["build_net_equiv"] = round(
            t["vecs_cache_build"] + t["train_collect"] + t["numpy_lloyd_fit"]
            + t["centroid_create"] + t["invfile_materialize"]
            + t["first_probe"] - t["steady_probe"], 3)
    finally:
        invalidate_dir(spark, x10v_dir)
        shutil.rmtree(x10v_dir, ignore_errors=True)

    print(json.dumps({"metric": "ivf_x10_build_profile", "sf_dir": sf_dir,
                      "stages": t}))


if __name__ == "__main__":
    main()
