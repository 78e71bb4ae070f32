"""Profile the rectify 10x-scale slope (VERDICT r4 item 2).

Runs the 10x rectify scene under several configs and prints per-run wall
times, separating first-run (codegen) from steady-state.  Usage:

    python tools/profile_rectify.py [variant ...]

Variants: base part128 block128 twice head
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def session(partitions):
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .appName("rectify-profile")
        .getOrCreate()
    )


def rectify_df(spark, w, h, tw, th, y0, block_rows=32, dst_block_rows=32):
    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.operators.rectify import rectify_fused_tiled

    swath = spark.range(w * h).select(
        (F.col("id") / w).cast("int").alias("j"),
        (F.col("id") % w).cast("int").alias("i"),
        (
            F.sin(F.col("id") % w * 0.01) + F.cos((F.col("id") / w) * 0.01)
        ).cast("double").alias("value"),
    ).select(
        "j", "i",
        (F.lit(0.0) + 0.01 * F.col("i") + 0.003 * F.col("j")).alias("x"),
        (F.lit(60.0) - 0.01 * F.col("j") + 0.002 * F.col("i")).alias("y"),
        F.col("value").alias("val_0"),
    )
    target_gm = GridMapping.regular((tw, th), (0.0, float(y0)), 0.0125,
                                    CRS_WGS84)
    return rectify_fused_tiled(
        swath, target_gm, (w, h), 1, "nearest", float("nan"), False,
        block_rows=block_rows, dst_block_rows=dst_block_rows,
    )


def timed(label, df):
    t0 = time.perf_counter()
    n = df.count()
    dt = time.perf_counter() - t0
    print(f"# {label}: {dt:.2f}s rows={n}", flush=True)
    return dt


def main():
    variants = sys.argv[1:] or ["base"]
    for v in variants:
        partitions = 128 if v == "part128" else CPUS
        spark = session(partitions)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).select(F.sum("id")).collect()
        combos = {
            "base": (32, 32),
            "part128": (32, 32),
            "block128": (128, 128),
            "b32d128": (32, 128),
            "b128d32": (128, 32),
            "auto": (118, 140),   # ceil(src_h/32), ceil(tgt_h/32)
            "head": (32, 32),
            "head118": (38, 40),  # ceil(1189/32), ceil(1256/32)
        }
        br, dr = combos.get(v, (32, 32))
        if v.startswith("head"):
            df = rectify_df(spark, 1890, 1189, 1800, 1256, 48.0, br, dr)
        else:
            df = rectify_df(spark, 5977, 3760, 5700, 4480, 16.0, br, dr)
        timed(f"{v} run1", df)
        timed(f"{v} run2", df)
        spark.stop()


if __name__ == "__main__":
    main()
