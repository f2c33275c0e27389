#!/usr/bin/env python
"""1000× join-suite point (BASELINE.md §5, measured r11): the full
22-query TPC-H suite over 600M-row facts (lineitem/orders/events
×1000, dims shared). The replica is built MAP-SIDE — repartition
before the broadcast-range crossJoin, same key shifts as
suite_scale.build_scaled_dir — because at 1000× the shared builder's
expand-then-repartition order would push ~60 GB through the fixture's
3 scan tasks; the measurement itself is suite_scale.run_suite and
duck_con_for verbatim, so the number is methodology-identical to
every pinned suite point.

Run: python tools/suite_scale_1000x.py — the heap defaults to 64g
here (r12; an explicit SPARK_GRAFT_DRIVER_MEM wins). ~13 GB scratch,
~25 min; the 64 GB single-JVM heap carries 32 executor threads with
multi-GB shuffles — see BASELINE §5's heap note."""
import os
import shutil
import sys
import tempfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
sys.path.insert(0, os.path.join(_REPO_ROOT, "tools"))
from pyspark.sql import functions as F
from suite_scale import (KEY_SHIFT, SHARED, _REP_KEYS, duck_con_for, run_suite)
from dask_xgboost_spark.registry import load_all
from dask_xgboost_spark.session import get_spark
from dask_xgboost_spark.sources import load

REP = 1000
sf_dir = "/root/testdata/sf0.1"


def main():
    os.chdir(_REPO_ROOT)
    # multi-GB shuffles across 32 executor threads in ONE JVM: default to
    # the documented 64g pin heap (an explicit SPARK_GRAFT_DRIVER_MEM wins)
    spark = get_spark(app_name="suite-scale-1000x", driver_mem_default="64g")
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="dxs_suite_1000x_")
    try:
        for t in SHARED:
            src = f"{sf_dir}/{t}.parquet"
            if os.path.exists(src):
                os.symlink(src, f"{out}/{t}.parquet")
        reps = spark.range(REP).select(F.col("id").alias("r"))
        for t, key in _REP_KEYS.items():
            df = load(spark, sf_dir, t)
            (
                df.repartition(32)
                .crossJoin(reps)
                .withColumn(key, F.col(key) + F.col("r") * KEY_SHIFT)
                .drop("r")
                .write.mode("overwrite")
                .parquet(f"{out}/{t}.parquet")
            )
        print("replica built", flush=True)
        con = duck_con_for(out)
        s, d, per = run_suite(spark, con, load_all(), out, runs=2)
        worst = sorted(per.items(), key=lambda kv: -kv[1]["spark"])[:5]
        print(f"1000x suite  spark={s}s  duckdb={d}s  ratio={s/d:.2f}x  "
              "worst-abs: " + ", ".join(f"{k} {v['spark']}/{v['duckdb']}s" for k, v in worst), flush=True)
        con.close()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
