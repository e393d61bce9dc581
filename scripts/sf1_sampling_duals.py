#!/usr/bin/env python
"""sf1-scale dual runs for the two deterministic-hash sampling ops
(SCALING.md; judge r7 stretch): ``train_priority_sample`` and
``data_mixture_resample`` executed by BOTH engines on the same
sf1-equivalent corpus (sf0.1 plus 9 renamed copies → 50k docs, the
``measure.py`` documents scaler), with the full result hash-compared.

The point: both ops' membership decisions ride exact integer hash
arithmetic (md5-based h64 priorities / ppm thresholds). The driver
pins that contract at sf0.01; this run pins it at realistic
cardinality — 100x the driver corpus — where any engine-dependent
rounding or ordering in the hash path would finally surface.

Usage: python scripts/sf1_sampling_duals.py
Prints one JSON line per op plus a summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import build_sf_dir, peak_rss_mb, tree_cpu_s  # noqa: E402


def main() -> None:
    import duckdb

    from hadoop_hive_analysis_spark.operators import text_pipeline as tp
    from hadoop_hive_analysis_spark.session import get_spark

    spark = get_spark("hha-sf1-duals", extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")

    d = build_sf_dir(spark, ("documents",), 10)
    ops = [
        ("train_priority_sample", tp.train_priority_sample,
         tp.TRAIN_PRIORITY_SAMPLE_SQL),
        ("data_mixture_resample", tp.data_mixture_resample,
         tp.DATA_MIXTURE_SQL),
    ]
    try:
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        all_match = True
        for name, fn, sql in ops:
            t0 = time.perf_counter()
            c0 = tree_cpu_s(os.getpid())
            df = fn(spark, d)
            cols = sorted(df.columns)
            srows = sorted(
                tuple(str(r[c]) for c in cols) for r in df.collect()
            )
            wall = round(time.perf_counter() - t0, 3)
            cpu = round(tree_cpu_s(os.getpid()) - c0, 2)
            t1 = time.perf_counter()
            res = con.execute(sql)
            ocols = [x[0] for x in res.description]
            idx = [ocols.index(c) for c in cols]
            orows = sorted(
                tuple(str(r[i]) for i in idx) for r in res.fetchall()
            )
            duck_wall = round(time.perf_counter() - t1, 3)
            match = srows == orows
            all_match = all_match and match
            print(
                json.dumps(
                    {
                        "op": name,
                        "docs": 50000,
                        "rows": len(srows),
                        "hash_match": match,
                        "spark_wall_sec": wall,
                        "spark_cpu_sec": cpu,
                        "duckdb_wall_sec": duck_wall,
                    }
                ),
                flush=True,
            )
        print(
            json.dumps(
                {
                    "summary": {
                        "metric": "sf1_sampling_duals",
                        "all_match": all_match,
                        "peak_mem_mb": peak_rss_mb(spark),
                    }
                }
            )
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
