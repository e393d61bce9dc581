#!/usr/bin/env python
"""sf1-scale dual runs for the paragraph-dedup family (SCALING.md).

``dedup_paragraphs`` and ``paragraph_scrub`` executed by BOTH engines on
the same 50k-doc paragraph-structured corpus (the ``measure.py``
``paragraphs`` corpus at 10×: ~10 blank-line paragraphs per doc,
constant-rate planted boilerplate), with the full result hash-compared.

The point: the canonical-instance contract (min (doc_id, idx) struct
comparison), the re-assembly order (sort on idx before extraction vs
``string_agg ... ORDER BY``), and the md5-derived clean hash must agree
at realistic cardinality with REAL duplicated paragraphs present — the
driver's sf0.01 corpus exercises only the clean path.

Usage: python scripts/sf1_paragraph_duals.py
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

    from hadoop_hive_analysis_spark.operators import dedup
    from hadoop_hive_analysis_spark.session import get_spark

    spark = get_spark(
        "hha-sf1-paragraph-duals", extra_conf={"spark.driver.memory": "8g"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = build_sf_dir(spark, "paragraphs", 10)
    ops = [
        ("dedup_paragraphs", dedup.dedup_paragraphs, dedup.DEDUP_PARAGRAPHS_SQL),
        ("paragraph_scrub", dedup.paragraph_scrub, dedup.PARAGRAPH_SCRUB_SQL),
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
            srows = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
            wall = round(time.perf_counter() - t0, 3)
            cpu = round(tree_cpu_s(os.getpid()) - c0, 2)
            t1 = time.perf_counter()
            res = con.execute(sql)
            ocols = [x[0] for x in res.description]
            idx = [ocols.index(c) for c in cols]
            orows = sorted(tuple(str(r[i]) for i in idx) for r in res.fetchall())
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
                        "metric": "sf1_paragraph_duals",
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
