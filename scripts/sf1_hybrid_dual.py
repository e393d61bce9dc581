#!/usr/bin/env python
"""sf1-scale dual run for hybrid BM25+vector RRF retrieval (SCALING.md).

``doc_hybrid_search_rrf`` executed by BOTH engines on a 50k-doc corpus
(the ``measure.py`` documents scaler at 10x: sf0.1 documents plus 9
renamed copies, embeddings carried over unscaled — lexical candidates then
span the full 50k-id space while vector candidates stay in the
embedding id range, exercising the one-sided-fusion path at scale),
with the fused ranking hash-compared in full.

The point: the fixed-point BM25 scores, the exact quantized dots, and
the integer RRF fusion must stay bit-identical at 100× the driver's
correctness cardinality — any engine-dependent ordering in the rank
windows would surface here.

Usage: python scripts/sf1_hybrid_dual.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import build_sf_dir, tree_cpu_s  # noqa: E402


def main() -> None:
    import duckdb

    from hadoop_hive_analysis_spark.operators import retrieval as rtr
    from hadoop_hive_analysis_spark.session import get_spark

    spark = get_spark(
        "hha-sf1-hybrid-dual", extra_conf={"spark.driver.memory": "8g"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = build_sf_dir(spark, ("documents",), 10)
    try:
        t0 = time.perf_counter()
        c0 = tree_cpu_s(os.getpid())
        df = rtr.doc_hybrid_search_rrf(spark, d)
        cols = sorted(df.columns)
        srows = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
        wall = round(time.perf_counter() - t0, 3)
        cpu = round(tree_cpu_s(os.getpid()) - c0, 2)

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet')"
        )
        t1 = time.perf_counter()
        res = con.execute(rtr.DOC_HYBRID_RRF_SQL)
        ocols = [x[0] for x in res.description]
        idx = [ocols.index(c) for c in cols]
        orows = sorted(tuple(str(r[i]) for i in idx) for r in res.fetchall())
        duck_wall = round(time.perf_counter() - t1, 3)

        print(
            json.dumps(
                {
                    "op": "doc_hybrid_search_rrf",
                    "docs": 50000,
                    "rows": len(srows),
                    "hash_match": srows == orows,
                    "spark_wall_sec": wall,
                    "spark_cpu_sec": cpu,
                    "duckdb_wall_sec": duck_wall,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
