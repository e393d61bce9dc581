#!/usr/bin/env python
"""Scaling curves and interleaved query runs, accounted from outside the
program by the benchmark's ledger (``perfbench/ledger.py``).

    python scripts/measure.py curve <name> [multiplier ...] [--base DIR]
    python scripts/measure.py run <query> ... [--rounds N] [--scale M]

``curve`` builds one scaled sf dir per multiplier, times the curve's ops
there (best of ``--samples``) and checks the curve's invariants against
its first multiplier. Scaled tables come from ``SCALERS``: copy 0 is the
base table verbatim, copy k >= 1 shifts the id columns by
``k * ID_OFFSET`` and rewrites content (documents rename every token
with a ``_k`` suffix, embeddings flip a seeded sign pattern), so each
copy reproduces the base table's internal structure with no cross-copy
overlap, and the 1x point of every curve is the fixture itself. A few
curves read a generated corpus from ``GENERATORS`` instead. Names:
``python scripts/measure.py curve --help``.

``run`` interleaves registry queries round-robin in one session, after
one untimed warm-up run of each that also writes its formatted plan to
``--plans``. ``--scale M`` first builds every scaled table at M x (events
as one ts-ordered file, the fixture's layout, which the stream replays
need) and links the other base tables.

Every record is one JSON line on stdout: wall seconds, process-tree CPU
(``cpu_s``: driver, JVM and Python workers), executor CPU, jobs, stages,
shuffle and spill from the ledger, and the micro-batch totals for
streaming ops. ``curve`` exits 1 when an invariant fails.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from hadoop_hive_analysis_spark.operators import (  # noqa: E402
    components,
    dedup,
    events,
    retrieval,
    rollups,
    similarity,
    sketches,
    text_analysis,
    text_pipeline,
    vectors,
)
from hadoop_hive_analysis_spark.plans.pipeline import corpus_clean  # noqa: E402
from hadoop_hive_analysis_spark.plans.registry import QUERIES  # noqa: E402
from hadoop_hive_analysis_spark.session import get_spark, release_cached_blocks  # noqa: E402
from hadoop_hive_analysis_spark.sources.catalog import load_table  # noqa: E402
from hadoop_hive_analysis_spark.streaming import events as se  # noqa: E402
from perfbench.ledger import JobLedger, StreamingStats, tree_cpu_s  # noqa: E402

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR")  # the sf0.1 fixture (TESTDATA.md)
ID_OFFSET = 10_000_000  # above every fixture id: copies stay disjoint
MB = 1e6


# ------------------------------------------------------------- corpora
def _rename_tokens(df: DataFrame, k: int) -> DataFrame:
    return df.withColumn("text", F.regexp_replace("text", r"(\S+)", f"$1_{k}"))


def _reflect_signs(df: DataFrame, k: int) -> DataFrame:
    """Multiply every vector by copy k's seeded +-1 pattern: in-copy dots
    and norms are bit-exact, cross-copy cosines fall to chance."""
    import numpy as np

    dim = df.select(F.size("embedding")).first()[0]
    signs = np.random.default_rng(12345 + k).integers(0, 2, dim) * 2 - 1
    pattern = F.array(*[F.lit(float(s)).cast("float") for s in signs])
    return df.withColumn("embedding", F.zip_with("embedding", pattern, lambda x, s: x * s))


# table -> (id columns shifted per copy, content rewrite of copy k >= 1)
SCALERS: dict[str, tuple[tuple[str, ...], Callable | None]] = {
    "documents": (("doc_id",), _rename_tokens),
    "events": (("event_id", "user_id"), None),
    "lineitem": (("l_orderkey",), None),
    "embeddings": (("vec_id",), _reflect_signs),
}


def scaled_table(spark, base_dir: str, table: str, m: int, verbatim: bool = False) -> DataFrame:
    """``m`` copies of ``table``; ``verbatim`` skips the content rewrite."""
    ids, rewrite = SCALERS[table]
    base = load_table(spark, base_dir, table)
    parts = [base]
    for k in range(1, m):
        part = base.withColumns({c: F.col(c) + F.lit(k * ID_OFFSET) for c in ids})
        parts.append(part if verbatim or rewrite is None else rewrite(part, k))
    return functools.reduce(DataFrame.unionByName, parts)


def _write(df: DataFrame, d: str, table: str, m: int) -> None:
    df.repartition(max(8, 4 * m)).write.mode("overwrite").parquet(
        os.path.join(d, f"{table}.parquet")
    )


PARA_TOKENS, BOILER_EVERY = 20, 5


def _paragraphs(spark, base_dir: str, m: int, d: str) -> None:
    """Scaled documents cut into PARA_TOKENS-token blank-line paragraphs,
    every BOILER_EVERY-th doc ending in its copy's boilerplate paragraph:
    a constant planted duplication rate."""
    toks = "split(text, '\\\\s+')"
    paras = F.expr(
        f"transform(sequence(0, (size({toks}) - 1) DIV {PARA_TOKENS}),"
        f" p -> array_join(slice({toks}, p * {PARA_TOKENS} + 1, {PARA_TOKENS}), ' '))"
    )
    docs = scaled_table(spark, base_dir, "documents", m).select(
        "doc_id", F.array_join(paras, "\n\n").alias("text")
    )
    boiler = F.format_string(
        "\n\nshared boilerplate paragraph for copy %d end",
        (F.col("doc_id") / ID_OFFSET).cast("long"),
    )
    text = F.when(F.col("doc_id") % BOILER_EVERY == 0, F.concat("text", boiler))
    _write(docs.withColumn("text", text.otherwise(F.col("text"))), d, "documents", m)


GAUSS_N, GAUSS_DIM, GAUSS_K, GAUSS_SIGMA = 2000, 64, 64, 0.25


def _gaussians(spark, base_dir: str, m: int, d: str) -> None:
    """GAUSS_N * m embeddings from a fixed mixture of GAUSS_K Gaussians
    (label = component): clustered data, unlike the isotropic fixture."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = GAUSS_N * m
    rng = np.random.default_rng(20260816)
    centers = rng.normal(size=(GAUSS_K, GAUSS_DIM)).astype(np.float32)
    label = rng.integers(0, GAUSS_K, size=n)
    vecs = centers[label] + GAUSS_SIGMA * rng.normal(size=(n, GAUSS_DIM)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype("int32"), type=pa.int32()),
        }),
        os.path.join(d, "embeddings.parquet"),
    )


GRAPH_EDGES, GRAPH_BLOCK = 500_000, 40


def _graph(spark, base_dir: str, m: int, d: str) -> None:
    """GRAPH_EDGES * m edges: rings over GRAPH_BLOCK-node blocks plus
    hash-random chords inside each block, so every block is one
    component with nontrivial diameter."""
    n_ring = GRAPH_EDGES * m * 2 // 3
    n_blocks = n_ring // GRAPH_BLOCK
    ring = spark.range(n_ring).select(
        F.col("id").alias("u"),
        F.when(F.col("id") % GRAPH_BLOCK == GRAPH_BLOCK - 1, F.col("id") - (GRAPH_BLOCK - 1))
        .otherwise(F.col("id") + 1).alias("v"),
    )
    block = F.pmod(F.xxhash64("id"), n_blocks).cast("long") * GRAPH_BLOCK
    chord = spark.range(GRAPH_EDGES * m - n_ring).select(
        (block + F.pmod(F.xxhash64("id", F.lit(1)), GRAPH_BLOCK)).alias("u"),
        (block + F.pmod(F.xxhash64("id", F.lit(2)), GRAPH_BLOCK)).alias("v"),
    )
    edges = ring.unionByName(chord).filter(F.col("u") != F.col("v"))
    edges.write.mode("overwrite").parquet(os.path.join(d, "edges.parquet"))


# corpus name -> writer(spark, base_dir, multiplier, out_dir)
GENERATORS: dict[str, Callable] = {
    "paragraphs": _paragraphs, "gaussians": _gaussians, "graph": _graph,
}


def build_sf_dir(spark, corpus, m: int, base_dir: str = BASE_SF_DIR,
                 verbatim: bool = False) -> str:
    """A temp sf dir holding ``corpus`` at ``m`` x — a tuple of SCALERS
    tables or a GENERATORS name — with every other base table linked."""
    if base_dir is None:
        raise SystemExit("no base sf dir: set SPARK_GRAFT_SF_DIR or pass --base")
    d = tempfile.mkdtemp(prefix=f"measure_{m}x_")
    if isinstance(corpus, str):
        GENERATORS[corpus](spark, base_dir, m, d)
    else:
        for table in corpus:
            _write(scaled_table(spark, base_dir, table, m, verbatim), d, table, m)
    for f in os.listdir(base_dir):
        if f.endswith(".parquet") and not os.path.exists(os.path.join(d, f)):
            os.symlink(os.path.join(base_dir, f), os.path.join(d, f))
    return d


def _one_file_events(spark, d: str) -> None:
    """Rewrite the scaled events as one ts-ordered file: a multi-part
    directory streams out of ts order and the replays' watermark then
    drops rows as late."""
    path = os.path.join(d, "events.parquet")
    tmp = tempfile.mkdtemp(prefix="measure_events_", dir=d)
    spark.read.parquet(path).repartition(1).sortWithinPartitions("ts").write.mode(
        "overwrite").parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    shutil.rmtree(path)
    os.rename(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)


# ---------------------------------------------------------- accounting
class _StreamingStats(StreamingStats):
    """``StreamingStats`` plus the largest state-store row count one
    micro-batch reported."""

    def _reset(self) -> None:
        super()._reset()
        self.state_max = 0

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        rows = sum(o.numRowsTotal for o in event.progress.stateOperators)
        with self._lock:
            self.state_max = max(self.state_max, rows)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the session's JVM."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return round(kb * 1024 / MB, 1)


class Meter:
    """Times calls and reads what Spark ran for them from the ledger."""

    def __init__(self, spark):
        self.spark = spark
        self.ledger = JobLedger(spark)
        self.stream = _StreamingStats()
        spark.streams.addListener(self.stream)

    def _drain(self) -> None:
        # listener events arrive asynchronously, after the call returns
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def time(self, call: Callable):
        """``(call(), record)``."""
        self._drain()
        self.stream.take()
        job0, cpu0, t0 = self.ledger.next_job_id(), tree_cpu_s(os.getpid()), time.perf_counter()
        out = call()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        (jobs,) = self.ledger.read([job0, self.ledger.next_job_id()])
        self._drain()
        rec = {
            "wall_s": round(wall, 3), "cpu_s": round(cpu, 2),
            "exec_cpu_s": round(jobs.sums["cpu_ns"] / 1e9, 2),
            "jobs": jobs.jobs, "stages": jobs.stages, "tasks": int(jobs.sums["tasks"]),
            "shuffle_mb": round((jobs.sums["shuffle_read_bytes"]
                                 + jobs.sums["shuffle_write_bytes"]) / MB, 1),
            "spill_mb": round(jobs.sums["spill_bytes"] / MB, 1),
        }
        state_max = self.stream.state_max
        if batches := self.stream.take()["streaming.batches"]:
            rec |= {"batches": batches, "state_rows_max": state_max}
        return out, rec


def _sink(df):
    if isinstance(df, DataFrame):
        df.write.format("noop").mode("overwrite").save()
    return df


# -------------------------------------------------------------- curves
@dataclass(frozen=True)
class Op:
    fn: Callable  # (spark, sf_dir) -> DataFrame, timed into the noop sink
    observe: Callable | None = None  # (spark, sf_dir, df) -> {value name: value}
    laws: dict[str, str] = field(default_factory=dict)  # value name -> LAWS key


@dataclass(frozen=True)
class Curve:
    corpus: tuple[str, ...] | str  # SCALERS tables, or a GENERATORS name
    ops: dict[str, Op]
    multipliers: tuple[int, ...] = (1, 2, 5, 10)
    samples: int = 2
    verbatim: bool = False  # copies keep their content; only ids shift


def _flat(v) -> list:
    return list(v) if isinstance(v, (list, tuple)) else [v]


def _pairs(v, v0):
    a, b = _flat(v), _flat(v0)
    return zip(a, b) if len(a) == len(b) else None


# law -> check(value, base value, multiplier, base multiplier)
LAWS: dict[str, Callable] = {
    "linear": lambda v, v0, m, m0: (p := _pairs(v, v0)) is not None
    and all(x * m0 == y * m for x, y in p),
    # MinHash banding on renamed copies moves a few candidates
    "linear~1%": lambda v, v0, m, m0: abs(v - v0 * m / m0) <= max(2, 0.01 * v0 * m / m0),
    "constant": lambda v, v0, m, m0: v == v0,
    "close": lambda v, v0, m, m0: (p := _pairs(v, v0)) is not None
    and all(abs(x - y) <= 1e-4 * abs(y) for x, y in p),
    "true": lambda v, v0, m, m0: v is True,
}


def _agg(**exprs: str) -> Callable:
    """Observe one aggregate row: value name -> SQL aggregate."""
    return lambda spark, d, df: df.selectExpr(
        *[f"{e} AS `{k}`" for k, e in exprs.items()]).first().asDict()


_rows = _agg(rows="count(*)")


def _bag(df, cols) -> Counter:
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _bm25(spark, d, df) -> dict:
    # the top-K itself may change: idf grows with the corpus size
    docs = [r.doc_id for r in df.select("doc_id").collect()]
    return {"rows": len(docs), "copy0_only": all(doc < ID_OFFSET for doc in docs)}


def _heavy_hitters(spark, d, df) -> dict:
    hh = sorted((r.tok, r.cnt) for r in df.collect())
    return {"tokens": [t for t, _ in hh], "counts": [c for _, c in hh]}


def _quantiles(spark, d, df) -> dict:
    rows = sorted(df.collect(), key=lambda r: r["flag"])
    return {"quantiles": [r[p] for r in rows for p in ("p50", "p90", "p99")],
            "group_counts": [r["n"] for r in rows],
            "sketch_ok": all(r["sketch_ok"] for r in rows)}


def _semantic(spark, d, df) -> dict:
    return {"survivors": df.count(), "pairs": similarity.dedup_embedding_lsh(spark, d).count()}


def _pairs_per_copy(spark, d, df) -> dict:
    """Copy 0 keeps the base pairs and the renamed copies agree with each
    other; they need not match copy 0, because the ``_k`` suffix moves
    character edit distances."""
    copies = load_table(spark, d, "documents").agg(F.max("doc_id")).first()[0] // ID_OFFSET + 1
    pairs = [(r.doc_a // ID_OFFSET, r.doc_b // ID_OFFSET) for r in df.collect()]
    per_copy = Counter(a for a, b in pairs if a == b)
    return {"copy0_pairs": per_copy[0], "cross_copy_pairs": sum(a != b for a, b in pairs),
            "renamed_copies_agree": len({per_copy[k] for k in range(1, copies)}) <= 1}


def _prefix_equals_full(spark, d, df) -> dict:
    full = _bag(dedup.dedup_ngram_jaccard(spark, d), ["doc_a", "doc_b"])
    return {"pairs": sum(full.values()),
            "equals_full": _bag(df, ["doc_a", "doc_b"]) == full}


def _hybrid(spark, d, df) -> dict:
    rows = df.collect()
    again = retrieval.doc_hybrid_search_rrf(spark, d).collect()
    per_qid = Counter(r["qid"] for r in rows)
    return {"rows": len(rows),
            "deterministic": sorted(map(tuple, rows)) == sorted(map(tuple, again)),
            "per_qid_topk": set(per_qid.values()) == {retrieval.HYBRID_TOPK},
            "lex_copy0_only": all(r["doc_id"] < ID_OFFSET for r in rows
                                  if r["lex_rank"] is not None)}


def _budget(spark, d, df) -> dict:
    sel = df.agg(F.sum("n_tokens")).first()[0]
    total = (text_analysis.text_quality_score(spark, d).filter(F.col("quality").isNotNull())
             .agg(F.sum("n_tokens")).first()[0])
    again = _bag(text_pipeline.corpus_budget_select(spark, d), ["doc_id"])
    return {"fits_budget": sel <= total * text_pipeline.BUDGET_PPM // 1_000_000,
            "share_ppm": sel * 1_000_000 // total,
            "deterministic": _bag(df, ["doc_id"]) == again}


def _encoding(spark, d, df) -> dict:
    n = df.count()
    return {"one_row_per_doc": n == load_table(spark, d, "documents").count(),
            "all_clean": df.filter(F.col("clean")).count() == n}


def _buckets(spark, d, df) -> dict:
    covered = df.agg(F.sum("n_docs")).first()[0]
    return {"covers_corpus": covered == load_table(spark, d, "documents").count()}


def _recall(spark, d, df) -> dict:
    got = {tuple(r) for r in df.select("query_id", "neighbor_id").collect()}
    exact = {tuple(r) for r in similarity.ann_bruteforce_topk(spark, d)
             .select("query_id", "neighbor_id").collect()}
    return {"recall": round(len(got & exact) / len(exact), 3)}


def _index_dir(d: str) -> str:
    return os.path.join(d, "ivfpq_index")


def _scan_metrics(spark, d, df) -> dict:
    """Partitions and files the search's scan read, from the executed
    plan of an AQE-off re-run (AQE hides scan metrics in query stages)."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        res = vectors.ann_ivfpq_search(spark, _index_dir(d))
        n = len(res.collect())
        leaves = res._jdf.queryExecution().executedPlan().collectLeaves()
        out = {"rows": n, "partitions_read": 0, "files_read": 0}
        for i in range(leaves.size()):
            metrics = leaves.apply(i).metrics()
            for key, name in (("partitions_read", "numPartitions"), ("files_read", "numFiles")):
                if metrics.contains(name):
                    out[key] += metrics.apply(name).value()
        return out
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _components(spark, d, df) -> dict:
    """Component-size histogram against a driver-side union-find."""
    sizes = df.groupBy("component").count()
    hist = dict(sizes.groupBy("count").agg(F.count("*")).collect())
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = spark.read.parquet(os.path.join(d, "edges.parquet"))
    for r in edges.toLocalIterator():
        a, b = find(r.u), find(r.v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    truth = Counter(Counter(find(x) for x in list(parent)).values())
    return {"edges": edges.count(), "components": sum(hist.values()),
            "histogram_matches": hist == dict(truth)}


def _replay(twin: Callable, output_mode: str = "complete") -> Callable:
    """Replay the scaled events directory through the stream ``twin``."""

    def run(spark, d):
        table = os.path.join(d, "events.parquet")
        first = sorted(f for f in os.listdir(table) if f.endswith(".parquet"))[0]
        stream = se.read_events_stream(spark, table, file_glob="part-*.parquet",
                                       footer_file=first)
        ckpt = tempfile.mkdtemp(prefix="measure_ckpt_")
        try:
            return se.run_available_now(twin(stream), f"measure_{uuid.uuid4().hex[:8]}",
                                        ckpt, output_mode=output_mode)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    return run


def _batch_left_join(spark, d) -> DataFrame:
    """Batch twin of ``streaming_click_purchase_left_join``."""
    ev = load_table(spark, d, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"))
    window = F.expr(f"INTERVAL {events.ATTRIB_WINDOW_SEC} SECONDS")
    j = c.join(p, (F.col("user_id") == F.col("p_user_id"))
               & (F.col("purchase_ts") > F.col("click_ts"))
               & (F.col("purchase_ts") <= F.col("click_ts") + window), "left")
    return j.select("click_id", "purchase_id", "user_id",
                    (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long"))
                    .alias("secs_to_purchase"))


def _equals_batch(batch: Callable, cols: list[str]) -> Callable:
    def observe(spark, d, df):
        got = _bag(df, cols)
        return {"rows": sum(got.values()), "stream_equals_batch": got == _bag(batch(spark, d), cols)}

    return observe


JOIN_COLS = ["click_id", "purchase_id", "user_id", "secs_to_purchase"]
SESSION_COLS = ["user_id", "session_start_epoch", "n_events", "sum_value"]
TUMBLING_COLS = ["window_start_epoch", "event_type", "n_events", "sum_value"]
DOCS, EVENTS, EMB = ("documents",), ("events",), ("embeddings",)


def _no_clean(fn: Callable) -> Callable:
    # the curves measure the collapse machinery on corpora whose dup
    # share is set by construction, not a cleanliness policy
    return lambda spark, d: fn(spark, d, require_clean=False)


CURVES: dict[str, Curve] = {
    "minhash": Curve(DOCS, {"pairs": Op(dedup.dedup_minhash_lsh, _rows, {"rows": "linear~1%"})}),
    "collapse": Curve(DOCS, {"collapse": Op(_no_clean(components.dedup_collapse), _rows,
                                            {"rows": "linear~1%"})}),
    "cluster_quality": Curve(DOCS, {"audit": Op(
        components.dedup_cluster_quality,
        _agg(clusters="count(*)", chained="count_if(chained)",
             worst_jaccard_ppm="min(min_jaccard_ppm)"),
        {"clusters": "linear~1%"})}),
    "lsh_cc": Curve(DOCS, {
        "edges": Op(dedup.dedup_minhash_lsh, _rows, {"rows": "linear~1%"}),
        "bigstar": Op(components.dedup_clusters_bigstar, _rows),
        "corpus_clean": Op(corpus_clean, _rows),
    }, (1, 10, 50)),
    "embedding_lsh": Curve(EMB, {"pairs": Op(similarity.dedup_embedding_lsh, _rows)}, (1, 10, 50)),
    "semantic_collapse": Curve(EMB, {"collapse": Op(
        _no_clean(components.dedup_semantic_collapse), _semantic)}),
    "containment": Curve(DOCS, {"pairs": Op(dedup.dedup_containment, _rows, {"rows": "linear"})}),
    "editdistance": Curve(DOCS, {"pairs": Op(dedup.dedup_editdistance, _pairs_per_copy, {
        "copy0_pairs": "constant", "cross_copy_pairs": "constant",
        "renamed_copies_agree": "true"})}),
    "tfidf_cosine": Curve(DOCS, {"pairs": Op(text_analysis.doc_tfidf_cosine_pairs, _rows,
                                             {"rows": "linear"})}),
    "prefix_jaccard": Curve(DOCS, {
        "full": Op(dedup.dedup_ngram_jaccard),
        "prefix": Op(dedup.dedup_prefix_filter_jaccard, _prefix_equals_full,
                     {"pairs": "linear", "equals_full": "true"}),
    }),
    "spans": Curve(DOCS, {"spans": Op(dedup.duplicated_spans,
                                      _agg(dup_docs="count_if(n_dup_spans > 0)"),
                                      {"dup_docs": "linear"})}),
    "spanscrub": Curve(DOCS, {"scrub": Op(dedup.span_scrub, _agg(removed="sum(n_removed)"),
                                          {"removed": "linear"})}),
    "decontam_vocab": Curve(DOCS, {
        "decontaminate": Op(dedup.decontaminate_spans,
                            _agg(rows="count(*)", removed="sum(n_removed)"),
                            {"rows": "linear", "removed": "linear"}),
        "vocab": Op(text_analysis.vocab_coverage_build, _rows, {"rows": "linear"}),
    }),
    "bigram_lm": Curve(DOCS, {"score": Op(text_analysis.doc_bigram_lm_score,
                                          _agg(docs="count(*)", total_ppm="sum(sum_cond_ppm)"),
                                          {"docs": "linear", "total_ppm": "linear"})}),
    "bm25": Curve(DOCS, {"search": Op(retrieval.doc_bm25_search, _bm25,
                                      {"rows": "constant", "copy0_only": "true"})}),
    "heavy_hitters": Curve(DOCS, {
        "hh": Op(sketches.doc_heavy_hitters, _heavy_hitters,
                 {"tokens": "constant", "counts": "linear"}),
        "bm25": Op(retrieval.doc_bm25_search, _rows),
    }, (1, 10, 50), verbatim=True),
    "hybrid_rrf": Curve(DOCS + EMB, {"hybrid": Op(retrieval.doc_hybrid_search_rrf, _hybrid, {
        "deterministic": "true", "per_qid_topk": "true", "lex_copy0_only": "true"})}),
    "late_family": Curve(DOCS, {
        "budget": Op(text_pipeline.corpus_budget_select, _budget,
                     {"fits_budget": "true", "deterministic": "true"}),
        "encoding": Op(text_analysis.text_encoding_screen, _encoding,
                       {"one_row_per_doc": "true", "all_clean": "true"}),
        "buckets": Op(text_pipeline.seq_length_buckets, _buckets, {"covers_corpus": "true"}),
    }, (1, 10)),
    "paragraphs": Curve("paragraphs", {
        "report": Op(dedup.dedup_paragraphs, _agg(dup_paras="sum(n_dup_paras)"),
                     {"dup_paras": "linear"}),
        "scrub": Op(dedup.paragraph_scrub),
    }),
    "cohort": Curve(EVENTS, {"retention": Op(
        rollups.events_cohort_retention,
        _agg(rows="count(*)", active_sum="sum(n_active_users)"),
        {"rows": "constant", "active_sum": "linear"})}),
    "cdc": Curve(EVENTS, {
        "latest_state": Op(events.events_latest_state, _rows, {"rows": "linear"}),
        "scd2": Op(events.events_scd2_intervals, _rows, {"rows": "linear"}),
    }),
    "gapfill_merge": Curve(EVENTS, {
        "gap_fill": Op(events.events_gap_fill, _rows, {"rows": "constant"}),
        "merge": Op(events.events_merge_upsert, _rows, {"rows": "linear"}),
    }),
    "events_misc": Curve(EVENTS, {
        "funnel": Op(events.events_conversion_funnel, _rows),
        "outliers": Op(events.events_robust_outliers, _rows),
        "ohlc": Op(rollups.events_ohlc_bars,
                   _agg(rows="count(*)", volume="CAST(sum(volume) AS BIGINT)"),
                   {"rows": "constant", "volume": "linear"}),
        "rolling": Op(events.events_rolling_stats, _rows, {"rows": "linear"}),
    }, (1, 10)),
    "flagships": Curve(EVENTS, {
        "asof": Op(events.events_asof_join, _rows, {"rows": "linear"}),
        "campaign": Op(events.events_campaign_range_join,
                       _agg(rows="count(*)", matched_events="sum(n_events)"),
                       {"rows": "constant", "matched_events": "linear"}),
        "hll": Op(sketches.daily_distinct_users_hll,
                  _agg(rows="count(*)", exact_total="sum(n_exact_users)",
                       within_bound="bool_and(hll_within_bound)"),
                  {"rows": "constant", "exact_total": "linear", "within_bound": "true"}),
    }, (1, 10)),
    "quantiles": Curve(("lineitem",), {"sketch": Op(sketches.price_quantiles_sketch, _quantiles, {
        "quantiles": "close", "group_counts": "linear", "sketch_ok": "true"})}, (1, 10)),
    "streaming_replay": Curve(EVENTS, {
        "session": Op(_replay(se.streaming_session_aggregates),
                      _equals_batch(events.events_sessionize, SESSION_COLS),
                      {"rows": "linear", "stream_equals_batch": "true"}),
        "join": Op(_replay(se.streaming_click_purchase_join, "append"),
                   _equals_batch(events.events_click_purchase_join, JOIN_COLS),
                   {"stream_equals_batch": "true"}),
        "left_join": Op(se.events_stream_left_join_replay,
                        _equals_batch(_batch_left_join, JOIN_COLS),
                        {"stream_equals_batch": "true"}),
        "tumbling": Op(_replay(se.streaming_tumbling_counts),
                       _equals_batch(events.events_tumbling_window, TUMBLING_COLS),
                       {"rows": "constant", "stream_equals_batch": "true"}),
    }, (1, 10, 50), samples=1),
    "ivfpq": Curve(EMB, {"search": Op(vectors.ann_ivfpq_topk, _recall)}, (1, 10, 50), samples=1),
    "ivfpq_clustered": Curve("gaussians", {"search": Op(vectors.ann_ivfpq_topk, _recall)},
                             (1, 10, 50, 250), samples=1),
    "ivfpq_serving": Curve("gaussians", {
        "build": Op(lambda spark, d: vectors.ivfpq_index_build(spark, d, _index_dir(d))),
        "search": Op(lambda spark, d: vectors.ann_ivfpq_search(spark, _index_dir(d)),
                     _scan_metrics, {"rows": "constant"}),
    }, (1000,), samples=3),
    "cc_distributed": Curve("graph", {"cc": Op(
        lambda spark, d: components.connected_components_bigstar(
            spark.read.parquet(os.path.join(d, "edges.parquet")), "u", "v", small_graph_cap=0),
        _components, {"histogram_matches": "true"})}, (1, 8), samples=1),
}


def curve(spark, name: str, multipliers: list[int], base_dir: str, samples: int | None) -> bool:
    """One JSON line per (multiplier, op), then a summary; True when every
    law held against the curve's first multiplier."""
    c = CURVES[name]
    samples = samples or c.samples
    meter = Meter(spark)
    first: dict[tuple[str, str], tuple[int, object]] = {}
    walls: dict[str, list[float]] = {}
    ok = True
    for m in multipliers or c.multipliers:
        d = build_sf_dir(spark, c.corpus, m, base_dir, c.verbatim)
        try:
            for label, op in c.ops.items():
                runs = []
                for i in range(samples):
                    if i:
                        release_cached_blocks(spark)
                    df, rec = meter.time(lambda: _sink(op.fn(spark, d)))
                    runs.append(rec)
                # observe before the release: checkpointed frames cannot be recomputed after
                seen = op.observe(spark, d, df) if op.observe else {}
                release_cached_blocks(spark)
                best = min(runs, key=lambda r: r["wall_s"])
                holds = {}
                for key, law in op.laws.items():
                    base_m, base = first.setdefault((label, key), (m, seen[key]))
                    holds[f"{key} {law}"] = LAWS[law](seen[key], base, m, base_m)
                ok = ok and all(holds.values())
                walls.setdefault(label, []).append(best["wall_s"])
                print(json.dumps({
                    "curve": name, "op": label, "multiplier": m, **best,
                    "walls": [r["wall_s"] for r in runs], "peak_rss_mb": peak_rss_mb(spark),
                    **{k: v for k, v in seen.items() if not isinstance(v, list)},
                    **({"holds": holds} if holds else {}),
                }), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"curve": name, "invariants_hold": ok,
                      "wall_ratio": {k: round(w[-1] / w[0], 2) for k, w in walls.items()}}),
          flush=True)
    return ok


# ----------------------------------------------------------------- run
def run(spark, names: list[str], rounds: int, sf_dir: str, plans: str) -> None:
    meter = Meter(spark)
    os.makedirs(plans, exist_ok=True)
    for name in names:  # untimed warm-up, plan dump
        df = QUERIES[name].fn(spark, sf_dir)
        with open(os.path.join(plans, f"{name}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(),
                                                             "formatted"))
        _sink(df)
        release_cached_blocks(spark)
    walls: dict[str, list[float]] = {n: [] for n in names}
    for i in range(rounds):
        for name in names:
            _, rec = meter.time(lambda: _sink(QUERIES[name].fn(spark, sf_dir)))
            release_cached_blocks(spark)
            walls[name].append(rec["wall_s"])
            print(json.dumps({"query": name, "round": i,
                              "cpus": spark.sparkContext.defaultParallelism, **rec}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "plans": plans,
                      "best": {n: min(w) for n, w in walls.items()},
                      "median": {n: statistics.median(w) for n, w in walls.items()}}), flush=True)


def main() -> int:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--base", default=BASE_SF_DIR, required=BASE_SF_DIR is None,
                        help="base sf dir (default: $SPARK_GRAFT_SF_DIR)")
    common.add_argument("--heap", default="8g", help="driver (local-mode JVM) heap")
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = parser.add_subparsers(dest="mode", required=True)
    p = sub.add_parser("curve", parents=[common], help="time one curve at growing multipliers")
    p.add_argument("name", choices=sorted(CURVES))
    p.add_argument("multipliers", nargs="*", type=int)
    p.add_argument("--samples", type=int, help="timed runs per point (default: the curve's)")
    p = sub.add_parser("run", parents=[common], help="interleave registry queries in one session")
    p.add_argument("queries", nargs="+", choices=sorted(QUERIES), metavar="query")
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--scale", type=int, help="build every scaled table at this multiplier")
    p.add_argument("--plans", default=os.path.join(tempfile.gettempdir(), "measure-plans"))
    args = parser.parse_args()

    spark = get_spark(f"measure-{args.mode}", extra_conf={"spark.driver.memory": args.heap})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.mode == "curve":
            return 0 if curve(spark, args.name, args.multipliers, args.base, args.samples) else 1
        sf_dir = args.base
        if args.scale:
            sf_dir = build_sf_dir(spark, tuple(SCALERS), args.scale, args.base)
            _one_file_events(spark, sf_dir)
        try:
            run(spark, args.queries, args.rounds, sf_dir, args.plans)
        finally:
            if sf_dir != args.base:
                shutil.rmtree(sf_dir, ignore_errors=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
