"""End-to-end training-data pipeline: the extension operators composed.

``corpus_clean`` is the shape a 100 TB pre-training data job takes:

    quality filter → language filter → exact dedup → near-dup removal
    → surviving documents with their stats

Each stage is one of the engine's audited operators; the composition is
still ONE Catalyst plan (no materialization between stages), and the
whole thing remains oracle-checkable because every stage is.

Scale shape: the quality/language stages are pure maps (pushed into the
scan); exact dedup is one digest shuffle; near-dup removal reuses the
LSH-verified pair set (sub-quadratic) and drops the higher doc_id of each
pair — the standard "keep first" policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    DEDUP_MINHASH_LSH_SQL,
    dedup_exact,
    dedup_minhash_lsh,
)
from ..operators.text_analysis import (
    TEXT_QUALITY_SQL,
    text_quality_score,
)


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving doc_ids after quality gate + exact dedup + near-dup drop."""
    quality = text_quality_score(spark, sf_dir).filter(F.col("keep"))

    canonical = dedup_exact(spark, sf_dir).select(
        F.col("canonical_id").alias("doc_id")
    )

    near_dup_losers = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    return (
        quality.join(canonical, "doc_id", "left_semi")
        .join(near_dup_losers, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality")
    )


CORPUS_CLEAN_SQL = f"""
    WITH quality AS (
        SELECT doc_id, n_tokens, quality FROM ({TEXT_QUALITY_SQL}) WHERE keep
    ),
    canonical AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    near_dup_losers AS (
        SELECT DISTINCT doc_b AS doc_id FROM ({DEDUP_MINHASH_LSH_SQL})
    )
    SELECT q.doc_id, q.n_tokens, q.quality
    FROM quality q
    WHERE EXISTS (SELECT 1 FROM canonical c WHERE c.doc_id = q.doc_id)
      AND NOT EXISTS (SELECT 1 FROM near_dup_losers l WHERE l.doc_id = q.doc_id)
"""


def corpus_clean_staged(
    spark: SparkSession, sf_dir: str, workdir: str | None = None
) -> DataFrame:
    """Staged variant of :func:`corpus_clean`: materialize the hashed
    shingle-SET table once as parquet and feed the SAME MinHash-LSH core
    (:func:`..operators.dedup.minhash_pairs_from_shingle_sets`) from the
    materialization instead of recomputing tokenize→shingle→hash per
    consumer.

    At 100 TB this is how the pipeline actually runs — expensive derived
    tables (shingle sets + their hashes) land in columnar storage and
    every downstream stage scans them. The set form (one row per doc,
    array columns) replaced the exploded form in r19: same bytes in
    ~50× fewer rows, and the core's signature/verify stages no longer
    need a groupBy to reassemble per-doc state. Results are identical to
    the fused form (asserted in tests, and both forms share the one
    DuckDB oracle).

    ``workdir`` defaults to a fresh scratch directory (the registered
    driver form); pass an explicit path to keep the materialization.
    """
    from ..operators.dedup import (
        minhash_pairs_from_shingle_sets,
        shingle_sets,
    )
    from ..sources.catalog import load_table
    from ..sources.sinks import write_parquet

    if workdir is None:
        # Per-invocation private scratch dir (mkdtemp: 0700, unguessable —
        # no symlink squat), reaped at process exit. A FIXED shared path
        # would let a concurrent run (driver + bench on one host) or a
        # second invocation overwrite the materialization under the
        # returned DataFrame's lazy reader — failures or silently wrong
        # dedup results; eager cleanup isn't possible for the same
        # reason (the result is read after this function returns).
        import atexit
        import shutil
        import tempfile

        workdir = tempfile.mkdtemp(prefix="hha_corpus_clean_staged_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)

    from ..sources.catalog import spread_small_scan

    # spread before the set build (r19): the single-row-group fixture
    # scans as one real task, so the tokenize→shingle→md5 pass that
    # feeds the write ran single-core (2.34 → 1.88 s best-of-3 with the
    # spread; an AQE REBALANCE write was also measured — 2.45 s, the
    # extra exchange costs more than the small files save at this
    # volume). No-op at real scale (see spread_small_scan's gate).
    # Full width, matching the fused core: the in-pack width A/B
    # measured the staged query 1.68 s full vs 2.06 s narrow (see
    # dedup_minhash_lsh).
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        full_width=True,
    )
    sets_path = f"{workdir}/shingle_sets.parquet"
    write_parquet(shingle_sets(docs), sets_path)
    sets = spark.read.parquet(sets_path)

    losers = (
        # checkpoint_input=False: the set table is already durable
        # parquet — each core branch re-scans the columnar files instead
        # of caching a second in-memory copy (advisor r19; that second
        # copy is exactly the block-manager pressure the staged layout
        # exists to avoid at 100 TB)
        minhash_pairs_from_shingle_sets(sets, checkpoint_input=False)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    quality = text_quality_score(spark, sf_dir).filter(F.col("keep"))
    canonical = dedup_exact(spark, sf_dir).select(
        F.col("canonical_id").alias("doc_id")
    )
    return (
        quality.join(canonical, "doc_id", "left_semi")
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality")
    )
