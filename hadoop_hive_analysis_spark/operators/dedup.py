"""Deduplication operators over ``documents`` — the 100 TB pipeline surface.

Document-level strategies, each oracle-checked (identical deterministic
arithmetic in Spark and DuckDB — see functions.hashing), plus the
exact-substring span family (profile / top-K report / scrub /
eval-set decontamination), normalized-digest dedup, and per-source
duplicate-rate monitoring further down. The core four:

* exact          — md5-fingerprint groupBy; one shuffle on the digest.
* n-gram Jaccard — candidate pairs via shared-shingle equi-join, exact
                   Jaccard verify. Quadratic only within a shingle's
                   posting list, not the corpus.
* MinHash + LSH  — 16 permutations, 4 bands × 4 rows: the sub-quadratic
                   scale path. Shuffle cost is O(corpus × bands), candidate
                   join is bucket-local; at 100 TB this is the only listed
                   strategy whose cost does not grow with pair count.
* SimHash        — 32-bit signature via per-bit majority vote, computed as
                   32 conditional-sum aggregates in ONE pass (no bit
                   explosion); near-dup pairs via 4×8-bit pigeonhole
                   banding + popcount(xor) ≤ radius.

All planted near-dups in the fixtures have shingle-Jaccard ≈ 0.98 vs
background < 0.1 (measured), so threshold 0.8 separates cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE_31,
    h31,
    h31_sql,
    h64,
    h64_sql,
    minhash_expr,
    minhash_params,
    minhash_sql,
)
from ..functions.text import with_shingles
# CKPT_LEVEL (serialized): rationale + A/B measurements at its
# definition. This module's context: the r15 sf1 sweep read
# dedup_editdistance at 34.4 s in-pack (50 queries, one 12 GiB JVM)
# against 6.5 s in a fresh JVM — cross-query deserialized-block
# accumulation, the failure mode the serialized level bounds. Since
# r16, pack runners additionally RELEASE all checkpoint blocks between
# queries (session.release_cached_blocks — blocking unpersist + GC
# drain), so in-pack measurements start from the fresh-JVM block state.
from ..session import CKPT_LEVEL
from ..sources.catalog import load_table

JACCARD_THRESHOLD = 0.8
NUM_HASHES = 16
BAND_SIZE = 4  # → 4 bands
SIMHASH_BITS = 32
SIMHASH_RADIUS = 3
# Stop-shingle cut for the exact-Jaccard path: shingles appearing in more
# than this many documents are dropped from the pair universe BEFORE the
# posting-list self-join. The join is quadratic in posting-list length, so
# one hot shingle (boilerplate, license headers) otherwise dominates the
# whole job at scale; capping df bounds every posting list's pair count at
# df² ≤ 1024. Semantics delta (documented, mirrored in the oracle):
# Jaccard is computed over the informative-shingle universe — a pair whose
# overlap is pure boilerplate no longer counts as a near-dup, which is the
# behavior a training-data pipeline wants anyway.
STOP_SHINGLE_DF = 32

_SHINGLE_SQL = r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        FROM toks WHERE len(t) >= 3
    )
"""


def _doc_shingles(
    spark: SparkSession, sf_dir: str, full_width: bool = False
) -> DataFrame:
    from ..sources.catalog import spread_small_scan

    # spread BEFORE the explode: the shingle transform multiplies each
    # row's CPU ~50x, and a small single-row-group documents file scans
    # as 1-2 partitions (see spread_small_scan) — measured 9 s -> <2 s
    # for the sf1 shingle pass. ``full_width`` is for consumers that
    # RECOMPUTE this frame per branch instead of checkpointing it
    # (doc_tfidf_cosine_pairs).
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        full_width=full_width,
    )
    return with_shingles(d, "text", 3).select("doc_id", "shingle")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep min doc_id as canonical.

    One hash-shuffle on the digest; at 100 TB prefer digesting a normalized
    text (the pipeline's choice) — the operator is digest-agnostic.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
"""


def _informative_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) with hot shingles (df > STOP_SHINGLE_DF) removed
    via a left-anti join against the aggregated hot-shingle set.

    Exposed un-checkpointed so the plan pin
    (``test_ngram_df_cut_is_anti_join_not_window``) can assert the
    LeftAnti / no-Window shape; :func:`dedup_ngram_jaccard` checkpoints
    the result so the cut executes once, not once per consumer branch.
    """
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > STOP_SHINGLE_DF)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.8 over the
    informative-shingle universe (document frequency ≤ STOP_SHINGLE_DF).

    Candidate generation is an equi-join on shared shingles. The df cut
    happens FIRST: it bounds every posting list, which bounds the join's
    per-key pair count — without it one hot boilerplate shingle makes the
    job quadratic in corpus size. The cut is an ANTI-join against the
    (small, by definition ≤ |shingles|/df) HOT-shingle set rather than a
    ``count() OVER (PARTITION BY shingle)`` window: the window form sorts
    every partition of the full shingle table; the anti-join's build side
    shrinks through map-side partial aggregation, AQE demotes it to
    broadcast when it fits, and its shuffle key (shingle) is the same one
    the candidate self-join needs, so the big table is exchanged at most
    once. Doc cardinalities are computed over the same filtered universe
    so the Jaccard stays an exact set similarity (of informative
    shingles).

    BOTH the exploded shingle table AND the cut result are materialized
    (non-eager ``localCheckpoint``). Downstream, four branches read the
    cut table (both self-join sides, both cardinality lookups); without
    the second materialization Spark re-executes the hot-set aggregation
    and the anti-join once PER BRANCH — the round-4 plan audit counted 4×
    ``hashpartitioning(shingle)`` exchanges and 4 LeftAnti executions,
    i.e. 3 redundant full-shingle-table shuffles and 3 redundant hot-set
    broadcasts, which at 100 TB is the dominant cost. With the cut
    materialized the final plan reads the cached cut table four times and
    the cut itself runs exactly once (local wall at sf0.1 is parity —
    stage overhead dominates at 260 k rows — but the exchange count is
    the scale-relevant property; pinned in tests/test_plans.py). The hot
    set gets no broadcast HINT: its size is corpus-dependent (Zipf head,
    but worst-case |shingles|/df), so AQE decides at runtime from the
    measured build size (it picks BroadcastHashJoin here).

    The anti-join cut itself lives in :func:`_informative_shingles` so
    its logical plan stays inspectable (checkpointing replaces the plan
    with an RDD scan in the consumer).
    """
    sh = _informative_shingles(spark, sf_dir).localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    card = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("ix"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", F.col("ix") / (F.col("na") + F.col("nb") - F.col("ix")))
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
    )
    return jac.select("doc_a", "doc_b", "jaccard")


DEDUP_NGRAM_JACCARD_SQL = f"""
    {_SHINGLE_SQL},
    shf AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM sh
        ) WHERE df <= {STOP_SHINGLE_DF}
    ),
    card AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, ix / (ca.n + cb.n - ix) AS jaccard
    FROM inter
    JOIN card ca ON ca.doc_id = doc_a
    JOIN card cb ON cb.doc_id = doc_b
    WHERE ix / (ca.n + cb.n - ix) >= {JACCARD_THRESHOLD}
"""


def shingle_sets(docs: DataFrame) -> DataFrame:
    """Per-doc distinct-shingle SETS ``(doc_id, sarr, harr)`` — the
    set-form input of the MinHash-LSH core: ``sarr`` the distinct 3-gram
    array (exactly the array ``with_shingles`` explodes), ``harr`` its
    element-wise h31 hashes. One row per doc with ≥ 3 tokens; row size is
    bounded by document length, the same bound the pre-explode projection
    already carried."""
    from ..functions.text import shingles, tokens

    t = docs.withColumn("_toks", tokens("text")).filter(F.size("_toks") >= 3)
    return t.select(
        "doc_id", F.array_distinct(shingles("_toks", 3)).alias("sarr")
    ).withColumn("harr", F.transform("sarr", lambda s: h31(s)))


def minhash_pairs_from_shingle_sets(
    sets: DataFrame, checkpoint_input: bool = True
) -> DataFrame:
    """MinHash-LSH verified near-dup pairs from a set-form shingle frame
    ``(doc_id, sarr, harr)`` — the shared core of the fused operator and
    the staged pipeline (which feeds it a MATERIALIZED set table).

    Signature: per-ROW higher-order folds — ``mh_j = array_min(transform
    (harr, h → (a_j·h + b_j) mod P))`` — the same expression shape the
    streaming twin (``streaming.dedup.with_minhash_bands``) runs
    stateless, and bit-identical to the historical explode+groupBy(min)
    form (min over the same distinct-shingle set). Restructured in r19:
    the exploded shingle table, its 16-min groupBy SHUFFLE, and the
    separate cardinality aggregation are all gone — signatures and
    set sizes are map-side facts of the set row. Banding: 4 bands of 4
    rows; candidates share ≥1 band signature. For planted dups (j≈0.98)
    the hit probability is 1-(1-j⁴)⁴ ≈ 0.99996; for background (j<0.1)
    ≈ 4·10⁻⁴. The verify step removes any false positives with an exact
    ``array_intersect`` size per candidate pair (sets are distinct by
    construction, so |intersect| is the exact Jaccard numerator) —
    verify joins move the set table by doc id instead of re-shuffling an
    exploded table 50× its row count. Measured r19 at sf0.1: 1.53 s →
    0.79 s best-of-3, same 256 pairs bit-for-bit.
    """
    # Materialize the set table once: the band derivation and BOTH
    # verify sides reference it; without the checkpoint each branch
    # re-runs tokenize→shingle→md5 from the scan (the round-4
    # re-execution class). Callers whose input is ALREADY durable (the
    # staged pipeline feeds a parquet materialization) pass
    # ``checkpoint_input=False`` — re-caching a table every branch can
    # cheaply re-scan is pure block-manager pressure (advisor r19).
    if checkpoint_input:
        sets = sets.localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    params = minhash_params(NUM_HASHES)

    def _mh(a: int, b: int):  # unary lambda per hash (transform arity)
        return F.array_min(
            F.transform(F.col("harr"), lambda h: minhash_expr(h, a, b))
        )

    sig = sets.select(
        "doc_id",
        *[_mh(a, b).alias(f"mh_{j}") for j, (a, b) in enumerate(params)],
    )
    n_bands = NUM_HASHES // BAND_SIZE
    band_structs = []
    for band in range(n_bands):
        members = [F.col(f"mh_{band * BAND_SIZE + r}") for r in range(BAND_SIZE)]
        key = F.concat_ws(",", *[m.cast("string") for m in members])
        band_structs.append(F.struct(F.lit(band).alias("band"), key.alias("band_sig")))
    # Materialize the (tiny: docs × bands) banded table: BOTH self-join
    # sides reference it, and without the checkpoint each side re-runs
    # the per-row md5 hashing of every shingle (round-4 plan audit; same
    # re-execution class as the ngram df-cut fix).
    banded = (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("b"))
        .select(
            "doc_id",
            F.col("b.band").alias("band"),
            F.col("b.band_sig").alias("band_sig"),
        )
        .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # Verify ONLY the LSH candidates — the whole point of banding. The
    # exact-Jaccard check runs per-candidate, not all-shared-shingle-
    # pairs: at 100 TB the candidate set is tiny relative to the
    # posting-list cross product, so this is the scale-defining
    # difference.
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sarr").alias("sarr_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sarr").alias("sarr_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sarr_a", "sarr_b")).alias("ix"),
            F.size("sarr_a").alias("na"),
            F.size("sarr_b").alias("nb"),
        )
        .withColumn("jaccard", F.col("ix") / (F.col("na") + F.col("nb") - F.col("ix")))
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs
    (see :func:`minhash_pairs_from_shingle_sets`)."""
    from ..sources.catalog import spread_small_scan

    # Full-width spread (identical to the default from sf1 up): the
    # checkpoint width is inherited by the 16-fold minhash signature
    # pass AND both array_intersect verify probes —
    # CPU-per-byte far above the spread default's ~1 s/MB baseline. The
    # r20 narrow default measured ~flat in dedicated-JVM interleaved
    # A/Bs but regressed the whole core family IN-PACK (the driver's
    # protocol): full-pack A/B same tree, env-toggled width —
    # dedup_minhash_lsh 1.14 s at full width on a 1.17-factor host vs
    # 1.66 s narrow on a 1.03-factor host; collapse 1.48 vs 1.97,
    # clusters_bigstar 1.13 vs 1.75, family_profile 1.40 vs 1.86.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        full_width=True,
    )
    return minhash_pairs_from_shingle_sets(shingle_sets(docs))


def _minhash_sql_cols() -> str:
    params = minhash_params(NUM_HASHES)
    return ", ".join(
        f"min({minhash_sql('h31', a, b)}) AS mh_{j}" for j, (a, b) in enumerate(params)
    )


def _band_sql() -> str:
    n_bands = NUM_HASHES // BAND_SIZE
    selects = []
    for band in range(n_bands):
        key = " || ',' || ".join(
            f"CAST(mh_{band * BAND_SIZE + r} AS VARCHAR)" for r in range(BAND_SIZE)
        )
        selects.append(
            f"SELECT doc_id, {band} AS band, {key} AS band_sig FROM sig"
        )
    return " UNION ALL ".join(selects)


DEDUP_MINHASH_LSH_SQL = f"""
    {_SHINGLE_SQL},
    hashed AS (SELECT doc_id, {h31_sql('shingle')} AS h31 FROM sh),
    sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ),
    card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS ix
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, ix / (ca.n + cb.n - ix) AS jaccard
    FROM inter
    JOIN card ca ON ca.doc_id = doc_a
    JOIN card cb ON cb.doc_id = doc_b
    WHERE ix / (ca.n + cb.n - ix) >= {JACCARD_THRESHOLD}
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 32-bit signature, computed per ROW.

    Features are 3-gram SHINGLES, not single tokens: on a small shared
    vocabulary token sets are near-identical across unrelated docs (measured:
    token-simhash put 21k of 125k possible pairs within radius 3), while
    shingle sets separate exactly like the Jaccard ground truth.

    Per bit b the majority vote over a doc's feature hashes is a fact of
    the doc's OWN shingle-hash array: ``v_b = 2·|{h : bit b set}| −
    |harr|`` (each set bit votes +1, each clear bit −1). Restructured in
    r19 from 32 SUM(CASE…) aggregates over the exploded shingle table to
    row-wise ``size(filter(harr, …))`` folds on the set-form frame — the
    groupBy(doc_id) SHUFFLE is gone; the votes are bit-identical (same
    multiset of hashes per doc). At 100 TB the signature becomes a pure
    map over the corpus scan.
    """
    from ..sources.catalog import spread_small_scan

    # Full-width spread, NOT the r20 bytes-proportional default (identical
    # from sf1 up): the byte-band self-join downstream broadcasts its build
    # side, so the probe runs AT THIS WIDTH with work quadratic in band
    # occupancy — the narrow default was measured 1.60× slower end-to-end at
    # sf0.1 (2.57 → 4.11 s median, confirmed best-of-N in a second
    # interleaved run), and a 19-wide middle ground still lost.
    sets = shingle_sets(
        spread_small_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            full_width=True,
        )
    )

    def _vote(b: int):  # v_b > 0  ⇔  2·n_set > size(harr)
        n_set = F.size(
            F.filter(
                F.col("harr"),
                lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
            )
        )
        return F.when(n_set * 2 > F.size("harr"), F.lit(1 << b)).otherwise(
            F.lit(0)
        )

    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim + _vote(b)
    return sets.select("doc_id", sim.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + near-dup pairs within hamming ≤ 3.

    Pairing uses the pigeonhole band trick: split 32 bits into 4 bytes;
    hamming ≤ 3 ⇒ at least one byte identical, so candidates come from a
    byte-equality equi-join (sub-quadratic), then popcount(xor) verifies.
    Output: (doc_a, doc_b, hamming).
    """
    sig = _simhash_df(spark, sf_dir)
    # Single signature pass (explode band structs — see dedup_minhash_lsh).
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * 8).bitwiseAND(F.lit(255)).alias("ckey"),
        )
        for c in range(4)
    ]
    # Materialized for the same reason as the MinHash banded table: both
    # self-join sides reference it, and un-checkpointed each side re-runs
    # the full 32-vote signature aggregation (round-4 audit: 2 corpus
    # scans for one query).
    banded = (
        sig.select(
            "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("b")
        )
        .select(
            "doc_id",
            "simhash",
            F.col("b.chunk").alias("chunk"),
            F.col("b.ckey").alias("ckey"),
        )
        .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= SIMHASH_RADIUS)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_sql_core() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
    {_SHINGLE_SQL.strip().removeprefix('WITH')},
    hashed AS (SELECT doc_id, {h31_sql('shingle')} AS h FROM sh),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes)
    """


DEDUP_SIMHASH_SQL = f"""
    WITH {_simhash_sql_core()},
    banded AS (
        SELECT doc_id, simhash, c AS chunk, (simhash >> (c*8)) & 255 AS ckey
        FROM sig, (SELECT unnest([0,1,2,3]) AS c)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM banded a
        JOIN banded b ON a.chunk = b.chunk AND a.ckey = b.ckey
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_RADIUS}
"""


# ------------------------------------------------ duplicated-span detection

SPAN_TOKENS = 8  # exact-substring window length (tokens), stride 1
# Spans this hot are boilerplate, not duplication signal; capping df also
# bounds the dup-set join exactly like the Jaccard stop-shingle cut.
STOP_SPAN_DF = 64


def _span_sets(
    spark: SparkSession, sf_dir: str, toks_df: DataFrame | None = None
) -> DataFrame:
    """Per-doc span-hash ARRAY ``(doc_id, sarr)`` — ``sarr[i]`` is the
    h64 of the stride-1 SPAN_TOKENS window starting at 1-based token
    index ``i+1``, so positions stay implicit in array order. The
    set-form base of the span family (r20, the same array-form
    restructure the MinHash core took in r19): one row per doc bounded
    by document length, checkpointed once for multi-consumer plans —
    smaller than the old exploded (doc_id, s, span_h) checkpoint (no
    repeated doc_id, no position column) and the df/bench-set
    aggregations can explode ``array_distinct(sarr)`` alone, shuffling
    ONE int64 column with a plain count instead of the exploded table's
    two-phase count_distinct. Measured (duplicated_spans, interleaved
    ×4): sf0.1 median 1.89 → 1.40 s, sf1 3.27/3.42 → 2.99/3.03 s,
    bit-identical at both scales.

    ``toks_df`` (doc_id, toks), if given, replaces the parquet scan —
    span_scrub passes its own materialized tokenized corpus so the whole
    operator reads the documents table exactly once.
    """
    from ..functions.hashing import h64
    from ..functions.text import tokens

    if toks_df is None:
        from ..sources.catalog import spread_small_scan

        # spread before tokenize+span hashing (CPU ×tokens per row) — the
        # small-scan regime note in spread_small_scan applies here too;
        # spread the raw text so the shuffle moves strings, not arrays
        toks_df = spread_small_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ).select("doc_id", tokens("text").alias("toks"))
    d = toks_df.filter(F.size("toks") >= SPAN_TOKENS)
    return d.select(
        "doc_id",
        F.transform(
            F.expr(f"sequence(1, size(toks) - {SPAN_TOKENS} + 1)"),
            lambda s: h64(F.concat_ws(" ", F.slice("toks", s, SPAN_TOKENS))),
        ).alias("sarr"),
    ).localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)


def _span_hashes(sets: DataFrame) -> DataFrame:
    """Exploded view ``(doc_id, s, span_h)`` of a :func:`_span_sets`
    frame — ``s`` is the 1-based token index of the span start. A cheap
    posexplode map over the checkpointed set table, for consumers that
    need positions (scrub start-collection, top-K example pointers)."""
    return sets.select(
        "doc_id", F.posexplode("sarr").alias("p", "span_h")
    ).select("doc_id", (F.col("p") + 1).alias("s"), "span_h")


def duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplication profile, per document.

    Doc-level dedup (exact/MinHash/SimHash above) misses partial overlap:
    two distinct documents sharing a long verbatim passage. The
    reference treatment (Lee et al., "Deduplicating Training Data Makes
    Language Models Better") builds a corpus suffix array; the
    distributed equivalent used here is stride-1 token windows: every
    SPAN_TOKENS-token span, hashed, grouped — a span whose hash occurs in
    >= 2 distinct documents marks both positions as duplicated text.
    Output per doc: span count, duplicated-span count, and the exact
    ratio (the "fraction of text that is copied" signal a cleaning
    pipeline thresholds on).

    Scale shape (r20 set form): the per-doc span-hash ARRAY is the
    honest x(n_tokens - span + 1) amplification of EXACT substring
    coverage, but it stays in array form — the dup-set aggregation
    explodes ``array_distinct(sarr)`` (span_h ALONE shuffles, with a
    plain map-side-combined count instead of the exploded table's
    two-phase count_distinct), the dup set is df-capped (boilerplate
    spans > STOP_SPAN_DF docs are excluded, mirroring the Jaccard
    stop-shingle rationale), and the mark-back INNER-joins only the
    occurrence stream against it — the old corpus-sized LEFT join +
    full-occurrence rollup is now a dup-hits-only count joined back to
    the doc-sized set table (``n_spans = size(sarr)`` is a map-side
    fact). Sub-quadratic throughout: no pair enumeration anywhere.
    Measured: sf0.1 median 1.89 → 1.40 s, sf1 3.27 → 2.99 s,
    bit-identical.
    """
    sets = _span_sets(spark, sf_dir)
    dup = (
        sets.select(F.explode(F.array_distinct("sarr")).alias("span_h"))
        .groupBy("span_h")
        .agg(F.count("*").alias("nd"))
        .filter((F.col("nd") > 1) & (F.col("nd") <= STOP_SPAN_DF))
        .select("span_h")
    )
    hits = (
        sets.select("doc_id", F.explode("sarr").alias("span_h"))
        .join(dup, "span_h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        sets.select("doc_id", F.size("sarr").cast("long").alias("n_spans"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
                "dup_ratio"
            ),
        )
    )


DUPLICATED_SPANS_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    sp AS (
        SELECT doc_id,
               {h64_sql(f"array_to_string(list_slice(t, s, s + {SPAN_TOKENS} - 1), ' ')")}
               AS span_h
        FROM (
            SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_TOKENS} + 2)) AS s
            FROM toks WHERE len(t) >= {SPAN_TOKENS}
        )
    ),
    dup AS (
        SELECT span_h, 1 AS is_dup
        FROM (SELECT span_h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
        WHERE nd > 1 AND nd <= {STOP_SPAN_DF}
    )
    SELECT sp.doc_id,
           count(*) AS n_spans,
           CAST(sum(COALESCE(is_dup, 0)) AS BIGINT) AS n_dup_spans,
           CAST(sum(COALESCE(is_dup, 0)) AS DOUBLE) / count(*) AS dup_ratio
    FROM sp LEFT JOIN dup USING (span_h)
    GROUP BY sp.doc_id
"""


TOPK_SPANS = 20


def duplicated_spans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus observability on top of the span profile: the TOPK_SPANS
    most widely duplicated exact substrings — by distinct-document
    spread, then total occurrences — with an (example_doc,
    example_start) pointer that locates the actual passage: slice the
    example document's tokens at [example_start, example_start +
    SPAN_TOKENS) to read the duplicated text, no corpus re-scan. This
    is the "what IS all this duplicated text" report an engineer runs
    before choosing scrub thresholds; unlike :func:`duplicated_spans`
    it deliberately keeps boilerplate (no df cap): the hottest spans
    are exactly what the report is for.

    Scale shape: one shuffle on span_h with map-side partial aggs
    (min over a (doc_id, s) struct is as partial-aggregable as min over
    a scalar), then TakeOrderedAndProject for the top-K — no global
    sort. Ordering is fully deterministic (span_h is unique per row, so
    the three-level tie-break admits exactly one answer), and so is the
    pointer (lexicographic struct-min picks the lowest (doc, start)
    occurrence).
    """
    sp = _span_hashes(_span_sets(spark, sf_dir))
    return (
        sp.groupBy("span_h")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min(F.struct("doc_id", "s")).alias("ex"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(
            F.col("n_docs").desc(),
            F.col("n_occurrences").desc(),
            F.col("span_h").asc(),
        )
        .limit(TOPK_SPANS)
        .select(
            "span_h",
            "n_docs",
            "n_occurrences",
            F.col("ex.doc_id").alias("example_doc"),
            F.col("ex.s").cast("long").alias("example_start"),
        )
    )


# The guarded packed-int64 lexicographic argmin over (doc_id, s). Named so
# the guard's failure path is unit-testable WITHOUT generating a >=2^20-token
# document through the full span pipeline (the unnest would carry the whole
# token list per row — quadratic). Preconditions: s < 2^20, doc_id < 2^43.
PACKED_ARGMIN_SQL = (
    "min(CASE WHEN s >= 1048576 OR doc_id >= 8796093022208 "
    "THEN CAST(error('duplicated_spans_topk oracle: span start s >= 2^20 "
    "or doc_id >= 2^43 violates the packed-int64 argmin encoding "
    "(doc_id*2^20 + s); widen the packing or revert to min(struct_pack)') "
    "AS BIGINT) ELSE doc_id * 1048576 + s END)"
)

DUPLICATED_SPANS_TOPK_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    sp AS (
        SELECT doc_id, s,
               {h64_sql(f"array_to_string(list_slice(t, s, s + {SPAN_TOKENS} - 1), ' ')")}
               AS span_h
        FROM (
            SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_TOKENS} + 2)) AS s
            FROM toks WHERE len(t) >= {SPAN_TOKENS}
        )
    ),
    agg AS (
        -- lexicographic (doc_id, s) min == min of doc_id·2^20 + s: s is a
        -- token index (corpus docs are << 2^20 tokens), so the packed
        -- int64 orders exactly like the pair. Spark's min(struct) twin
        -- stays a struct; this SCALAR encoding exists because DuckDB's
        -- min(struct_pack(...)) over ~10 M single-row groups at the 10x
        -- fixture degraded to a single-threaded >80 GB grind (observed
        -- r14) where three plain scalar aggregates stream in seconds.
        -- The CASE guards the encoding's preconditions AT the packing
        -- site: a >=2^20-token document (or a doc_id big enough to wrap
        -- int64) aborts the oracle loudly instead of silently ordering
        -- wrong and surfacing as an inexplicable hash mismatch.
        SELECT span_h,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               count(*) AS n_occurrences,
               {PACKED_ARGMIN_SQL} AS ex
        FROM sp
        GROUP BY span_h
        HAVING count(DISTINCT doc_id) > 1
    )
    SELECT span_h, n_docs, n_occurrences,
           ex // 1048576 AS example_doc,
           CAST(ex % 1048576 AS BIGINT) AS example_start
    FROM agg
    ORDER BY n_docs DESC, n_occurrences DESC, span_h ASC
    LIMIT {TOPK_SPANS}
"""


def span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of Lee et al.'s exact-substring deduplication:
    delete every token covered by a cross-document duplicated span
    (same df-capped dup set as :func:`duplicated_spans`) and emit the
    scrubbed document — here as (token counts + md5 of the scrubbed
    text) so the driver exchange stays scalar; the production variant
    writes the scrubbed text column itself.

    Plan: the tokenized corpus is materialized ONCE (localCheckpoint)
    and feeds both span generation and the final scrub pass — the
    documents parquet is read exactly once (plan-pinned). Span starts
    join the dup set (one shuffle on span_h), collapse to a per-doc
    sorted start-position array (bounded by doc length), then ONE pass
    over each document's token array with higher-order functions — no
    token-level explode, corpus tokens never shuffle (the start arrays
    join back by doc_id, broadcast side = dup docs only). The sorted
    starts are first folded into MERGED coverage intervals (one
    aggregate() pass, touching intervals coalesce), so the per-token
    coverage test is exists() over the merged intervals — O(tokens ×
    intervals), where a boilerplate-heavy doc with thousands of
    overlapping starts collapses to a handful of intervals (the
    pathological-density case the raw-starts form was quadratic on;
    stress-pinned in tests/test_text_pipeline.py). The fold itself is
    O(starts × intervals) ≤ O(tokens × intervals), so the merge never
    costs more than the scan it accelerates. The fold is computed on the
    STARTS side of the join, not as a post-join projection column: a
    single-consumer projection attribute gets collapsed INTO the
    per-token exists() lambda by CollapseProject and re-runs per TOKEN
    (the int8 quantizer's re-inlining trap; here it measured
    1.9 s -> 5.0 s at sf0.1 before the join-boundary fix in
    :func:`_scrub_against_starts`).
    """
    from ..functions.text import tokens
    from ..sources.catalog import spread_small_scan

    # spread before tokenize: the checkpointed token table feeds the span
    # explode AND the scrub pass, so a 1-2-partition small scan would pin
    # both CPU-heavy consumers (see spread_small_scan)
    d = (
        spread_small_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .select("doc_id", tokens("text").alias("toks"))
        .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    )
    sets = _span_sets(spark, sf_dir, toks_df=d)
    # dup set from the array form: span_h alone shuffles with a plain
    # count (per-doc distinctness moved into array_distinct) — see
    # _span_sets for the measured win
    dup = (
        sets.select(F.explode(F.array_distinct("sarr")).alias("span_h"))
        .groupBy("span_h")
        .agg(F.count("*").alias("nd"))
        .filter((F.col("nd") > 1) & (F.col("nd") <= STOP_SPAN_DF))
        .select("span_h")
    )
    starts = (
        _span_hashes(sets)
        .join(dup, "span_h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("starts"))
    )
    return _scrub_against_starts(d, starts)


def _scrub_against_starts(d: DataFrame, starts: DataFrame) -> DataFrame:
    """Shared removal pass for the span-scrub family: (doc_id, toks)
    LEFT-joined with per-doc sorted removal-start arrays; starts folded
    into merged coverage intervals (staged attribute — see
    :func:`span_scrub` docstring), one higher-order pass deletes covered
    tokens. Emits (doc_id, n_tokens, n_removed, keep_ratio, scrub_md5)."""
    # The interval fold is computed on the STARTS side, BEFORE the join:
    # a projection attribute can be re-inlined by CollapseProject into a
    # downstream lambda — a single-consumer aggregate() staged as a
    # plain withColumn on the joined frame ends up INSIDE the per-token
    # exists() lambda, re-running the fold once per TOKEN (measured:
    # 1.9 s -> 5.0 s at sf0.1, visible in the optimized plan). Across a
    # Join boundary no such collapse exists, so the fold runs once per
    # DUP DOC (the only docs with starts at all) and the scrub pass
    # consumes a materialized array attribute.
    ivals = starts.withColumn(
        "ivals",
        F.expr(
            f"aggregate(starts, "
            f"CAST(array() AS array<struct<lo:int,hi:int>>), "
            f"(acc, s) -> CASE WHEN size(acc) > 0 "
            f"AND s <= element_at(acc, -1).hi + 1 THEN "
            f"concat(slice(acc, 1, size(acc) - 1), "
            f"array(named_struct('lo', element_at(acc, -1).lo, "
            f"'hi', greatest(element_at(acc, -1).hi, "
            f"s + {SPAN_TOKENS} - 1)))) "
            f"ELSE concat(acc, array(named_struct('lo', s, "
            f"'hi', s + {SPAN_TOKENS} - 1))) END)"
        ),
    ).select("doc_id", "ivals")
    scrubbed = (
        d.join(ivals, "doc_id", "left")
        .withColumn(
            "ivals",
            F.coalesce(
                "ivals", F.expr("CAST(array() AS array<struct<lo:int,hi:int>>)")
            ),
        )
        .withColumn(
            "kept",
            F.expr(
                "filter(sequence(1, size(toks)), i -> "
                "NOT exists(ivals, v -> i >= v.lo AND i <= v.hi))"
            ),
        )
        .withColumn(
            "scrub_text",
            F.expr("concat_ws(' ', transform(kept, i -> element_at(toks, i)))"),
        )
    )
    return scrubbed.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size("kept")).cast("long").alias("n_removed"),
        (F.size("kept").cast("double") / F.size("toks")).alias("keep_ratio"),
        F.md5("scrub_text").alias("scrub_md5"),
    )


SPAN_SCRUB_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    spd AS (
        SELECT doc_id, s,
               {h64_sql(f"array_to_string(list_slice(t, s, s + {SPAN_TOKENS} - 1), ' ')")}
               AS span_h
        FROM (
            SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_TOKENS} + 2)) AS s
            FROM toks WHERE len(t) >= {SPAN_TOKENS}
        )
    ),
    dup AS (
        SELECT span_h
        FROM (SELECT span_h, count(DISTINCT doc_id) AS nd FROM spd GROUP BY 1)
        WHERE nd > 1 AND nd <= {STOP_SPAN_DF}
    ),
    starts AS (
        SELECT doc_id, list_sort(list(s)) AS starts
        FROM spd JOIN dup USING (span_h)
        GROUP BY doc_id
    ),
    scrub AS (
        SELECT t.doc_id, t.t,
               COALESCE(st.starts, []) AS starts,
               list_filter(range(1, len(t.t) + 1),
                   i -> len(list_filter(COALESCE(st.starts, []),
                       s -> i >= s AND i < s + {SPAN_TOKENS})) = 0) AS kept
        FROM toks t LEFT JOIN starts st USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           CAST(len(kept) AS DOUBLE) / len(t) AS keep_ratio,
           -- array_to_string([]) is NULL in DuckDB, '' under Spark's
           -- concat_ws: coalesce so a fully-scrubbed doc hashes alike
           md5(COALESCE(
               array_to_string(list_transform(kept, i -> t[i]), ' '), ''))
               AS scrub_md5
    FROM scrub
"""


def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark DECONTAMINATION — :func:`span_scrub` aimed at
    an eval suite instead of the corpus itself: every SPAN_TOKENS-token
    window of a training document that appears verbatim anywhere in the
    benchmark set is deleted (the GPT-3-style n-gram decontamination
    applied as exact-substring removal, vs ``contamination_ngram`` which
    only FLAGS whole documents — this salvages the document by cutting
    the leaked passage).

    Benchmark set: the same deterministic ~5% doc_id slice
    ``contamination_ngram`` uses (``text_pipeline.BENCH_MOD``), standing
    in for an external eval suite. Its distinct span-hash set broadcasts
    (an eval suite is small by construction); training docs semi-join
    their span hashes against it — one shuffle on span_h at most, and
    the corpus text never shuffles (same :func:`_scrub_against_starts`
    machinery, merged-interval coverage). Output covers training docs
    only, including too-short/untouched ones (kept whole).
    """
    from ..functions.text import tokens
    from .text_pipeline import BENCH_MOD

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    )
    bench_pred = F.col("doc_id") % BENCH_MOD == 0
    sets = _span_sets(spark, sf_dir, toks_df=d)
    # the eval suite's hash set from the array form: per-doc
    # array_distinct pre-shrinks the explode feeding the global distinct
    bench = (
        sets.filter(bench_pred)
        .select(F.explode(F.array_distinct("sarr")).alias("span_h"))
        .distinct()
    )
    starts = (
        _span_hashes(sets.filter(~bench_pred))
        .join(F.broadcast(bench), "span_h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("starts"))
    )
    return _scrub_against_starts(d.filter(~bench_pred), starts)


def _decontaminate_sql() -> str:
    from .text_pipeline import BENCH_MOD

    return rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    spd AS (
        SELECT doc_id, s,
               {h64_sql(f"array_to_string(list_slice(t, s, s + {SPAN_TOKENS} - 1), ' ')")}
               AS span_h
        FROM (
            SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_TOKENS} + 2)) AS s
            FROM toks WHERE len(t) >= {SPAN_TOKENS}
        )
    ),
    bench AS (
        SELECT DISTINCT span_h FROM spd WHERE doc_id % {BENCH_MOD} = 0
    ),
    starts AS (
        SELECT doc_id, list_sort(list(s)) AS starts
        FROM spd JOIN bench USING (span_h)
        WHERE doc_id % {BENCH_MOD} <> 0
        GROUP BY doc_id
    ),
    scrub AS (
        SELECT t.doc_id, t.t,
               list_filter(range(1, len(t.t) + 1),
                   i -> len(list_filter(COALESCE(st.starts, []),
                       s -> i >= s AND i < s + {SPAN_TOKENS})) = 0) AS kept
        FROM toks t LEFT JOIN starts st USING (doc_id)
        WHERE t.doc_id % {BENCH_MOD} <> 0
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           CAST(len(kept) AS DOUBLE) / len(t) AS keep_ratio,
           md5(COALESCE(
               array_to_string(list_transform(kept, i -> t[i]), ' '), ''))
               AS scrub_md5
    FROM scrub
"""


DECONTAMINATE_SPANS_SQL = _decontaminate_sql()


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-monitoring slice of exact dedup: per SOURCE, document
    count, distinct content digests, duplicate count, and the duplicate
    rate — the per-feed health metric a crawl pipeline alarms on (a
    feed whose dup rate jumps is re-crawling or looping).

    Within-source semantics: a document is a duplicate if its digest
    already occurs in the SAME source (cross-source duplication is the
    ensemble collapse's business). One digest aggregation per source —
    a single partial-agg shuffle on (source, digest), then a tiny
    per-source rollup; exact integer rate in ppm plus the double.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("digest")
    )
    per = d.groupBy("source", "digest").agg(F.count("*").alias("k"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("k").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_distinct"),
            (F.sum("k") - F.count("*")).cast("long").alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            "n_dups",
            F.expr("n_dups * 1000000 div n_docs").alias("dup_ppm"),
            (F.col("n_dups").cast("double") / F.col("n_docs")).alias("dup_rate"),
        )
    )


DEDUP_RATE_BY_SOURCE_SQL = """
    WITH per AS (
        SELECT source, md5(text) AS digest, count(*) AS k
        FROM documents GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(sum(k) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(k) - count(*) AS BIGINT) AS n_dups,
           CAST(((sum(k) - count(*)) * 1000000) // sum(k) AS BIGINT)
               AS dup_ppm,
           CAST(sum(k) - count(*) AS DOUBLE) / sum(k) AS dup_rate
    FROM per
    GROUP BY source
"""


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over NORMALIZED text — the standard first pass a real
    pipeline runs before the raw-digest one: lowercase, collapse runs of
    whitespace to single spaces, trim, THEN digest. Catches the
    case/spacing variants raw :func:`dedup_exact` treats as distinct
    (mirrored HTML, re-wrapped plaintext, shouting reposts).

    Emits only fingerprints with >1 member plus how many extra dups the
    normalization found beyond the raw digest (``n_extra_vs_raw``), so
    the row doubles as the normalization's value report. Same one-digest
    -shuffle shape as the raw pass; the normalization is pure codegen.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.select(
            "doc_id",
            F.md5(norm).alias("fingerprint"),
            F.md5("text").alias("raw_fp"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            (F.count("*") - F.count_distinct("raw_fp"))
            .cast("long")
            .alias("n_raw_dups"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "fingerprint",
            "canonical_id",
            "n_copies",
            (F.col("n_copies") - 1 - F.col("n_raw_dups"))
            .cast("long")
            .alias("n_extra_vs_raw"),
        )
    )


DEDUP_EXACT_NORMALIZED_SQL = r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies,
           CAST(count(*) - 1
                - (count(*) - count(DISTINCT md5(text))) AS BIGINT)
               AS n_extra_vs_raw
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
"""


def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME contract as :func:`dedup_ngram_jaccard` (exact 3-gram
    Jaccard ≥ 0.8 pairs over the informative-shingle universe — it
    shares that query's oracle) through the OTHER classical candidate
    generator: PPJoin-style PREFIX FILTERING instead of a full
    posting-list join.

    The theorem: order every document's shingles by a global canonical
    order (ascending document frequency, then shingle — rarest first);
    two sets with |A∩B|/|A∪B| ≥ t MUST share at least one shingle
    within each one's first ``n − ⌈t·n⌉ + 1`` shingles. Joining only
    the prefixes enumerates a SUPERSET of the true pairs at a fraction
    of the pair count (t = 0.8 → prefix ≈ n/5 — pair enumeration cost
    drops ~25x vs the full join on uniform lists); an exact
    candidate-restricted intersection count then computes the true
    Jaccard. ⌈4n/5⌉ is exact integer arithmetic ((4n + 4) DIV 5), so
    prefix membership is engine-independent.

    Scale shape: one df shuffle; the per-doc canonical ranking is a
    row-wise ``array_sort`` over each document's OWN (df, shingle)
    pairs (bounded by doc length, never corpus — r19 replaced the two
    window passes this used to cost); prefix self-join on shingle
    (posting lists bounded by the df cap AND cut ~5x by prefixing);
    verify is an exact ``array_intersect`` per candidate pair.
    Completeness vs the full-join algorithm is pinned in tests
    (identical pair sets), and the pruning ratio is measured there —
    the candidate count must be strictly smaller.
    """
    # Set-form pipeline (r19): the global df ranking still needs one
    # shuffle by shingle (a corpus-wide fact), but everything per-doc —
    # the canonical ordering, the prefix cut, the set size, and the
    # verify intersection — is a row-wise array operation once each
    # doc's (df, shingle) pairs are reassembled. Replaced: the TWO
    # window passes (row_number + count over doc_id), the exploded
    # two-sided verify join with its pair-count aggregation, and the
    # separate cardinality aggregate + two join-backs. The reassembly
    # groupBy is the one doc_id shuffle the old window pass already
    # paid; the verify now moves |candidates| array rows instead of
    # |candidates| × |doc shingles| exploded rows.
    # One shingle aggregation serves BOTH the df cut and the df attach
    # (r19): the generic anti-join cut (_informative_shingles) plus a
    # second df aggregation over its output would shuffle the shingle
    # table twice for facts one pass produces — the inner join against
    # the df ≤ cap side keeps exactly the informative rows AND carries
    # their df. (The cut itself is unchanged: df over the raw table, cap
    # STOP_SHINGLE_DF; the anti-join form lives on in the operators that
    # only need membership.)
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(
        eager=False, storageLevel=CKPT_LEVEL
    )
    dfs = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= STOP_SHINGLE_DF)
    )
    inf = (
        sh.join(dfs, "shingle")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("df", "shingle")).alias("pairs"))
        .withColumn("n", F.size("pairs"))
        # canonical order = (df asc, shingle asc): struct ordering is
        # field order, and (df, shingle) is unique within a doc, so the
        # sorted array reproduces the old row_number ranking exactly
        .withColumn(
            "pref",
            F.expr(
                "transform(slice(array_sort(pairs), 1, "
                "n - ((4 * n + 4) DIV 5) + 1), x -> x.shingle)"
            ),
        )
        .withColumn("sarr", F.expr("transform(pairs, x -> x.shingle)"))
        .select("doc_id", "n", "sarr", "pref")
        .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    )
    pref = inf.select("doc_id", "n", F.explode("pref").alias("shingle"))
    pa, pb = pref.alias("pa"), pref.alias("pb")
    # PPJoin's LENGTH filter rides along for free (n is already computed
    # for the prefix bound): J = ix/(na+nb−ix) ≤ min/max since ix ≤ min
    # and the union ≥ max, so J ≥ 4/5 forces 5·min(na,nb) ≥ 4·max(na,nb)
    # — exact integer arithmetic, engine-independent. Measured at sf0.1:
    # candidate pairs 118,826 → 43,543 (2.7×) before the verify joins.
    # NO distinct before the verify (r19): a distinct here exchanges the
    # candidate pairs into a tiny (AQE-coalesced) partition and the
    # whole array-verify then runs single-task behind it — measured
    # 1.3 s of one-core intersects at sf0.1. Verifying at prefix-join
    # width (classic PPJoin verifies during enumeration) re-checks a
    # pair once per shared prefix shingle (bounded by the prefix
    # length) but keeps the intersects on the join's full parallelism;
    # the final distinct collapses the (identical) verified rows of the
    # tiny filtered result instead.
    cand = pa.join(
        pb,
        (F.col("pa.shingle") == F.col("pb.shingle"))
        & (F.col("pa.doc_id") < F.col("pb.doc_id"))
        & (
            F.least(F.col("pa.n"), F.col("pb.n")) * 5
            >= F.greatest(F.col("pa.n"), F.col("pb.n")) * 4
        ),
    ).select(
        F.col("pa.doc_id").alias("doc_a"),
        F.col("pb.doc_id").alias("doc_b"),
    )
    sa = inf.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sarr").alias("sarr_a"),
        F.col("n").alias("na"),
    )
    sb = inf.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sarr").alias("sarr_b"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("ix", F.size(F.array_intersect("sarr_a", "sarr_b")))
        .withColumn(
            "jaccard", F.col("ix") / (F.col("na") + F.col("nb") - F.col("ix"))
        )
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


CONTAINMENT_THRESHOLD = 0.9  # |A ∩ B| / min(|A|, |B|)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment |A∩B| / min(|A|,|B|)
    ≥ 0.9 over informative shingles — the quote/excerpt/superset case
    symmetric Jaccard misses by construction (a 100-token excerpt
    inside a 10,000-token doc has Jaccard ≈ 0.01 but containment 1.0).
    The standard second pass of a production dedup stack (Lee et al.
    run both document-level AND substring-level; containment is the
    document-level face of the substring problem).

    Output: (doc_small, doc_big, containment) where doc_small is the
    side with the smaller informative-shingle set (ties broken by
    doc_id so the pair orientation is deterministic in both engines).

    Scale shape (r19 — smaller-side prefix filtering): candidate pairs
    come from joining the SMALLER side's canonical-order PREFIX against
    the larger side's full posting lists, not the full×full self-join.
    The SSJoin/PPJoin pigeonhole applies to containment too: ``ix ≥
    ⌈0.9·n_small⌉`` forces the pair to share a shingle among the
    smaller set's first ``n − ⌈0.9·n⌉ + 1`` shingles in ANY fixed
    global order (else every shared shingle sits in its last
    ``⌈0.9·n⌉ − 1`` positions — fewer than ix) — so prefix×full
    enumerates a superset of the true pairs at ~1/10 of the pair
    volume. Orientation at enumeration time ((n, doc_id) ordering)
    IS the output's doc_small/doc_big orientation. The exact
    ``array_intersect`` verify runs at join width (a pre-verify
    distinct would serialize it into one AQE-coalesced task — the
    prefix-filter measurement) and the final distinct collapses the
    identical verified duplicates. The division is exact-integer
    cross-multiplied: ix·10 ≥ 9·min(na,nb), so threshold membership is
    bit-identical across engines; completeness vs the full self-join
    enumeration is pinned in tests.
    """
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(
        eager=False, storageLevel=CKPT_LEVEL
    )
    dfs = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= STOP_SHINGLE_DF)
    )
    # ⌈0.9·n⌉ = (9n+9) DIV 10; prefix length L = n − ⌈0.9·n⌉ + 1.
    inf = (
        sh.join(dfs, "shingle")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("df", "shingle")).alias("pairs"))
        .withColumn("n", F.size("pairs"))
        .withColumn(
            "pref",
            F.expr(
                "transform(slice(array_sort(pairs), 1, "
                "n - ((9 * n + 9) DIV 10) + 1), x -> x.shingle)"
            ),
        )
        .withColumn("sarr", F.expr("transform(pairs, x -> x.shingle)"))
        .select("doc_id", "n", "sarr", "pref")
        .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    )
    pa = inf.select(
        F.col("doc_id").alias("doc_small"),
        F.col("n").alias("na"),
        F.explode("pref").alias("sh_a"),
    )
    pb = inf.select(
        F.col("doc_id").alias("doc_big"),
        F.col("n").alias("nb"),
        F.explode("sarr").alias("sh_b"),
    )
    smaller = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_small") < F.col("doc_big"))
    )
    cand = pa.join(
        pb, (F.col("sh_a") == F.col("sh_b")) & smaller
    ).select("doc_small", "doc_big")
    sa = inf.select(
        F.col("doc_id").alias("doc_small"), F.col("sarr").alias("sarr_a")
    )
    sb = inf.select(
        F.col("doc_id").alias("doc_big"), F.col("sarr").alias("sarr_b")
    )
    return (
        cand.join(sa, "doc_small")
        .join(sb, "doc_big")
        .withColumn("ix", F.size(F.array_intersect("sarr_a", "sarr_b")))
        .withColumn("mn", F.least(F.size("sarr_a"), F.size("sarr_b")))
        .filter(F.col("ix") * 10 >= F.col("mn") * 9)
        .select(
            "doc_small",
            "doc_big",
            (F.col("ix").cast("double") / F.col("mn")).alias("containment"),
        )
        .distinct()
    )


DEDUP_CONTAINMENT_SQL = f"""
    {_SHINGLE_SQL},
    shf AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM sh
        ) WHERE df <= {STOP_SHINGLE_DF}
    ),
    card AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT doc_a, doc_b, ix, ca.n AS na, cb.n AS nb,
               least(ca.n, cb.n) AS mn
        FROM inter
        JOIN card ca ON ca.doc_id = doc_a
        JOIN card cb ON cb.doc_id = doc_b
    )
    SELECT CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                THEN doc_a ELSE doc_b END AS doc_small,
           CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                THEN doc_b ELSE doc_a END AS doc_big,
           CAST(ix AS DOUBLE) / mn AS containment
    FROM j WHERE ix * 10 >= mn * 9
"""


def dedup_family_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability over the near-dup graph the collapse acts on: the
    CLUSTER-SIZE HISTOGRAM — how many dup families of each size exist,
    and how many docs each size class deletes. The report that decides
    whether a corpus has a boilerplate problem (many tiny families) or
    a mirror problem (few giant ones) before anything is removed.

    Scale shape: runs the same star-contraction components as the
    collapse (O(log n) rounds over pair edges), then two bounded
    aggregations — per-component size, then per-size counts. Everything
    after the pairs is component-table-sized.
    """
    from .components import connected_components_bigstar

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components_bigstar(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("family_size"))
    return (
        sizes.groupBy("family_size")
        .agg(F.count("*").alias("n_families"))
        .select(
            F.col("family_size").cast("long").alias("family_size"),
            F.col("n_families").cast("long").alias("n_families"),
            (F.col("family_size") * F.col("n_families"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("family_size") - 1) * F.col("n_families"))
            .cast("long")
            .alias("n_would_remove"),
        )
    )


def _family_profile_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({DEDUP_MINHASH_LSH_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u),
    sizes AS (
        SELECT component, count(*) AS family_size FROM labels GROUP BY 1
    )
    SELECT CAST(family_size AS BIGINT) AS family_size,
           CAST(count(*) AS BIGINT) AS n_families,
           CAST(family_size * count(*) AS BIGINT) AS n_docs,
           CAST((family_size - 1) * count(*) AS BIGINT) AS n_would_remove
    FROM sizes GROUP BY family_size
"""


DEDUP_FAMILY_PROFILE_SQL = _family_profile_sql()


# ------------------------------------------------- edit-distance dedup

EDIT_RADIUS = 10  # max levenshtein distance for a near-dup verdict
EDIT_MIN_SHARED = 4  # shared informative shingles to become a candidate


def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact edit distance ≤ EDIT_RADIUS — the
    similarity the shingle/MinHash family approximates when the real
    contract is "differs by at most k character edits" (OCR noise,
    template fills, small revisions).

    Scale shape: levenshtein is O(len²) per pair, so it must NEVER see
    the cross product. Candidates come from the same df-capped
    informative-shingle posting lists as the Jaccard operator (pair
    enumeration O(corpus × STOP_SHINGLE_DF)), thinned by two exact
    lower bounds BEFORE the DP runs: shared-shingle count ≥
    EDIT_MIN_SHARED (a k-edit pair of long docs shares almost all
    shingles) and |len_a − len_b| ≤ EDIT_RADIUS (length difference is
    an edit-distance lower bound). Texts join back to CANDIDATES only;
    the quadratic-cost verify touches O(candidates) rows.

    Output: (doc_a, doc_b, edit_distance), pairs within the radius.
    """
    sh = _informative_shingles(spark, sf_dir).localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
    a = sh.alias("a")
    b = sh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("ix"))
        .filter(F.col("ix") >= EDIT_MIN_SHARED)
    )
    d = load_table(spark, sf_dir, "documents")
    ta = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.length("text").alias("len_a"),
    )
    tb = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.length("text").alias("len_b"),
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(EDIT_RADIUS)
        )
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("text_a"), F.col("text_b")).cast("long"),
        )
        .filter(F.col("edit_distance") <= EDIT_RADIUS)
        .select("doc_a", "doc_b", "edit_distance")
    )


DEDUP_EDITDISTANCE_SQL = f"""
    {_SHINGLE_SQL},
    shf AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM sh
        ) WHERE df <= {STOP_SHINGLE_DF}
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {EDIT_MIN_SHARED}
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
    FROM cand
    JOIN documents ta ON ta.doc_id = doc_a
    JOIN documents tb ON tb.doc_id = doc_b
    WHERE abs(length(ta.text) - length(tb.text)) <= {EDIT_RADIUS}
      AND levenshtein(ta.text, tb.text) <= {EDIT_RADIUS}
"""

# --------------------------------------------------- paragraph-level dedup

# RefinedWeb / MassiveText-style exact paragraph deduplication: the
# granularity between whole-document digests (dedup_exact) and stride-1
# span hashes (duplicated_spans). Paragraphs are blank-line-delimited
# (\n{2,}), trimmed, empty segments dropped.
_PARA_SPLIT_JAVA = r"\n{2,}"  # Java regex (Spark split)
_PARA_SPLIT_RE2 = r"\n{2,}"  # RE2 (DuckDB string_split_regex) — same text


def _paragraph_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, idx, para, digest): one row per non-empty trimmed
    paragraph, idx = 0-based position within the document. Pure codegen
    split/explode — the corpus is scanned once and never re-shuffled by
    the split itself."""
    d = load_table(spark, sf_dir, "documents")
    paras = F.expr(
        f"filter(transform(split(text, '{_PARA_SPLIT_JAVA}'), p -> trim(p)),"
        " p -> length(p) > 0)"
    )
    return (
        d.select("doc_id", F.posexplode(paras).alias("idx", "para"))
        .withColumn("digest", h64("para"))
    )


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document paragraph-duplication report (RefinedWeb-style exact
    paragraph dedup, the reporting half).

    A paragraph INSTANCE is duplicated when its trimmed text occurs more
    than once corpus-wide; the canonical instance is the lexicographic
    min (doc_id, idx) holder and is the one a scrub keeps. Skew-safe by
    construction: duplicate counting and canonical selection are BOTH
    partial-aggregable (``count`` + ``min(struct(doc_id, idx))`` over
    digest) — a billion-copy boilerplate paragraph combines map-side
    instead of sorting one hot window partition (the row_number
    formulation this replaces cannot partial-agg). Two shuffles total:
    digest agg + join back, then the per-doc rollup.

    Scale: corpus-linear; the digest dictionary is the only state.
    Reference scope: extension surface (LLM-corpus dedup pillar).
    """
    p = _paragraph_frame(spark, sf_dir)
    g = p.groupBy("digest").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "idx")).alias("first"),
    )
    j = p.join(g, "digest")
    dup = F.col("cnt") > 1
    removed = dup & ~(
        (F.col("first.doc_id") == F.col("doc_id"))
        & (F.col("first.idx") == F.col("idx"))
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(dup.cast("long")).alias("n_dup_paras"),
            F.sum(removed.cast("long")).alias("n_removable"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            "n_removable",
            F.expr("n_dup_paras * 1000000 DIV n_paras").alias("dup_ppm"),
        )
    )


DEDUP_PARAGRAPHS_SQL = rf"""
    WITH p AS (
        SELECT doc_id,
               unnest(paras) AS para,
               CAST(unnest(range(len(paras))) AS BIGINT) AS idx
        FROM (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           string_split_regex(text, '{_PARA_SPLIT_RE2}'),
                           p -> trim(p)),
                       p -> length(p) > 0) AS paras
            FROM documents
        )
    ),
    ph AS (
        SELECT doc_id, idx, {h64_sql("para")} AS digest FROM p
    ),
    g AS (
        SELECT digest, count(*) AS cnt,
               min(ROW(doc_id, idx)) AS first
        FROM ph GROUP BY digest
    ),
    j AS (
        SELECT ph.doc_id, ph.idx, g.cnt,
               (g.cnt > 1) AS dup,
               (g.cnt > 1 AND NOT (g.first = ROW(ph.doc_id, ph.idx)))
                   AS removed
        FROM ph JOIN g USING (digest)
    )
    SELECT doc_id,
           count(*) AS n_paras,
           CAST(COALESCE(sum(CASE WHEN dup THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_dup_paras,
           CAST(COALESCE(sum(CASE WHEN removed THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_removable,
           CAST((COALESCE(sum(CASE WHEN dup THEN 1 ELSE 0 END), 0) * 1000000)
               // count(*) AS BIGINT) AS dup_ppm
    FROM j GROUP BY doc_id
"""


def paragraph_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of paragraph-level dedup: drop every duplicated
    paragraph instance except its canonical (min (doc_id, idx)) copy and
    re-assemble the document with a blank-line joiner. Emitted as
    (counts + portable hash of the scrubbed text) so the result exchange
    stays scalar — the production variant writes the text column.

    Same skew-safe partial-agg/join shape as :func:`dedup_paragraphs`;
    re-assembly is one per-doc aggregation whose collect_list is bounded
    by document length, made deterministic by sorting on idx BEFORE
    extraction (collect_list order is otherwise partition-dependent).
    Whitespace at paragraph boundaries is normalized by construction
    (trimmed paragraphs, exactly one blank line between survivors).
    """
    p = _paragraph_frame(spark, sf_dir)
    g = p.groupBy("digest").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "idx")).alias("first"),
    )
    j = p.join(g, "digest")
    keep = (F.col("cnt") == 1) | (
        (F.col("first.doc_id") == F.col("doc_id"))
        & (F.col("first.idx") == F.col("idx"))
    )
    agg = j.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("idx", "para", keep.alias("keep")))
        ).alias("parts")
    )
    clean = F.array_join(
        F.expr("transform(filter(parts, x -> x.keep), x -> x.para)"),
        "\n\n",
    )
    return agg.select(
        "doc_id",
        F.expr("size(filter(parts, x -> x.keep))").cast("long").alias("n_kept"),
        F.expr("size(filter(parts, x -> NOT x.keep))")
        .cast("long")
        .alias("n_removed"),
        F.length(clean).cast("long").alias("clean_chars"),
        h64(clean).alias("clean_h64"),
    )


PARAGRAPH_SCRUB_SQL = rf"""
    WITH p AS (
        SELECT doc_id,
               unnest(paras) AS para,
               CAST(unnest(range(len(paras))) AS BIGINT) AS idx
        FROM (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           string_split_regex(text, '{_PARA_SPLIT_RE2}'),
                           p -> trim(p)),
                       p -> length(p) > 0) AS paras
            FROM documents
        )
    ),
    ph AS (
        SELECT doc_id, idx, para, {h64_sql("para")} AS digest FROM p
    ),
    g AS (
        SELECT digest, count(*) AS cnt,
               min(ROW(doc_id, idx)) AS first
        FROM ph GROUP BY digest
    ),
    j AS (
        SELECT ph.doc_id, ph.idx, ph.para,
               (g.cnt = 1 OR g.first = ROW(ph.doc_id, ph.idx)) AS keep
        FROM ph JOIN g USING (digest)
    ),
    asm AS (
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN keep THEN para END,
                                   chr(10) || chr(10) ORDER BY idx),
                        '') AS clean,
               COALESCE(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS n_kept,
               COALESCE(sum(CASE WHEN keep THEN 0 ELSE 1 END), 0)
                   AS n_removed
        FROM j GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           {h64_sql("clean")} AS clean_h64
    FROM asm
"""
