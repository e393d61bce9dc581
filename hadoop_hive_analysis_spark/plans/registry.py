"""Query registry — single source of truth for the driver contract.

Every implemented operator surfaces here as a named query with (a) a
DataFrame callable ``(spark, sf_dir) -> DataFrame`` and (b) where SQL-
expressible, an oracle SQL string DuckDB runs on the same parquet tables.
``__spark_entry__.py`` is a thin re-export of this module.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from . import testdata_queries as tq

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    survey_ids: str  # SURVEY.md §2 operator IDs this query covers
    bench: bool = True  # include in bench.py's headline pack
    driver: bool = False  # exposed via __spark_entry__; set from DRIVER_WINDOW


def _build() -> dict[str, QuerySpec]:
    q: dict[str, QuerySpec] = {}

    # --- Reference parity pack (DataFrame form) ---
    q["q1a_top_suppliers_by_revenue"] = QuerySpec(
        tq.q1a_top_suppliers_by_revenue,
        tq.SQL["q1a_top_suppliers_by_revenue"],
        "S1 P1 P5 P6 P8 A1 A3 T1 T2 T4 F2",
    )
    q["q1b_top_parts_by_quantity"] = QuerySpec(
        tq.q1b_top_parts_by_quantity,
        tq.SQL["q1b_top_parts_by_quantity"],
        "S1 P2 P5 P6 A2 A3 T1 T2 T4",
    )
    q["q1c_top_dates_by_revenue"] = QuerySpec(
        tq.q1c_top_dates_by_revenue,
        tq.SQL["q1c_top_dates_by_revenue"],
        "S1 P3 P5 P6 A1 A3 T1 T2",
    )
    q["q2_supplier_revenue_rightouter"] = QuerySpec(
        tq.q2_supplier_revenue_rightouter,
        tq.SQL["q2_supplier_revenue_rightouter"],
        "S1 S2 S3 P4 P5 P6 A1 J1 F1 T3",
    )

    # S7 DDL twin: CREATE TABLE ... USING parquet LOCATION, then the q1a
    # text against the catalog-qualified table.
    q["q1a_via_ddl_catalog"] = QuerySpec(
        tq.q1a_via_ddl_catalog,
        tq.SQL["q1a_top_suppliers_by_revenue"],
        "S7 (DDL external-table catalog)",
        bench=False,
    )

    # --- Extension packs (registered by their modules; oracle-checked
    # queries lead, rows-only checks trail, dedup/text pack first) ---
    from . import extensions

    q.update(extensions.build())

    # --- SQL duals: same SQL text through Spark SQL (entry point 2) ---
    for name in list(tq.SQL):
        q[f"{name}_sql"] = QuerySpec(
            tq.make_sql_runner(name),
            tq.SQL[name],
            "S7 + dual of " + name,
            bench=False,
        )
    return q


# The driver scores a hard 50-slot window of the registry; everything
# else stays pytest-parity (tests/test_oracle_parity.py checks every
# oracle-backed entry on each run). A rotation is a diff of DRIVER_WINDOW,
# computed and checked by swap(); scripts/rotation_plan.py --plan reports
# the physical shapes a staged swap keeps, gains and loses. A trailing
# comment names what an entry alone carries in the window (its
# rotation_plan.py signature at sf0.001, or its oracle contract).
DRIVER_SLOT_CAP = 50

DRIVER_WINDOW: tuple[str, ...] = (
    "q1a_top_suppliers_by_revenue",
    "q1c_top_dates_by_revenue",
    "dedup_minhash_lsh",
    "span_scrub",
    "dedup_exact_normalized",
    "dedup_rate_by_source",
    "dedup_family_profile",
    "dedup_cluster_quality",
    "dedup_embedding_lsh",  # FlatMapGroupsInPandas
    "dedup_collapse",
    "dedup_clusters_bigstar",  # connected-components oracle
    "dedup_semantic_guardrail",
    "corpus_clean",
    "doc_token_rarity",
    "corpus_collocations",
    "doc_bigram_lm_score",
    "doc_ngram_novelty",
    "corpus_dedup_saturation",
    "doc_tfidf_cosine_pairs",
    "corpus_snapshot_diff",
    "cube_orders",
    "setop_nations",
    "grouped_stats_orders",
    "daily_distinct_users_hll",
    "doc_hybrid_search_rrf",
    "corpus_budget_select",
    "source_token_drift",
    "warc_corpus_roundtrip",  # harness:warc
    "embedding_kmeans_quality",  # harness:embedding (k-means fit)
    "ann_sq8_recall",
    "ann_ivfpq_recall",  # harness:ann
    "events_asof_join",
    "events_churn_report",
    "events_freshness_report",
    "events_expectations_report",
    "events_daily_trend",
    "events_merge_upsert",  # SortAggregate
    "events_campaign_range_join",
    "events_stream_join_replay",
    "events_stream_left_join_replay",
    "documents_neardup_replay",  # harness:documents
    "events_session_replay",
    "multimodal_frame_sample",
    "window_rank_orders_sql",
    "cube_orders_sql",
    "semi_join_customers_sql",
    "anti_join_customers_sql",
    "setop_nations_sql",
    "grouped_stats_orders_sql",
    "q2_supplier_revenue_rightouter_sql",  # join:RightOuter
)


def _repeated(names) -> list[str]:
    names = list(names)
    return sorted({n for n in names if names.count(n) > 1})


QUERIES: dict[str, QuerySpec] = {
    name: replace(spec, driver=name in DRIVER_WINDOW)
    for name, spec in _build().items()
}
# not `assert` — python -O would strip it
_unknown = sorted(set(DRIVER_WINDOW) - set(QUERIES))
if (
    _unknown
    or _repeated(DRIVER_WINDOW)
    or len(DRIVER_WINDOW) != DRIVER_SLOT_CAP
):
    raise RuntimeError(
        f"DRIVER_WINDOW must name {DRIVER_SLOT_CAP} distinct registry "
        f"entries: {len(DRIVER_WINDOW)} given, unknown {_unknown}, "
        f"repeated {_repeated(DRIVER_WINDOW)}"
    )


def swap(window: tuple[str, ...], promote, demote) -> tuple[str, ...]:
    """Return ``window`` with ``demote`` rested and ``promote`` scored, in
    registry order. Raises ValueError when a name is unknown or repeated,
    sits on both sides, a promote is already scored, a demote is already
    rested, or the two sides differ in size (the window must stay at
    DRIVER_SLOT_CAP)."""
    promote, demote = list(promote), list(demote)
    errs = []
    unknown = sorted(set(promote + demote) - set(QUERIES))
    if unknown:
        errs.append(f"unknown entries: {unknown}")
    dup = _repeated(promote) + _repeated(demote)
    if dup:
        errs.append(f"duplicate entries: {dup}")
    overlap = sorted(set(promote) & set(demote))
    if overlap:
        errs.append(f"both promoted and demoted: {overlap}")
    scored = sorted(set(promote) & set(window))
    if scored:
        errs.append(f"promotes already scored: {scored}")
    rested = sorted(set(demote) - set(window) - set(unknown))
    if rested:
        errs.append(f"demotes already rested: {rested}")
    if len(promote) != len(demote):
        errs.append(
            f"unbalanced: {len(promote)} promotes vs {len(demote)} demotes"
        )
    if errs:
        raise ValueError("invalid swap: " + "; ".join(errs))
    new = (set(window) - set(demote)) | set(promote)
    return tuple(n for n in QUERIES if n in new)


def query_map() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERIES.items() if spec.driver}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle and spec.driver
    }
