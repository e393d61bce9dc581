"""The benchmark's workloads: seeded inputs, the steps of one pass, and the
output checks. Every step is a call into the engine's public functions
(``plans.*`` query builders, ``sources.*`` readers and sinks, registry
``QuerySpec.fn``) followed by a Spark sink.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

import fixtures
import textgen

# driver_pack: registry entries pinned by name, one per engine module the
# driver scores (the comment names it), each the module's cheapest entry
# except where a ROADMAP job-count target (dedup_collapse,
# doc_hybrid_search_rrf) stands for it, so one pass fits the run's time
# budget. A name that leaves the registry's driver-scored bench pack
# stops the benchmark.
DRIVER_PACK = (
    "q1a_top_suppliers_by_revenue",  # plans.testdata_queries
    "dedup_rate_by_source",  # operators.dedup
    "dedup_collapse",  # operators.components
    "dedup_embedding_lsh",  # operators.similarity
    "corpus_dedup_saturation",  # operators.text_analysis
    "corpus_snapshot_diff",  # operators.text_pipeline
    "doc_hybrid_search_rrf",  # operators.retrieval
    "ann_sq8_recall",  # operators.vectors
    "daily_distinct_users_hll",  # operators.sketches
    "events_churn_report",  # operators.events
    "multimodal_frame_sample",  # operators.multimodal
    "events_session_replay",  # streaming.events
    "corpus_clean",  # plans.pipeline
    "cube_orders",  # plans.relational_ext
)
ENGINE = "hadoop_hive_analysis_spark."


@dataclass
class Step:
    """One engine call and its sink. ``sink`` is ``collect``, ``noop`` or
    ``parquet`` (``sources.sinks.write_parquet`` to ``out``); ``check``
    raises on a wrong collected result."""

    name: str
    module: str
    build: Callable
    sink: str
    out: str | None = None
    check: Callable | None = None


class Workload:
    """Inputs for one seed, written under ``data_dir``; the steps of a pass
    and the output check. ``cache_dir`` outlives the run. The untimed
    warm-up before the timed passes runs the first ``warmup_steps`` steps
    of a pass (None: all of them)."""

    warmup_steps: int | None = None

    def __init__(self, data_dir: str, seed: int, cache_dir: str):
        raise NotImplementedError

    def steps(self, spark) -> list[Step]:
        raise NotImplementedError

    def check(self, step: Step, df, rows: list | None) -> None:
        """Raise unless ``rows`` (the collected result, None for a write)
        is the right answer. Runs outside the timed window."""
        if rows is not None:
            step.check(rows)

    def scan_step(self, spark) -> Step | None:
        """A scan-only call for the traced run, or None."""
        return None


def _expect(expected: list[tuple]) -> Callable:
    def check(rows) -> None:
        got = textgen.canon(tuple(r) for r in rows)
        if got != expected:
            raise AssertionError(f"result {got[:3]}… != oracle {expected[:3]}…")

    return check


def _reference_steps(sales_df, store_df, answers, prefix: str) -> list[Step]:
    from hadoop_hive_analysis_spark.plans import reference_queries as rq

    lo, hi, k = textgen.DATE_LO, textgen.DATE_HI, textgen.K
    builds = {
        "q1a": lambda: rq.q1a_top_stores_by_profit(sales_df(), k, lo, hi),
        "q1b": lambda: rq.q1b_top_items_by_quantity(sales_df(), k, lo, hi),
        "q1c": lambda: rq.q1c_top_dates_by_profit(sales_df(), k, lo, hi),
        "q2": lambda: rq.q2_store_profit_employees(sales_df(), store_df(), k, lo, hi),
    }
    return [
        Step(f"{prefix}_{q}", "plans.reference_queries", b, "collect",
             check=_expect(answers[q]))
        for q, b in builds.items()
    ]


class NativeTextEtl(Workload):
    """The reference Q1a/Q1b/Q1c/Q2 over pipe text parsed by ``sources.csv``
    on every query, then the same text written to parquet by
    ``sources.sinks.write_parquet`` and the four queries over that parquet."""

    def __init__(self, data_dir: str, seed: int, cache_dir: str):
        self.sales, self.store = textgen.write_store_text(data_dir, seed)
        self.answers = textgen.oracle_answers(self.sales, self.store)
        self.pq_sales = os.path.join(data_dir, "store_sales.parquet")
        self.pq_store = os.path.join(data_dir, "store.parquet")
        self._parquet_oracle_checked = False

    def steps(self, spark) -> list[Step]:
        from hadoop_hive_analysis_spark.sources.csv import read_store, read_store_sales

        def text_sales():
            return read_store_sales(spark, self.sales)

        def text_store():
            return read_store(spark, self.store)

        return [
            *_reference_steps(text_sales, text_store, self.answers, "text"),
            Step("etl_store_sales", "sources.csv", text_sales, "parquet", self.pq_sales),
            Step("etl_store", "sources.csv", text_store, "parquet", self.pq_store),
            *_reference_steps(
                lambda: spark.read.parquet(self.pq_sales),
                lambda: spark.read.parquet(self.pq_store),
                self.answers,
                "parquet",
            ),
        ]

    def check(self, step: Step, df, rows: list | None) -> None:
        if step.name.startswith("parquet_") and not self._parquet_oracle_checked:
            # the written parquet must answer like the text it came from
            if parquet_oracle_answers(self.pq_sales, self.pq_store) != self.answers:
                raise AssertionError("parquet oracle answers differ from the text's")
            self._parquet_oracle_checked = True
        super().check(step, df, rows)

    def scan_step(self, spark) -> Step:
        from hadoop_hive_analysis_spark.sources.csv import read_store_sales

        return Step("csv_scan", "sources.csv",
                    lambda: read_store_sales(spark, self.sales), "noop")


def parquet_oracle_answers(sales: str, store: str) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW store_sales AS SELECT * FROM read_parquet('{sales}/*.parquet')")
        con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet('{store}/*.parquet')")
        return {
            q: textgen.canon(con.execute(sql).fetchall())
            for q, sql in textgen.ORACLE_SQL.items()
        }
    finally:
        con.close()


class DriverPack(Workload):
    """Pinned registry queries on the generated sf0.1-shaped tables, each
    ``QuerySpec.fn`` collected and checked against the registry's DuckDB
    oracle with ``tests/oracle.py``'s canonical rows.

    The warm-up is the pack's first query only, which loads and compiles
    the session's common path. The timed pass then runs that query again
    and every other query for the first time in the session, as an
    external driver with its own session runs them. A whole warm-up pass
    would double the run.
    """

    warmup_steps = 1

    def __init__(self, data_dir: str, seed: int, cache_dir: str):
        from hadoop_hive_analysis_spark.plans.registry import QUERIES

        gone = [
            n for n in DRIVER_PACK
            if n not in QUERIES or not (QUERIES[n].driver and QUERIES[n].bench)
            or not QUERIES[n].oracle
        ]
        if gone:
            raise RuntimeError(
                f"driver_pack: pinned queries {gone} are no longer oracle-checked "
                "driver=True, bench=True registry entries; re-pin the workload"
            )
        self.specs = {n: QUERIES[n] for n in DRIVER_PACK}
        self.sf_dir = fixtures.write_fixtures(data_dir, seed)
        self.cache_dir = cache_dir

    def steps(self, spark) -> list[Step]:
        return [
            Step(n, s.fn.__module__.removeprefix(ENGINE),
                 (lambda fn=s.fn: fn(spark, self.sf_dir)), "collect")
            for n, s in self.specs.items()
        ]

    def _oracle(self, name: str) -> dict:
        """Oracle columns and canonical rows, cached by ``oracle_key``."""
        from tests.oracle import canon_rows, run_oracle

        sql = self.specs[name].oracle
        path = os.path.join(self.cache_dir, fixtures.oracle_key(sql) + ".json")
        if not os.path.exists(path):
            cols, rows = run_oracle(sql, self.sf_dir)
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({"cols": sorted(cols), "rows": canon_rows(cols, rows)}, f)
            os.replace(tmp, path)
        with open(path) as f:
            return json.load(f)

    def check(self, step: Step, df, rows: list | None) -> None:
        from tests.oracle import canon_rows, lint_spark_schema

        lint_spark_schema(df)
        want = self._oracle(step.name)
        if sorted(df.columns) != want["cols"]:
            raise AssertionError(f"columns {sorted(df.columns)} != oracle {want['cols']}")
        got = json.loads(json.dumps(canon_rows(df.columns, rows)))
        if got != want["rows"]:
            raise AssertionError(f"{len(got)} rows differ from the oracle's {len(want['rows'])}")


WORKLOADS: dict[str, type[Workload]] = {
    "native_text_etl": NativeTextEtl,
    "driver_pack": DriverPack,
}
