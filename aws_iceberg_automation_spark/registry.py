"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers one named query
(a ``(spark, sf_dir) -> DataFrame`` callable) and, when SQL-expressible,
a matching DuckDB oracle SQL string. ``__spark_entry__.py`` exposes this
registry to the verification driver.

Engine/oracle agreement conventions (see SURVEY.md §4.3 watch-list and
functions/compat.py for the full rationale):

- Alias every computed/aggregate column identically on both sides.
- **Decimal inside, string out**: sum money/rates through DECIMAL casts
  (exact, order-independent), then surface the final column as STRING
  (``CAST(dec AS STRING)`` / ``AS VARCHAR``). The driver canonicalizes
  via pandas where DuckDB decimals degrade to float64 but Spark's stay
  ``decimal.Decimal`` — never hash-equal; and DuckDB's decimal→DOUBLE
  cast is not correctly rounded, so double surfaces drift by ulps.
  Digit strings are identical in both engines (round-1 lesson).
- **No ARRAY/MAP/STRUCT in final schemas**: the driver's pandas
  canonicalizer dies on unhashable cells. ``array_join``/``to_json``
  the final projection on both sides; keep structured types internal.
- ``CAST(SUM(int) AS BIGINT)`` in oracle SQL (DuckDB sums ints to
  HUGEINT, which pandas/hashers mangle).
- Truncate ``events.ts`` to seconds on both sides (ns vs µs physical).
- Round genuinely order-dependent float aggregates (stddev/corr/...)
  to 4-6 decimals on both sides.
- Match int *kinds* too: pandas int64 vs float64 never hash-equal.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_OPERATOR_MODULES = [
    "aws_iceberg_automation_spark.operators.relational",
    "aws_iceberg_automation_spark.operators.joins",
    "aws_iceberg_automation_spark.operators.aggregates",
    "aws_iceberg_automation_spark.operators.windows",
    "aws_iceberg_automation_spark.operators.sorts",
    "aws_iceberg_automation_spark.operators.setops",
    "aws_iceberg_automation_spark.operators.scalars",
    "aws_iceberg_automation_spark.operators.analytics",
    "aws_iceberg_automation_spark.operators.behavioral",
    "aws_iceberg_automation_spark.operators.timeseries",
    "aws_iceberg_automation_spark.operators.events",
    "aws_iceberg_automation_spark.operators.dedup",
    "aws_iceberg_automation_spark.operators.similarity",
    "aws_iceberg_automation_spark.operators.text",
    "aws_iceberg_automation_spark.operators.multimodal",
    "aws_iceberg_automation_spark.operators.udfs",
    "aws_iceberg_automation_spark.operators.curation",
    "aws_iceberg_automation_spark.operators.dq",
    "aws_iceberg_automation_spark.operators.graph",
    "aws_iceberg_automation_spark.operators.lakehouse",
    "aws_iceberg_automation_spark.operators.ddl",
    "aws_iceberg_automation_spark.streaming.queries",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    tags: tuple[str, ...]


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False

# The external driver verifies the FIRST 50 specs in queries() order and
# stops (its per-round verification budget). Registration order is
# therefore attestation budget. Round-11 rotation (VERDICT r10 ask #1):
# every oracle-backed query now has a green hash row from SOME round,
# so the budget moves from never-proven queries to RE-ATTESTATION of
# paths whose implementation was REWRITTEN after their last green row —
# post-rewrite correctness otherwise rests only on pytest. The window:
# the 6 r10-rewritten bench paths, the 9 ranking-decomposition and 6
# LSH/MinHash consumers that inherited those rewrites, the 19 streaming
# replay queries (touched by this round's replay-overhead work), and
# the remaining bench-tagged paths (q172 is rows-only and can never
# earn a hash row — its portable twin q172b carries that slot).
# The last two slots re-attest q303 and q50b, which have had no green
# hash row since their rewrite. Rows-only specs NEVER occupy a top-50 slot.
_DRIVER_PRIORITY = [
    "q208_rfm_segments",
    "q82_minhash_lsh_neardup",
    "q171_span_dedup_clean",
    "q01_pricing_summary",
    "q38_hash_agg_groupby",
    "q83_cosine_topk_exact",
    "q156_equidepth_histogram",
    "q188_decile_lift",
    "q189_ks_statistic",
    "q190_auc_roc",
    "q209_pareto_abc",
    "q210_segment_gini",
    "q213_ship_delay_survival",
    "q214_order_backlog",
    "q279_weighted_pps_sample",
    "q167_neardup_clusters",
    "q268_minhash_estimator_audit",
    "q288_snapshot_incremental_neardup",
    "q321_lsh_band_tradeoff",
    "q330_bucketed_incremental_neardup",
    "q131_incremental_neardup",
    "q72_stream_tumbling_replay",
    "q74b_stream_sliding_replay",
    "q75c_stream_session_replay",
    "q76_stream_dedup_replay",
    "q77_stream_stateful_totals",
    "q122_stream_stream_join",
    "q146_stream_stream_left_outer",
    "q180_stream_sequence_pattern",
    "q194_stream_countmin_replay",
    "q256_stream_drift_monitor",
    "q263_stream_static_replay",
    "q264_stream_stream_full_outer",
    "q266_cdc_upsert_replay",
    "q272_stream_lakehouse_rollup",
    "q290_stream_session_rollup",
    "q324_stream_bitmask_profile",
    "q333_stream_reorder_sessions",
    "q395_stream_ohlc_replay",
    "q412_stream_cdc_netting_replay",
    "q284_bucketed_join",
    "q93_forecast_revenue_change",
    "q73_tumbling_window",
    "q92_shipping_priority",
    "q85b_top_terms",
    "q172b_pq_adc_topk_portable",
    "q94_returned_item_ranking",
    "q50_ranking_functions",
    "q303_zorder_locality",
    "q50b_scalable_ranking",
]


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn`` as the named driver query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags))
        return fn

    return deco


def load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Tolerate not-yet-built operator modules during incremental
            # rounds, but never mask real import errors inside a module.
            if e.name != mod:
                raise
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    """Registry in driver-verification order: _DRIVER_PRIORITY names
    first, everything else in registration order after them."""
    load_all()
    prio = [n for n in _DRIVER_PRIORITY if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in set(prio)]
    return {n: _REGISTRY[n] for n in [*prio, *rest]}


def queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in all_specs().items() if s.oracle is not None}
