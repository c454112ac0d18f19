"""Streaming validation: the compiled constraint plan applied to unbounded
input.

The reference is strictly batch/one-document (SURVEY.md §2.g: "Streaming:
out of scope" for the north rule, which wants batch + manifest resume), but
the engine's predicates are stateless per-row Column expressions, so they
apply to a ``readStream`` DataFrame unchanged — this module is the thin
wiring plus a windowed violation-rate aggregation with watermarked late-data
handling for monitoring pipelines.

Scale notes: per-row verdicts add no state; the only stateful operator is
the windowed count, whose state is bounded by (window x keyword) cardinality.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_skema_spark.plans.compile import Compiler
from json_skema_spark.plans.verdict import ValidationPlan
from json_skema_spark.operators.util import quoted_col


def validate_stream(stream_df: DataFrame, schema_doc: Any,
                    **compiler_kwargs) -> DataFrame:
    """Attach ``passed`` + ``failures`` to a streaming DataFrame."""
    plan = ValidationPlan(Compiler(schema_doc, **compiler_kwargs),
                          stream_df.schema)
    return plan.apply(stream_df)


def violations_stream(stream_df: DataFrame, schema_doc: Any, row_key: str,
                      **compiler_kwargs) -> DataFrame:
    """Exploded violation rows from a stream (append-mode friendly:
    stateless select/filter/explode only)."""
    plan = ValidationPlan(Compiler(schema_doc, **compiler_kwargs),
                          stream_df.schema)
    return plan.violations(stream_df, row_key)


def violation_rate(stream_df: DataFrame, schema_doc: Any, ts_col: str,
                   window: str = "1 minute", watermark: str = "2 minutes",
                   **compiler_kwargs) -> DataFrame:
    """Watermarked per-window violation counts by keyword — the streaming
    analogue of ``ValidationPlan.summary``.

    Mirrors ``summary()``'s two cost rules (review r05): filter on the
    boolean verdict BEFORE building any failure array (passing rows never
    pay for array construction), and lower failures without messages —
    the count only reads ``f.keyword``, and the full-message format_string
    chain made the identical batch aggregation 36x slower at sf10."""
    plan = ValidationPlan(Compiler(schema_doc, **compiler_kwargs),
                          stream_df.schema)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .filter(~plan.passed)
        # quoted_col: a dotted top-level ts column must resolve literally,
        # not as struct access (review r05c). The post-select reference
        # quotes again — the selected column KEEPS the dotted name.
        .select(quoted_col(ts_col),
                F.explode(plan.compiled.failures(False)).alias("f"))
        .groupBy(F.window(quoted_col(ts_col), window).alias("w"),
                 F.col("f.keyword").alias("keyword"))
        .agg(F.count("*").alias("n_violations"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "keyword", "n_violations")
    )
