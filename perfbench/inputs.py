"""Seeded, untimed input preparation with the package's public generators.

A cached input set lives under ``perfbench/_cache/<workload>-<size>-s<seed>``
and is written to a temporary name first, so a run that dies mid-write never
leaves a half-built input behind for the next run to reuse.
"""

from __future__ import annotations

import os
import shutil

from harness import CACHE_DIR


def cached(key: str, build) -> str:
    """Return the cache directory for ``key``, calling ``build(tmp_dir)``
    first when it does not exist yet."""
    final = os.path.join(CACHE_DIR, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def clips_scan_tables(spark, rows: int, ops_rows: int,
                      seed: int) -> tuple[str, str]:
    """Two ``clips_df_fast`` tables (no audio payload) as zstd parquet, of
    ``rows`` and ``ops_rows`` rows."""
    from json_skema_spark.sources import clips as clips_src

    def build(d: str) -> None:
        for name, n in (("clips", rows), ("ops", ops_rows)):
            clips_src.clips_df_fast(spark, n, inject=True, seed=seed,
                                    partitions=spark.sparkContext.defaultParallelism * 2) \
                .write.option("compression", "zstd").parquet(os.path.join(d, name))

    d = cached(f"verdict_scan-{rows}-{ops_rows}-s{seed}", build)
    return os.path.join(d, "clips"), os.path.join(d, "ops")


def clips_pipeline_inputs(spark, clips: int, seed: int,
                          d: str) -> dict[str, str]:
    """Audio clips, their transcript reference, and a baseline profile
    built from an independent ``seed + 1`` table of the same size (made
    by the codegen generator, which needs no Python workers), written under
    ``d``. Not cached: see ``ClipsPipeline``."""
    from json_skema_spark.sources import clips as clips_src
    from json_skema_spark.operators import stats

    parts = spark.sparkContext.defaultParallelism
    clips_src.clips_df(spark, clips, audio=True, inject=True, seed=seed,
                       partitions=parts) \
        .write.option("compression", "zstd").parquet(os.path.join(d, "clips"))
    clips_src.transcripts_ref_df(spark, clips, seed=seed, partitions=parts) \
        .write.parquet(os.path.join(d, "ref"))
    base = clips_src.clips_df_fast(spark, clips, inject=True, seed=seed + 1,
                                   partitions=parts)
    stats.profile(base.drop("bytes")).write.parquet(os.path.join(d, "baseline"))
    return {k: os.path.join(d, k) for k in ("clips", "ref", "baseline")}
