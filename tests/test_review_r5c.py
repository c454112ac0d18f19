"""Regressions for the round-5 session-3 review pass (review r05c):
streaming drift anchor/naming/guards, dedup-stream column collision,
zero-row annotation counts, and the lazy full-message compile."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from json_skema_spark.operators.stats import profile
from json_skema_spark.streaming.drift_stream import (baseline_map,
                                                     windowed_drift)


def _drain(out, ckpt):
    got = []
    q = (out.writeStream.outputMode("append")
         .foreachBatch(lambda b, _i: got.extend(b.collect()))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return got


def test_nullable_high_cardinality_column_does_not_alarm(spark, tmp_path):
    """distinct-ratio anchor must use the NON-NULL count: a healthy
    nullable id column (60% null, one distinct value per non-null row)
    previously alarmed forever because the anchor was total window rows
    (review r05c finding 1)."""
    base_df = spark.createDataFrame(
        [(datetime(2026, 1, 1), None if i % 5 < 3 else f"id{i}")
         for i in range(1000)], "ts timestamp, uid string")
    baseline = baseline_map(profile(base_df, ["uid"]))
    assert baseline["uid"]["approx_distinct"] > 300

    src = str(tmp_path / "in")
    rows = [(datetime(2026, 1, 1, 12, 0, s % 60),
             None if s % 5 < 3 else f"w{s}") for s in range(40)]
    rows.append((datetime(2026, 1, 1, 12, 5), "x"))
    spark.createDataFrame(rows, "ts timestamp, uid string").write.parquet(src)

    out = windowed_drift(
        spark.readStream.schema("ts timestamp, uid string").parquet(src),
        baseline, "ts", window="1 minute", watermark="1 minute")
    w0 = {r.column_name: r for r in _drain(out, str(tmp_path / "ck"))
          if r.window_start.minute == 0}
    # 16 distinct non-null uids over 16 non-null rows: ratio ~1.0. The old
    # anchor min(400, 40 rows) gave 0.4 < 0.5 -> permanent false alarm.
    assert w0["uid"].distinct_ratio > 0.8
    assert not w0["uid"].distinct_drift
    assert not w0["uid"].null_drift  # same 60% null fraction as baseline


def test_windowed_drift_dotted_column_name(spark, tmp_path):
    """profile() supports a top-level column literally named 'a.b'
    (quoted_col); the streaming monitor must too (review r05c finding 2)."""
    src = str(tmp_path / "in")
    rows = [(datetime(2026, 1, 1, 12, 0, s), float(s)) for s in range(20)]
    rows.append((datetime(2026, 1, 1, 12, 5), 1.0))
    df = spark.createDataFrame(rows, "ts timestamp, v double") \
        .withColumnRenamed("v", "a.b")
    df.write.parquet(src)
    baseline = baseline_map(profile(df, ["a.b"]))

    stream = (spark.readStream.schema(df.schema).parquet(src))
    out = windowed_drift(stream, baseline, "ts",
                         window="1 minute", watermark="1 minute")
    w0 = {r.column_name: r for r in _drain(out, str(tmp_path / "ck"))
          if r.window_start.minute == 0}
    assert not w0["a.b"].distinct_drift and not w0["a.b"].null_drift


def test_baseline_map_refuses_per_partition_parts(spark):
    """Duplicate column_name rows (per-partition profile parts) must raise,
    not silently keep one arbitrary partition (review r05c finding 4)."""
    parts = spark.createDataFrame(
        [("v", 0.0, 10), ("v", 0.5, 3)],
        "column_name string, null_fraction double, approx_distinct long")
    with pytest.raises(ValueError, match="duplicate column 'v'"):
        baseline_map(parts)


def test_windowed_drift_empty_baseline_raises(spark):
    """An empty baseline previously crashed at stream start with an obscure
    star-expansion AnalysisException (review r05c finding 5)."""
    df = spark.createDataFrame([(datetime(2026, 1, 1), 1.0)],
                               "ts timestamp, v double")
    with pytest.raises(ValueError, match="empty baseline"):
        windowed_drift(df, {}, "ts")


def test_exact_dedup_stream_survives_user_digest_column(spark, tmp_path):
    """An input column literally named '_digest' (batch-dedup output
    re-ingested) previously broke the unionByName (review r05c finding 3)."""
    from json_skema_spark.streaming.dedup_stream import exact_dedup_stream
    src = str(tmp_path / "in")
    rows = [
        (datetime(2026, 1, 1, 12, 0, 0), "dup text", "keep0"),
        (datetime(2026, 1, 1, 12, 0, 1), "dup text", "keep1"),
        (datetime(2026, 1, 1, 12, 0, 2), None, "keepnull"),
        (datetime(2026, 1, 1, 12, 0, 3), "other", "keep3"),
    ]
    spark.createDataFrame(rows, "ts timestamp, text string, _digest string") \
        .write.parquet(src)
    out = exact_dedup_stream(
        spark.readStream.schema("ts timestamp, text string, _digest string")
        .parquet(src), "text", "ts")
    got = _drain(out, str(tmp_path / "ck"))
    # one of the two dups dropped; the USER's _digest values pass through
    assert len(got) == 3
    digests = {r["_digest"] for r in got}
    assert "keepnull" in digests and "keep3" in digests
    assert digests & {"keep0", "keep1"}


def test_deprecated_usage_zero_row_table_counts_zero(spark):
    """F.sum over zero rows is NULL; the report must say 0 present / 0.0
    fraction — the 'safe to delete' answer (review r05c finding 6)."""
    from json_skema_spark.operators.annotations import deprecated_usage
    df = spark.createDataFrame([], "a string, b double")
    doc = {"properties": {"a": {"deprecated": True},
                          "b": {"type": "number"}}}
    rows = deprecated_usage(df, doc).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_present"] == 0 and r["n_rows"] == 0
    assert r["frac_present"] == 0.0


@pytest.fixture
def compile_root_calls(monkeypatch):
    """One entry per Compiler.compile_root call."""
    from json_skema_spark.plans import compile as compile_mod

    calls = []
    orig = compile_mod.Compiler.compile_root

    def counting(self, struct_type):
        calls.append(1)
        return orig(self, struct_type)

    monkeypatch.setattr(compile_mod.Compiler, "compile_root", counting)
    return calls


def test_violation_rate_compiles_once(spark, compile_root_calls):
    """violation_rate compiles its schema once."""
    from json_skema_spark.streaming.validate_stream import violation_rate

    df = spark.createDataFrame([(datetime(2026, 1, 1), 1.0)],
                               "ts timestamp, v double")
    rate = violation_rate(df, {"properties": {"v": {"minimum": 2}}}, "ts")
    assert len(compile_root_calls) == 1
    assert "n_violations" in rate.columns


def test_compile_schema_still_fails_at_construction(spark):
    """The batch entry keeps fail-before-side-effects: a schema mistake
    raises from compile_schema itself, not at first column use — the
    runner builds manifests/output dirs right after (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import CompileError, compile_schema
    st = T.StructType([T.StructField("a", T.StringType())])
    with pytest.raises(CompileError):
        compile_schema({"properties": {"a": 5}}, st)


def test_items_error_inside_oneof_raises_at_construction(spark):
    """`items` failures are lowered after the compile and re-enter it for
    the element schema. A mistake there must still surface once, from
    compile_schema, and a valid schema of the same shape must lower its
    failures without recording any compile error."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import (AggregateCompileError,
                                                compile_schema)
    st = T.StructType([T.StructField("a", T.ArrayType(T.IntegerType()))])

    def doc(items):
        return {"properties": {"a": {"oneOf": [{"items": items},
                                               {"type": "string"}]}}}

    with pytest.raises(AggregateCompileError) as exc:
        compile_schema(doc({"multipleOf": 0}), st)
    assert [e.location for e in exc.value.errors] == [
        "#/properties/a/oneOf/0/items/multipleOf"]

    df = spark.createDataFrame([([1, -1],)], st)
    plan = compile_schema(doc({"minimum": 0}), st)
    rows = plan.violations(df, F.lit("k")).collect()
    assert [(r.keyword, r.instance_location) for r in rows] == [
        ("minimum", "#/a/1"), ("type", "#/a")]
    assert plan.summary(df).count() == 2
    assert plan.compiler.errors == []


def test_chunk_assignments_null_group_not_dropped(spark):
    """NULL group_col rows form their own group (SQL PARTITION BY
    semantics); the inner equi-join on the group key silently dropped
    them (review r05c finding: null-safe join)."""
    from json_skema_spark.operators.packing import chunk_assignments
    rows = [("a", 5, None), ("b", 7, None), ("c", 3, "en"), ("d", 4, "en")]
    df = spark.createDataFrame(rows, "id string, n long, lang string")
    got = {r["id"]: r for r in chunk_assignments(
        df, "id", "n", max_tokens=8, group_col="lang").collect()}
    assert set(got) == {"a", "b", "c", "d"}  # nothing vanished
    # NULL group stream: a(5) then b(7) -> starts 0, 5
    assert (got["a"]["chunk_id"], got["a"]["chunk_offset"]) == (0, 0)
    assert (got["b"]["chunk_id"], got["b"]["chunk_offset"]) == (0, 5)
    # en stream independent: c(3) then d(4) -> starts 0, 3
    assert (got["c"]["chunk_id"], got["c"]["chunk_offset"]) == (0, 0)
    assert (got["d"]["chunk_id"], got["d"]["chunk_offset"]) == (0, 3)


def test_chunk_assignments_duplicate_ids_non_overlapping(spark):
    """Duplicate ids are window PEERS under the default RANGE frame — both
    rows got the full peer sum and overlapping token ranges (review r05c:
    ROWS frame)."""
    from json_skema_spark.operators.packing import chunk_assignments
    df = spark.createDataFrame([("x", 5), ("x", 7), ("y", 2)],
                               "id string, n long")
    out = chunk_assignments(df, "id", "n", max_tokens=100).collect()
    starts = sorted(r["chunk_id"] * 100 + r["chunk_offset"] for r in out)
    # concatenation order among the tied 'x' rows is unspecified, but the
    # ranges must tile [0, 14): starts are prefix sums of SOME order
    assert starts in ([0, 5, 12], [0, 7, 12])


def test_stratified_sample_null_keys_deterministic(spark):
    """NULL keys cannot be deterministically sampled: kept only by a
    keep-everything rate >= 1.0, dropped by every fractional rate — never
    the old all-or-nothing constant draw (review r05c)."""
    from json_skema_spark.operators.sampling import stratified_sample
    rows = [(None, "en")] * 5 + [(f"d{i}", "en") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    kept_full = stratified_sample(df, "doc_id", "lang", {"en": 1.0}).collect()
    assert len(kept_full) == 15  # rate 1.0 keeps the null-key rows too
    kept_half = stratified_sample(df, "doc_id", "lang", {"en": 0.5}).collect()
    assert all(r["doc_id"] is not None for r in kept_half)


def test_contamination_probe_java_whitespace_normal_form(spark):
    """Probe normalization must match the JVM shingle normal form: Java \\s
    is ASCII-only, so an NBSP inside a probe is a WORD character on both
    sides — Python's Unicode \\s collapsed it and made the probe silently
    inert (review r05c)."""
    from json_skema_spark.operators.contamination import contamination_flags
    probe = "alpha beta gamma"  # 2 words under ASCII whitespace
    df = spark.createDataFrame(
        [("1", f"xx {probe} yy"), ("2", "clean text here")],
        "doc_id string, text string")
    got = {r["doc_id"]: r["contaminated"] for r in contamination_flags(
        df, "text", "doc_id", [probe], n=2).collect()}
    assert got == {"1": True, "2": False}


def test_contamination_empty_probe_raises(spark):
    from json_skema_spark.operators.contamination import contamination_flags
    df = spark.createDataFrame([("1", "")], "doc_id string, text string")
    with pytest.raises(ValueError, match="empty after normalization"):
        contamination_flags(df, "text", "doc_id", ["   "], n=1)


def test_quality_score_unicode_letters_not_punctuation(spark):
    """Accented letters must count as alpha, not punctuation: identical
    documents differing only in accents must score identically
    (review r05c)."""
    from json_skema_spark.functions.text import quality_score
    base = "the quick brown fox jumps over the lazy dog again and again. " * 3
    accented = base.replace("e", "é").replace("a", "á")
    df = spark.createDataFrame([(base,), (accented,)], ["text"])
    scores = [r[0] for r in
              df.select(quality_score(F.col("text"))).collect()]
    assert scores[0] == scores[1]


def test_duration_consistency_contains_negative_rate_decoder(spark):
    """A decoder reporting a NEGATIVE sample rate must be skipped like the
    sibling UDFs' sr<=0 containment, not emit a bogus negative-duration
    violation (review r05c)."""
    import numpy as np

    from json_skema_spark.functions import audio
    from json_skema_spark.functions.audio_features import (
        duration_consistency_violations)
    audio.register_decoder("negsr", lambda buf: (np.zeros(4800), -48000, ""))
    try:
        df = spark.createDataFrame(
            [("c1", "negsr", bytearray(b"xx"), 48000, 100)],
            "clip_id string, codec string, bytes binary, sr_hz int, dur_ms int")
        rows = duration_consistency_violations(df).collect()
    finally:
        audio.unregister_decoder("negsr")
    # negative decoder rate, positive claimed rate: falls back to claimed
    # 48000 -> 4800 samples = 100 ms = consistent -> no violation
    assert rows == []


def test_image_decode_contains_2d_decoder_output(spark):
    """A registered decoder returning a 2-D grayscale array must degrade to
    a per-row verdict, not IndexError the task (review r05c)."""
    import numpy as np

    from json_skema_spark.functions import media
    media.register_image_decoder(
        "gray2d", lambda buf: (np.zeros((4, 5), np.uint8), ""))
    try:
        df = spark.createDataFrame(
            [("i1", "gray2d", bytearray(b"xx"))],
            "image_id string, codec string, bytes binary")
        r = media.image_decode_check(df).collect()[0]
    finally:
        media.unregister_image_decoder("gray2d")
    assert not r["decode_ok"]
    assert r["error"] == "decode_error:bad_shape:4x5"


def test_start_streaming_failure_stops_started_queries(spark, tmp_path):
    """A construction-time failure Spark raises only at .start() (here: a
    bigint ts column — withWatermark needs a timestamp) must stop the
    queries that already started, not leak them as active (review r05c)."""
    from json_skema_spark.stream_runner import start_streaming
    src = str(tmp_path / "in")
    spark.createDataFrame([("c1", 5, 1000)],
                          "clip_id string, v int, ts long") \
        .write.parquet(src)
    before = len(spark.streams.active)
    with pytest.raises(Exception):
        start_streaming(
            spark, src, str(tmp_path / "out"),
            schema_doc={"properties": {"v": {"minimum": 0}}},
            input_schema="clip_id string, v int, ts long",
            queries=("verdicts", "dedup"), available_now=True)
    assert len(spark.streams.active) == before  # verdicts was stopped
    # and a retry reaches the SAME root error, not 'already active'
    with pytest.raises(Exception) as ei:
        start_streaming(
            spark, src, str(tmp_path / "out2"),
            schema_doc={"properties": {"v": {"minimum": 0}}},
            input_schema="clip_id string, v int, ts long",
            queries=("verdicts", "dedup"), available_now=True)
    assert "already active" not in str(ei.value)
    assert len(spark.streams.active) == before


def test_run_resumable_over_bucketed_pre_staged_refused(spark, tmp_path):
    """Pre-staged data bucketed MORE ways than num_buckets previously
    passed the any()-guard and the extra buckets were silently never read
    (review r05c)."""
    from json_skema_spark.operators import checkpoint
    df = spark.createDataFrame([(f"c{i}", i) for i in range(50)],
                               "clip_id string, v int")
    staging = str(tmp_path / "staged4")
    checkpoint.stage_by_bucket(df, "clip_id", 4, staging)
    m = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)
    with pytest.raises(ValueError, match="beyond num_buckets=2"):
        checkpoint.run_resumable(df, "clip_id", 2, m, lambda b, i: {},
                                 pre_staged_dir=staging)


def test_run_resumable_resume_validates_overridden_pre_staged(spark,
                                                              tmp_path):
    """On RESUME, a wrong-but-existing pre_staged_dir override previously
    skipped layout validation and committed every remaining bucket as
    empty (review r05c)."""
    from json_skema_spark.operators import checkpoint
    df = spark.createDataFrame([(f"c{i}", i) for i in range(50)],
                               "clip_id string, v int")
    m = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)

    def boom(bucket_df, i):
        if i == 1:
            raise RuntimeError("crash")
        return {"rows": bucket_df.count()}

    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(df, "clip_id", 2, m, boom)
    wrong = tmp_path / "not_staging"
    wrong.mkdir()
    m2 = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)
    with pytest.raises(ValueError, match="no _bucket=<id> directory"):
        checkpoint.run_resumable(df, "clip_id", 2, m2, lambda b, i: {},
                                 pre_staged_dir=str(wrong))


def test_run_resumable_resume_key_mismatch_refused(spark, tmp_path):
    from json_skema_spark.operators import checkpoint
    df = spark.createDataFrame([(f"c{i}", i) for i in range(20)],
                               "clip_id string, v int")
    m = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)

    def boom(bucket_df, i):
        raise RuntimeError("crash")

    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(df, "clip_id", 2, m, boom)
    m2 = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)
    with pytest.raises(ValueError, match="bucketed by 'clip_id'"):
        checkpoint.run_resumable(df, "v", 2, m2, lambda b, i: {})


def test_run_resumable_resume_schema_drift_refused(spark, tmp_path):
    """The source gaining a column between staging and resume previously
    read it as all-NULL from the old staged files — spurious violations
    diverging silently from the committed buckets (review r05c)."""
    from json_skema_spark.operators import checkpoint
    df = spark.createDataFrame([(f"c{i}", i) for i in range(20)],
                               "clip_id string, v int")
    m = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)

    def boom(bucket_df, i):
        if i == 1:
            raise RuntimeError("crash")
        return {}

    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(df, "clip_id", 2, m, boom)
    evolved = df.withColumn("lang", F.lit("en"))
    m2 = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)
    with pytest.raises(ValueError, match="lang missing from staged files"):
        checkpoint.run_resumable(evolved, "clip_id", 2, m2, lambda b, i: {})
    # the clean resume (same source) still completes
    m3 = checkpoint.PartitionManifest(str(tmp_path / "_m"), spark)
    metrics = checkpoint.run_resumable(df, "clip_id", 2, m3,
                                       lambda b, i: {"rows": b.count()})
    assert set(metrics) == {"0", "1"}


def test_duplicate_rows_refuses_colliding_columns(spark):
    """withColumn would silently overwrite a user 'partition_id' (wrong
    lineage); 'n_rows' makes the join ambiguous (review r05c)."""
    from json_skema_spark.operators.uniqueness import duplicate_rows
    df = spark.createDataFrame([("k1", 7)], "clip_id string, partition_id int")
    with pytest.raises(ValueError, match="partition_id"):
        duplicate_rows(df, "clip_id")


def test_profile_backtick_column_name(spark):
    """Generated aggregate aliases are referenced via quoted_col — a
    column name with an embedded backtick previously produced a malformed
    quoted identifier (review r05c)."""
    from json_skema_spark.operators.stats import profile
    df = spark.createDataFrame([(1.0,), (None,)], ["v"]) \
        .withColumnRenamed("v", "a`b")
    rows = profile(df, ["a`b"]).collect()
    assert len(rows) == 1
    assert rows[0]["column_name"] == "a`b"
    assert rows[0]["null_fraction"] == 0.5


def test_compat_multiple_of_divisibility_is_exact():
    """A tolerance-based divisibility check certified non-divisor
    multipleOf changes as pure widening — skipping re-validation of rows
    the deployed v2 rejects (review r05c)."""
    from json_skema_spark.plans.compat import (delta_schema,
                                               is_backward_compatible)
    # 3 does NOT divide 3000000000001 (residue 1, inside the old 1e-12
    # relative tolerance of ~3e12)
    assert not is_backward_compatible({"multipleOf": 3000000000001},
                                      {"multipleOf": 3})
    assert delta_schema({"multipleOf": 3000000000001},
                        {"multipleOf": 3}) is not None
    # true divisor changes still widen, including decimal-exact floats
    assert is_backward_compatible({"multipleOf": 4}, {"multipleOf": 2})
    assert is_backward_compatible({"multipleOf": 0.1}, {"multipleOf": 0.05})
    assert not is_backward_compatible({"multipleOf": 0.1},
                                      {"multipleOf": 0.03})


def test_compat_delta_carries_unchanged_schema_dialect():
    """An unchanged $schema gates which keywords ASSERT via $vocabulary;
    the delta must compile under the same dialect as v2 (review r05c)."""
    from json_skema_spark.plans.compat import delta_schema
    dialect = "https://example.test/dialect"
    v1 = {"$schema": dialect, "minimum": 1}
    v2 = {"$schema": dialect, "minimum": 5}
    d = delta_schema(v1, v2)
    assert d["$schema"] == dialect and d["minimum"] == 5


def test_compat_absolute_uri_self_ref_refused():
    """An $id-qualified absolute-URI self-reference under `not` inverts
    polarity exactly like a textual '#/...' ref; it escaped the guard
    because only '#'-prefixed refs were checked (review r05c)."""
    from json_skema_spark.plans.compat import (delta_schema,
                                               is_backward_compatible)
    v1 = {"$id": "https://s", "properties": {"a": {"minimum": 5}},
          "not": {"$ref": "https://s#/properties/a"}}
    v2 = {"$id": "https://s", "properties": {"a": {"minimum": 3}},
          "not": {"$ref": "https://s#/properties/a"}}
    # the only keyword change is a widening, but the self-ref under `not`
    # inverts it: instance 3 is v1-valid and v2-INVALID
    assert not is_backward_compatible(v1, v2)
    assert delta_schema(v1, v2) == v2


def test_urn_base_fragment_ref_resolves_in_urn_resource(spark):
    """A '#/$defs/...' ref inside a urn-identified subschema must resolve
    against the urn resource, not re-root at the document (urljoin returns
    the bare fragment for non-hierarchical schemes) (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    doc = {"$defs": {"y": {"type": "string"}},
           "properties": {"a": {"$id": "urn:foo",
                                "$defs": {"y": {"type": "number"}},
                                "$ref": "#/$defs/y"}}}
    st = T.StructType([T.StructField("a", T.DoubleType())])
    df = spark.createDataFrame([(5.0,)], st)
    c = Compiler(doc).compile_value(
        F.struct(F.col("a")).alias("v"),
        T.StructType([T.StructField("a", T.DoubleType())]))
    got = df.select(c.passed.alias("p")).collect()[0]["p"]
    # urn resource says number -> 5.0 passes; the root's $defs/y (string)
    # would have REJECTED it
    assert got is True


def test_embedding_persist_tracked_for_release(spark):
    from json_skema_spark.operators import dedup
    from json_skema_spark.operators.similarity import (
        embedding_near_duplicates)
    rows = [(f"d{i}", [float(i), 1.0, 0.5]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, emb array<float>")
    before = len(dedup._PERSISTED_BASES)
    embedding_near_duplicates(df, "emb", "doc_id", dim=3,
                              persist_vectors=True).collect()
    assert len(dedup._PERSISTED_BASES) == before + 1
    dedup.release_persisted_signatures()
    assert not dedup._PERSISTED_BASES


def test_duplicate_clusters_raises_on_non_convergence(spark):
    """Exiting max_iter unconverged returned SPLIT clusters (multiple
    canonicals per component) indistinguishable from a correct labeling
    (review r05c)."""
    from json_skema_spark.operators.dedup import duplicate_clusters
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    pairs = spark.createDataFrame(chain, "doc_id_a string, doc_id_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=1)
    # enough rounds: one cluster, one canonical
    out = duplicate_clusters(pairs, max_iter=20).collect()
    assert len({r["cluster_id"] for r in out}) == 1
    assert sum(r["is_canonical"] for r in out) == 1


def test_lsh_bucket_rejects_over_63_planes(spark):
    from json_skema_spark.operators.similarity import ann_topk
    df = spark.createDataFrame([("d0", [1.0, 0.0])],
                               "doc_id string, emb array<float>")
    with pytest.raises(ValueError, match="63 bits"):
        ann_topk(df, "emb", "doc_id", [1.0, 0.0], num_planes=64)


def test_yaml_date_scalars_still_validate(spark):
    """PyYAML resolves unquoted dates to datetime.date; json.dumps raised
    and the bare except nulled the whole PARSEABLE document, so its schema
    violations passed undetected (review r05c)."""
    from json_skema_spark.plans.verdict import validate_yaml_column
    rows = [("a", "created: 2024-01-01\nn: 5"),
            ("b", "created: 2024-01-01\nn: 99")]
    df = spark.createDataFrame(rows, "id string, y string")
    out = validate_yaml_column(
        df, "y", {"properties": {"created": {"type": "string",
                                             "format": "date"},
                                 "n": {"maximum": 10}}})
    got = {r["id"]: r["yaml_passed"] for r in out.collect()}
    assert got == {"a": True, "b": False}  # b's n=99 violation now SEEN


def test_validate_yaml_out_col_collision_with_temp(spark):
    """out_col equal to the computed temp name previously dropped the
    verdict column entirely (review r05c)."""
    from json_skema_spark.plans.verdict import validate_yaml_column
    df = spark.createDataFrame([("a", "n: 5")], "id string, y string")
    out = validate_yaml_column(df, "y", {"properties": {"n": {"maximum": 10}}},
                               out_col="_yaml_as_json")
    assert "_yaml_as_json" in out.columns
    assert out.collect()[0]["_yaml_as_json"] is True


def test_format_asserts_on_temporal_columns(spark):
    """format must evaluate over a Date/Timestamp column's canonical text
    like the other string keywords, not silently pass (review r05c)."""
    import datetime

    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    df = spark.createDataFrame([(datetime.date(2024, 1, 1),)],
                               T.StructType([T.StructField("d", T.DateType())]))
    ok = Compiler({"properties": {"d": {"format": "date"}}},
                  format_assertion=True).compile_root(df.schema)
    bad = Compiler({"properties": {"d": {"format": "uuid"}}},
                   format_assertion=True).compile_root(df.schema)
    r = df.select(ok.passed.alias("a"), bad.passed.alias("b")).collect()[0]
    assert r["a"] is True   # '2024-01-01' IS a date
    assert r["b"] is False  # ...and is NOT a uuid (previously passed)


def test_multiple_of_sub_1e30_divisor_no_crash(spark):
    """A divisor below decimal scale 30 cast to decimal ZERO and pmod
    raised DIVIDE_BY_ZERO under ANSI defaults (review r05c); it now takes
    the documented double-remainder fallback."""
    from json_skema_spark.plans.compile import Compiler
    df = spark.createDataFrame([(2e-31,), (3.3e-31,)], ["v"])
    c = Compiler({"properties": {"v": {"multipleOf": 1e-31}}}) \
        .compile_root(df.schema)
    got = [r["p"] for r in df.select(c.passed.alias("p")).collect()]
    assert got == [True, False]


def test_empty_combinator_arrays_are_compile_errors(spark):
    """{'anyOf': []} previously raised a raw IndexError escaping the
    CompileError contract — bypassing the aggregate collector and aborting
    whole suite files (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import (AggregateCompileError,
                                                CompileError, Compiler)
    st = T.StructType([T.StructField("a", T.LongType())])
    for comb in ("allOf", "anyOf", "oneOf"):
        with pytest.raises(CompileError, match="non-empty array"):
            Compiler({comb: []}, collect_errors=False).compile_root(st)
    # and the collector aggregates them with pointers intact
    with pytest.raises(AggregateCompileError) as ei:
        Compiler({"properties": {"a": {"anyOf": []}},
                  "allOf": []}).compile_root(st)
    locs = {e.location for e in ei.value.errors}
    assert "#/allOf" in locs and "#/properties/a/anyOf" in locs


def test_bpe_token_count_unicode(spark):
    """'café' must be ONE token, not 'caf' + 'é'-as-punctuation
    (review r05c — same migration as quality_score)."""
    from json_skema_spark.functions.text import bpe_ish_token_count
    df = spark.createDataFrame([("café au lait",), ("a1 b2!",)], ["t"])
    got = [r["n"] for r in
           df.select(bpe_ish_token_count(F.col("t")).alias("n")).collect()]
    assert got == [3, 5]


def test_drift_report_refuses_per_partition_profiles(spark):
    """Duplicate column_name rows (per-partition parts) turned the
    full-outer join into a per-column cross product (review r05c) — same
    refusal as streaming baseline_map."""
    from json_skema_spark.operators.drift import drift_report
    from json_skema_spark.operators.stats import profile
    df = spark.createDataFrame([(float(i),) for i in range(20)], ["v"]) \
        .repartition(4)
    merged = profile(df, ["v"])
    parts = profile(df, ["v"], per_partition=True)
    with pytest.raises(ValueError, match="partition_id"):
        drift_report(parts, merged)
    with pytest.raises(ValueError, match="partition_id"):
        drift_report(merged, parts)
    assert drift_report(merged, merged).count() == 1  # clean path intact


def test_suggest_constraints_temporal_enum_serializes(spark):
    """An explicitly-selected DateType column small enough for an enum
    previously crashed json.dumps (review r05c); binary columns skip the
    enum instead of crashing."""
    import datetime

    from json_skema_spark.operators.infer import suggest_constraints
    rows = [(datetime.date(2024, 1, 1), bytearray(b"x")),
            (datetime.date(2024, 1, 2), bytearray(b"y"))]
    df = spark.createDataFrame(rows, "d date, b binary")
    got = {(r["column_name"], r["keyword"]): r["value"]
           for r in suggest_constraints(df, columns=["d", "b"]).collect()}
    assert got[("d", "enum")] == '["2024-01-01","2024-01-02"]'
    assert ("b", "enum") not in got


def test_audio_features_contain_none_sample_rate(spark):
    """A decoder returning sr=None previously raised TypeError (None <= 0)
    and killed the task in extract_features/resample/sample_frames
    (review r05c)."""
    import numpy as np

    from json_skema_spark.functions import audio
    from json_skema_spark.functions.audio_features import (extract_features,
                                                           resample_clips,
                                                           sample_frames)
    audio.register_decoder("nonesr", lambda buf: (np.zeros(100), None, ""))
    try:
        df = spark.createDataFrame([("c1", "nonesr", bytearray(b"x"))],
                                   "clip_id string, codec string, bytes binary")
        assert extract_features(df).collect()[0]["n_frames"] == 0
        assert resample_clips(df, 8000).collect()[0]["n_samples"] == 0
        assert sample_frames(df).collect() == []
    finally:
        audio.unregister_decoder("nonesr")


def test_clip_features_one_sample_frame_no_nan():
    import numpy as np

    from json_skema_spark.functions.audio_features import clip_features
    f = clip_features(np.asarray([0.5], dtype=np.float64), sr=40)
    # 25ms at sr=40 -> frame_len 1: zcr must be 0.0, never NaN
    assert f["n_frames"] == 1 and f["zcr"] == [0.0]
    assert not any(np.isnan(f["rms_db"]))


def test_frame_signal_is_a_view_and_matches_copy_semantics():
    import numpy as np

    from json_skema_spark.functions.audio_features import frame_signal
    sig = np.arange(100, dtype=np.float64)
    frames = frame_signal(sig, 25, 10)
    assert frames.shape == (8, 25)
    # identical frame content to the index-materialized formulation
    idx = np.arange(25)[None, :] + 10 * np.arange(8)[:, None]
    assert np.array_equal(frames, sig[idx])
    assert frames.base is not None  # a view, not a copy


def test_running_tally_dotted_key_column(spark, tmp_path):
    """key_col with a dot must resolve as one literal column
    (review r05c)."""
    from json_skema_spark.streaming.stateful import running_violation_tally
    src = str(tmp_path / "in")
    df = spark.createDataFrame([("s1", 5), ("s1", -1)],
                               "shard string, v int") \
        .withColumnRenamed("shard", "meta.shard")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = running_violation_tally(
        stream, {"properties": {"v": {"minimum": 0}}}, "meta.shard")
    got = []
    q = (out.writeStream.outputMode("update")
         .foreachBatch(lambda b, _i: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    final = {r["key"]: r for r in got}
    assert final["s1"]["rows_seen"] == 2 and final["s1"]["rows_failed"] == 1


def test_schema_builder_rejects_typo_keywords():
    """A misspelled builder method previously became an unknown (inert)
    keyword — a silently WEAKER schema (review r05c)."""
    from json_skema_spark.plans.builder import SchemaBuilder
    b = SchemaBuilder.integer()
    with pytest.raises(AttributeError, match="minimun"):
        b.minimun(1)
    assert b.minimum(1).build()["minimum"] == 1
    # extension keywords still reachable through the explicit hatch
    assert b.kw("x-custom", 5).build()["x-custom"] == 5


def test_clips_fast_word_streams_differ_across_seeds(spark):
    """Different seeds must produce independent transcript WORD streams,
    not just different lengths (review r05c)."""
    from json_skema_spark.sources.clips import clips_df_fast
    a = clips_df_fast(spark, 50, inject=False, seed=1).collect()
    b = clips_df_fast(spark, 50, inject=False, seed=2).collect()
    same_first_word = sum(
        1 for ra, rb in zip(a, b)
        if ra["transcript"].split(" ")[0] == rb["transcript"].split(" ")[0])
    # pre-fix this was 50/50 (identical streams); ~1/256 collisions now
    assert same_first_word < 10


def test_scaling_bench_prefers_settled_floors():
    """An unsettled (interference-bound) minimum must not beat a settled
    floor in the published evidence (review r05c)."""
    import sys
    sys.path.insert(0, "/root/repo")
    try:
        from tools.scaling_bench import _better
    finally:
        sys.path.remove("/root/repo")
    settled_slow = {"best_s": 5.0, "settled": True}
    unsettled_fast = {"best_s": 2.0, "settled": False}
    assert _better(settled_slow, unsettled_fast) is settled_slow
    assert _better(unsettled_fast, settled_slow) is settled_slow
    faster_settled = {"best_s": 4.0, "settled": True}
    assert _better(settled_slow, faster_settled) is faster_settled
    assert _better(None, unsettled_fast) is unsettled_fast
    assert _better(unsettled_fast, None) is unsettled_fast


def test_map_null_values_are_absent_like_structs(spark):
    """A NULL-valued map key previously counted as PRESENT while the
    identical struct row counted it absent — opposite verdicts for the
    same logical document by physical column type (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    mt = T.MapType(T.StringType(), T.IntegerType())
    df = spark.createDataFrame([({"a": None},), ({"a": 1},), ({},)],
                               T.StructType([T.StructField("m", mt)]))

    def verdicts(doc):
        c = Compiler(doc).compile_value(F.col("m"), mt)
        return [r["p"] for r in df.select(c.passed.alias("p")).collect()]

    # required: NULL value = absent -> fails, like the struct path
    assert verdicts({"required": ["a"]}) == [False, True, False]
    # additionalProperties:false ignores the absent member
    assert verdicts({"additionalProperties": False}) == [True, False, True]
    # minProperties counts only present members
    assert verdicts({"minProperties": 1}) == [False, True, False]
    # propertyNames skips absent members
    assert verdicts({"propertyNames": {"maxLength": 0}}) == \
        [True, False, True]
    # const object size counts only present members
    assert verdicts({"const": {}}) == [True, False, True]
    # unevaluatedProperties ignores absent members
    assert verdicts({"properties": {}, "unevaluatedProperties": False}) == \
        [True, False, True]


def test_struct_pattern_names_match_java_ascii_classes(spark):
    """Struct-path name matching must use ASCII \\d/\\w like Java (the map
    path and the reference): a field named with a non-ASCII digit
    previously matched ^\\d+$ on structs only (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    st = T.StructType([T.StructField("٣", T.IntegerType())])
    df = spark.createDataFrame([(5,)], st)
    doc = {"patternProperties": {"^\\d+$": {"type": "integer"}},
           "additionalProperties": False}
    c = Compiler(doc).compile_root(st)
    # Java \\d does not match the Arabic digit -> the field is ADDITIONAL
    # -> additionalProperties:false fires (map path and reference agree)
    assert df.select(c.passed.alias("p")).collect()[0]["p"] is False


def test_runtime_java_invalid_patterns_are_compile_errors(spark):
    """A Python-only regex evaluated by rlike at runtime previously passed
    compilation and crashed executors with PatternSyntaxException
    (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import CompileError, Compiler
    mt = T.MapType(T.StringType(), T.IntegerType())
    with pytest.raises(CompileError, match="Java regex"):
        Compiler({"patternProperties": {"(?P<n>x)": True},
                  "additionalProperties": False},
                 collect_errors=False).compile_value(F.col("m"), mt)
    st = T.StructType([T.StructField("s", T.StringType())])
    with pytest.raises(CompileError, match="Java regex"):
        Compiler({"properties": {"s": {"pattern": "(?P<n>x)"}}},
                 collect_errors=False).compile_root(st)
    # Java-only constructs stay VALID for runtime evaluation
    c = Compiler({"properties": {"s": {"pattern": r"^\p{Alpha}+$"}}}) \
        .compile_root(st)
    df = spark.createDataFrame([("abc",), ("a1",)], st)
    assert [r["p"] for r in df.select(c.passed.alias("p")).collect()] == \
        [True, False]


def test_unique_items_over_map_elements_is_compile_error(spark):
    """array_distinct cannot order MapType: previously an uncaught
    AnalysisException at first use instead of a pointered CompileError
    (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import CompileError, Compiler
    at = T.ArrayType(T.MapType(T.StringType(), T.IntegerType()))
    with pytest.raises(CompileError, match="cannot\n?.*order maps|order maps"):
        Compiler({"uniqueItems": True},
                 collect_errors=False).compile_value(F.col("a"), at)


def test_unresolvable_ref_joins_aggregate_compile_errors(spark):
    """A resolver SchemaError previously escaped the CompileError
    collection contract — one bad $ref aborted the compile uncaught and
    suppressed every sibling diagnostic (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import AggregateCompileError, Compiler
    st = T.StructType([T.StructField("a", T.StringType()),
                       T.StructField("b", T.LongType())])
    doc = {"properties": {"a": 5, "b": {"$ref": "#/$defs/missing"}}}
    with pytest.raises(AggregateCompileError) as ei:
        Compiler(doc).compile_root(st)
    locs = {e.location for e in ei.value.errors}
    assert "#/properties/a" in locs
    assert "#/properties/b/$ref" in locs
    assert len(ei.value.errors) == 2


def test_variant_const_exact_past_2_53(spark):
    """Variant const/enum compared via double conflated distinct integers
    past the 53-bit mantissa (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    df = spark.createDataFrame(
        [("9007199254740992",), ("9007199254740993",)], ["j"])
    c = Compiler({"const": 9007199254740993}).compile_value(
        F.parse_json(F.col("j")), T.VariantType())
    got = [r["p"] for r in df.select(c.passed.alias("p")).collect()]
    assert got == [False, True]


def test_fail_row_cutoff_refused_under_negation(spark):
    """A conservative depth-cutoff failure INVERTS under not/oneOf/if —
    a too-deep instance under `not` would wrongly PASS; it must refuse at
    compile time in those scopes and stay usable elsewhere (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import CompileError, Compiler
    rec = {"$defs": {"r": {"properties": {"n": {"$ref": "#/$defs/r"}}}}}
    vt_ = T.VariantType()
    neg = {**rec, "not": {"$ref": "#/$defs/r"}}
    with pytest.raises(CompileError, match="would invert"):
        Compiler(neg, max_depth=8, on_max_depth="fail_row",
                 collect_errors=False).compile_value(F.col("j"), vt_)
    # positive-context recursion keeps the bounded-unroll behavior
    pos = {**rec, "properties": {"x": {"$ref": "#/$defs/r"}}}
    Compiler(pos, max_depth=8, on_max_depth="fail_row",
             collect_errors=False).compile_value(F.col("j"), vt_)


def test_lenient_coercion_on_variant_path(spark):
    """lenient=True was silently ignored for variant columns — the
    reference's LENIENT mode coerces '5' -> 5, 'yes' -> true, scalar ->
    string (review r05c)."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    df = spark.createDataFrame(
        [('"5"',), ('"yes"',), ("7",), ('"x"',)], ["j"])

    def verdicts(doc):
        c = Compiler(doc, lenient=True).compile_value(
            F.parse_json(F.col("j")), T.VariantType())
        return [r["p"] for r in df.select(c.passed.alias("p")).collect()]

    assert verdicts({"type": "integer"}) == [True, False, True, False]
    assert verdicts({"type": "boolean"}) == [False, True, False, False]
    assert verdicts({"type": "string"}) == [True, True, True, True]


def test_huge_schema_numbers_do_not_crash_compile(spark):
    """400-digit bounds and consts beyond bigint previously raised raw
    OverflowError/Py4J errors escaping the CompileError contract
    (review r05c): bounds saturate to +-inf, consts compare via decimal38
    (a double CAN equal 1e19) or are never-equal beyond 38 digits."""
    from pyspark.sql import types as T

    from json_skema_spark.plans.compile import Compiler
    st = T.StructType([T.StructField("v", T.LongType()),
                       T.StructField("d", T.DoubleType())])
    df = spark.createDataFrame([(5, 1e19)], st)

    c = Compiler({"properties": {"v": {"minimum": 10 ** 400}}}) \
        .compile_root(st)
    assert df.select(c.passed.alias("p")).collect()[0]["p"] is False
    c = Compiler({"properties": {"v": {"maximum": 10 ** 400}}}) \
        .compile_root(st)
    assert df.select(c.passed.alias("p")).collect()[0]["p"] is True
    # const 10^19: no long holds it, but the double column's 1e19 equals it
    c = Compiler({"properties": {"v": {"const": 10 ** 19}}}).compile_root(st)
    assert df.select(c.passed.alias("p")).collect()[0]["p"] is False
    c = Compiler({"properties": {"d": {"const": 10 ** 19}}}).compile_root(st)
    assert df.select(c.passed.alias("p")).collect()[0]["p"] is True
    # multipleOf with a beyond-double divisor: only zero is a multiple
    c = Compiler({"properties": {"v": {"multipleOf": 10 ** 400}}}) \
        .compile_root(st)
    assert df.select(c.passed.alias("p")).collect()[0]["p"] is False


def test_anchor_ref_failure_reports_real_pointer(spark):
    """Failures under an anchor-form $ref previously reported '#A/...' —
    an anchor/pointer hybrid no tooling can dereference (review r05c)."""
    from pyspark.sql import types as T

    import json_skema_spark as jss
    st = T.StructType([T.StructField("x", T.StringType())])
    df = spark.createDataFrame([("ab",)], st)
    doc = {"$defs": {"s": {"$anchor": "A", "minLength": 3}},
           "properties": {"x": {"$ref": "#A"}}}
    plan = jss.compile_schema(doc, st)
    v = plan.violations(df, F.lit("k")).collect()
    assert len(v) == 1
    assert v[0]["keyword_location"] == "#/$defs/s/minLength"


def _tiny_clips(spark, n=40):
    return spark.createDataFrame(
        [(f"c{i}", float(i)) for i in range(n)],
        "clip_id string, price double")


def test_validate_table_refuses_resume_with_edited_schema(spark, tmp_path):
    """The schema is the primary semantic input: a resume with an edited
    document previously mixed two schemas' verdicts in one 'successful'
    run (review r05c)."""
    from json_skema_spark import runner
    out = str(tmp_path / "out")
    df = _tiny_clips(spark)
    doc_a = {"properties": {"price": {"maximum": 100.0}}}
    runner.validate_table(spark, df, out, schema_doc=doc_a, num_buckets=2,
                          check_audio=False)
    doc_b = {"properties": {"price": {"maximum": 5.0}}}
    with pytest.raises(ValueError, match="DIFFERENT schema document"):
        runner.validate_table(spark, df, out, schema_doc=doc_b,
                              num_buckets=2, check_audio=False)
    # unchanged schema still resumes/no-ops cleanly
    runner.validate_table(spark, df, out, schema_doc=doc_a, num_buckets=2,
                          check_audio=False)


def test_validate_table_accepts_falsy_schemas(spark, tmp_path):
    """`false` (reject-all) and `{}` (accept-all) are LEGAL schemas that
    `schema_doc or DEFAULT` silently replaced (review r05c)."""
    from json_skema_spark import runner
    df = _tiny_clips(spark, 10)
    runner.validate_table(spark, df, str(tmp_path / "o1"), schema_doc=False,
                          num_buckets=2, check_audio=False)
    v = spark.read.parquet(str(tmp_path / "o1") + "/violations")
    assert v.count() == 10  # reject-all: every row violates
    runner.validate_table(spark, df, str(tmp_path / "o2"), schema_doc={},
                          num_buckets=2, check_audio=False)
    v2 = spark.read.parquet(str(tmp_path / "o2") + "/violations")
    assert v2.count() == 0  # accept-all


def test_drift_merge_ignores_stale_bucket_dirs(spark, tmp_path):
    """A restage with fewer buckets leaves old bucket=K dirs; the drift
    merge previously read profile/* wholesale and corrupted the report
    under a valid fingerprint (review r05c)."""
    import shutil

    from pyspark.sql import functions as SF

    from json_skema_spark import runner
    from json_skema_spark.operators.stats import profile
    out = str(tmp_path / "out")
    df = _tiny_clips(spark)
    base = profile(df, ["price"])
    doc = {"properties": {"price": {"minimum": -1.0}}}
    runner.validate_table(spark, df, out, schema_doc=doc, num_buckets=2,
                          check_audio=False, baseline_profile=base)
    clean = {r["column_name"]: r for r in
             spark.read.parquet(out + "/drift").collect()}
    assert not clean["price"]["null_drift"]
    # plant a STALE bucket dir claiming every row was null
    part = spark.read.option("mergeSchema", "true") \
        .parquet(out + "/profile/bucket=0")
    part.withColumn("n_nulls", SF.col("n_rows")) \
        .write.parquet(out + "/profile/bucket=7")
    # restage: delete the manifest, rerun — the merge must use only the
    # NEW manifest's committed buckets
    shutil.rmtree(out + "/_manifest")
    runner.validate_table(spark, df, out, schema_doc=doc, num_buckets=2,
                          check_audio=False, baseline_profile=base)
    after = {r["column_name"]: r for r in
             spark.read.parquet(out + "/drift").collect()}
    assert not after["price"]["null_drift"]  # stale bucket=7 ignored


def test_violation_digest_examples_are_distinct(spark):
    from json_skema_spark.plans.verdict import violation_digest
    rows = [("hot", "required", "#/required")] * 10 + \
           [(f"k{i}", "required", "#/required") for i in range(3)]
    v = spark.createDataFrame(
        rows, "row_key string, keyword string, keyword_location string")
    d = violation_digest(v, per_keyword=5).collect()[0]
    assert d["n_violations"] == 13  # counts keep every occurrence
    assert d["example_keys"] == ["hot", "k0", "k1", "k2"]  # keys distinct


def test_uniqueness_violations_carry_partition_id_column(spark):
    from json_skema_spark.operators.uniqueness import uniqueness_violations
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    out = uniqueness_violations(df, "k")
    assert "partition_id" in out.columns
    assert out.collect()[0]["partition_id"] is None


@pytest.mark.parametrize("sub", [
    {"minimum": 0},
    {"anyOf": [{"minimum": 0}, {"maximum": -5}]},
], ids=["summary_legs", "summary_explode"])
def test_plan_compiles_schema_once(spark, compile_root_calls, sub):
    """Every output of one ValidationPlan reads its one compile."""
    from json_skema_spark.plans.compile import Compiler
    from json_skema_spark.plans.verdict import ValidationPlan
    df = spark.createDataFrame([(1,), (-1,)], "v int")
    plan = ValidationPlan(Compiler({"properties": {"v": sub}}), df.schema)
    verdicts = plan.apply(df, mode="verdict").collect()
    assert [r.passed for r in verdicts] == [True, False]
    n = plan.violations(df, "v").count()
    assert n >= 1
    assert sum(r.n_violations for r in plan.summary(df).collect()) == n
    counts = {r.passed: r.n_rows for r in plan.verdict_counts(df).collect()}
    assert counts == {True: 1, False: 1}
    assert len(compile_root_calls) == 1
    # the combinator's failures are not summarizable per leg
    assert (plan.compiled.legs is None) == ("anyOf" in sub)


def test_verdict_only_paths_build_no_failure_structs(spark, monkeypatch):
    """Verdict-only consumers never lower failures: neither the suite
    runner nor apply(mode="verdict") builds a failure struct."""
    from json_skema_spark.plans import compile as compile_mod
    from json_skema_spark.plans.compile import compile_schema
    from json_skema_spark.sources.suite import SuiteGroup, run_suite_file

    built = []
    orig = compile_mod._fail_struct

    def counting(*args):
        built.append(1)
        return orig(*args)

    monkeypatch.setattr(compile_mod, "_fail_struct", counting)
    doc = {"type": "object", "required": ["a"],
           "properties": {"a": {"type": "array", "items": {"minimum": 0}},
                          "b": {"oneOf": [{"minimum": 5}, {"maximum": 0}]}}}
    group = SuiteGroup(file="probe.json", is_format=False,
                       description="probe", schema=doc, tests=[
                           {"description": "ok", "valid": True,
                            "data": {"a": [1], "b": 9}},
                           {"description": "bad", "valid": False,
                            "data": {"a": [-1], "b": 3}}])
    results = run_suite_file(spark, [group])
    assert [(r.test, r.got) for r in results] == [("ok", True),
                                                  ("bad", False)]
    df = spark.createDataFrame([([1], 9), ([-1], 3)], "a array<int>, b int")
    plan = compile_schema(doc, df.schema)
    verdicts = plan.apply(df, mode="verdict").collect()
    assert [r.passed for r in verdicts] == [True, False]
    assert built == []
    # the violations path is the one that lowers them
    assert plan.violations(df, "b").count() == 3
    assert built


def test_deprecated_usage_dotted_column_still_counts(spark):
    """The quoted_col migration (review r05c finding 8) keeps the r04
    dotted-name behavior."""
    from json_skema_spark.operators.annotations import deprecated_usage
    df = spark.createDataFrame([("x",), (None,)], ["v"]) \
        .withColumnRenamed("v", "a.b")
    doc = {"properties": {"a.b": {"deprecated": True}}}
    r = deprecated_usage(df, doc).collect()[0]
    assert r["n_present"] == 1 and r["n_rows"] == 2
    assert r["frac_present"] == 0.5
