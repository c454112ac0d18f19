"""ValidationPlan.summary's message-free failures lowering must count exactly
what the full failures explode counts — only the message literal may
differ."""

import pyspark.sql.functions as F

from json_skema_spark import compile_schema

DOC = {
    "type": "object",
    "properties": {
        "a": {"type": "integer", "minimum": 3, "multipleOf": 2},
        "b": {"enum": ["x", "y"]},
        "c": {"anyOf": [{"minimum": 10}, {"maximum": 0}]},
    },
    "required": ["a"],
}


def _fixture(spark):
    rows = [(i if i % 7 else None,
             "x" if i % 3 == 0 else ("y" if i % 3 == 1 else "z"),
             float(i % 15)) for i in range(300)]
    return spark.createDataFrame(rows, "a int, b string, c double")


def test_summary_matches_full_explode_counts(spark):
    df = _fixture(spark)
    plan = compile_schema(DOC, df.schema)
    got = {(r["keyword"], r["keyword_location"]): r["n_violations"]
           for r in plan.summary(df).collect()}
    # reference: explode the FULL failures column (messages and all)
    full = (df.withColumn("failures", plan.failures)
            .select(F.explode("failures").alias("f"))
            .groupBy(F.col("f.keyword"), F.col("f.keyword_location"))
            .count().collect())
    want = {(r["keyword"], r["keyword_location"]): r["count"] for r in full}
    assert got == want and got  # non-vacuous


def test_light_plan_empties_messages_only(spark):
    df = _fixture(spark)
    plan = compile_schema(DOC, df.schema)
    rows = (df.withColumn("failures", plan.compiled.failures(messages=False))
            .select(F.explode("failures").alias("f")).select("f.*").collect())
    assert rows and all(r["message"] == "" for r in rows)
    assert all(r["keyword"] for r in rows)
    # the full plan still renders real messages
    full_rows = (df.withColumn("failures", plan.failures)
                 .select(F.explode("failures").alias("f"))
                 .select("f.message").limit(5).collect())
    assert any(r["message"] for r in full_rows)
