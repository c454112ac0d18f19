"""Conformance-corpus runner — the engine-side analogue of the reference's
TestSuiteTest (TestSuiteTest.kt:130-161): every keyword from SURVEY.md §2
with at least one passing and one failing instance, verdicts AND failure
keywords asserted.

Execution strategy: all instances of a case land in one DataFrame; the whole
corpus runs in a handful of Spark jobs by unioning per-case verdict frames.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.plans.compile import Compiler
from json_skema_spark.sources.corpus import CASES


def _run_case(spark, case):
    dtype = T._parse_datatype_string(case.dtype)
    schema = T.StructType([T.StructField("i", T.IntegerType()),
                           T.StructField("v", dtype)])
    rows = [(idx, inst[0]) for idx, inst in enumerate(case.instances)]
    df = spark.createDataFrame(rows, schema)
    comp = Compiler(case.schema, registry=case.registry, **case.compiler_kwargs)
    c = comp.compile_value(F.col("v"), dtype)
    out = df.select("i", c.passed.alias("passed"),
                    F.transform(c.failures(True), lambda f: f.getField("keyword"))
                    .alias("kws")).collect()
    return {r.i: (r.passed, set(r.kws)) for r in out}


@pytest.mark.parametrize("case", CASES, ids=[c.name for c in CASES])
def test_conformance(spark, case):
    got = _run_case(spark, case)
    for idx, inst in enumerate(case.instances):
        value, expected_valid = inst[0], inst[1]
        expected_kws = inst[2] if len(inst) > 2 else None
        passed, kws = got[idx]
        assert passed == expected_valid, (
            f"{case.name}[{idx}] value={value!r}: expected "
            f"valid={expected_valid}, got {passed} (failures: {kws})")
        if not expected_valid:
            assert kws, f"{case.name}[{idx}]: failing instance has no failures"
        else:
            assert not kws, f"{case.name}[{idx}]: passing instance has failures {kws}"
        if expected_kws is not None:
            assert expected_kws <= kws, (
                f"{case.name}[{idx}]: expected keywords {expected_kws}, got {kws}")


def test_corpus_covers_every_keyword():
    """SURVEY.md §2.b-2.e checklist: every keyword appears in some case."""
    import json
    seen = set()

    def walk(node):
        if isinstance(node, dict):
            for k, v in node.items():
                seen.add(k)
                walk(v)
        elif isinstance(node, list):
            for x in node:
                walk(x)

    for c in CASES:
        walk(c.schema)
    required = {
        "type", "const", "enum", "minLength", "maxLength", "pattern",
        "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
        "multipleOf", "format", "required", "properties", "patternProperties",
        "additionalProperties", "propertyNames", "minProperties",
        "maxProperties", "dependentRequired", "dependentSchemas", "items",
        "prefixItems", "contains", "minContains", "maxContains",
        "uniqueItems", "minItems", "maxItems", "allOf", "anyOf", "oneOf",
        "not", "if", "then", "else", "unevaluatedProperties",
        "unevaluatedItems", "$ref", "$defs", "$anchor", "readOnly",
        "writeOnly",
    }
    missing = required - seen
    assert not missing, f"corpus missing keywords: {sorted(missing)}"
