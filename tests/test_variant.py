"""Open-document validation over VariantType: runtime type dispatch."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.plans.compile import CompileError, Compiler
from json_skema_spark.plans.verdict import validate_open_json


def _run(spark, schema, json_values, **kw):
    df = spark.createDataFrame([(i, j) for i, j in enumerate(json_values)],
                               "i int, j string")
    comp = Compiler(schema, **kw)
    c = comp.compile_value(F.parse_json(F.col("j")), T.VariantType())
    out = df.select("i", c.passed.alias("p"),
                    F.transform(c.failures(True), lambda f: f.getField("keyword"))
                    .alias("kws")).collect()
    return {r.i: (r.p, list(r.kws)) for r in out}


def test_variant_type_dispatch(spark):
    got = _run(spark, {"type": "string"},
               ['"hello"', '5', 'true', '[1]', '{"a":1}', 'null'])
    assert [got[i][0] for i in range(6)] == [True, False, False, False, False,
                                             True]  # JSON null = absent


def test_variant_integer_vs_number(spark):
    got = _run(spark, {"type": "integer"}, ['5', '5.0', '5.5', '"5"'])
    assert [got[i][0] for i in range(4)] == [True, True, False, False]


def test_variant_numeric_keywords_gate_on_kind(spark):
    got = _run(spark, {"minimum": 3, "maximum": 10}, ['5', '1', '"text"', '99'])
    assert [got[i][0] for i in range(4)] == [True, False, True, False]


def test_variant_string_keywords(spark):
    got = _run(spark, {"minLength": 2, "pattern": "^a"}, ['"ab"', '"a"', '"xb"', '7'])
    assert [got[i][0] for i in range(4)] == [True, False, False, True]


def test_variant_enum_const(spark):
    got = _run(spark, {"enum": [1, "two", True, [1, 2]]},
               ['1', '1.0', '"two"', 'true', '[1,2]', '[2,1]', '"1"', '2'])
    assert [got[i][0] for i in range(8)] == [True, True, True, True, True,
                                             False, False, False]
    got = _run(spark, {"const": {"a": 1, "b": "x"}},
               ['{"a":1,"b":"x"}', '{"b":"x","a":1}', '{"a":1}',
                '{"a":1,"b":"x","c":2}', '{"a":2,"b":"x"}'])
    assert [got[i][0] for i in range(5)] == [True, True, False, False, False]


def test_variant_object_keywords(spark):
    schema = {"required": ["a"], "properties": {"a": {"minimum": 5}},
              "minProperties": 1, "maxProperties": 2}
    got = _run(spark, schema,
               ['{"a": 6}', '{"a": 1}', '{"b": 1}', '{}',
                '{"a":5,"b":1,"c":2}', '"not-an-object"'])
    assert got[0][0] is True
    assert got[1] == (False, ["minimum"])
    assert got[2][0] is False and "required" in got[2][1]
    assert got[3][0] is False
    assert got[4][0] is False and "maxProperties" in got[4][1]
    assert got[5][0] is True  # object keywords don't apply to non-objects


def test_variant_json_null_member_is_absent(spark):
    got = _run(spark, {"required": ["a"]}, ['{"a": null}', '{"a": 1}'])
    assert got[0][0] is False and got[1][0] is True


def test_variant_array_keywords(spark):
    schema = {"minItems": 2, "items": {"type": "integer"}, "uniqueItems": True}
    got = _run(spark, schema,
               ['[1,2,3]', '[1]', '[1,"x"]', '[1,2,2]', '[1,2,2.0]',
                '"not-an-array"'])
    assert got[0][0] is True
    assert got[1] == (False, ["minItems"])
    assert got[2][0] is False and "type" in got[2][1]
    assert got[3][0] is False and "uniqueItems" in got[3][1]
    assert got[4][0] is False  # 2 == 2.0 by JSON value equality
    assert got[5][0] is True


def test_variant_nested_and_combinators(spark):
    schema = {
        "properties": {
            "user": {"required": ["name"],
                     "properties": {"name": {"minLength": 2},
                                    "tags": {"items": {"type": "string"}}}},
        },
        "anyOf": [{"required": ["user"]}, {"required": ["admin"]}],
    }
    got = _run(spark, schema, [
        '{"user": {"name": "ab", "tags": ["x"]}}',
        '{"user": {"name": "a"}}',
        '{"user": {"name": "ab", "tags": [1]}}',
        '{"other": 1}',
        '{"admin": true}',
    ])
    assert got[0][0] is True
    assert got[1] == (False, ["minLength"])
    assert got[2][0] is False and "type" in got[2][1]
    assert got[3][0] is False
    assert got[4][0] is True


def test_variant_unevaluated_supported(spark):
    """Runtime coverage algebra over the map/array views (new in r3 —
    previously raised CompileError): unevaluatedProperties and
    unevaluatedItems work on fully dynamic VariantType instances."""
    got = _run(spark, {"properties": {"a": {"type": "integer"}},
                       "patternProperties": {"^p": {}},
                       "unevaluatedProperties": False},
               ['{}', '{"a": 1}', '{"a": 1, "p1": "x"}',
                '{"a": 1, "z": 2}', '"not an object"'])
    assert [got[i][0] for i in range(5)] == [True, True, True, False, True]
    got = _run(spark, {"prefixItems": [{"type": "string"}],
                       "unevaluatedItems": False},
               ['["s"]', '["s", 1]', '[]', '42'])
    assert [got[i][0] for i in range(4)] == [True, False, True, True]


def test_validate_open_json_api(spark):
    df = spark.createDataFrame(
        [("r1", '{"k": 5}'), ("r2", '{"k": 200}'), ("r3", '"free text"')],
        "id string, payload string")
    out = validate_open_json(df, "payload",
                             {"properties": {"k": {"maximum": 100}}})
    got = {r.id: r.json_passed for r in out.collect()}
    assert got == {"r1": True, "r2": False, "r3": True}


def test_duplicate_key_violations(spark):
    """Reference raises DuplicateObjectPropertyException at parse
    (JsonParser.kt:250-256); Spark's from_json last-wins — the opt-in check
    surfaces the same signal as violation rows."""
    from json_skema_spark.plans.verdict import duplicate_key_violations
    df = spark.createDataFrame(
        [("r1", '{"a": 1, "a": 2, "b": 3}'),
         ("r2", '{"a": 1, "b": 2}'),
         ("r3", "not json"),
         ("r4", None)],
        "id string, payload string")
    rows = duplicate_key_violations(df, "payload", "id").collect()
    assert [r.row_key for r in rows] == ["r1"]
    assert rows[0].keyword == "duplicateKey"
    assert 'property "a" found at multiple locations' in rows[0].message


def test_validate_yaml_column_parity(spark):
    """YAML-instance entry point mirroring the reference's SnakeYamlTest
    cases (YamlSupport.kt:12-54): null/string/object/sequence/boolean
    scalars land as their JSON equivalents and flow through the same
    compiled predicates as validate_open_json."""
    from json_skema_spark.plans.verdict import validate_yaml_column, yaml_to_json

    rows = [
        ("null_doc", "null"),
        ("str_null", '"null"'),                       # quoted -> string
        ("obj", "propA: val-a\npropB: null\n"),
        ("seq", "- null\n- \"asd\"\n- true\n"),
        ("bools", "[yes, true, ON, No, false, off]"),
        ("bad", ": ::: not yaml ["),
    ]
    df = spark.createDataFrame(rows, "id string, payload string")
    conv = {r.id: r._yaml_as_json
            for r in yaml_to_json(df, "payload").collect()}
    import json
    assert json.loads(conv["null_doc"]) is None
    assert json.loads(conv["str_null"]) == "null"
    assert json.loads(conv["obj"]) == {"propA": "val-a", "propB": None}
    assert json.loads(conv["seq"]) == [None, "asd", True]
    # readBooleans parity: yes/true/ON -> true, No/false/off -> false
    assert json.loads(conv["bools"]) == [True, True, True, False, False, False]
    assert conv["bad"] is None  # malformed YAML = absent payload

    out = validate_yaml_column(
        df.filter(F.col("id").isin("obj", "seq")), "payload",
        {"anyOf": [
            {"type": "object", "required": ["propA"],
             "properties": {"propA": {"const": "val-a"}}},
            {"type": "array", "minItems": 3,
             "contains": {"const": "asd"}},
        ]})
    got = {r.id: r.yaml_passed for r in out.collect()}
    assert got == {"obj": True, "seq": True}

    out2 = validate_yaml_column(
        df.filter(F.col("id") == "obj"), "payload",
        {"properties": {"propA": {"const": "WRONG"}}})
    assert [r.yaml_passed for r in out2.collect()] == [False]
