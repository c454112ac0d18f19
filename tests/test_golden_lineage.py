"""Golden violation-lineage tests — the engine-side analogue of the
reference's ValidationFailureTest / StringValidationTest dynamic-path
assertions (StringValidationTest.kt:29-37 pins `#/allOf/1/$ref/minLength`)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.plans.compile import Compiler


def _violations(spark, schema, dtype_ddl, value, **kw):
    dtype = T._parse_datatype_string(dtype_ddl)
    df = spark.createDataFrame([(value,)],
                               T.StructType([T.StructField("v", dtype)]))
    comp = Compiler(schema, **kw)
    c = comp.compile_value(F.col("v"), dtype)
    rows = df.select(F.explode(c.failures(True)).alias("f")).select("f.*").collect()
    return [r.asDict() for r in rows]


def test_dynamic_path_through_allof_and_ref(spark):
    """Mirrors the reference's `#/allOf/1/$ref/minLength` dynamic path."""
    schema = {
        "$defs": {"nonempty": {"minLength": 3}},
        "allOf": [
            {"type": "string"},
            {"$ref": "#/$defs/nonempty"},
        ],
    }
    got = _violations(spark, schema, "string", "ab")
    assert len(got) == 1
    v = got[0]
    assert v["keyword"] == "minLength"
    assert v["dynamic_path"] == "#/allOf/1/$ref/minLength"
    assert v["keyword_location"] == "#/$defs/nonempty/minLength"
    assert v["instance_location"] == "#"
    assert v["message"] == "actual string length 2 is lower than minLength 3"


def test_nested_object_array_instance_pointers(spark):
    schema = {
        "properties": {
            "items": {"items": {"properties": {"name": {"minLength": 2}}}},
        },
    }
    got = _violations(spark, schema, "struct<items:array<struct<name:string>>>",
                      ([("ok",), ("x",)],))
    assert len(got) == 1
    v = got[0]
    assert v["instance_location"] == "#/items/1/name"
    assert v["keyword_location"] == \
        "#/properties/items/items/properties/name/minLength"
    assert v["dynamic_path"] == \
        "#/properties/items/items/properties/name/minLength"


def test_if_then_dynamic_path(spark):
    schema = {"if": {"minimum": 5}, "then": {"multipleOf": 2}}
    got = _violations(spark, schema, "int", 7)
    assert got[0]["dynamic_path"] == "#/then/multipleOf"
    assert got[0]["keyword_location"] == "#/then/multipleOf"


def test_unique_items_positions_message(spark):
    got = _violations(spark, {"uniqueItems": True}, "array<int>", [5, 1, 5])
    assert got[0]["message"] == "the same array element occurs at positions 0, 2"


def test_oneof_matched_count_message(spark):
    schema = {"oneOf": [{"minimum": 0}, {"maximum": 10}]}
    got = _violations(spark, schema, "int", 5)  # both match -> 2 matched
    assert got[0]["message"] == "expected 1 subschema to match out of 2, 2 matched"


def test_contains_messages_match_reference(spark):
    # Validator.kt:776: default minContains -> "expected at least 1 ..."
    got = _violations(spark, {"contains": {"minimum": 9}}, "array<int>", [1, 2])
    assert got[0]["message"] == (
        'expected at least 1 array item to be valid against "contains" '
        'subschema, found 0')
    # Validator.kt:773: explicit minContains with some matches
    got = _violations(spark, {"contains": {"minimum": 9}, "minContains": 2},
                      "array<int>", [9, 1])
    assert got[0]["message"] == (
        'only 1 array items are valid against "contains" subschema, '
        'expected minimum is 2')
