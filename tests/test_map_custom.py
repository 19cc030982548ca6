"""MapType payloads (the free-form-object corner of SURVEY.md §1.2) and
custom transform rules."""

import pyspark.sql.functions as F

from jio_spark import K, validate


def test_with_without_on_map_column(spark):
    # on MapType, presence is REAL key presence (map_contains_key) —
    # matching jio exactly, including key-present-with-null
    df = spark.createDataFrame(
        [(1, {"hi": "11", "faceair": "111"}),
         (2, {"hi": "11", "othor": "111"}),
         (3, {"hi": None})],
        "id int, m map<string,string>")
    res = validate(df, K.object({
        "m": K.object().with_keys("hi", "faceair")}), id_cols=["id"])
    got = {r["id"]: r["_pass"] for r in res.annotated.collect()}
    assert got == {1: True, 2: False, 3: False}
    msgs = {r["id"]: r["message"] for r in res.violations.collect()}
    assert msgs[2] == "field `m` not contains faceair"

    res2 = validate(df, K.object({
        "m": K.object().without_keys("faceair", "othor")}), id_cols=["id"])
    got2 = {r["id"]: r["_pass"] for r in res2.annotated.collect()}
    assert got2 == {1: False, 2: False, 3: True}


def test_custom_transform_column_builder(spark):
    # Transform (any.go:38-41) with a Column->Column builder
    df = spark.createDataFrame([(1, "ab"), (2, "xy")], "id int, v string")
    s = K.string().transform(lambda c: F.concat(c, F.lit("!"))).min(3)
    res = validate(df, K.object({"v": s}), id_cols=["id"])
    rows = res.normalized.orderBy("id").collect()
    assert [r["v"] for r in rows] == ["ab!", "xy!"]
    assert all(r["_pass"] for r in res.annotated.collect())


def test_custom_check_with_pandas_udf(spark):
    # the sanctioned Python escape hatch: an Arrow-batched pandas_udf
    # plugged in as a check predicate — never per-row Python
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def is_palindrome(s: pd.Series) -> pd.Series:
        return s.fillna("") == s.fillna("").str[::-1]

    df = spark.createDataFrame([(1, "abba"), (2, "abc")], "id int, v string")
    res = validate(df, K.object({
        "v": K.string().check(is_palindrome, "not a palindrome")}),
        id_cols=["id"])
    got = {r["id"]: r["_pass"] for r in res.annotated.collect()}
    assert got == {1: True, 2: False}
    v = res.violations.collect()[0]
    assert v["message"] == "field `v` value abc not a palindrome"


def test_custom_check_inside_items_and_condition(spark):
    """A user check inside an Items element schema or a When condition
    schema, where its value is a lambda variable or a condition input:
    the callable's Column still decides the verdict."""
    df = spark.createDataFrame(
        [(0, [2.0, 3.0], 5.0), (1, [1.0, 5.0], 5.0), (2, [], 0.0)],
        "id int, v array<double>, q double")
    res = validate(df, K.object({
        "v": K.array().items(K.number().check(lambda c: c > 1)),
        "q": K.number().when("q", K.number().check(lambda c: c > 1),
                             K.number().max(4))}), id_cols=["id"])
    got = {r["id"]: r["_pass"] for r in res.annotated.collect()}
    assert got == {0: False, 1: False, 2: True}
    got = {r["id"]: r["rule_path"] for r in res.first_violations.collect()}
    assert got == {0: "q", 1: "v"}


def test_prepend_transform_order(spark):
    # PrependTransform runs before earlier-appended rules (any.go:32-35):
    # uppercase prepended before an equality check sees the uppercased value
    df = spark.createDataFrame([(1, "abc")], "id int, v string")
    s = K.string().equal("ABC").prepend_transform(lambda c: F.upper(c))
    res = validate(df, K.object({"v": s}), id_cols=["id"])
    assert res.annotated.collect()[0]["_pass"]


def test_dict_default_on_incompatible_column_is_compile_error(spark):
    """Documented deviation (compiler._h_default, r3 ADVICE item 4): a
    dict default over a column that is physically neither map nor struct
    cannot be represented in the column's type, so it fails at COMPILE
    time with TypeError. The reference (any.go:67-74) would substitute
    the value and fail the row's final type assertion — a guaranteed
    100%-row failure that Spark surfaces before launching the job."""
    import pytest
    df = spark.createDataFrame([("x", None)], "id string, v string")
    with pytest.raises(TypeError, match="incompatible"):
        validate(df, K.object({"v": K.any().default({"a": 1})}),
                 id_cols=["id"])


def test_when_ref_sees_normalized_map_child(spark):
    """ctx stores the mutated value after a Keys walk (object.go:163-165),
    so a later When-ref through the walked key must see the NORMALIZED
    value — matching the reference, where the ref and the map share the
    mutated storage. Row 1's trimmed "strict" fires the When (the raw
    " strict " would not) and v fails min(5)."""
    df = spark.createDataFrame(
        [(1, {"mode": " strict "}, "ab"), (2, {"mode": "lax"}, "ab")],
        "id int, m map<string,string>, v string")
    schema = K.object({
        "m": K.object().keys({"mode": K.string().trim()}),
        "v": K.string().when("m.mode", "strict", K.string().min(5)),
    })
    res = validate(df, schema, id_cols=["id"])
    got = {r["id"]: r["_pass"] for r in res.annotated.collect()}
    assert got == {1: False, 2: True}
    v1 = res.violations.collect()[0]
    assert (v1["rule_path"], v1["rule_name"]) == ("v", "min")


def test_map_presence_reads_original_after_child_default(spark):
    """DOCUMENTED DEVIATION (compiler._h_keys MapType branch): a child
    Default lands in ctx (When-ref visible, see above) but cannot be
    written back into a typed map column, so a later With still reads
    the ORIGINAL map and fails on the absent key. The reference writes
    the default into the Go map and its With would pass — the divergence
    is confined to presence-after-mutation on map documents and is the
    reason the tree fuzz's map arm disables oracle write-back."""
    df = spark.createDataFrame([(1, {"k1": "a"})], "id int, m map<string,string>")
    schema = K.object({
        "m": K.object().keys({"k2": K.string().default("x")}).with_keys("k2"),
    })
    res = validate(df, schema, id_cols=["id"])
    assert not res.annotated.collect()[0]["_pass"]
    v = res.violations.collect()[0]
    assert (v["rule_path"], v["rule_name"]) == ("m", "with")
    assert v["message"] == "field `m` not contains k2"
