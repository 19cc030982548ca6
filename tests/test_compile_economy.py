"""The compile economy of the rule plan: each Go-%v rendering is built
once per value state, and reusing it leaves the plan Spark runs
unchanged; the chain is SQL text, so compiling it crosses to the JVM
not at all and preparing it a few times per dependency level; a field
of the root document is its plain column; and run() annotates the
table once."""

import json
import re

import pytest

from jio_spark import compiler
from jio_spark.audio.synth import CLIPS_SCHEMA
from jio_spark.runner import default_clip_rules


def _optimized_plan(df, compiled) -> str:
    out = compiled.prepare(df).select(
        compiled.row_pass.alias("_pass"),
        compiled.violations_array.alias("_violations"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # expression ids and the per-compile SSA prefix differ between any
    # two compiles of the same rules
    return re.sub(r"_js\d+_", "_js_", re.sub(r"#\d+L?", "#", plan))


def test_display_renders_each_value_state_once(spark, monkeypatch):
    """default_clip_rules has 19 rules over the root object and five
    fields. Every rule's actual value and message render the value its
    field holds at that point, and no rule there changes a value, so
    fmt_col runs once per field plus once for the root: 6 calls, not one
    per display() (43)."""
    calls = []
    real = compiler.fmt_col

    def counting(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(compiler, "fmt_col", counting)
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    compiled = compiler.compile_ruleset(df, default_clip_rules())
    assert len(compiled.entries) == 19
    assert len(calls) == 6


def test_memoized_display_keeps_the_plan(spark, monkeypatch):
    """The optimized plan of the validated frame is the same whether each
    rendering is built once or rebuilt at every use."""
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    memo = _optimized_plan(df, compiler.compile_ruleset(
        df, default_clip_rules()))
    real = compiler.ColState.display

    def rebuilt(self):
        self._shown = None
        return real(self)

    monkeypatch.setattr(compiler.ColState, "display", rebuilt)
    assert _optimized_plan(df, compiler.compile_ruleset(
        df, default_clip_rules())) == memo


def test_compile_and_prepare_cross_the_jvm_boundary_per_stage(spark,
                                                              monkeypatch):
    """The rule chain is SQL text: compiling it makes no py4j call, and
    prepare parses each dependency level of stages with a few calls, not
    one per expression node (building it as Columns made 8.9-9.9k)."""
    from py4j.java_gateway import GatewayClient
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    compiler.compile_ruleset(df, default_clip_rules()).prepare(df)
    sends = []
    real = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sends.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    compiled = compiler.compile_ruleset(df, default_clip_rules())
    compiled_sends = len(sends)
    compiled.prepare(df)
    monkeypatch.undo()
    assert compiled_sends == 0
    assert len(sends) <= 500, len(sends)


def _expression_tree(expr):
    """(class name, children) of a JVM expression, from its JSON form
    (its nodes in pre-order, each with its child count)."""
    nodes = json.loads(expr.toJSON())

    def build(i):
        node, kids, j = nodes[i], [], i + 1
        for _ in range(node["num-children"]):
            kid, j = build(j)
            kids.append(kid)
        return (node, kids), j

    return build(0)[0]


def _walk(tree):
    yield tree
    for kid in tree[1]:
        yield from _walk(kid)


def test_violations_read_plain_root_columns(spark):
    """No rule reads a field out of a struct of the whole row: the
    analyzed violations expression builds no struct over the root
    columns and extracts no struct field (building the root document as
    one struct gave 389 of each)."""
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    compiled = compiler.compile_ruleset(df, default_clip_rules())
    out = compiled.prepare(df).select(
        compiled.violations_array.alias("_violations"))
    expr = out._jdf.queryExecution().analyzed().expressions().apply(0)
    roots = set(df.columns)
    for node, kids in _walk(_expression_tree(expr)):
        cls = node["class"].rsplit(".", 1)[1]
        assert cls != "GetStructField"
        if cls == "CreateNamedStruct":
            members = {k["name"] for k, _ in kids
                       if k["class"].endswith("AttributeReference")}
            assert not members & roots, members


def _meta_frame(spark):
    rows = [(f"clip_{i:012d}", 16000 if i % 7 else 1234, 200 + i,
             "ulaw" if i % 5 else "mp3", "hello", i % 16)
            for i in range(96)]
    return spark.createDataFrame(
        rows, "clip_id string, sr_hz int, dur_ms int, codec string, "
              "transcript string, bucket_id int")


@pytest.mark.parametrize("nondeterministic", [False, True])
def test_run_annotates_once(spark, monkeypatch, nondeterministic):
    """A 4-group run() builds the violations annotation once, and every
    group filters it. A chain holding rand() cannot be shared that way,
    so it is annotated once per group."""
    from pyspark.sql import functions as F
    from jio_spark import K
    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)
    calls = []
    real = ClipsValidationJob._annotate

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClipsValidationJob, "_annotate", counting)
    rules = default_clip_rules()
    if nondeterministic:
        rules = K.object({
            "clip_id": K.string().required(),
            "transcript": K.string().transform(
                lambda c: F.when(F.rand() * 2 >= 0, c)).min(1)})
    cfg = ClipsJobConfig(rules=rules, group_size=4, audio_check=False,
                         drift=False)
    m = ClipsValidationJob(spark, cfg, codec_dim=default_codec_dim(spark)) \
        .run(_meta_frame(spark))
    assert m["groups_run"] == 4 and m["rows"] == 96
    assert m["violations"] > 0
    assert len(calls) == (4 if nondeterministic else 1)


def _column_snapshot_rows(df, specs, accuracy=2500):
    """The drift snapshot's two aggregates built as Columns, one call per
    node: the rows snapshot() must reproduce."""
    from pyspark.sql import functions as F
    from jio_spark.operators.drift import N_QUANTILES
    ps = [i / (N_QUANTILES - 1) for i in range(N_QUANTILES)]
    row = df.agg(F.count(F.lit(1)).alias("rows"), *[
        F.percentile_approx(F.col(c).cast("double"), ps, accuracy)
        .alias(c) for c in specs]).collect()[0]
    buckets = []
    for c, spec in specs.items():
        col = F.col(c).cast("double")
        w = (spec.hi - spec.lo) / spec.bins
        bucket = F.when(col < spec.lo, F.lit(-1)) \
            .when(col >= spec.hi, F.lit(spec.bins)) \
            .otherwise(F.floor((col - F.lit(spec.lo)) / F.lit(w)))
        buckets.append(F.struct(F.lit(c).alias("c"),
                                bucket.cast("int").alias("b")))
    counts = {(r["c"], r["b"]): r["n"] for r in
              df.select(F.explode(F.array(*buckets)).alias("p"))
              .select("p.c", "p.b").where(F.col("b").isNotNull())
              .groupBy("c", "b").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    return sorted(
        (c, row["rows"], float(spec.lo), float(spec.hi), list(row[c]),
         [counts.get((c, i), 0) for i in range(-1, spec.bins + 1)])
        for c, spec in specs.items())


def test_snapshot_aggregates_cross_the_jvm_boundary_once(spark,
                                                         monkeypatch):
    """The drift snapshot builds its quantile and histogram aggregates as
    SQL text: a warm call makes a bounded number of py4j sends (the 101
    quantile probabilities built one literal at a time made about 1.4k),
    and its rows equal those of the same aggregates built as Columns."""
    from py4j.java_gateway import GatewayClient
    from jio_spark.operators.drift import snapshot
    from jio_spark.runner import DRIFT_SPECS
    df = _meta_frame(spark).union(spark.createDataFrame(
        [("clip_x", None, None, "ulaw", "", 3),
         ("clip_y", 96000, 99999, "ulaw", "", 3),
         ("clip_z", -1, 0, "ulaw", "", 3)], _meta_frame(spark).schema))
    want = _column_snapshot_rows(df, DRIFT_SPECS)
    snapshot(df, DRIFT_SPECS)
    sends = []
    real = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sends.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    snap = snapshot(df, DRIFT_SPECS)
    monkeypatch.undo()
    print("snapshot sends", len(sends))
    assert len(sends) <= 200, len(sends)
    assert sorted(tuple(r) for r in snap.collect()) == [
        tuple(r) for r in want]
