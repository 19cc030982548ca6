"""The compile economy of the rule plan: each Go-%v rendering is built
once per value state, and reusing it leaves the plan Spark runs
unchanged."""

import re

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
