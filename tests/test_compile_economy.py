"""The compile economy of the rule plan: each Go-%v rendering is built
once per value state, and reusing it leaves the plan Spark runs
unchanged; the chain is SQL text, so compiling it crosses to the JVM
not at all and preparing it a few times per dependency level; a field
of the root document is its plain column; run() annotates the table
once; and the drift snapshot, the decode-violation frame and the
observe aggregates are SQL text, each parsed in one call."""

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


def _count_sends(monkeypatch, fn):
    """(fn(), py4j sends made while it ran)."""
    from py4j.java_gateway import GatewayClient
    sends = []
    real = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sends.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        return fn(), len(sends)
    finally:
        monkeypatch.undo()


def test_compile_and_prepare_cross_the_jvm_boundary_per_stage(spark,
                                                              monkeypatch):
    """The rule chain is SQL text: compiling it makes no py4j call, and
    prepare parses each dependency level of stages with a few calls, not
    one per expression node (building it as Columns made 8.9-9.9k)."""
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    compiler.compile_ruleset(df, default_clip_rules()).prepare(df)
    compiled, compiled_sends = _count_sends(
        monkeypatch, lambda: compiler.compile_ruleset(
            df, default_clip_rules()))
    _, prepare_sends = _count_sends(monkeypatch,
                                    lambda: compiled.prepare(df))
    assert compiled_sends == 0
    assert prepare_sends <= 500, prepare_sends


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
    from jio_spark.operators.drift import snapshot
    from jio_spark.runner import DRIFT_SPECS
    df = _meta_frame(spark).union(spark.createDataFrame(
        [("clip_x", None, None, "ulaw", "", 3),
         ("clip_y", 96000, 99999, "ulaw", "", 3),
         ("clip_z", -1, 0, "ulaw", "", 3)], _meta_frame(spark).schema))
    want = _column_snapshot_rows(df, DRIFT_SPECS)
    snapshot(df, DRIFT_SPECS)
    snap, sends = _count_sends(monkeypatch,
                               lambda: snapshot(df, DRIFT_SPECS))
    print("snapshot sends", sends)
    assert sends <= 200, sends
    assert sorted(tuple(r) for r in snap.collect()) == [
        tuple(r) for r in want]


def _column_decode_violations(results, extra_cols, snr_threshold):
    """decode_violations built as Columns, one call per node: the rows
    the SQL-text frame must reproduce."""
    from pyspark.sql import functions as F
    from jio_spark.audio.decode import threshold_for
    if isinstance(snr_threshold, dict):
        generic = ">= per-codec dB threshold vs reference"
        if "codec" in results.columns:
            chain = F.lit(f">= {threshold_for(snr_threshold, 'default'):g}"
                          f"dB vs reference")
            for c in sorted(k for k in snr_threshold if k != "default"):
                chain = F.when(
                    F.col("codec") == c,
                    F.lit(f">= {threshold_for(snr_threshold, c):g}dB "
                          f"vs reference")).otherwise(chain)
            snr_expected = F.when(~F.col("codec_match"),
                                  F.lit(generic)).otherwise(chain)
        else:
            snr_expected = F.lit(generic)
    else:
        snr_expected = F.lit(f">= {float(snr_threshold):g}dB vs reference")
    snr_actual = F.when(~F.isnan(F.col("snr_db")),
                        F.format_string("%.2fdB", F.col("snr_db")))
    err = F.col("error")
    checks = [
        ("decode_ok", "bytes", "decode", F.lit("decodable payload"),
         "payload failed to decode",
         F.coalesce(err, F.lit("payload failed to decode"))),
        ("codec_match", "codec", "codec_consistency",
         F.lit("container format == codec"),
         "declared codec != container format",
         F.lit("declared codec != container format")),
        ("sr_match", "sr_hz", "sr_consistency", F.lit("declared == decoded"),
         "declared sr_hz != decoded sample rate",
         F.lit("declared sr_hz != decoded sample rate")),
        ("dur_match", "dur_ms", "dur_consistency",
         F.lit("declared ~= decoded"),
         "declared dur_ms != decoded duration",
         F.lit("declared dur_ms != decoded duration")),
        ("snr_ok", "bytes", "snr", snr_expected,
         "decoded PCM SNR below threshold vs reference",
         F.coalesce(snr_actual, err, F.lit(
             "decoded PCM SNR below threshold vs reference"))),
        ("transcript_match", "transcript", "transcript_equality",
         F.lit("== reference transcript"), "transcript != reference",
         F.coalesce(err, F.lit("transcript != reference"))),
    ]
    structs = [
        F.when(~F.col(flag), F.struct(
            F.lit(path).alias("rule_path"), F.lit(name).alias("rule_name"),
            expected.alias("expected"), actual.alias("actual"),
            F.concat(F.lit(f"field `{path}` "), F.lit(msg),
                     F.lit(" (clip "),
                     F.coalesce(F.col("clip_id"), F.lit("<null>")),
                     F.lit(")")).alias("message")))
        .otherwise(F.lit(None))
        for flag, path, name, expected, msg, actual in checks]
    return (results
            .withColumn("_v", F.explode(F.array_compact(F.array(*structs))))
            .select("clip_id", "_v.rule_path", "_v.rule_name",
                    "_v.expected", "_v.actual", "_v.message", *extra_cols))


def _decode_results(spark):
    """Decode-result rows with every flag failing (alone and together),
    a NULL clip_id, NaN and measured snr_db, and errors set and unset,
    over codecs with and without a gate of their own."""
    from jio_spark.audio.decode import DECODE_RESULT_SCHEMA
    nan = float("nan")
    flags = ["decode_ok", "codec_match", "sr_match", "dur_match", "snr_ok",
             "transcript_match"]
    rows = []
    for i in range(len(flags) + 2):
        ok = [j != i for j in range(len(flags))]
        if i == len(flags):
            ok = [False] * len(flags)       # every flag failing
        rows.append(dict(zip(flags, ok), clip_id=f"clip_{i:012d}",
                         snr_db=12.345 if i % 2 else nan,
                         error="bad header" if i % 3 == 0 else None,
                         codec=["ulaw", "adpcm_ima", "alaw", None][i % 4]))
    rows.append(dict(zip(flags, [True, False, True, True, False, False]),
                     clip_id=None, snr_db=nan, error=None, codec="ulaw"))
    rows.append(dict(zip(flags, [True] * 6), clip_id="clip_ok",
                     snr_db=41.0, error=None, codec="alaw"))
    schema = DECODE_RESULT_SCHEMA + ", bucket_id int, codec string"
    names = [f.split()[0] for f in schema.split(", ")]
    return spark.createDataFrame(
        [tuple({**r, "n_samples": 80, "bucket_id": k % 3}.get(c)
               for c in names) for k, r in enumerate(rows)], schema)


@pytest.mark.parametrize("gate,with_codec", [
    (30.0, True), (25.5, False),
    ({"adpcm_ima": 26.0, "ulaw": 35.0, "default": 31.0}, True),
    ({"adpcm_ima": 26.0, "default": 31.0}, False)])
def test_decode_violations_cross_the_jvm_boundary_once(spark, monkeypatch,
                                                       gate, with_codec):
    """decode_violations is one SQL-text select: a call makes a bounded
    number of py4j sends (built as Columns it made about 1.2k on a
    per-codec gate), and its rows equal those of the Column-built frame
    under a scalar gate and a per-codec gate, with and without a codec
    column."""
    from jio_spark.audio.decode import decode_violations
    results = _decode_results(spark)
    if not with_codec:
        results = results.drop("codec")
    want = sorted(map(tuple, _column_decode_violations(
        results, ["bucket_id"], gate).collect()), key=repr)
    decode_violations(results, ["bucket_id"], gate)
    got, sends = _count_sends(monkeypatch, lambda: decode_violations(
        results, extra_cols=["bucket_id"], snr_threshold=gate))
    print("decode_violations sends", sends)
    assert sends <= 40, sends
    rows = got.collect()
    assert got.columns == ["clip_id", "rule_path", "rule_name", "expected",
                           "actual", "message", "bucket_id"]
    assert sorted(map(tuple, rows), key=repr) == want
    assert len(rows) == 6 + 6 + 3     # one each, all six, the NULL id's


def test_stats_exprs_cross_the_jvm_boundary_once(spark, monkeypatch):
    """stats_exprs renders its aggregates as SQL text: a warm call makes
    a bounded number of py4j sends (527 as Columns on the run's stat
    columns), and every aggregate but the randomized KLL sketch equals
    the Column-built one, on binary, string, integral and double
    columns holding NULLs."""
    from pyspark.sql import functions as F
    from jio_spark.operators.stats import stats_exprs
    df = spark.createDataFrame(
        [(f"c{i}" if i % 5 else None, i if i % 7 else None,
          i / 3 if i % 4 else None, bytes(i % 9) if i % 6 else None)
         for i in range(200)],
        "s string, n int, d double, b binary")
    cols = ["s", "n", "d", "b"]

    def column_exprs(hll):
        out = [F.count(F.lit(1)).alias("rows")]
        for c, kind in zip(cols, ["str", "int", "num", "bin"]):
            col = F.col(c)
            out.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
            if kind == "bin":
                out += [F.sum(F.octet_length(col)).alias(f"{c}__bytes"),
                        F.avg(F.octet_length(col)).alias(f"{c}__avg_bytes")]
            elif hll and kind in ("str", "int"):
                h = col.cast("bigint") if kind == "int" else col
                out.append(F.hll_sketch_agg(h).alias(f"{c}__hll"))
            else:
                out.append(F.approx_count_distinct(col)
                           .alias(f"{c}__distinct"))
            if kind in ("int", "num"):
                out += [F.min(col).alias(f"{c}__min"),
                        F.max(col).alias(f"{c}__max"),
                        F.avg(col).alias(f"{c}__mean"),
                        F.percentile_approx(col, [0.0, 0.5, 1.0], 1000)
                        .alias(f"{c}__quantiles"),
                        F.kll_sketch_agg_double(col.cast("double"))
                        .alias(f"{c}__kll")]
            elif kind == "str":
                out += [F.min(F.length(col)).alias(f"{c}__min_len"),
                        F.max(F.length(col)).alias(f"{c}__max_len"),
                        F.avg(F.length(col)).alias(f"{c}__mean_len")]
        return out

    for hll in (False, True):
        kw = dict(quantiles=[0.0, 0.5, 1.0], accuracy=1000,
                  hll_sketch=hll, kll_quantiles=True)
        stats_exprs(df, cols, **kw)
        exprs, sends = _count_sends(
            monkeypatch, lambda: stats_exprs(df, cols, **kw))
        print("stats_exprs sends", sends)
        assert sends <= 3 * len(exprs) + 10, sends
        want = df.agg(*column_exprs(hll)).collect()[0].asDict()
        got = df.agg(*exprs).collect()[0].asDict()
        assert list(got) == list(want)
        kll = [k for k in got if k.endswith("__kll")]
        assert kll == ["n__kll", "d__kll"]
        assert all(got[k] is not None for k in kll)
        assert {k: v for k, v in got.items() if k not in kll} \
            == {k: v for k, v in want.items() if k not in kll}
