"""Regex rules follow Go RE2 on line terminators (no Hypothesis: every
terminator is pinned). Without flags RE2's ``.`` excludes only ``\\n``
and ``$`` matches only at the end of the text; Java's defaults differ
on both (``.`` excludes ``\\r \\x85 \\u2028 \\u2029`` too, and ``$``
also matches before a final terminator)."""

import pytest

from jio_oracle import jio_validate
from jio_spark import K, validate

TERMINATORS = ["\n", "\r", "\x85", "\u2028", "\u2029"]


def _go_cases():
    """(pattern, value, Go's regexp.MatchString verdict)."""
    for t in TERMINATORS:
        yield r"c$", "c" + t, False
        yield r"c$", t + "c", True
        yield r"a.c", "a" + t + "c", t != "\n"
        yield r"^[abc]+$", "ab" + t, False
        yield r"^[abc]+$", t + "ab", False
    yield r"c$", "c", True
    yield r"a.c", "abc", True
    yield r"^[abc]+$", "abc", True
    # a `$` inside a class or escaped is a literal, not the anchor
    yield r"[$]", "a$b", True
    yield r"\$\d$", "$5", True
    # under (?m) `$` ends a line, and lines end only at '\n'
    for t in TERMINATORS:
        yield r"(?m)c$", "c" + t + "x", t == "\n"


@pytest.mark.parametrize("pattern", sorted({p for p, _, _ in _go_cases()}))
def test_regex_line_terminators_match_go(spark, pattern):
    cases = [(v, want) for p, v, want in _go_cases() if p == pattern]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(cases)], "id int, v string")
    res = validate(df, K.object({"v": K.string().regex(pattern)}),
                   id_cols=["id"])
    got = {r["id"]: r["p"] for r in res.prepared.select(
        "id", res.compiled.row_pass.alias("p")).collect()}
    for i, (v, want) in enumerate(cases):
        assert got[i] is want, f"engine: {pattern!r} on {v!r}"
        err, _ = jio_validate(K.string().regex(pattern), v)
        assert (err is None) is want, f"oracle: {pattern!r} on {v!r}"


def _parse_string_cases():
    """(value, Go's strconv.ParseFloat accepts it)."""
    for t in TERMINATORS:
        for lit in ("1", "-2.5e3", "inf", "-Infinity"):
            yield lit + t, False
            yield t + lit, False
    for lit in ("1", "-2.5e3", "inf", "-Infinity"):
        yield lit, True


def test_parse_string_rejects_line_terminators(spark):
    """A number or inf followed by a line terminator is not a Go float
    literal: the engine's patterns must end at the end of the text, and
    so must the oracle's."""
    cases = list(_parse_string_cases())
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(cases)], "id int, v string")
    schema = K.number().parse_string()
    res = validate(df, K.object({"v": schema.clone()}), id_cols=["id"])
    got = {r["id"]: r["p"] for r in res.prepared.select(
        "id", res.compiled.row_pass.alias("p")).collect()}
    for i, (v, want) in enumerate(cases):
        assert got[i] is want, f"engine: {v!r}"
        err, _ = jio_validate(schema.clone(), v)
        assert (err is None) is want, f"oracle: {v!r}"
