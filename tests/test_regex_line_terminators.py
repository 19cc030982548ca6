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


def _re2_dialect_cases():
    """(pattern, value, Go's regexp.MatchString verdict), each verdict
    read off RE2's syntax table, where Java's default reading differs."""
    # \b and \B are ASCII word boundaries: é is not a word character
    yield r"\bé", "é", False
    yield r"a\b", "aé", True
    yield r"a\B", "aé", False
    # ... whatever the case flags: the Kelvin sign folds to k, but is
    # not an ASCII word character
    yield r"(?i)\bk", "K", False
    # (?i) folds Unicode
    yield r"(?i)k", "K", True
    yield r"(?i)é", "É", True
    yield r"(?i)^k$", "K", True
    # \p{Greek} names a script, with or without negation, in a class too
    yield r"^\p{Greek}+$", "αβγ", True
    yield r"^\p{Greek}+$", "abc", False
    yield r"^\P{Greek}+$", "abc", True
    yield r"^\p{^Greek}+$", "abc", True
    yield r"^[\p{Greek}\d]+$", "α1", True
    yield r"^\pL\p{Lu}$", "aB", True
    # \s is [\t\n\f\r ]: no \x0B, in a class or out of one
    yield r"^\s$", "\x0b", False
    yield r"^\s$", "\x0c", True
    yield r"^\S$", "\x0b", True
    yield r"^[^\s]$", "\x0b", True
    yield r"^[\s]$", "\x0b", False
    # \v is the one character \x0B, not a class of vertical space
    yield r"^\v$", "\x0b", True
    yield r"^\v$", "\n", False
    yield r"^[\v]$", "\x85", False


@pytest.mark.parametrize("pattern", sorted({p for p, _, _ in
                                            _re2_dialect_cases()}))
def test_regex_dialect_matches_re2(spark, pattern):
    """Word boundaries, case folding and Unicode script classes follow
    RE2, not Java's default reading of the same pattern."""
    cases = [(v, want) for p, v, want in _re2_dialect_cases()
             if p == pattern]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(cases)], "id int, v string")
    res = validate(df, K.object({"v": K.string().regex(pattern)}),
                   id_cols=["id"])
    got = {r["id"]: r["p"] for r in res.prepared.select(
        "id", res.compiled.row_pass.alias("p")).collect()}
    for i, (v, want) in enumerate(cases):
        assert got[i] is want, f"engine: {pattern!r} on {v!r}"
