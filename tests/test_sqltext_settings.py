"""The compiled rule text parses to the same values whatever the caller's
parser settings: literals holding a quote, a backslash, a backtick,
non-BMP text, NaN and ±inf, a regex with an escaped backslash and an end
anchor, and a column name with a backtick give the oracle's verdicts
under every combination of ``escapedStringLiterals`` and ANSI mode."""

import pytest

from jio_oracle import jio_validate_tree
from jio_spark import K, validate
from jio_spark.gofmt import go_repr_list

ODD = "x'y\\z\U0001F600"
MEMBERS = ("it's", "a\\b", "`tick`", "\U0001F600x")
NAN, INF = float("nan"), float("inf")


def _rules():
    return {
        "s": K.string().valid(*MEMBERS),
        # `\\` is one literal backslash; `$` must not match before '\n'
        "r": K.string().regex(r"^a\\b\d$"),
        "x": K.number().valid(NAN, INF, -1.5).max(INF).min(-INF),
        "t": K.string().default(ODD).valid(ODD, "ok"),
        "q`": K.number().min(0),
    }


ROWS = [
    ("it's", "a\\b5", -1.5, None, 1.0),
    ("a\\b", "a\\b5", INF, "ok", 0.0),
    ("`tick`", "ab5", 1.0, "ok", 1.0),
    ("\U0001F600x", "a\\b5\n", -1.5, "ok", 1.0),
    ("it", "a\\b5", -1.5, "ok", 1.0),
    ("a\\b", "a\\b5", NAN, "ok", 1.0),
    ("a\\b", "a\\b5", -INF, "ok", 1.0),
    ("a\\b", "a\\b5", -1.5, "no", 1.0),
    ("a\\b", "a\\b5", -1.5, ODD, -1.0),
]
COLS = ["s", "r", "x", "t", "q`"]


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("ansi", ["false", "true"])
def test_rule_text_ignores_parser_settings(spark, escaped, ansi):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(ROWS)],
        "id int, s string, r string, x double, t string, `q``` double")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        res = validate(df, K.object(_rules()), id_cols=["id"])
        first = {r["id"]: (r["rule_path"], r["rule_name"], r["expected"])
                 for r in res.first_violations.collect()}
        norm = {r["id"]: r["t"] for r in res.normalized.collect()}
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        spark.conf.unset("spark.sql.ansi.enabled")
    expected = {(e.path, e.rule_name): e.expected
                for e in res.compiled.entries}
    assert expected["s", "valid"] == go_repr_list(MEMBERS)
    for i, row in enumerate(ROWS):
        err, doc = jio_validate_tree(_rules(), dict(zip(COLS, row)))
        got = first.get(i)
        assert (got and got[:2]) == (err and tuple(err)), (i, row, got)
        if got:
            # the expected text came through its SQL literal intact
            assert got[2] == expected[got[:2]], (i, got)
        if err is None:
            assert norm[i] == doc["t"], (i, norm[i], doc["t"])
    assert norm[0] == ODD
