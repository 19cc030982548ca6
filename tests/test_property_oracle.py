"""Property tests: compiled Column verdicts vs the pure-Python jio oracle
(SURVEY.md §5.2 item 4 — the reference has no property tests; we add them).

Each Hypothesis example is a BATCH of values packed into one DataFrame so
a whole example costs one Spark job, keeping runtime sane."""

import math
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from jio_spark import K, validate
from jio_oracle import jio_validate

SETTINGS = dict(max_examples=6, deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.too_slow,
                                       HealthCheck.function_scoped_fixture])

finite_doubles = st.one_of(
    st.none(),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
              allow_infinity=False),
    st.integers(min_value=-10**6, max_value=10**6).map(float))

safe_text = st.one_of(
    st.none(),
    st.text(alphabet="abcXYZ019 _\t.é\xa0\u3000\u2028\x1c"
                     "\r\x85\u2029\v\f"
                     "\xdf\u03a3\u03c2\u0130\U00010428",
            min_size=0, max_size=12))
# the second alphabet row: the other line terminators and whitespace
# (CR, NEL, PS, VT, FF) that regex anchors and trims treat differently;
# the third: ß Σ ς İ 𐐨 — full-vs-simple case-mapping divergers (and
# 2-/4-byte UTF-8, so byte-length rules see them too)


def run_chain(spark, schema, values, dtype):
    df = spark.createDataFrame(
        list(zip(range(len(values)), values)), f"id int, v {dtype}")
    res = validate(df, K.object({"v": schema.clone()}), id_cols=["id"])
    norm = res.compiled.normalized["v"]
    rows = (res.prepared
            .select("id", res.compiled.row_pass.alias("p"),
                    norm.alias("n"))
            .orderBy("id").collect())
    return [(r["p"], r["n"]) for r in rows]


def check(spark, schema, values, dtype):
    got = run_chain(spark, schema, values, dtype)
    for val, (g_pass, g_norm) in zip(values, got):
        err, o_val = jio_validate(schema, val)
        assert g_pass == (err is None), \
            f"value={val!r}: spark pass={g_pass}, oracle err={err}"
        if err is None and isinstance(o_val, float) and g_norm is not None:
            if math.isnan(o_val):
                assert math.isnan(float(g_norm)), (val, g_norm, o_val)
            else:
                assert math.isclose(float(g_norm), o_val, rel_tol=1e-9,
                                    abs_tol=1e-9), (val, g_norm, o_val)


@settings(**SETTINGS)
@given(st.lists(finite_doubles, min_size=1, max_size=40),
       st.floats(-100, 100, allow_nan=False),
       st.floats(-100, 100, allow_nan=False),
       st.booleans())
def test_number_chains(spark, values, lo, hi, req):
    s = K.number()
    s = s.required() if req else s.optional()
    s = s.min(min(lo, hi)).max(max(lo, hi))
    check(spark, s, values, "double")


@settings(**SETTINGS)
@given(st.lists(finite_doubles, min_size=1, max_size=40),
       st.sampled_from(["ceil", "floor", "round", "integer"]))
def test_number_mutations(spark, values, op):
    s = getattr(K.number(), op)()
    check(spark, s, values, "double")


@settings(**SETTINGS)
@given(st.lists(safe_text, min_size=1, max_size=40),
       st.integers(0, 8), st.integers(0, 16),
       st.sampled_from(["lowercase", "uppercase", "trim", "none"]))
def test_string_chains(spark, values, lo, hi, op):
    """The safe_text alphabet includes NBSP / ideographic space / LS
    (White_Space: trimmed) and \\x1c (NOT White_Space: kept) so `trim`
    is differentially checked against the Go-exact oracle set."""
    s = K.string().min(min(lo, hi)).max(max(lo, hi))
    if op == "lowercase":
        s = s.lowercase()
    elif op == "uppercase":
        s = s.uppercase()
    elif op == "trim":
        s = s.trim()
    check(spark, s, values, "string")


@settings(**SETTINGS)
@given(st.lists(st.one_of(st.none(),
                          st.text(alphabet="0123456789.xab", min_size=0,
                                  max_size=8)),
                min_size=1, max_size=40))
def test_parse_string_chain(spark, values):
    s = K.number().parse_string().min(-1e9).max(1e9)
    # Go ParseFloat and Spark try_cast diverge on corner spellings like
    # "." or "0x1p3"; restrict to plain decimal-ish inputs (dialect note
    # in SURVEY.md §7 "exactness corners")
    check(spark, s, values, "string")


@settings(**SETTINGS)
@given(st.lists(st.one_of(st.none(), st.sampled_from(
    ["on", "off", "yes", "no", "maybe", ""])), min_size=1, max_size=30))
def test_bool_coercions(spark, values):
    s = K.bool().truthy("on", "yes").falsy("off", "no")
    check(spark, s, values, "string")


_MEMBER_POOL = ["a", "bc", "", "é9", "X _"]


@settings(**SETTINGS)
@given(st.lists(st.one_of(st.none(), st.sampled_from(_MEMBER_POOL),
                          safe_text),
                min_size=1, max_size=30),
       st.lists(st.sampled_from(_MEMBER_POOL), min_size=1, max_size=4,
                unique=True),
       st.sampled_from(["valid", "equal", "set_then_equal"]))
def test_string_membership_chains(spark, values, members, op):
    """Valid / Equal / Set against the pure-Python oracle — including
    Set's unconditional replacement being visible to a later Equal."""
    if op == "valid":
        s = K.string().valid(*members)
    elif op == "equal":
        s = K.string().equal(members[0])
    else:
        s = K.string().set(members[0]).equal(members[0])
    check(spark, s, values, "string")


@settings(**SETTINGS)
@given(st.lists(finite_doubles, min_size=1, max_size=30),
       st.lists(st.integers(-3, 3).map(float), min_size=1, max_size=4,
                unique=True))
def test_number_membership_chains(spark, values, members):
    check(spark, K.number().valid(*members), values, "double")


@settings(**SETTINGS)
@given(st.lists(safe_text, min_size=1, max_size=30),
       st.sampled_from([r"^a", r"[0-9]", r"c$", r"a.c", r"^[abc]+$",
                        r"\d\d"]))
def test_regex_chain(spark, values, pattern):
    """Unanchored must-match regex — patterns restricted to the
    RE2∩Java∩Python shared dialect (SURVEY.md conformance corpus
    note)."""
    check(spark, K.string().regex(pattern), values, "string")


_GOISH_CORNERS = [
    "1_000.5", "1_000", "1e1_0", "_1", "1_", "1__0", "1_.5", "1._5",
    "1.5_", "1e_1", "1e309", "-1e309", "1e308", "1e-400", " 1", "1 ",
    "+inf", "-Infinity", "NaN", "nan", "INF", ".5", "5.", "+.5e-2",
    "0x1p-3", "1e", "e1", ".", "+", "-", "", "1..2", "1e+.2",
    # non-ASCII decimal digits: Python's default \d matches them and
    # float() parses them, but Go strconv and Java rlike \d are
    # ASCII-only — the oracle compiles with re.ASCII to agree (r3 ADVICE)
    "١٢", "1٢", "٣.5", "۴۵",
]

goish_literals = st.one_of(
    st.sampled_from(_GOISH_CORNERS),
    st.text(alphabet="0123456789_.eE+- ", min_size=0, max_size=12))


@settings(**SETTINGS)
@given(st.lists(st.one_of(st.none(), goish_literals),
                min_size=1, max_size=40))
def test_parse_string_go_syntax_differential(spark, values):
    """Differential fuzz of the Go ParseFloat translation: random
    digit/underscore/exponent/sign/space strings (plus a corner pool:
    underscore placements, ErrRange magnitudes, padding, inf/nan forms,
    hex floats) must get the same verdict and parsed value from the
    compiled regex+cast path and the pure-Python Go-syntax oracle.

    Documented exactness corners excluded: extreme underflow ('1e-400'
    and random tiny exponents parse to 0.0 here but ErrRange in Go —
    compiler.py documents this), so magnitude-underflow strings are
    filtered from the random pool."""
    def underflows(x):
        if x is None or not any(ch.isdigit() for ch in x):
            return False
        try:
            return float(x.replace("_", "")) == 0.0 \
                and not all(c in "0.+-_eE " for c in x)
        except ValueError:
            return False
    vals = [x for x in values if not underflows(x)]
    if not vals:
        vals = ["1"]
    check(spark, K.number().parse_string(), vals, "string")


# ---------------------------------------------------------------------------
# random nested schema-tree differential fuzz (round-4 VERDICT task 2)
#
# Each example draws a random rule TREE — Object/Keys walks (2-3 levels,
# shuffled priorities), Array/Items multi-schema OR, When with value and
# schema conditions against dotted root refs, mixed Required/Optional/
# Default/Set/mutations — plus a batch of random documents, and asserts
# the compiled engine agrees with the pure-Python reference interpreter
# (tests/jio_oracle.py) on: the row verdict, the FIRST violation's
# (rule_path, rule_name) in jio walk order (object.go:139-169 first-error
# stop), and, for passing rows, every normalized output column (the
# write-back at object.go:163-165). Reference semantics under fuzz:
# object.go:139-169, schema.go:21-37, array.go:94-114, context.go:30-45.

from pyspark.sql import functions as F

from jio_oracle import jio_validate_tree

TREE_SCHEMA = ("id int, a double, b string, c boolean, "
               "o struct<x: double, y: string, z: struct<w: double, u: string>>, "
               "arr array<double>, m map<string,string>")
# normalized compare covers every column EXCEPT the map: write-back into
# a typed map column is not representable (documented in _h_keys'
# MapType branch), so `m` participates in verdict/first-error checks only
TREE_COLS = ["a", "b", "c", "o", "arr"]
MKEYS = ["k1", "k2"]

D_POOL = [-2.0, -1.5, -1.0, 0.0, 0.5, 1.0, 2.5, 3.0, 7.0]
S_POOL = ["", "a", "ab", "ABC", " x ", "Zz", "abc9", "\xdf", "A\u03a3"]
REGEX_POOL = [r"^a", r"[0-9]", r"^[A-Za-z]+$"]
# "o" / "o.z" are STRUCT-typed refs: a VALUE condition against them is
# Go interface inequality (map vs scalar → plain false), a SCHEMA
# condition validates the struct — incl. the nil-ref corner where an
# optional condition schema SKIPS (Err nil) and the then still fires
REF_POOL = ["a", "b", "c", "o.x", "o.y", "o.z.w", "o", "o.z"]


def _maybe(pool):
    return st.one_of(st.none(), st.sampled_from(pool))


@st.composite
def _nullness(draw, schema, allow_default=None):
    # Required/Optional/Default PREPEND (any.go:45-74), so multiple calls
    # stack in REVERSE order and the combinations are call-order
    # asymmetric (.required().default(v) passes a nil, .default(v)
    # .required() aborts — pinned in test_conformance_bool_any).
    # Drawing 0-2 ops in random order fuzzes those stackings everywhere
    # a leaf appears, including inside Keys walks and Items elements.
    ops = ["req", "opt"] + (["def"] if allow_default is not None else [])
    for kind in draw(st.lists(st.sampled_from(ops), min_size=0,
                              max_size=2)):
        if kind == "req":
            schema.required()
        elif kind == "opt":
            schema.optional()
        else:
            schema.default(draw(allow_default))
    return schema


@st.composite
def _double_leaf(draw, rules=(0, 2)):
    s = draw(_nullness(K.number(), st.sampled_from(D_POOL)))
    for _ in range(draw(st.integers(*rules))):
        r = draw(st.sampled_from(
            ["min", "max", "integer", "ceil", "floor", "round",
             "equal", "valid", "set"]))
        if r in ("min", "max"):
            getattr(s, r)(draw(st.sampled_from(D_POOL)))
        elif r in ("integer", "ceil", "floor", "round"):
            getattr(s, r)()
        elif r == "equal":
            s.equal(draw(st.sampled_from(D_POOL)))
        elif r == "valid":
            s.valid(*draw(st.lists(st.sampled_from(D_POOL), min_size=1,
                                   max_size=3)))
        else:
            s.set(draw(st.sampled_from(D_POOL)))
    return s


@st.composite
def _string_leaf(draw, rules=(0, 2)):
    s = draw(_nullness(K.string(), st.sampled_from(S_POOL)))
    for _ in range(draw(st.integers(*rules))):
        r = draw(st.sampled_from(
            ["min", "max", "lowercase", "uppercase", "trim", "equal",
             "valid", "regex", "set"]))
        if r in ("min", "max"):
            getattr(s, r)(draw(st.integers(0, 5)))
        elif r in ("lowercase", "uppercase", "trim"):
            getattr(s, r)()
        elif r == "equal":
            s.equal(draw(st.sampled_from(S_POOL)))
        elif r == "valid":
            s.valid(*draw(st.lists(st.sampled_from(S_POOL), min_size=1,
                                   max_size=3)))
        elif r == "regex":
            s.regex(draw(st.sampled_from(REGEX_POOL)))
        else:
            s.set(draw(st.sampled_from(S_POOL)))
    return s


@st.composite
def _bool_leaf(draw):
    s = draw(_nullness(K.bool(), st.booleans()))
    r = draw(st.sampled_from(["none", "equal", "valid", "set"]))
    if r == "equal":
        s.equal(draw(st.booleans()))
    elif r == "valid":
        s.valid(draw(st.booleans()))
    elif r == "set":
        s.set(draw(st.booleans()))
    return s


@st.composite
def _cond(draw, want_schema):
    """A When condition: literal value or a condition schema (validated
    against the ref in a fresh context — cross-type gives a clean fail on
    both sides)."""
    if not want_schema:
        return draw(st.sampled_from(D_POOL + S_POOL + [True, False]))
    return draw(st.sampled_from([
        K.number().min(0.0), K.number().integer(),
        K.number().valid(0.0, 1.0, 2.5),
        K.string().min(1), K.string().regex("^a"),
        K.bool().equal(True),
        K.object().with_keys("x"), K.object().without_keys("y"),
        K.object({"w": K.number().min(0.0)})]))


@st.composite
def _with_when(draw, schema, then_strategy):
    """Maybe attach a When — `then` is a same-type chain (the engine's
    full-fidelity path; type-changing thens are a documented deviation)."""
    if draw(st.booleans()):
        schema.when(draw(st.sampled_from(REF_POOL)),
                    draw(_cond(draw(st.booleans()))),
                    draw(then_strategy))
    return schema


@st.composite
def _any_leaf(draw, pool):
    """K.any() over a TYPED column: no final type assertion, Equal/Valid
    under Go interface equality, Set/Default writing into the typed
    carrier (any.go:77-121). Values stay in the column's own pool — the
    cross-type Set corner is a documented deviation pinned in
    test_conformance_review4, not fuzzed here."""
    s = draw(_nullness(K.any(), st.sampled_from(pool)))
    for _ in range(draw(st.integers(0, 2))):
        r = draw(st.sampled_from(["equal", "valid", "set"]))
        if r == "equal":
            s.equal(draw(st.sampled_from(pool)))
        elif r == "valid":
            s.valid(*draw(st.lists(st.sampled_from(pool), min_size=1,
                                   max_size=3)))
        else:
            s.set(draw(st.sampled_from(pool)))
    return s


@st.composite
def _object_z(draw):
    children = {}
    if draw(st.booleans()):
        children["w"] = draw(_double_leaf()).set_priority(
            draw(st.integers(-1, 1)))
    if draw(st.booleans()):
        children["u"] = draw(_string_leaf())
    s = draw(_nullness(K.object(), None))
    if children:
        s.keys(children)
    return s


@st.composite
def _object_o(draw):
    children = {}
    if draw(st.booleans()):
        children["x"] = draw(_with_when(
            draw(_double_leaf()).set_priority(draw(st.integers(-1, 1))),
            _double_leaf(rules=(1, 2))))
    if draw(st.booleans()):
        children["y"] = draw(_string_leaf()).set_priority(
            draw(st.integers(-1, 1)))
    if draw(st.booleans()):
        children["z"] = draw(_object_z())
    defaults = st.sampled_from([{"x": 1.0}, {"x": 0.0, "y": "a"}, {}])
    s = draw(_nullness(K.object(), defaults))
    if children:
        s.keys(children)
    kind = draw(st.sampled_from(["none", "with", "without"]))
    if kind == "with":
        s.with_keys(*draw(st.lists(st.sampled_from(["x", "y", "z"]),
                                   min_size=1, max_size=2, unique=True)))
    elif kind == "without":
        s.without_keys(draw(st.sampled_from(["x", "y", "z"])))
    return s


@st.composite
def _map_leaf(draw):
    """A map-backed object schema (free-form document, SURVEY §1.2):
    With/Without on REAL key presence (incl. key-present-with-null),
    Keys walking string children with priorities, map-level nullness
    with dict defaults. `_map_doc` tells the oracle to use map presence
    semantics and to skip write-back (the compiler's documented MapType
    deviation). When-refs into the map are excluded here: the compiler
    resolves them through the normalized `completed` values while
    presence reads the original map — pinned deterministically in
    test_map_custom.py, not fuzzable against a single-doc oracle."""
    s = draw(_nullness(K.object(), st.sampled_from(
        [{"k1": "a"}, {"k1": "a", "k2": "Zz"}])))
    s._map_doc = True
    kind = draw(st.sampled_from(["none", "with", "without"]))
    if kind == "with":
        s.with_keys(*draw(st.lists(st.sampled_from(MKEYS + ["k3"]),
                                   min_size=1, max_size=2, unique=True)))
    elif kind == "without":
        s.without_keys(draw(st.sampled_from(MKEYS + ["k3"])))
    children = {}
    for k in MKEYS:
        if draw(st.booleans()):
            children[k] = draw(_string_leaf()).set_priority(
                draw(st.integers(-1, 1)))
    if children:
        s.keys(children)
    return s


@st.composite
def _array_leaf(draw):
    s = draw(_nullness(K.array(), None))
    kinds = draw(st.lists(st.sampled_from(["items", "min", "max", "length"]),
                          min_size=0, max_size=2, unique=True))
    for r in kinds:
        if r == "items":
            n = draw(st.integers(1, 2))
            pool = st.sampled_from([
                K.number().min(0.0), K.number().integer(),
                K.number().valid(*D_POOL[:4]), K.string()])
            s.items(*[draw(pool) for _ in range(n)])
        else:
            getattr(s, r)(draw(st.integers(0, 4)))
    return s


@st.composite
def _tree(draw):
    tree = {
        "a": draw(_with_when(
            draw(_any_leaf(D_POOL) if draw(st.booleans())
                 else _double_leaf()).set_priority(
                draw(st.integers(-1, 1))),
            _double_leaf(rules=(1, 2)))),
        "b": draw(_with_when(
            draw(_any_leaf(S_POOL) if draw(st.booleans())
                 else _string_leaf()).set_priority(
                draw(st.integers(-1, 1))),
            _string_leaf(rules=(1, 2)))),
        "c": draw(_bool_leaf()),
        "o": draw(_object_o()).set_priority(draw(st.integers(-1, 1))),
        "arr": draw(_array_leaf()),
        "m": draw(_map_leaf()).set_priority(draw(st.integers(-1, 1))),
    }
    return tree


@st.composite
def _doc(draw):
    z = draw(st.one_of(st.none(), st.fixed_dictionaries(
        {"w": _maybe(D_POOL), "u": _maybe(S_POOL)})))
    o = draw(st.one_of(st.none(), st.fixed_dictionaries(
        {"x": _maybe(D_POOL), "y": _maybe(S_POOL), "z": st.just(z)})))
    arr = draw(st.one_of(st.none(), st.lists(_maybe(D_POOL), max_size=4)))
    # map docs: random key subsets, values possibly None — the
    # key-present-with-null case that distinguishes map presence from
    # struct presence
    m = draw(st.one_of(st.none(), st.dictionaries(
        st.sampled_from(MKEYS), st.one_of(st.none(), st.sampled_from(S_POOL)),
        max_size=2)))
    return {"a": draw(_maybe(D_POOL)), "b": draw(_maybe(S_POOL)),
            "c": draw(_maybe([True, False])), "o": o, "arr": arr, "m": m}


def _to_row(i, d):
    z = None if d["o"] is None or d["o"]["z"] is None \
        else (d["o"]["z"]["w"], d["o"]["z"]["u"])
    o = None if d["o"] is None else (d["o"]["x"], d["o"]["y"], z)
    return (i, d["a"], d["b"], d["c"], o, d["arr"], d["m"])


def _eq_val(got, want):
    if got is None or want is None:
        return got is None and want is None
    if isinstance(want, float):
        if not isinstance(got, (int, float)):
            return False
        if math.isnan(want):
            return math.isnan(got)
        return math.isclose(float(got), want, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(want, dict):
        if not isinstance(got, dict):
            return False
        keys = set(got) | set(want)
        return all(_eq_val(got.get(k), want.get(k)) for k in keys)
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(_eq_val(g, w) for g, w in zip(got, want)))
    return got == want and isinstance(got, bool) == isinstance(want, bool)


# Default 25 examples keeps the suite fast (~2.4 s/example, compile-bound);
# round-4 evidence runs: JIO_FUZZ_EXAMPLES=200 green, then a 500-example
# soak green (30 min, all arms incl. the map-backed trees). Session-4
# soaks: 120-example green (both tree arms, casing chars in pools), then
# after widening (struct refs + object condition schemas, stacked
# null-handling, Items-over-object with nested arrays) a 150-example
# soak CAUGHT the missing-struct-field KeyError in condition schemas
# (fixed in compiler._h_keys, pinned in test_conformance_array_object),
# and after the fix both a 150-example re-soak and a
# 300-example mega-soak are green. Session-8 (final round-4 compiler,
# post oracle-injection session): 400-example soak green, 41 min,
# 11 arms.
_FUZZ_EXAMPLES = int(os.environ.get("JIO_FUZZ_EXAMPLES", "25"))


@settings(max_examples=_FUZZ_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture,
                                 HealthCheck.data_too_large])
@given(data=st.data())
def test_schema_tree_differential(spark, data):
    tree = data.draw(_tree())
    docs = data.draw(st.lists(_doc(), min_size=6, max_size=12))
    from jio_spark import validate
    df = spark.createDataFrame(
        [_to_row(i, d) for i, d in enumerate(docs)], TREE_SCHEMA)
    res = validate(df, dict(tree), id_cols=["id"])
    first = F.try_element_at(res.compiled.violations_array, F.lit(1))
    sel = [F.col("id"), res.compiled.row_pass.alias("_p"),
           first["rule_path"].alias("_fp"), first["rule_name"].alias("_fn")]
    sel += [res.compiled.normalized.get(c, F.col(c)).alias(f"_n_{c}")
            for c in TREE_COLS]
    rows = res.prepared.select(*sel).orderBy("id").collect()

    for d, row in zip(docs, rows):
        err, norm = jio_validate_tree(dict(tree), d)
        assert row["_p"] == (err is None), \
            f"doc={d!r}: spark pass={row['_p']}, oracle err={err}"
        if err is not None:
            assert (row["_fp"], row["_fn"]) == err, \
                f"doc={d!r}: spark first=({row['_fp']},{row['_fn']}), " \
                f"oracle first={err}"
        else:
            for c in TREE_COLS:
                got = row[f"_n_{c}"]
                if hasattr(got, "asDict"):
                    got = got.asDict(recursive=True)
                assert _eq_val(got, norm[c]), \
                    f"doc={d!r} col={c}: spark norm={got!r}, " \
                    f"oracle norm={norm[c]!r}"


# random Items-over-OBJECT-element fuzz (round-4 session-4 addition)
#
# The _tree arm's array column is array<double>, so its Items schemas are
# scalar-only. The reference validates array elements with FULL schemas —
# each element gets a fresh context and runs the whole chain, including
# Object().Keys walks (array.go:100-107 → object.go:139-169). This arm
# draws arrays of STRUCT elements and random element schemas mixing
# object chains (Keys with priorities, With/Without, Required/Optional
# children) with scalar schemas in the same Items OR — plus NULL
# elements, NULL arrays, and length rules — and checks the compiled
# engine against the oracle on verdict, first violation, and normalized
# outputs (element mutations are discarded on both sides: array.go never
# writes back into the slice).

ITEMS_SCHEMA = ("id int, a double, "
                "arr array<struct<p: double, q: string, "
                "r: array<double>>>")
ITEMS_COLS = ["a", "arr"]


@st.composite
def _elem_object(draw):
    children = {}
    if draw(st.booleans()):
        children["p"] = draw(_double_leaf()).set_priority(
            draw(st.integers(-1, 1)))
    if draw(st.booleans()):
        children["q"] = draw(_string_leaf())
    if draw(st.booleans()):
        # array chain INSIDE the Items element's Keys walk: the
        # array→object→array nesting (array.go:100-107 recursion)
        children["r"] = draw(_array_leaf())
    s = draw(_nullness(K.object(), None))
    if children:
        s.keys(children)
    kind = draw(st.sampled_from(["none", "with", "without"]))
    if kind == "with":
        s.with_keys(*draw(st.lists(st.sampled_from(["p", "q"]),
                                   min_size=1, max_size=2, unique=True)))
    elif kind == "without":
        s.without_keys(draw(st.sampled_from(["p", "q"])))
    return s


@st.composite
def _obj_array_leaf(draw):
    s = draw(_nullness(K.array(), None))
    kinds = draw(st.lists(st.sampled_from(["items", "min", "max", "length"]),
                          min_size=1, max_size=2, unique=True))
    for r in kinds:
        if r == "items":
            n = draw(st.integers(1, 2))
            schemas = []
            for _ in range(n):
                if draw(st.booleans()):
                    schemas.append(draw(_elem_object()))
                else:
                    # a scalar schema against a struct element must fail
                    # its type gate (number.go/string.go type switch) —
                    # in an OR with an object schema it only matters for
                    # elements the object schema rejects
                    schemas.append(draw(st.sampled_from(
                        [K.number().min(0.0), K.string().min(1)])))
            s.items(*schemas)
        else:
            getattr(s, r)(draw(st.integers(0, 3)))
    return s


@st.composite
def _items_tree(draw):
    return {
        "a": draw(_double_leaf()).set_priority(draw(st.integers(-1, 1))),
        "arr": draw(_obj_array_leaf()).set_priority(
            draw(st.integers(-1, 1))),
    }


@st.composite
def _items_doc(draw):
    inner = st.one_of(st.none(), st.lists(_maybe(D_POOL), max_size=3))
    elem = st.one_of(st.none(), st.fixed_dictionaries(
        {"p": _maybe(D_POOL), "q": _maybe(S_POOL), "r": inner}))
    arr = draw(st.one_of(st.none(), st.lists(elem, max_size=3)))
    return {"a": draw(_maybe(D_POOL)), "arr": arr}


def _items_to_row(i, d):
    arr = None if d["arr"] is None else [
        None if e is None else (e["p"], e["q"], e["r"]) for e in d["arr"]]
    return (i, d["a"], arr)


@settings(max_examples=_FUZZ_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture,
                                 HealthCheck.data_too_large])
@given(data=st.data())
def test_items_object_tree_differential(spark, data):
    tree = data.draw(_items_tree())
    docs = data.draw(st.lists(_items_doc(), min_size=6, max_size=12))
    from jio_spark import validate
    df = spark.createDataFrame(
        [_items_to_row(i, d) for i, d in enumerate(docs)], ITEMS_SCHEMA)
    res = validate(df, dict(tree), id_cols=["id"])
    first = F.try_element_at(res.compiled.violations_array, F.lit(1))
    sel = [F.col("id"), res.compiled.row_pass.alias("_p"),
           first["rule_path"].alias("_fp"), first["rule_name"].alias("_fn")]
    sel += [res.compiled.normalized.get(c, F.col(c)).alias(f"_n_{c}")
            for c in ITEMS_COLS]
    rows = res.prepared.select(*sel).orderBy("id").collect()

    for d, row in zip(docs, rows):
        err, norm = jio_validate_tree(dict(tree), d)
        assert row["_p"] == (err is None), \
            f"doc={d!r}: spark pass={row['_p']}, oracle err={err}"
        if err is not None:
            assert (row["_fp"], row["_fn"]) == err, \
                f"doc={d!r}: spark first=({row['_fp']},{row['_fn']}), " \
                f"oracle first={err}"
        else:
            for c in ITEMS_COLS:
                got = row[f"_n_{c}"]
                if hasattr(got, "asDict"):
                    got = got.asDict(recursive=True)
                if isinstance(got, list):
                    got = [e.asDict(recursive=True)
                           if hasattr(e, "asDict") else e for e in got]
                assert _eq_val(got, norm[c]), \
                    f"doc={d!r} col={c}: spark norm={got!r}, " \
                    f"oracle norm={norm[c]!r}"
