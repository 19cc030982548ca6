"""Go ``%v`` style value rendering, for jio-shaped violation messages.

The reference formats every error with ``fmt.Errorf("field `%s` value %v
...")`` (e.g. number.go:103, string.go:102). Go's ``%v`` prints float64 with
the shortest decimal repr — ``12.0`` → ``"12"``, ``3.1`` → ``"3.1"`` — and
slices space-separated in brackets — ``[]float64{1,2}`` → ``"[1 2]"``. These
helpers reproduce that for the common (test-corpus) cases, both for Python
literals (compile-time "expected" strings) and for runtime "actual"
strings. The runtime renderings build either a Spark ``Column`` or, for
the rule compiler, SQL text (:mod:`jio_spark.sqltext`) from one recipe:
each picks its backend from the value it renders. One documented corner
remains: integral digits above
2^53 can differ from Go's in the last places on the Column side (Java 17's
Double.toString is not always minimal-length; fixed in JDK 19).
"""

from __future__ import annotations

import math
from typing import Any, Sequence

from pyspark.sql import types as T

from .sqltext import functions_for


def go_repr(v: Any) -> str:
    """Render a Python literal the way Go ``%v`` would."""
    if v is None:
        return "<nil>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # Go %v: strconv.FormatFloat prints the special values as
        # NaN / +Inf / -Inf (int(v) would raise on them anyway)
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "+Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e21:
            # Go %v prints -0.0 as '-0' (int(-0.0) loses the sign), and
            # stays decimal for integral values to 1e21
            if v == 0 and math.copysign(1.0, v) < 0:
                return "-0"
            if abs(v) < float(1 << 53):
                return str(int(v))  # exact == shortest below 2^53
            # above 2^53 Go prints the SHORTEST digits zero-padded, not
            # the double's exact integer value (9223372036854773760.0
            # → '9223372036854774000'); Python repr is that shortest form
            from decimal import Decimal
            return format(Decimal(repr(v)).normalize(), "f")
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + " ".join(go_repr(x) for x in v) + "]"
    return str(v)


def go_repr_list(values: Sequence[Any]) -> str:
    """Go %v of a slice: ``[a b c]`` (any.go:115 Valid error)."""
    return "[" + " ".join(go_repr(v) for v in values) + "]"


def _strip_dec_zeros(s):
    """'12345678.5000000000' → '12345678.5'; '15.0000000000' → '15'."""
    F = functions_for(s)
    return F.regexp_replace(
        F.regexp_replace(s, r"(\.\d*?)0+$", "$1"), r"\.$", "")


def _norm_e(s):
    """Java E-notation → Go strconv style: '1.0E19' → '1e+19',
    '1.23E-5' → '1.23e-05' (Go prints a sign and ≥2 exponent digits,
    and drops a bare '.0' mantissa)."""
    F = functions_for(s)
    s = F.regexp_replace(s, r"\.0E", "E")
    s = F.regexp_replace(s, r"E(\d)$", "e+0$1")
    s = F.regexp_replace(s, r"E(\d\d+)$", "e+$1")
    s = F.regexp_replace(s, r"E-(\d)$", "e-0$1")
    s = F.regexp_replace(s, r"E-(\d\d+)$", "e-$1")
    return s


def _go_double(col):
    """Go-%v rendering of one float64 Column (shared by the scalar
    'double' branch and per-element array rendering, so the two can't
    drift). Go prints integral float64 as plain digits and switches to
    e-notation only past 1e21; Java's double→string switches at 1e7
    ('1.2345678E7'). Spark's double→decimal cast goes through
    ``BigDecimal.valueOf`` — the SHORTEST decimal repr — so a bounded
    decimal cast + trailing-zero strip reproduces Go exactly for
    integral |v| < 1e21 and non-integral 1e-4 ≤ |v| < 1e16 (all
    non-integral doubles are < 2^53 anyway); e-notation elsewhere is
    normalized to Go's 'e±NN' form. Remaining documented corner: the
    Java-17 shortest-digits quirk above 2^53 (see below)."""
    # Go stays decimal for integral values all the way to 1e21; above
    # 2^53 Java-17's Double.toString occasionally carries one more
    # significant digit than true-shortest (fixed in JDK 19), so digits
    # there can differ from Go's in the last place — documented corner,
    # unreachable for exact-integer data (every int64 cast to double
    # round-trips its shortest form below 2^53)
    # integrality via round(col, 0) — double in, double out; F.floor
    # returns LONG, which silently saturates past 2^63 and made every
    # integral value ≥ 2^63 test non-integral
    F = functions_for(col)
    integral = (~F.isnan(col)) & (col == F.round(col, 0)) \
        & (F.abs(col) < F.lit(1e21))
    # non-integral values ≥ 1e7: shortest repr carries ≤ 9 fractional
    # digits here (≤17 significant − ≥8 integer), so scale 10 never
    # rounds — it only appends zeros the strip removes
    mid = (~F.isnan(col)) & (F.abs(col) >= F.lit(1e7)) \
        & (F.abs(col) < F.lit(1e16))
    # Java switches to E-notation below 1e-3 but Go's 'g' stays decimal
    # down to 1e-4 ('0.0001'); scale 21 holds ≤17 significant digits
    # starting at the 1e-4 place
    small = (F.abs(col) >= F.lit(1e-4)) & (F.abs(col) < F.lit(1e-3))
    return (
        F.when(col == F.lit(float("inf")), F.lit("+Inf"))
         .when(col == F.lit(float("-inf")), F.lit("-Inf"))
         # zeros via the string strip, not the decimal cast: Go prints
         # -0.0 as '-0' and the cast would lose the sign
         .when(col == F.lit(0.0),
               F.regexp_replace(col.cast("string"), r"\.0$", ""))
         .when(integral, col.cast("decimal(22,0)").cast("string"))
         .when(mid, _strip_dec_zeros(
             col.cast("decimal(38,10)").cast("string")))
         .when(small, _strip_dec_zeros(
             col.cast("decimal(38,21)").cast("string")))
         .otherwise(_norm_e(F.regexp_replace(col.cast("string"),
                                             r"\.0$", ""))))


def fmt_col(col, vtype: str, spark_type=None):
    """Column (or :class:`~jio_spark.sqltext.Expr`) → string of the same
    kind, rendered Go-%v style.

    ``vtype`` is the compiler's logical type tag ('double', 'string',
    'boolean', 'array', ...). ``spark_type`` (optional) is the column's
    Spark type — for arrays it selects exact per-element rendering by
    element type instead of the string-level heuristic. NULL renders as
    ``<nil>`` (Go prints untyped nil that way).
    """
    F = functions_for(col)
    if vtype == "double":
        if isinstance(spark_type, T.DecimalType):
            # decimal→string preserves the column's full scale
            # ('12.5000000000' for decimal(20,10)) where Go %v of the
            # float64 the reference would hold prints '12.5' — model the
            # float64 semantics the tag claims
            col = col.cast("double")
        rendered = _go_double(col)
    elif vtype == "boolean":
        rendered = col.cast("string")  # 'true'/'false' like Go
    elif vtype == "array":
        elem = (spark_type.elementType
                if isinstance(spark_type, T.ArrayType) else None)
        if isinstance(elem, (T.DoubleType, T.FloatType)):
            # exact Go rendering per element — the heuristic below left
            # integral elements ≥ 1e7 in Java E-notation and Infinity
            # as 'Infinity', diverging from the (fixed) scalar branch
            render_elem = _go_double
        elif isinstance(elem, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType, T.BooleanType, T.StringType)):
            # ints/booleans cast exactly; string elements go VERBATIM
            # (Go %v of []string never rewrites '3.0' to '3')
            render_elem = lambda e: e.cast("string")  # noqa: E731
        else:
            # element type unknown: the '.0' strip applies only to
            # integer-looking numerics — a STRING element 'v1.0' must
            # survive
            render_elem = lambda e: F.regexp_replace(  # noqa: E731
                e.cast("string"), r"^(-?\d+)\.0$", "$1")
        # NULL elements render '<nil>' like Go's nil (array_join drops
        # them by default)
        rendered = F.concat(
            F.lit("["),
            F.array_join(F.transform(col, render_elem), " ", "<nil>"),
            F.lit("]"),
        )
    elif vtype in ("struct", "map"):
        rendered = F.to_json(col)
    else:
        rendered = col.cast("string")
    return F.coalesce(rendered, F.lit("<nil>"))
