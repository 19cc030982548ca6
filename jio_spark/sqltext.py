"""Spark SQL expression text, built in pure Python.

The rule compiler threads thousands of small expressions through a rule
chain. Built as ``Column`` objects, every node is at least one driver–JVM
round trip; built as text, a node costs nothing on the JVM side, and Spark
parses each finished stage with one call (``selectExpr`` or ``F.expr``).
This module mirrors the part of ``Column`` and ``pyspark.sql.functions``
that the compiler and :func:`jio_spark.gofmt.fmt_col` use, so the same
handler code reads the same on either backend (:func:`functions_for`).

The text parses to the same values whatever the caller's parser settings:

* identifiers are backticked;
* a string literal is single-quoted only when it holds no quote, no
  backslash, no control character and no ``${`` (variable substitution);
  any other string is spelled as its UTF-8 bytes in a binary literal cast
  to string, which neither ``spark.sql.parser.escapedStringLiterals`` nor
  ANSI mode reads differently;
* a double is written with the ``D`` suffix, and NaN and ±inf (which have
  no literal form) as casts of their string names.

Every operator renders parenthesized and every function as a call, so any
rendered expression can stand where the grammar wants a primary
expression (``x['field']``).
"""

from __future__ import annotations

import decimal
import itertools
import math
import numbers
import re
import sys
from typing import Any, Callable, Dict, Optional, Union

from pyspark.sql import types as T

_LAMBDA_SEQ = itertools.count()
_SAFE_STR = re.compile(r"[^'\\\x00-\x1f\x7f]*\Z")
_COLUMN_REF = re.compile(r"`((?:[^`]|``)*)`\Z")
_INT_MIN, _INT_MAX = -(1 << 31), (1 << 31) - 1
_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1


class Expr:
    """One expression as SQL text. ``fields`` holds a ``named_struct``'s
    members, so a field read off a struct built here is the member itself
    rather than an extraction over the whole struct."""

    __slots__ = ("sql", "fields")

    def __init__(self, sql: str,
                 fields: Optional[Dict[str, "Expr"]] = None):
        self.sql = sql
        self.fields = fields

    def __repr__(self) -> str:
        return f"Expr({self.sql!r})"

    def __bool__(self):
        raise ValueError("an Expr has no truth value: combine with & | ~")

    def _op(self, op: str, other: Any) -> "Expr":
        return Expr(f"({self.sql} {op} {_x(other).sql})")

    def _rop(self, op: str, other: Any) -> "Expr":
        return Expr(f"({_x(other).sql} {op} {self.sql})")

    def __and__(self, o):
        return self._op("AND", o)

    def __or__(self, o):
        return self._op("OR", o)

    def __invert__(self):
        return Expr(f"(NOT {self.sql})")

    def __eq__(self, o):  # type: ignore[override]
        return self._op("=", o)

    def __ne__(self, o):  # type: ignore[override]
        return self._op("!=", o)

    def __lt__(self, o):
        return self._op("<", o)

    def __le__(self, o):
        return self._op("<=", o)

    def __gt__(self, o):
        return self._op(">", o)

    def __ge__(self, o):
        return self._op(">=", o)

    def __add__(self, o):
        return self._op("+", o)

    def __radd__(self, o):
        return self._rop("+", o)

    def __sub__(self, o):
        return self._op("-", o)

    def __rsub__(self, o):
        return self._rop("-", o)

    def __mul__(self, o):
        return self._op("*", o)

    def __rmul__(self, o):
        return self._rop("*", o)

    def __truediv__(self, o):
        return self._op("/", o)

    def __mod__(self, o):
        return self._op("%", o)

    def isNull(self) -> "Expr":
        if self.fields is not None:
            return Expr("false")    # a named_struct is never NULL
        return Expr(f"({self.sql} IS NULL)")

    def isNotNull(self) -> "Expr":
        if self.fields is not None:
            return Expr("true")
        return Expr(f"({self.sql} IS NOT NULL)")

    def eqNullSafe(self, o) -> "Expr":
        return self._op("<=>", o)

    def cast(self, dtype: Union[str, T.DataType]) -> "Expr":
        return Expr(f"CAST({self.sql} AS {type_sql(dtype)})")

    def try_cast(self, dtype: Union[str, T.DataType]) -> "Expr":
        return Expr(f"TRY_CAST({self.sql} AS {type_sql(dtype)})")

    def getField(self, name: str) -> "Expr":
        if self.fields is not None and name in self.fields:
            return self.fields[name]
        if _is_plain(name):
            return Expr(f"{self.sql}['{name}']")
        # a field name a plain literal cannot spell: the dereference form
        # takes it as an identifier
        return Expr(f"{self.sql}.{quote(name)}")

    def isin(self, *values) -> "Expr":
        return Expr(f"({self.sql} IN "
                    f"({', '.join(_x(v).sql for v in values)}))")

    def rlike(self, pattern: str) -> "Expr":
        return self._op("RLIKE", pattern)

    def startswith(self, prefix: str) -> "Expr":
        return call("startswith", self, prefix)


class Case(Expr):
    """``CASE WHEN`` under construction: ``when`` adds a branch,
    ``otherwise`` closes it with an ELSE; without one the CASE is NULL
    where no branch holds, as ``F.when`` is."""

    __slots__ = ("_branches",)

    def __init__(self, branches: str):
        super().__init__(f"CASE {branches} END")
        self._branches = branches

    def when(self, cond, value) -> "Case":
        return Case(f"{self._branches} WHEN {_x(cond).sql} "
                    f"THEN {_x(value).sql}")

    def otherwise(self, value) -> Expr:
        return Expr(f"CASE {self._branches} ELSE {_x(value).sql} END")


# -- identifiers, literals, types ---------------------------------------------


def quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def column_name(e: Expr) -> Optional[str]:
    """The column a bare reference names, else None."""
    m = _COLUMN_REF.match(e.sql)
    return m.group(1).replace("``", "`") if m else None


def _is_plain(s: str) -> bool:
    return "${" not in s and _SAFE_STR.match(s) is not None


def _str_sql(s: str) -> str:
    if _is_plain(s):
        return f"'{s}'"
    raw = s.encode("utf-8", "surrogatepass").hex().upper()
    return f"CAST(X'{raw}' AS STRING)"


def lit(v: Any) -> Expr:
    """The literal ``F.lit(v)`` makes, as text of the same type."""
    if isinstance(v, Expr):
        return v
    if v is None:
        return Expr("NULL")
    if isinstance(v, bool):
        return Expr("true" if v else "false")
    if isinstance(v, decimal.Decimal):
        return Expr(f"({v}BD)")
    if isinstance(v, numbers.Integral):
        v = int(v)
        if _INT_MIN <= v <= _INT_MAX:
            s = str(v)
        elif _LONG_MIN <= v <= _LONG_MAX:
            s = f"{v}L"
        else:
            s = f"{v}BD"
        return Expr(f"({s})" if v < 0 else s)
    if isinstance(v, numbers.Real):
        v = float(v)
        if math.isnan(v):
            return Expr("CAST('NaN' AS DOUBLE)")
        if math.isinf(v):
            return Expr("CAST('Infinity' AS DOUBLE)" if v > 0
                        else "CAST('-Infinity' AS DOUBLE)")
        s = f"{v!r}D"
        return Expr(f"({s})" if math.copysign(1.0, v) < 0 else s)
    if isinstance(v, str):
        return Expr(_str_sql(v))
    if isinstance(v, (list, tuple)):
        return array(*v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def _x(v: Any) -> Expr:
    return v if isinstance(v, Expr) else lit(v)


def type_sql(dtype: Union[str, T.DataType]) -> str:
    """A type as SQL text; field names backticked."""
    if isinstance(dtype, str):
        return dtype
    if isinstance(dtype, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{quote(f.name)}: {type_sql(f.dataType)}"
            for f in dtype.fields) + ">"
    if isinstance(dtype, T.ArrayType):
        return f"ARRAY<{type_sql(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return (f"MAP<{type_sql(dtype.keyType)}, "
                f"{type_sql(dtype.valueType)}>")
    return dtype.simpleString()


# -- functions ---------------------------------------------------------------


def col(name: str) -> Expr:
    return Expr(quote(name))


def call(fn: str, *args) -> Expr:
    return Expr(f"{fn}({', '.join(_x(a).sql for a in args)})")


def when(cond, value) -> Case:
    return Case(f"WHEN {_x(cond).sql} THEN {_x(value).sql}")


def struct(fields: Dict[str, Any]) -> Expr:
    """``named_struct`` of ``{name: value}``; the members stay readable
    through :meth:`Expr.getField`."""
    members = {k: _x(v) for k, v in fields.items()}
    body = ", ".join(f"{_str_sql(k)}, {v.sql}" for k, v in members.items())
    return Expr(f"named_struct({body})", fields=members)


def _lambda(fn: Callable[[Expr], Any]) -> str:
    var = f"_jsx{next(_LAMBDA_SEQ)}"
    return f"{var} -> {_x(fn(Expr(var))).sql}"


def forall(arr, fn: Callable[[Expr], Any]) -> Expr:
    return Expr(f"forall({_x(arr).sql}, {_lambda(fn)})")


def transform(arr, fn: Callable[[Expr], Any]) -> Expr:
    return Expr(f"transform({_x(arr).sql}, {_lambda(fn)})")


def array_join(arr, delimiter: str,
               null_replacement: Optional[str] = None) -> Expr:
    if null_replacement is None:
        return call("array_join", arr, delimiter)
    return call("array_join", arr, delimiter, null_replacement)


def round(c, scale: int = 0) -> Expr:  # noqa: A001 - mirrors F.round
    return call("round", c, scale)


def create_map(*kv) -> Expr:
    return call("map", *kv)


def _simple(name: str) -> Callable[..., Expr]:
    def fn(*args) -> Expr:
        return call(name, *args)
    fn.__name__ = name
    return fn


coalesce = _simple("coalesce")
concat = _simple("concat")
array = _simple("array")
array_compact = _simple("array_compact")
try_element_at = _simple("try_element_at")
map_contains_key = _simple("map_contains_key")
isnan = _simple("isnan")
abs = _simple("abs")  # noqa: A001 - mirrors F.abs
floor = _simple("floor")
ceil = _simple("ceil")
signum = _simple("signum")
replace = _simple("replace")
lower = _simple("lower")
octet_length = _simple("octet_length")
size = _simple("size")
regexp_replace = _simple("regexp_replace")
translate = _simple("translate")
to_json = _simple("to_json")


def functions_for(value):
    """This module for an :class:`Expr`, ``pyspark.sql.functions`` for a
    ``Column``: code written against the shared surface builds either."""
    if isinstance(value, Expr):
        return sys.modules[__name__]
    from pyspark.sql import functions
    return functions
