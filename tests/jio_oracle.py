"""Pure-Python interpreter of the FULL jio schema-tree semantics — the
property-test oracle (SURVEY.md §5.2 item 4). Mirrors the reference's
Validate loop (any.go:122-132): ordered rules with Skip/Abort, value
mutation, then the final type assertion; plus the structural rules —
the Keys priority walk with whole-walk first-error abort and write-back
(object.go:139-169), With/Without presence (object.go:94-131), Items
OR-across-schemas (array.go:94-114), and When with dotted root refs and
value/schema conditions (schema.go:21-37, context.go:30-45).

Documents are plain dicts (nested dicts for objects, lists for arrays,
None for JSON null). Two struct-world conventions shared with the
compiler (FIXTURES.md §4): every schema key exists in the dict (a Spark
struct field is never "absent", only NULL), and With/Without presence
means value-is-not-None. Rule names in returned errors use the engine's
VerdictEntry names (a gated check failing its type gate reports the
RULE's own name, e.g. 'min', exactly like ``first_violations``; the
final type assertion is ``type:<TYPE>``).
"""

from __future__ import annotations

import copy
import math
import re
from typing import Any, Dict, Optional, Tuple, Union

from jio_spark.dsl import BaseSchema, K, ObjectSchema

# Go strconv.ParseFloat decimal syntax (mirrors compiler._GO_FLOAT_NUM).
# re.ASCII: Python's default \d matches non-ASCII decimal digits (e.g.
# '١٢') that float() happily parses, while both Go strconv and the Spark
# side's Java rlike \d are ASCII-only — without the flag the oracle would
# accept strings the engine (correctly) rejects. `\Z`, not `$`: Python's
# `$` also matches before a final '\n', and float() strips surrounding
# whitespace, where Go's ParseFloat rejects any whitespace — so nothing
# but the literal itself may match.
_GO_D = r"\d+(?:_\d+)*"
_GO_NUM = re.compile(
    rf"^[+-]?({_GO_D}(\.(?:{_GO_D})?)?|\.{_GO_D})([eE][+-]?{_GO_D})?\Z",
    re.ASCII)
_GO_INF = re.compile(r"^[+-]?inf(inity)?\Z", re.IGNORECASE | re.ASCII)

# Go RE2 without flags: `$` matches only at the end of the text, while
# Python's `$` also matches before a final '\n' -- so every end anchor
# outside a character class becomes Python's end-of-text `\Z`. Under
# (?m) both end a line only at '\n'. `.` already agrees (both exclude
# only '\n').
_END_ANCHOR = re.compile(r"\\.|\[\^?\]?(?:\\.|[^\]\\])*\]|\$", re.S)


def _go_re(pattern: str) -> str:
    if re.search(r"\(\?[a-zA-Z]*m", pattern):
        return pattern
    return _END_ANCHOR.sub(
        lambda m: r"\Z" if m.group() == "$" else m.group(), pattern)


# the Unicode White_Space=yes set (what Go strings.TrimSpace trims)
_GO_WHITESPACE = (
    "\t\n\x0b\x0c\r \x85\xa0 "
    "         "
    "      　")

# Go strings.ToUpper/ToLower apply the UnicodeData SIMPLE (1:1 per-rune)
# case mappings — never the multi-char SpecialCasing expansions or the
# Final_Sigma context rule that Python's str.upper()/lower() implement.
# Per-rune: Python's full mapping IS the simple mapping whenever it is a
# single char; multi-char results mean "no simple mapping" (rune kept)
# except the UnicodeData-listed exceptions below. Same Unicode semantics
# as jio_spark.functions.casing but formulated per-rune here so a table
# typo on either side surfaces in the differential fuzz; the JVM reflect
# sweep in test_conformance_string.py arbitrates both.
_SIMPLE_UPPER_EXC = {0x1FB3: 0x1FBC, 0x1FC3: 0x1FCC, 0x1FF3: 0x1FFC}
for _b in (0x1F80, 0x1F90, 0x1FA0):     # ypogegrammeni → titlecase forms
    for _i in range(8):
        _SIMPLE_UPPER_EXC[_b + _i] = _b + 8 + _i
_SIMPLE_LOWER_EXC = {0x0130: 0x0069}    # İ → i (full expands to i+U+0307)


def _go_rune_case(ch: str, upper: bool) -> str:
    exc = (_SIMPLE_UPPER_EXC if upper else _SIMPLE_LOWER_EXC).get(ord(ch))
    if exc is not None:
        return chr(exc)
    full = ch.upper() if upper else ch.lower()
    return full if len(full) == 1 else ch


def _go_to_upper(s: str) -> str:
    return "".join(_go_rune_case(c, True) for c in s)


def _go_to_lower(s: str) -> str:
    return "".join(_go_rune_case(c, False) for c in s)


#: an error is (rule_path, rule_name); None = no error
Err = Optional[Tuple[str, str]]


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _go_eq(a, b) -> bool:
    """Go interface equality in the JSON value world (schema.go:35-37,
    any.go:84-91): different dynamic types are simply unequal; all JSON
    numbers are float64 (so int literals compare numerically)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a == b
    if _is_number(a) and _is_number(b):
        return float(a) == float(b)
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    return False  # maps/slices: never equal scalars (Go: false or panic)


def _ref(root, ref_path: str) -> Tuple[Any, bool]:
    """ctx.Ref (context.go:30-45): dotted walk from the document root;
    ok=false when an intermediate is not an object or a key is absent."""
    value = root
    for field in ref_path.split("."):
        if not isinstance(value, dict):
            return None, False
        if field not in value:
            return None, False
        value = value[field]
    return value, True


def _go_round(v: float) -> float:
    # Go math.Round: half away from zero. Not floor(abs+0.5): that
    # addition rounds up across integer boundaries whenever abs+0.5 is
    # unrepresentable (odd ints in [2^52,2^53), fractions one ulp below
    # .5) — compare the exact fraction
    a = abs(v)
    fl = math.floor(a)
    return float(fl + (1 if a - fl >= 0.5 else 0)) * (1 if v >= 0 else -1)


def _sorted_children(children: Dict[str, BaseSchema]):
    # object.go:17-26: sort by descending priority; our tiebreak is dict
    # insertion order (the reference's is Go map randomness)
    return sorted(children.items(), key=lambda kv: -kv[1].priority)


def _validate(schema: BaseSchema, value: Any, path: str,
              root: Any) -> Tuple[Err, bool, Any]:
    """One schema node over one value — ``Validate(ctx)``. Returns
    ``(err, skipped, new_value)``: ``err`` aborts the enclosing walk,
    ``skipped`` means the chain stopped without error (Optional on nil /
    a When-then that skipped) so Keys must NOT write the value back
    (object.go:163-165)."""
    v = value
    t = schema.TYPE
    if t == "double" and isinstance(v, int) and not isinstance(v, bool):
        v = float(v)  # the int→float64 coercion at number.go:208-210

    for spec in schema._ordered_rules():
        name, p = spec.name, spec.params

        # -- null handling / generic ------------------------------------
        if name == "optional":
            if v is None:
                return None, True, v
        elif name == "required":
            if v is None:
                return (path, "required"), True, v
        elif name == "default":
            if v is None:
                dv = p["value"]
                if t == "double" and _is_number(dv):
                    dv = float(dv)
                v = copy.deepcopy(dv)
        elif name == "set":
            sv = p["value"]
            v = float(sv) if t == "double" and _is_number(sv) else sv
        elif name == "equal":
            tgt = p["value"]
            if t == "double":
                if not _is_number(v):
                    return (path, "equal"), True, v
                if float(v) != float(tgt):
                    return (path, "equal"), True, v
            elif t == "string":
                if not isinstance(v, str):
                    return (path, "equal"), True, v
                if v != tgt:
                    return (path, "equal"), True, v
            else:  # Any/Bool: direct interface comparison (any.go:84-91)
                if not _go_eq(v, tgt):
                    return (path, "equal"), True, v
        elif name == "valid":
            vals = p["values"]
            if t == "double":
                if not _is_number(v):
                    return (path, "valid"), True, v
                if not any(_is_number(x) and float(v) == float(x)
                           for x in vals):
                    return (path, "valid"), True, v
            elif t == "string":
                if not isinstance(v, str):
                    return (path, "valid"), True, v
                if v not in vals:
                    return (path, "valid"), True, v
            else:
                if not any(_go_eq(v, x) for x in vals):
                    return (path, "valid"), True, v
        elif name == "when":
            refv, ok = _ref(root, p["ref_path"])
            if not ok:
                continue  # ref miss → per-document no-op (schema.go:23-25)
            cond = p["condition"]
            if isinstance(cond, BaseSchema):
                # condition schema validates the REF value in a FRESH
                # context (schema.go:26-33): its own root is the ref value
                cv = copy.deepcopy(refv)
                cerr, _, _ = _validate(cond, cv, path, cv)
                cond_ok = cerr is None
            else:
                cond_ok = _go_eq(refv, cond)
            if cond_ok:
                # then.Validate(ctx): a continuation of THIS field's state
                # (schema.go:34-36) — mutations land in v; its skip/abort
                # stops the outer chain too (the rule loop's skip check)
                terr, tskip, v = _validate(p["then"], v, path, root)
                if terr is not None:
                    return terr, True, v
                if tskip:
                    return None, True, v

        # -- numbers ------------------------------------------------------
        elif name == "nmin":
            if not _is_number(v):
                return (path, "min"), True, v
            if v < p["value"]:
                return (path, "min"), True, v
        elif name == "nmax":
            if not _is_number(v):
                return (path, "max"), True, v
            if v > p["value"]:
                return (path, "max"), True, v
        elif name == "integer":
            if not _is_number(v):
                return (path, "integer"), True, v
            if float(v) != math.trunc(float(v)):
                return (path, "integer"), True, v
        elif name == "ceil":
            if not _is_number(v):
                return (path, "ceil"), True, v
            v = float(math.ceil(v))
        elif name == "floor":
            if not _is_number(v):
                return (path, "floor"), True, v
            v = float(math.floor(v))
        elif name == "round":
            if not _is_number(v):
                return (path, "round"), True, v
            v = _go_round(v)
        elif name == "parse_string":
            # Go strconv.ParseFloat, not Python float(): no surrounding
            # whitespace, Go-literal underscores only between digits,
            # inf/infinity/nan forms, and ErrRange (an abort,
            # number.go:193-197) for out-of-range magnitudes
            if isinstance(v, str):
                if _GO_NUM.match(v):
                    f = float(v.replace("_", ""))
                    if math.isinf(f):
                        return (path, "parse_string"), True, v  # ErrRange
                    v = f
                elif _GO_INF.match(v):
                    v = float("-inf") if v.startswith("-") else float("inf")
                elif v.lower() == "nan":
                    v = float("nan")
                else:
                    return (path, "parse_string"), True, v

        # -- strings ------------------------------------------------------
        elif name == "smin":
            if not isinstance(v, str):
                return (path, "min"), True, v
            if len(v.encode()) < p["value"]:
                return (path, "min"), True, v
        elif name == "smax":
            if not isinstance(v, str):
                return (path, "max"), True, v
            if len(v.encode()) > p["value"]:
                return (path, "max"), True, v
        elif name == "slength":
            if not isinstance(v, str):
                return (path, "length"), True, v
            if len(v.encode()) != p["value"]:
                return (path, "length"), True, v
        elif name == "regex":
            rname = p.get("display", "regex")
            if not isinstance(v, str):
                return (path, rname), True, v
            if not re.search(_go_re(p["pattern"]), v):
                return (path, rname), True, v
        elif name == "lowercase":
            if not isinstance(v, str):
                return (path, "lowercase"), True, v
            v = _go_to_lower(v)
        elif name == "uppercase":
            if not isinstance(v, str):
                return (path, "uppercase"), True, v
            v = _go_to_upper(v)
        elif name == "strim":
            if not isinstance(v, str):
                return (path, "trim"), True, v
            # Go strings.TrimSpace trims the Unicode White_Space set —
            # NOT Python str.strip(), which additionally trims the
            # \x1c-\x1f separator controls (not White_Space in Unicode)
            v = v.strip(_GO_WHITESPACE)

        # -- bools --------------------------------------------------------
        elif name == "truthy":
            if any(_go_eq(v, x) for x in p["values"]):
                v = True
        elif name == "falsy":
            if any(_go_eq(v, x) for x in p["values"]):
                v = False

        # -- arrays -------------------------------------------------------
        elif name == "amin":
            if not isinstance(v, list):
                return (path, "min"), True, v
            if len(v) < p["value"]:
                return (path, "min"), True, v
        elif name == "amax":
            if not isinstance(v, list):
                return (path, "max"), True, v
            if len(v) > p["value"]:
                return (path, "max"), True, v
        elif name == "alength":
            if not isinstance(v, list):
                return (path, "length"), True, v
            if len(v) != p["value"]:
                return (path, "length"), True, v
        elif name == "items":
            # array.go:94-114: AND over elements of (OR over schemas);
            # each element validates in a FRESH context (NewContext(rv),
            # array.go:100-103) whose root is the element; element
            # mutations are discarded (never written back to the slice)
            if not isinstance(v, list):
                return (path, "items"), True, v
            for elem in v:
                ok = False
                for s in p["schemas"]:
                    ev = copy.deepcopy(elem)
                    eerr, _, _ = _validate(s, ev, path, ev)
                    if eerr is None:
                        ok = True
                        break
                if not ok:
                    return (path, "items"), True, v

        # -- objects ------------------------------------------------------
        # presence semantics follow the COLUMN, as in the compiler
        # (_presence, compiler.py): a struct field is "present" when not
        # NULL (FIXTURES.md §4), a MAP key when it really exists —
        # including key-present-with-null. The oracle can't see Spark
        # types, so map-backed object schemas carry a `_map_doc` marker
        # (set by the fuzz strategies).
        elif name == "with":
            if not isinstance(v, dict):
                return (path, "with"), True, v
            is_map = getattr(schema, "_map_doc", False)
            for k in p["keys"]:
                absent = (k not in v) if is_map else (v.get(k) is None)
                if absent:
                    return (path, "with"), True, v
        elif name == "without":
            if not isinstance(v, dict):
                return (path, "without"), True, v
            is_map = getattr(schema, "_map_doc", False)
            if any(((k in v) if is_map else (v.get(k) is not None))
                   for k in p["keys"]):
                return (path, "without"), True, v
        elif name == "keys":
            # the object walk (object.go:139-169): children in priority
            # order, whole-walk abort on first child error, write-back of
            # mutated values only where the child completed without skip
            if not isinstance(v, dict):
                return (path, "keys"), True, v
            for key, child in _sorted_children(p["children"]):
                cpath = f"{path}.{key}" if path else key
                cerr, cskip, cnew = _validate(child, v.get(key), cpath, root)
                if cerr is not None:
                    return cerr, True, v
                # map-backed documents: the compiler cannot write a
                # mutated value back into a typed map column (documented
                # in _h_keys' MapType branch), so the oracle must not
                # either — presence for later With/Without stays original
                if not cskip and not getattr(schema, "_map_doc", False):
                    v[key] = cnew
        else:
            raise NotImplementedError(name)

    # final type assertion (e.g. number.go:217-221); AnySchema has none
    if t == "double" and not _is_number(v):
        return (path, "type:double"), True, v
    if t == "string" and not isinstance(v, str):
        return (path, "type:string"), True, v
    if t == "boolean" and not isinstance(v, bool):
        return (path, "type:boolean"), True, v
    if t == "array" and not isinstance(v, list):
        return (path, "type:array"), True, v
    if t == "struct" and not isinstance(v, dict):
        return (path, "type:struct"), True, v
    return None, False, v


def jio_validate_tree(schema: Union[ObjectSchema, Dict[str, BaseSchema]],
                      doc: Dict[str, Any]) -> Tuple[Err, Dict[str, Any]]:
    """Validate a whole document the way ``validate(df, K.object({...}))``
    validates one row. Returns ``(err, normalized_doc)``; ``err`` is None
    (row passes) or ``(rule_path, rule_name)`` of the first violation in
    jio walk order — what ``first_violations`` reports for the row."""
    if isinstance(schema, dict):
        schema = K.object(schema)
    d = copy.deepcopy(doc)
    err, _skip, _v = _validate(schema, d, "", d)
    return err, d


def jio_validate(schema: BaseSchema, value: Any) -> Tuple[Optional[str], Any]:
    """Leaf-chain compatibility wrapper: returns (err_rule_name,
    final_value) like the original flat oracle (mutations only visible on
    full success, mirroring the write-back rule)."""
    err, skip, v = _validate(schema, value, "v", {"v": value})
    if err is not None:
        return err[1], value
    return None, (value if skip else v)
