"""Go-exact Unicode case mapping for the Lowercase/Uppercase rules.

The reference converts with ``strings.ToUpper`` / ``strings.ToLower``
(``/root/reference/string.go:192-200``) — Go applies the UnicodeData
SIMPLE (1:1 per-rune) case mappings. Spark's ``F.upper``/``F.lower``
call JDK ``String.toUpperCase/toLowerCase`` — the FULL mappings plus
context rules — which silently diverge from the reference on real
inputs:

    ß  → Go "ß"   vs JDK "SS"          (no simple uppercase)
    ﬁ  → Go "ﬁ"   vs JDK "FI"          (ligatures, no simple uppercase)
    ΑΣ → Go "ασ"  vs JDK "ας"          (Final_Sigma is a full-mapping
                                        context rule; simple is always σ)
    İ  → Go "i"   vs JDK "i̇" (i+U+0307) (the one multi-char full
                                        lowercase in SpecialCasing.txt)
    ΐ  → Go "ΐ"   vs JDK "Ϊ́"           (multi-char full uppercase)
    ᾀ  → Go "ᾈ"   vs JDK "ἈΙ"          (simple maps to the TITLECASE
                                        form; full expands)

``go_upper``/``go_lower`` implement the simple mapping as ONE
``F.translate`` over the complete table of code points whose simple
mapping differs from identity (~1,400 entries per direction, built once
per driver at first use). ``StringTranslate`` is code-POINT based (a
probe pinned in test_conformance_string.py shows astral pairs like
Deseret 𐐨↔𐐀 translate correctly), builds its dictionary once per
expression, and runs JVM-side inside whole-stage codegen — no UDF, no
extra pass.

Table derivation: for each code point, Python's per-char ``str.upper()``
/ ``str.lower()`` equals the simple mapping whenever the full mapping is
a single char (SpecialCasing.txt entries are exactly the multi-char and
contextual cases); code points whose full mapping is multi-char have no
simple mapping (map to self) EXCEPT the hand-carried exceptions below,
taken from UnicodeData.txt fields 12-14: the Greek ypogegrammeni series
(simple-uppercases to the titlecase forms while the full mapping
expands) and U+0130 İ (simple-lowercases to plain ``i`` while the full
mapping expands). The whole derived table is differentially verified
against the JVM's own simple-mapping functions
(``Character.toUpperCase/toLowerCase(int)`` via SQL ``reflect``) in
test_conformance_string.py — zero mismatches over all planes except
code points added to Unicode after the JDK's table version (JDK 17 =
Unicode 13.0, this Python = 14.0; Go ≥1.18 carries 13.0+ too, so the
drift set is exotic-new-scripts only, pinned in the test).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, Tuple

from ..sqltext import functions_for

# UnicodeData.txt simple mappings that the per-char full-mapping trick
# cannot see (full result is multi-char, simple mapping still exists):
# Greek small letters with ypogegrammeni simple-uppercase to their
# TITLECASE forms (U+1F80→U+1F88 etc.), and İ simple-lowercases to 'i'.
_UPPER_EXCEPTIONS: Dict[int, int] = {
    **{0x1F80 + i: 0x1F88 + i for i in range(8)},   # ᾀ-ᾇ → ᾈ-ᾏ
    **{0x1F90 + i: 0x1F98 + i for i in range(8)},   # ᾐ-ᾗ → ᾘ-ᾟ
    **{0x1FA0 + i: 0x1FA8 + i for i in range(8)},   # ᾠ-ᾧ → ᾨ-ᾯ
    0x1FB3: 0x1FBC,                                 # ᾳ → ᾼ
    0x1FC3: 0x1FCC,                                 # ῃ → ῌ
    0x1FF3: 0x1FFC,                                 # ῳ → ῼ
}
_LOWER_EXCEPTIONS: Dict[int, int] = {
    0x0130: 0x0069,                                 # İ → i
}


def simple_case_map(cp: int, direction: str) -> int:
    """The Go/UnicodeData simple case mapping of one code point
    (identity when no mapping exists). Shared by the Column builders and
    the pure-Python oracle so the TABLE has one derivation; the
    independent evidence for the table itself is the JVM reflect
    differential in test_conformance_string.py."""
    exc = (_UPPER_EXCEPTIONS if direction == "upper"
           else _LOWER_EXCEPTIONS).get(cp)
    if exc is not None:
        return exc
    c = chr(cp)
    full = c.upper() if direction == "upper" else c.lower()
    return ord(full) if len(full) == 1 else cp


@lru_cache(maxsize=2)
def _table(direction: str) -> Tuple[str, str]:
    src, dst = [], []
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:      # surrogates: not characters
            continue
        m = simple_case_map(cp, direction)
        if m != cp:
            src.append(chr(cp))
            dst.append(chr(m))
    return "".join(src), "".join(dst)


def go_upper(col):
    """``strings.ToUpper`` (string.go:198-200): simple per-rune mapping,
    over a ``Column`` or an :class:`~jio_spark.sqltext.Expr`."""
    src, dst = _table("upper")
    return functions_for(col).translate(col, src, dst)


def go_lower(col):
    """``strings.ToLower`` (string.go:192-194): simple per-rune mapping,
    over a ``Column`` or an :class:`~jio_spark.sqltext.Expr`."""
    src, dst = _table("lower")
    return functions_for(col).translate(col, src, dst)
