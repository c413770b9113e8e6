"""Exact-Python-semantics normalization as native Column expressions.

The reference normalizes row-at-a-time with Python string methods
(reference scr/etl_relational.py:57-72, scr/etl_basic.py:20-22). We
reproduce those semantics with built-in Spark SQL expressions so the hot
path stays inside whole-stage codegen — no Python UDFs.

Semantics worth being exact about:

* ``str.capitalize()`` uppercases ONLY the first character of the whole
  string and lowercases the rest ("san luis" → "San luis"), unlike Spark's
  ``initcap`` which capitalizes every word.
* ``str.title()`` capitalizes the first letter of every run of letters —
  apostrophes/digits break words ("o'brien" → "O'Brien"), unlike
  ``initcap`` which only splits on whitespace ("o'brien" → "O'brien").
* ``int(x)`` accepts surrounding whitespace but NOT decimals ("26.5"
  raises), while Spark's ``cast('int')`` truncates "26.5" → 26. We guard
  with a strict integer regex after trimming.

Contract boundary (measured, not assumed): parity holds for every
character ASSIGNED in both engines' Unicode tables — a 4000-string dense
random-BMP sweep finds zero title/capitalize mismatches outside
codepoints that are unassigned (category Cn) in CPython 3.11's Unicode
14 but carry case mappings in the JVM's newer tables (e.g. U+A7DA).
Such version-skew codepoints cannot appear in any text that was valid
when written; no expression-level fix exists short of per-char overlay
tables tracking both engines' Unicode versions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Maximum string length Spark's substring accepts; used for "rest of string".
_MAX_LEN = 2147483647

#: Strict Python-``int()`` literal AFTER decimal-digit transliteration:
#: optional ASCII sign, digits, single ``_`` separators strictly between
#: digit groups — exactly CPython's grammar (``_1``/``1_``/``1__2``/bare
#: sign all raise ValueError there and fail this regex here).
_INT_RE = r"^[+-]?[0-9]+(_[0-9]+)*$"


def _nd_translate_maps() -> tuple[str, str]:
    """(src, dst) for ``F.translate``: every Unicode decimal digit (Nd)
    → its ASCII value digit. CPython's ``int()`` parses via
    ``PyUnicode_TransformDecimalAndSpaceToASCII`` — any Nd digit (Limbu
    ᥆, Devanagari ३, fullwidth ５, …) is accepted with its decimal
    value; this mirrors that transform engine-side. Built once at import
    from the runtime's own unicodedata table (~660 chars)."""
    import sys
    import unicodedata

    src, dst = [], []
    for cp in range(sys.maxunicode + 1):
        ch = chr(cp)
        if unicodedata.category(ch) == "Nd":
            src.append(ch)
            dst.append(str(unicodedata.decimal(ch)))
    return "".join(src), "".join(dst)


_ND_SRC, _ND_DST = _nd_translate_maps()

#: Characters Python's ``str.strip()`` removes (``str.isspace()`` set):
#: ASCII whitespace, the \x1c-\x1f separators, NEL, NBSP and the unicode
#: space category. Spark's ``trim()`` strips ONLY ASCII spaces — found by
#: fuzzing against Python (tests/test_normalize_fuzz.py).
_PY_WS = "[\\s\u001c\u001d\u001e\u001f\u0085\u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000]"


#: ``int()``'s whitespace: ``str.strip()``'s set without the \x1c-\x1f
#: separators, which ``int()`` rejects (``int('0\x1f')`` raises).
_INT_WS = _PY_WS.replace("\u001c\u001d\u001e\u001f", "")


def py_strip(col: Column | str) -> Column:
    """``s.strip()`` with Python's exact whitespace set."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, f"^{_PY_WS}+|{_PY_WS}+$", "")


def _titlecase_exceptions() -> dict[str, str]:
    """Chars (lowercase fixed points) whose Python TITLEcase differs from
    their uppercase — ß→'Ss', the ǆ/ǉ/ǌ/ǳ digraphs, Armenian և, Georgian
    Mkhedruli (titlecase = identity). Python's ``str.capitalize()``
    titlecases the first char, so ``upper()`` alone is wrong for these
    (found by fuzzing, tests/test_normalize_fuzz.py)."""
    return {
        c: c.title()
        for c in map(chr, range(0x10000))
        if c.lower() == c and c.title() != c.upper()
    }


_CAP_EXC = _titlecase_exceptions()
_cap_exc_map: Column | None = None


def _cap_exc_lookup(first: Column) -> Column:
    global _cap_exc_map
    if _cap_exc_map is None:
        _cap_exc_map = F.create_map(
            *[F.lit(x) for kv in _CAP_EXC.items() for x in kv]
        )
    return _cap_exc_map[first]


def py_capitalize(col: Column | str) -> Column:
    """``s.strip().lower().capitalize()`` — reference scr/etl_relational.py:58.

    First char TITLEcased (exception map for the ~100 chars where that
    differs from uppercase), ALL remaining chars lowercased. Null-safe.
    """
    t = F.lower(py_strip(col))
    first = F.substring(t, 1, 1)
    return F.concat(
        F.coalesce(_cap_exc_lookup(first), F.upper(first)),
        F.substring(t, 2, _MAX_LEN),
    )


#: marker that cannot occur in real text (unit separator control char)
_TITLE_MARK = "\x1f "


def _extra_cased_chars() -> str:
    """BMP chars Python's ``title()`` treats as CASED although their
    category is not Lu/Ll/Lt — the Other_Lowercase/Other_Uppercase sets
    (ª º, modifier letters ʰ…ʸ, circled letters, …). 231 chars; found by
    hypothesis ('ªA' ≠ Python). Escaped for a Java regex char class."""
    import unicodedata

    out = []
    for cp in range(0x10000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        c = chr(cp)
        if (c.islower() or c.isupper()) and unicodedata.category(c) not in (
            "Lu",
            "Ll",
            "Lt",
        ):
            out.append("\\" + c if c in "[]\\^-&" else c)
    return "".join(out)


_EXTRA_CASED = _extra_cased_chars()


def py_title(col: Column | str) -> Column:
    """``s.strip().lower().title()`` — reference scr/etl_relational.py:59.

    Python ``str.title()`` uppercases the first letter of every maximal
    run of cased letters (apostrophes/digits break words, unlike
    ``initcap`` which only splits on whitespace).

    Implementation stays in flat codegen expressions (an earlier
    split-into-array + per-piece ``transform`` was interpreted per
    element and ~10× slower at scan width):

    1. append a marker+space after every non-CASED char (uncased letters
       like CJK are word boundaries to Python, hence Lu/Ll/Lt not \\p{L} —
       found by fuzzing; PLUS the Other_Lowercase/Other_Uppercase chars
       ª º ʰ… that Python counts as cased despite category Lo/Lm/…,
       found by hypothesis) — now every cased run starts a whitespace
       token;
    2. ``initcap`` — titlecases each token's first letter (matches
       Python's titlecase on all exceptional chars, verified empirically);
    3. strip the marker+space pairs back out.
    """
    t = F.lower(py_strip(col))
    marked = F.regexp_replace(
        t, "([^\\p{Lu}\\p{Ll}\\p{Lt}" + _EXTRA_CASED + "])", "$1" + _TITLE_MARK
    )
    return F.regexp_replace(F.initcap(marked), _TITLE_MARK, "")


def strict_int(col: Column | str, target: str = "int") -> Column:
    """Python-``int()`` cast: strip (``int()``'s whitespace set), transliterate
    Unicode decimal digits to ASCII (CPython's own decimal transform), then
    require the exact ``int()`` grammar — optional ASCII sign, digits,
    single ``_`` separators between digit groups.

    Returns NULL where Python would raise ValueError (reference
    scr/etl_relational.py:71-79 routes those rows to rejects). Unlike a
    bare Spark cast this rejects decimals ("26.5") and partial garbage;
    unlike the previous ASCII-only form it accepts what ``int()``
    accepts (``int('᥆') == 0`` — found by the hypothesis fuzz).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(
        F.regexp_replace(c, f"^{_INT_WS}+|{_INT_WS}+$", ""), _ND_SRC, _ND_DST
    )
    return F.when(
        c.rlike(_INT_RE), F.regexp_replace(c, "_", "").cast(target)
    )


def sanitize_token(col: Column | str) -> Column:
    """Replace every non-alphanumeric char with ``_`` — the reference's
    run_id filename sanitizer (scr/etl_batch.py:27, ``ch.isalnum()``).
    Python ``isalnum`` is unicode-aware, hence ``[^\\p{L}\\p{N}]``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[^\p{L}\p{N}]", "_")
