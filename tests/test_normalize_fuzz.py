"""Fuzz the exact-Python-semantics normalization against Python itself.

One generated corpus (unicode letters, digits, punctuation, whitespace,
accents, apostrophes, empty-ish strings), one Spark job per function —
every row's output must equal the corresponding Python string method.
"""

from __future__ import annotations

import random
import string

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.normalize import (
    py_capitalize,
    py_title,
    sanitize_token,
    strict_int,
)

ALPHABETS = [
    string.ascii_lowercase,
    string.ascii_uppercase,
    "áéíóúñüçàâêîôûäöß",
    "0123456789",
    " \t",
    "'-_.,;:!()",
    "абвгдежз",   # cyrillic letters
    "中文字符",     # CJK (uncased letters)
]


def _rand_string(rng: random.Random) -> str:
    n = rng.randrange(0, 24)
    return "".join(
        rng.choice(rng.choice(ALPHABETS)) for _ in range(n)
    )


def _rand_intish(rng: random.Random) -> str:
    choices = [
        lambda: str(rng.randrange(-10**9, 10**9)),
        lambda: f" {rng.randrange(0, 999)} ",
        lambda: f"+{rng.randrange(0, 999)}",
        lambda: f"{rng.randrange(0, 999)}.{rng.randrange(0, 99)}",
        lambda: _rand_string(rng),
        lambda: "",
        lambda: f"{rng.randrange(0,99)}e{rng.randrange(0,5)}",
        lambda: f"0x{rng.randrange(0,255):x}",
    ]
    return rng.choice(choices)()


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(1234)
    strings = [_rand_string(rng) for _ in range(400)]
    intish = [_rand_intish(rng) for _ in range(400)]
    return strings, intish


def _batch_eval(spark, values, expr):
    df = spark.createDataFrame([(v,) for v in values], "v: string")
    return [r["out"] for r in df.select(expr.alias("out")).collect()]


def test_fuzz_capitalize(spark, corpus):
    strings, _ = corpus
    got = _batch_eval(spark, strings, py_capitalize("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().capitalize(), repr(raw)


def test_fuzz_title(spark, corpus):
    strings, _ = corpus
    got = _batch_eval(spark, strings, py_title("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().title(), repr(raw)


def test_fuzz_strict_int(spark, corpus):
    _, intish = corpus
    got = _batch_eval(spark, intish, strict_int("v", "long"))
    for raw, g in zip(intish, got):
        try:
            expected = int(raw)
        except ValueError:
            expected = None
        assert g == expected, repr(raw)


def test_fuzz_sanitize(spark, corpus):
    strings, _ = corpus
    got = _batch_eval(spark, strings, sanitize_token("v"))
    for raw, g in zip(strings, got):
        expected = "".join(ch if ch.isalnum() else "_" for ch in raw)
        assert g == expected, repr(raw)


# ---------------------------------------------------------------------------
# hypothesis property tests: shrinkable unicode edge-case generation on top
# of the fixed-corpus fuzz above (one Spark job per example — examples kept
# low, each carrying a 40-string batch)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# BMP chars; exclude surrogates (invalid in parquet/UTF-8 transport) and
# unassigned codepoints (Cn): chars unassigned in CPython's Unicode table
# but assigned in the JVM's newer one (e.g. U+A7DA) case-map differently
# by construction — outside the parity contract (see normalize.py
# docstring "Contract boundary")
_txt = st.text(
    alphabet=st.characters(
        max_codepoint=0xFFFF, exclude_categories=("Cs", "Cn")
    ),
    max_size=24,
)
_batch = st.lists(_txt, min_size=1, max_size=40)

# derandomized: the default tier draws the same examples on every run
# (its verdict must not depend on the draw); the slow tier's twin below
# keeps exploring with fresh draws
_hyp = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
    database=None,
)


def _check_capitalize(spark, strings):
    got = _batch_eval(spark, strings, py_capitalize("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().capitalize(), repr(raw)


def _check_title(spark, strings):
    got = _batch_eval(spark, strings, py_title("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().title(), repr(raw)


def _check_strict_int(spark, strings):
    got = _batch_eval(spark, strings, strict_int("v", "long"))
    for raw, g in zip(strings, got):
        try:
            expected = int(raw)
        except ValueError:
            expected = None
        assert g == expected, repr(raw)


@given(strings=_batch)
# Unicode 14 has no uppercase for ƛ or ɤ; ICU 77 maps them to U+A7DC/U+A7CB
@example(strings=["ƛx"])
@example(strings=["ɤ de"])
@_hyp
def test_hypothesis_capitalize(spark, strings):
    _check_capitalize(spark, strings)


@given(strings=_batch)
@example(strings=["ƛx"])
@example(strings=["ɤ de"])
@_hyp
def test_hypothesis_title(spark, strings):
    _check_title(spark, strings)


@given(strings=_batch)
@example(strings=["0\x1f"])  # str.strip() removes \x1c-\x1f, int() rejects them
@example(strings=["0\x1c"])
@_hyp
def test_hypothesis_strict_int(spark, strings):
    _check_strict_int(spark, strings)


@pytest.mark.slow
@given(strings=_batch)
@settings(_hyp, derandomize=False, database=settings.default.database)
def test_hypothesis_randomized(spark, strings):
    """The three properties above on fresh random draws every run."""
    _check_capitalize(spark, strings)
    _check_title(spark, strings)
    _check_strict_int(spark, strings)


@pytest.mark.slow
def test_case_sweep_every_assigned_code_point(spark):
    """``py_capitalize`` and ``py_title`` equal CPython on every assigned
    code point ``c`` (surrogates aside), as ``c`` and as ``'a' + c``.
    Fails when the JVM's ICU or CPython's Unicode tables move; the
    mismatches then name the code points to map (normalize.py's
    ``_UNICODE_14_CASE``)."""
    import sys
    import unicodedata

    chars = [
        chr(cp)
        for cp in range(sys.maxunicode + 1)
        if unicodedata.category(chr(cp)) not in ("Cn", "Cs")
    ]
    values = chars + ["a" + c for c in chars]
    df = spark.createDataFrame(pd.DataFrame({"v": values}), "v: string")
    out = df.select(
        "v", py_capitalize("v").alias("cap"), py_title("v").alias("title")
    ).toPandas()
    bad = [
        (f"U+{ord(v[-1]):04X}", v, cap, title)
        for v, cap, title in out.itertuples(index=False)
        if cap != v.strip().lower().capitalize() or title != v.strip().lower().title()
    ]
    assert len(out) == len(values)
    assert bad == []
