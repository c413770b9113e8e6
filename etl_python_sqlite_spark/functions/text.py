"""Text-analysis column expressions for training-data pipelines (EXT).

All pure JVM column expressions (split/transform/aggregate/regexp) — no
Python UDFs — so they vectorize inside whole-stage codegen and scale
linearly with executors. Built for the ``documents`` table
(doc_id, text, lang, source, n_chars) but column-generic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: small per-language stopword dictionaries for the n-gram/stopword
#: language-ID heuristic. Deliberately tiny + hard-coded: the langid score
#: must be reproducible in the DuckDB oracle SQL.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "den"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "dans"),
}

#: ASCII whitespace, spelled out. Java regex ``\s`` is exactly this set,
#: but RE2 (DuckDB) ``\s`` EXCLUDES \x0B (vertical tab) — an implicit
#: ``\s`` on both engines diverges on \x0B-bearing text. Every whitespace
#: class on BOTH sides (here and the oracle SQL in __spark_entry__.py)
#: uses these characters explicitly so the engines cannot disagree.
WS = r" \t\n\x0B\f\r"
WS_CLASS = rf"[{WS}]"

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
#: Kept to a subset portable between Java regex (Spark) and RE2 (DuckDB).
TOKEN_RE = rf"[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9{WS}]"


def _ws_strip(c: Column) -> Column:
    """Strip leading/trailing ASCII whitespace. NOT ``F.trim``: trim
    removes only 0x20 spaces, so a trailing tab/newline would survive and
    ``split`` would emit a phantom empty token (caught by
    tests/test_text_fuzz.py). Scope is the explicit ASCII set ``WS`` —
    portable across Java regex and RE2 (see WS note), unlike Python's
    unicode-whitespace ``str.split`` corners (NBSP etc.), which this
    surface deliberately excludes."""
    return F.regexp_replace(c, rf"^{WS_CLASS}+|{WS_CLASS}+$", "")


def words(col: Column | str) -> Column:
    """Whitespace tokenization (Python ``str.split()`` semantics over
    ASCII whitespace: any run splits, no empty tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(_ws_strip(c), rf"{WS_CLASS}+")


def n_words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(_ws_strip(c)) == 0, F.lit(0)
    ).otherwise(F.size(words(c)))


def regex_tokens(col: Column | str) -> Column:
    """BPE-ish tokenizer — token count ≈ what a subword tokenizer yields."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)


def avg_word_len(col: Column | str) -> Column:
    """Mean word length = (chars excluding whitespace) / word count, as an
    exact ratio of two ints (portable double division)."""
    c = F.col(col) if isinstance(col, str) else col
    non_ws = F.length(F.regexp_replace(c, rf"{WS_CLASS}+", ""))
    return F.when(n_words(c) > 0, non_ws.cast("double") / n_words(c))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty strings)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, rf"[^\w{WS}]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(
        F.lit(0.0)
    )


def stopword_hits(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Number of (lowercased) words that are in ``stopwords``.

    Implementation: NOT ``F.filter`` over the word array — lambda HOFs
    are interpreted per element (the repo's measured 60× pitfall).
    Instead the words are re-joined with DOUBLE spaces and wrapped in
    single spaces, so every word occurrence owns its flanking spaces and
    ONE regex scan ``" (w1|w2|…) "`` counts exact, non-overlapping
    whole-word matches. Identical counts to the array filter, single
    codegen regexp pass (measured 2.2× on langid, which evaluates four
    of these per row; a per-stopword len−replace variant was SLOWER —
    Catalyst re-inlines the padded-string construction into every term).
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(
        F.lit(" "), F.concat_ws("  ", words(F.lower(c))), F.lit(" ")
    )
    pattern = " (" + "|".join(stopwords) + ") "
    return F.size(F.regexp_extract_all(padded, F.lit(pattern), 0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        n_words(c) > 0,
        stopword_hits(c, LANG_STOPWORDS[lang]).cast("double") / n_words(c),
    ).otherwise(F.lit(0.0))


def langid(col: Column | str) -> Column:
    """Stopword-scoring language ID: argmax of per-language hit counts,
    alphabetical tie-break, 'und' when no stopword fires.

    A CASE-over-greatest cascade — identical logic is replayable in SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    scores = {lang: stopword_hits(c, sw) for lang, sw in sorted(LANG_STOPWORDS.items())}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # build the WHEN chain in reverse-alphabetical order so that earlier
    # (alphabetically smaller) languages win ties
    expr = F.when(best == 0, F.lit("und"))
    for lang in sorted(scores):
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def quality_score(col: Column | str) -> Column:
    """Composite document quality in [0,1]: rewards mid-length docs, a
    healthy stopword ratio and low punctuation density. Heuristic in the
    spirit of C4/Gopher quality filters; exact formula is arbitrary but
    deterministic and oracle-replayable.

        0.4·min(n_words/100,1) + 0.4·min(stopword_ratio·5,1) + 0.2·(1−min(punct_ratio·10,1))
    """
    c = F.col(col) if isinstance(col, str) else col
    length_term = F.least(n_words(c).cast("double") / 100.0, F.lit(1.0))
    sw_term = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(c) * 10.0, F.lit(1.0))
    return 0.4 * length_term + 0.4 * sw_term + 0.2 * punct_term


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles as an array (basis for Jaccard/MinHash).

    Pure expressions: sequence over word offsets → slice+join. Documents
    shorter than k words yield a single whole-doc shingle.
    """
    w = words(col)
    n = F.size(w)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(w, i, k)))
    )


def dup_word_frac(col: Column | str) -> Column:
    """Fraction of word occurrences that repeat an earlier word:
    1 − distinct_words/total_words (0 for empty docs). Gopher-style
    repetition signal; exact int ratio → portable double."""
    c = F.col(col) if isinstance(col, str) else col
    w = words(c)
    return F.when(
        n_words(c) > 0,
        F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / F.size(w),
    ).otherwise(F.lit(0.0))


#: distinctive character trigrams per language for the char-n-gram
#: language-ID profile (tiny, hard-coded — must be replayable in SQL)
LANG_CHAR_NGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", "ing", "and", "ion", "ent"),
    "es": ("que", "ión", "los", "ent", "ado"),
    "de": ("der", "ein", "ich", "sch", "und"),
    "fr": ("les", "ent", "que", "ion", "ait"),
}


def substr_count(col: Column | str, sub: str) -> Column:
    """Occurrences of ``sub`` in ``col`` — (len(x) − len(replace(x,sub,'')))
    / len(sub); pure string ops, portable to any SQL engine."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.length(F.replace(c, F.lit(sub), F.lit("")))) / len(sub)


def langid_char_ngrams(col: Column | str) -> Column:
    """Char-trigram-profile language ID: argmax of per-language trigram
    hit counts over the lowercased text, alphabetical tie-break, 'und'
    when nothing matches. Same cascade shape as the stopword scorer —
    the two heuristics can be ensembled by the caller."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    scores = {
        lang: sum(
            (substr_count(c, g) for g in grams), F.lit(0).cast("double")
        )
        for lang, grams in sorted(LANG_CHAR_NGRAMS.items())
    }
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in sorted(scores):
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization — canonical composition of combining
    sequences (é as e+◌́ → é, Hangul jamo → syllables), the first
    hygiene pass of any multilingual training corpus: dedup keys,
    tokenizers and equality joins all disagree on canonically-
    equivalent byte sequences until the corpus is normalized.

    Spark has no built-in normalizer, so this is one of the repo's few
    sanctioned Python paths: an Arrow-batched ``pandas_udf`` over
    CPython's ``unicodedata`` (UCD) — vectorized batches, never
    row-at-a-time serialization. Cross-engine exactness holds by the
    Unicode NORMALIZATION STABILITY policy: once a character is
    assigned, its normalization never changes between Unicode versions,
    so CPython's UCD and DuckDB's utf8proc (``nfc_normalize``) agree
    bit-for-bit on any assigned text — which is what lets the contract
    query value-hash the whole normalized corpus against the twin.
    """
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    # annotations are postponed module-wide (PEP 563), so the Series
    # hints would be unresolvable strings — set them as live objects
    import pandas as pd

    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf("string")(_nfc)
    return udf(F.col(col) if isinstance(col, str) else col)
