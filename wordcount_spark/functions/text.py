"""Byte-faithful re-expression of the reference's word normalizer.

The reference's only scalar function is ``process_word`` (reference
``sequential.cpp:12-37``, ``omp.cpp:25-50``, ``hybrid.cpp:32-58``):

1. strip LEADING bytes while ``ispunct(c) || c < 0`` (ASCII punctuation or
   any byte with the high bit set, i.e. any non-ASCII UTF-8 byte);
2. strip TRAILING bytes the same way;
3. ASCII-only lowercase (``isupper`` A-Z only — interior unicode uppercase
   like ``Ï`` is NOT lowered, ``sequential.cpp:31-36``).

Two semantics exist (SURVEY.md §0.6): HEAD sources (canonical, includes the
``c < 0`` test) and the stale committed binaries that produced the golden
files (ASCII-punct-only strip — ``“quoted”``/``café`` pass through intact).
Both are exposed; ``mode`` selects.

Everything is built-in JVM expressions — no Python UDF in the hot path.
Java ``\\p{Punct}`` is exactly the 32 ASCII punctuation chars (= C
``ispunct``), and stripping whole non-ASCII *code points* is equivalent to
the reference's byte-wise strip because every UTF-8 lead/continuation byte
of a multi-byte char has the high bit set.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"

# C ispunct() set == Java \p{Punct} == POSIX [[:punct:]] (32 ASCII chars).
# Head and tail strips fused into ONE pattern so normalization is a single
# regex pass per token, and the punct/non-ASCII union is a single CHARACTER
# CLASS ([\p{Punct}\P{ASCII}]) rather than an alternation — the class is one
# table lookup per char; the alternation form re-tries two branches per char
# (~40% slower measured).
# \z (true end of input), NOT $: Java's default-mode $ also matches
# BEFORE a trailing line terminator, and U+0085/U+2028/U+2029 are Java
# line terminators that are NOT C++ operator>> whitespace — so they
# survive tokenization, and a stale-mode token like '0:\x85' would have
# its interior ':' stripped as "trailing" punct ('0\x85') while the
# byte-level reference (and RE2's end-of-text $ in the DuckDB oracle)
# keeps it ('0:\x85'). Found by hypothesis (test_property_normalizer).
_EDGE_STRIP = r"^[\p{Punct}\P{ASCII}]+|[\p{Punct}\P{ASCII}]+\z"
_EDGE_STRIP_ASCII = r"^\p{Punct}+|\p{Punct}+\z"

#: Whitespace set of C++ ``operator>>`` (`` \t\n\v\f\r``). Java regex ``\s``
#: is exactly ``[ \t\n\x0B\f\r]`` — the same set.
TOKEN_SPLIT_RE = r"\s+"


def ascii_lower(col: Column | str) -> Column:
    """ASCII-only lowercase (reference ``sequential.cpp:31-36``).

    ``translate`` instead of ``lower()``: plain ``lower()`` would also fold
    interior non-ASCII uppercase (``NAÏVE`` → ``naïve``), diverging from the
    reference's ``naÏve``.
    """
    return F.translate(col, ASCII_UPPER, ASCII_LOWER)


def normalize_word(col: Column | str, mode: str = "head") -> Column:
    """The reference ``process_word`` as a single JVM expression.

    mode="head": canonical HEAD-source semantics (strip ASCII punct AND
    non-ASCII at token edges). mode="stale": the committed-binary semantics
    that produced the golden outputs (ASCII punct only).
    """
    if mode == "head":
        pattern = _EDGE_STRIP
    elif mode == "stale":
        pattern = _EDGE_STRIP_ASCII
    else:
        raise ValueError(f"unknown normalizer mode: {mode!r}")
    return ascii_lower(F.regexp_replace(col, pattern, ""))


def tokenize(col: Column | str) -> Column:
    """Split a text column into an array of raw whitespace-delimited tokens.

    Mirrors ``ifstream >> word`` (reference ``sequential.cpp:65``). Empty
    strings produced by leading/trailing whitespace are filtered out here;
    empty *normalized* tokens are filtered after ``normalize_word`` (the
    reference's ``if (!word.empty())`` at ``sequential.cpp:68-71``).
    """
    return F.filter(F.split(col, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


#: DuckDB-SQL rendering of ``tokenize``'s split of ``text`` (C++
#: ``operator>>`` whitespace); the oracles drop its empty strings with
#: ``list_filter(..., x -> x <> '')``.
TOKS_SQL = "regexp_split_to_array(text, '[ \t\n\x0b\f\r]+')"


def normalize_word_sql(expr: str, mode: str = "head") -> str:
    """DuckDB-SQL rendering of ``normalize_word`` for the oracle.

    RE2's ``[[:punct:]]`` is the same 32-char ASCII set; ``[^\\x00-\\x7F]``
    matches any non-ASCII code point.
    """
    if mode == "head":
        # RE2 spelling of the same class union (\P{ASCII} ≡ \x{80}-\x{10FFFF})
        pattern = r"^[[:punct:]\x{80}-\x{10FFFF}]+|[[:punct:]\x{80}-\x{10FFFF}]+$"
    elif mode == "stale":
        pattern = r"^[[:punct:]]+|[[:punct:]]+$"
    else:
        raise ValueError(f"unknown normalizer mode: {mode!r}")
    stripped = f"regexp_replace({expr}, '{pattern}', '', 'g')"
    return f"translate({stripped}, '{ASCII_UPPER}', '{ASCII_LOWER}')"
