"""Text expression builders shared by dedup/text operators (SURVEY.md §2C).

All pure Catalyst expressions (split/filter/transform/aggregate HOFs) — the
tokenization path never leaves the JVM. SQL-string twins are provided for the
DuckDB oracles so both engines tokenize identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FNV_MOD = 1_000_000_007

# Locale-stable case fold (VERDICT r10 item 5 — retires the 10 Turkish
# dotted-I hostile-gate pins): pre-translate the two code points whose
# lowercase diverges between Spark's ICU full casemap and DuckDB's simple
# map, THEN lower. U+0130 'İ' → Spark 'i'+U+0307 (combining dot) vs DuckDB
# 'i'; U+03A3 'Σ' → context-sensitive final sigma 'ς' under full casemap vs
# unconditional 'σ' under the simple map. After translate, lower() agrees
# byte-for-byte in both engines on every input. Applied at every
# TEXT-CONTENT lowercase site (tokenization, normalization, BPE-ish regex);
# ASCII-constrained columns (URL schemes, TPC-H segments) skip the fold.
_FOLD_SRC = "İΣ"
_FOLD_DST = "iσ"


def fold_lower(c: Column) -> Column:
    """Case fold that is byte-identical across Spark and DuckDB (see the
    _FOLD_SRC note above); the oracle twin is SQL_FOLD_LOWER. One replace
    per code point rather than translate: translate looks every code
    point of every row up in a map and rebuilds the string, while replace
    is a byte search that returns the row as it is when the code point
    is absent, as it is from nearly every row."""
    for src, dst in zip(_FOLD_SRC, _FOLD_DST):
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.lower(c)


SQL_FOLD_LOWER = (
    "lower(translate({col}, '" + _FOLD_SRC + "', '" + _FOLD_DST + "'))"
)


def fold_upper(c: Column) -> Column:
    """Uppercase twin of fold_lower: pre-replace U+00DF 'ß' → 'ss' (the one
    code point in the fixture/hostile alphabets whose UPPERCASE diverges —
    ICU full casemap gives 'SS' while DuckDB's simple map gives U+1E9E 'ẞ');
    after the replace, upper() agrees byte-for-byte in both engines (fuzz
    gate seed 101001). The oracle twin is SQL_FOLD_UPPER."""
    return F.upper(F.replace(c, F.lit("ß"), F.lit("ss")))


SQL_FOLD_UPPER = "upper(replace({col}, 'ß', 'ss'))"


def tokens(col: Column | str) -> Column:
    """Case-folded whitespace tokens, empties dropped (regexp split so runs
    of whitespace behave identically in both engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(fold_lower(c), r"\s+"), lambda t: t != "")


def shingles3(toks: Column) -> Column:
    """Distinct word 3-gram shingles; empty for docs under 3 tokens.

    Built from arrays_zip of three shifted slices, NOT from
    element_at(toks, i) inside a transform lambda: higher-order lambdas are
    interpreted, and an outer-column reference in the lambda body re-evaluates
    its whole expression tree (including the upstream regexp tokenization)
    once PER ELEMENT — measured 13s for 5k docs at sf0.1, O(tokens²) per doc.
    The zip form touches only the lambda variable, so inputs are evaluated
    per row, not per element — but ``toks`` six times, and Catalyst shares
    no lambda-holding expression (tokens()): pass a column reference."""
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    z = F.arrays_zip(
        F.slice(toks, 1, n).alias("w1"),
        F.slice(toks, 2, n).alias("w2"),
        F.slice(toks, 3, n).alias("w3"),
    )
    return F.array_distinct(
        F.transform(z, lambda s: F.concat_ws(" ", s["w1"], s["w2"], s["w3"]))
    )


def rolling_fingerprint(col: Column | str) -> Column:
    """Polynomial rolling hash over codepoints: h = (h*31 + code) mod 1e9+7.
    Sequential fold — deterministic, and f(0, c) = c makes it equal to
    DuckDB's init-less list_reduce over the same codepoints."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % FNV_MOD,
    )


# --- DuckDB twins ---------------------------------------------------------

SQL_TOKENS = (
    "list_filter(regexp_split_to_array("
    + SQL_FOLD_LOWER
    + ", '\\s+'), t -> t <> '')"
)

SQL_SHINGLES3 = (
    "list_distinct(list_transform(range(greatest(len({toks}) - 2, 0)), "
    "i -> {toks}[i+1] || ' ' || {toks}[i+2] || ' ' || {toks}[i+3]))"
)

# CASE guard: DuckDB list_reduce raises on an empty list, while the Spark
# twin (F.aggregate with a 0 seed) returns 0 — make empty documents agree
# instead of crashing the oracle. (Whitespace chars DO feed the hash on both
# sides, so only length=0 produces an empty codepoint list.)
SQL_FINGERPRINT = (
    "CASE WHEN length({col}) = 0 THEN CAST(0 AS BIGINT) ELSE "
    "list_reduce(list_transform(list_filter(string_split({col}, ''), ch -> ch <> ''), "
    f"ch -> CAST(unicode(ch) AS BIGINT)), (a, b) -> (a * 31 + b) % {FNV_MOD})"
    " END"
)
