"""Text analysis scalar layer — tokens, shingles, language-ID, quality score,
fingerprints. All pure Catalyst expressions (split / transform / filter /
aggregate): no Python worker in any hot path, so a 100 TB documents scan
stays inside whole-stage codegen.

Every function has a DuckDB-SQL twin (same names, `_sql` suffix) used by the
correctness oracle; semantics are defined so both engines produce identical
bits (integer counts, single-expression double arithmetic, fixed CASE order
for argmax ties).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker-token lists for the n-gram/stopword language-ID heuristic.
# Deterministic and tiny by design; ties resolve in lexicographic lang order.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "de", "et", "est"],
}

_STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def tokens(text: Column) -> Column:
    """Whitespace tokens. Single-space split to match the oracle exactly
    (documents corpus is single-space separated)."""
    return F.split(text, " ")


def tokens_sql(expr: str) -> str:
    return f"string_split({expr}, ' ')"


def ordered_shingles(text: Column, k: int = 3) -> Column:
    """Positional k-word shingles in document order (duplicates preserved —
    winnowing and other positional fingerprints need the full sequence);
    whole text when fewer than k tokens.

    One codegen'd regexp_extract_all: a zero-width match at every token
    start (position 0 or right after a space) whose lookahead captures the
    next k single-space-separated tokens — the same strings as joining k
    consecutive elements of tokens(), empty tokens included."""
    rx = "(?:^|(?<= ))(?=(" + " ".join(["[^ ]*"] * k) + "))"
    make = F.regexp_extract_all(text, F.lit(rx), 1)
    return F.when(F.size(tokens(text)) >= k, make).otherwise(F.array(text))


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (set semantics — the dedup family's input)."""
    return F.array_distinct(ordered_shingles(text, k))


def ordered_shingles_sql(w_col: str, text_expr: str, k: int = 3) -> str:
    """DuckDB twin of ordered_shingles(); `w_col` names a column already
    holding the token list (bind `string_split(text, ' ') AS w` first)."""
    parts = " || ' ' || ".join(f"{w_col}[i + {j}]" for j in range(k))
    return (
        f"(CASE WHEN len({w_col}) >= {k} THEN "
        f"list_transform(range(1, len({w_col}) - {k - 2}), i -> {parts}) "
        f"ELSE [{text_expr}] END)"
    )


def shingles_sql(w_col: str, text_expr: str, k: int = 3) -> str:
    """DuckDB twin of shingles()."""
    return f"list_distinct({ordered_shingles_sql(w_col, text_expr, k)})"


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def distinct_token_ratio(text: Column) -> Column:
    w = tokens(text)
    return F.size(F.array_distinct(w)).cast("double") / F.size(w)


def stopword_ratio(text: Column) -> Column:
    w = tokens(text)
    stop = F.filter(w, lambda t: t.isin(_STOPWORDS))
    return F.size(stop).cast("double") / F.size(w)


def quality_score(text: Column) -> Column:
    """Deterministic heuristic in [0,1]: length saturation + stopword ratio +
    vocabulary diversity (fixed 0.3/0.3/0.4 weights, left-to-right sum)."""
    n = token_count(text)
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    return (
        F.lit(0.3) * length_term
        + F.lit(0.3) * stopword_ratio(text)
        + F.lit(0.4) * distinct_token_ratio(text)
    )


def lang_scores(text: Column) -> dict[str, Column]:
    w = tokens(text)
    return {
        lang: F.size(F.filter(w, lambda t: t.isin(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax of marker counts; 'und' when all zero; ties -> lexicographically
    first language code (CASE evaluation order fixes this in both engines)."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in sorted(scores):  # de, en, es, fr — tie goes to the first hit
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def _lang_score_sql(expr: str, markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({tokens_sql(expr)}, t -> t IN ({lst})))"


def lang_id_sql(expr: str) -> str:
    scores = {lang: _lang_score_sql(expr, m) for lang, m in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in sorted(scores)
    )
    return f"(CASE WHEN {best} = 0 THEN 'und'{whens} END)"


def stopword_ratio_sql(expr: str) -> str:
    lst = ", ".join(f"'{m}'" for m in _STOPWORDS)
    w = tokens_sql(expr)
    return f"(len(list_filter({w}, t -> t IN ({lst})))::double / len({w}))"


def distinct_token_ratio_sql(expr: str) -> str:
    w = tokens_sql(expr)
    return f"(len(list_distinct({w}))::double / len({w}))"


def quality_score_sql(expr: str) -> str:
    w = tokens_sql(expr)
    return (
        f"(0.3 * least(len({w}) / 100.0, 1.0)"
        f" + 0.3 * {stopword_ratio_sql(expr)}"
        f" + 0.4 * {distinct_token_ratio_sql(expr)})"
    )
