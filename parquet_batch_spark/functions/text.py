"""Text primitives shared by the text-analysis and dedup operators.

All JVM-side (split/regexp/transform) — no Python UDFs — so they stay
inside the JVM and scale out with executors. Each primitive has an
exact DuckDB SQL mirror for the correctness oracle.

Once-per-row rule: a per-row value that a lambda body reads (the
tokens of a document) reaches the lambda through ``bind``, never as
a plain column expression. Catalyst copies a column expression into
the lambda body, so ``transform(windows, i -> slice(split(text), …))``
re-splits the whole document for every window — O(tokens²) per
document. Selecting the tokens into a column first does not help:
CollapseProject inlines a projected column that is referenced once,
even into a lambda body. A lambda variable cannot be inlined, so
``bind`` makes the split run once per row and each window a slice.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization; trims first so no empty edge tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), WS)


def bind(value: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(value)`` with ``value`` evaluated once per row and handed to
    ``fn`` as a lambda variable (see the module docstring)."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def shingles_col(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles: space-joined sliding windows of k tokens.

    Documents shorter than k tokens yield a single shingle of the whole
    text so they still participate in dedup.
    """

    def shingles(t: Column) -> Column:
        n = F.size(t)
        windows = F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
        )
        return F.when(n >= k, windows).otherwise(F.array(F.concat_ws(" ", t)))

    return bind(toks, shingles)


def segments_col(toks: Column, width: int) -> Column:
    """Consecutive non-overlapping ``width``-token segments, space-joined;
    the last segment holds the remainder."""
    return bind(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.ceil(F.size(t) / F.lit(width)).cast("int")),
            lambda i: F.concat_ws(" ", F.slice(t, (i - 1) * width + 1, width)),
        ),
    )


# Marker stopwords per language (distinctive function words), in the
# fixed order that breaks argmax ties.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "les", "et", "une"],
    "de": ["der", "die", "das", "und", "ein"],
}


def marker_langid(toks: Column, markers: dict[str, list[str]] = LANG_MARKERS) -> Column:
    """Stopword-marker language ID:
    ``struct<score_<lang>: bigint, …, pred: string>``.

    A language's score counts the tokens in its marker list (with
    multiplicity); ``pred`` is the argmax, ties broken by the order of
    ``markers``, and 'unknown' when every score is zero.  The tokens
    are bound once and each score is computed once, however often the
    argmax reads it.
    """
    langs = list(markers)

    def hits(t: Column, m: list[str]) -> Column:
        # one-parameter lambda: F.filter passes (element, index) to two
        return F.size(F.filter(t, lambda x: x.isin(m))).cast("bigint")

    def classify(s: Column) -> Column:
        pred, best = F.lit("unknown"), F.lit(0).cast("bigint")
        # reverse order so earlier languages win ties; zero never wins
        for i in reversed(range(len(langs))):
            pred = F.when((s[i] >= best) & (s[i] > 0), F.lit(langs[i])).otherwise(pred)
            best = F.greatest(best, s[i])
        scores = [s[i].alias(f"score_{lang}") for i, lang in enumerate(langs)]
        return F.struct(*scores, pred.alias("pred"))

    return bind(toks, lambda t: bind(F.array(*[hits(t, markers[g]) for g in langs]), classify))


# ---- Oracle-side (DuckDB) SQL mirrors ----

def sql_tokens(expr: str) -> str:
    return f"string_split_regex(trim({expr}), '\\s+')"


def sql_shingles(toks_expr: str, k: int = 3) -> str:
    """DuckDB mirror of shingles_col (1-based inclusive list slicing)."""
    return (
        f"CASE WHEN len({toks_expr}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks_expr}) - {k - 1}), "
        f"i -> array_to_string(({toks_expr})[i:i+{k - 1}], ' ')) "
        f"ELSE [array_to_string({toks_expr}, ' ')] END"
    )
