"""Text primitives (functions/text.py): each document is tokenized once
per row, and the once-per-row forms return exactly what the inline
re-tokenizing forms returned, row for row, on edge inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_batch_spark.functions.text import (
    LANG_MARKERS,
    bind,
    marker_langid,
    segments_col,
    shingles_col,
    tokens_col,
)
from parquet_batch_spark.plans.inspect import lambda_bodies

_LONG = " ".join(f"w{i % 7}" for i in range(40))  # repeats every 7 tokens

EDGE_TEXTS = [
    "",
    "   ",
    "\t\n ",
    "a",
    "a b",
    "a b c",
    "a b c d",
    "  lead   and\ttrail  ",
    "x y x y x y x y",
    None,
    _LONG,  # 40 tokens: a multiple of the width 20
    _LONG + " tail1 tail2 tail3",  # 43 tokens: not a multiple
    " ".join(["same"] * 45),  # every window identical
]

# marker-classifier inputs: the edge texts plus argmax cases
LANGID_TEXTS = EDGE_TEXTS + [
    "the cat and the dog",
    "el gato y la casa de la abuela",
    "la la",  # es/fr tie on "la": the earlier language wins
    "der die das und ein the",
    "les et une le la el",
    "zz qq",
]


def _inline_shingles(toks, k):
    """The re-tokenizing formulation shingles_col replaced."""
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n >= k, windows).otherwise(F.array(F.concat_ws(" ", toks)))


def _inline_segments(toks, width):
    """The re-tokenizing formulation segments_col replaced."""
    n_seg = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    return F.transform(
        F.sequence(F.lit(1), n_seg),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * width + 1, width)),
    )


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id int, text string"
    )


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_shingles_match_inline_form(edge_docs, k):
    toks = tokens_col("text")
    rows = (
        edge_docs.select(
            "doc_id",
            _inline_shingles(toks, k).alias("old"),
            shingles_col(toks, k).alias("new"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == len(EDGE_TEXTS)
    for r in rows:
        assert r["new"] == r["old"], (EDGE_TEXTS[r["doc_id"]], k)
    # spot-check the windows themselves, not only old == new
    by_id = {r["doc_id"]: r["new"] for r in rows}
    if k == 3:
        assert by_id[EDGE_TEXTS.index("a b")] == ["a b"]
        assert by_id[EDGE_TEXTS.index("a b c")] == ["a b c"]
        assert by_id[EDGE_TEXTS.index("a b c d")] == ["a b c", "b c d"]
        assert by_id[EDGE_TEXTS.index("x y x y x y x y")] == ["x y x", "y x y"] * 3


@pytest.mark.parametrize("width", [3, 20])
def test_segments_match_inline_form(edge_docs, width):
    toks = tokens_col("text")
    rows = (
        edge_docs.select(
            "doc_id",
            _inline_segments(toks, width).alias("old"),
            segments_col(toks, width).alias("new"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == len(EDGE_TEXTS)
    for r in rows:
        assert r["new"] == r["old"], (EDGE_TEXTS[r["doc_id"]], width)
    if width == 20:
        by_id = {r["doc_id"]: r["new"] for r in rows}
        assert len(by_id[EDGE_TEXTS.index(_LONG)]) == 2
        tail = by_id[len(EDGE_TEXTS) - 2]
        assert len(tail) == 3 and tail[2] == "tail1 tail2 tail3"


def test_projected_tokens_stay_out_of_the_lambda(edge_docs):
    """CollapseProject inlines a once-referenced projected column into
    the consuming projection, lambda bodies included: selecting the
    tokens first still re-splits per lambda call. Binding them does
    not, whatever the number of references in the lambda."""
    projected = edge_docs.select(tokens_col("text").alias("toks"))

    def first4(t):
        return F.transform(
            F.sequence(F.lit(1), F.lit(4)), lambda i: F.element_at(t, i)
        )

    inline = projected.select(first4(F.col("toks")))
    assert any("split(" in b for b in lambda_bodies(inline))
    for bound in (
        projected.select(bind(F.col("toks"), first4)),
        projected.select(shingles_col(F.col("toks"), 3)),
        projected.select(segments_col(F.col("toks"), 20)),
    ):
        bodies = lambda_bodies(bound)
        assert bodies and not any("split(" in b for b in bodies), bodies


def _inline_marker_langid(toks, markers):
    """The per-operator classifier marker_langid replaced: every score
    re-reads the tokens, and the argmax re-reads every score."""

    def score(m):
        return F.size(F.filter(toks, lambda t: t.isin(m))).cast("bigint")

    scores = {lang: score(m) for lang, m in markers.items()}
    pred, best = F.lit("unknown"), F.lit(0).cast("bigint")
    for lang in reversed(list(markers)):
        s = scores[lang]
        pred = F.when((s >= best) & (s > 0), F.lit(lang)).otherwise(pred)
        best = F.greatest(best, s)
    return F.struct(
        *[scores[lang].alias(f"score_{lang}") for lang in markers], pred.alias("pred")
    )


@pytest.mark.parametrize(
    "markers",
    [LANG_MARKERS, {"en": ["the"], "es": ["el"], "fr": ["les"], "de": ["der"]}],
    ids=["five_markers", "one_marker"],
)
def test_marker_langid_matches_inline_form(spark, markers):
    docs = spark.createDataFrame(list(enumerate(LANGID_TEXTS)), "doc_id int, text string")
    toks = tokens_col("text")
    df = docs.select(
        "doc_id",
        _inline_marker_langid(toks, markers).alias("old"),
        marker_langid(toks, markers).alias("new"),
    )
    rows = df.orderBy("doc_id").collect()
    assert len(rows) == len(LANGID_TEXTS)
    for r in rows:
        assert r["new"] == r["old"], (LANGID_TEXTS[r["doc_id"]], r["new"], r["old"])
    if markers is LANG_MARKERS:
        pred = {LANGID_TEXTS[r["doc_id"]]: r["new"]["pred"] for r in rows}
        assert pred["the cat and the dog"] == "en"
        assert pred["el gato y la casa de la abuela"] == "es"
        assert pred["la la"] == "es"
        assert pred["zz qq"] == "unknown" and pred[None] == "unknown"
    plan = docs.select(marker_langid(toks, markers).alias("lid"))._jdf.queryExecution()
    assert plan.optimizedPlan().toString().count("split(") == 1
