"""Unit tests for batch-g: repetition profiling and boilerplate lines."""

from __future__ import annotations

import pytest


def test_repetition_profile_known_docs(spark):
    from mintpy_spark.operators.repetition import repetition_profile

    docs = spark.createDataFrame(
        [
            (1, "buy buy buy buy now"),          # stuffing: top word 4/5
            (2, "a b c a b c a b"),              # repeated 2/3-gram spans
            (3, "all distinct words here"),      # clean
            (4, ""),                             # empty -> excluded
            (5, "solo"),                         # 1 word: no grams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_profile(docs).collect()}
    assert 4 not in out
    assert out[1].n_words == 5 and out[1].top_word_frac == pytest.approx(0.8)
    # doc1 grams: 2-grams = [buy buy, buy buy, buy buy, buy now] -> 2 dups
    assert out[1].dup2_frac == pytest.approx(0.5)
    # doc2: 2-grams [ab,bc,ca,ab,bc,ca,ab] distinct 3 -> dup 4/7
    assert out[2].dup2_frac == pytest.approx(round(4 / 7, 4))
    # doc2: 3-grams [abc,bca,cab,abc,bca,cab] distinct 3 -> dup 0.5
    assert out[2].dup3_frac == pytest.approx(0.5)
    assert out[3].top_word_frac == pytest.approx(0.25)
    assert out[3].dup2_frac == 0.0 and out[3].dup3_frac == 0.0
    assert out[5].n_words == 1 and out[5].dup2_frac == 0.0  # no grams


def test_boilerplate_multiline_corpus(spark):
    # the real (multi-line) path: a footer shared by 3 docs of one source
    from mintpy_spark.operators.boilerplate import boilerplate_coverage

    docs = spark.createDataFrame(
        [
            (1, "s", "real content one\ncookie banner\nfooter text"),
            (2, "s", "different content\ncookie banner\nfooter text"),
            (3, "s", "third thing\ncookie banner"),
            (4, "t", "cookie banner\nunique stuff"),  # other source: df=1
        ],
        "doc_id long, source string, text string",
    )
    # min_docs=3: only 'cookie banner' (3 docs of source s) is boilerplate
    cov3 = {
        (r.source, r.doc_id): r.n_boiler
        for r in boilerplate_coverage(docs, min_docs=3).collect()
    }
    assert cov3 == {("s", 1): 1, ("s", 2): 1, ("s", 3): 1, ("t", 4): 0}

    cov = {
        (r.source, r.doc_id): (r.n_lines, r.n_boiler, r.boiler_frac)
        for r in boilerplate_coverage(docs, min_docs=2).collect()
    }
    # with min_docs=2 'footer text' is boilerplate too
    assert cov[("s", 1)] == (3, 2, pytest.approx(round(2 / 3, 4)))
    assert cov[("s", 3)] == (2, 1, 0.5)
    assert cov[("t", 4)] == (2, 0, 0.0)  # source-scoped: df=1 in 't'


def test_boilerplate_ignores_blank_and_whitespace_lines(spark):
    from mintpy_spark.operators.boilerplate import boilerplate_coverage

    docs = spark.createDataFrame(
        [(1, "s", "a\n\n   \nb"), (2, "s", "a\nc")],
        "doc_id long, source string, text string",
    )
    cov = {r.doc_id: r for r in boilerplate_coverage(docs, min_docs=2).collect()}
    assert cov[1].n_lines == 2  # blank/whitespace lines never counted
    assert cov[1].n_boiler == 1  # 'a' shared
