"""Q11 multi-field / multi_match + Q12 prefix query tests."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aarhus_spark.textops import extract_title, extract_title_series


# ---------------------------------------------------------------------------
# title extraction
# ---------------------------------------------------------------------------

TITLE_CASES = [
    b"<html><title>Hello &amp; World</title><body>x</body></html>",
    b"<html><TITLE lang=en>Upper\n  Case</TITLE></html>",
    b"<html><body>no title here</body></html>",
    b"<title>first</title><title>second</title>",
    None,
    b"<title>spans\nlines\tand\ttabs</title>",
]


def test_extract_title_scalar():
    assert extract_title(TITLE_CASES[0]) == "Hello & World"
    assert extract_title(TITLE_CASES[1]) == "Upper Case"
    assert extract_title(TITLE_CASES[2]) == ""
    assert extract_title(TITLE_CASES[3]) == "first"
    assert extract_title(None) == ""


def test_extract_title_series_matches_scalar():
    s = extract_title_series(pd.Series(TITLE_CASES, dtype=object))
    for got, raw in zip(s, TITLE_CASES):
        assert got == extract_title(raw)


# ---------------------------------------------------------------------------
# multi-field build + multi_match
# ---------------------------------------------------------------------------

def _mf_corpus(spark):
    rows = [
        # url, ts, html, text, lang
        ("u://a", "2026-01-01", "apple banana cherry", "Apple Pie"),
        ("u://b", "2026-01-01", "banana banana banana", "Banana"),
        ("u://c", "2026-01-01", "cherry apple", ""),          # no title
        ("u://d", "2026-01-01", "durian", "Apple Apple"),
        ("u://e", "2026-01-01", "apple", "Cherry"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "ts", "text", "title"])
    pdf["warc_ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf[["url", "warc_ts", "text", "title"]])
    return (df.withColumn("html", F.lit(None).cast("binary"))
            .withColumn("lang", F.lit("en")))


@pytest.fixture(scope="module")
def mf_index(spark, tmpdir_session):
    from aarhus_spark.operators.multifield import build_field_indexes
    out = os.path.join(tmpdir_session, "mf_idx")
    stats = build_field_indexes(
        spark, _mf_corpus(spark), out,
        fields={"text": F.col("text"), "title": F.col("title")})
    return out, stats


def test_mf_shared_docid_space(spark, mf_index):
    from aarhus_spark.operators.build import IndexPaths
    out, stats = mf_index
    assert stats["text"]["N"] == stats["title"]["N"] == 5
    m_text = {r["url"]: r["docid"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=text")).doclens).collect()}
    m_title = {r["url"]: r["docid"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=title")).doclens).collect()}
    assert m_text == m_title and len(m_text) == 5
    # the empty-title doc exists in the title index with dl = 0
    dl_title = {r["url"]: r["dl"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=title")).doclens).collect()}
    assert dl_title["u://c"] == 0


def _scores(df):
    return {(r["query_id"], r["docid"]): r["score"] for r in df.collect()}


def test_multi_match_modes_vs_per_field(spark, mf_index):
    """best_fields == max(per-field), most_fields == sum(per-field),
    boosts multiply — cross-checked against two independent single-field
    TAAT runs."""
    from aarhus_spark.operators.multifield import search_multi_match
    from aarhus_spark.operators.search import search_taat
    out, _ = mf_index
    qdf = spark.createDataFrame([(0, "apple"), (1, "banana cherry")],
                                "query_id long, qtext string")
    s_text = _scores(search_taat(spark, os.path.join(out, "field=text"),
                                 qdf, k=100))
    s_title = _scores(search_taat(spark, os.path.join(out, "field=title"),
                                  qdf, k=100))
    boost = 3.0
    best = _scores(search_multi_match(spark, out, qdf, k=100,
                                      boosts={"title": boost},
                                      mode="best_fields"))
    most = _scores(search_multi_match(spark, out, qdf, k=100,
                                      boosts={"title": boost},
                                      mode="most_fields"))
    keys = set(s_text) | set(s_title)
    assert set(best) == keys == set(most)
    for key in keys:
        a = s_text.get(key, 0.0)
        b = boost * s_title.get(key, 0.0)
        assert best[key] == pytest.approx(max(a, b), rel=1e-12)
        assert most[key] == pytest.approx(a + b, rel=1e-12)
    # the no-title doc (u://c holds 'cherry apple' text) appears via
    # the text field only; its title never matches
    assert all(k in s_text for k in best if k not in s_title)


def test_multi_match_tie_breaker(spark, mf_index):
    from aarhus_spark.operators.multifield import search_multi_match
    out, _ = mf_index
    qdf = spark.createDataFrame([(0, "apple")], "query_id long, qtext string")
    pure = _scores(search_multi_match(spark, out, qdf, k=100,
                                      mode="best_fields"))
    tb = _scores(search_multi_match(spark, out, qdf, k=100,
                                    mode="best_fields", tie_breaker=0.5))
    total = _scores(search_multi_match(spark, out, qdf, k=100,
                                       mode="most_fields"))
    for key in tb:
        assert tb[key] == pytest.approx(
            pure[key] + 0.5 * (total[key] - pure[key]), rel=1e-12)


def test_title_from_html_field(spark, tmpdir_session):
    """The <title> extractor composes with the field build: a corpus
    where text comes from E(html) and title from E_title(html)."""
    import pyspark.sql.types as T

    from aarhus_spark.operators.build import IndexPaths
    from aarhus_spark.operators.multifield import build_field_indexes
    from aarhus_spark.textops import extract_title_series

    @F.pandas_udf(T.StringType())
    def title_udf(html: pd.Series) -> pd.Series:
        return extract_title_series(html)

    rows = [("u://x", b"<title>alpha beta</title><p>gamma delta</p>"),
            ("u://y", b"<p>no title gamma</p>")]
    pdf = pd.DataFrame(rows, columns=["url", "html"])
    pdf["warc_ts"] = pd.to_datetime("2026-01-01")
    df = (spark.createDataFrame(pdf)
          .withColumn("text", F.lit(None).cast("string"))
          .withColumn("lang", F.lit("en"))
          .select("url", "warc_ts", "html", "text", "lang"))
    out = os.path.join(tmpdir_session, "mf_html_idx")
    stats = build_field_indexes(spark, df, out,
                                fields={"text": F.col("text"),
                                        "title": title_udf(F.col("html"))})
    assert stats["text"]["N"] == stats["title"]["N"] == 2
    dic = {r["term"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=title")).dictionary).collect()}
    assert dic == {"alpha", "beta"}


# ---------------------------------------------------------------------------
# prefix queries
# ---------------------------------------------------------------------------

def test_prefix_expansion_and_cap(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import expand_prefix_terms
    idx = _ensure_index(spark, sf_dir)
    terms = expand_prefix_terms(spark, idx, "s")
    assert set(terms) == {"scan", "slow", "small", "sort", "spark", "stream"}
    # cap keeps the highest-df expansions, deterministically
    capped = expand_prefix_terms(spark, idx, "s", cap=2)
    assert len(capped) == 2 and set(capped) < set(terms)
    with pytest.raises(ValueError):
        expand_prefix_terms(spark, idx, "")
    with pytest.raises(ValueError):
        expand_prefix_terms(spark, idx, "a*")


def test_prefix_search_equals_expanded_disjunction(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import (expand_prefix_terms,
                                               search_prefix, search_taat)
    idx = _ensure_index(spark, sf_dir)
    qdf = spark.createDataFrame([(0, "s"), (1, "qu")],
                                "query_id long, prefix string")
    got = search_prefix(spark, idx, qdf, k=15).collect()
    exp_rows = [(qid, " ".join(expand_prefix_terms(spark, idx, p)))
                for qid, p in [(0, "s"), (1, "qu")]]
    want = search_taat(spark, idx, spark.createDataFrame(
        exp_rows, "query_id long, qtext string"), k=15).collect()
    key = lambda r: (r["query_id"], r["rank"], r["docid"], r["score"])
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_prefix_range_pushdown_plan(spark, sf_dir):
    """The dictionary scan must carry the term range as PushedFilters."""
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.build import IndexPaths
    idx = _ensure_index(spark, sf_dir)
    dic = (spark.read.parquet(IndexPaths(idx).dictionary)
           .filter((F.col("term") >= "s") & (F.col("term") < "t")))
    plan = dic._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(term" in plan


def test_fuzzy_expansion(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import expand_fuzzy_terms
    idx = _ensure_index(spark, sf_dir)
    assert set(expand_fuzzy_terms(spark, idx, "vale", 2)) == {"table", "value"}
    assert expand_fuzzy_terms(spark, idx, "vale", 1) == ["value"]
    # distance 0: the exact term only
    assert expand_fuzzy_terms(spark, idx, "value", 0) == ["value"]
    with pytest.raises(ValueError):
        expand_fuzzy_terms(spark, idx, "vale", 3)


def test_fuzzy_search_equals_expanded_disjunction(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import (expand_fuzzy_terms,
                                               search_fuzzy, search_taat)
    idx = _ensure_index(spark, sf_dir)
    qdf = spark.createDataFrame([(0, "vale")], "query_id long, fterm string")
    got = search_fuzzy(spark, idx, qdf, k=15).collect()
    want = search_taat(spark, idx, spark.createDataFrame(
        [(0, " ".join(expand_fuzzy_terms(spark, idx, "vale", 2)))],
        "query_id long, qtext string"), k=15).collect()
    key = lambda r: (r["query_id"], r["rank"], r["docid"], r["score"])
    assert sorted(map(key, got)) == sorted(map(key, want))
