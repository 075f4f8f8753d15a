"""Byte-identical parse parity (the BASELINE input_hint invariant).

The synthetic corpus's ``text`` column is generated by the transcribed
reference extractor (oracle.extract) at corpus build time. The engine's
Arrow pandas-UDF parsers must reproduce it byte-for-byte per URL —
100% pass rate over every template variant (h1 / title-only /
.post-title / main / .content / body-only / tiny-content / no-title)
and both parsers.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_scrapers_python_spark.functions import urls as U
from web_scrapers_python_spark.operators.parse import (
    parse_articles, parse_weibo_full_udf,
)
from web_scrapers_python_spark.oracle import extract as ox
from web_scrapers_python_spark.oracle import reference as ref
from web_scrapers_python_spark.sources import datagen as G

N, H, SEED = 400, 16, 42


@pytest.fixture(scope="module")
def pages(spark):
    return G.generate_pages(spark, N, H, SEED).cache()


def test_generic_news_text_byte_parity(spark, pages):
    """UDF content == generator text for every generic-news page."""
    df = pages.withColumn("parser", U.select_parser_id(F.col("url")))
    news = df.where(F.col("parser") == "generic-news")
    parsed = parse_articles(news, analyze=True)
    cmp = (
        news.select("url", "text")
        .join(parsed.select("url", "content"), "url", "left")
        .collect()
    )
    assert len(cmp) > 50
    mismatches = [r for r in cmp if (r["content"] or None) != (r["text"] or None)]
    assert mismatches == [], mismatches[:3]


def test_weibo_text_byte_parity(spark, pages):
    df = pages.withColumn("parser", U.select_parser_id(F.col("url")))
    weibo = df.where(F.col("parser") == "weibo")
    n = weibo.count()
    assert n > 3  # ~5% of corpus
    got = weibo.select(
        "url", "text",
        parse_weibo_full_udf(F.col("html"), F.col("url")).alias("p"),
    ).collect()
    for r in got:
        want = r["text"]
        content = r["p"]["content"]
        assert (content or None) == (want or None), r["url"]


def test_parse_full_field_parity_vs_oracle(spark, pages):
    """Every article field (not just content) matches the pure-Python
    oracle run driver-side over the same html."""
    df = pages.withColumn("parser", U.select_parser_id(F.col("url")))
    news = df.where(F.col("parser") == "generic-news")
    parsed = {r["url"]: r
              for r in parse_articles(news, analyze=True).collect()}
    raw = news.select("url", "html").collect()
    n_ok = 0
    for r in raw:
        want = ox.parse_generic_news(bytes(r["html"]), r["url"])
        got = parsed.get(r["url"])
        if want is None:
            assert got is None, r["url"]
            continue
        n_ok += 1
        assert got is not None, r["url"]
        for f_ in ("title", "author", "description", "content", "image",
                   "source"):
            assert got[f_] == want.get(f_), (r["url"], f_)
        assert got["published_at"] == want.get("published_at"), r["url"]
        assert got["url_hash"] == ref.url_hash(r["url"])
        if want.get("content"):
            assert got["content_hash"] == ref.content_hash(want["content"])
    assert n_ok > 50


def test_ai_analysis_matches_oracle(spark, pages):
    """The fused ``ai_analysis`` column equals the reference analyzer
    run driver-side over the parsed title and content."""
    df = pages.withColumn("parser", U.select_parser_id(F.col("url")))
    news = df.where(F.col("parser") == "generic-news").limit(80)
    enhanced = parse_articles(news, analyze=True).collect()
    assert len(enhanced) > 20
    for r in enhanced:
        a = r["ai_analysis"]
        want = ref.analyze(r["title"], r["content"])
        assert a["summary"] == want["summary"], r["url"]
        assert a["sentiment"] == want["sentiment"]
        assert round(a["quality_score"], 6) == round(want["quality_score"], 6)
        assert a["readability"] == want["readability"]
        assert list(a["topics"]) == want["topics"]
        assert list(a["entities"]) == want["entities"]
        assert a["language"] == want["language"]
        assert a["word_count"] == want["word_count"]


def test_no_title_pages_rejected(spark, pages):
    """Template variant 7 has no <h1>/<title> → Pydantic required-title
    failure → parse returns None (generic_news.py:60-63)."""
    raw = pages.select("url", "html").collect()
    none_urls = [
        r["url"] for r in raw
        if ref.select_parser_id(r["url"]) == "generic-news"
        and ox.parse_generic_news(bytes(r["html"]), r["url"]) is None
    ]
    assert none_urls, "corpus must include unparseable pages"
    df = pages.withColumn("parser", U.select_parser_id(F.col("url")))
    parsed_urls = {
        r["url"] for r in
        parse_articles(df.where(F.col("parser") == "generic-news"),
                       analyze=True)
        .select("url").collect()
    }
    assert not (set(none_urls) & parsed_urls)


def test_weibo_full_udf_oracle_parity(spark, pages):
    """The engine's weibo UDF equals the oracle on every weibo page: the
    article view (title-less post, ``ref.extract_domain`` source, the
    reference analysis of its content) and the WeiboPost fields, in the
    one Arrow pass both sinks read."""
    df = pages.withColumn("parser", U.select_parser_id(F.col("url")))
    weibo = df.where(F.col("parser") == "weibo")
    rows = weibo.select(
        "url", "html",
        parse_weibo_full_udf(F.col("html"), F.col("url")).alias("full"),
    ).collect()
    assert len(rows) > 3
    n_ok = 0
    for r in rows:
        got = r["full"]
        want = ox.parse_weibo(bytes(r["html"]), r["url"])
        if want is None:
            assert got["ok"] is None, r["url"]
            assert all(got[f] is None for f in got.asDict()), r["url"]
            continue
        n_ok += 1
        assert got["ok"] == "ok", r["url"]
        for f in ("title", "published_at", "description", "image"):
            assert got[f] is None, (r["url"], f)
        assert got["source"] == ref.extract_domain(r["url"]), r["url"]
        assert got["post_id"] == want["id"], r["url"]
        for f in ("author", "content", "likes", "reposts", "comments"):
            assert got[f] == want[f], (r["url"], f)
        assert got["ai_analysis"].asDict() == \
            ref.analyze(None, want["content"]), r["url"]
    assert n_ok > 3


def test_weibo_single_pass_plan(spark, pages):
    """Engine-shaped weibo pipeline: the posts view must read the
    cached fused-UDF output (InMemoryTableScan), never re-evaluate a
    parse UDF — one weibo UDF invocation per row across both sinks."""
    df = (pages.withColumn("parser", U.select_parser_id(F.col("url")))
          .withColumn("url_hash", U.canonical_url_hash(F.col("url"))))
    weibo_full = (df.where(F.col("parser") == "weibo")
                  .select("url", "url_hash", "parser",
                          parse_weibo_full_udf(
                              F.col("html"), F.col("url")).alias("_a"))
                  .cache())
    arts = parse_articles(df, analyze=True, weibo_parsed=weibo_full)
    n_arts = arts.count()   # materializes the cache via the union
    assert n_arts > 0
    posts = (weibo_full.where(F.col("_a.ok").isNotNull())
             .select("url", F.col("_a.post_id").alias("id"),
                     F.col("_a.likes").alias("likes")))
    plan = posts._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # nothing above the cache scan re-runs Python
    above_cache = plan.split("InMemoryTableScan")[0]
    assert "EvalPython" not in above_cache
    assert posts.count() == weibo_full.where(
        F.col("_a.ok").isNotNull()).count()
    weibo_full.unpersist()
