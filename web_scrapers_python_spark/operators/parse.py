"""Parser layer — Arrow-vectorized pandas UDFs (SURVEY §2.9 P1-P5).

The reference's parser plugin API (``BaseParser.can_parse``/``parse``,
base_parser.py:12-63) maps to (predicate Column, pandas UDF) pairs:
``can_parse`` is a JVM-side Column (functions.urls), ``parse`` is a
pandas UDF over the ``html`` column. The UDF bodies delegate per-row to
``oracle.extract`` — the transcribed reference pipeline — because
byte-identical output requires Python ``re``/``strptime`` semantics
(SURVEY §4.2.4); Arrow batching keeps the Python boundary vectorized
(no per-row Python *crossings*, per BASELINE input_hint).

Registry (P2): ``PARSERS`` maps parser id → (predicate builder, UDF,
output schema), mirroring parser_registry.py:36-83's id registry.
Dispatch (P3/F9): ``select_parser_id`` CASE WHEN + per-parser filtered
branches, unioned by name.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from ..functions import urls as U
from ..oracle import extract as ox
from ..oracle import reference as ref

# NewsArticle fields — src/schemas/news.py:11-47 (id assigned at store
# time; url/source carried as plain columns)
ARTICLE_STRUCT = StructType([
    StructField("title", StringType()),
    StructField("author", StringType()),
    StructField("published_at", TimestampType()),
    StructField("description", StringType()),
    StructField("content", StringType()),
    StructField("image", StringType()),
    StructField("source", StringType()),
    StructField("ok", StringType()),  # 'ok' | null — parse returned None
])

# WeiboPost — src/parsers/weibo.py:15-24
WEIBO_STRUCT = StructType([
    StructField("id", StringType()),
    StructField("author", StringType()),
    StructField("content", StringType()),
    StructField("likes", LongType()),
    StructField("reposts", LongType()),
    StructField("comments", LongType()),
    StructField("ok", StringType()),
])

# ContentAnalysis — content_analyzer.py:29-79 (deterministic fields)
AI_STRUCT = StructType([
    StructField("summary", StringType()),
    StructField("sentiment", StringType()),
    StructField("confidence", DoubleType()),
    StructField("quality_score", DoubleType()),
    StructField("readability", StringType()),
    StructField("completeness", DoubleType()),
    StructField("topics", ArrayType(StringType())),
    StructField("entities", ArrayType(StringType())),
    StructField("language", StringType()),
    StructField("word_count", IntegerType()),
])

ARTICLE_AI_STRUCT = StructType(
    list(ARTICLE_STRUCT.fields) + [StructField("ai_analysis", AI_STRUCT)])


@F.pandas_udf(ARTICLE_STRUCT)
def parse_generic_news_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """generic_news.py:41-67 via the transcribed pipeline; None → ok=null
    (never raises — base_parser.py:47-63)."""
    cols = [f.name for f in ARTICLE_STRUCT.fields]
    rows = []
    for h, u in zip(html, url):
        art = ox.parse_generic_news(h, u) if h is not None else None
        if art is None:
            rows.append(dict.fromkeys(cols))
        else:
            rows.append({
                "title": art.get("title"),
                "author": art.get("author"),
                "published_at": art.get("published_at"),
                "description": art.get("description"),
                "content": art.get("content"),
                "image": art.get("image"),
                "source": art.get("source"),
                "ok": "ok",
            })
    pdf = pd.DataFrame(rows, columns=cols, dtype="object")
    # keep Arrow casts exact: datetime64 for the timestamp field, object
    # (None, not NaN) for strings
    pdf["published_at"] = pd.to_datetime(pdf["published_at"])
    return pdf


@F.pandas_udf(WEIBO_STRUCT)
def parse_weibo_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """weibo.py:38-84 via the transcribed pipeline."""
    cols = [f.name for f in WEIBO_STRUCT.fields]
    rows = []
    for h, u in zip(html, url):
        post = ox.parse_weibo(h, u) if h is not None else None
        if post is None:
            rows.append(dict.fromkeys(cols))
        else:
            rows.append({
                "id": post["id"],
                "author": post["author"],
                "content": post["content"],
                "likes": post["likes"],
                "reposts": post["reposts"],
                "comments": post["comments"],
                "ok": "ok",
            })
    pdf = pd.DataFrame(rows, columns=cols, dtype="object")
    for c in ("likes", "reposts", "comments"):
        pdf[c] = pdf[c].astype("Int64")
    return pdf


@F.pandas_udf(ARTICLE_AI_STRUCT)
def parse_news_analyzed_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Fused parse + AI analysis (hot path): one Arrow round-trip per
    batch instead of parse UDF → JVM analysis exprs → entities UDF.
    The analysis values are byte-identical to add_ai_analysis (both
    derive from the transcribed reference semantics; the JVM-native
    spelling in functions.analysis is oracle-checked separately)."""
    cols = [f.name for f in ARTICLE_AI_STRUCT.fields]
    rows = []
    for h, u in zip(html, url):
        art = ox.parse_generic_news(h, u) if h is not None else None
        if art is None:
            rows.append(dict.fromkeys(cols))
        else:
            d = {
                "title": art.get("title"),
                "author": art.get("author"),
                "published_at": art.get("published_at"),
                "description": art.get("description"),
                "content": art.get("content"),
                "image": art.get("image"),
                "source": art.get("source"),
                "ok": "ok",
                "ai_analysis": ref.analyze(art.get("title"),
                                           art.get("content")),
            }
            rows.append(d)
    pdf = pd.DataFrame(rows, columns=cols, dtype="object")
    pdf["published_at"] = pd.to_datetime(pdf["published_at"])
    return pdf


@F.pandas_udf(ARTICLE_AI_STRUCT)
def parse_weibo_analyzed_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Fused weibo parse + analysis, normalized to the article shape
    (title-less posts — ai_enhanced flow applied to weibo content)."""
    cols = [f.name for f in ARTICLE_AI_STRUCT.fields]
    rows = []
    for h, u in zip(html, url):
        post = ox.parse_weibo(h, u) if h is not None else None
        if post is None:
            rows.append(dict.fromkeys(cols))
        else:
            rows.append({
                "title": None,
                "author": post["author"],
                "published_at": None,
                "description": None,
                "content": post["content"],
                "image": None,
                "source": ref.extract_domain(u),
                "ok": "ok",
                "ai_analysis": ref.analyze(None, post["content"]),
            })
    pdf = pd.DataFrame(rows, columns=cols, dtype="object")
    pdf["published_at"] = pd.to_datetime(pdf["published_at"])
    return pdf


WEIBO_FULL_STRUCT = StructType(
    list(ARTICLE_AI_STRUCT.fields) + [
        StructField("post_id", StringType()),
        StructField("likes", LongType()),
        StructField("reposts", LongType()),
        StructField("comments", LongType()),
    ])


@F.pandas_udf(WEIBO_FULL_STRUCT)
def parse_weibo_full_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Single-dispatch weibo UDF: emits BOTH the article-shaped view
    (fused analysis, as parse_weibo_analyzed_udf) and the WeiboPost
    fields (weibo.py:15-24) in ONE Arrow round-trip, so an engine round
    parses each weibo page exactly once — the articles write and the
    weibo_posts write both read the cached output."""
    cols = [f.name for f in WEIBO_FULL_STRUCT.fields]
    rows = []
    for h, u in zip(html, url):
        post = ox.parse_weibo(h, u) if h is not None else None
        if post is None:
            rows.append(dict.fromkeys(cols))
        else:
            rows.append({
                "title": None,
                "author": post["author"],
                "published_at": None,
                "description": None,
                "content": post["content"],
                "image": None,
                "source": ref.extract_domain(u),
                "ok": "ok",
                "ai_analysis": ref.analyze(None, post["content"]),
                "post_id": post["id"],
                "likes": post["likes"],
                "reposts": post["reposts"],
                "comments": post["comments"],
            })
    pdf = pd.DataFrame(rows, columns=cols, dtype="object")
    pdf["published_at"] = pd.to_datetime(pdf["published_at"])
    for c in ("likes", "reposts", "comments"):
        pdf[c] = pdf[c].astype("Int64")
    return pdf


@F.pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, label: pd.Series) -> pd.Series:
    """enqueue_links (routes.py:44-57) — hrefs matching the selector, in
    document order; empty when selector is null (routes.py:33-39 F6)."""
    return pd.Series([
        ox.extract_links(h, s) if (h is not None and s) else []
        for h, s in zip(html, label)
    ])


@F.pandas_udf(ArrayType(StringType()))
def entities_udf(content: pd.Series) -> pd.Series:
    """content_analyzer.py:466-494 — the one stateful analysis scan."""
    return pd.Series([ref.entities(c) for c in content])


# CRITICAL plan property: the parse UDFs must be opaque to the
# optimizer. They are pure functions, but if Catalyst treats them as
# deterministic it will happily push a `_a.ok IS NOT NULL` filter (which
# references the UDF) below the scheduled-batch join — evaluating the
# parser over the ENTIRE pages corpus instead of the joined batch (60x
# at bench scale; unbounded at 10^10) — and duplicate the evaluation
# once for the filter and once for the projection. asNondeterministic
# pins each UDF to exactly one evaluation at its authored position.
parse_generic_news_udf = parse_generic_news_udf.asNondeterministic()
parse_weibo_udf = parse_weibo_udf.asNondeterministic()
parse_news_analyzed_udf = parse_news_analyzed_udf.asNondeterministic()
parse_weibo_analyzed_udf = parse_weibo_analyzed_udf.asNondeterministic()
parse_weibo_full_udf = parse_weibo_full_udf.asNondeterministic()
extract_links_udf = extract_links_udf.asNondeterministic()


def parse_articles(fetched: DataFrame, parser_col: str = "parser",
                   html_col: str = "html", url_col: str = "url",
                   analyze: bool = False,
                   with_failures: bool = False,
                   weibo_parsed: DataFrame | None = None) -> DataFrame:
    """P3 dispatch: run each registered parser on its filtered branch and
    union by name into one articles frame.

    Input must carry (url, html, parser); output one row per input row
    that a parser accepted, with a ``parser_used`` lineage column and
    the reference's hashes (X1/X2). With ``analyze=True`` the fused
    parse+analysis UDFs run instead (adds ``ai_analysis``; ~1.6x faster
    than the two-stage spelling — one Arrow round-trip, no interpreted
    higher-order exprs in the hot path).

    With ``with_failures=True`` rejected rows are KEPT and flagged
    (``parse_ok`` boolean + ``fail_reason``) instead of silently
    filtered — the engine routes them to the quarantine table and the
    ``errors`` counter (the reference counts store failures as
    'errors', cassandra_manager.py:298,314)."""
    pc, hc, uc = F.col(parser_col), F.col(html_col), F.col(url_col)
    ai = [F.col("_a.ai_analysis").alias("ai_analysis")] if analyze else []
    news_udf = parse_news_analyzed_udf if analyze else parse_generic_news_udf
    # If the input already carries a url_hash (the engine's scheduled
    # batch, where it is the CANONICAL crawlee-uniqueKey hash,
    # links.py::with_url_identity), pass it through as the output key so
    # every downstream key join (quarantine anti-join, history delta,
    # dup events) stays in ONE keyspace. The raw store hash
    # (cassandra_manager.py:408-410 parity) is emitted separately as
    # ``store_url_hash``. Without passthrough (standalone use) both
    # columns are the raw hash — identical for canonical URLs.
    passthrough_key = "url_hash" in fetched.columns
    key = ([F.col("url_hash").alias("_sched_url_hash")]
           if passthrough_key else [])

    def flag(ok_col, reason_col):
        if not with_failures:
            return []
        return [ok_col.alias("parse_ok"), reason_col.alias("fail_reason")]

    news_ok = F.col("_a.ok").isNotNull() & F.col("_a.title").isNotNull()
    news_reason = (
        F.when(F.col("_a.ok").isNull(), "parse_failed")
        .when(F.col("_a.title").isNull(), "missing_title"))
    news = fetched.where(pc.isin("generic-news", "ai-enhanced-news")) \
                  .withColumn("_a", news_udf(hc, uc))
    if not with_failures:
        news = news.where(news_ok)
    news = news.select(
        uc.alias("url"),
        F.col("_a.title").alias("title"),
        F.col("_a.author").alias("author"),
        F.col("_a.published_at").alias("published_at"),
        F.col("_a.description").alias("description"),
        F.col("_a.content").alias("content"),
        F.col("_a.image").alias("image"),
        F.col("_a.source").alias("source"),
        pc.alias("parser_used"),
        *ai,
        *key,
        *flag(news_ok, news_reason),
    )
    if analyze:
        weibo_ok = F.col("_a.ok").isNotNull()
        if weibo_parsed is not None:
            # single-pass path: the engine already ran
            # parse_weibo_full_udf (article view + post fields in one
            # Arrow round-trip) and cached the tiny output — reuse it
            # here so weibo html crosses the Python boundary once.
            # Must carry (url, parser, _a) and, when the main input
            # has url_hash, that column too.
            weibo = weibo_parsed
        else:
            weibo = fetched.where(pc == "weibo") \
                           .withColumn("_a", parse_weibo_analyzed_udf(hc, uc))
        if not with_failures:
            weibo = weibo.where(weibo_ok)
        weibo = weibo.select(
            uc.alias("url"),
            F.col("_a.title").alias("title"),
            F.col("_a.author").alias("author"),
            F.col("_a.published_at").alias("published_at"),
            F.col("_a.description").alias("description"),
            F.col("_a.content").alias("content"),
            F.col("_a.image").alias("image"),
            F.col("_a.source").alias("source"),
            pc.alias("parser_used"),
            *ai,
            *key,
            *flag(weibo_ok, F.lit("parse_failed")),
        )
    else:
        weibo_ok = F.col("_w.ok").isNotNull()
        weibo = fetched.where(pc == "weibo") \
                       .withColumn("_w", parse_weibo_udf(hc, uc))
        if not with_failures:
            weibo = weibo.where(weibo_ok)
        weibo = weibo.select(
            uc.alias("url"),
            F.lit(None).cast("string").alias("title"),
            F.col("_w.author").alias("author"),
            F.lit(None).cast("timestamp").alias("published_at"),
            F.lit(None).cast("string").alias("description"),
            F.col("_w.content").alias("content"),
            F.lit(None).cast("string").alias("image"),
            U.extract_domain(uc).alias("source"),
            pc.alias("parser_used"),
            *key,
            *flag(weibo_ok, F.lit("parse_failed")),
        )
    out = news.unionByName(weibo)
    raw_hash = U.url_hash(F.col("url"))
    if passthrough_key:
        out = out.withColumnRenamed("_sched_url_hash", "url_hash")
    else:
        out = out.withColumn("url_hash", raw_hash)
    return (
        out
        .withColumn("store_url_hash", raw_hash)
        .withColumn("content_hash",
                    F.when(F.col("content").isNotNull(),
                           U.content_hash(F.col("content"))))
    )


def add_ai_analysis(articles: DataFrame, title_col: str = "title",
                    content_col: str = "content") -> DataFrame:
    """P4/P5 — the AI-enhanced stage (ai_enhanced_news.py:18-111 +
    content_analyzer.py:267-509, deterministic fallback path). All
    JVM-native except the stateful entity scan."""
    from ..functions import analysis as A
    from ..functions.text import word_count

    t, c = F.col(title_col), F.col(content_col)
    return articles.withColumn(
        "ai_analysis",
        F.struct(
            A.summary(t, c).alias("summary"),
            A.sentiment(c).alias("sentiment"),
            F.lit(0.6).alias("confidence"),          # content_analyzer.py:274
            A.quality_score(t, c).alias("quality_score"),
            A.readability(c).alias("readability"),
            F.lit(0.8).alias("completeness"),        # content_analyzer.py:277
            A.topics(F.concat_ws(" ", F.coalesce(t, F.lit("")),
                                 F.coalesce(c, F.lit("")))).alias("topics"),
            entities_udf(c).alias("entities"),
            A.detect_language(c).alias("language"),
            word_count(c).alias("word_count"),
        ),
    )
