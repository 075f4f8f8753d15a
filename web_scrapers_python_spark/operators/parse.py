"""Parser layer — Arrow-vectorized pandas UDFs (SURVEY §2.9 P1-P5).

The reference's parser plugin API (``BaseParser.can_parse``/``parse``,
base_parser.py:12-63) maps to (predicate Column, pandas UDF) pairs:
``can_parse`` is a JVM-side Column (functions.urls), ``parse`` is a
pandas UDF over the ``html`` column. The UDF bodies delegate per-row to
``oracle.extract`` — the transcribed reference pipeline — because
byte-identical output requires Python ``re``/``strptime`` semantics
(SURVEY §4.2.4); Arrow batching keeps the Python boundary vectorized
(no per-row Python *crossings*, per BASELINE input_hint).

One UDF per parser, each fusing parse + AI analysis into one Arrow
round-trip: ``parse_news_analyzed_udf`` (generic-news /
ai-enhanced-news) and ``parse_weibo_full_udf`` (the article view plus
the WeiboPost fields, so weibo html crosses the boundary once for both
sinks).

Registry and dispatch (P2/P3/F9): ``functions.urls.select_parser_id``
is the id registry — a CASE WHEN in the reference's registration order
(parser_registry.py:36-83) — and ``parse_articles`` runs one filtered
branch per parser id, unioned by name.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
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
ARTICLE_FIELDS = [f for f in ARTICLE_STRUCT.fieldNames() if f != "ok"]

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

# article view + WeiboPost — src/parsers/weibo.py:15-24
WEIBO_FULL_STRUCT = StructType(
    list(ARTICLE_AI_STRUCT.fields) + [
        StructField("post_id", StringType()),
        StructField("likes", LongType()),
        StructField("reposts", LongType()),
        StructField("comments", LongType()),
    ])


@F.pandas_udf(ARTICLE_AI_STRUCT)
def parse_news_analyzed_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """generic_news.py:41-67 + ai_enhanced_news.py:18-111 via the
    transcribed pipeline, in one Arrow round-trip per batch; None →
    ok=null (never raises — base_parser.py:47-63)."""
    cols = ARTICLE_AI_STRUCT.fieldNames()
    rows = []
    for h, u in zip(html, url):
        art = ox.parse_generic_news(h, u) if h is not None else None
        row = dict.fromkeys(cols)
        if art is not None:
            row.update({c: art.get(c) for c in ARTICLE_FIELDS}, ok="ok",
                       ai_analysis=ref.analyze(art.get("title"),
                                               art.get("content")))
        rows.append(row)
    pdf = pd.DataFrame(rows, columns=cols, dtype="object")
    # keep Arrow casts exact: datetime64 for the timestamp field, object
    # (None, not NaN) for strings
    pdf["published_at"] = pd.to_datetime(pdf["published_at"])
    return pdf


@F.pandas_udf(WEIBO_FULL_STRUCT)
def parse_weibo_full_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """weibo.py:38-84 via the transcribed pipeline: emits BOTH the
    article-shaped view (title-less post, fused analysis of its
    content) and the WeiboPost fields in ONE Arrow round-trip, so an
    engine round parses each weibo page exactly once — the articles
    write and the weibo_posts write both read the cached output."""
    cols = WEIBO_FULL_STRUCT.fieldNames()
    rows = []
    for h, u in zip(html, url):
        post = ox.parse_weibo(h, u) if h is not None else None
        row = dict.fromkeys(cols)
        if post is not None:
            row.update(author=post["author"], content=post["content"],
                       source=ref.extract_domain(u), ok="ok",
                       ai_analysis=ref.analyze(None, post["content"]),
                       post_id=post["id"], likes=post["likes"],
                       reposts=post["reposts"], comments=post["comments"])
        rows.append(row)
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


# CRITICAL plan property: the parse UDFs must be opaque to the
# optimizer. They are pure functions, but if Catalyst treats them as
# deterministic it will happily push a `_a.ok IS NOT NULL` filter (which
# references the UDF) below the scheduled-batch join — evaluating the
# parser over the ENTIRE pages corpus instead of the joined batch (60x
# at bench scale; unbounded at 10^10) — and duplicate the evaluation
# once for the filter and once for the projection. asNondeterministic
# pins each UDF to exactly one evaluation at its authored position.
parse_news_analyzed_udf = parse_news_analyzed_udf.asNondeterministic()
parse_weibo_full_udf = parse_weibo_full_udf.asNondeterministic()
extract_links_udf = extract_links_udf.asNondeterministic()


def parse_articles(fetched: DataFrame, analyze: bool = False,
                   weibo_parsed: DataFrame | None = None) -> DataFrame:
    """P3 dispatch: run each parser's UDF on its filtered branch and
    union by name into one articles frame.

    Input must carry (url, html, parser); output one row per input row
    that a parser accepted (news rows also need a title), with a
    ``parser_used`` lineage column and the reference's hashes (X1/X2).
    ``analyze=True`` also projects the fused ``ai_analysis`` column.

    ``weibo_parsed``: the engine's cached ``parse_weibo_full_udf``
    output, carrying (url, parser, _a) and, when ``fetched`` has
    url_hash, that column too — reused here so weibo html crosses the
    Python boundary once. Without it the weibo branch runs the UDF."""
    if weibo_parsed is None:
        weibo_parsed = fetched.where(F.col("parser") == "weibo").withColumn(
            "_a", parse_weibo_full_udf(F.col("html"), F.col("url")))
    news = (fetched.where(F.col("parser").isin("generic-news",
                                               "ai-enhanced-news"))
            .withColumn("_a", parse_news_analyzed_udf(F.col("html"),
                                                      F.col("url")))
            .where(F.col("_a.title").isNotNull()))
    raw_hash = U.url_hash(F.col("url"))
    # If the input already carries a url_hash (the engine's scheduled
    # batch, where it is the CANONICAL crawlee-uniqueKey hash,
    # links.py::with_url_identity), pass it through as the output key so
    # every downstream key join (quarantine anti-join, history delta,
    # dup events) stays in ONE keyspace. The raw store hash
    # (cassandra_manager.py:408-410 parity) is emitted separately as
    # ``store_url_hash``. Without passthrough (standalone use) both
    # columns are the raw hash — identical for canonical URLs.
    key = F.col("url_hash") if "url_hash" in fetched.columns else raw_hash
    cols = [F.col("url"), *(F.col(f"_a.{c}").alias(c) for c in ARTICLE_FIELDS),
            F.col("parser").alias("parser_used")]
    if analyze:
        cols.append(F.col("_a.ai_analysis").alias("ai_analysis"))
    cols.append(key.alias("url_hash"))
    news, weibo = (branch.where(F.col("_a.ok").isNotNull()).select(*cols)
                   for branch in (news, weibo_parsed))
    return (
        news.unionByName(weibo)
        .withColumn("store_url_hash", raw_hash)
        .withColumn("content_hash",
                    F.when(F.col("content").isNotNull(),
                           U.content_hash(F.col("content"))))
    )
