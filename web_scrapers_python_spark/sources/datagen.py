"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates the ``pages`` table with exactly the BASELINE.json input
shape: ``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)`` plus a derivable link graph:

- hosts are Zipf(s=1.1)-distributed (hot-host skew is intentional —
  it exercises the salting/politeness path);
- ~60% news-ish paths (match generic_news.py:28-36 patterns), ~35%
  non-news, ~5% weibo.com;
- HTML from 8 template variants that exercise every branch of the
  selector fallback chains (h1 / title-only / .post-title /
  .article-content / main / .content / body-only / no-title);
- embedded link DAG: fan-out 0-5, forward edges only (acyclic), ~10%
  duplicate targets (first-wins dedup), cross-host edges arise
  naturally; anchors under the ``a`` selector;
- ``text`` is the byte-exact parity target: the transcribed reference
  parser (oracle.extract) applied to ``html``;
- ``lang`` per the reference's detector (content_analyzer.py:359-370).

Everything is a pure function of (seed, i, n, n_hosts) so generation
distributes via ``spark.range(n).mapInPandas`` with no coordination —
the same recipe scales from 10^3 test pages to the 10^10 design point.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd

from ..oracle import extract as ox
from ..oracle import reference as ref

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")

_EPOCH = datetime(2024, 1, 1)

TOPIC_WORDS = [
    "tech", "software", "market", "economy", "health", "doctor",
    "government", "election", "research", "study", "team", "player",
    "digital", "startup", "medicine", "policy", "discovery", "game",
]
FILLER = ["the", "quick", "analysis", "of", "data", "and", "its", "impact",
          "on", "systems", "for", "users", "but", "not", "at", "scale"]
SENTIMENT_WORDS = ["good", "great", "success", "bad", "crisis", "problem",
                   "neutral", "steady"]
DATE_SAMPLES = ["2024-03-14", "2024-03-14T15:09:26", "14/03/2024",
                "03/14/2024", "2024-03-14 15:09:26", "2024-03-14T15:09:26Z"]
ENGAGEMENT_SAMPLES = ["123", "1,234", "1.5K", "3万", "2M", "7千"]


def _h(seed: int, i: int, tag: str) -> int:
    d = hashlib.sha256(f"{seed}:{i}:{tag}".encode()).digest()
    return int.from_bytes(d[:8], "big")


def _zipf_cdf(n_hosts: int) -> list[float]:
    weights = [1.0 / (r ** 1.1) for r in range(1, n_hosts + 1)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    return cdf


_CDF_CACHE: dict[int, list[float]] = {}


def host_of(seed: int, i: int, n_hosts: int) -> str:
    if _h(seed, i, "kind") % 100 < 5:
        return "weibo.com"
    cdf = _CDF_CACHE.get(n_hosts)
    if cdf is None:
        cdf = _CDF_CACHE[n_hosts] = _zipf_cdf(n_hosts)
    u = (_h(seed, i, "host") % 10**9) / 10**9
    lo, hi = 0, n_hosts - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cdf[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return f"host{lo}.example.com"


def url_of(seed: int, i: int, n_hosts: int) -> str:
    host = host_of(seed, i, n_hosts)
    if host == "weibo.com":
        return f"https://weibo.com/u/{i}"
    k = _h(seed, i, "path") % 100
    if k < 12:
        path = f"/news/item-{i}"
    elif k < 24:
        path = f"/article/{i}"
    elif k < 34:
        path = f"/story/{i}-update"
    elif k < 44:
        path = f"/post/{i}"
    elif k < 52:
        mm = 1 + (_h(seed, i, "mm") % 12)
        path = f"/2024/{mm:02d}/{i}"
    elif k < 60:
        path = f"/blog/entry-{i}"
    elif k < 63:
        path = f"/private/doc-{i}"   # robots-disallowed on some hosts
    elif k < 75:
        path = f"/about-{i}"
    elif k < 87:
        path = f"/contact-{i}"
    else:
        path = f"/products/item-{i}"
    return f"https://{host}{path}"


def children_of(seed: int, i: int, n: int) -> list[int]:
    """Forward-edge DAG with duplicates: fan-out 0-5; ~10% of slots
    repeat the previous target (first-wins dedup exercise)."""
    fan = _h(seed, i, "fan") % 6
    out: list[int] = []
    for c in range(fan):
        span = n - i - 1
        if span <= 0:
            break
        j = i + 1 + (_h(seed, i, f"child{c}") % span)
        if out and _h(seed, i, f"dup{c}") % 10 == 0:
            j = out[-1]
        out.append(j)
    return out


def _body_words(seed: int, i: int, body_scale: int = 1) -> str:
    h = _h(seed, i, "bodylen")
    n_words = (30 + h % 1500) * body_scale
    words = []
    for w in range(n_words):
        hw = _h(seed, i, f"w{w}")
        pool = (TOPIC_WORDS, FILLER, SENTIMENT_WORDS)[hw % 3]
        words.append(pool[hw % len(pool)])
        if w % 12 == 11:
            words[-1] += "."
    if h % 4 == 0:
        words.insert(0, "According to research, the study found data.")
    if h % 5 == 0:
        words.append("Is this a breakthrough?")
    words.append("Published " + DATE_SAMPLES[h % len(DATE_SAMPLES)] + ".")
    return " ".join(words)


def _links_html(seed: int, i: int, n: int, n_hosts: int) -> str:
    return "".join(
        f'<a href="{url_of(seed, j, n_hosts)}">more {j}</a> '
        for j in children_of(seed, i, n)
    )


def html_of(seed: int, i: int, n: int, n_hosts: int,
            body_scale: int = 1) -> bytes:
    """body_scale multiplies body length (default 1 = ~0.2-9 KB pages;
    4-8 approximates real Common-Crawl page weight). Deterministic in
    (seed, i) for any fixed scale."""
    host = host_of(seed, i, n_hosts)
    variant = _h(seed, i, "tpl") % 8
    title = f"Story {i} about {TOPIC_WORDS[_h(seed, i, 'tw') % len(TOPIC_WORDS)]}"
    body = _body_words(seed, i, body_scale)
    links = _links_html(seed, i, n, n_hosts)
    author = f"Reporter {i % 97}"
    desc = f"Summary of story {i} with data and analysis."
    pub = DATE_SAMPLES[_h(seed, i, "pub") % len(DATE_SAMPLES)]
    img = f"https://cdn.example.com/img/{i}.jpg"

    if host == "weibo.com":
        likes = ENGAGEMENT_SAMPLES[_h(seed, i, "lk") % len(ENGAGEMENT_SAMPLES)]
        reps = ENGAGEMENT_SAMPLES[_h(seed, i, "rp") % len(ENGAGEMENT_SAMPLES)]
        cmts = ENGAGEMENT_SAMPLES[_h(seed, i, "cm") % len(ENGAGEMENT_SAMPLES)]
        html = (
            f"<html><head><title>微博 {i}</title></head><body>"
            f'<div class="name">用户{i % 997}</div>'
            f"<article>Post {i}: {body[:400]}</article>"
            f'<span>赞 {likes}</span><span>转发 {reps}</span>'
            f"<span>评论 {cmts}</span>{links}</body></html>"
        )
        return html.encode("utf-8")

    meta = (
        f'<meta name="author" content="{author}">'
        f'<meta name="description" content="{desc}">'
        f'<meta property="article:published_time" content="{pub}">'
        f'<meta property="og:image" content="{img}">'
    )
    head_title = f"<title>{title} | Example Site</title>"
    if variant == 0:
        body_html = f"<h1>{title}</h1><article>{body}</article>"
    elif variant == 1:
        body_html = f'<div class="article-content">{body}</div>'
    elif variant == 2:
        body_html = (f'<div class="post-title">{title} - Post</div>'
                     f'<div class="post-content">{body}</div>')
    elif variant == 3:
        body_html = f"<main>{body}</main>"
    elif variant == 4:
        body_html = f'<div class="content">{body}</div>'
    elif variant == 5:
        body_html = f"<p>{body}</p>"          # falls through to body selector
    elif variant == 6:
        body_html = f"<h1>{title}</h1><article>tiny</article>"  # <100 chars
        meta = ""
    else:
        head_title = ""                        # no title anywhere → parse None
        body_html = f"<article>{body}</article>"
        meta = ""
    html = (f"<html><head>{head_title}{meta}</head>"
            f"<body>{body_html}{links}</body></html>")
    return html.encode("utf-8")


def build_page(seed: int, i: int, n: int, n_hosts: int,
               body_scale: int = 1) -> dict:
    url = url_of(seed, i, n_hosts)
    html = html_of(seed, i, n, n_hosts, body_scale)
    parser = ref.select_parser_id(url)
    text = None
    if parser == "weibo":
        post = ox.parse_weibo(html, url)
        text = post["content"] if post and post["content"] else None
    elif parser is not None:
        art = ox.parse_generic_news(html, url)
        text = art.get("content") if art else None
    return {
        "url": url,
        "warc_ts": _EPOCH + timedelta(minutes=i),
        "html": html,
        "text": text,
        "lang": ref.detect_language(text),
    }


def generate_pages(spark, n: int, n_hosts: int = 64, seed: int = 42,
                   partitions: int | None = None, body_scale: int = 1):
    """Distributed generation: pure function of the row index — no
    shuffle, no driver materialization; scales linearly with cores."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            if len(ids):
                yield pd.DataFrame(
                    [build_page(seed, int(i), n, n_hosts, body_scale)
                     for i in ids],
                    columns=["url", "warc_ts", "html", "text", "lang"],
                )

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, PAGES_SCHEMA)


def seeds_text(seed: int, n: int, n_hosts: int, n_seeds: int = 8) -> str:
    """Mixed-format seeds file content (FIXTURES.md §2): comment, blank,
    bare URLs, strict-JSON lines, a lenient line, one invalid line."""
    urls = [url_of(seed, i, n_hosts) for i in range(n_seeds)]
    lines = ["# fixture seeds", ""]
    for k, u in enumerate(urls):
        if k % 3 == 2:
            lines.append(
                '{"url": "%s", "label": "a", "parser": "generic-news"}' % u
            )
        else:
            lines.append(u)
    lines.append("{url: 'relative.example/x', label: 'a'}")  # lenient, schemeless
    lines.append("not-a-url-no-scheme")                       # dropped
    return "\n".join(lines) + "\n"


def host_policy_rows(seed: int, n_hosts: int) -> list[dict]:
    """FIXTURES.md §4 — per-host politeness budgets + robots rules
    (net-new per north rule; reference analog is global max_concurrency=2,
    main.py:73-75)."""
    out = []
    for h in range(n_hosts):
        host = f"host{h}.example.com"
        hh = _h(seed, h, "policy")
        out.append({
            "host": host,
            "crawl_delay": float(1 + hh % 8),
            "max_per_round": 1 + (hh >> 8) % 8,
            "robots_disallow": ["/private"] if hh % 4 == 0 else [],
        })
    out.append({"host": "weibo.com", "crawl_delay": 2.0, "max_per_round": 4,
                "robots_disallow": []})
    return out
