"""Transcribed reference semantics (pure Python, stdlib only).

Every function transcribes one behavior of
``tsrdatatech/web-scrapers-python`` with file:line provenance into
``/root/reference``. These are the test-time goldens; the Spark-native
column expressions in ``web_scrapers_python_spark.functions`` and the
pandas UDF parsers in ``operators.parse`` must match them byte-for-byte
(strings) / exactly (numbers, timestamps).

NOTE: code here is an independent re-implementation from reading the
reference's public source — it mirrors *behavior*, not code.
"""

from __future__ import annotations

import hashlib
import json
import re
from datetime import datetime
from urllib.parse import urlparse

# --------------------------------------------------------------------------
# URL predicates & hashing
# --------------------------------------------------------------------------

# generic_news.py:28-39 — news URL heuristic (regex search, lower-cased url)
NEWS_PATTERNS = [
    r"/news/",
    r"/article/",
    r"/story/",
    r"/post/",
    r"/\d{4}/\d{2}/",
    r"/blog/",
    r"/(news|article|story)",
]


def news_url_predicate(url: str) -> bool:
    """generic_news.py:25-39 — any news pattern matches lower-cased url."""
    url_lower = url.lower()
    return any(re.search(p, url_lower) for p in NEWS_PATTERNS)


def weibo_url_predicate(url: str) -> bool:
    """weibo.py:34-36 — substring match on lower-cased url."""
    return "weibo.com" in url.lower()


# parser_manager.py:73-87 — substring-based news fallback heuristic
LOOKS_LIKE_NEWS_SUBSTRINGS = [
    "news", "article", "story", "post", "blog", "/20",
    "/article/", "/news/", "/story/",
]


def looks_like_news(url: str) -> bool:
    """parser_manager.py:62-87 (URL-pattern part; HEAD probe dropped —
    the engine consumes a pre-fetched pages table, SURVEY §2.2 F3)."""
    url_lower = url.lower()
    return any(p in url_lower for p in LOOKS_LIKE_NEWS_SUBSTRINGS)


def select_parser_id(url: str, forced: str | None = None) -> str | None:
    """parser_manager.py:18-60 — forced id wins; else first can_parse in
    registration order (generic-news, weibo — parser_registry glob order);
    else news-lookalike fallback to generic-news; else None."""
    known = {"generic-news", "weibo", "ai-enhanced-news"}
    if forced:
        return forced if forced in known else None
    if news_url_predicate(url):
        return "generic-news"
    if weibo_url_predicate(url):
        return "weibo"
    if looks_like_news(url):
        return "generic-news"
    return None


def canonicalize_url(url: str) -> str:
    """Python twin of functions/urls.py::canonicalize_url — crawlee
    uniqueKey normalization (public library behavior; SURVEY §2.3 J2):
    trim, drop fragment, lowercase scheme+authority, strip default
    port, strip trailing path slashes, drop utm_* params, sort the
    rest as raw k=v strings."""
    u = re.sub(r"#.*$", "", url.strip())
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", u)
    scheme = m.group(1).lower() if m else ""
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", u)
    auth = m.group(1).lower() if m else ""
    if scheme == "http" and auth.endswith(":80"):
        auth = auth[:-3]
    elif scheme == "https" and auth.endswith(":443"):
        auth = auth[:-4]
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)", u)
    path = re.sub(r"/+$", "", m.group(1)) if m else ""
    m = re.search(r"\?([^#]*)", u)
    query = m.group(1) if m else ""
    params = sorted(p for p in query.split("&")
                    if p != "" and not p.lower().startswith("utm_"))
    base = f"{scheme}://{auth}{path}"
    return base + ("?" + "&".join(params) if params else "")


def canonical_url_hash(url: str) -> str:
    """The J1/J2 dedup key: url_hash over the canonical form."""
    return url_hash(canonicalize_url(url))


def url_hash(url: str) -> str:
    """cassandra_manager.py:408-410 — sha256(url)[:16] hex."""
    return hashlib.sha256(url.encode()).hexdigest()[:16]


def content_hash(content: str) -> str:
    """cassandra_manager.py:412-414 — sha256(content)[:16] hex."""
    return hashlib.sha256(content.encode()).hexdigest()[:16]


def extract_domain(url: str) -> str:
    """cassandra_manager.py:416-420 — urlparse(url).netloc (keeps port,
    per reference test test_cassandra_integration.py:238-249)."""
    try:
        return urlparse(url).netloc
    except Exception:
        return ""


def url_scheme_ok(line: str) -> bool:
    """seeds.py:109 — startswith http:// or https://."""
    return line.startswith(("http://", "https://"))


# --------------------------------------------------------------------------
# Seed-line parsing
# --------------------------------------------------------------------------

def parse_seed_line(line: str) -> dict | None:
    """seeds.py:76-112 — JSON object line (with lenient repair: quote
    unquoted keys, single→double quotes) or bare URL line; else None."""
    line = line.strip()
    if line.startswith("{") and line.endswith("}"):
        try:
            seed = json.loads(line)
            if "url" in seed:
                return seed
        except json.JSONDecodeError:
            try:
                fixed = re.sub(r"(\w+):", r'"\1":', line)  # seeds.py:99
                fixed = fixed.replace("'", '"')            # seeds.py:101
                seed = json.loads(fixed)
                if "url" in seed:
                    return seed
            except json.JSONDecodeError:
                pass
    if url_scheme_ok(line):
        return {"url": line}
    return None


# --------------------------------------------------------------------------
# Article cleaning (generic_news.py:168-240)
# --------------------------------------------------------------------------

def clean_title(title: str | None) -> str | None:
    """generic_news.py:176-180 — strip then drop ' - suffix' / ' | suffix'."""
    if not title:
        return None
    t = str(title).strip()
    return re.sub(r"\s*[-|]\s*.+$", "", t)


def clean_content(content: str | None) -> str | None:
    """generic_news.py:183-187 — strip, collapse \\s+ to ' ', cap 10000."""
    if not content:
        return None
    c = str(content).strip()
    c = re.sub(r"\s+", " ", c)
    return c[:10000]


def clean_author(author: str | None) -> str | None:
    """generic_news.py:190-193 — keep stripped author only if len<100."""
    if not author:
        return None
    a = str(author).strip()
    return a if len(a) < 100 else None


def clean_description(description: str | None) -> str | None:
    """generic_news.py:196-199 — keep stripped description only if len<1000."""
    if not description:
        return None
    d = str(description).strip()
    return d if len(d) < 1000 else None


def clean_image(image: str | None) -> str | None:
    """generic_news.py:208-211 — keep stripped image url iff http(s)://."""
    if not image:
        return None
    i = str(image).strip()
    return i if i.startswith(("http://", "https://")) else None


DATE_FORMATS = [
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%d %H:%M:%S",
    "%d/%m/%Y",
    "%m/%d/%Y",
]


def parse_date(value) -> datetime | None:
    """generic_news.py:215-240 — first-match over the 6 formats, in
    order (so 14/03/2024 parses d/m/y, 03/14/2024 falls through to m/d/y)."""
    if not value:
        return None
    if isinstance(value, datetime):
        return value
    if isinstance(value, str):
        for fmt in DATE_FORMATS:
            try:
                return datetime.strptime(value.strip(), fmt)
            except ValueError:
                continue
    return None


# --------------------------------------------------------------------------
# Weibo engagement numbers (weibo.py:99-125)
# --------------------------------------------------------------------------

def extract_number(text: str | None) -> int | None:
    """weibo.py:106-123 — regex (\\d+(?:[,.]?\\d+)*)\\s*([KMB万千]?);
    strips BOTH ',' and '.' before scaling (so '1.5K' → 15*1000 — a
    reference quirk we replicate); K/千 ×1e3, 万 ×1e4, M ×1e6, B ×1e9."""
    if not text:
        return None
    m = re.search(r"(\d+(?:[,.]?\d+)*)\s*([KMB万千]?)", text)
    if not m:
        return None
    number_str, suffix = m.groups()
    try:
        number = float(number_str.replace(",", "").replace(".", ""))
        if suffix in ("K", "千"):
            number *= 1000
        elif suffix in ("M", "万"):
            number *= 10000 if suffix == "万" else 1000000
        elif suffix == "B":
            number *= 1000000000
        return int(number)
    except (ValueError, TypeError):
        return None


# --------------------------------------------------------------------------
# Content analysis (content_analyzer.py:284-509)
# --------------------------------------------------------------------------

def word_count(content: str | None) -> int:
    """content_analyzer.py:198 — len(content.split())."""
    return len(content.split()) if content else 0


def quality_score(title: str | None, content: str | None, wc: int) -> float:
    """content_analyzer.py:284-317 — additive when-ladder, cap 10."""
    score = 5.0
    if title and len(title.strip()) > 10:
        score += 1.0
    if title and not title.isupper():
        score += 0.5
    if wc > 100:
        score += 1.0
    if wc > 500:
        score += 1.0
    if wc > 1000:
        score += 0.5
    if content:
        sentences = len([s for s in content.split(".") if s.strip()])
        if sentences > 5:
            score += 0.5
        if "?" in content or "!" in content:
            score += 0.3
        if any(w in content.lower()
               for w in ["according to", "research", "study", "data"]):
            score += 0.7
    return min(score, 10.0)


def readability(content: str | None) -> str:
    """content_analyzer.py:319-337 — avg words/sentence buckets."""
    if not content:
        return "unknown"
    words = content.split()
    sentences = [s for s in content.split(".") if s.strip()]
    if not sentences:
        return "basic"
    avg = len(words) / len(sentences)
    if avg < 15:
        return "basic"
    if avg < 25:
        return "intermediate"
    return "advanced"


def completeness(title, content, author, published_at, description, image) -> float:
    """content_analyzer.py:339-357 — weighted field presence / 6, cap 1.0."""
    c = 0.0
    if title:
        c += 1
    if content and len(content) > 100:
        c += 2
    if author:
        c += 1
    if published_at:
        c += 1
    if description:
        c += 0.5
    if image:
        c += 0.5
    return min(c / 6, 1.0)


ENGLISH_INDICATORS = ["the", "and", "or", "but", "in", "on", "at", "to", "for"]


def detect_language(content: str | None) -> str:
    """content_analyzer.py:359-370 — ≥2 of 9 stop-words as substrings → en."""
    if not content:
        return "unknown"
    lower = content.lower()
    return "en" if sum(1 for w in ENGLISH_INDICATORS if w in lower) >= 2 else "unknown"


POSITIVE_WORDS = ["good", "great", "excellent", "amazing", "breakthrough",
                  "success", "achievement"]
NEGATIVE_WORDS = ["bad", "terrible", "crisis", "problem", "issue", "concern",
                  "failure"]


def sentiment(content: str | None) -> str:
    """content_analyzer.py:372-406 — substring counts, ±1 margin."""
    if not content:
        return "neutral"
    lower = content.lower()
    pos = sum(1 for w in POSITIVE_WORDS if w in lower)
    neg = sum(1 for w in NEGATIVE_WORDS if w in lower)
    if pos > neg + 1:
        return "positive"
    if neg > pos + 1:
        return "negative"
    return "neutral"


TOPIC_KEYWORDS = {
    "technology": ["tech", "digital", "software", "computer", "ai",
                   "artificial intelligence"],
    "business": ["business", "company", "market", "economy", "finance",
                 "startup"],
    "health": ["health", "medical", "hospital", "doctor", "medicine",
               "treatment"],
    "politics": ["government", "political", "policy", "election", "president",
                 "minister"],
    "science": ["research", "study", "scientist", "discovery", "experiment",
                "analysis"],
    "sports": ["sport", "game", "team", "player", "championship",
               "tournament"],
}


def topics(text: str | None) -> list[str]:
    """content_analyzer.py:408-464 — keyword buckets in dict order, cap 3."""
    if not text:
        return []
    lower = text.lower()
    detected = [t for t, kws in TOPIC_KEYWORDS.items()
                if any(k in lower for k in kws)]
    return detected[:3]


def entities(text: str | None) -> list[str]:
    """content_analyzer.py:466-494 — stateful scan: runs of capitalized
    words (len>2 after stripping non-word chars) merge into phrases;
    keep len>3; dedup preserving order; cap 10."""
    if not text:
        return []
    out: list[str] = []
    current: list[str] = []
    for word in text.split():
        clean = re.sub(r"[^\w]", "", word)
        if clean and clean[0].isupper() and len(clean) > 2:
            current.append(clean)
        else:
            if current:
                ent = " ".join(current)
                if len(ent) > 3 and ent not in out:
                    out.append(ent)
            current = []
    if current:
        ent = " ".join(current)
        if len(ent) > 3 and ent not in out:
            out.append(ent)
    return out[:10]


def summary(title: str | None, content: str | None) -> str:
    """content_analyzer.py:496-509 — first 2 nonempty '.'-sentences."""
    if not content:
        return title or "No content available for summary."
    sentences = [s.strip() for s in content.split(".") if s.strip()]
    if len(sentences) >= 2:
        return ". ".join(sentences[:2]) + "."
    if sentences:
        return sentences[0] + "."
    return title or "No summary available."


def analyze(title: str | None, content: str | None) -> dict:
    """content_analyzer.py:267-282 — the deterministic fallback analysis
    (the LLM path uses FakeListLLM canned strings, content_analyzer.py:110-130;
    the rule-based path is the reproducible semantics)."""
    wc = word_count(content)
    return {
        "summary": summary(title, content),
        "sentiment": sentiment(content),
        "confidence": 0.6,
        "quality_score": quality_score(title, content, wc),
        "readability": readability(content),
        "completeness": 0.8,
        "topics": topics((title or "") + " " + (content or "")),
        "entities": entities(content),
        "language": detect_language(content),
        "word_count": wc,
    }
