"""Proxy-pool layer (SURVEY §2 S10 / U1 / E7) — non-network analog.

Reference: ``src/core/proxy_config.py``. The live pieces — the
ProxyScrape v4 HTTP GET (:23-67) and per-proxy connectivity test
(:94-112) — are out of scope per the north rule (no live fetching);
the engine consumes proxy LISTS, it does not fetch them. Everything
around the GET is data transformation and is implemented Spark-native
here:

- ``parse_proxy_payloads`` — the response-JSON decode
  (proxy_config.py:69-85). A payload is either a dict with a
  ``proxies`` array of ``{protocol, ip, port}`` records (protocol
  defaults to "http" when the key is absent; records with a missing or
  empty ip or port are dropped, and so is any element that is not an
  object, alone — :76) or a bare JSON array of proxy strings (falsy
  entries dropped, :82-84). Each kept record becomes
  ``proto://ip:port``. A payload that parses as neither shape yields
  no rows — the reference returns ``[]`` on a decode error (:86-88).
- ``proxy_pool`` — fresh list + static fallback list → union +
  distinct (proxy_config.py:126-131; the U1 shape).
- ``assign_proxies`` — the deterministic analog of the reference's
  rotation (``random.shuffle`` of the tested pool,
  proxy_config.py:133-137). An unseeded in-task shuffle would break
  Spark's re-evaluation contract (a recomputed partition must produce
  the same rows), so assignment is ``pool[sha256(url) mod n]``:
  stable, uniform across the pool, and purely map-side.

The E7 fingerprint toggle (``DefaultFingerprintGenerator``,
main.py:63-70) is crawler-config, not dataflow: it selects per-fetch
header synthesis in the live crawler and has no analog over a static
page corpus; it is recorded here for completeness.

Scale: a proxy pool is configuration, not data — ProxyScrape returns
hundreds of rows, the reference keeps ``max_proxies=5``. It is
collected to the driver and baked into the plan as an array literal
(same pattern as the IVF pivot literals, operators/similarity.py),
so assignment is one codegen-resident expression per row: no join, no
shuffle, nothing per-executor but the KB-scale literal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the ProxyScrape v4 response body the reference decodes at
# proxy_config.py:69-81: the ``proxies`` array is decoded element-wise
# (each element's raw JSON text, then the record struct), so a
# non-object element fails alone, like the reference's isinstance skip
_DICT_SCHEMA = "struct<proxies:array<string>>"
_RECORD_SCHEMA = "struct<protocol:string,ip:string,port:string>"
_LIST_SCHEMA = "array<string>"


def _format_record(p: Column) -> Column:
    """{protocol, ip, port} → 'proto://ip:port' (proxy_config.py:76-81);
    NULL when ip or port is missing or empty (the reference's ``if ip
    and port`` guard). Numeric ports arrive as their decimal string —
    Spark's from_json coerces JSON numbers into string fields exactly
    like the reference's f-string renders ints.

    Two inputs still diverge from the reference: a ``null`` protocol
    becomes ``http`` here (the reference renders ``None://``), and a
    JSON int ``0`` port is coerced to ``"0"`` and kept (the reference's
    truthiness test drops it)."""
    return F.when(
        (F.length(p["ip"]) > 0) & (F.length(p["port"]) > 0),
        F.concat(F.coalesce(p["protocol"], F.lit("http")),
                 F.lit("://"), p["ip"], F.lit(":"), p["port"]),
    )


def parse_proxy_payloads(payloads: DataFrame, payload_col: str = "payload",
                         id_cols: list[str] | None = None) -> DataFrame:
    """Decode proxy-list payloads → one row per kept proxy.

    Output: ``(*id_cols, pos, proxy)`` where ``pos`` is the 0-based
    index in the DECODED list (the reference appends kept records in
    array order, proxy_config.py:74-81). All-expression: from_json /
    transform / filter / posexplode — the decode distributes and stays
    JVM-side; no Python touches the payload bytes."""
    dicts = F.from_json(F.col(payload_col), _DICT_SCHEMA)["proxies"]
    lists = F.from_json(F.col(payload_col), _LIST_SCHEMA)
    from_dicts = F.filter(
        F.transform(dicts, lambda e: _format_record(
            F.from_json(e, _RECORD_SCHEMA))),
        lambda s: s.isNotNull())
    # direct list of proxy strings: keep truthy entries only
    # (proxy_config.py:82-84 ``if proxy`` drops '' and nulls)
    from_lists = F.filter(
        lists, lambda s: s.isNotNull() & (F.length(s) > 0))
    proxies = (
        F.when(dicts.isNotNull(), from_dicts)
        .when(lists.isNotNull(), from_lists)
    )
    return payloads.select(
        *(id_cols or []),
        F.posexplode(proxies).alias("pos", "proxy"),
    )


def proxy_pool(fresh: DataFrame, fallback: list[str] | None = None,
               proxy_col: str = "proxy") -> DataFrame:
    """fresh ∪ fallback, distinct (proxy_config.py:126-131)."""
    pool = fresh.select(F.col(proxy_col).alias("proxy"))
    if fallback:
        pool = pool.unionByName(
            pool.sparkSession.createDataFrame(
                [(p,) for p in fallback], "proxy string"))
    return pool.distinct()


def assign_proxies(batch: DataFrame, pool: DataFrame,
                   url_col: str = "url",
                   out_col: str = "proxy") -> DataFrame:
    """Deterministic proxy rotation over a fetch batch (E7 analog).

    Each row gets ``pool_sorted[sha256(url)[:15 hex] mod n]``. The
    pool is config-scale (see module docstring) — collected once,
    sorted for a stable index, baked in as an array literal; the
    assignment is one map-side expression, no join/shuffle."""
    pool_list = sorted({r["proxy"] for r in
                        pool.select("proxy").distinct().collect()
                        if r["proxy"] is not None})
    if not pool_list:
        return batch.withColumn(out_col, F.lit(None).cast("string"))
    n = len(pool_list)
    idx = (
        F.conv(F.substring(F.sha2(F.col(url_col), 256), 1, 15), 16, 10)
        .cast("long") % n
    )
    arr = F.array(*[F.lit(p) for p in pool_list])
    # element_at is 1-based; idx is non-negative (15 hex digits < 2^60)
    return batch.withColumn(out_col, F.element_at(arr, (idx + 1).cast("int")))
