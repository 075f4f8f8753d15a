"""Proxy-pool layer (S10/U1/E7 non-network analogs) — sources/proxies.py.

Behavior contract: src/core/proxy_config.py (reference) —
response-JSON decode quirks at :69-88, pool merge at :126-131,
rotation at :133-137 (deterministic analog).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from web_scrapers_python_spark.sources import proxies as PX


def _payloads(spark, rows):
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(rows)], "pid int, payload string")


class TestParsePayloads:
    def test_dict_shape_defaults_and_drops(self, spark):
        out = PX.parse_proxy_payloads(_payloads(spark, [
            '{"proxies":['
            '{"protocol":"socks5","ip":"1.2.3.4","port":1080},'
            '{"ip":"5.6.7.8","port":8080},'          # no protocol -> http
            '{"ip":"9.9.9.9"},'                      # no port -> dropped
            '{"port":80},'                           # no ip -> dropped
            '{"ip":"","port":80},'                   # empty ip -> dropped
            '{"ip":"6.6.6.6","port":""},'            # empty port -> dropped
            '{"protocol":"socks4","ip":"7.7.7.7","port":"81"}]}',
            # non-object elements are skipped alone (proxy_config.py:76)
            '{"proxies":["junk",{"ip":"2.2.2.2","port":22},0,null,'
            '[1],{"protocol":"https","ip":"3.3.3.3","port":"443"}]}',
        ]), id_cols=["pid"]).orderBy("pid", "pos").collect()
        assert [(r.pid, r.pos, r.proxy) for r in out] == [
            (0, 0, "socks5://1.2.3.4:1080"),
            (0, 1, "http://5.6.7.8:8080"),            # default protocol
            (0, 2, "socks4://7.7.7.7:81"),            # string port kept
            (1, 0, "http://2.2.2.2:22"),
            (1, 1, "https://3.3.3.3:443"),
        ]

    def test_numeric_port_renders_as_decimal(self, spark):
        out = PX.parse_proxy_payloads(_payloads(spark, [
            '{"proxies":[{"ip":"1.1.1.1","port":3128}]}',
        ])).collect()
        assert out[0].proxy == "http://1.1.1.1:3128"

    def test_list_shape_keeps_truthy_only(self, spark):
        out = PX.parse_proxy_payloads(_payloads(spark, [
            '["http://a:1","","socks4://b:2"]',
        ])).orderBy("pos").collect()
        assert [(r.pos, r.proxy) for r in out] == [
            (0, "http://a:1"), (1, "socks4://b:2")]

    def test_broken_payload_yields_no_rows(self, spark):
        # reference returns [] on a decode error (proxy_config.py:86-88)
        out = PX.parse_proxy_payloads(_payloads(spark, [
            "not json at all", '{"unrelated": 1}', "[1,", "",
        ]))
        assert out.count() == 0

    def test_mixed_batch(self, spark):
        out = PX.parse_proxy_payloads(_payloads(spark, [
            '{"proxies":[{"ip":"1.1.1.1","port":1}]}',
            '["http://x:9"]',
        ]), id_cols=["pid"])
        assert sorted((r.pid, r.proxy) for r in out.collect()) == [
            (0, "http://1.1.1.1:1"), (1, "http://x:9")]


class TestProxyPool:
    def test_union_distinct_with_fallback(self, spark):
        fresh = spark.createDataFrame(
            [("http://a:1",), ("http://b:2",), ("http://a:1",)],
            "proxy string")
        pool = PX.proxy_pool(fresh, fallback=["http://b:2", "http://c:3"])
        assert sorted(r.proxy for r in pool.collect()) == [
            "http://a:1", "http://b:2", "http://c:3"]


class TestAssignProxies:
    def _batch(self, spark, n=50):
        return spark.range(n).select(
            F.concat(F.lit("https://h.example.com/p/"),
                     F.col("id").cast("string")).alias("url"))

    def test_deterministic_and_in_pool(self, spark):
        pool = spark.createDataFrame(
            [(f"http://10.0.0.{i}:8080",) for i in range(5)],
            "proxy string")
        batch = self._batch(spark)
        a = {r.url: r.proxy for r in
             PX.assign_proxies(batch, pool).collect()}
        b = {r.url: r.proxy for r in
             PX.assign_proxies(batch, pool).collect()}
        assert a == b                       # re-evaluation stable
        pool_set = {f"http://10.0.0.{i}:8080" for i in range(5)}
        assert set(a.values()) <= pool_set
        assert len(set(a.values())) > 1     # rotation actually spreads

    def test_matches_hash_mod_oracle(self, spark):
        import hashlib
        pool_list = sorted(f"http://10.0.0.{i}:8080" for i in range(5))
        pool = spark.createDataFrame(
            [(p,) for p in pool_list], "proxy string")
        out = PX.assign_proxies(self._batch(spark, 20), pool).collect()
        for r in out:
            idx = int(hashlib.sha256(
                r.url.encode()).hexdigest()[:15], 16) % 5
            assert r.proxy == pool_list[idx]

    def test_empty_pool_yields_null(self, spark):
        pool = spark.createDataFrame([], "proxy string")
        out = PX.assign_proxies(self._batch(spark, 3), pool).collect()
        assert all(r.proxy is None for r in out)
