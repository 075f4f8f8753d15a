"""Tests for the training-data pipeline layer: dedup sketches, ANN,
text stats, multimodal plumbing, streaming metrics.

Independent oracles: hand-computed values, numpy recomputation, or
in-test reimplementation of the hash formulas — never the module under
test. (The driver's DuckDB oracle re-checks the same operators against
__spark_entry__.oracle_sql at sf0.01.)
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_scrapers_python_spark.functions import hashing as H
from web_scrapers_python_spark.functions import textstats as TS
from web_scrapers_python_spark.operators import docdedup as DD
from web_scrapers_python_spark.operators import multimodal as MM
from web_scrapers_python_spark.operators import similarity as SIM


# -- independent reimplementation of the cross-engine hash ------------------

def py_h64(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def py_minhash(text: str, n_hashes: int = DD.NUM_HASHES,
               k: int = DD.SHINGLE_K) -> list[int]:
    norm = " ".join(text.lower().split())
    grams = ({norm} if len(norm) < k
             else {norm[i:i + k] for i in range(len(norm) - k + 1)})
    hs = [py_h64(g) % H.P31 for g in grams]
    out = []
    for i in range(n_hashes):
        a, b = H.perm_coeffs(i)
        out.append(min((a * h + b) % H.P31 for h in hs))
    return out


def py_simhash(text: str, bits: int = DD.SIMHASH_BITS) -> int:
    norm = " ".join(text.lower().split())
    toks = set(norm.split(" "))
    hs = [py_h64(t) % H.M32 for t in toks]
    v = 0
    for b in range(bits):
        s = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if s >= 0:
            v |= 1 << b
    return v


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "s1"),
        (1, "the quick brown fox jumps over the lazy dog", "s1"),  # dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "s1"),  # near-dup
        (3, "completely different content about spark engines", "s2"),
        (4, "absolutely unrelated words regarding database systems", "s2"),
        (5, "the quick brown fox jumps over the lazy dog today", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


class TestExactDedup:
    def test_duplicates_collapse(self, docs):
        out = {r["doc_id"]: r["n_copies"]
               for r in DD.exact_dedup(docs).collect()}
        assert out[0] == 2          # doc 1 collapsed into doc 0 (min id)
        assert 1 not in out
        assert out[2] == 1

    def test_hash_is_reference_hash(self, docs):
        row = DD.exact_dedup(docs).where(F.col("doc_id") == 3).first()
        txt = "completely different content about spark engines"
        assert row["content_hash"] == hashlib.sha256(
            txt.encode()).hexdigest()[:16]


class TestMinHash:
    def test_signature_matches_python(self, docs):
        sigs = DD.minhash_signatures(docs).where(F.col("doc_id") == 0).first()
        expect = py_minhash("the quick brown fox jumps over the lazy dog")
        got = [sigs[f"sig_{i:02d}"] for i in range(DD.NUM_HASHES)]
        assert got == expect

    def test_identical_docs_identical_signatures(self, docs):
        rows = {r["doc_id"]: [r[f"sig_{i:02d}"] for i in range(DD.NUM_HASHES)]
                for r in DD.minhash_signatures(docs).collect()}
        assert rows[0] == rows[1]
        assert rows[0] != rows[3]

    def test_lsh_finds_near_dups(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in DD.minhash_dup_pairs(docs, top_k=None,
                                               threshold=0.0).collect()}
        assert pairs[(0, 1)] == 1.0                  # exact dup
        assert any(p in pairs for p in [(0, 2), (0, 5), (1, 2)])
        for (a, b), j in pairs.items():
            assert 0.0 <= j <= 1.0 and a < b


class TestSimHash:
    def test_matches_python(self, docs):
        got = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
        for did, txt in [(0, "the quick brown fox jumps over the lazy dog"),
                         (3, "completely different content about spark engines")]:
            assert got[did] == py_simhash(txt)
        assert got[0] == got[1]

    def test_dup_pairs_by_hamming(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in DD.simhash_dup_pairs(docs, max_hamming=16).collect()}
        assert pairs[(0, 1)] == 0
        # near-dup (one token changed) has small hamming
        if (0, 2) in pairs:
            assert pairs[(0, 2)] <= 16


class TestNgramJaccard:
    def test_hand_computed(self, spark):
        a, b = "abcdefghij", "abcdefghiz"       # 7-grams: 4 each
        df = spark.createDataFrame(
            [(0, a, "x"), (1, b, "x")], "doc_id long, text string, source string")
        row = DD.ngram_jaccard_pairs(df, top_k=5).first()
        ga = {a[i:i + 7] for i in range(4)}
        gb = {b[i:i + 7] for i in range(4)}
        expect = len(ga & gb) / len(ga | gb)
        assert abs(row["jaccard"] - expect) < 1e-12
        assert (row["id_a"], row["id_b"]) == (0, 1)

    def test_blocking_prevents_cross_block_pairs(self, docs):
        pairs = DD.ngram_jaccard_pairs(docs, top_k=100).collect()
        blocks = {0: "s1", 1: "s1", 2: "s1", 3: "s2", 4: "s2", 5: "s2"}
        for r in pairs:
            assert blocks[r["id_a"]] == blocks[r["id_b"]]

    def test_block_guard_raises_on_pathological_block(self, spark):
        """One boilerplate-heavy block over max_block_docs must fail
        LOUDLY at execution instead of running all-pairs inside the
        block (round-4 VERDICT item 4). The guard is in-plan
        (assert_true on the broadcast block-size frame), so no eager
        driver count is paid on the happy path."""
        rows = [(i, "shared boilerplate prefix " + str(i), "blk")
                for i in range(20)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        q = DD.ngram_jaccard_pairs(df, top_k=5, max_block_docs=10)
        with pytest.raises(Exception, match="max_block_docs"):
            q.collect()

    def test_block_guard_passes_under_cap(self, spark):
        rows = [(i, "abcdefghijklm" + str(i), "blk") for i in range(5)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        out = DD.ngram_jaccard_pairs(df, top_k=50,
                                     max_block_docs=5).collect()
        assert len(out) > 0          # guard at exactly the cap: passes


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 16).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype(np.float32)  # near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return (spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            vecs)


class TestANN:
    def test_brute_matches_numpy(self, embeddings):
        df, vecs = embeddings
        out = SIM.brute_topk(df.where(F.col("vec_id") < 5), df, k=3).collect()
        v = vecs.astype(np.float64)
        sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None]
                            * np.linalg.norm(v, axis=1)[None, :])
        for q in range(5):
            order = [i for i in np.argsort(-sims[q], kind="stable")
                     if i != q][:3]
            got = sorted([r for r in out if r["query_id"] == q],
                         key=lambda r: r["rank"])
            assert [r["neighbor_id"] for r in got] == order
            for r in got:
                assert abs(r["cosine_sim"] - sims[q][r["neighbor_id"]]) < 1e-9

    def test_lsh_is_subset_with_exact_scores(self, embeddings):
        df, vecs = embeddings
        q = df.where(F.col("vec_id") < 10)
        lsh = SIM.lsh_topk(q, df, dim=16, k=3).collect()
        v = vecs.astype(np.float64)
        sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None]
                            * np.linalg.norm(v, axis=1)[None, :])
        assert len(lsh) > 0
        for r in lsh:
            assert abs(r["cosine_sim"]
                       - sims[r["query_id"]][r["neighbor_id"]]) < 1e-9

    def test_lsh_finds_near_duplicate(self, embeddings):
        df, _ = embeddings
        q = df.where(F.col("vec_id") == 0)
        lsh = SIM.lsh_topk(q, df, dim=16, k=3).collect()
        # vec 1 is a tiny perturbation of vec 0 → same buckets, rank 1
        assert lsh and lsh[0]["neighbor_id"] == 1

    def test_ivf_matches_numpy_reference(self, embeddings):
        """Numpy re-derivation of the whole IVF path (pivot rule,
        argmax assignment, probe order, re-rank) — independent of both
        the Spark plan and the DuckDB twin."""
        df, vecs = embeddings
        q = df.where(F.col("vec_id") < 10)
        got = SIM.ivf_topk(q, df, dim=16, k=3, nlist=8, nprobe=3).collect()

        v = vecs.astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        key = [(i * SIM.KNUTH) % SIM.PIVOT_MOD for i in range(40)]
        piv = sorted(range(40), key=lambda i: (key[i], i))[:8]
        pcos = (v @ v[piv].T) / (norms[:, None] * norms[piv][None, :])
        assign = np.argmax(pcos, axis=1)          # first max on ties
        sims = (v @ v.T) / (norms[:, None] * norms[None, :])
        for qi in range(10):
            probes = sorted(range(8), key=lambda p: (-pcos[qi][p], p))[:3]
            cand = [i for i in range(40)
                    if assign[i] in probes and i != qi]
            order = sorted(cand, key=lambda i: (-sims[qi][i], i))[:3]
            mine = sorted([r for r in got if r["query_id"] == qi],
                          key=lambda r: r["rank"])
            assert [r["neighbor_id"] for r in mine] == order
            for r in mine:
                assert abs(r["cosine_sim"]
                           - sims[qi][r["neighbor_id"]]) < 1e-9

    def test_ivf_finds_near_duplicate(self, embeddings):
        df, _ = embeddings
        q = df.where(F.col("vec_id") == 0)
        ivf = SIM.ivf_topk(q, df, dim=16, k=3, nlist=8, nprobe=3).collect()
        # vec 1 ≈ vec 0 → same cell (max-cosine pivot), rank 1
        assert ivf and ivf[0]["neighbor_id"] == 1


class TestTextStats:
    def test_langid(self, spark):
        rows = [(0, "the cat and the dog but not in the rain"),
                (1, "der hund und die katze ist nicht hier"),
                (2, "el perro y la casa que los gatos en un dia"),
                (3, "le chien est dans les rues pour une heure"),
                (4, "zzz qqq xxx"),
                # unsegmented Chinese: no whitespace tokens, must match
                # via character containment
                (5, "我在这里的时候他说了很多话但是我不相信"),
                (6, "今天的天气是很好的")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["l"] for r in df.select(
            "doc_id", TS.langid(F.col("text")).alias("l")).collect()}
        assert got == {0: "en", 1: "de", 2: "es", 3: "fr", 4: "unknown",
                       5: "zh", 6: "zh"}

    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(0, "  hello,  world! 42 "), (1, ""), (2, "one")],
            "doc_id long, text string")
        got = {r["doc_id"]: (r["ws"], r["bpe"]) for r in df.select(
            "doc_id",
            TS.ws_token_count(F.col("text")).alias("ws"),
            TS.bpe_token_count(F.col("text")).alias("bpe")).collect()}
        assert got[0] == (3, 5)   # bpe: hello , world ! 42 ; ws: 3 words
        assert got[1] == (0, 0)
        assert got[2] == (1, 1)

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello   World"), (1, "hello world"), (2, "hello  worlds")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["fp"] for r in df.select(
            "doc_id", TS.fingerprint64(F.col("text")).alias("fp")).collect()}
        assert got[0] == got[1] != got[2]
        assert got[1] == py_h64("hello world")

    def test_quality_score_range(self, spark, docs=None):
        df = spark.createDataFrame(
            [(0, "the data pipeline processes records, and the results "
                 "are stored in tables. the system is fast."),
             (1, ""), (2, "x")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["q"] for r in df.select(
            "doc_id", TS.doc_quality_score(F.col("text")).alias("q")).collect()}
        assert all(0.0 <= v <= 10.0 for v in got.values())
        assert got[0] > got[2]


class TestQualityFilter:
    def test_ladder_order_and_gates(self, spark):
        en50 = ("the cat and the dog sat in the rain for hours . " * 8).strip()
        rows = [
            (0, en50),                               # keeps
            (1, "short text"),                       # too_short
            (2, "der hund und die katze " * 12),     # wrong_lang (de, 60 tok)
            (3, ("zz qq ww ee rr tt yy uu ii oo " * 6).strip()),  # en? no →
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["reason"] for r in df.select(
            "doc_id",
            TS.quality_drop_reason(F.col("text")).alias("reason")).collect()}
        assert got[0] is None
        assert got[1] == "too_short"
        assert got[2] == "wrong_lang"
        assert got[3] is not None   # fails some later gate, never keeps

    def test_too_long_gate(self, spark):
        long_en = ("the and for that with this " * 2000).strip()  # 12k tokens
        df = spark.createDataFrame([(0, long_en)], "doc_id long, text string")
        r = df.select(TS.quality_drop_reason(F.col("text"))
                      .alias("reason")).collect()[0]["reason"]
        assert r == "too_long"


class TestMultimodal:
    def test_features_match_hashlib(self, spark):
        df = spark.createDataFrame([(7, "hello media")], "doc_id long, text string")
        media = MM.synthesize_media(df, "doc_id", "text")
        row = MM.extract_features(media).first()
        payload = "hello media".encode()
        d = hashlib.sha256(payload)
        assert row["media_id"] == 7
        assert row["n_bytes"] == len(payload)
        assert row["sha"] == d.hexdigest()
        expect = [b / 255.0 for b in d.digest()[:MM.FEATURE_DIM]]
        assert all(abs(a - e) < 1e-6 for a, e in zip(row["feature"], expect))

    def test_decode_stub_false_raises(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        media = MM.synthesize_media(df, "doc_id", "text")
        from py4j.protocol import Py4JJavaError
        with pytest.raises(Exception) as ei:
            MM.extract_features(media, decode_stub=False).collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError)

    def test_real_media_end_to_end(self, spark):
        """synthesize_real_media -> extract/resize/frame_sample with
        decode_stub=False: every payload is really encoded and decoded
        by the numpy codecs; features match the local closed form."""
        import numpy as np
        from web_scrapers_python_spark.functions import codecs as C
        ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
        media = MM.synthesize_real_media(ids, "doc_id")
        feats = {r["media_id"]: r for r in
                 MM.extract_features(media, decode_stub=False).collect()}
        assert len(feats) == 12
        for i in range(12):
            mime, payload, _ = C.synth_payload(i)
            want = MM._decode_features(mime, payload, decode_stub=False)
            assert feats[i]["kind"] == C.synth_kind(i)
            assert feats[i]["n_bytes"] == len(payload)
            assert [int(x) for x in feats[i]["feature"]] == \
                   [int(x) for x in want]
        # real resize: decoded output of the resized payload is the
        # numpy-resized source image, bit for bit
        img_media = media.where(F.col("kind") == "image")
        rows = MM.resize_images(img_media, 8, 8,
                                decode_stub=False).collect()
        for r in rows:
            src = C.synth_image(int(r["media_id"]))
            got = C.decode_bmp(bytes(r["payload"]))
            assert np.array_equal(got, C.resize_nearest(src, 8, 8))
            assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
        # real frame sampling: container splits into per-frame BMPs
        vid = media.where(F.col("kind") == "video")
        frames = MM.frame_sample(vid, decode_stub=False).collect()
        by_id: dict = {}
        for fr in frames:
            by_id.setdefault(fr["media_id"], []).append(fr)
        for i, frs in by_id.items():
            assert len(frs) == C.synth_video_frames(int(i))
            for fr in sorted(frs, key=lambda x: x["frame_idx"]):
                want_img = C.synth_image(int(i), fr["frame_idx"])
                assert np.array_equal(
                    C.decode_bmp(bytes(fr["frame"])), want_img)

    def test_frame_sample_rows(self, spark):
        df = spark.createDataFrame([(1, "abcdefghij" * 30)],
                                   "doc_id long, text string")
        media = MM.synthesize_media(df, "doc_id", "text")   # duration = 3000ms
        frames = MM.frame_sample(media, every_ms=1000).collect()
        assert len(frames) == 3
        assert [f["frame_idx"] for f in frames] == [0, 1, 2]
        joined = b"".join(bytes(f["frame"]) for f in frames)
        assert joined == ("abcdefghij" * 30).encode()[:len(joined)]
        assert len(joined) >= 298   # step*n_frames covers nearly all bytes


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, tmp_path):
        src = str(tmp_path / "events")
        events = spark.range(0, 500).select(
            F.col("id").alias("event_id"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + (F.col("id") * 97 % 7200).cast("int")
             .cast("string").cast("interval second")).alias("ts"),
            (F.col("id") % 7).alias("user_id"),
            F.concat(F.lit("type"), (F.col("id") % 3).cast("string"))
            .alias("event_type"),
            (F.col("id") * 1.5).alias("value"),
            F.lit("{}").alias("props"),
        )
        # watermark sentinel: one event far past the real data pushes the
        # final watermark beyond every real window, so append mode (the
        # production semantics run_to_memory now defaults to) finalizes
        # and emits them; the sentinel's own (unfinalized) window is
        # excluded from the comparison below.
        sentinel = events.limit(1).select(
            F.lit(99_999).alias("event_id"),
            F.lit("2024-01-02 00:00:00").cast("timestamp").alias("ts"),
            F.lit(0).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"), F.lit("{}").alias("props"))
        events.unionByName(sentinel).write.mode("overwrite").parquet(src)

        from web_scrapers_python_spark.streaming.metrics import run_to_memory
        got = run_to_memory(spark, src, "stream_counts_t")
        batch = (
            spark.read.parquet(src)
            .where(F.col("event_type") != "sentinel")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value")
        )
        g = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                    round(r["sum_value"], 6))
             for r in got.collect()}
        b = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                    round(r["sum_value"], 6))
             for r in batch.collect()}
        assert g == b and len(g) >= 4

    def _events_with_sentinel(self, spark, src):
        events = spark.range(0, 500).select(
            F.col("id").alias("event_id"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + (F.col("id") * 97 % 7200).cast("int")
             .cast("string").cast("interval second")).alias("ts"),
            (F.col("id") % 7).alias("user_id"),
            F.concat(F.lit("type"), (F.col("id") % 3).cast("string"))
            .alias("event_type"),
            (F.col("id") * 1.5).alias("value"),
            F.lit("{}").alias("props"),
        )
        sentinel = events.limit(1).select(
            F.lit(99_999).alias("event_id"),
            F.lit("2024-01-02 00:00:00").cast("timestamp").alias("ts"),
            F.lit(999).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"), F.lit("{}").alias("props"))
        events.unionByName(sentinel).write.mode("overwrite").parquet(src)

    def test_sliding_counts_match_batch(self, spark, tmp_path):
        from web_scrapers_python_spark.streaming import metrics as ST
        src = str(tmp_path / "events_sl")
        self._events_with_sentinel(spark, src)
        q = (ST.sliding_event_counts(ST.stream_events(spark, src))
             .writeStream.format("memory").queryName("stream_sliding")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        got = spark.table("stream_sliding") \
            .where(F.col("event_type") != "sentinel")
        batch = ST.sliding_event_counts(
            spark.read.parquet(src)
            .where(F.col("event_type") != "sentinel"))
        key = ["window_start", "window_end", "event_type"]

        def as_map(df):
            return {tuple(r[k] for k in key):
                    (r["n_events"], round(r["sum_value"], 6))
                    for r in df.collect()}
        g, b = as_map(got), as_map(batch)
        assert g == b and len(g) >= 8
        # every event is in exactly window/slide = 2 windows
        n_events = sum(v[0] for v in g.values())
        assert n_events == 2 * 500

    def test_session_windows_match_batch(self, spark, tmp_path):
        from web_scrapers_python_spark.streaming import metrics as ST
        src = str(tmp_path / "events_se")
        self._events_with_sentinel(spark, src)
        q = (ST.session_event_counts(ST.stream_events(spark, src))
             .writeStream.format("memory").queryName("stream_sessions")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        got = spark.table("stream_sessions").where(F.col("user_id") != 999)
        batch = ST.session_event_counts(
            spark.read.parquet(src).where(F.col("user_id") != 999))
        key = ["session_start", "session_end", "user_id"]

        def as_map(df):
            return {tuple(r[k] for k in key):
                    (r["n_events"], round(r["sum_value"], 6))
                    for r in df.collect()}
        g, b = as_map(got), as_map(batch)
        assert g == b and len(g) >= 7
        # sessions partition the events: per-user counts add up
        assert sum(v[0] for v in g.values()) == 500


class TestDupClusters:
    def test_components_min_label(self, spark):
        from web_scrapers_python_spark.operators.docdedup import dup_clusters
        # chain 1-2-3, triangle 10-11-12 (+extra edge), isolated pair 20-21
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12), (21, 20)],
            "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dup_clusters(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
                       20: 20, 21: 20}

    def test_long_chain_converges(self, spark):
        from web_scrapers_python_spark.operators.docdedup import dup_clusters
        n = 12   # diameter > a couple of naive iterations
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long")
        got = dup_clusters(pairs).collect()
        assert {r["cluster_id"] for r in got} == {0}
        assert len(got) == n + 1

    def test_high_diameter_escalates_to_star(self, spark):
        """A chain whose diameter exceeds max_iters must NOT raise: the
        loop escalates to large-star/small-star rewriting and still
        returns component-min labels (round-3 VERDICT item 5)."""
        from web_scrapers_python_spark.operators.docdedup import dup_clusters
        n = 30   # diameter 30 > default max_iters=20 for min-label
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long")
        got = dup_clusters(pairs, max_iters=5).collect()
        assert {r["cluster_id"] for r in got} == {0}
        assert len(got) == n + 1

    def test_star_components_direct(self, spark):
        """star_components alone on a mixed graph (long chain + triangle
        + pair + star) == component minima."""
        from pyspark.sql import functions as F
        from web_scrapers_python_spark.operators.docdedup import (
            star_components)
        edges = ([(i, i + 1) for i in range(40, 65)]          # 25-chain
                 + [(2, 1), (2, 3), (1, 3)]                   # triangle
                 + [(80, 81)]                                 # pair
                 + [(100, x) for x in (101, 102, 103)])       # star
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        sym = pairs.select(F.col("id_a").alias("src"),
                           F.col("id_b").alias("dst"))
        sym = sym.unionByName(sym.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
        got = {r["doc_id"]: r["cluster_id"]
               for r in star_components(sym).collect()}
        want = {i: 40 for i in range(40, 66)}
        want.update({1: 1, 2: 1, 3: 1, 80: 80, 81: 80,
                     100: 100, 101: 100, 102: 100, 103: 100})
        assert got == want

    def test_star_wrapper_matches_min_label(self, spark):
        """dup_clusters_star (pairs-in contract) == dup_clusters on the
        same edge set — the two paths are interchangeable resolutions."""
        from web_scrapers_python_spark.operators.docdedup import (
            dup_clusters, dup_clusters_star)
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12), (21, 20),
             (30, 31), (31, 32), (32, 33), (33, 34)],
            "id_a long, id_b long")
        a = {(r["doc_id"], r["cluster_id"])
             for r in dup_clusters(pairs).collect()}
        b = {(r["doc_id"], r["cluster_id"])
             for r in dup_clusters_star(pairs).collect()}
        assert a == b and len(a) == 13


class TestSequencerProperties:
    """Property tests for the frozen-bucket global sequencer — ranks
    must equal the sorted index for ANY key distribution, and must be
    stable across re-evaluations (the bug class: per-job-resampled
    range bounds)."""

    def test_random_longs_property(self, spark):
        from hypothesis import given, settings, strategies as st
        from web_scrapers_python_spark.operators.sequence import (
            assign_global_seq)

        @settings(max_examples=5, deadline=None)
        @given(st.lists(st.integers(min_value=-2**40, max_value=2**40),
                        min_size=1, max_size=300, unique=True))
        def check(keys):
            df = spark.createDataFrame([(k,) for k in keys], "k long")
            out = assign_global_seq(df, ["k"], start=7)
            got = {r["k"]: r["seq"] for r in out.collect()}
            want = {k: 7 + i for i, k in enumerate(sorted(keys))}
            assert got == want

        check()

    def test_skewed_and_clustered_keys(self, spark):
        from web_scrapers_python_spark.operators.sequence import (
            assign_global_seq)
        # heavy clustering: most keys in one tight range + outliers
        keys = list(range(1000, 1200)) + [-10**12, 10**12, 0]
        df = spark.createDataFrame([(k,) for k in keys], "k long") \
                  .repartition(7)
        out = assign_global_seq(df, ["k"])
        got = {r["k"]: r["seq"] for r in out.collect()}
        assert got == {k: i for i, k in enumerate(sorted(keys))}

    def test_gated_planning_stats(self, spark):
        """The numbering step's one per-bucket aggregate also yields the
        planning stats: only gated rows are sequenced (dense over the
        GATED key order), while the returned stats count ALL rows and
        union the set_col values — the crawl engine's links-discovered
        contract."""
        from web_scrapers_python_spark.operators.sequence import (
            number_by_bounds, sample_bounds)
        rows = [(k, k % 3 != 0, k % 7) for k in range(500)]
        df = spark.createDataFrame(
            rows, "k long, fresh boolean, host_bucket int").repartition(5)
        bounds = sample_bounds(df, ["k"])
        out, stats = number_by_bounds(df, ["k"], bounds, start=11,
                                      gate_col="fresh",
                                      set_col="host_bucket")
        gated = sorted(k for k, f, _ in rows if f)
        got = {r["k"]: r["seq"] for r in out.collect()}
        assert got == {k: 11 + i for i, k in enumerate(gated)}
        assert "fresh" not in out.columns
        assert stats == {"n": len(gated), "n_all": len(rows),
                         "set": set(range(7))}
        # all-false gate: no sequencing pass, stats still total
        out0, stats0 = number_by_bounds(
            df.withColumn("fresh", F.lit(False)), ["k"], bounds, start=11,
            gate_col="fresh", set_col="host_bucket")
        assert out0.count() == 0
        assert stats0 == {"n": 0, "n_all": len(rows),
                          "set": set(range(7))}

    def test_literal_bounds_match_sampled_seqs(self, spark):
        """Numbering against caller-given literal bounds — full keys or
        key prefixes, as the crawl engine passes the parents' seqs for
        (parent_seq, pos) children — gives exactly the seqs of
        ``assign_global_seq`` and of the sorted index, whatever the
        bucketing."""
        from web_scrapers_python_spark.operators.sequence import (
            assign_global_seq, number_by_bounds)
        rows = [(p, pos) for p in range(0, 400, 7) for pos in range(p % 5)]
        df = spark.createDataFrame(rows, "parent_seq long, pos long") \
                  .repartition(3)
        want = {k: 5 + i for i, k in enumerate(sorted(rows))}
        sampled = assign_global_seq(df, ["parent_seq", "pos"], start=5)
        assert {(r["parent_seq"], r["pos"]): r["seq"]
                for r in sampled.collect()} == want
        for bounds in ([(98,), (203,), (301,)],
                       [(98, 1), (98, 3), (203, 0), (350, 2)]):
            # the bounds split the keys into >= 3 non-empty buckets
            assert len({sum(k[:len(b)] >= b for b in bounds)
                        for k in rows}) >= 3
            out, stats = number_by_bounds(df, ["parent_seq", "pos"],
                                          bounds, start=5)
            assert {(r["parent_seq"], r["pos"]): r["seq"]
                    for r in out.collect()} == want
            assert stats == {"n": len(rows), "n_all": len(rows),
                             "set": set()}

    def test_reevaluation_stability_with_downstream_ops(self, spark):
        from web_scrapers_python_spark.operators.sequence import (
            assign_global_seq)
        df = spark.createDataFrame(
            [(i * 37 % 5000,) for i in range(5000)], "k long").distinct()
        out = assign_global_seq(df, ["k"])
        # two independent actions over the SAME plan must agree row-for-row
        a = {r["k"]: r["seq"] for r in out.collect()}
        b = {r["k"]: r["seq"] for r in
             out.where(F.col("seq") >= 0).collect()}
        assert a == b
