"""Tests: dedup clustering (connected components) + IVF ANN."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbt_icebreaker_spark.sources import register_dir
from dbt_icebreaker_spark.xops import dedup, similarity

SF = "/root/testdata/sf0.001"


def _cap_legs(monkeypatch, n_edges):
    """Run a dedup_clusters graph test once per driver-finish cap:
    "rounds" (cap 0: star rounds to the fixpoint), "driver" (the
    default cap: no round at all) and "after_round" (one below the
    input's edge count: at least one round, then the driver finish if
    a round shrank the edge set). Yields the leg's name; the caller
    checks ``stats["rounds"]`` with ``_check_rounds``."""
    default = dedup._DRIVER_FINISH_EDGES
    for leg, cap in (("rounds", 0), ("driver", default), ("after_round", n_edges - 1)):
        monkeypatch.setattr(dedup, "_DRIVER_FINISH_EDGES", cap)
        yield leg


def _check_rounds(leg, st):
    if leg == "rounds":
        assert st["rounds"] >= 2  # the fixpoint needs a confirming round
    elif leg == "driver":
        assert st["rounds"] == 0
    else:
        assert st["rounds"] >= 1


class TestDedupClusters:
    def test_transitive_components(self, spark, monkeypatch):
        # 1-2, 2-3 chain plus 5-6: clusters {1,2,3} and {5,6}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"]
        )
        for leg in _cap_legs(monkeypatch, 3):
            st: dict = {}
            out = dedup.dedup_clusters(pairs, stats=st).collect()
            got = {r.doc_id: r.cluster_id for r in out}
            assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}, leg
            canon = {r.doc_id for r in out if r.is_canonical}
            assert canon == {1, 5}, leg
            _check_rounds(leg, st)

    def test_singletons_included_with_docs(self, spark, monkeypatch):
        pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
        docs = spark.createDataFrame([(1,), (2,), (9,)], ["doc_id"])
        for leg in _cap_legs(monkeypatch, 1):
            st: dict = {}
            out = {r.doc_id: (r.cluster_id, r.is_canonical)
                   for r in dedup.dedup_clusters(pairs, docs=docs, stats=st).collect()}
            assert out == {1: (1, True), 2: (1, False), 9: (9, True)}, leg
            _check_rounds(leg, st)

    def test_long_chain_converges(self, spark, monkeypatch):
        # path graph 0-1-2-...-9: diameter 9, still one component
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], ["doc_a", "doc_b"]
        )
        for leg in _cap_legs(monkeypatch, 9):
            st: dict = {}
            out = dedup.dedup_clusters(pairs, stats=st).collect()
            assert {r.cluster_id for r in out} == {0}, leg
            assert len(out) == 10, leg
            _check_rounds(leg, st)

    def test_star_rounds_sublinear_in_diameter(self, spark, monkeypatch):
        # alternating large/small-star (Kiveris et al. SoCC'14)
        # contracts a diameter-64 path in O(log n) alternations —
        # min-label propagation would need 64 rounds
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], ["doc_a", "doc_b"]
        )
        for leg in _cap_legs(monkeypatch, 64):
            st: dict = {}
            out = dedup.dedup_clusters(pairs, stats=st)
            assert out.select("cluster_id").distinct().collect()[0][0] == 0, leg
            assert out.count() == 65, leg
            _check_rounds(leg, st)
            if leg == "rounds":
                assert st["rounds"] <= 10  # log-ish, far under diameter 64

    def test_reversed_and_duplicate_edges(self, spark, monkeypatch):
        # same component given in both orientations + repeats
        pairs = spark.createDataFrame(
            [(2, 1), (1, 2), (3, 2), (2, 3), (3, 2)], ["doc_a", "doc_b"]
        )
        for leg in _cap_legs(monkeypatch, 5):
            st: dict = {}
            got = {r.doc_id: r.cluster_id
                   for r in dedup.dedup_clusters(pairs, stats=st).collect()}
            assert got == {1: 1, 2: 1, 3: 1}, leg
            _check_rounds(leg, st)
            if leg == "after_round":
                # the first round collapses the duplicates under the
                # cap: the driver finishes the partly contracted set
                assert st["rounds"] == 1

    def test_max_iter_exhausted_raises(self, spark, monkeypatch):
        # star rounds that run out of max_iter above the cap must not
        # return a partly contracted clustering (the 64-node path
        # came back as 63 clusters)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], ["doc_a", "doc_b"]
        )
        monkeypatch.setattr(dedup, "_DRIVER_FINISH_EDGES", 0)
        with pytest.raises(ValueError, match="no fixpoint after 1 star rounds"):
            dedup.dedup_clusters(pairs, max_iter=1)

    def test_max_iter_under_cap_is_exact(self, spark):
        # the same path under the default cap: the driver finish is
        # exact whatever max_iter allows
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], ["doc_a", "doc_b"]
        )
        out = dedup.dedup_clusters(pairs, max_iter=1).collect()
        assert len(out) == 64
        assert {r.cluster_id for r in out} == {0}

    def test_ngram_jaccard_sql_matches_dataframe_rendering(self, spark):
        # r13 advisor: pin the one-statement ngram_jaccard_pairs
        # against a reference built here from word_shingles + window +
        # size-ratio-pruned join, expressions mirrored from the docstring
        from pyspark.sql import Window

        register_dir(spark, SF)
        docs = spark.table("documents").filter(F.col("doc_id") < 400)
        k, t = 2, 0.2
        sh = dedup.word_shingles(docs, "doc_id", "text", k=k)
        sized = sh.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
        )
        a, b = sized.alias("a"), sized.alias("b")
        ref = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.n_sh") * t <= F.col("b.n_sh"))
                & (F.col("b.n_sh") * t <= F.col("a.n_sh")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count("*").alias("n_shared"))
            .select(
                F.col("doc_a").cast("long"),
                F.col("doc_b").cast("long"),
                (F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")))
                .cast("double").alias("jaccard"),
            )
            .where(F.col("jaccard") >= t)
        )
        new = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=k, threshold=t)
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_cosine_topk_sql_matches_dataframe_rendering(self, spark):
        # r13 advisor: same pin for the cosine_topk SQL rewrite
        from pyspark.sql import Window

        register_dir(spark, SF)
        emb = spark.table("embeddings")
        q = emb.filter(F.col("vec_id") < 10)

        def vecs(df, out_id):
            v = df.select(
                F.col("vec_id").alias(out_id),
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
                .alias(f"{out_id}_vec"),
            )
            return v.withColumn(
                f"{out_id}_norm",
                F.sqrt(F.aggregate(F.col(f"{out_id}_vec"), F.lit(0.0),
                                   lambda a2, x: a2 + x * x)),
            )

        qv, cv = vecs(q, "query_id"), vecs(emb, "neighbor_id")
        dot = F.aggregate(
            F.zip_with(F.col("query_id_vec"), F.col("neighbor_id_vec"),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        scored = cv.join(
            F.broadcast(qv), F.col("neighbor_id") != F.col("query_id")
        ).select(
            "query_id", "neighbor_id",
            (dot / (F.col("query_id_norm") * F.col("neighbor_id_norm")))
            .alias("cosine"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        ref = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select(F.col("query_id").cast("long"),
                    F.col("neighbor_id").cast("long"),
                    "cosine", F.col("rank").cast("int"))
        )
        new = similarity.cosine_topk(emb, q, k=5)
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_sql_renderings_accept_quoted_identifiers(self, spark):
        # r14 (r13 advisor): interpolated identifiers are backtick-
        # escaped, so column names needing quoting work like they do
        # under F.col(); braces are doubled so the names also survive
        # spark.sql's DataFrame-argument formatter
        register_dir(spark, SF)
        plain = spark.table("documents").filter(F.col("doc_id") < 300)
        want = sorted(
            map(tuple, dedup.minhash_lsh_pairs(plain, "doc_id", "text").collect())
        )
        want_sh = sorted(
            map(tuple, dedup.word_shingles(plain, "doc_id", "text").collect())
        )
        for id_name, text_name in (("doc id", "the text"), ("doc{id}", "te}x{t")):
            docs = plain.select(
                F.col("doc_id").alias(id_name), F.col("text").alias(text_name)
            )
            got = dedup.minhash_lsh_pairs(docs, id_name, text_name)
            assert sorted(map(tuple, got.collect())) == want
            sh = dedup.word_shingles(docs, id_name, text_name)
            assert sh.columns == [id_name, "shingle"]
            assert sorted(map(tuple, sh.collect())) == want_sh
        want_top = None
        for id_name, vec_name in (("vec id", "the embedding"), ("vec{id", "emb}")):
            emb = spark.table("embeddings").select(
                F.col("vec_id").alias(id_name),
                F.col("embedding").alias(vec_name),
            )
            out = similarity.cosine_topk(
                emb, emb.filter(F.col(id_name) < 5),
                id_col=id_name, vec_col=vec_name, k=3,
            )
            top = sorted(map(tuple, out.collect()))
            assert top
            assert want_top is None or top == want_top
            want_top = top
            cents = similarity.kmeans_centroids(
                emb, id_col=id_name, vec_col=vec_name, n_cells=4, iters=1
            )
            assert cents.count() == 4

    def test_pipeline_over_fixture(self, spark):
        register_dir(spark, SF)
        docs = spark.table("documents")
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
        out = dedup.dedup_clusters(pairs, docs=docs)
        # every doc appears exactly once
        assert out.count() == docs.count()
        assert out.select("doc_id").distinct().count() == docs.count()
        # cluster_id is always the min member (canonical invariant)
        bad = (
            out.groupBy("cluster_id")
            .agg(F.min("doc_id").alias("m"))
            .filter("cluster_id <> m")
            .count()
        )
        assert bad == 0


class TestIvfTopk:
    def test_recall_monotone_in_nprobe(self, spark):
        register_dir(spark, SF)
        emb = spark.table("embeddings")
        q = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk(emb, q, k=5).collect()
        }

        def recall(n_probe):
            got = {
                (r.query_id, r.neighbor_id)
                for r in similarity.ivf_topk(
                    emb, q, k=5, n_cells=8, n_probe=n_probe
                ).collect()
            }
            return len(exact & got) / len(exact)

        r2, r8 = recall(2), recall(8)
        assert r8 >= r2
        # probing ALL cells == exact search
        assert recall(8) == 1.0 or r8 > 0.9  # n_cells=8, probe 8 = exhaustive

    def test_full_probe_equals_exact(self, spark):
        register_dir(spark, SF)
        emb = spark.table("embeddings").filter(F.col("vec_id") < 100)
        q = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in similarity.cosine_topk(emb, q, k=3).collect()
        }
        got = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in similarity.ivf_topk(
                emb, q, k=3, n_cells=4, n_probe=4
            ).collect()
        }
        assert got == exact

    def test_deterministic(self, spark):
        register_dir(spark, SF)
        emb = spark.table("embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        a = similarity.ivf_topk(emb, q, k=3).collect()
        b = similarity.ivf_topk(emb, q, k=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestLlmCache:
    """cached_apply must pay the endpoint exactly once per distinct
    missing text — not twice per miss (cache write + caller consume) —
    and a cached NULL result must count as a hit."""

    def test_endpoint_paid_once_per_distinct_miss(self, spark, tmp_path):
        from dbt_icebreaker_spark.xops import llm

        calls_log = tmp_path / "calls.log"

        def counting_endpoint(task, payload):
            import pandas as pd
            with open(calls_log, "a") as f:
                for v in payload:
                    f.write(f"{v}\n")
            return payload.map(lambda t: None if t is None else f"r:{t}")

        llm.set_endpoint(counting_endpoint)
        try:
            cache_path = str(tmp_path / "cache")
            df = spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "a"), (4, None)], "id long, txt string"
            )
            out1 = llm.cached_apply(spark, df, "id", "txt", "complete", cache_path)
            rows1 = {r.id: r.complete_result for r in out1.collect()}
            assert rows1 == {1: "r:a", 2: "r:b", 3: "r:a", 4: None}
            n_calls_run1 = len(calls_log.read_text().splitlines())
            # 3 distinct texts (a, b, NULL) — consuming the result must
            # not have re-invoked the endpoint
            assert n_calls_run1 == 3

            # second run: everything (including the NULL result) is a hit
            out2 = llm.cached_apply(spark, df, "id", "txt", "complete", cache_path)
            assert {r.id: r.complete_result for r in out2.collect()} == rows1
            assert len(calls_log.read_text().splitlines()) == n_calls_run1
        finally:
            llm.set_endpoint(None)
    # noqa: set_endpoint(None) restores the stub via `_endpoint or _stub_endpoint`


class TestLshBucketCap:
    """Oversized LSH buckets (500 identical docs → one band key per
    band) must not materialize a giant member array; chain pairs keep
    the bucket connected with O(n) pairs instead of O(n^2)."""

    def test_degenerate_corpus_bounded(self, spark):
        docs = spark.createDataFrame(
            [(i, "the same exact boilerplate text repeated everywhere") for i in range(500)],
            "doc_id long, text string",
        )
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket_size=50
        )
        n_pairs = pairs.count()
        # chain mode: far below the 124,750 all-pairs blowup
        assert 0 < n_pairs < 5000
        # connectivity preserved: one component spanning all 500 docs
        clusters = dedup.dedup_clusters(pairs, docs, "doc_id")
        assert clusters.select("cluster_id").distinct().count() == 1
        assert clusters.count() == 500

    def test_small_buckets_still_exact(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "alpha beta gamma delta epsilon zeta"),
             (3, "totally different words entirely here now")],
            "doc_id long, text string",
        )
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
        assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


class TestMediaProbe:
    """Header parsing over all four supported container formats, built
    byte-by-byte from the published layouts — no media libs needed."""

    def test_png(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        raw = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", 800, 600)
        d = probe_bytes(raw)
        assert (d["format"], d["width"], d["height"], d["valid"]) == ("png", 800, 600, True)

    def test_gif(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        raw = b"GIF89a" + struct.pack("<HH", 320, 240)
        d = probe_bytes(raw)
        assert (d["format"], d["width"], d["height"], d["valid"]) == ("gif", 320, 240, True)

    def test_jpeg_sof_after_skippable_segment(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"xx"          # skippable APP0
        sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x03"
        d = probe_bytes(b"\xff\xd8" + app0 + sof0)
        assert (d["format"], d["width"], d["height"], d["valid"]) == ("jpeg", 640, 480, True)

    def test_wav(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        hdr = (
            b"RIFF" + struct.pack("<I", 36 + 88200) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
            + b"data" + struct.pack("<I", 88200)
        )
        d = probe_bytes(hdr)
        assert (d["format"], d["channels"], d["sample_rate"], d["valid"]) == ("wav", 2, 44100, True)
        assert abs(d["duration_s"] - 0.5) < 1e-9

    def test_malformed_never_raises(self):
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        for raw in (b"", b"\x89PNG", b"GIF89a", b"\xff\xd8\xff", b"RIFFxxxxWAVE"):
            d = probe_bytes(raw)
            assert d["valid"] is False

    def test_probe_media_roundtrip_on_spark(self, spark):
        from dbt_icebreaker_spark.xops import multimodal

        docs = spark.createDataFrame(
            [(i, f"doc {i} body text") for i in range(5)], "doc_id long, text string"
        )
        media = multimodal.synthesize_png_corpus(docs, "doc_id", "text")
        probed = multimodal.probe_media(media)
        rows = {r.media_id: r for r in probed.collect()}
        assert all(rows[i].format == "png" and rows[i].valid for i in range(5))
        assert rows[3].width == 3 % 640 + 16 and rows[3].height == 3 % 480 + 16

    def test_resize_rewrites_png_header(self, spark):
        import json

        from dbt_icebreaker_spark.xops import multimodal

        docs = spark.createDataFrame(
            [(i, f"payload body {i}") for i in range(4)], "doc_id long, text string"
        )
        media = multimodal.synthesize_png_corpus(docs, "doc_id", "text")
        resized = multimodal.resize_images(media, 320, 240)
        # the bytes themselves must carry the new dims — re-probe them
        probed = {r.media_id: r for r in multimodal.probe_media(resized).collect()}
        assert all(
            probed[i].width == 320 and probed[i].height == 240 and probed[i].valid
            for i in range(4)
        )
        meta = json.loads(resized.orderBy("media_id").first().meta_json)
        assert meta["resized"] is True and meta["src_width"] == 16

    def test_resize_non_png_passthrough(self, spark):
        import json

        from dbt_icebreaker_spark.xops import multimodal

        docs = spark.createDataFrame([(1, "not an image")], "doc_id long, text string")
        media = multimodal.attach_binary_column(docs, "doc_id", "text")
        out = multimodal.resize_images(media, 100, 100).collect()[0]
        assert bytes(out.payload) == b"not an image"
        assert json.loads(out.meta_json)["resized"] is False

    def test_sample_frames_shape_and_determinism(self, spark):
        from dbt_icebreaker_spark.xops import multimodal

        docs = spark.createDataFrame(
            [(1, "a" * 1000), (2, "b" * 100)], "doc_id long, text string"
        )
        media = multimodal.attach_binary_column(docs, "doc_id", "text")
        frames = multimodal.sample_frames(media, fps=2.0, max_frames=3, frame_bytes=256)
        rows = frames.collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r.media_id, []).append(r)
        # 1000 bytes / 256 → 3 frames (capped); 100 bytes → 1 frame
        assert len(by_id[1]) == 3 and len(by_id[2]) == 1
        f1 = sorted(by_id[1], key=lambda r: r.frame_idx)
        assert [r.ts_s for r in f1] == [0.0, 0.5, 1.0]
        assert bytes(f1[0].frame_payload) == b"a" * 256
        # deterministic across runs
        again = multimodal.sample_frames(
            media, fps=2.0, max_frames=3, frame_bytes=256
        ).collect()
        assert sorted((r.media_id, r.frame_idx) for r in again) == sorted(
            (r.media_id, r.frame_idx) for r in rows
        )

    def test_repartition_by_measured_bytes(self, spark):
        from dbt_icebreaker_spark.xops import multimodal

        docs = spark.createDataFrame(
            [(i, "x" * 1000) for i in range(100)], "doc_id long, text string"
        )
        media = multimodal.synthesize_png_corpus(docs, "doc_id", "text")
        # ~100 KB total at a 1 MB target → single partition
        out = multimodal.repartition_for_payloads(media, target_mb=1)
        assert out.rdd.getNumPartitions() == 1


class TestDecontaminate:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_flags_exact_ngram_overlap(self, spark):
        bench = self._df(spark, [(100, "alpha beta gamma delta epsilon")])
        corpus = self._df(
            spark,
            [
                (1, "x y alpha beta gamma delta epsilon z"),  # contains the 5-gram
                (2, "alpha beta gamma other words here now"),  # only a 3-gram overlap
            ],
        )
        out = dedup.ngram_decontaminate(corpus, bench, "doc_id", "text", n=5)
        got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
        assert got == {1: True, 2: False}

    def test_short_docs_never_flagged(self, spark):
        bench = self._df(spark, [(100, "a b c d e f g h")])
        corpus = self._df(spark, [(1, "a b c")])  # shorter than n
        out = dedup.ngram_decontaminate(corpus, bench, "doc_id", "text", n=8)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["contaminated"] is False

    def test_hit_count_is_distinct_grams(self, spark):
        # same gram appearing twice in the corpus doc counts once
        bench = self._df(spark, [(100, "p q r")])
        corpus = self._df(spark, [(1, "p q r p q r")])
        out = dedup.ngram_decontaminate(corpus, bench, "doc_id", "text", n=3)
        row = out.collect()[0]
        # corpus doc grams (distinct): "p q r", "q r p", "r p q" → 1 hit
        assert row["n_hit_grams"] == 1


class TestRepetitionStats:
    def test_degenerate_doc_scores_high(self, spark):
        from dbt_icebreaker_spark.xops import text as xtext

        df = spark.createDataFrame(
            [(1, "spam spam spam spam"), (2, "all words here differ")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in xtext.repetition_stats(df, "doc_id", "text").collect()}
        assert out[1]["dup_word_ratio"] == 0.75  # 4 words, 1 distinct
        assert out[1]["dup_2gram_ratio"] == 2 / 3  # 3 grams, 1 distinct
        assert out[1]["top_word_ratio"] == 1.0
        assert out[2]["dup_word_ratio"] == 0.0
        assert out[2]["dup_2gram_ratio"] == 0.0
        assert out[2]["top_word_ratio"] == 0.25

    def test_single_word_doc(self, spark):
        from dbt_icebreaker_spark.xops import text as xtext

        df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        row = xtext.repetition_stats(df, "doc_id", "text").collect()[0]
        assert row["n_words"] == 1
        assert row["dup_2gram_ratio"] == 0.0
        assert row["top_word_ratio"] == 1.0


class TestDomainMix:
    def test_uniform_downsamples_to_min(self, spark):
        from dbt_icebreaker_spark.xops.sampling import domain_mix

        rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, dom string")
        out = domain_mix(df, "doc_id", "dom")
        counts = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
        assert counts["small"] == 50  # rate 1.0 — kept in full
        # big is hash-thresholded at 50/400 = 12.5%; uniform hash → near 50
        assert 20 <= counts["big"] <= 90

    def test_weighted_target_tracks_proportions(self, spark):
        from dbt_icebreaker_spark.xops.sampling import domain_mix

        rows = [(i, "a") for i in range(600)] + [(2000 + i, "b") for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, dom string")
        out = domain_mix(df, "doc_id", "dom", target={"a": 0.5, "b": 0.5})
        counts = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
        # b is most constrained (0.5/200) → kept in full; a downsampled to ~200
        assert counts["b"] == 200
        assert 140 <= counts["a"] <= 260

    def test_membership_frozen_under_repartition(self, spark):
        from dbt_icebreaker_spark.xops.sampling import domain_mix

        rows = [(i, "a") for i in range(300)] + [(5000 + i, "b") for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, dom string")
        ids1 = sorted(r["doc_id"] for r in domain_mix(df, "doc_id", "dom").collect())
        ids2 = sorted(
            r["doc_id"] for r in domain_mix(df.repartition(13), "doc_id", "dom").collect()
        )
        assert ids1 == ids2


class TestJaccardEstimate:
    def test_identical_docs_score_one(self, spark):
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "alpha beta gamma delta epsilon zeta"),
                (3, "totally different words in this document here"),
            ],
            "doc_id long, text string",
        )
        out = dedup.minhash_jaccard_estimate(df, "doc_id", "text")
        rows = {(r["doc_a"], r["doc_b"]): r for r in out.collect()}
        assert (1, 2) in rows
        assert rows[(1, 2)]["est_jaccard"] == 1.0
        assert rows[(1, 2)]["exact_jaccard"] == 1.0

    def test_estimate_within_sketch_error(self, spark):
        # half-overlapping docs: exact jaccard is known; the 8-hash
        # estimate must land within the coarse sketch grid (multiples
        # of 1/8) and not be degenerate
        a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        b = "w1 w2 w3 w4 w5 w6 x7 x8 x9 x10"
        df = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        out = dedup.minhash_jaccard_estimate(df, "doc_id", "text").collect()
        if out:  # pair only exists if LSH banding catches it
            r = out[0]
            assert 0.0 <= r["est_jaccard"] <= 1.0
            assert abs(r["est_jaccard"] * 8 - round(r["est_jaccard"] * 8)) < 1e-9
            assert 0.0 < r["exact_jaccard"] < 1.0

    def test_leaves_no_cached_intermediates(self, spark):
        # the shingle/signature intermediates are lazy local
        # checkpoints, not persist(): nothing stays in the
        # CacheManager to outlive the call or serve a later plan
        register_dir(spark, SF)
        spark.catalog.clearCache()
        docs = spark.table("documents").filter(F.col("doc_id") < 300)
        assert dedup.minhash_jaccard_estimate(docs, "doc_id", "text").collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestProfile:
    def test_known_percentiles(self, spark):
        from dbt_icebreaker_spark.xops.profile import profile_numeric

        df = spark.createDataFrame(
            [("a", v) for v in (1, 2, 3, 4, 5)] + [("b", 10)],
            "grp string, v long",
        )
        out = {r["stratum"]: r for r in profile_numeric(df, "grp", "v").collect()}
        assert out["a"]["n"] == 5
        assert out["a"]["p50"] == 3.0
        assert out["a"]["min_v"] == 1 and out["a"]["max_v"] == 5
        assert out["b"]["p50"] == 10.0
        assert out["b"]["avg_v"] == 10.0


class TestScrubPii:
    def test_scrub_counts_and_tokens(self, spark):
        from dbt_icebreaker_spark.xops.text import scrub_pii

        df = spark.createDataFrame(
            [
                (1, "mail a@b.io and c.d+e@sub.example.co.uk now"),
                (2, "see https://a.b/c?d=e#f and http://x.y end"),
                (3, "url with userinfo https://u:p@host.com/path plus w@z.org"),
                (4, "clean document"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in scrub_pii(df, "doc_id", "text").collect()}
        assert (out[1]["n_emails"], out[1]["n_urls"]) == (2, 0)
        assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> now"
        assert (out[2]["n_emails"], out[2]["n_urls"]) == (0, 2)
        # userinfo URL scrubbed as URL, not half-eaten as an email
        assert (out[3]["n_emails"], out[3]["n_urls"]) == (1, 1)
        assert out[3]["clean_text"] == "url with userinfo <URL> plus <EMAIL>"
        assert (out[4]["n_emails"], out[4]["n_urls"]) == (0, 0)
        assert out[4]["clean_text"] == "clean document"

    def test_approx_variant_close_to_exact(self, spark):
        from dbt_icebreaker_spark.xops.profile import profile_numeric

        df = spark.createDataFrame([("a", float(v)) for v in range(1000)], "grp string, v double")
        exact = profile_numeric(df, "grp", "v").collect()[0]
        approx = profile_numeric(df, "grp", "v", approx=True).collect()[0]
        assert abs(exact["p50"] - approx["p50"]) <= 10  # t-digest tolerance
        assert exact["n"] == approx["n"]


class TestIncrementalDedup:
    def _run(self, spark, broadcast_delta=True):
        corpus = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog tonight")],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                # near-copy of corpus doc 100 → dropped vs corpus
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "completely different words about spark distributed engines here"),
                # copy of doc 2 → dropped by the in-batch keep-first rule
                (3, "completely different words about spark distributed engines here"),
                (4, "yet another unique document with its own vocabulary tokens"),
            ],
            ["doc_id", "text"],
        )
        sigs = dedup.minhash_signatures(corpus, "doc_id", "text")
        return dedup.incremental_lsh_dedup(
            batch, sigs, "doc_id", "text", broadcast_delta=broadcast_delta
        )

    def test_drops_vs_corpus_and_within_batch(self, spark):
        kept, kept_sigs = self._run(spark)
        assert {r.doc_id for r in kept.collect()} == {2, 4}
        # returned signatures cover exactly the survivors (the store
        # append for the next increment)
        assert {r.doc_id for r in kept_sigs.collect()} == {2, 4}

    def test_shuffled_fallback_same_result(self, spark):
        kept, _sigs = self._run(spark, broadcast_delta=False)
        assert {r.doc_id for r in kept.collect()} == {2, 4}

    def test_corpus_side_not_shuffled(self, spark):
        # the whole point at scale: the existing corpus' signature
        # table must reach its join as a scan, not through an Exchange
        kept, _sigs = self._run(spark, broadcast_delta=True)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_no_shingle_docs_kept(self, spark):
        # < shingle_k words → no signature → nothing to match on →
        # conservatively kept (both here and in the SQL oracle)
        corpus = spark.createDataFrame(
            [(9, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
        )
        batch = spark.createDataFrame([(1, "tiny doc")], ["doc_id", "text"])
        sigs = dedup.minhash_signatures(corpus, "doc_id", "text")
        kept, _ = dedup.incremental_lsh_dedup(batch, sigs, "doc_id", "text")
        assert [r.doc_id for r in kept.collect()] == [1]


class TestChunkDocuments:
    def test_short_doc_single_chunk(self, spark):
        from dbt_icebreaker_spark.xops.text import chunk_documents

        df = spark.createDataFrame([(1, "tiny"), (2, "")], ["doc_id", "text"])
        rows = chunk_documents(df, "doc_id", "text", size=100, overlap=10).collect()
        assert {(r.doc_id, r.chunk_idx, r.char_start) for r in rows} == {
            (1, 0, 0), (2, 0, 0)
        }
        assert {r.chunk_text for r in rows} == {"tiny", ""}

    def test_overlap_and_coverage(self, spark):
        from dbt_icebreaker_spark.xops.text import chunk_documents

        text = "abcdefghij" * 10  # 100 chars
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        rows = sorted(
            chunk_documents(df, "doc_id", "text", size=40, overlap=10).collect(),
            key=lambda r: r.chunk_idx,
        )
        # step 30: chunks at 0,30,60,90 → ceil((100-10)/30)=3 → 0,30,60
        assert [r.char_start for r in rows] == [0, 30, 60]
        # consecutive chunks share exactly `overlap` chars
        for a, b in zip(rows, rows[1:]):
            assert a.chunk_text[-10:] == b.chunk_text[:10]
        # chunks cover the full text
        assert rows[-1].char_start + len(rows[-1].chunk_text) == 100

    def test_overlap_ge_size_raises(self, spark):
        from dbt_icebreaker_spark.xops.text import chunk_documents

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        import pytest as _pytest

        with _pytest.raises(ValueError):
            chunk_documents(df, "doc_id", "text", size=10, overlap=10)


class TestEpochShuffle:
    def test_deterministic_and_epoch_independent(self, spark):
        from dbt_icebreaker_spark.xops.sampling import epoch_shuffle

        df = spark.range(200).withColumnRenamed("id", "doc_id")
        o0 = [r.doc_id for r in epoch_shuffle(df, "doc_id", epoch=0).collect()]
        o0b = [r.doc_id for r in epoch_shuffle(df, "doc_id", epoch=0).collect()]
        o1 = [r.doc_id for r in epoch_shuffle(df, "doc_id", epoch=1).collect()]
        assert o0 == o0b  # reproducible
        assert sorted(o0) == sorted(o1) == list(range(200))  # permutations
        assert o0 != o1  # epochs differ
        # not a rotation of each other (the mix round's whole point)
        i = o1.index(o0[0])
        assert o1[i:] + o1[:i] != o0

    def test_no_single_partition_funnel(self, spark):
        from dbt_icebreaker_spark.xops.sampling import epoch_shuffle

        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        plan = (
            epoch_shuffle(df, "doc_id", epoch=0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # distributed range sort, not a Window over one partition
        assert "rangepartitioning" in plan.lower()
        assert "Window" not in plan


class TestTopNgrams:
    def test_counts_every_occurrence(self, spark):
        from dbt_icebreaker_spark.xops.text import top_ngrams

        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "a b c")], ["doc_id", "text"]
        )
        rows = {r.ngram: (r.n_docs, r.occurrences) for r in
                top_ngrams(df, "doc_id", "text", n=2, k=10).collect()}
        assert rows["a b"] == (2, 4)   # 3 in doc1 + 1 in doc2
        assert rows["b a"] == (1, 2)
        assert rows["b c"] == (1, 1)

    def test_short_docs_dropped(self, spark):
        from dbt_icebreaker_spark.xops.text import top_ngrams

        df = spark.createDataFrame([(1, "solo"), (2, "")], ["doc_id", "text"])
        assert top_ngrams(df, "doc_id", "text", n=2, k=10).count() == 0


class TestHashSampleLargeIds:
    def test_no_overflow_on_monotonic_ids(self, spark):
        """Ids beyond partition 0 of monotonically_increasing_id are
        >= 2^33 — the raw multiplicative hash overflowed signed 64-bit
        there (ARITHMETIC_OVERFLOW under default ANSI mode)."""
        from pyspark.sql import functions as F
        from dbt_icebreaker_spark.xops.sampling import (
            epoch_shuffle, hash_sample, train_val_test_split,
        )

        big = spark.createDataFrame(
            [(8589934592,), (2**40 + 17,), (2**62,)], ["doc_id"]
        )
        assert hash_sample(big, "doc_id", 1.0).count() == 3
        assert train_val_test_split(big, "doc_id").count() == 3
        assert epoch_shuffle(big, "doc_id", epoch=2).count() == 3

    def test_membership_unchanged_below_2_31(self, spark):
        """The mod-2^31-1 reduction is the identity for small ids, so
        the oracled membership contract is untouched."""
        from dbt_icebreaker_spark.xops.sampling import hash01
        from pyspark.sql import functions as F

        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        raw = df.select(
            (F.pmod(F.col("doc_id") * 2654435761, F.lit(4294967296))
             / 4294967296.0).alias("a"),
            hash01("doc_id").alias("b"),
        )
        assert raw.filter(F.col("a") != F.col("b")).count() == 0


class TestAsofSubsecondTolerance:
    def test_fractional_gap_respected(self, spark):
        import datetime as dt
        from dbt_icebreaker_spark.xops.temporal import asof_join

        t0 = dt.datetime(2026, 1, 1, 10, 0, 0, 100000)   # right: .1s
        t1 = dt.datetime(2026, 1, 1, 10, 0, 1, 900000)   # left: 1.9s → gap 1.8s
        t2 = dt.datetime(2026, 1, 1, 10, 0, 0, 900000)   # left: .9s → gap 0.8s
        left = spark.createDataFrame(
            [(1, t1, "a"), (1, t2, "b")], ["k", "ts", "tag"]
        )
        right = spark.createDataFrame([(1, t0, 5.0)], ["k", "ts", "v"])
        out = {
            r.tag: r.v_r
            for r in asof_join(
                left, right, on="k", tolerance_seconds=1.0
            ).collect()
        }
        # 1.8s gap: unix_timestamp flooring used to KEEP this match
        assert out["a"] is None
        # 0.8s gap is genuinely inside the 1.0s window
        assert out["b"] == 5.0


class TestProbeRobustness:
    def test_jpeg_fill_bytes_and_rst_markers(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        # SOI + fill 0xFF padding + APP0 segment + standalone TEM +
        # SOF0 (h=7, w=9) — legal per spec, broke the fixed scanner
        app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 7, 9) + b"\x01\x00\x00\x00"
        raw = b"\xff\xd8" + b"\xff" + app0 + b"\xff\x01" + sof
        out = probe_bytes(raw)
        assert (out["format"], out["width"], out["height"], out["valid"]) == ("jpeg", 9, 7, True)

    def test_jpeg_sof_at_buffer_end(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        sof = b"\xff\xc2" + struct.pack(">H", 7) + b"\x08" + struct.pack(">HH", 3, 4)
        raw = b"\xff\xd8" + sof  # SOF read ends exactly at len(raw)
        out = probe_bytes(raw)
        assert (out["width"], out["height"], out["valid"]) == (4, 3, True)

    def test_wav_with_list_chunk_before_data(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
            "<HHIIHH", 1, 2, 44100, 176400, 4, 16
        )
        lst = b"LIST" + struct.pack("<I", 10) + b"INFOxxxxxx"
        data = b"data" + struct.pack("<I", 176400) + b""
        raw = b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(lst) + len(data)) + b"WAVE" + fmt + lst + data
        out = probe_bytes(raw)
        assert out["valid"] is True
        assert (out["channels"], out["sample_rate"]) == (2, 44100)
        assert abs(out["duration_s"] - 1.0) < 1e-9

    def test_wav_missing_data_chunk_not_valid(self):
        import struct
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        fmt = b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        raw = b"RIFF" + struct.pack("<I", 4 + len(fmt)) + b"WAVE" + fmt
        out = probe_bytes(raw)
        assert out["format"] == "wav" and out["valid"] is False


class TestGlobalPosition:
    def test_positions_match_naive_row_number(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from dbt_icebreaker_spark.xops.sampling import with_global_position

        df = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.pmod(F.col("id") * 37, F.lit(101)).alias("key"),
        )
        got = {
            r.doc_id: r.position
            for r in with_global_position(df, ["key", "doc_id"]).collect()
        }
        naive = {
            r.doc_id: r.rn - 1
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("key", "doc_id"))
            ).collect()
        }
        assert got == naive

    def test_no_global_single_partition_window(self, spark):
        from dbt_icebreaker_spark.xops.sampling import with_global_position

        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        out = with_global_position(df, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # no windowspec over the data at all (the local index is a
        # partition-preserving Arrow pass); only the tiny counts
        # branch may window (over partition ids)
        assert "__pid" not in out.columns
        assert plan.lower().count("rangepartitioning") <= 1

    def test_correct_without_exchange_reuse(self, spark):
        """Range boundaries are SAMPLED: if the two consumers of the
        ranged frame re-evaluated the exchange independently, their
        partitionings could disagree and positions would duplicate.
        The localCheckpoint pins one materialization — verify with
        exchange reuse disabled (the failure mode a review reproduced
        on the unpinned plan: ~1.94M of 2M positions wrong)."""
        from pyspark.sql import functions as F
        from dbt_icebreaker_spark.xops.sampling import with_global_position

        old = spark.conf.get("spark.sql.exchange.reuse", "true")
        spark.conf.set("spark.sql.exchange.reuse", "false")
        try:
            df = spark.range(200_000).repartition(8).withColumnRenamed(
                "id", "doc_id"
            )
            out = with_global_position(df, "doc_id")
            n = out.count()
            nd = out.select("position").distinct().count()
            mx = out.agg(F.max("position")).collect()[0][0]
            assert (n, nd, mx) == (200_000, 200_000, 199_999)
        finally:
            spark.conf.set("spark.sql.exchange.reuse", old)


class TestChunkNullText:
    def test_null_text_doc_not_dropped(self, spark):
        from dbt_icebreaker_spark.xops.text import chunk_documents

        df = spark.createDataFrame([(1, None), (2, "ok")], ["doc_id", "text"])
        rows = sorted(
            chunk_documents(df, "doc_id", "text", size=10, overlap=2).collect(),
            key=lambda r: r.doc_id,
        )
        assert [(r.doc_id, r.chunk_idx, r.chunk_text) for r in rows] == [
            (1, 0, None), (2, 0, "ok"),
        ]


class TestSplitPack:
    """GPT-style pack-with-splitting invariants."""

    def test_sequences_exactly_full_and_docs_tiled(self, spark):
        from pyspark.sql import functions as F
        from dbt_icebreaker_spark.xops.text import split_pack, token_spans

        texts = [
            (0, "a b c"), (1, ""), (2, " ".join(f"w{i}" for i in range(17))),
            (3, "x"), (4, " ".join("y" for _ in range(9))),
        ]
        df = spark.createDataFrame(texts, ["doc_id", "text"])
        L = 8
        out = split_pack(df, "doc_id", "text", seq_len=L).collect()

        # every sequence except the last carries exactly L tokens
        per_seq = {}
        for r in out:
            per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + (r.slice_end - r.slice_start)
        last = max(per_seq)
        for sid, tok in per_seq.items():
            assert tok == L or sid == last
        total = 3 + 0 + 17 + 1 + 9
        assert sum(per_seq.values()) == total
        assert sorted(per_seq) == list(range(len(per_seq)))

        # each doc's slices tile [0, n_tokens) without gaps/overlap
        spans = {r.doc_id: r.n_tokens for r in token_spans(df, "doc_id", "text").collect()}
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append((r.slice_start, r.slice_end))
        assert 1 not in by_doc  # empty doc yields no rows
        for doc_id, slices in by_doc.items():
            slices.sort()
            assert slices[0][0] == 0
            assert slices[-1][1] == spans[doc_id]
            for (a, b), (c, d) in zip(slices, slices[1:]):
                assert b == c

    def test_token_spans_are_exclusive_prefix(self, spark):
        from dbt_icebreaker_spark.xops.text import token_spans

        df = spark.createDataFrame(
            [(i, " ".join("t" for _ in range(i + 1))) for i in range(50)],
            ["doc_id", "text"],
        )
        rows = sorted(token_spans(df, "doc_id", "text").collect(),
                      key=lambda r: r.doc_id)
        run = 0
        for r in rows:
            assert r.tok_start == run
            run += r.n_tokens


class TestChunkTokens:
    def test_token_chunks_tile_with_overlap(self, spark):
        from dbt_icebreaker_spark.xops.text import chunk_documents_tokens

        words = [f"w{i}" for i in range(100)]
        df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
        rows = sorted(
            chunk_documents_tokens(df, "doc_id", "text", size=40, overlap=10).collect(),
            key=lambda r: r.chunk_idx,
        )
        # step 30, ceil((100-10)/30)=3 chunks at 0/30/60
        assert [r.tok_start for r in rows] == [0, 30, 60]
        for r in rows[:-1]:
            assert len(r.chunk_text.split()) == 40
        # overlap: each chunk's last 10 tokens = next chunk's first 10
        for a, b in zip(rows, rows[1:]):
            assert a.chunk_text.split()[-10:] == b.chunk_text.split()[:10]
        # full coverage
        assert rows[-1].chunk_text.split()[-1] == "w99"

    def test_short_and_empty_docs(self, spark):
        from dbt_icebreaker_spark.xops.text import chunk_documents_tokens

        df = spark.createDataFrame([(1, "a b"), (2, "")], ["doc_id", "text"])
        rows = {r.doc_id: r.chunk_text for r in
                chunk_documents_tokens(df, "doc_id", "text", size=10, overlap=2).collect()}
        assert rows == {1: "a b", 2: ""}


class TestAsofTieDeterminism:
    def test_duplicate_right_timestamps_pick_greatest_payload(self, spark):
        import datetime as dt
        from dbt_icebreaker_spark.xops.temporal import asof_join

        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
        left = spark.createDataFrame([(1, t0, "L")], "k long, ts timestamp, tag string")
        right = spark.createDataFrame(
            [(1, t0, 22.0), (1, t0, 31.0), (1, t0, 5.0)],
            "k long, ts timestamp, rv double",
        )
        vals = set()
        for parts in (1, 3, 7):
            out = asof_join(left, right.repartition(parts), on="k").collect()
            vals.add(out[0].rv_r)
        # deterministic across partitionings, and the documented rule:
        # greatest payload wins the tie
        assert vals == {31.0}


class TestFilterCorpus:
    def test_rule_flags_and_keep(self, spark):
        from dbt_icebreaker_spark.xops.text import filter_corpus, filter_report

        rows = [
            (1, "the cat sat on the mat and it is a fine day for all of us"),
            (2, "tiny"),                                  # fails min_words
            (3, "spam " * 40),                            # fails repetition+stopword
            (4, "x y z " * 10),                           # short words, no stopwords
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        flags = {r.doc_id: r for r in filter_corpus(df, "doc_id", "text").collect()}
        assert flags[1].keep
        assert not flags[2].pass_min_words and not flags[2].keep
        assert not flags[3].pass_repetition and not flags[3].keep
        assert not flags[4].pass_stopword and not flags[4].keep
        rep = filter_report(filter_corpus(df, "doc_id", "text")).collect()[0]
        assert rep.n_docs == 4 and rep.n_kept == 1
        assert rep.fail_min_words == 1

    def test_empty_text_does_not_null_out(self, spark):
        from dbt_icebreaker_spark.xops.text import filter_corpus

        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        r = filter_corpus(df, "doc_id", "text").collect()[0]
        assert r.keep is False  # fails min_words, but never NULL


class TestCommonShingles:
    def test_boilerplate_ratio(self, spark):
        from dbt_icebreaker_spark.xops.dedup import common_shingle_stats

        boiler = "all rights reserved contact us today"
        rows = [(i, f"unique text number {i} beta gamma {boiler}") for i in range(6)]
        rows.append((99, "completely different content with no shared grams at all x"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in
               common_shingle_stats(df, "doc_id", "text", k=3, min_df=5).collect()}
        # the boilerplate tail appears in 6 docs -> common for them
        assert out[0].n_common >= 4 and out[0].common_ratio > 0.3
        assert out[99].n_common == 0 and out[99].common_ratio == 0.0


class TestSemanticDedup:
    def test_single_cell_matches_bruteforce(self, spark):
        """With one cell, SemDeDup must equal the brute-force rule:
        drop iff some smaller-id vector has cosine >= threshold."""
        register_dir(spark, SF)
        emb = spark.table("embeddings").filter("vec_id < 120")
        th = 0.35
        sem = {
            r.vec_id: r.keep
            for r in similarity.semantic_dedup(
                emb, "vec_id", "embedding", threshold=th, n_cells=1, iters=0
            ).collect()
        }
        pairs = dedup.embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=th
        ).collect()
        brute_dropped = {max(p.vec_a, p.vec_b) for p in pairs}
        ids = [r.vec_id for r in emb.select("vec_id").collect()]
        assert sem == {i: i not in brute_dropped for i in ids}

    def test_neardup_width_probe_launches_no_job(self, spark):
        # the repartition gate of embedding_neardup_pairs must not
        # plan the input physically: on a broadcast-joined input an
        # .rdd partition probe fires the broadcast job at build time
        register_dir(spark, SF)
        emb = spark.table("embeddings")
        keep = F.broadcast(emb.filter("vec_id < 100").select("vec_id"))
        composed = emb.join(keep, "vec_id")
        sc = spark.sparkContext
        group = "neardup-probe-test"
        sc.setJobGroup(group, "neardup build then count")
        try:
            pairs = dedup.embedding_neardup_pairs(
                composed, "vec_id", "embedding", threshold=0.35
            )
            build_jobs = sc.statusTracker().getJobIdsForGroup(group)
            pairs.count()
            all_jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert build_jobs == []
        assert all_jobs  # the group does see this op's jobs once it runs

    def test_deterministic_across_partitionings(self, spark):
        register_dir(spark, SF)
        emb = spark.table("embeddings").filter("vec_id < 200")
        outs = []
        for parts in (1, 5):
            r = similarity.semantic_dedup(
                emb.repartition(parts), "vec_id", "embedding",
                threshold=0.35, n_cells=4, iters=2,
            )
            outs.append(sorted((x.vec_id, x.cell, x.keep) for x in r.collect()))
        assert outs[0] == outs[1]


class TestRemoveDuplicateSpans:
    def test_boilerplate_cut_unique_kept(self, spark):
        from dbt_icebreaker_spark.xops.dedup import remove_duplicate_spans

        boiler = "all rights reserved contact us"
        rows = [(i, f"doc{i} unique words here {boiler}") for i in range(5)]
        rows.append((99, "nothing shared in this one at all whatsoever today"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in
               remove_duplicate_spans(df, "doc_id", "text", k=3, min_df=5).collect()}
        # the shared tail is gone; doc-specific head survives
        assert "rights" not in out[0].cleaned_text
        assert out[0].cleaned_text.startswith("doc0")
        assert out[0].n_removed > 0
        # untouched doc passes through byte-identical
        assert out[99].cleaned_text == rows[-1][1] and out[99].n_removed == 0

    def test_short_docs_pass_through(self, spark):
        from dbt_icebreaker_spark.xops.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a b"), (5, "a b")],
            "doc_id long, text string",
        )
        out = remove_duplicate_spans(df, "doc_id", "text", k=3, min_df=5).collect()
        # shorter than k -> no grams -> nothing removable
        assert all(r.n_removed == 0 and r.cleaned_text == "a b" for r in out)

    def test_overlapping_spans_merge(self, spark):
        from dbt_icebreaker_spark.xops.dedup import remove_duplicate_spans

        shared = "p q r s t"  # 3 overlapping 3-grams -> one merged cover
        rows = [(i, f"u{i} {shared}") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = remove_duplicate_spans(df, "doc_id", "text", k=3, min_df=5).collect()
        for r in out:
            # covered positions merge: exactly the 5 shared words removed
            assert r.n_removed == 5
            assert r.cleaned_text == f"u{r.doc_id}"


class TestShardedDataset:
    def test_write_verify_roundtrip(self, spark, tmp_path):
        from dbt_icebreaker_spark.xops.dataset import (
            verify_dataset, write_sharded_dataset,
        )

        register_dir(spark, SF)
        docs = spark.table("documents").select("doc_id", "text")
        path = str(tmp_path / "ds")
        manifest = write_sharded_dataset(docs, path, "doc_id", "text", n_shards=4)
        assert manifest["total_rows"] == docs.count()
        assert len(manifest["shards"]) == 4
        report = verify_dataset(spark, path)
        assert report["ok"], report

    def test_rerun_reproduces_manifest(self, spark, tmp_path):
        from dbt_icebreaker_spark.xops.dataset import write_sharded_dataset

        register_dir(spark, SF)
        docs = spark.table("documents").select("doc_id", "text")
        m1 = write_sharded_dataset(
            docs, str(tmp_path / "a"), "doc_id", "text", n_shards=4
        )
        # different partitioning in, same shards + hashes out
        m2 = write_sharded_dataset(
            docs.repartition(7), str(tmp_path / "b"), "doc_id", "text", n_shards=4
        )
        assert m1["shards"] == m2["shards"]

    def test_tamper_detected(self, spark, tmp_path):
        import glob, os
        from dbt_icebreaker_spark.xops.dataset import (
            verify_dataset, write_sharded_dataset,
        )

        register_dir(spark, SF)
        docs = spark.table("documents").select("doc_id", "text")
        path = str(tmp_path / "ds2")
        write_sharded_dataset(docs, path, "doc_id", "text", n_shards=4)
        # drop one shard's data file
        victim = glob.glob(f"{path}/shard=0/*.parquet")[0]
        os.remove(victim)
        report = verify_dataset(spark, path)
        assert not report["ok"]
        assert "0" in report["mismatches"] or "0" in report["missing"]


class TestTokenWeightedMix:
    def test_weighted_mix_tracks_token_target(self, spark):
        from dbt_icebreaker_spark.xops.sampling import domain_mix

        # domain a: 400 docs x 10 tokens; domain b: 100 docs x 100
        # tokens -> b holds 4000/10000 tokens despite 1/5 of the rows
        rows = [(i, "a", 10) for i in range(400)]
        rows += [(1000 + i, "b", 100) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, dom string, n_tok long")
        out = domain_mix(
            df, "doc_id", "dom", target={"a": 0.5, "b": 0.5},
            weight_col="n_tok",
        )
        got = {
            r.dom: r.tok
            for r in out.groupBy("dom").agg(F.sum("n_tok").alias("tok")).collect()
        }
        total = sum(got.values())
        # realized token share within sampling noise of 50/50
        assert abs(got["a"] / total - 0.5) < 0.12, got
        # row-count mix (weight_col=None) would instead keep b tiny:
        rows_out = domain_mix(df, "doc_id", "dom", target={"a": 0.5, "b": 0.5})
        rows_got = {
            r.dom: r.n for r in
            rows_out.groupBy("dom").agg(F.count("*").alias("n")).collect()
        }
        row_total = sum(rows_got.values())
        assert abs(rows_got["a"] / row_total - 0.5) < 0.12

    def test_weighted_deterministic(self, spark):
        from dbt_icebreaker_spark.xops.sampling import domain_mix

        rows = [(i, "a" if i % 3 else "b", (i % 7) + 1) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, dom string, n_tok long")
        a = sorted(r.doc_id for r in domain_mix(
            df, "doc_id", "dom", target={"a": 0.7, "b": 0.3}, weight_col="n_tok"
        ).collect())
        b = sorted(r.doc_id for r in domain_mix(
            df.repartition(11), "doc_id", "dom",
            target={"a": 0.7, "b": 0.3}, weight_col="n_tok",
        ).collect())
        assert a == b


class TestSplitLeakage:
    def test_planted_leak_found(self, spark):
        from dbt_icebreaker_spark.xops.dedup import split_leakage

        base = "alpha beta gamma delta epsilon zeta eta theta iota"
        rows = [
            (1, "train", base + " one"),
            (2, "train", "totally different words with no overlap at all here"),
            (3, "val", base + " two"),          # shares an 8-gram with doc 1
            (4, "val", "unique val content nothing shared with training data x"),
            (5, "test", "another unrelated holdout document entirely its own y"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, split string, text string")
        out = {r.split: r for r in
               split_leakage(df, "doc_id", "text", n=8).collect()}
        assert out["val"].n_docs == 2 and out["val"].n_leaked == 1
        assert out["test"].n_docs == 1 and out["test"].n_leaked == 0
        assert abs(out["val"].leak_ratio - 0.5) < 1e-9


class TestWeightedSample:
    """Efraimidis–Spirakis weighted sampling (xops/sampling.weighted_sample):
    determinism under repartitioning, prefilter ≡ exact path, weight
    monotonicity in aggregate, and non-positive-weight exclusion."""

    def _docs(self, spark, n=600):
        from pyspark.sql import functions as F
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                # weights 1..6, deterministic
                (F.col("id") % 6 + 1).cast("long").alias("w"),
            )
        )

    def test_deterministic_under_repartition(self, spark):
        from dbt_icebreaker_spark.xops.sampling import weighted_sample
        df = self._docs(spark)
        a = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 50).collect()}
        b = {
            r.doc_id
            for r in weighted_sample(df.repartition(13), "doc_id", "w", 50).collect()
        }
        assert a == b and len(a) == 50

    def test_prefilter_matches_exact(self, spark):
        from dbt_icebreaker_spark.xops.sampling import weighted_sample
        df = self._docs(spark)
        fast = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 40, prefilter=True).collect()}
        exact = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 40, prefilter=False).collect()}
        assert fast == exact

    def test_weight_monotonicity(self, spark):
        # heavier rows must be overrepresented: mean weight of the
        # sample strictly above the population mean (weights 1..6,
        # population mean 3.5; ES with w up to 6x lifts it well clear)
        from pyspark.sql import functions as F
        from dbt_icebreaker_spark.xops.sampling import weighted_sample
        df = self._docs(spark, n=1200)
        samp = weighted_sample(df, "doc_id", "w", 200)
        mean_w = samp.agg(F.avg("w")).collect()[0][0]
        assert mean_w > 3.8

    def test_nonpositive_weights_excluded(self, spark):
        from pyspark.sql import functions as F
        from dbt_icebreaker_spark.xops.sampling import weighted_sample
        df = self._docs(spark).withColumn(
            "w",
            F.when(F.col("doc_id") % 3 == 0, F.lit(None))
            .when(F.col("doc_id") % 3 == 1, F.lit(0))
            .otherwise(F.col("w")),
        )
        out = weighted_sample(df, "doc_id", "w", 100).collect()
        assert all(r.doc_id % 3 == 2 for r in out) and len(out) == 100

    def test_k_larger_than_population(self, spark):
        from dbt_icebreaker_spark.xops.sampling import weighted_sample
        df = self._docs(spark, n=30)
        assert weighted_sample(df, "doc_id", "w", 100).count() == 30


class TestLmScore:
    """Bigram LM fluency scoring (xops/text.lm_score)."""

    def test_gibberish_scores_lower(self, spark):
        from dbt_icebreaker_spark.xops.text import lm_score
        rows = [(i, "the cat sat on the mat and the dog sat on the rug") for i in range(20)]
        rows.append((99, "zqx vbn qwk jxp zzv mml qqp wvx bnz kjq"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.lm_logprob for r in lm_score(df, "doc_id", "text").collect()}
        fluent = out[0]
        assert out[99] < fluent  # unseen bigrams → far lower log-prob

    def test_short_docs_null_score(self, spark):
        from dbt_icebreaker_spark.xops.text import lm_score
        df = spark.createDataFrame(
            [(1, "hello"), (2, ""), (3, "a b")], "doc_id long, text string"
        )
        got = {r.doc_id: (r.n_bigrams, r.lm_logprob) for r in lm_score(df, "doc_id", "text").collect()}
        assert got[1] == (0, None) and got[2] == (0, None)
        assert got[3][0] == 1 and got[3][1] is not None

    def test_reference_model_scoring(self, spark):
        # scoring against a clean reference corpus: a doc made of
        # reference bigrams outscores one made of unseen words
        from dbt_icebreaker_spark.xops.text import lm_score
        ref = spark.createDataFrame(
            [(i, "good clean text flows well") for i in range(10)],
            "doc_id long, text string",
        )
        target = spark.createDataFrame(
            [(1, "good clean text"), (2, "xxqq yyzz wwvv")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.lm_logprob for r in lm_score(target, "doc_id", "text", model_df=ref).collect()}
        assert out[1] > out[2]


class TestMp4Probe:
    """ISO-BMFF box-walk probing (spec layouts synthesized in the test
    — no media libs needed)."""

    @staticmethod
    def _box(typ: bytes, payload: bytes) -> bytes:
        import struct
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def _mp4(self, version=0, timescale=1000, duration=2500, w=640, h=360):
        import struct
        B = self._box
        if version == 1:
            mvhd = b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(
                ">IQ", timescale, duration)
            tk_pre = 88
        else:
            mvhd = b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(
                ">II", timescale, duration)
            tk_pre = 76
        tkhd_ver = b"\x01" if version == 1 else b"\x00"
        tkhd = tkhd_ver + b"\x00" * (tk_pre - 1) + struct.pack(
            ">II", w << 16, h << 16)
        moov = B(b"mvhd", mvhd) + B(b"trak", B(b"tkhd", tkhd))
        return B(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + B(b"moov", moov)

    def test_mp4_v0(self):
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes
        out = probe_bytes(self._mp4())
        assert out["format"] == "mp4" and out["valid"]
        assert abs(out["duration_s"] - 2.5) < 1e-9
        assert (out["width"], out["height"]) == (640, 360)

    def test_mp4_v1_64bit(self):
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes
        out = probe_bytes(self._mp4(version=1, timescale=600, duration=1800,
                                    w=1920, h=1080))
        assert out["format"] == "mp4" and out["valid"]
        assert abs(out["duration_s"] - 3.0) < 1e-9
        assert (out["width"], out["height"]) == (1920, 1080)

    def test_truncated_mp4_never_raises(self):
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes
        raw = self._mp4()
        for cut in (9, 15, 20, 40, len(raw) - 3):
            out = probe_bytes(raw[:cut])
            assert out["n_bytes"] == cut  # no exception, metadata best-effort


class TestHardNegatives:
    def test_no_same_label_and_topk(self, spark):
        from dbt_icebreaker_spark.xops.similarity import hard_negatives
        import math
        rows = []
        for i in range(40):
            ang = i * 0.15
            rows.append((i, [math.cos(ang), math.sin(ang)], i % 3))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
        out = hard_negatives(df, df.filter("vec_id < 4"), k=3).collect()
        assert len(out) == 12  # 4 queries x 3
        for r in out:
            assert r.neighbor_label != r.query_label
            assert r.neighbor_id != r.query_id
        # nearest different-label vector is angularly adjacent-ish:
        # cosine of the top hit beats the 3rd hit
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, hits in by_q.items():
            hits.sort(key=lambda r: r.rank)
            assert hits[0].cosine >= hits[-1].cosine

    def test_null_labels_never_match_as_same(self, spark):
        from dbt_icebreaker_spark.xops.similarity import hard_negatives
        df = spark.createDataFrame(
            [(1, [1.0, 0.0], None), (2, [0.9, 0.1], None), (3, [0.8, 0.2], 1)],
            "vec_id long, embedding array<double>, label int",
        )
        out = hard_negatives(df, df.filter("vec_id = 1"), k=5).collect()
        # NULL-label query: NULL eqNullSafe NULL → same → excluded;
        # only the labeled vector qualifies
        assert {r.neighbor_id for r in out} == {3}


class TestJsonlExport:
    """JSONL rendering of the sharded export: identical sharding and
    manifest verification as parquet, corruption localized per shard."""

    def test_jsonl_roundtrip_and_verify(self, spark, tmp_path):
        from dbt_icebreaker_spark.xops.dataset import (
            write_sharded_dataset, verify_dataset,
        )
        df = spark.range(200).selectExpr(
            "id AS doc_id", "concat('text number ', id) AS text"
        )
        path = str(tmp_path / "jsonl_ds")
        man = write_sharded_dataset(df, path, "doc_id", "text",
                                    n_shards=4, fmt="json")
        assert man["format"] == "json" and man["total_rows"] == 200
        # files are genuine JSON lines
        import glob, json as _json
        files = glob.glob(f"{path}/shard=*/*.json")
        assert files
        with open(files[0]) as f:
            row = _json.loads(f.readline())
        assert set(row) >= {"doc_id", "text"}
        assert verify_dataset(spark, path)["ok"]

    def test_jsonl_matches_parquet_sharding(self, spark, tmp_path):
        from dbt_icebreaker_spark.xops.dataset import write_sharded_dataset
        df = spark.range(150).selectExpr("id AS doc_id", "concat('d', id) AS text")
        mj = write_sharded_dataset(df, str(tmp_path / "j"), "doc_id", "text",
                                   n_shards=4, fmt="json")
        mp = write_sharded_dataset(df, str(tmp_path / "p"), "doc_id", "text",
                                   n_shards=4, fmt="parquet")
        assert mj["shards"] == mp["shards"]  # identical membership + hashes

    def test_corruption_detected(self, spark, tmp_path):
        from dbt_icebreaker_spark.xops.dataset import (
            write_sharded_dataset, verify_dataset,
        )
        df = spark.range(100).selectExpr("id AS doc_id", "concat('d', id) AS text")
        path = str(tmp_path / "jc")
        write_sharded_dataset(df, path, "doc_id", "text", n_shards=4, fmt="json")
        import glob
        victim = sorted(glob.glob(f"{path}/shard=2/*.json"))[0]
        lines = open(victim).readlines()
        with open(victim, "w") as f:
            f.writelines(lines[1:])  # drop one row
        # simulate EXTERNAL corruption: the local-FS .crc sidecar would
        # otherwise fail the read before the row-level diff runs
        import os
        crc = os.path.join(os.path.dirname(victim),
                           "." + os.path.basename(victim) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        rep = verify_dataset(spark, path)
        assert not rep["ok"] and list(rep["mismatches"]) == ["2"]


class TestDsir:
    """DSIR importance resampling (Xie et al. 2023) — hashed-ngram
    log-likelihood ratios + deterministic Gumbel-max selection."""

    def _corpus(self, spark):
        rows = []
        for i in range(200):
            if i % 4 == 0:
                rows.append((i, "clean wiki prose about science topics", "good"))
            else:
                rows.append((i, "spam spam buy now click here offer", "raw"))
        return spark.createDataFrame(rows, "doc_id long, text string, src string")

    def test_target_like_docs_score_higher(self, spark):
        from dbt_icebreaker_spark.xops.sampling import dsir_weights
        from pyspark.sql import functions as F
        df = self._corpus(spark)
        target = df.filter("src = 'good'")
        w = dsir_weights(df, "doc_id", "text", target, n_buckets=500)
        j = w.join(df.select("doc_id", "src"), "doc_id")
        means = {r.src: r.m for r in j.groupBy("src").agg(F.avg("dsir_logweight").alias("m")).collect()}
        assert means["good"] > means["raw"]

    def test_selection_shifts_toward_target(self, spark):
        from dbt_icebreaker_spark.xops.sampling import dsir_sample
        df = self._corpus(spark)
        target = df.filter("src = 'good'")
        sel = dsir_sample(df, "doc_id", "text", target, k=60, n_buckets=500)
        got = sel.join(df.select("doc_id", "src"), "doc_id")
        frac_good = got.filter("src = 'good'").count() / 60
        assert frac_good > 0.25  # corpus base rate is 0.25; DSIR lifts it

    def test_deterministic_under_repartition(self, spark):
        from dbt_icebreaker_spark.xops.sampling import dsir_sample
        df = self._corpus(spark)
        target = df.filter("src = 'good'")
        a = {r.doc_id for r in dsir_sample(df, "doc_id", "text", target, 40, n_buckets=500).collect()}
        b = {r.doc_id for r in dsir_sample(df.repartition(11), "doc_id", "text", target, 40, n_buckets=500).collect()}
        assert a == b and len(a) == 40

    def test_empty_docs_get_zero_weight(self, spark):
        from dbt_icebreaker_spark.xops.sampling import dsir_weights
        df = spark.createDataFrame(
            [(1, "some words here"), (2, ""), (3, None)],
            "doc_id long, text string",
        )
        w = {r.doc_id: (r.n_grams, r.dsir_logweight)
             for r in dsir_weights(df, "doc_id", "text", df, n_buckets=100).collect()}
        assert w[2] == (0, 0.0) and w[3] == (0, 0.0)
        assert w[1][0] > 0


class TestDedupeLinesGlobal:
    def test_banner_removed_everywhere(self, spark):
        from dbt_icebreaker_spark.xops.dedup import dedupe_lines_global
        rows = [(i, f"BANNER\nunique {i}") for i in range(5)] + [(9, "solo doc")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in dedupe_lines_global(df, "doc_id", "text", min_df=3).collect()}
        for i in range(5):
            assert out[i].cleaned_text == f"unique {i}" and out[i].n_removed == 1
        assert out[9].cleaned_text == "solo doc" and out[9].n_removed == 0

    def test_within_doc_repeats_count_once(self, spark):
        # df is DOCUMENT frequency: a line repeated inside one doc
        # doesn't cross the threshold by itself
        from dbt_icebreaker_spark.xops.dedup import dedupe_lines_global
        df = spark.createDataFrame(
            [(1, "x\nx\nx\nx\nbody"), (2, "other")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in dedupe_lines_global(df, "doc_id", "text", min_df=3).collect()}
        assert out[1].n_removed == 0

    def test_empty_lines_survive(self, spark):
        from dbt_icebreaker_spark.xops.dedup import dedupe_lines_global
        rows = [(i, "DUP\n\ntail") for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedupe_lines_global(df, "doc_id", "text", min_df=3).collect()
        # DUP and tail both cross df>=3 and go; the blank line is
        # never a candidate and survives as the only remaining line
        assert all(r.cleaned_text == "" and r.n_removed == 2 for r in out)


class TestTuneLsh:
    def test_threshold_tracks_target(self):
        from dbt_icebreaker_spark.xops.dedup import tune_lsh
        for t in (0.3, 0.5, 0.7, 0.9):
            cfg = tune_lsh(t)
            assert abs(cfg["threshold"] - t) < 0.05
            assert cfg["bands"] * cfg["rows_per_band"] == cfg["n_hashes"]
            assert cfg["n_hashes"] <= 128
            # S-curve sanity: likely at target, unlikely at half
            assert cfg["p_at_target"] > cfg["p_at_low"]

    def test_rejects_degenerate_targets(self):
        import pytest as _p
        from dbt_icebreaker_spark.xops.dedup import tune_lsh
        for bad in (0.0, 1.0, -0.5):
            with _p.raises(ValueError):
                tune_lsh(bad)


class TestFuzzyJoin:
    def _frames(self, spark):
        left = spark.createDataFrame([
            (1, "acme corporation global holdings inc"),
            (2, "northern lights bakery company"),
            (3, "totally unrelated words entirely"),
        ], "lid long, name string")
        right = spark.createDataFrame([
            (10, "acme corporation global holdings incorporated"),
            (11, "northern lights bakery co"),
            (12, "different text altogether now"),
        ], "rid long, name string")
        return left, right

    def test_exact_links_similar_pairs(self, spark):
        from dbt_icebreaker_spark.xops.dedup import fuzzy_join
        left, right = self._frames(spark)
        out = fuzzy_join(left, right, "lid", "rid", "name",
                         k=2, threshold=0.3, exact=True)
        pairs = {(r.lid, r.rid) for r in out.collect()}
        assert pairs == {(1, 10), (2, 11)}

    def test_lsh_matches_exact_above_threshold(self, spark):
        from dbt_icebreaker_spark.xops.dedup import fuzzy_join
        left, right = self._frames(spark)
        ex = {(r.lid, r.rid, round(r.jaccard, 6)) for r in fuzzy_join(
            left, right, "lid", "rid", "name", k=2, threshold=0.3, exact=True
        ).collect()}
        ap = {(r.lid, r.rid, round(r.jaccard, 6)) for r in fuzzy_join(
            left, right, "lid", "rid", "name", k=2, threshold=0.3, exact=False
        ).collect()}
        # verification never admits false positives; on clearly-similar
        # pairs LSH recall is ~1, so the sets agree here
        assert ap <= ex and ap == ex

    def test_different_text_columns(self, spark):
        from dbt_icebreaker_spark.xops.dedup import fuzzy_join
        left = spark.createDataFrame([(1, "alpha beta gamma delta")], "lid long, a string")
        right = spark.createDataFrame([(2, "alpha beta gamma epsilon")], "rid long, b string")
        out = fuzzy_join(left, right, "lid", "rid", "a", right_text="b",
                         k=2, threshold=0.3, exact=True).collect()
        assert len(out) == 1 and out[0].lid == 1 and out[0].rid == 2


class TestProfileStrings:
    def test_counts_and_tops(self, spark):
        from dbt_icebreaker_spark.xops.profile import profile_strings
        df = spark.createDataFrame(
            [("en", "a"), ("en", "b"), ("fr", None), (None, "a")],
            "lang string, src string",
        )
        out = {r.column: r for r in profile_strings(df, ["lang", "src"], top_k=2).collect()}
        lang = out["lang"]
        assert (lang.n, lang.n_null, lang.n_distinct) == (4, 1, 2)
        assert lang.top_values[0] == "en:2"
        src = out["src"]
        assert src.top_values == ["a:2", "b:1"]

    def test_deterministic_tiebreak(self, spark):
        from dbt_icebreaker_spark.xops.profile import profile_strings
        df = spark.createDataFrame(
            [("x",), ("y",), ("z",)], "c string"
        )
        out = profile_strings(df, ["c"], top_k=2).collect()[0]
        assert out.top_values == ["x:1", "y:1"]  # value-ordered ties


class TestLineSepEscaping:
    def test_metacharacter_separator(self, spark):
        # sep='|' is a regex metachar — must behave literally
        from dbt_icebreaker_spark.xops.dedup import dedupe_lines_global
        rows = [(i, f"DUP|unique {i}") for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedupe_lines_global(df, "doc_id", "text", min_df=3, sep="|").collect()
        assert all(r.cleaned_text == f"unique {r.doc_id}" for r in out)


class TestInterleaveDomains:
    def test_stripes_and_determinism(self, spark):
        from dbt_icebreaker_spark.xops.sampling import interleave_domains
        rows = [(i, "big") for i in range(12)] + [(100 + i, "small") for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, dom string")
        out = interleave_domains(df, "doc_id", "dom").orderBy("interleave_rank").collect()
        order = [r.dom for r in out]
        # while both domains last, positions alternate perfectly
        assert order[:8].count("small") == 4
        # frozen under repartitioning
        b = interleave_domains(df.repartition(7), "doc_id", "dom") \
            .orderBy("interleave_rank").collect()
        assert [r.doc_id for r in out] == [r.doc_id for r in b]

    def test_epochs_restripe_within_domain(self, spark):
        from dbt_icebreaker_spark.xops.sampling import interleave_domains
        rows = [(i, "a") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, dom string")
        e0 = [r.doc_id for r in interleave_domains(df, "doc_id", "dom", epoch=0)
              .orderBy("interleave_rank").collect()]
        e1 = [r.doc_id for r in interleave_domains(df, "doc_id", "dom", epoch=1)
              .orderBy("interleave_rank").collect()]
        assert sorted(e0) == sorted(e1) and e0 != e1


class TestWeightedSamplePerGroup:
    def test_quota_and_determinism(self, spark):
        from dbt_icebreaker_spark.xops.sampling import weighted_sample_per_group
        rows = [(i, "a" if i < 40 else "b", i % 5 + 1) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, dom string, w long")
        out = weighted_sample_per_group(df, "doc_id", "dom", "w", 7)
        per = {r.dom: r.n for r in out.groupBy("dom").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()}
        assert per == {"a": 7, "b": 7}
        a = {r.doc_id for r in out.collect()}
        b = {r.doc_id for r in weighted_sample_per_group(
            df.repartition(9), "doc_id", "dom", "w", 7).collect()}
        assert a == b

    def test_small_group_keeps_all(self, spark):
        from dbt_icebreaker_spark.xops.sampling import weighted_sample_per_group
        df = spark.createDataFrame(
            [(1, "x", 2), (2, "x", 3), (3, "y", 1)],
            "doc_id long, dom string, w long",
        )
        out = weighted_sample_per_group(df, "doc_id", "dom", "w", 10).collect()
        assert len(out) == 3


class TestImaging:
    """REAL PNG codec (xops/imaging.py): encode/decode round-trip
    across scanline filters, pixel stats on decoded arrays, dHash
    injectivity of the block construction, and the hamming-LSH
    near-dup join. Driver-gated by x50 (arithmetic-oracled decoded
    means) and x51 (exact pair set)."""

    def test_codec_roundtrip_all_filters(self):
        import numpy as np
        from dbt_icebreaker_spark.xops.imaging import decode_png, encode_png

        rng = np.random.default_rng(7)
        for shape, ft in [((8, 5, 3), 0), ((16, 9, 3), 1), ((12, 7, 3), 2),
                          ((9, 9, 1), 1), ((6, 4, 4), 2)]:
            arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
            dec = decode_png(encode_png(arr, filter_type=ft))
            assert dec is not None and (dec == arr).all()

    def test_decode_rejects_garbage(self):
        from dbt_icebreaker_spark.xops.imaging import decode_png

        assert decode_png(b"not a png") is None
        assert decode_png(b"\x89PNG\r\n\x1a\xffrest") is None

    def test_image_stats_real_means(self, spark):
        import numpy as np
        from dbt_icebreaker_spark.xops import imaging

        arr = np.zeros((10, 6, 3), dtype=np.uint8)
        arr[:, :, 0] = 50
        arr[:, :, 1] = 100
        arr[:, :, 2] = 200
        df = spark.createDataFrame(
            [(1, bytearray(imaging.encode_png(arr)))], "media_id long, payload binary"
        )
        row = imaging.image_stats(df).collect()[0]
        assert row.ok and row.width == 6 and row.height == 10
        assert row.mean_r == 50.0 and row.mean_g == 100.0 and row.mean_b == 200.0

    def test_block_hash_separation(self, spark):
        # distinct seeds ≥ hamming 4 apart; same seed identical
        from dbt_icebreaker_spark.xops import imaging

        ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
        media = imaging.synthesize_block_pngs(ids, "doc_id")
        stats = imaging.image_stats(media).collect()
        by_seed = {}
        for r in stats:
            by_seed.setdefault(r.media_id // 3, []).append(r.dhash)
        seeds = sorted(by_seed)
        for s in seeds:
            assert len(set(by_seed[s])) == 1
        for i, s in enumerate(seeds):
            for t in seeds[i + 1:]:
                ham = bin((by_seed[s][0] ^ by_seed[t][0]) & (2**64 - 1)).count("1")
                assert ham >= 4, (s, t, ham)

    def test_neardup_pairs_exact(self, spark):
        from dbt_icebreaker_spark.xops import imaging

        ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
        media = imaging.synthesize_block_pngs(ids, "doc_id")
        pairs = imaging.image_neardup_pairs(imaging.image_stats(media))
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        want = {(a, b) for g in range(4) for a in range(3 * g, 3 * g + 3)
                for b in range(a + 1, 3 * g + 3)}
        assert got == want

    def test_decode_stub_real_png_path(self):
        import numpy as np
        from dbt_icebreaker_spark.xops import imaging, multimodal

        arr = np.full((4, 4, 3), 90, dtype=np.uint8)
        d = multimodal.decode_stub(imaging.encode_png(arr), "image")
        assert d["decoded"] == "png" and d["width"] == 4 and d["mean_luma"] == 90.0
        d2 = multimodal.decode_stub(b"\xff\xd8 not decodable jpeg", "image")
        assert "fake_dim" in d2


class TestAudio:
    """REAL PCM WAV codec (xops/audio.py): encode/decode round-trip,
    non-canonical chunk layouts, DSP stats on decoded samples, and
    sample-aligned segmentation emitting valid WAVs. Driver-gated by
    x52 (closed-form stats oracle) and x53 (segment layout oracle)."""

    def test_codec_roundtrip(self):
        import numpy as np
        from dbt_icebreaker_spark.xops.audio import decode_wav, encode_wav

        rng = np.random.default_rng(3)
        samples = rng.integers(-30000, 30000, size=777, dtype=np.int16)
        dec = decode_wav(encode_wav(samples, 16000))
        assert dec is not None
        out, rate, ch = dec
        assert rate == 16000 and ch == 1 and (out == samples).all()

    def test_decode_noncanonical_chunks(self):
        # LIST chunk before data, odd-size pad byte — the layouts
        # editors actually emit
        import struct
        import numpy as np
        from dbt_icebreaker_spark.xops.audio import decode_wav

        pcm = np.array([5, -5, 7], dtype="<i2").tobytes()
        body = (
            b"WAVEfmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"  # odd + pad
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )
        raw = b"RIFF" + struct.pack("<I", len(body)) + body
        dec = decode_wav(raw)
        assert dec is not None and list(dec[0]) == [5, -5, 7]

    def test_decode_rejects_non_pcm(self):
        import struct
        from dbt_icebreaker_spark.xops.audio import decode_wav

        body = (
            b"WAVEfmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
            + b"data" + struct.pack("<I", 0)
        )
        raw = b"RIFF" + struct.pack("<I", len(body)) + body
        assert decode_wav(raw) is None
        assert decode_wav(b"garbage") is None

    def test_audio_stats_square_wave(self, spark):
        import numpy as np
        from dbt_icebreaker_spark.xops import audio

        wave = np.where(np.arange(100) % 2 == 0, 250, -250).astype(np.int16)
        df = spark.createDataFrame(
            [(7, bytearray(audio.encode_wav(wave, 8000)))],
            "media_id long, payload binary",
        )
        r = audio.audio_stats(df).collect()[0]
        assert r.ok and r.rms == 250.0 and r.peak == 250
        assert r.zero_crossings == 99 and r.duration_s == 100 / 8000

    def test_segments_are_valid_wavs(self, spark):
        import numpy as np
        from dbt_icebreaker_spark.xops import audio

        wave = np.where(np.arange(1000) % 2 == 0, 400, -400).astype(np.int16)
        df = spark.createDataFrame(
            [(1, bytearray(audio.encode_wav(wave, 8000)))],
            "media_id long, payload binary",
        )
        segs = audio.segment_audio(df, window_s=0.05).collect()  # 400-sample wins
        assert [s.seg_idx for s in segs] == [0, 1, 2]
        assert [s.start_s for s in segs] == [0.0, 0.05, 0.1]
        for s in segs:
            dec = audio.decode_wav(bytes(s.payload))
            assert dec is not None
        assert len(audio.decode_wav(bytes(segs[-1].payload))[0]) == 200


class TestImagingHotBucket:
    def test_degenerate_bucket_degrades_to_star(self, spark):
        # 40 identical images (one dhash → one bucket in every band):
        # cap 10 forces the star path; all pairs anchor at the min id,
        # hamming 0, and the count is O(bucket), not O(bucket^2)
        from dbt_icebreaker_spark.xops import imaging

        ids = spark.range(0, 40).select((F.col("id") * 3).alias("doc_id"))
        media = imaging.synthesize_block_pngs(ids, "doc_id", group_div=10**9)
        stats = imaging.image_stats(media)
        pairs = imaging.image_neardup_pairs(stats, max_bucket_size=10).collect()
        assert len(pairs) == 39  # star, not 780 exact pairs
        assert all(p.id_a == 0 and p.hamming == 0 for p in pairs)

    def test_exact_path_unchanged_under_cap(self, spark):
        from dbt_icebreaker_spark.xops import imaging

        ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
        media = imaging.synthesize_block_pngs(ids, "doc_id")
        pairs = imaging.image_neardup_pairs(
            imaging.image_stats(media), max_bucket_size=1000
        )
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        want = {(a, b) for g in range(4) for a in range(3 * g, 3 * g + 3)
                for b in range(a + 1, 3 * g + 3)}
        assert got == want


class TestQuantization:
    """int8 embedding quantization (similarity.quantize_embeddings):
    codes bounded, reconstruction error within half a code step,
    quantized cosine ranking tracks the float ranking. Driver-gated
    by x55 (bit-for-bit error oracle)."""

    def test_codes_and_error_bound(self, spark):
        from dbt_icebreaker_spark.sources import read_parquet
        from dbt_icebreaker_spark.xops import similarity

        emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
        q = similarity.quantize_embeddings(emb)
        row = q.select(
            F.max(F.array_max("qvec")).alias("mx"),
            F.min(F.array_min("qvec")).alias("mn"),
        ).collect()[0]
        assert row.mx <= 127 and row.mn >= -127
        errs = similarity.dequantize_error(emb).collect()
        for r in errs:
            # half a code step (scale/254) plus float32→double noise
            assert r.max_err <= r.scale / 254 + 1e-6, (r.vec_id, r.max_err)

    def test_zero_vector_safe(self, spark):
        from dbt_icebreaker_spark.xops import similarity

        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
            "vec_id long, embedding array<float>",
        )
        rows = {r.vec_id: r for r in similarity.dequantize_error(df).collect()}
        assert rows[1].scale == 0.0 and rows[1].max_err == 0.0
        assert rows[2].scale == 2.0

    def test_dequantize_error_one_row_per_input_row(self, spark):
        # a duplicated id must not fan out: quantize and reconstruct
        # come from one projection of each row, not a join on the id
        from dbt_icebreaker_spark.xops import similarity

        df = spark.createDataFrame(
            [(1, [1.0, -2.0]), (1, [0.5, 0.25]), (2, [3.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        rows = similarity.dequantize_error(df).collect()
        assert sorted((r.vec_id, r.scale) for r in rows) == [
            (1, 0.5), (1, 2.0), (2, 3.0)
        ]

    def test_quantized_ranking_tracks_float(self, spark):
        from dbt_icebreaker_spark.sources import read_parquet
        from dbt_icebreaker_spark.xops import similarity

        emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = similarity.cosine_topk(emb, queries, k=5)
        quant = similarity.quantized_cosine_topk(emb, queries, k=5)
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        g = {(r.query_id, r.neighbor_id) for r in quant.collect()}
        # recall@5 of the quantized path vs exact float cosine
        assert len(e & g) / len(e) >= 0.8, (len(e & g), len(e))


class TestExtractStructured:
    """Schema-constrained LLM extraction (llm.extract_structured):
    validation is JVM-side, invalid outputs retry with a repair
    payload, unrecoverable rows quarantine with extract_ok=false."""

    def _docs(self, spark):
        from dbt_icebreaker_spark.sources import read_parquet

        return read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).limit(8)

    def test_stub_endpoint_validates(self, spark):
        from dbt_icebreaker_spark.xops import llm

        out = llm.extract_structured(
            self._docs(spark), "text",
            {"topic": "string", "score": "double", "n": "int"},
        )
        rows = out.collect()
        assert all(r.extract_ok for r in rows)
        for r in rows:
            assert isinstance(r.extracted.topic, str)
            assert isinstance(r.extracted.score, float)
            assert isinstance(r.extracted.n, int)

    def test_repair_retry_recovers(self, spark):
        import pandas as pd

        from dbt_icebreaker_spark.xops import llm

        def flaky(task, s):
            def one(t):
                if t is not None and not t.startswith("REPAIR"):
                    return "garbage {{{"
                return llm._stub_endpoint(task, pd.Series([t])).iloc[0]
            return s.map(one)

        llm.set_endpoint(flaky)
        try:
            out = llm.extract_structured(
                self._docs(spark), "text", {"topic": "string"}
            )
            assert all(r.extract_ok for r in out.collect())
        finally:
            llm.set_endpoint(None)

    def test_unrecoverable_rows_quarantine(self, spark):
        import pandas as pd

        from dbt_icebreaker_spark.xops import llm

        llm.set_endpoint(lambda task, s: s.map(lambda _t: "never json"))
        try:
            out = llm.extract_structured(
                self._docs(spark), "text", {"topic": "string"}, max_retries=2
            )
            rows = out.collect()
            assert all(not r.extract_ok for r in rows)
            assert all(r.extracted is None for r in rows)
            assert len(rows) == 8  # nothing dropped
        finally:
            llm.set_endpoint(None)


class TestAudioMultiChannel:
    def test_stereo_segments_keep_channel_count(self, spark):
        import numpy as np

        from dbt_icebreaker_spark.xops import audio

        # interleaved stereo: L=+300, R=-300, 800 frames
        inter = np.empty(1600, dtype=np.int16)
        inter[0::2] = 300
        inter[1::2] = -300
        df = spark.createDataFrame(
            [(1, bytearray(audio.encode_wav(inter, 8000, channels=2)))],
            "media_id long, payload binary",
        )
        segs = audio.segment_audio(df, window_s=0.05).collect()  # 400-frame wins
        assert len(segs) == 2
        for s in segs:
            out, rate, ch = audio.decode_wav(bytes(s.payload))
            assert ch == 2 and rate == 8000
            assert len(out) // ch == 400  # frames, not interleaved samples
        stats = audio.audio_stats(
            spark.createDataFrame(
                [(7, bytearray(segs[0].payload))], "media_id long, payload binary"
            )
        ).collect()[0]
        assert stats.channels == 2
        assert stats.n_samples == 400  # frames
        assert stats.duration_s == 400 / 8000


class TestExtractStructuredStrict:
    def test_missing_field_retries_then_quarantines(self, spark):
        import pandas as pd

        from dbt_icebreaker_spark.sources import read_parquet
        from dbt_icebreaker_spark.xops import llm

        docs = read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).limit(4)

        # endpoint always omits 'score' → field-presence check fails
        llm.set_endpoint(lambda task, s: s.map(lambda _t: '{"topic": "x"}'))
        try:
            out = llm.extract_structured(
                docs.select("doc_id", "text"), "text",
                {"topic": "string", "score": "double"},
            )
            assert all(not r.extract_ok for r in out.collect())
        finally:
            llm.set_endpoint(None)

    def test_mistyped_field_invalid(self, spark):
        from dbt_icebreaker_spark.sources import read_parquet
        from dbt_icebreaker_spark.xops import llm

        docs = read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).limit(4)
        llm.set_endpoint(
            lambda task, s: s.map(lambda _t: '{"topic": "x", "score": "NaNope"}')
        )
        try:
            out = llm.extract_structured(
                docs.select("doc_id", "text"), "text",
                {"topic": "string", "score": "double"},
            )
            assert all(not r.extract_ok for r in out.collect())
        finally:
            llm.set_endpoint(None)

    def test_explicit_null_field_is_valid(self, spark):
        from dbt_icebreaker_spark.sources import read_parquet
        from dbt_icebreaker_spark.xops import llm

        docs = read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).limit(4)
        llm.set_endpoint(
            lambda task, s: s.map(lambda _t: '{"topic": "x", "score": null}')
        )
        try:
            out = llm.extract_structured(
                docs.select("doc_id", "text"), "text",
                {"topic": "string", "score": "double"},
            )
            rows = out.collect()
            assert all(r.extract_ok for r in rows)
            assert all(r.extracted.score is None for r in rows)
        finally:
            llm.set_endpoint(None)


class TestAudioStereoDSP:
    def test_constant_stereo_has_zero_crossings(self, spark):
        import numpy as np

        from dbt_icebreaker_spark.xops import audio

        inter = np.empty(400, dtype=np.int16)
        inter[0::2] = 300   # L constant +300
        inter[1::2] = -300  # R constant -300
        df = spark.createDataFrame(
            [(1, bytearray(audio.encode_wav(inter, 8000, channels=2)))],
            "media_id long, payload binary",
        )
        r = audio.audio_stats(df).collect()[0]
        assert r.zero_crossings == 0  # interleaved diff would say 399
        assert r.rms == 300.0 and r.peak == 300


class TestExtractStructuredDeterminism:
    def test_nondeterministic_endpoint_no_row_loss(self, spark):
        import itertools

        from dbt_icebreaker_spark.sources import read_parquet
        from dbt_icebreaker_spark.xops import llm

        docs = read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).limit(10).coalesce(1)

        counter = itertools.count()

        def flaky(task, s):
            # alternates valid/invalid across CALLS — without the
            # persist both filter branches would see different answers
            return s.map(
                lambda _t: '{"topic": "x"}' if next(counter) % 2 == 0
                else "garbage"
            )

        llm.set_endpoint(flaky)
        try:
            out = llm.extract_structured(
                docs.select("doc_id", "text"), "text", {"topic": "string"}
            )
            rows = out.collect()
            assert len(rows) == 10  # nothing dropped, nothing duplicated
            assert len({r.doc_id for r in rows}) == 10
        finally:
            llm.set_endpoint(None)


class TestKeepBest:
    def test_highest_quality_wins(self, spark):
        from dbt_icebreaker_spark.xops import dedup

        clusters = spark.createDataFrame(
            [(1, 1, True), (2, 1, False), (3, 3, True), (4, 1, False)],
            "doc_id long, cluster_id long, is_canonical boolean",
        )
        quality = spark.createDataFrame(
            [(1, 10), (2, 99), (3, 5), (4, 99)],
            "doc_id long, q long",
        )
        out = {r.doc_id: r for r in dedup.keep_best(
            clusters, quality, score_col="q"
        ).collect()}
        # cluster 1: docs 2 and 4 tie at 99 → smaller id wins
        assert out[2].kept and not out[4].kept and not out[1].kept
        assert out[3].kept  # singleton keeps itself


class TestKeepBestUnscored:
    def test_unscored_members_survive_with_null(self, spark):
        from dbt_icebreaker_spark.xops import dedup

        clusters = spark.createDataFrame(
            [(1, 1, True), (2, 1, False)],
            "doc_id long, cluster_id long, is_canonical boolean",
        )
        quality = spark.createDataFrame([(2, 5)], "doc_id long, q long")
        out = {r.doc_id: r for r in dedup.keep_best(
            clusters, quality, score_col="q"
        ).collect()}
        assert set(out) == {1, 2}  # nobody silently dropped
        assert out[2].kept and not out[1].kept
        assert out[1].score is None


class TestProbeSubformatOrientation:
    """Byte-level: JPEG coding-process detection + EXIF orientation
    (APP1 TIFF walk), both byte orders."""

    @staticmethod
    def _seg(marker, body):
        import struct

        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def _jpeg(self, sof_marker, app1=b""):
        import struct

        sof = self._seg(
            sof_marker, struct.pack(">BHHB", 8, 99, 77, 1) + bytes([1, 0x11, 0])
        )
        return b"\xff\xd8" + app1 + sof + b"\xff\xd9"

    def test_baseline_vs_progressive(self):
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        assert probe_bytes(self._jpeg(0xC0))["subformat"] == "baseline"
        assert probe_bytes(self._jpeg(0xC1))["subformat"] == "extended"
        p = probe_bytes(self._jpeg(0xC2))
        assert p["subformat"] == "progressive" and (p["width"], p["height"]) == (77, 99)

    def test_exif_orientation_both_byte_orders(self):
        import struct

        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        for bo, val in (("<", 6), (">", 8)):
            tiff = (b"II" if bo == "<" else b"MM") + struct.pack(bo + "H", 42)
            tiff += struct.pack(bo + "I", 8)
            tiff += struct.pack(bo + "H", 1)
            tiff += struct.pack(bo + "HHI", 0x0112, 3, 1)
            tiff += struct.pack(bo + "H", val) + b"\x00\x00"
            tiff += struct.pack(bo + "I", 0)
            raw = self._jpeg(0xC0, self._seg(0xE1, b"Exif\x00\x00" + tiff))
            assert probe_bytes(raw)["orientation"] == val

    def test_no_exif_is_null_and_malformed_safe(self):
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        assert probe_bytes(self._jpeg(0xC0))["orientation"] is None
        # APP1 that is not EXIF (XMP) and truncated TIFF must not crash
        assert probe_bytes(
            self._jpeg(0xC0, self._seg(0xE1, b"http://ns.adobe.com/xap/1.0/\x00"))
        )["orientation"] is None
        assert probe_bytes(
            self._jpeg(0xC0, self._seg(0xE1, b"Exif\x00\x00II\x2a\x00"))
        )["orientation"] is None

    def test_real_encoder_output_is_baseline(self):
        import numpy as np

        from dbt_icebreaker_spark.xops.jpeg import encode_jpeg
        from dbt_icebreaker_spark.xops.multimodal import probe_bytes

        p = probe_bytes(encode_jpeg(np.full((16, 24), 7, dtype=np.uint8)))
        assert p["format"] == "jpeg" and p["subformat"] == "baseline"
        assert (p["width"], p["height"]) == (24, 16) and p["valid"]


class TestNormalizeText:
    def test_nfc_strip_lower_collapse(self, spark):
        from dbt_icebreaker_spark.xops.text import normalize_text

        df = spark.createDataFrame(
            [(1, "Café  NAÏVE\tseñor"), (2, None)],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r.norm_text for r in normalize_text(
            df, "doc_id", "text",
            form="NFC", strip_accents=True, lowercase=True,
            collapse_ws=True,
        ).collect()}
        assert out[1] == "cafe naive senor"
        assert out[2] is None

    def test_nfc_only_composes(self, spark):
        from dbt_icebreaker_spark.xops.text import normalize_text

        df = spark.createDataFrame([(1, "é")], ["doc_id", "text"])
        v = normalize_text(df, "doc_id", "text").collect()[0].norm_text
        assert v == "é"  # combining acute composed to é

    def test_bad_form_refused(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark.xops.text import normalize_text

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="unknown form"):
            normalize_text(df, "doc_id", "text", form="NFX")


class TestFlattenHierarchyR10:
    """Round-10: iterative-doubling hierarchy flattening — the
    O(log depth) path the CONNECT BY depth guard recommends."""

    def test_deep_chain_fast(self, spark):
        # depth 5000: CONNECT BY takes O(depth) jobs (~10 min) and the
        # siblings/nocycle variants hit the heap guard; doubling does
        # it in ~13 joins
        from dbt_icebreaker_spark.xops.hierarchy import (
            flatten_hierarchy,
        )

        edges = spark.sql(
            "SELECT id AS node, CASE WHEN id % 5000 = 0 THEN NULL "
            "ELSE id - 1 END AS parent FROM RANGE(10000)")
        out = flatten_hierarchy(edges, "node", "parent")
        rows = out.collect()
        assert len(rows) == 10000
        got = {r.node: (r.root, r.depth) for r in rows}
        assert got[0] == (0, 0)
        assert got[4999] == (0, 4999)
        assert got[5000] == (5000, 0)
        assert got[9999] == (5000, 4999)

    def test_orphan_parent_is_terminal(self, spark):
        from dbt_icebreaker_spark.xops.hierarchy import (
            flatten_hierarchy,
        )

        edges = spark.createDataFrame(
            [(1, 99), (2, 1)], "node long, parent long")
        got = {r.node: (r.root, r.depth)
               for r in flatten_hierarchy(
                   edges, "node", "parent").collect()}
        # 99 is not a node: the dangling id is the chain's root
        assert got[1] == (99, 1) and got[2] == (99, 2)

    def test_cycle_raises_actionably(self, spark):
        import pytest

        from dbt_icebreaker_spark.xops.hierarchy import (
            flatten_hierarchy,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (3, None)], "node long, parent long")
        with pytest.raises(ValueError, match="cycle"):
            flatten_hierarchy(edges, "node", "parent", max_rounds=8)
