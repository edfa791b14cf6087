"""Scale smoke: replicate sf0.1 documents N× with remapped ids and
time the dedup pipeline under a deliberate hot-bucket stress.

Each text appears in N replicas, so every doc gains >= ~N*(N-1)/2
intra-replica near-dup pairs — the LSH pair workload grows
super-linearly while input grows linearly. Sub-linear wall-time
growth under that super-linear workload is the empirical backing for
the bucket-cap + explode/groupBy design notes in xops/dedup.py and
BASELINE.md's scale-smoke table.

Usage: python scripts/scale_smoke.py [replicas] [sf_dir]
Prints one JSON line per op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from dbt_icebreaker_spark import get_spark
    from dbt_icebreaker_spark.sources import read_parquet
    from dbt_icebreaker_spark.xops import dedup

    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    from dbt_icebreaker_spark.udfs import register_scalar_udfs

    register_scalar_udfs(spark)

    docs1 = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n1 = docs1.count()
    rep = spark.range(REPLICAS).withColumnRenamed("id", "r")
    docsN = (
        docs1.crossJoin(rep)
        .select((F.col("doc_id") * REPLICAS + F.col("r")).alias("doc_id"), "text")
        .localCheckpoint()  # time the ops, not the replication
    )
    nN = docsN.count()

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 2)
        print(json.dumps({"op": name, **out, "sec": dt}))

    timed(
        "exact_dedup_1x",
        lambda: {"rows": dedup.exact_dedup(docs1, "doc_id", "text").count(), "docs": n1},
    )
    timed(
        "exact_dedup_Nx",
        lambda: {"rows": dedup.exact_dedup(docsN, "doc_id", "text").count(), "docs": nN},
    )
    timed(
        "lsh_pairs_1x",
        lambda: {"pairs": dedup.minhash_lsh_pairs(docs1, "doc_id", "text").count()},
    )
    timed(
        "lsh_pairs_Nx",
        lambda: {"pairs": dedup.minhash_lsh_pairs(docsN, "doc_id", "text").count()},
    )
    timed(
        "dedup_clusters_1x",
        lambda: {
            "clusters": dedup.dedup_clusters(
                dedup.minhash_lsh_pairs(docs1, "doc_id", "text"), docs1
            )
            .select("cluster_id")
            .distinct()
            .count()
        },
    )
    timed(
        "dedup_clusters_Nx",
        lambda: {
            "clusters": dedup.dedup_clusters(
                dedup.minhash_lsh_pairs(docsN, "doc_id", "text"), docsN
            )
            .select("cluster_id")
            .distinct()
            .count()
        },
    )
    # boilerplate ops under the SAME stress: with N replicas every
    # gram is common (df >= N), so the common-gram set and the span
    # cover hit their worst case — these must stay linear-ish because
    # neither op materializes pairs
    timed(
        "common_shingles_1x",
        lambda: {"rows": dedup.common_shingle_stats(docs1, "doc_id", "text").count()},
    )
    timed(
        "common_shingles_Nx",
        lambda: {"rows": dedup.common_shingle_stats(docsN, "doc_id", "text").count()},
    )
    # sum(length(cleaned_text)), NOT count(): count lets Catalyst
    # prune the rebuilt text column and skip the op being measured
    timed(
        "remove_spans_1x",
        lambda: {
            "out_chars": dedup.remove_duplicate_spans(docs1, "doc_id", "text")
            .agg(F.sum(F.length("cleaned_text")))
            .collect()[0][0]
        },
    )
    timed(
        "remove_spans_Nx",
        lambda: {
            "out_chars": dedup.remove_duplicate_spans(docsN, "doc_id", "text")
            .agg(F.sum(F.length("cleaned_text")))
            .collect()[0][0]
        },
    )
    # round-4/5 ops under the same replication: weighted sampling must
    # stay heap-based (per-partition top-k — wall time ~linear in
    # input, independent of k ordering cost), and the LM model build
    # is vocabulary-bound so replicas grow counts, not model size
    docs1w = docs1.withColumn("w", F.length("text").cast("long"))
    docsNw = docsN.withColumn("w", F.length("text").cast("long"))
    from dbt_icebreaker_spark.xops import sampling as xsampling
    from dbt_icebreaker_spark.xops import text as xtext

    timed(
        "weighted_sample_1x",
        lambda: {
            "rows": xsampling.weighted_sample(docs1w, "doc_id", "w", 500).count()
        },
    )
    timed(
        "weighted_sample_Nx",
        lambda: {
            "rows": xsampling.weighted_sample(docsNw, "doc_id", "w", 500).count()
        },
    )
    timed(
        "lm_score_1x",
        lambda: {
            "rows": xtext.lm_score(docs1, "doc_id", "text").count()
        },
    )
    timed(
        "lm_score_Nx",
        lambda: {
            "rows": xtext.lm_score(docsN, "doc_id", "text").count()
        },
    )
    # round-2 media ops under the same stress. Replicated docs share
    # doc_id // N... actually synthesize_block_pngs(group_div=1) gives
    # every replica ROW a distinct seed; the hot-bucket case is the
    # interesting one: replicate with IDENTICAL seeds (group_div = N
    # replica span) so every group of N images is identical — the
    # dHash LSH bucket workload grows N× per bucket while pair output
    # is capped by the star degradation.
    from dbt_icebreaker_spark.xops import audio as xaudio
    from dbt_icebreaker_spark.xops import imaging as ximaging

    ids1 = docs1.select("doc_id")
    idsN = docsN.select("doc_id")
    timed(
        "image_decode_1x",
        lambda: {
            "rows": ximaging.image_stats(
                ximaging.synthesize_decodable_pngs(ids1, "doc_id")
            ).filter("ok").count()
        },
    )
    timed(
        "image_decode_Nx",
        lambda: {
            "rows": ximaging.image_stats(
                ximaging.synthesize_decodable_pngs(idsN, "doc_id")
            ).filter("ok").count()
        },
    )
    timed(
        "image_neardup_Nx_hotbucket",
        lambda: {
            "pairs": ximaging.image_neardup_pairs(
                ximaging.image_stats(
                    ximaging.synthesize_block_pngs(
                        idsN, "doc_id", group_div=REPLICAS
                    )
                ),
                max_bucket_size=200,
            ).count()
        },
    )
    timed(
        "audio_decode_Nx",
        lambda: {
            "rows": xaudio.audio_stats(
                xaudio.synthesize_wav_corpus(idsN, "doc_id")
            ).filter("ok").count()
        },
    )
    # round-5 ops (r4 judge task #7): the MATCH_RECOGNIZE automaton and
    # the ASOF lateral under replication + skew.
    from dbt_icebreaker_spark.transpiler.core import Transpiler
    from dbt_icebreaker_spark.xops.match_recognize import (
        MatchRecognizeSpec,
        Measure,
        match_recognize,
        parse_pattern,
    )

    ev1 = read_parquet(spark, f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    # wide: N× rows spread over N× DISTINCT users — per-partition size
    # constant, so the per-partition automaton should stay ~flat until
    # the 32 cores saturate (wall tracks the LARGEST partition)
    evN_wide = (
        ev1.crossJoin(rep)
        .select(
            (F.col("user_id") * REPLICAS + F.col("r")).alias("user_id"),
            "ts", "event_id", "event_type", "value",
        )
        .localCheckpoint()
    )
    # deep: N× rows folded into the ORIGINAL users — every partition
    # grows N× deeper; automaton wall time must grow with that largest
    # partition, not super-linearly
    evN_deep = (
        ev1.crossJoin(rep)
        .select(
            "user_id", "ts",
            (F.col("event_id") * REPLICAS + F.col("r")).alias("event_id"),
            "event_type", "value",
        )
        .localCheckpoint()
    )

    def mr_spec():
        return MatchRecognizeSpec(
            partition_by=["user_id"],
            order_by=["ts", "event_id"],
            measures=[Measure("n", "count", None, None)],
            pattern=parse_pattern("STRT UP+"),
            defines={"UP": "value > PREV(value)"},
        )

    timed(
        "match_recognize_1x",
        lambda: {"matches": match_recognize(ev1, mr_spec()).count()},
    )
    timed(
        "match_recognize_Nx_wide",
        lambda: {"matches": match_recognize(evN_wide, mr_spec()).count()},
    )
    timed(
        "match_recognize_Nx_deep",
        lambda: {"matches": match_recognize(evN_deep, mr_spec()).count()},
    )

    # round-6: grouped pattern ((U D)+) through the compiled
    # backtracking VM — wall time must track the deep partition like
    # the flat pattern does (the VM is iterative; no recursion limit)
    def mr_group_spec():
        from dbt_icebreaker_spark.xops.match_recognize import (
            parse_pattern_full,
        )

        terms, tree = parse_pattern_full("(U D)+")
        return MatchRecognizeSpec(
            partition_by=["user_id"],
            order_by=["ts", "event_id"],
            measures=[Measure("n", "count", None, None)],
            pattern=terms,
            defines={"U": "value > PREV(value)",
                     "D": "value < PREV(value)"},
            tree=tree,
        )

    # alternate values across replicas so the deep fixture carries
    # genuine LONG up-down pair runs (equal replicated values would
    # produce zero pairs and a meaningless timing)
    evN_alt = (
        ev1.crossJoin(rep)
        .select(
            "user_id", "ts",
            (F.col("event_id") * REPLICAS + F.col("r")).alias("event_id"),
            "event_type",
            (F.col("value") + (F.col("r") % 2) * F.lit(10000.0))
            .alias("value"),
        )
        .localCheckpoint()
    )
    timed(
        "mr_groups_1x",
        lambda: {"matches": match_recognize(ev1, mr_group_spec()).count()},
    )
    timed(
        "mr_groups_Nx_alt_deep",
        lambda: {"matches": match_recognize(
            evN_alt, mr_group_spec()).count()},
    )

    # round-7: PERMUTE expands to k! alternation branches sharing the
    # same flag columns — per-partition cost must stay near the flat
    # pattern's (the visited-state set bounds the branch explosion),
    # and reluctant quantifiers only reorder split preferences (lazy
    # B+? over the deep fixture must track greedy B+'s wall time)
    def mr_r7_spec(pattern_text):
        from dbt_icebreaker_spark.xops.match_recognize import (
            parse_pattern_full,
        )

        terms, tree = parse_pattern_full(pattern_text)
        return MatchRecognizeSpec(
            partition_by=["user_id"],
            order_by=["ts", "event_id"],
            measures=[Measure("n", "count", None, None)],
            pattern=terms,
            defines={"U": "value > PREV(value)",
                     "D": "value < PREV(value)",
                     "S": "TRUE"},
            tree=tree,
        )

    timed(
        "mr_permute_Nx_alt_deep",
        lambda: {"matches": match_recognize(
            evN_alt, mr_r7_spec("PERMUTE(U, D, S)")).count()},
    )
    timed(
        "mr_lazy_Nx_alt_deep",
        lambda: {"matches": match_recognize(
            evN_alt, mr_r7_spec("S U+? D")).count()},
    )
    timed(
        "mr_greedy_Nx_alt_deep",
        lambda: {"matches": match_recognize(
            evN_alt, mr_r7_spec("S U+ D")).count()},
    )

    # round-7: COMPRESS family throughput — Arrow-batched codec map
    # work over every document text (embarrassingly parallel; the
    # number to watch is MB/s staying flat from 1x to Nx)
    timed(
        "compress_roundtrip_1x",
        lambda: {"rows": docs1.selectExpr(
            "decompress_string(compress(text, 'zlib'), 'zlib') AS t"
        ).where("t IS NOT NULL").count()},
    )
    timed(
        "compress_roundtrip_Nx",
        lambda: {"rows": docsN.selectExpr(
            "decompress_string(compress(text, 'zlib'), 'zlib') AS t"
        ).where("t IS NOT NULL").count()},
    )

    # q68 ASOF at N× with a HOT key: half of all click rows forced
    # onto user 0. The round-5 interval rewrite must plan as a plain
    # equi-join + window (the r4 LATERAL form fell into a domain
    # nested-loop join here: 2597 s; interval form: ~10 s).
    t = Transpiler()
    evS = evN_wide.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )
    evS.createOrReplaceTempView("smoke_events")
    asof_sql = t.to_spark(
        """
        WITH clicks AS (SELECT user_id, ts, event_id FROM smoke_events
                        WHERE event_type = 'click'),
             buys AS (SELECT user_id, ts AS buy_ts, MAX(value) AS buy_value
                      FROM smoke_events WHERE event_type = 'purchase'
                      GROUP BY user_id, ts)
        SELECT c.event_id, c.user_id, b.buy_ts, b.buy_value
        FROM clicks c ASOF JOIN buys b
             MATCH_CONDITION(c.ts >= b.buy_ts)
             ON c.user_id = b.user_id
        """
    )
    asof_df = spark.sql(asof_sql)
    plan = asof_df._jdf.queryExecution().executedPlan().toString()
    timed(
        "asof_lateral_Nx_skew",
        lambda: {
            "rows": asof_df.count(),
            "equi_join": "BroadcastHashJoin" in plan or "SortMergeJoin" in plan,
            "nested_loop": "NestedLoop" in plan or "CartesianProduct" in plan,
        },
    )
    # round-6: the general (conditional) MERGE path at 1× and N×. The
    # staged rewrite is ONE target LEFT JOIN source with per-column
    # CASE cascades; the duplicate-match guard is two counts observed
    # on the same write — wall-time must track input size and the
    # join must stay an equi-join.
    import tempfile
    import uuid

    from dbt_icebreaker_spark.runner import IcebreakerEngine

    orders1 = read_parquet(spark, f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    ordersN = (
        orders1.crossJoin(rep)
        .select(
            (F.col("o_orderkey") * REPLICAS + F.col("r")).alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice",
        )
        .localCheckpoint()
    )

    def merge_run(df):
        base = tempfile.mkdtemp(prefix="smoke_mrg_")
        db = f"smoke_mrg_{uuid.uuid4().hex[:8]}"
        spark.sql(f"CREATE DATABASE {db} LOCATION '{base}/wh'")
        eng = IcebreakerEngine(spark, schema=db)
        df.createOrReplaceTempView("smoke_mrg_src")
        df.write.saveAsTable(f"{db}.mrg_target")
        # doubled keys: even target keys match (update or delete by
        # price), keys past the range insert — all three clause kinds
        # fire at every scale
        eng.execute(f"""
            MERGE INTO {db}.mrg_target t
            USING (SELECT o_orderkey * 2 AS k, o_totalprice * 2 AS p
                   FROM smoke_mrg_src) s
            ON t.o_orderkey = s.k
            WHEN MATCHED AND s.p > 200000 THEN
              UPDATE SET o_totalprice = s.p
            WHEN MATCHED AND s.p <= 50000 THEN DELETE
            WHEN NOT MATCHED AND s.p > 300000 THEN
              INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
              VALUES (s.k, 0, 'N', s.p)
        """)
        rows = spark.table(f"{db}.mrg_target").count()
        spark.sql(f"DROP DATABASE {db} CASCADE")
        return {"rows": rows}

    timed("general_merge_1x", lambda: merge_run(orders1))
    timed("general_merge_Nx", lambda: merge_run(ordersN))
    spark.stop()


if __name__ == "__main__":
    main()
