"""Deduplication operators (SURVEY §2.6 X1) — designed for 100 TB.

All hashing is md5-based (hex-string min instead of integer min) so
every step is reproducible in ANSI SQL for the DuckDB oracle — and
md5-as-string preserves uniformity, so lexicographic min is a valid
MinHash permutation surrogate.

Scale design notes:
- shingling explodes O(tokens) rows but immediately re-aggregates per
  (doc, seed) with map-side partial min — shuffle carries only
  n_docs × n_hashes rows.
- LSH banding turns all-pairs O(n²) into a group-collect on band
  keys; band-key groups are the only quadratic site, bounded by
  max_bucket_size.
- exact dedup is one hash-aggregate, no join.

Each MinHash-LSH primitive (shingle, signature, band, pair) has ONE
rendering, a SQL fragment; the DataFrame entry points run a fragment
alone and minhash_signatures / minhash_lsh_pairs compose them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    smallest id kept (hash-groupBy; single shuffle on the 128-bit md5,
    no skew at any scale)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies", "text_hash")
    )


# The MinHash-LSH primitives below are SQL fragments, each one SELECT
# over a FROM source: "{docs}" when the fragment runs alone (spark.sql
# binds the DataFrame argument to a temp view for the one call and
# drops it), or the parenthesized fragment of the previous step when
# minhash_signatures / minhash_lsh_pairs compose them into one
# statement — one Catalyst analysis pass instead of ~25 chained ones
# (r13: ~0.5 s of driver time per call at sf0.1).
_DOCS = "{docs}"


def _bq(name: str) -> str:
    """Backtick-quote an identifier for the SQL fragments — column
    names with spaces, hyphens or reserved words must survive — and
    double its braces so spark.sql's DataFrame-argument formatter
    passes them through as text."""
    q = "`" + name.replace("`", "``") + "`"
    return q.replace("{", "{{").replace("}", "}}")


def _kgram_sql(words: str, k: int) -> str:
    """SQL text of the DISTINCT k-gram array of a word-array column.
    slice+array_join, NOT k element_at calls — codegen does no CSE
    across lambda boundaries, so per-element expressions re-evaluate
    whatever produced the array once per call (k× per gram); slice
    touches it once per gram. ``words`` should name a projected
    attribute so the split runs once per row. The size guard matters:
    Spark's sequence(1, 0) counts DOWN (bogus indices)."""
    return (
        f"CASE WHEN size({words}) >= {k} "
        f"THEN array_distinct(transform(sequence(1, size({words}) - {k - 1}), "
        f"i -> array_join(slice({words}, i, {k}), ' '))) END"
    )


def shingles_of(words: str, k: int):
    """Column expr: DISTINCT k-gram array of the word-array column
    named ``words`` — dedup happens per row, so shingling needs NO
    shuffle (vs explode+distinct, which shuffles every instance)."""
    return F.expr(_kgram_sql(words, k))


def _shingle_sql(src: str, id_col: str, text_col: str, k: int, par: int) -> str:
    """(id, shingle): distinct word k-grams per document. The text is
    repartitioned to full parallelism on the id first — document
    corpora often arrive as few large files (the testdata: one), and
    the CPU-heavy shingle fan-out would otherwise run on as many cores
    as there are input splits."""
    idq, txtq = _bq(id_col), _bq(text_col)
    return f"""
        SELECT {idq}, shingle
        FROM (SELECT /*+ REPARTITION({par}, {idq}) */
                     {idq}, split({txtq}, ' ') AS __words
              FROM {src})
        LATERAL VIEW explode({_kgram_sql("__words", k)}) t AS shingle
        WHERE shingle != ''
    """


def _sig_sql(src: str, id_col: str, n_hashes: int) -> str:
    """(id, "0".."{n-1}"): sig_i = min over the doc's shingles of
    md5(i || ':' || shingle), from (id, shingle) rows."""
    idq = _bq(id_col)
    sig_cols = ",\n               ".join(
        f"min(md5(concat_ws(':', {i}, shingle))) AS `{i}`" for i in range(n_hashes)
    )
    return f"""
        SELECT {idq},
               {sig_cols}
        FROM {src} GROUP BY {idq}
    """


def _band_sql(src: str, id_col: str, n_hashes: int, bands: int) -> str:
    """(id, band, band_key) from a wide signature source — band_key =
    md5 of the band's r=n_hashes/bands consecutive signature values.
    One explode instead of a bands-way union: the signature subtree is
    computed once, not ``bands`` times."""
    r = n_hashes // bands
    band_structs = ",\n                   ".join(
        "named_struct('band', {b}, 'band_key', md5(concat_ws('|', {b}, {cols})))".format(
            b=b, cols=", ".join(f"`{b * r + j}`" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
        SELECT {_bq(id_col)}, bk.band AS band, bk.band_key AS band_key
        FROM {src}
        LATERAL VIEW explode(array(
                   {band_structs})) t AS bk
    """


def _pairs_sql(src: str, id_col: str, max_bucket_size: int) -> str:
    """(doc_a, doc_b) distinct, doc_a < doc_b, from (id, band,
    band_key) rows. Group-collect instead of a self-join: the
    signature subtree is evaluated ONCE, and in-bucket pairs are a
    double explode of the sorted member list. Bucket size and anchor
    ride one window shuffle; buckets past ``max_bucket_size`` emit
    star pairs (anchor, id) instead (see minhash_lsh_pairs)."""
    idq = _bq(id_col)
    return f"""
        WITH ranked AS (
          SELECT {idq}, band, band_key,
                 COUNT(*) OVER (PARTITION BY band, band_key) AS __sz,
                 MIN({idq}) OVER (PARTITION BY band, band_key) AS __anchor
          FROM {src}
        ),
        pairs_exact AS (
          SELECT doc_a, doc_b
          FROM (SELECT sort_array(collect_list({idq})) AS ids
                FROM ranked
                WHERE __sz >= 2 AND __sz <= {max_bucket_size}
                GROUP BY band, band_key)
          LATERAL VIEW posexplode(ids) p AS pos, doc_a
          LATERAL VIEW explode(slice(ids, pos + 2, size(ids))) q AS doc_b
        ),
        pairs_star AS (
          SELECT __anchor AS doc_a, {idq} AS doc_b
          FROM ranked
          WHERE __sz > {max_bucket_size} AND {idq} != __anchor
        )
        SELECT DISTINCT CAST(doc_a AS BIGINT) AS doc_a,
                        CAST(doc_b AS BIGINT) AS doc_b
        FROM (SELECT doc_a, doc_b FROM pairs_exact
              UNION ALL
              SELECT doc_a, doc_b FROM pairs_star)
    """


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-grams per document: (id, shingle). JVM-side only
    (split/sequence/transform), no Python UDF."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.sparkSession.sql(_shingle_sql(_DOCS, id_col, text_col, k, par), docs=df)


def signatures_from_shingles(
    sh: DataFrame, id_col: str, n_hashes: int = 8
) -> DataFrame:
    """Signature aggregation over a precomputed (id, shingle) frame —
    for multi-consumer pipelines (jaccard estimate, fuzzy join) that
    shingle once and feed several consumers."""
    return sh.sparkSession.sql(_sig_sql(_DOCS, id_col, n_hashes), docs=sh)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    md5(i || ':' || shingle), i in [0, n_hashes). Output:
    (id, "0".."{n-1}") — one wide row per doc.

    Shape notes: explode + groupBy rather than n array_min
    projections over a shared shingle-array column — Catalyst's
    projection collapse would inline (= recompute) the shingling into
    every signature expression; the explode materializes each shingle
    exactly once, and the n mins run as parallel partial aggregates
    map-side, so the groupBy shuffle carries only n_docs rows."""
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = _shingle_sql(_DOCS, id_col, text_col, shingle_k, par)
    return df.sparkSession.sql(_sig_sql(f"({sh})", id_col, n_hashes), docs=df)


def band_keys(
    sig: DataFrame, id_col: str, n_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, band_key) rows from a wide signature frame (see
    _band_sql)."""
    return sig.sparkSession.sql(_band_sql(_DOCS, id_col, n_hashes, bands), docs=sig)


def pairs_from_signatures(
    sig: DataFrame,
    id_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH banding over a precomputed signature frame (see
    minhash_lsh_pairs for semantics; split out for signature reuse)."""
    banded = _band_sql(_DOCS, id_col, n_hashes, bands)
    return sig.sparkSession.sql(
        _pairs_sql(f"({banded})", id_col, max_bucket_size), docs=sig
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: docs sharing any
    band (md5 of r=n_hashes/bands consecutive signature values) become
    a candidate pair. Output: (doc_a, doc_b) distinct, doc_a < doc_b.

    Hot-bucket bound: buckets up to ``max_bucket_size`` emit exact
    all-pairs; larger buckets (empty/boilerplate docs hashing to one
    band key — the quadratic + giant-collect_list OOM risk at scale)
    degrade to star pairs (bucket_min_id, id) — connectivity (and thus
    downstream clustering) is preserved with O(bucket) pairs and
    graph diameter 2 (a chain would stall label propagation), and the
    member list is never materialized.

    The shingle → signature → band → pair fragments compose into ONE
    spark.sql statement, so the optimizer sees the whole pipeline in
    one analysis pass — oracle-locked via x02/x14/x57.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = _shingle_sql(_DOCS, id_col, text_col, shingle_k, par)
    sig = _sig_sql(f"({sh})", id_col, n_hashes)
    banded = _band_sql(f"({sig})", id_col, n_hashes, bands)
    return df.sparkSession.sql(
        _pairs_sql(f"({banded})", id_col, max_bucket_size), docs=df
    )


def incremental_lsh_dedup(
    new_df: DataFrame,
    existing_sigs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    broadcast_delta: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an already-deduped corpus whose
    MinHash signatures are persisted (the daily-crawl-increment
    workflow: signatures are written once per batch and accumulated;
    the corpus text is never re-read, re-shingled, or re-shuffled).

    A new doc is dropped when
      (a) any of its LSH bands matches an existing-corpus band, or
      (b) a band bucket contains a smaller-id doc of the same batch
          (keep-first; the one-pass bucket-min rule — exact transitive
          clustering within a batch is ``dedup_clusters``).

    Returns ``(kept_rows, kept_signatures)`` — append the latter to
    the signature store for the next increment.

    Scale shape: with ``broadcast_delta`` (default) the DELTA's band
    keys are broadcast and the corpus signature table is scanned
    map-side — zero shuffle of the corpus, cost O(|corpus|) scan +
    O(|delta|) shuffle, which is the whole point at 100 TB where the
    corpus side is ~1000× the daily increment. Set it False if a
    backfill-sized delta would not fit in a broadcast (falls back to a
    shuffled equi-join on band_key, still bucket-local).
    """
    # The delta's shingle→md5→min-signature pipeline is consumed three
    # times (broadcast band join, in-batch window, kept_sigs) — without
    # a checkpoint Spark re-executes the whole pipeline per consumer
    # (only the repartition exchange is reused; the SortAggregates ran
    # twice in the r12 plan). The LAZY localCheckpoint materializes it
    # exactly once, in the broadcast-build job that needs it first.
    # Cost posture at 100 TB: the delta is the small side by contract
    # (it is broadcast below), so its signature RDD is bounded.
    new_sigs = minhash_signatures(
        new_df, id_col, text_col, n_hashes=n_hashes, shingle_k=shingle_k
    ).localCheckpoint(eager=False)
    new_bands = band_keys(new_sigs, id_col, n_hashes=n_hashes, bands=bands)
    old_bands = band_keys(existing_sigs, id_col, n_hashes=n_hashes, bands=bands)
    delta = F.broadcast(new_bands) if broadcast_delta else new_bands
    dup_vs_old = (
        old_bands.join(delta.select(
            F.col(id_col).alias("__new_id"), "band", "band_key"
        ), ["band", "band_key"])
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    w = Window.partitionBy("band", "band_key")
    dup_in_batch = (
        new_bands.withColumn("__mn", F.min(F.col(id_col)).over(w))
        .where(F.col(id_col) != F.col("__mn"))
        .select(id_col)
        .distinct()
    )
    drops = dup_vs_old.unionByName(dup_in_batch).distinct()
    # drops ⊆ delta ids, so it inherits the delta's small-side bound:
    # broadcast both anti-joins — map-side drop, no shuffle of the
    # batch (or of the signature store's delta slice)
    if broadcast_delta:
        drops = F.broadcast(drops)
    kept = new_df.join(drops, id_col, "left_anti")
    kept_sigs = new_sigs.join(drops, id_col, "left_anti")
    return kept, kept_sigs


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint per doc from word unigrams.

    Bit b of the fingerprint: over distinct words w, let v(w) be the
    integer value of hex digit (b div 4) of md5(w) and bit(w,b) =
    (v >> (b mod 4)) & 1; fingerprint bit = 1 iff sum(2*bit-1) > 0.
    Output: (id, simhash) with the fingerprint as a {bits}-char
    bit-string (portable across engines — no 64-bit int overflow games).
    All arithmetic is integer → exactly reproducible in the oracle.
    """
    words = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
        .withColumn("h", F.md5(F.col("w")))
    )
    # value of hex digit i (0-based) of h: instr('0123..f', substr(h,i+1,1)) - 1
    bit_exprs = []
    for b in range(bits):
        hex_i = b // 4
        bit_k = b % 4
        v = F.instr(F.lit("0123456789abcdef"), F.substring(F.col("h"), hex_i + 1, 1)) - 1
        bit = F.shiftrightunsigned(v.cast("int"), bit_k) % 2
        bit_exprs.append(F.sum(bit * 2 - 1).alias(f"s{b}"))
    sums = words.groupBy(id_col).agg(*bit_exprs)
    fp = F.concat(*[F.when(F.col(f"s{b}") > 0, "1").otherwise("0") for b in range(bits)])
    return sums.select(F.col(id_col).cast("long").alias("doc_id"), fp.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs with
    |A∩B| / |A∪B| ≥ threshold. Candidate generation via the inverted
    shingle index (docs sharing ≥1 shingle), so disjoint docs never
    pair — still worst-case quadratic for near-identical corpora; use
    minhash_lsh_pairs as the prefilter at scale.

    Each side carries its shingle count (one window over the shingle
    rows), enabling (a) the lossless size-ratio prune in the join
    condition — J ≥ t implies t·max(|A|,|B|) ≤ min(|A|,|B|), so
    mismatched-size pairs are dropped before the pair aggregation —
    and (b) folding the sizes into the groupBy keys, which removes the
    two post-aggregation size-lookup joins the op otherwise needs.
    Output: (doc_a, doc_b, jaccard).

    One spark.sql statement over the shingle fragment (one Catalyst
    analysis pass — see minhash_lsh_pairs), oracle-locked via x04."""
    par = df.sparkSession.sparkContext.defaultParallelism
    t = f"CAST({threshold!r} AS DOUBLE)"
    idq = _bq(id_col)
    sql = f"""
        WITH sized AS (
          SELECT {idq}, shingle,
                 COUNT(*) OVER (PARTITION BY {idq}) AS n_sh
          FROM ({_shingle_sql(_DOCS, id_col, text_col, k, par)})
        )
        SELECT CAST(doc_a AS BIGINT) AS doc_a,
               CAST(doc_b AS BIGINT) AS doc_b,
               jaccard
        FROM (SELECT doc_a, doc_b,
                     CAST(n_shared / (na + nb - n_shared) AS DOUBLE) AS jaccard
              FROM (SELECT a.{idq} AS doc_a, b.{idq} AS doc_b,
                           a.n_sh AS na, b.n_sh AS nb,
                           COUNT(*) AS n_shared
                    FROM sized a JOIN sized b
                      ON a.shingle = b.shingle
                     AND a.{idq} < b.{idq}
                     AND a.n_sh * {t} <= b.n_sh
                     AND b.n_sh * {t} <= a.n_sh
                    GROUP BY a.{idq}, b.{idq}, a.n_sh, b.n_sh))
        WHERE jaccard >= {t}
    """
    return df.sparkSession.sql(sql, docs=df)


def common_shingle_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_df: int = 5,
) -> DataFrame:
    """Boilerplate signal per document: what fraction of a doc's
    distinct word k-grams also occur in ≥ min_df documents. High
    ratios mark template/boilerplate text (navigation chrome, license
    headers, spam mills) — the per-doc score the exact-substring-dedup
    literature (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") uses to decide which documents need span
    removal.

    Shape: one shingle explode, one groupBy(shingle) computing
    document frequency (map-side partial counts — word_shingles
    emits each (doc, shingle) once, so count(*) IS document
    frequency), then a join back on shingle and a per-doc aggregate.
    The shingle→doc join runs on the SAME key as the groupBy, so the
    exchange is reused, and the doc-frequency side is the smaller
    aggregated set. No quadratic site: cost is O(total shingles) at
    any corpus size.

    Output: (id, n_shingles, n_common, common_ratio).
    """
    sh = word_shingles(df, id_col, text_col, k=k)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("__df") >= min_df).cast("long")).alias("n_common"),
        )
        .withColumn(
            "common_ratio",
            (F.col("n_common") / F.greatest(F.col("n_shingles"), F.lit(1))).cast(
                "double"
            ),
        )
    )


def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    train_name: str = "train",
    n: int = 8,
) -> DataFrame:
    """Train/holdout leakage report: per non-train split, how many
    documents share at least one word n-gram with the training split
    (the train-side twin of benchmark decontamination — X9 guards
    against EXTERNAL eval sets, this guards the pipeline's own
    val/test splits after dedup-imperfect splitting).

    Unlike ngram_decontaminate, the gram index side here is the TRAIN
    split — most of the corpus — so no broadcast: the gram match is a
    plain shuffle equi-join on the gram (distinct-ed per side first,
    which is the big shrink), then one per-doc and one per-split
    aggregate. Cost is O(total grams) shuffle — the honest shape when
    the index side is 80% of 100 TB.

    Output: (split, n_docs, n_leaked, leak_ratio) — one row per
    non-train split.
    """
    g = (
        df.select(
            F.col(id_col),
            F.col(split_col),
            F.split(F.col(text_col), " ").alias("__words"),
        )
        .select(
            F.col(id_col),
            F.col(split_col),
            F.explode(shingles_of("__words", n)).alias("gram"),
        )
        .where(F.col("gram") != "")
    )
    train_grams = (
        g.where(F.col(split_col) == train_name).select("gram").distinct()
    )
    holdout = df.where(F.col(split_col) != train_name)
    hit_docs = (
        g.where(F.col(split_col) != train_name)
        .join(train_grams, "gram")
        .select(id_col, split_col)
        .distinct()
        .withColumn("__leaked", F.lit(1))
    )
    per_doc = holdout.select(id_col, split_col).join(
        hit_docs, [id_col, split_col], "left"
    )
    return (
        per_doc.groupBy(split_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("__leaked"), F.lit(0))).alias("n_leaked"),
        )
        .withColumn(
            "leak_ratio",
            (F.col("n_leaked") / F.greatest(F.col("n_docs"), F.lit(1))).cast(
                "double"
            ),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_df: int = 5,
) -> DataFrame:
    """Exact duplicate-span REMOVAL (the acting counterpart to
    common_shingle_stats' detection): cut every word span whose k-gram
    occurs in ≥ min_df documents, keeping the rest of the document —
    the Lee et al. 2022 exact-substring-dedup step that strips
    boilerplate/licenses/templates without dropping whole documents.

    Shape: grams WITH word positions (per-row array build, no
    shuffle), one groupBy(shingle) for document frequency, one join of
    positioned grams against the common-gram set (same key as the
    groupBy — exchange reused), one per-doc collect of span starts
    (bounded by words-per-doc, never corpus-sized), then a pure
    array-expression rebuild: covered positions = union of [s, s+k-1]
    windows, kept words = positions outside the cover. Per-row cost is
    O(words × covered) — document-bounded, so the op scales with the
    scan like every other text op.

    Output: (id, n_words, n_removed, cleaned_text) for EVERY input
    doc (docs with no duplicated span pass through intact).
    """
    words_col = F.split(F.col(text_col), " ")
    # all positioned k-grams (NOT distinct — every occurrence must be
    # removable), 1-based word positions
    grams = F.when(
        F.size("__words") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("__words") - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(F.col("__words"), i, k), " ").alias("shingle"),
            ),
        ),
    ).otherwise(F.array())
    pos_grams = (
        df.select(F.col(id_col), words_col.alias("__words"))
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.shingle").alias("shingle"))
    )
    # document frequency over DISTINCT per-doc grams (word_shingles —
    # the per-row array_distinct there beats a countDistinct expand
    # over the positioned grams, measured); a gram repeated inside
    # one doc is not "duplicated across docs"
    dfreq = (
        word_shingles(df, id_col, text_col, k=k)
        .groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("shingle")
    )
    starts = (
        pos_grams.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("__starts"), lambda s: F.sequence(s, s + (k - 1))
            )
        )
    )
    # kept positions via array_except (hash-set difference, O(n+m))
    # then O(1) element_at lookups — NOT an array_contains per word,
    # which is O(words x covered) and measured 10x slower on docs
    # whose cover spans the whole text (the boilerplate-heavy case
    # this op exists for)
    all_pos = F.when(
        F.size("__words") > 0,
        F.sequence(F.lit(1), F.size("__words")),
    ).otherwise(F.array().cast("array<int>"))
    kept_pos = F.array_sort(F.array_except(all_pos, F.col("__cov")))
    return (
        df.select(F.col(id_col), F.col(text_col), words_col.alias("__words"))
        .join(starts, id_col, "left")
        .withColumn("__cov", F.coalesce(covered, F.array().cast("array<int>")))
        .select(
            F.col(id_col).cast("long"),
            F.size("__words").cast("long").alias("n_words"),
            F.size("__cov").cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    kept_pos, lambda p: F.element_at(F.col("__words"), p)
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.35, max_id: int | None = None
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Brute-force all-pairs via self-join (correct baseline; the
    LSH-bucketed scale path is similarity.lsh_topk). The vectors and
    the cosine are similarity's one rendering: JVM-side double math,
    deterministic left-to-right summation, oracle-reproducible.
    """
    from .similarity import _cosine_sql, _vectors

    base = df
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    v = _vectors(base, id_col, vec_col, "vid")
    # the pair join is a broadcast nested loop whose cosine condition
    # contains higher-order functions (CodegenFallback → interpreted,
    # the dominant per-pair cost) — spread the STREAM side across the
    # cluster first: vector corpora often arrive as few large files
    # (here: one → a single task evaluated every pair). One cheap
    # shuffle of the (id, vec) rows; the broadcast side is unaffected.
    # Width-gated (r14, settling the r13 verdict's one open
    # regression): an input that already scans >= par files gains
    # nothing from the shuffle — skip it so already-parallel corpora
    # don't pay an extra exchange. The probe is the input file count:
    # analysis-only, so it launches no job even on a composed input
    # (an .rdd partition probe would physical-plan the input and fire
    # its broadcast jobs). Non-file inputs report zero files and keep
    # the repartition.
    par = df.sparkSession.sparkContext.defaultParallelism
    a = v
    if len(df.inputFiles()) < par:
        a = a.repartition(par, F.col("vid"))
    a = a.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").cast("long").alias("vec_a"),
            F.col("b.vid").cast("long").alias("vec_b"),
            F.expr(_cosine_sql("a.vid", "b.vid")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# Edge-set size at or below which dedup_clusters stops running star
# rounds and labels the components on the driver. Measured crossover
# on local[4] (SCALE.md, "dedup_clusters driver finish"): the driver
# finish still wins at 3M edges; the cap bounds what one call pulls to
# the driver (16 bytes an edge as Arrow, ~16 MB here).
_DRIVER_FINISH_EDGES = 1_000_000


def _driver_labels(edges: DataFrame) -> DataFrame:
    """(__cc_id, __cc_label) for every node of a small checkpointed
    edge set, labelled on the driver: the edges arrive as one Arrow
    table, the nodes are renumbered by ``np.unique`` (sorted, so the
    smallest index is the smallest id), and a vectorized union-find
    hooks every tree root under the smallest root it shares an edge
    with, then pointer-jumps until each node points at its root. A
    root is the minimum of its tree, so the root is the component's
    minimum id. The frame is built from the Arrow table, not a Python
    list: a list would become a Python RDD and start Python workers
    when broadcast."""
    import numpy as np
    import pyarrow as pa

    t = edges.toArrow()
    ends = np.concatenate([t.column("src").to_numpy(), t.column("dst").to_numpy()])
    nodes, idx = np.unique(ends, return_inverse=True)
    a, b = np.split(idx, 2)
    parent = np.arange(len(nodes))
    while True:
        while not np.array_equal(up := parent[parent], parent):
            parent = up
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            break
        np.minimum.at(parent, np.maximum(ra, rb)[cross], np.minimum(ra, rb)[cross])
    return edges.sparkSession.createDataFrame(
        pa.table({"__cc_id": nodes, "__cc_label": nodes[parent]})
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → one cluster per
    duplicate group, cluster_id = min doc id in the component; the
    canonical (kept) doc is the minimum.

    This is the step a real dedup pipeline needs AFTER LSH: candidate
    pairs are transitive ("a≈b, b≈c" ⇒ one group {a,b,c}), so keeping
    "one doc per pair" over- or under-deletes.

    Large edge sets contract with the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014) rather than min-label
    propagation:

    - **large-star**: every node links its larger neighbors to the
      minimum of its closed neighborhood; **small-star**: every node
      links its smaller neighbors (and itself) to that minimum. One
      alternation contracts star-shaped regions, so rounds are
      O(log n) in the worst case instead of component diameter —
      on a 100 TB corpus with a few deep chains that is the
      difference between 4 and 40 shuffles;
    - each alternation is one spark.sql statement: two window mins,
      no joins, no distinct, O(E);
    - every edge set (the input and each round's output) is an EAGER
      ``localCheckpoint`` — it truncates lineage, without which the
      plan doubles per round — and the edge count and the
      (count, sum(src), sum(dst)) checksum ride its materialization
      job as an Observation, so reading them launches no job.

    Termination, checked before every round (round 0 included):

    - **driver finish**: once the exact edge count is at most
      ``_DRIVER_FINISH_EDGES``, the edges are pulled as Arrow and
      labelled by a vectorized union-find on the driver
      (``_driver_labels``), and the labels are broadcast back. Both
      star ops keep every node and its component, so labels from any
      round's edge set equal the fixpoint's. The pull is bounded by
      that count, never by an estimate. Small graphs (most dedup
      batches) run no star round at all;
    - **fixpoint**: the checksum of two consecutive rounds is equal
      exactly at the fixpoint (dst labels are monotonically
      non-increasing); the fixpoint edge set is a union of stars
      (node, component min), read back with one distributed group-by;
    - otherwise, after ``max_iter`` rounds, ValueError — never a
      partially contracted (wrong) clustering.

    ``stats``, if given, receives {"rounds": n}, the number of star
    rounds run. If ``docs`` is given, singleton documents (no near-dup
    edges) are included as their own cluster. Output:
    (doc_id, cluster_id, is_canonical).
    """
    from pyspark.sql import Observation

    def _observed_checkpoint(edges: DataFrame):
        obs = Observation()  # unnamed = a fresh random name per call
        ck = edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("src").alias("s"),
            F.sum("dst").alias("d"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return ck, (m["n"], m["s"], m["d"])

    # Both star ops compute "minimum of the closed neighborhood" with a
    # WINDOW min over partitionBy(src) instead of groupBy+self-join:
    # one shuffle instead of two, and no self-join (lazily-checkpointed
    # self-joins trip Catalyst's attribute dedup in Spark 4.1).
    #
    # Neither op dedupes its output: each input edge emits at most one
    # output edge (+ ≤V self-links), so the edge MULTISET never grows —
    # duplicates ride along instead of paying a distinct shuffle per
    # half-round (2 shuffles/round instead of 4; measured ~2× faster at
    # sf0.1). Both ops preserve the multiset at the fixpoint, so the
    # checksum convergence test is unaffected; the final groupBy in
    # comp construction dedupes once.
    #
    # The full alternation (large star ∘ small star) is ONE spark.sql
    # statement over the checkpointed edges: a chained DataFrame
    # rendering re-ran Catalyst analysis on every transformation (~15
    # analysis passes/round, measured ~0.2 s/round of pure driver time
    # at sf0.1 — r13 optimization round); one SQL statement is one
    # analysis pass, with the same physical plan.
    round_sql = """
        WITH ls AS (
          SELECT dst AS src, m AS dst FROM (
            SELECT src, dst, LEAST(MIN(dst) OVER (PARTITION BY src), src) AS m
            FROM (SELECT src, dst FROM {edges}
                  UNION ALL
                  SELECT dst AS src, src AS dst FROM {edges})
          ) WHERE dst > src AND dst <> m
        )
        SELECT e.s AS src, e.m AS dst
        FROM (
          SELECT src, dst,
                 MIN(dst) OVER (PARTITION BY src) AS m,
                 ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
          FROM (SELECT GREATEST(src, dst) AS src, LEAST(src, dst) AS dst
                FROM ls)
        )
        LATERAL VIEW explode(CASE WHEN rn = 1
            THEN array(named_struct('s', dst, 'm', m),
                       named_struct('s', src, 'm', m))
            ELSE array(named_struct('s', dst, 'm', m)) END) t AS e
        WHERE e.s <> e.m
    """

    # no input distinct: duplicate / reversed pairs are tolerated by
    # both star ops (multiset stays bounded, dupes collapse through
    # small-star's center pass) and by the driver finish, and LSH pair
    # generators already dedupe — a shuffle here would be pure overhead
    edges, cur = _observed_checkpoint(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # the input's checksum never counts towards convergence: only a
    # round's output is in the stars form the fixpoint test assumes
    prev = None
    rounds = 0
    while cur[0] > _DRIVER_FINISH_EDGES and cur != prev:
        if rounds == max_iter:
            raise ValueError(
                f"dedup_clusters: no fixpoint after {max_iter} star rounds "
                f"and {cur[0]} edges remain, above the driver-finish cap "
                f"of {_DRIVER_FINISH_EDGES} — raise max_iter"
            )
        prev = cur if rounds else None
        edges, cur = _observed_checkpoint(
            pairs.sparkSession.sql(round_sql, edges=edges)
        )
        rounds += 1
    if stats is not None:
        stats["rounds"] = rounds
    if cur[0] <= _DRIVER_FINISH_EDGES:
        comp = F.broadcast(_driver_labels(edges))
    else:
        # fixpoint edge set is a union of stars: (node, component_min)
        # for every non-min node; minima label themselves
        comp = edges.select(
            F.col("src").alias("__cc_id"), F.col("dst").alias("__cc_label")
        ).unionByName(
            edges.select(
                F.col("dst").alias("__cc_id"), F.col("dst").alias("__cc_label")
            )
        ).groupBy("__cc_id").agg(F.min("__cc_label").alias("__cc_label"))
    if docs is not None:
        out = docs.select(F.col(id_col).cast("long").alias("doc_id")).join(
            comp, F.col("doc_id") == F.col("__cc_id"), "left"
        )
        cluster = F.coalesce("__cc_label", F.col("doc_id"))
    else:
        out = comp.select(F.col("__cc_id").alias("doc_id"), "__cc_label")
        cluster = F.col("__cc_label")
    return out.select(
        F.col("doc_id"),
        cluster.cast("long").alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_canonical"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with a held-out benchmark/eval set (the standard
    13-gram test-set-leak filter from LLM pretraining, parameterized).

    Shape: the benchmark side is small by definition (eval sets are
    MBs against a 100 TB corpus), so its distinct n-grams broadcast
    and the corpus-side probe is a map-side broadcast hash join — no
    shuffle of the corpus grams at all; the per-doc hit count then
    aggregates with map-side partial combine on the doc id. At extreme
    benchmark sizes swap the broadcast for a bloom filter over 64-bit
    gram hashes (same plan shape, constant memory).

    Output: (doc_id, n_hit_grams, contaminated) — one row per corpus
    document, deterministic and plain-SQL oracle-checkable.
    """
    bench_grams = (
        benchmark.select(F.split(F.lower(F.col(text_col)), " ").alias("__words"))
        .select(F.explode(shingles_of("__words", n)).alias("gram"))
        .where(F.col("gram") != "")
        .distinct()
    )
    corpus_grams = (
        corpus.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.split(F.lower(F.col(text_col)), " ").alias("__words"),
        )
        .select(
            F.col("doc_id"),
            F.explode(shingles_of("__words", n)).alias("gram"),
        )
        .where(F.col("gram") != "")
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )
    return (
        corpus.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Sketch accuracy, measured: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (signature agreement rate — what a 100 TB
    pipeline would threshold on) next to the EXACT shingle Jaccard
    (ground truth, affordable only on the candidate subset). The gap
    between the two columns IS the sketch error, so LSH parameters
    (n_hashes/bands) can be tuned against data instead of folklore.

    Shape: signatures and pairs reuse the minhash pipeline (explode +
    partial-min agg); exact intersection joins each side's distinct
    shingles only WITHIN candidate pairs — O(candidates × shingles),
    never all-pairs. All hashing is md5 → fully oracle-checkable.

    Caveats: pairs inherit ``max_bucket_size`` hot-bucket degradation
    (buckets past the cap emit star pairs, not all pairs) — a plain-SQL
    oracle enumerating exact per-bucket pairs only matches while every
    bucket is under the cap.

    Output: (doc_a, doc_b, est_jaccard, exact_jaccard).
    """
    # shingles feed three consumers (signatures → est + pairs, exact
    # intersection, per-doc counts) and signatures feed two — LAZY
    # local checkpoints run the shingle fan-out once, in the first job
    # that needs it, and (unlike persist) leave no CacheManager entry
    # that outlives the call or serves a later query's plan
    sh_raw = word_shingles(df, id_col, text_col, k=shingle_k).localCheckpoint(
        eager=False
    )
    sig = signatures_from_shingles(sh_raw, id_col, n_hashes=n_hashes).localCheckpoint(
        eager=False
    )
    pairs = pairs_from_signatures(
        sig, id_col, n_hashes=n_hashes, bands=bands,
        max_bucket_size=max_bucket_size,
    )
    sig_a = sig.select(
        F.col(id_col).cast("long").alias("doc_a"),
        *[F.col(str(i)).alias(f"__a{i}") for i in range(n_hashes)],
    )
    sig_b = sig.select(
        F.col(id_col).cast("long").alias("doc_b"),
        *[F.col(str(i)).alias(f"__b{i}") for i in range(n_hashes)],
    )
    agree = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    est = (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a", "doc_b",
            (agree.cast("double") / F.lit(float(n_hashes))).alias("est_jaccard"),
        )
    )
    sh = sh_raw.select(F.col(id_col).cast("long").alias("__sid"), "shingle")
    counts = sh.groupBy("__sid").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("__sid", "doc_a"), "doc_a")
        .join(
            sh.select(F.col("__sid").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("__inter"))
    )
    return (
        est.join(counts.select(F.col("__sid").alias("doc_a"), F.col("n_sh").alias("__na")), "doc_a")
        .join(counts.select(F.col("__sid").alias("doc_b"), F.col("n_sh").alias("__nb")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a", "doc_b", "est_jaccard",
            (
                F.coalesce("__inter", F.lit(0)).cast("double")
                / (F.col("__na") + F.col("__nb") - F.coalesce("__inter", F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )


def dedupe_lines_global(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """C4-style corpus-wide LINE deduplication (Raffel et al. 2020
    kept only one occurrence of any three-sentence span; the common
    line-level rendering drops every line whose exact text appears in
    ≥ min_df documents — navigation chrome, cookie banners, license
    headers). Documents are rebuilt from their surviving lines in
    original order; line-less docs pass through intact.

    Shape: lines with positions are a per-row array build (no
    shuffle); ONE groupBy(line) over distinct (doc, line) pairs
    computes document frequency; the common-line set is joined back on
    the same key (exchange reused) and the rebuild is a pure array
    expression (array_except on positions) — the corpus is never
    pair-joined, so cost is O(total lines) at any scale, the same
    argument as remove_duplicate_spans.

    Output: (id, n_lines, n_removed, cleaned_text).
    """
    # F.split takes a REGEX; the separator is a literal (and the
    # rebuild joins it literally) — escape metacharacters so sep='.'
    # or '|' can't silently shred the text
    sep_re = "".join(
        ("\\" + ch) if ch in "\\.[]{}()*+?^$|" else ch for ch in sep
    )
    lines_col = F.split(F.col(text_col), sep_re)
    base = df.select(F.col(id_col), lines_col.alias("__lines"))
    pos_lines = base.select(
        F.col(id_col),
        F.posexplode(F.col("__lines")).alias("pos", "line"),
    ).where(F.trim(F.col("line")) != "")
    common = (
        pos_lines.select(id_col, "line")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
        .select("line")
    )
    hit_positions = (
        pos_lines.join(common, ["line"])
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__hits"))
    )
    rebuilt = (
        base.join(hit_positions, [id_col], "left")
        .select(
            F.col(id_col),
            F.size("__lines").alias("n_lines"),
            F.coalesce(F.size("__hits"), F.lit(0)).alias("n_removed"),
            F.array_join(
                F.transform(
                    # surviving positions in original order —
                    # array_except is the hash-set difference (and
                    # preserves first-array order), not a per-position
                    # scan of the hit list (same 8× lesson as
                    # remove_duplicate_spans)
                    F.array_except(
                        F.sequence(F.lit(0), F.size("__lines") - 1),
                        F.coalesce(F.col("__hits"), F.array().cast("array<int>")),
                    ),
                    lambda p: F.element_at(F.col("__lines"), p + 1),
                ),
                sep,
            ).alias("cleaned_text"),
        )
    )
    return rebuilt


def tune_lsh(
    target_jaccard: float,
    max_hashes: int = 128,
) -> dict:
    """Pick (n_hashes, bands, rows_per_band) whose S-curve threshold
    sits closest to `target_jaccard` — the standard MMDS tuning rule
    t ≈ (1/b)^(1/r) for candidate probability 1 − (1 − s^r)^b, so the
    LSH parameters come from the similarity you actually care about
    instead of folklore defaults. Complements minhash_jaccard_estimate
    (x25), which measures the realized accuracy on YOUR corpus.

    Returns {n_hashes, bands, rows_per_band, threshold, p_at_target,
    p_at_low}: p_at_target = candidate probability exactly at the
    target (want high), p_at_low = probability at half the target
    (want low — controls wasted verification work)."""
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError("target_jaccard must be in (0, 1)")
    best = None
    for r in range(1, max_hashes + 1):
        for b in range(1, max_hashes // r + 1):
            n = r * b
            if n > max_hashes:
                continue
            thr = (1.0 / b) ** (1.0 / r)
            score = abs(thr - target_jaccard)
            # prefer fewer hashes on ties (cheaper signatures)
            key = (score, n)
            if best is None or key < best[0]:
                best = (key, r, b, n, thr)
    _, r, b, n, thr = best
    p = lambda s: 1.0 - (1.0 - s ** r) ** b
    return {
        "n_hashes": n,
        "bands": b,
        "rows_per_band": r,
        "threshold": round(thr, 4),
        "p_at_target": round(p(target_jaccard), 4),
        "p_at_low": round(p(target_jaccard / 2), 4),
    }


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str | None = None,
    k: int = 2,
    threshold: float = 0.5,
    n_hashes: int = 8,
    bands: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Bipartite similarity join (record linkage / entity resolution):
    pair every left row with the right rows whose word-k-gram Jaccard
    ≥ threshold — "which crawl pages match which benchmark docs",
    "which vendor names match which ledger entries".

    Two physical strategies, identical results above the threshold:

    - ``exact=True``: inverted-index join on shared shingles with the
      lossless size-ratio prune (J ≥ t ⇒ t·max(|A|,|B|) ≤ min) — the
      oracle baseline; worst-case quadratic on near-identical sides.
    - ``exact=False`` (default): MinHash-LSH blocking FIRST — both
      sides get signatures from the SAME hash family, candidates are
      the (band, band_key) matches, and only candidates pay the exact
      Jaccard verification. At 100 TB this is the only shape: the
      cross-side work is proportional to true matches, not |L|×|R|;
      LSH recall at the threshold follows the tuned S-curve
      (see tune_lsh) — pairs far above threshold are found with
      probability ≈ 1, borderline pairs can be missed (documented
      approximation, verification never admits false positives).

    Output: (left_id, right_id, jaccard) with original ids.
    """
    rt = right_text or left_text
    # disambiguate ids into one namespace-tagged column set
    lsh_frame = left.select(
        F.col(left_id).alias("__lid"), F.col(left_text).alias("__text")
    )
    rsh_frame = right.select(
        F.col(right_id).alias("__rid"), F.col(rt).alias("__text")
    )
    l_sh = word_shingles(lsh_frame, "__lid", "__text", k=k).withColumn(
        "n_l", F.count("*").over(Window.partitionBy("__lid"))
    )
    r_sh = word_shingles(rsh_frame, "__rid", "__text", k=k).withColumn(
        "n_r", F.count("*").over(Window.partitionBy("__rid"))
    )

    def verified(pairs_pruned: DataFrame) -> DataFrame:
        shared = (
            pairs_pruned.groupBy("__lid", "__rid", "n_l", "n_r")
            .agg(F.count("*").alias("n_shared"))
            .withColumn(
                "jaccard",
                (
                    F.col("n_shared")
                    / (F.col("n_l") + F.col("n_r") - F.col("n_shared"))
                ).cast("double"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        return shared.select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            "jaccard",
        )

    if exact:
        joined = l_sh.join(
            r_sh,
            (l_sh["shingle"] == r_sh["shingle"])
            & (l_sh["n_l"] * threshold <= r_sh["n_r"])
            & (r_sh["n_r"] * threshold <= l_sh["n_l"]),
        ).select("__lid", "__rid", "n_l", "n_r")
        return verified(joined)

    # LSH blocking: same hash family on both sides → band-key equi-join
    l_sig = signatures_from_shingles(l_sh.select("__lid", "shingle"), "__lid", n_hashes)
    r_sig = signatures_from_shingles(r_sh.select("__rid", "shingle"), "__rid", n_hashes)
    l_bk = band_keys(l_sig, "__lid", n_hashes=n_hashes, bands=bands)
    r_bk = band_keys(r_sig, "__rid", n_hashes=n_hashes, bands=bands)
    cand = (
        l_bk.join(r_bk, ["band", "band_key"])
        .select("__lid", "__rid")
        .distinct()
    )
    # exact verification only on candidates: fan candidates to their
    # left shingles, then hash equi-join on (right id, shingle) — the
    # shingle is IN the join key, so the intermediate is the shared-
    # shingle rows, never a per-pair S_L × S_R cross product
    cand_sh = (
        cand.join(l_sh.select("__lid", "shingle", "n_l"), ["__lid"])
        .join(r_sh.select("__rid", "shingle", "n_r"), ["__rid", "shingle"])
        .where(
            (F.col("n_l") * threshold <= F.col("n_r"))
            & (F.col("n_r") * threshold <= F.col("n_l"))
        )
        .select("__lid", "__rid", "n_l", "n_r")
    )
    return verified(cand_sh)


def keep_best(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Curation policy over dedup clusters: keep the HIGHEST-quality
    member of every duplicate group instead of the min-id canonical
    (dedup_clusters' default) — real pipelines keep the cleanest copy,
    not the earliest-crawled one. Ties break on smallest id so the
    choice is deterministic.

    One window shuffle on cluster_id (cluster sizes are small by
    construction — near-dup groups — so no skew risk). Output:
    (id, cluster_id, score, kept). Members missing from ``quality``
    stay in the output with a NULL score and can only win a cluster
    when every member is unscored (desc ordering puts NULLs last) —
    an inner join would silently DROP them from the curation output.
    """
    joined = clusters.select(id_col, "cluster_id").join(
        quality.select(id_col, score_col), id_col, "left"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col(score_col).alias("score"),
            (F.col("__rn") == 1).alias("kept"),
        )
    )
