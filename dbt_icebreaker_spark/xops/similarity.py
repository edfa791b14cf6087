"""Similarity search over embedding columns (SURVEY §2.6 X2).

Baseline: brute-force cosine top-k (exact; the oracle path).
Scale path: random-hyperplane LSH bucketing — candidates only within
matching buckets, then exact re-rank. At 100 TB the bucketed join
replaces the broadcast cross-join; bucket count scales with corpus
size so per-bucket work stays bounded.
"""

from __future__ import annotations

import math

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _bq


def _as_double_vec(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    v = df.select(
        F.col(id_col).alias(out_id),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(f"{out_id}_vec"),
    )
    return v.withColumn(
        f"{out_id}_norm",
        F.sqrt(
            F.aggregate(
                F.col(f"{out_id}_vec"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    queries is small ⇒ broadcast it; the corpus streams through one
    stage (no shuffle until the per-query top-k, which AQE keeps tiny
    because only k rows per query survive the window filter's
    partial-rank pushdown). Output: (query_id, neighbor_id, cosine,
    rank), ties broken by neighbor_id.

    One spark.sql statement (one Catalyst analysis pass — see
    dedup.minhash_lsh_pairs), oracle-locked via x06.
    """

    def _vec_cte(src: str, out_id: str) -> str:
        return f"""
          SELECT {out_id}, {out_id}_vec,
                 sqrt(aggregate({out_id}_vec, 0.0D,
                                (acc, x) -> acc + x * x)) AS {out_id}_norm
          FROM (SELECT {_bq(id_col)} AS {out_id},
                       transform({_bq(vec_col)}, x -> CAST(x AS DOUBLE))
                         AS {out_id}_vec
                FROM {src})
        """

    sql = f"""
        WITH q AS ({_vec_cte("{queries}", "query_id")}),
        c AS ({_vec_cte("{corpus}", "neighbor_id")}),
        scored AS (
          SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
                 aggregate(zip_with(query_id_vec, neighbor_id_vec,
                                    (x, y) -> x * y),
                           0.0D, (acc, x) -> acc + x)
                 / (query_id_norm * neighbor_id_norm) AS cosine
          FROM c JOIN q ON neighbor_id != query_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(neighbor_id AS BIGINT) AS neighbor_id,
               cosine,
               CAST(rank AS INT) AS rank
        FROM (SELECT query_id, neighbor_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC,
                                                 neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= {k}
    """
    return corpus.sparkSession.sql(sql, corpus=corpus, queries=queries)


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of dot products
    with n_planes fixed pseudo-random hyperplanes.

    Planes are generated ONCE on the driver from the seed and baked
    into the plan as literals — executors never regenerate them, so
    the operator is reproducible across runs/retries (needed for
    incremental re-indexing), and any engine can replay the exact
    bucketing from the same (seed, n_planes, dim) literals (the x11
    oracle does).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim)).tolist()
    planes_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in p]) for p in planes]
    )
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        planes_lit.alias("planes"),
    )
    bits = F.transform(
        F.col("planes"),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col("vec"), p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return v.select(
        F.col(id_col), F.array_join(bits, "").alias("bucket"), F.col("vec")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the
    query, then exact cosine re-rank. Recall < 1.0 by construction —
    this is the 1000-executor path where brute force is infeasible;
    multi-probe (flip one bit) widens recall.

    ``round_to`` ranks on the cosine ROUNDED to that many decimals
    (ties then break on neighbor_id): summation order differs across
    engines at ~1e-15, so rounding makes the ranking reproducible
    engine-to-engine — which is what lets the corpus entry carry a
    DuckDB oracle for an approximate operator."""
    cb = hyperplane_buckets(corpus, id_col, vec_col, n_planes, dim, seed)
    qb = hyperplane_buckets(queries, id_col, vec_col, n_planes, dim, seed)
    qb = qb.select(
        F.col(id_col).alias("query_id"),
        F.col("bucket"),
        F.col("vec").alias("qvec"),
    )
    cb = cb.select(
        F.col(id_col).alias("neighbor_id"), F.col("bucket"), F.col("vec").alias("cvec")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qnorm = F.sqrt(F.aggregate(F.col("qvec"), F.lit(0.0), lambda a, x: a + x * x))
    cnorm = F.sqrt(F.aggregate(F.col("cvec"), F.lit(0.0), lambda a, x: a + x * x))
    cos = dot / (qnorm * cnorm)
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        cb.join(F.broadcast(qb), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
            F.col("rank").cast("int"),
        )
    )


def kmeans_centroids(
    base: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
    centroid_round: Optional[int] = None,
) -> DataFrame:
    """Deterministic mini k-means for IVF coarse quantization, pure
    DataFrame ops (no MLlib, no RDD, no Python in the loop).

    - init: the ``n_cells`` vectors with smallest md5(id) — a
      deterministic pseudo-random sample, reproducible across runs
      and executors (no RNG state to ship);
    - Lloyd iteration: assign every vector to its nearest centroid
      (broadcast the ≤n_cells centroids; argmin via a per-row
      array-aggregate, NO shuffle), then new centroid = element-wise
      mean (posexplode → groupBy(cell, pos) — one shuffle of
      n_vectors × dim skinny rows with map-side partial avg).

    At 100 TB: iters stays small (IVF needs rough cells, not
    converged ones) and each iteration is one scan + one skinny
    shuffle; n_cells should scale ~sqrt(n_vectors).

    Rendered as ONE spark.sql statement with the Lloyd iterations
    unrolled as CTEs (r13 optimization round): the chained DataFrame
    rendering nested each iteration inside the next and re-ran
    Catalyst analysis per transformation (~0.6 s of driver time per
    call at sf0.1, paid by x38/x11/x15); one statement is one
    analysis pass. The argmin sits in a projection BELOW the
    posexplode — in the same SELECT as the LATERAL VIEW it would
    re-evaluate per exploded element, dim× per vector. Oracle-locked
    via x38/x11/x15.

    centroid_round quantizes each mean (e.g. 9 dp): summation order
    across engines/partitions perturbs the last bits, and an
    unrounded centroid would let that noise flip a nearest-cell
    argmin — the one cascade point in an otherwise deterministic
    pipeline (same defense as lsh_topk.round_to).
    """
    argmin = (
        "array_min(transform(cs, c -> named_struct('dist', "
        "aggregate(zip_with(bid_vec, c.centroid, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, d) -> acc + d), 'cell', c.cell))).cell"
    )
    mean_expr = (
        "avg(x)" if centroid_round is None
        else f"round(avg(x), {centroid_round})"
    )
    ctes = []
    prev = "init"
    for i in range(1, iters + 1):
        ctes.append(f""",
        cents{i} AS (
          SELECT collect_list(named_struct('cell', cell, 'centroid', centroid)) AS cs
          FROM {prev}
        ),
        centroids{i} AS (
          SELECT cell,
                 transform(array_sort(collect_list(named_struct('pos', pos, 'm', m))),
                           s -> s.m) AS centroid
          FROM (SELECT cell, {mean_expr} AS m, pos
                FROM (SELECT cell, pos, x
                      FROM (SELECT {argmin} AS cell, bid_vec
                            FROM (SELECT /*+ BROADCAST(c) */ bid_vec, cs
                                  FROM v CROSS JOIN cents{i} c)) z
                      LATERAL VIEW posexplode(bid_vec) t AS pos, x)
                GROUP BY cell, pos)
          GROUP BY cell
        )""")
        prev = f"centroids{i}"
    sql = f"""
        WITH v AS (
          SELECT {_bq(id_col)} AS bid,
                 transform({_bq(vec_col)}, x -> CAST(x AS DOUBLE)) AS bid_vec
          FROM {{base}}
        ),
        init AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY __ord) AS INT) AS cell,
                 bid_vec AS centroid
          FROM (SELECT md5(CAST(bid AS STRING)) AS __ord, bid_vec
                FROM v ORDER BY __ord LIMIT {n_cells})
        ){''.join(ctes)}
        SELECT cell, centroid FROM {prev}
    """
    return base.sparkSession.sql(sql, base=base)


def _nearest_cell(cells_col, vec_col):
    """argmin_{cell} squared-L2(vec, centroid) as a single array
    aggregate — evaluated per row against the broadcast centroid list,
    ties broken by cell id for determinism."""
    scored = F.transform(
        cells_col,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(vec_col, c["centroid"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("dist"),
            c["cell"].alias("cell"),
        ),
    )
    return F.array_min(scored)["cell"]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    round_to: Optional[int] = None,
    centroid_round: Optional[int] = None,
) -> DataFrame:
    """IVF approximate nearest neighbor — the scale path past
    brute-force (cosine_topk) and hyperplane LSH (lsh_topk).

    Index: k-means cells over the corpus; every vector joins its
    nearest cell (one skinny shuffle on cell id). Search: each query
    probes its ``n_probe`` nearest cells and ranks ONLY those cells'
    members exactly — the 1/(n_cells/n_probe) candidate fraction is
    the speedup, recall degrades gracefully with n_probe.

    All JVM-side array math; the only shuffle in the search is the
    per-query top-k window over candidates. Output: (query_id,
    neighbor_id, cosine, rank).
    """
    centroids = kmeans_centroids(
        corpus, id_col, vec_col, n_cells, iters, centroid_round=centroid_round
    )
    cents = centroids.groupBy().agg(
        F.collect_list(F.struct("cell", "centroid")).alias("cs")
    )
    c = _as_double_vec(corpus, id_col, vec_col, "neighbor_id")
    inv = c.crossJoin(F.broadcast(cents)).select(
        "neighbor_id",
        "neighbor_id_vec",
        "neighbor_id_norm",
        _nearest_cell(F.col("cs"), F.col("neighbor_id_vec")).alias("cell"),
    )
    q = _as_double_vec(queries, id_col, vec_col, "query_id")
    probed = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "query_id_vec",
            "query_id_norm",
            F.explode(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.transform(
                                F.col("cs"),
                                lambda cc: F.struct(
                                    F.aggregate(
                                        F.zip_with(
                                            F.col("query_id_vec"),
                                            cc["centroid"],
                                            lambda x, y: (x - y) * (x - y),
                                        ),
                                        F.lit(0.0),
                                        lambda acc, d: acc + d,
                                    ).alias("dist"),
                                    cc["cell"].alias("cell"),
                                ),
                            )
                        ),
                        lambda s: s["cell"],
                    ),
                    1,
                    n_probe,
                )
            ).alias("cell"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("query_id_vec"), F.col("neighbor_id_vec"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos_expr = dot / (F.col("query_id_norm") * F.col("neighbor_id_norm"))
    if round_to is not None:
        # round BEFORE ranking so cross-engine summation noise cannot
        # swap near-tie ranks (the x11/lsh_topk defense)
        cos_expr = F.round(cos_expr, round_to)
    scored = (
        probed.join(inv, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos_expr.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            "cosine",
            F.col("rank").cast("int"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_cells: int = 16,
    iters: int = 2,
    centroid_round: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, then drop every vector that has a
    same-cell neighbor with cosine ≥ threshold and a smaller id (the
    deterministic keep-lowest-id rule — one survivor per near-dup
    chain within a cell).

    The cluster step bounds the pair search: all-pairs cosine runs
    only WITHIN a cell, so the quadratic term is (corpus/n_cells)²
    per cell instead of corpus² — with n_cells ~ sqrt(n), total work
    stays ~n^1.5 and each cell's pair join is an independent
    partition-local task. The price is the SemDeDup approximation:
    near-dups straddling a cell boundary are missed (raise n_cells
    recall via finer cells only where profiling shows boundary mass).

    All deterministic: k-means init is md5-ordered, assignment ties
    break by cell id, so reruns keep the same survivors — required
    for incremental corpus builds.

    Output: (id, cell, keep) — one row per input vector.
    """
    centroids = kmeans_centroids(
        corpus, id_col, vec_col, n_cells, iters, centroid_round=centroid_round
    )
    cents = centroids.groupBy().agg(
        F.collect_list(F.struct("cell", "centroid")).alias("cs")
    )
    v = _as_double_vec(corpus, id_col, vec_col, "vid")
    assigned = v.crossJoin(F.broadcast(cents)).select(
        "vid",
        "vid_vec",
        "vid_norm",
        _nearest_cell(F.col("cs"), F.col("vid_vec")).alias("cell"),
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.vid_vec"), F.col("b.vid_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # a vector is dropped when ANY smaller-id same-cell vector sits
    # within the threshold — semi join, not pair materialization, so
    # the output stays one row per vector no matter how dense the
    # near-dup chains are
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vid") < F.col("a.vid")),
        )
        .filter(dot / (F.col("a.vid_norm") * F.col("b.vid_norm")) >= threshold)
        .select(F.col("a.vid").alias("vid"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, "vid", "left")
        .select(
            F.col("vid").cast("long").alias(id_col),
            F.col("cell").cast("int"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k nearest corpus vectors with a DIFFERENT label — the
    near-misses a retrieval/embedding model trains against (easy
    random negatives carry no gradient signal; the hard ones sit just
    across the decision boundary).

    Same physical shape as cosine_topk (query side broadcast, corpus
    streams through one stage, per-query top-k window) with the label
    inequality folded into the broadcast join condition, so excluded
    same-label pairs are dropped BEFORE any scoring work. Output:
    (query_id, query_label, neighbor_id, neighbor_label, cosine,
    rank), ties broken by neighbor_id.
    """
    def _vec_with_label(df: DataFrame, out_id: str, lbl: str) -> DataFrame:
        # one projection carries id + vec + norm + label — a join back
        # to the source just for the label would shuffle the full
        # corpus before any scoring work
        v = df.select(
            F.col(id_col).alias(out_id),
            F.col(label_col).alias(lbl),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                f"{out_id}_vec"
            ),
        )
        return v.withColumn(
            f"{out_id}_norm",
            F.sqrt(
                F.aggregate(
                    F.col(f"{out_id}_vec"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
        )

    q = _vec_with_label(queries, "query_id", "query_label")
    c = _vec_with_label(corpus, "neighbor_id", "neighbor_label")
    dot = F.aggregate(
        F.zip_with(F.col("query_id_vec"), F.col("neighbor_id_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (
                ~F.col("neighbor_label").eqNullSafe(F.col("query_label"))
            ),
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            (dot / (F.col("query_id_norm") * F.col("neighbor_id_norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("query_label").cast("int"),
            F.col("neighbor_id").cast("long"),
            F.col("neighbor_label").cast("int"),
            "cosine",
            F.col("rank").cast("int"),
        )
    )


# ------------------------------------------------------------- int8 PQ-lite
def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the 4× storage lever
    for a 100 TB embedding store (float32 → int8 + one float scale).

    q_i = floor(v_i · 127 / scale + 0.5) with scale = max|v_i| — a
    single explicit rounding formula (NOT the engine-dependent
    round()) so any SQL engine reproduces the codes bit-for-bit; the
    all-zero vector keeps scale 0 and zero codes. Cosine is
    scale-invariant, so quantized search (``quantized_cosine_topk``)
    ranks on the int8 codes directly — no dequantization pass.

    Everything is JVM-side array arithmetic (transform/aggregate) —
    whole-stage codegen, no UDFs. Output: (id, scale float,
    qvec array<int> in [-127, 127])."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    q = F.when(scale > 0, F.transform(
        v, lambda x: F.floor(x * 127.0 / scale + 0.5).cast("int")
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        scale.cast("double").alias("scale"),
        q.alias("qvec"),
    )


def dequantize_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize → reconstruct → per-vector max absolute error. The
    quantizer's contract is err ≤ scale/254 + float noise (half a
    code step); emitting the measured error makes the bound testable
    and the oracle recomputable."""
    qd = quantize_embeddings(df, id_col, vec_col)
    joined = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).join(qd, id_col)
    recon = F.transform(F.col("qvec"), lambda x: x * F.col("scale") / 127.0)
    err = F.array_max(
        F.zip_with(F.col("__v"), recon, lambda a, b: F.abs(a - b))
    )
    return joined.select(
        F.col(id_col),
        F.col("scale"),
        err.cast("double").alias("max_err"),
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k over int8 codes: quantize both sides,
    broadcast the (small) query side, rank on integer dot products
    normalized by code norms — cosine's scale invariance means the
    per-vector scales cancel, so the scan reads 1/4 the bytes of the
    float32 path with ~1e-2 cosine error (measured in tests)."""
    def norm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: (x * x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).cast("double")
        )

    # norms are per-ROW scalars — compute them once per side BEFORE
    # the crossJoin (inside the projection they would be re-evaluated
    # per (corpus × query) pair: ~4·N·Q·d wasted multiply-adds)
    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        norm(F.col("qvec")).alias("qn"),
    )
    cc = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("c"),
        norm(F.col("qvec")).alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with("q", "c", lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double")
    scored = (
        cc.crossJoin(F.broadcast(qq))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                (F.col("qn") > 0) & (F.col("cn") > 0),
                dot / (F.col("qn") * F.col("cn")),
            ).otherwise(F.lit(0.0)).alias("qcosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qcosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            F.col("qcosine").cast("double"),
            F.col("rank").cast("int"),
        )
    )
