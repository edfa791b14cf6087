"""Similarity search over embedding columns (SURVEY §2.6 X2).

Baseline: brute-force cosine top-k (exact; the oracle path).
Scale path: random-hyperplane LSH bucketing — candidates only within
matching buckets, then exact re-rank. At 100 TB the bucketed join
replaces the broadcast cross-join; bucket count scales with corpus
size so per-bucket work stays bounded.

Each vector primitive has ONE rendering, a SQL fragment: the
per-row vector relation (cast to double + L2 norm, ``_vectors_sql``),
the float dot and cosine (``_dot_sql``, ``_cosine_sql``), the
squared-L2 distances to every centroid (``_cell_dists_sql``) and the
per-query top-k (``_topk_sql``). spark.sql statements interpolate
them; DataFrame compositions wrap the expressions in F.expr and run
the relations through spark.sql with the DataFrame as an argument.
The other fragments only name the columns ``_vectors_sql`` projects
(``<out>``, ``<out>_vec``, ``<out>_norm``), so user column names enter
the SQL only through ``_vectors_sql``'s arguments.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _bq


def _vectors_sql(src: str, id_col: str, vec_col: str, out: str,
                 extra: str = "") -> str:
    """(``out``, [extra,] ``out``_vec, ``out``_norm) per row of ``src``:
    the vector as array<double> and its L2 norm, computed once per row
    BEFORE any pair join, so the pair stage only reads them. ``extra``
    is further select-list text carried along (each item followed by
    a comma)."""
    return f"""
        SELECT *, sqrt(aggregate({out}_vec, 0.0D, (acc, x) -> acc + x * x))
                  AS {out}_norm
        FROM (SELECT {_bq(id_col)} AS {out}, {extra}
                     transform({_bq(vec_col)}, x -> CAST(x AS DOUBLE))
                       AS {out}_vec
              FROM {src})
    """


def _vectors(df: DataFrame, id_col: str, vec_col: str, out: str,
             extra: str = "") -> DataFrame:
    return df.sparkSession.sql(
        _vectors_sql("{df}", id_col, vec_col, out, extra), df=df
    )


def _dot_sql(a: str, b: str) -> str:
    """Float dot product of two array<double> expressions — JVM-side,
    left-to-right summation, so the DuckDB oracles reproduce it."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x)")


def _cosine_sql(a: str, b: str) -> str:
    """Cosine of the ``a`` and ``b`` rows of two ``_vectors_sql``
    relations (``a``/``b`` name their id columns)."""
    return f"{_dot_sql(f'{a}_vec', f'{b}_vec')} / ({a}_norm * {b}_norm)"


# the k-means centroid list, one row: what every assignment broadcasts
_CELLS_SQL = "collect_list(named_struct('cell', cell, 'centroid', centroid))"


def _cell_dists_sql(vec: str) -> str:
    """array<(dist, cell)>: squared-L2 distance from ``vec`` to every
    centroid of the broadcast ``cs`` list. Structs compare field by
    field, so array_min / array_sort order by distance, ties by cell
    id — deterministic."""
    return (
        "transform(cs, c -> named_struct('dist', "
        f"aggregate(zip_with({vec}, c.centroid, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, d) -> acc + d), 'cell', c.cell))"
    )


def _nearest_cell_sql(vec: str) -> str:
    return f"array_min({_cell_dists_sql(vec)}).cell"


_PAIR_IDS = ("CAST(query_id AS BIGINT) AS query_id, "
             "CAST(neighbor_id AS BIGINT) AS neighbor_id")


def _topk_sql(scored: str, k: int, score: str = "cosine",
              ids: str = _PAIR_IDS) -> str:
    """Per-query top-k of a (query_id, neighbor_id, ``score``, …)
    relation: rank by score, ties broken by neighbor_id. Output
    (``ids``, score, rank INT)."""
    return f"""
        SELECT {ids}, {score}, CAST(rank AS INT) AS rank
        FROM (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY {score} DESC,
                                                 neighbor_id ASC) AS rank
              FROM {scored})
        WHERE rank <= {k}
    """


def _topk(scored: DataFrame, k: int, score: str = "cosine",
          ids: str = _PAIR_IDS) -> DataFrame:
    return scored.sparkSession.sql(
        _topk_sql("{scored}", k, score, ids), scored=scored
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
    sql = f"""
        WITH q AS ({_vectors_sql("{queries}", id_col, vec_col, "query_id")}),
        c AS ({_vectors_sql("{corpus}", id_col, vec_col, "neighbor_id")}),
        scored AS (
          SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
                 {_cosine_sql("query_id", "neighbor_id")} AS cosine
          FROM c JOIN q ON neighbor_id != query_id
        )
        {_topk_sql("scored", k)}
    """
    return corpus.sparkSession.sql(sql, corpus=corpus, queries=queries)


def _bucketed(df: DataFrame, id_col: str, vec_col: str, out: str,
              n_planes: int, dim: int, seed: int) -> DataFrame:
    """(``out``, bucket, ``out``_vec, ``out``_norm): the vectors of
    ``df`` with their random-hyperplane bucket."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim)).tolist()
    planes_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in p]) for p in planes]
    )
    bits = (f"array_join(transform(planes, p -> CASE WHEN "
            f"{_dot_sql(f'{out}_vec', 'p')} > 0 THEN '1' ELSE '0' END), '')")
    v = _vectors(df, id_col, vec_col, out).withColumn("planes", planes_lit)
    return v.select(out, F.expr(bits).alias("bucket"), f"{out}_vec",
                    f"{out}_norm")


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
    b = _bucketed(df, id_col, vec_col, "vid", n_planes, dim, seed)
    return b.select(F.col("vid").alias(id_col), "bucket",
                    F.col("vid_vec").alias("vec"))


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
    cb = _bucketed(corpus, id_col, vec_col, "neighbor_id", n_planes, dim, seed)
    qb = _bucketed(queries, id_col, vec_col, "query_id", n_planes, dim, seed)
    cos = F.expr(_cosine_sql("query_id", "neighbor_id"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        cb.join(F.broadcast(qb), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _topk(scored, k)


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
    mean_expr = (
        "avg(x)" if centroid_round is None
        else f"round(avg(x), {centroid_round})"
    )
    ctes = []
    prev = "init"
    for i in range(1, iters + 1):
        ctes.append(f""",
        cents{i} AS (SELECT {_CELLS_SQL} AS cs FROM {prev}),
        centroids{i} AS (
          SELECT cell,
                 transform(array_sort(collect_list(named_struct('pos', pos, 'm', m))),
                           s -> s.m) AS centroid
          FROM (SELECT cell, {mean_expr} AS m, pos
                FROM (SELECT cell, pos, x
                      FROM (SELECT {_nearest_cell_sql("bid_vec")} AS cell, bid_vec
                            FROM (SELECT /*+ BROADCAST(c) */ bid_vec, cs
                                  FROM v CROSS JOIN cents{i} c)) z
                      LATERAL VIEW posexplode(bid_vec) t AS pos, x)
                GROUP BY cell, pos)
          GROUP BY cell
        )""")
        prev = f"centroids{i}"
    sql = f"""
        WITH v AS ({_vectors_sql("{base}", id_col, vec_col, "bid")}),
        init AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY __ord) AS INT) AS cell,
                 bid_vec AS centroid
          FROM (SELECT md5(CAST(bid AS STRING)) AS __ord, bid_vec
                FROM v ORDER BY __ord LIMIT {n_cells})
        ){''.join(ctes)}
        SELECT cell, centroid FROM {prev}
    """
    return base.sparkSession.sql(sql, base=base)


def _cells_and_members(corpus: DataFrame, id_col: str, vec_col: str,
                       out: str, n_cells: int, iters: int,
                       centroid_round: Optional[int]):
    """(cents, members): the one-row k-means centroid list ``cs`` and
    every corpus vector (``_vectors`` columns) with its nearest cell —
    the centroid list is broadcast, so assignment adds no shuffle."""
    cents = kmeans_centroids(
        corpus, id_col, vec_col, n_cells, iters, centroid_round=centroid_round
    ).agg(F.expr(f"{_CELLS_SQL} AS cs"))
    members = _vectors(corpus, id_col, vec_col, out).crossJoin(
        F.broadcast(cents)
    ).select(out, f"{out}_vec", f"{out}_norm",
             F.expr(_nearest_cell_sql(f"{out}_vec")).alias("cell"))
    return cents, members


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
    cents, inv = _cells_and_members(
        corpus, id_col, vec_col, "neighbor_id", n_cells, iters, centroid_round
    )
    probe = (f"slice(transform(array_sort({_cell_dists_sql('query_id_vec')}),"
             f" s -> s.cell), 1, {n_probe})")
    probed = _vectors(queries, id_col, vec_col, "query_id").crossJoin(
        F.broadcast(cents)
    ).select("query_id", "query_id_vec", "query_id_norm",
             F.explode(F.expr(probe)).alias("cell"))
    cos = F.expr(_cosine_sql("query_id", "neighbor_id"))
    if round_to is not None:
        # round BEFORE ranking so cross-engine summation noise cannot
        # swap near-tie ranks (the x11/lsh_topk defense)
        cos = F.round(cos, round_to)
    scored = (
        probed.join(inv, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _topk(scored, k)


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
    _, assigned = _cells_and_members(
        corpus, id_col, vec_col, "vid", n_cells, iters, centroid_round
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
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
        .filter(F.expr(_cosine_sql("a.vid", "b.vid")) >= threshold)
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
    # the label rides the vector projection — a join back to the
    # source just for the label would shuffle the full corpus before
    # any scoring work
    q = _vectors(queries, id_col, vec_col, "query_id",
                 f"{_bq(label_col)} AS query_label,")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id",
                 f"{_bq(label_col)} AS neighbor_label,")
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
            F.expr(_cosine_sql("query_id", "neighbor_id")).alias("cosine"),
        )
    )
    return _topk(scored, k, ids=(
        "CAST(query_id AS BIGINT) AS query_id, "
        "CAST(query_label AS INT) AS query_label, "
        "CAST(neighbor_id AS BIGINT) AS neighbor_id, "
        "CAST(neighbor_label AS INT) AS neighbor_label"
    ))


# ------------------------------------------------------------- int8 PQ-lite
def _int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, vid_vec, scale, qvec): each vector, its scale and its
    int8 codes, from one projection of ``df``."""
    v = _vectors(df, id_col, vec_col, "vid").select(
        "vid", "vid_vec",
        F.expr("array_max(transform(vid_vec, x -> abs(x))) AS scale"),
    )
    return v.withColumn("qvec", F.expr(
        "CASE WHEN scale > 0 THEN transform(vid_vec, "
        "x -> CAST(floor(x * 127.0D / scale + 0.5D) AS INT)) "
        "ELSE transform(vid_vec, x -> 0) END"
    ))


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
    whole-stage codegen, no UDFs. Output: (id, scale double,
    qvec array<int> in [-127, 127])."""
    return _int8(df, id_col, vec_col).select(
        F.col("vid").alias(id_col), "scale", "qvec"
    )


def dequantize_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize → reconstruct → per-vector max absolute error, one row
    per input row. The quantizer's contract is err ≤ scale/254 + float
    noise (half a code step); emitting the measured error makes the
    bound testable and the oracle recomputable."""
    return _int8(df, id_col, vec_col).select(
        F.col("vid").alias(id_col),
        "scale",
        F.expr("array_max(zip_with(vid_vec, qvec, "
               "(v, q) -> abs(v - q * scale / 127.0D))) AS max_err"),
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
    qq = _int8(queries, id_col, vec_col).select(
        F.col("vid").alias("query_id"),
        F.col("qvec").alias("q"),
        norm(F.col("qvec")).alias("qn"),
    )
    cc = _int8(corpus, id_col, vec_col).select(
        F.col("vid").alias("neighbor_id"),
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
    return _topk(scored, k, score="qcosine")
