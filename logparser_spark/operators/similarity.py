"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: broadcast the query set,
  score every corpus vector with a deterministic left-to-right fold
  (``F.zip_with`` + ``F.aggregate`` — JVM-side, no Python), rank with a
  window.  The right baseline, and exactly reproducible in SQL oracles.
* :func:`random_hyperplane_buckets` / :func:`ann_lsh_topk` — the scale
  path: sign-random-projection LSH.  Hyperplane signs are derived from
  md5 (deterministic, seedable); candidates = same-bucket vectors, scored
  brute-force within bucket.  At 10^9 vectors the bucket join replaces
  the full cross product; recall is tested against the exact baseline.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Deterministic dot product: elementwise product then ordered fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return F.sqrt(_dot(c, c))


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id).

    Output: (query_id, neighbor_id, sim, rank) with deterministic
    tie-breaking on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def hyperplane_signs(dim: int, n_planes: int, seed: str = "lsh") -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from md5 bits (no RNG)."""
    planes = []
    for p in range(n_planes):
        signs: list[int] = []
        ctr = 0
        while len(signs) < dim:
            digest = hashlib.md5(f"{seed}:{p}:{ctr}".encode()).digest()
            for byte in digest:
                for bit in range(8):
                    if len(signs) >= dim:
                        break
                    signs.append(1 if (byte >> bit) & 1 else -1)
            ctr += 1
        planes.append(signs)
    return planes


def random_hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: str = "lsh",
) -> DataFrame:
    """Attach an LSH bucket id: bit p = sign(v · h_p)."""
    planes = hyperplane_signs(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    v = F.col(vec_col)
    for p, signs in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(s)) for s in signs])
        bit = F.when(_dot(v, lit_plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(bit.cast("long"))
    return df.withColumn("lsh_bucket", bucket)


def _table_bucket_expr(
    vec: Column, dim: int, n_planes: int, seed: str
) -> Column:
    planes = hyperplane_signs(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for p, signs in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(s)) for s in signs])
        bit = F.when(_dot(vec, lit_plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(bit.cast("long"))
    return bucket


def ann_corpus_neighbors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    k: int = 5,
    seed: str = "lsh",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """All-corpus approximate top-k neighbors — the dedup-scale path where
    the query side IS the corpus and nothing is broadcast.

    Shape: every vector gets all ``n_tables`` bucket ids in ONE projection
    (posexplode of the bucket array — one scan, not one per table), the
    candidate pairs come from a shuffle equi-join on (table, bucket) with
    the same ``max_bucket_size`` skew guard as the dedup LSH join, pair
    dedup happens on narrow (query_id, neighbor_id) rows BEFORE the
    64-float vectors are joined back for scoring, and top-k is a window
    per query.  No cross join, no broadcast, no all-pairs: candidates ≈
    |corpus|·L·E[bucket size]/2.

    Output schema matches :func:`cosine_topk` (query_id, neighbor_id,
    sim, rank); every corpus vector appears as a query (vectors whose
    buckets were all over-size or singleton simply have no rows).
    """
    c = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    buckets = [
        _table_bucket_expr(F.col("_vec"), dim, n_planes, f"{seed}:{t}")
        for t in range(n_tables)
    ]
    bk = c.select("_id", F.posexplode(F.array(*buckets)).alias("tbl", "bucket"))
    ok = (
        bk.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= max_bucket_size)
        .select("tbl", "bucket")
    )
    bk = bk.join(ok, ["tbl", "bucket"], "left_semi")
    a = bk.select(F.col("_id").alias("query_id"), "tbl", "bucket")
    b = bk.select(F.col("_id").alias("neighbor_id"), "tbl", "bucket")
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = c.select(F.col("_id").alias("query_id"), F.col("_vec").alias("q_vec"))
    nv = c.select(F.col("_id").alias("neighbor_id"), F.col("_vec").alias("c_vec"))
    scored = (
        pairs.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("sim", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def _sql_dot(a: str, b_literal_or_col: str, dim: int) -> str:
    """Ordered double-precision dot in DuckDB, matching Spark's
    ``zip_with`` + in-order fold exactly (``list_dot_product`` computes in
    the list's own float32 and diverges — same reason as ``SQL_KNN``)."""
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST(({b_literal_or_col})[i] AS DOUBLE)))"
    )


def ann_corpus_neighbors_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    k: int = 5,
    seed: str = "lsh",
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB-SQL twin of :func:`ann_corpus_neighbors`.  The md5-derived
    hyperplanes are inlined as float literals (computed here, so both
    engines hash with the identical matrix).  ``sim`` is used for ranking
    but excluded from the checked output (float-representation parity —
    the ``SQL_KNN`` precedent); the ranks themselves are deterministic."""
    per_table = []
    for t in range(n_tables):
        planes = hyperplane_signs(dim, n_planes, f"{seed}:{t}")
        bits = " + ".join(
            f"(CASE WHEN {_sql_dot(vec_col, str([float(s) for s in signs]), dim)}"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
            for p, signs in enumerate(planes)
        )
        per_table.append(
            f"SELECT {id_col} AS vid, {t} AS tbl, ({bits}) AS bucket FROM {table}"
        )
    bk_sql = " UNION ALL ".join(per_table)
    dot = _sql_dot(f"q.{vec_col}", f"n.{vec_col}", dim)
    norm_q = f"sqrt({_sql_dot(f'q.{vec_col}', f'q.{vec_col}', dim)})"
    norm_n = f"sqrt({_sql_dot(f'n.{vec_col}', f'n.{vec_col}', dim)})"
    return f"""
WITH bk AS ({bk_sql}),
ok AS (SELECT tbl, bucket FROM bk GROUP BY tbl, bucket
       HAVING count(*) <= {max_bucket_size}),
bo AS (SELECT bk.* FROM bk JOIN ok USING (tbl, bucket)),
pairs AS (SELECT DISTINCT a.vid AS query_id, b.vid AS neighbor_id
          FROM bo a JOIN bo b USING (tbl, bucket) WHERE a.vid <> b.vid),
scored AS (
  SELECT p.query_id, p.neighbor_id, {dot} / ({norm_q} * {norm_n}) AS sim
  FROM pairs p
  JOIN {table} q ON q.{id_col} = p.query_id
  JOIN {table} n ON n.{id_col} = p.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


def embedding_near_dups(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: str = "lsh",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS over the whole corpus:
    LSH-bucketed candidates (nothing broadcast, no all-pairs), kept when
    rounded cosine ≥ ``threshold``.  Canonical orientation id_a < id_b.

    The dedup-flavored sibling of :func:`ann_corpus_neighbors` — same
    candidate machinery, thresholded instead of top-k (no ranking
    window; canonical pairs only, so half the candidate stream).
    """
    c = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    buckets = [
        _table_bucket_expr(F.col("_vec"), dim, n_planes, f"{seed}:{t}")
        for t in range(n_tables)
    ]
    bk = c.select("_id", F.posexplode(F.array(*buckets)).alias("tbl", "bucket"))
    ok = (
        bk.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= max_bucket_size)
        .select("tbl", "bucket")
    )
    bk = bk.join(ok, ["tbl", "bucket"], "left_semi")
    a = bk.select(F.col("_id").alias("id_a"), "tbl", "bucket")
    b = bk.select(F.col("_id").alias("id_b"), "tbl", "bucket")
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = c.select(F.col("_id").alias("id_a"), F.col("_vec").alias("q_vec"))
    vb = c.select(F.col("_id").alias("id_b"), F.col("_vec").alias("c_vec"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            # 4 dp per the repo invariant on floats in checked outputs;
            # the threshold compares the ROUNDED value so both engines
            # make the same keep/drop decision at the boundary
            "sim", F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 4)
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_near_dups_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: str = "lsh",
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB-SQL twin of :func:`embedding_near_dups` (rounded sim is
    part of the checked output — round(4) per the repo invariant on
    floats in checked outputs; the threshold filter compares the rounded
    value in BOTH engines so boundary rows keep/drop identically)."""
    per_table = []
    for t in range(n_tables):
        planes = hyperplane_signs(dim, n_planes, f"{seed}:{t}")
        bits = " + ".join(
            f"(CASE WHEN {_sql_dot(vec_col, str([float(s) for s in signs]), dim)}"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
            for p, signs in enumerate(planes)
        )
        per_table.append(
            f"SELECT {id_col} AS vid, {t} AS tbl, ({bits}) AS bucket FROM {table}"
        )
    bk_sql = " UNION ALL ".join(per_table)
    dot = _sql_dot(f"q.{vec_col}", f"n.{vec_col}", dim)
    norm_q = f"sqrt({_sql_dot(f'q.{vec_col}', f'q.{vec_col}', dim)})"
    norm_n = f"sqrt({_sql_dot(f'n.{vec_col}', f'n.{vec_col}', dim)})"
    return f"""
WITH bk AS ({bk_sql}),
ok AS (SELECT tbl, bucket FROM bk GROUP BY tbl, bucket
       HAVING count(*) <= {max_bucket_size}),
bo AS (SELECT bk.* FROM bk JOIN ok USING (tbl, bucket)),
pairs AS (SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
          FROM bo a JOIN bo b USING (tbl, bucket) WHERE a.vid < b.vid)
SELECT id_a, id_b, round({dot} / ({norm_q} * {norm_n}), 4) AS sim
FROM pairs p
JOIN {table} q ON q.{id_col} = p.id_a
JOIN {table} n ON n.{id_col} = p.id_b
WHERE round({dot} / ({norm_q} * {norm_n}), 4) >= {threshold}
"""


def ann_lsh_topk_sql(
    table: str = "embeddings",
    query_filter: str = "vec_id < 5",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    k: int = 5,
    seed: str = "lsh",
) -> str:
    """DuckDB-SQL twin of :func:`ann_lsh_topk` (broadcast-query form):
    corpus and the filtered query set are bucketed with the same inlined
    hyperplanes; candidates share a bucket in ≥1 table.  ``sim`` ranks
    but is excluded from the checked output (``SQL_KNN`` precedent)."""
    per_table = []
    for t in range(n_tables):
        planes = hyperplane_signs(dim, n_planes, f"{seed}:{t}")
        bits = " + ".join(
            f"(CASE WHEN {_sql_dot(vec_col, str([float(s) for s in signs]), dim)}"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
            for p, signs in enumerate(planes)
        )
        per_table.append(
            f"SELECT {id_col} AS vid, {t} AS tbl, ({bits}) AS bucket FROM {table}"
        )
    bk_sql = " UNION ALL ".join(per_table)
    dot = _sql_dot(f"q.{vec_col}", f"n.{vec_col}", dim)
    norm_q = f"sqrt({_sql_dot(f'q.{vec_col}', f'q.{vec_col}', dim)})"
    norm_n = f"sqrt({_sql_dot(f'n.{vec_col}', f'n.{vec_col}', dim)})"
    return f"""
WITH bk AS ({bk_sql}),
qb AS (SELECT bk.* FROM bk JOIN {table} v ON v.{id_col} = bk.vid
       WHERE {query_filter}),
pairs AS (SELECT DISTINCT q.vid AS query_id, c.vid AS neighbor_id
          FROM qb q JOIN bk c USING (tbl, bucket)
          WHERE c.vid <> q.vid),
scored AS (
  SELECT p.query_id, p.neighbor_id, {dot} / ({norm_q} * {norm_n}) AS sim
  FROM pairs p
  JOIN {table} q ON q.{id_col} = p.query_id
  JOIN {table} n ON n.{id_col} = p.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    k: int = 5,
    seed: str = "lsh",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing a bucket with
    the query in ≥1 of ``n_tables`` independent hash tables.

    With b planes each table splits the corpus into 2^b buckets →
    candidates ≈ |corpus|·L/2^b per query; tune (b, L) for the
    recall/cost point (more tables = recall, more planes = cheaper
    buckets).  Output schema matches :func:`cosine_topk`.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cand_tables = []
    for tbl in range(n_tables):
        s = f"{seed}:{tbl}"
        cb = random_hyperplane_buckets(c, "c_vec", dim, n_planes, s)
        qb = random_hyperplane_buckets(q.select("query_id", "q_vec"), "q_vec", dim, n_planes, s)
        cand_tables.append(
            cb.join(F.broadcast(qb.select("query_id", "lsh_bucket")), "lsh_bucket")
            .select("query_id", "neighbor_id")
        )
    cands = cand_tables[0]
    for t in cand_tables[1:]:
        cands = cands.unionByName(t)
    scored = (
        cands.distinct()
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("sim", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + probe-time bucket equi-join.
#
# The third ANN shape next to the exact baseline (cosine_topk) and the
# LSH family: partition the corpus into k Voronoi cells around learned
# centroids, then score a query only against the cells its vector is
# closest to (n_probe of k).  At 10^12 vectors this is the standard
# billion-scale layout (FAISS IVF): the centroid table is tiny and
# broadcast, corpus->cell assignment is one map-side pass, and the probe
# join is a shuffle equi-join on cell id — never a cross product.
#
# Determinism (so a DuckDB twin can hash-match): centroid seeds are the
# k smallest ids on a stride (no RNG), and the single Lloyd refinement
# averages components via EXACT decimal sums (order-independent, so
# Spark's partition-order groupBy and DuckDB's scan order agree
# bit-for-bit) rounded to 6 dp.


def _dist2(a: Column, b: Column) -> Column:
    """Squared L2 between two double arrays, deterministic ordered fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 1,
    id_stride: int = 7,
) -> DataFrame:
    """Train the coarse quantizer: (centroid_id, cvec array<double>).

    Seeds = the ``n_centroids`` smallest ids with ``id % id_stride == 0``
    (a deterministic sample — at scale pick ``id_stride ~ n/k`` so seeds
    spread over the id range; k-means++ would need an RNG and a
    sequential pass, which the oracle story and the scale story both
    reject).  Each Lloyd iteration assigns every vector to its nearest
    centroid (ties -> lower centroid_id) and re-centers cells with an
    exact-decimal mean rounded to 6 dp; empty cells drop out.  The
    explode->groupBy(cell,pos) recompute is map-side combinable: k*dim
    groups regardless of corpus size.
    """
    vecs = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_vec")
    )
    seeds = (
        vecs.filter((F.col("_id") % id_stride) == 0)
        .orderBy("_id")
        .limit(n_centroids)
    )
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("_id")) - 1).alias("centroid_id"),
        F.col("_vec").alias("cvec"),
    )
    for _ in range(iters):
        assigned = ivf_assign(vecs, cents, "_id", "_vec")
        ex = assigned.join(vecs, "_id").select(
            "centroid_id", F.posexplode("_vec").alias("pos", "val")
        )
        comp = ex.groupBy("centroid_id", "pos").agg(
            F.round(
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cval")
        )
        cents = comp.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cvec")
        )
    return cents


def ivf_assign(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: (id, centroid_id).

    Broadcast nested-loop over the tiny centroid table (k rows) with a
    per-id argmin window — expression-only, Catalyst-visible, and the
    form the SQL twin mirrors.
    """
    v = vecs.select(
        F.col(id_col).alias("_aid"), _as_double(F.col(vec_col)).alias("_avec")
    )
    scored = v.crossJoin(F.broadcast(centroids)).withColumn(
        "_d2", _dist2(F.col("_avec"), F.col("cvec"))
    )
    w = Window.partitionBy("_aid").orderBy(F.asc("_d2"), F.asc("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("_aid").alias(id_col if id_col != "_id" else "_id"), "centroid_id")
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 2,
    k: int = 5,
    iters: int = 1,
    id_stride: int = 7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: score a query only against vectors whose
    cell is among the query's ``n_probe`` nearest centroids.

    Plan shape at scale: centroids broadcast everywhere (k rows);
    corpus assignment map-side; candidate generation is a shuffle
    equi-join probes x index on centroid_id (never all-pairs; expected
    candidates ~ |corpus| * n_probe / k per query); ``max_bucket_size``
    caps pathological cells the same way the LSH joins do.  Output
    (query_id, neighbor_id, rank) — rank-only like the other ANN twins.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, iters, id_stride)
    idx = ivf_assign(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    )
    if max_bucket_size is not None:
        ok = (
            idx.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= max_bucket_size)
            .select("centroid_id")
        )
        idx = idx.join(ok, "centroid_id", "left_semi")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("_qd"),
        F.col(vec_col).alias("q_vec"),
    )
    pscore = q.crossJoin(F.broadcast(cents)).withColumn(
        "_d2", _dist2(F.col("_qd"), F.col("cvec"))
    )
    pw = Window.partitionBy("query_id").orderBy(F.asc("_d2"), F.asc("centroid_id"))
    probes = (
        pscore.withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "centroid_id")
    )
    cands = (
        probes.join(idx, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cands.join(F.broadcast(q.select("query_id", "q_vec")), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("sim", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ann_ivf_topk_sql(
    table: str = "embeddings",
    query_filter: str = "vec_id < 5",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 8,
    n_probe: int = 2,
    k: int = 5,
    iters: int = 1,
    id_stride: int = 7,
) -> str:
    """DuckDB-SQL twin of :func:`ann_ivf_topk` (no bucket cap — the
    checked query leaves ``max_bucket_size=None``).  Distances use the
    same ordered double fold; Lloyd means the same exact-decimal sum
    (order-independent on both engines) rounded to 6 dp."""

    def d2(vec_expr: str, cvec: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> (CAST({vec_expr}[i] AS DOUBLE) - {cvec}[i]) * "
            f"(CAST({vec_expr}[i] AS DOUBLE) - {cvec}[i])))"
        )

    ctes = [
        f"""seeds AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS centroid_id,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT {id_col}, {vec_col} FROM {table}
        WHERE {id_col} % {id_stride} = 0 ORDER BY {id_col} LIMIT {n_centroids}))"""
    ]
    prev = "seeds"
    for it in range(iters):
        ctes.append(
            f"""assign{it} AS (
  SELECT {id_col} AS vid, centroid_id FROM (
    SELECT e.{id_col}, c.centroid_id,
           row_number() OVER (PARTITION BY e.{id_col}
                              ORDER BY {d2(f'e.{vec_col}', 'c.cvec')}, c.centroid_id) AS rn
    FROM {table} e CROSS JOIN {prev} c)
  WHERE rn = 1)"""
        )
        ctes.append(
            f"""cent{it} AS (
  SELECT centroid_id, list(cval ORDER BY pos) AS cvec FROM (
    SELECT a.centroid_id, gs.i AS pos,
           round(CAST(SUM(CAST(CAST(e.{vec_col}[gs.i] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
                 / COUNT(*), 6) AS cval
    FROM assign{it} a JOIN {table} e ON e.{id_col} = a.vid
    CROSS JOIN generate_series(1, {dim}) gs(i)
    GROUP BY a.centroid_id, gs.i)
  GROUP BY centroid_id)"""
        )
        prev = f"cent{it}"
    dot = _sql_dot(f"q.{vec_col}", f"n.{vec_col}", dim)
    norm_q = f"sqrt({_sql_dot(f'q.{vec_col}', f'q.{vec_col}', dim)})"
    norm_n = f"sqrt({_sql_dot(f'n.{vec_col}', f'n.{vec_col}', dim)})"
    ctes.append(
        f"""idx AS (
  SELECT {id_col} AS neighbor_id, centroid_id FROM (
    SELECT e.{id_col}, c.centroid_id,
           row_number() OVER (PARTITION BY e.{id_col}
                              ORDER BY {d2(f'e.{vec_col}', 'c.cvec')}, c.centroid_id) AS rn
    FROM {table} e CROSS JOIN {prev} c)
  WHERE rn = 1)"""
    )
    ctes.append(
        f"""probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT e.{id_col} AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.{id_col}
                              ORDER BY {d2(f'e.{vec_col}', 'c.cvec')}, c.centroid_id) AS rn
    FROM {table} e CROSS JOIN {prev} c WHERE {query_filter})
  WHERE rn <= {n_probe})"""
    )
    ctes.append(
        f"""scored AS (
  SELECT p.query_id, i.neighbor_id, {dot} / ({norm_q} * {norm_n}) AS sim
  FROM probes p JOIN idx i USING (centroid_id)
  JOIN {table} q ON q.{id_col} = p.query_id
  JOIN {table} n ON n.{id_col} = i.neighbor_id
  WHERE i.neighbor_id <> p.query_id)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""
