"""Similarity-search queries over the embeddings table.

Float parity: the cosine is computed as an identical left-fold in float64
in both engines (verified bit-exact; note DuckDB's builtin
``list_cosine_similarity`` accumulates in float32 and does NOT match).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    hyperplanes,
    ivf_ann_topk,
    lsh_ann_topk,
    planes_for_corpus,
    sql_dot,
    sql_norm,
)
from ..functions.local import local_frame
from ..sources.tables import load_table_spread, load_tables

N_QUERIES = 10
TOP_K = 5
# Floor of the corpus-derived plane count (see _n_planes); also the exact
# value the static oracles embed — valid because every corpus up to
# LSH_TARGET_BUCKET_ROWS * 2**N_PLANES (~6.4M) vectors derives this floor.
N_PLANES = 6
LSH_TARGET_BUCKET_ROWS = 100_000
DIM = 64
NEARDUP_TAU = 0.3  # random-embedding corpus: top pair cosines sit ~0.3-0.4


def _emb(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # spread: see textops._docs — queries doing full-corpus vector
    # arithmetic keep the scan-fanout repartition barrier; bucket-pruned
    # probes (LSH/IVF) and light passes opt out (measured at sf0.1).
    if not spread:
        return load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return load_table_spread(spark, sf_dir, "embeddings")


_N_PLANES_CACHE: dict[tuple, int] = {}


def _n_planes(spark: SparkSession, sf_dir: str) -> int:
    """LSH plane count derived from a cheap corpus count (parquet
    row-count metadata — no column scan), memoized per corpus dir.

    This is the live scale gate: a fixed plane count makes the bucketed
    self-join degenerate toward all-pairs as the corpus grows
    (``planes_for_corpus`` docstring). At every test SF (<= ~6.4M
    vectors) the derivation lands on the ``N_PLANES`` floor — exactly
    what the static DuckDB oracles embed (pinned by
    tests/test_vectors_oracle.py::test_plane_count_derivation) — while
    1e9 vectors derive 14 planes with no code change.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _N_PLANES_CACHE.get(key)
    if got is None:
        got = planes_for_corpus(
            _emb(spark, sf_dir, spread=False).count(),
            target_bucket_rows=LSH_TARGET_BUCKET_ROWS,
            min_planes=N_PLANES,
        )
        _N_PLANES_CACHE[key] = got
    return got


def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return brute_force_topk(emb, queries, TOP_K)


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_norm(v: str) -> str:
    return f"sqrt({_sql_dot(v, v)})"


EMBEDDING_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         {_sql_dot("qvec", "cvec")}
           / ({_sql_norm("qvec")} * {_sql_norm("cvec")}) AS cosine
  FROM c, q WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER)
    AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, spread=False)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return lsh_ann_topk(
        emb, queries, TOP_K, n_planes=_n_planes(spark, sf_dir), dim=DIM
    )


def _sql_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in plane) + "]"


def _sql_bucket(vec: str) -> str:
    planes = hyperplanes(N_PLANES, DIM)
    terms = []
    for p, plane in enumerate(planes):
        lit = _sql_plane_literal(plane)
        d = (
            f"list_sum(list_transform(generate_series(1, len({vec})), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i]))"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _sql_ann_oracle() -> str:
    return f"""
WITH q0 AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {_sql_bucket("embedding")} AS bucket
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
q AS (
  SELECT query_id, qvec, xor(bucket, flip) AS bucket
  FROM q0, (SELECT unnest({[0] + [1 << p for p in range(N_PLANES)]}) AS flip)
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS cvec,
         {_sql_bucket("embedding")} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         {_sql_dot("qvec", "cvec")}
           / ({_sql_norm("qvec")} * {_sql_norm("cvec")}) AS cosine
  FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER)
    AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


IVF_STRIDE = 100
IVF_NPROBE = 2


def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, spread=False)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_ann_topk(
        emb,
        queries,
        TOP_K,
        centroid_stride=IVF_STRIDE,
        nprobe=IVF_NPROBE,
    )


def _sql_ivf_oracle() -> str:
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS centv FROM embeddings
  WHERE vec_id % {IVF_STRIDE} = 0
),
corpus_cells AS (
  SELECT neighbor_id, cid, cvec FROM (
    SELECT c.vec_id AS neighbor_id, c.embedding AS cvec, cents.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_sql_dot("c.embedding", "cents.centv")}
               / ({_sql_norm("c.embedding")} * {_sql_norm("cents.centv")})
               DESC, cents.cid) AS rn
    FROM embeddings c CROSS JOIN cents
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qvec, cid FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, cents.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot("q.embedding", "cents.centv")}
               / ({_sql_norm("q.embedding")} * {_sql_norm("cents.centv")})
               DESC, cents.cid) AS pr
    FROM embeddings q CROSS JOIN cents WHERE q.vec_id < {N_QUERIES}
  ) WHERE pr <= {IVF_NPROBE}
),
scored AS (
  SELECT query_id, neighbor_id,
         {_sql_dot("qvec", "cvec")}
           / ({_sql_norm("qvec")} * {_sql_norm("cvec")}) AS cosine
  FROM corpus_cells JOIN probes USING (cid)
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER)
    AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_neardup_pairs(
        _emb(spark, sf_dir),
        NEARDUP_TAU,
        n_planes=_n_planes(spark, sf_dir),
        dim=DIM,
    )


def _sql_neardup_oracle() -> str:
    return f"""
WITH c AS (
  SELECT vec_id AS vid, embedding AS vec,
         {_sql_bucket("embedding")} AS bucket
  FROM embeddings
)
SELECT a.vid AS id1, b.vid AS id2,
       {_sql_dot("a.vec", "b.vec")}
         / ({_sql_norm("a.vec")} * {_sql_norm("b.vec")}) AS cosine
FROM c a JOIN c b USING (bucket)
WHERE a.vid < b.vid
  AND {_sql_dot("a.vec", "b.vec")}
        / ({_sql_norm("a.vec")} * {_sql_norm("b.vec")}) >= {NEARDUP_TAU}
"""


KMEANS_K = 8
KMEANS_ITER = 2
# Sampled Lloyd's: train on the deterministic md5(vec_id) % MOD == 0
# subset (~25% of the corpus), assign everything — the corpus-scale
# training regime (see clustering.kmeans_fit), mirrored verbatim in the
# unrolled SQL oracles so centroids stay engine-identical.
KMEANS_TRAIN_MOD = 4


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (deterministic hash seeds, 2 update steps) and the
    final cell census: per cluster, member count and exact inertia. The
    oracle is the fully UNROLLED iteration in SQL — seeds, two
    assign+update rounds, final assignment — hash-matched end-to-end."""
    from ..functions.parity import stable_sum
    from ..operators.clustering import assign_clusters, kmeans_fit, prepare_vectors

    emb = _emb(spark, sf_dir)
    # one persisted double-cast working set feeds every Lloyd's pass AND
    # the final census scan; the fit itself is memoized per corpus dir
    # (shared with embedding_semantic_dedup — identical params)
    prep = prepare_vectors(emb)
    cents = kmeans_fit(
        prep, k=KMEANS_K, n_iter=KMEANS_ITER, vec_col="__dvec", dim=DIM,
        pre_cast=True, cache_key=(sf_dir, DIM), train_mod=KMEANS_TRAIN_MOD,
    )
    return (
        assign_clusters(prep, cents, "__dvec", pre_cast=True)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            stable_sum("sq_dist").alias("inertia"),
        )
    )


# the double-cast vector CTE shared by the unrolled k-means oracles
_SQL_V_CTE = """v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
)"""


def _sql_kmeans_assign() -> str:
    """Unrolled deterministic k-means as a subquery: seeds from the
    smallest md5-hashed ids WITHIN the training subset
    (md5(vec_id) % KMEANS_TRAIN_MOD = 0 — sampled Lloyd's, matching
    clustering.kmeans_fit), KMEANS_ITER assign+update rounds over that
    subset, then the final assignment of the FULL corpus. Columns:
    vec_id, vec, cluster_id, dist. Expects the ``v`` CTE
    (``_SQL_V_CTE``) in scope. Shared by the kmeans census and
    semantic-dedup oracles — and DELEGATES to the generalized
    ``_sql_unrolled_kmeans`` (one Lloyd's construction for all oracles,
    including PQ's per-subspace fits; a fix to one cannot miss the
    other)."""
    return _sql_unrolled_kmeans(
        "v", DIM, KMEANS_K, KMEANS_ITER, train_mod=KMEANS_TRAIN_MOD
    )[1]


def _sql_kmeans_oracle() -> str:
    from ..functions.parity import sql_stable_sum

    return f"""
WITH {_SQL_V_CTE}
SELECT cluster_id, count(*) AS n_vectors,
       {sql_stable_sum("dist")} AS inertia
FROM {_sql_kmeans_assign()}
GROUP BY cluster_id
"""


# Prototype pruning drop fraction as an integer ratio (rn * DENOM <= n
# flags the farthest ~1/DENOM of each cluster) — the keep/drop boundary
# is pure integer arithmetic, no float threshold to drift cross-engine.
PROTO_PRUNE_DENOM = 10


def embedding_prototype_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-based data pruning (Sorscher et al., "Beyond neural
    scaling laws"): cluster the corpus with the SAME memoized k-means fit
    the census/SemDeDup queries use, then flag the farthest
    ~1/PROTO_PRUNE_DENOM of each cluster by squared distance to its
    centroid — the least-prototypical examples a curation pipeline drops
    (or upweights, under the inverse policy) before training.

    Scale shape: assignment is map-side (centroids are a driver literal —
    no shuffle, no join); the rank needs ONE exchange on cluster_id, and
    the window state is a running row count. Ties on bit-equal distances
    break by vec_id, so the drop set is a pure function of the corpus.
    Distances are the same left-to-right fold both engines run; the flag
    boundary is integer (rn * DENOM <= n)."""
    from ..operators.clustering import assign_clusters, kmeans_fit, prepare_vectors
    from ..functions.parity import round_dp

    emb = _emb(spark, sf_dir)
    prep = prepare_vectors(emb)
    cents = kmeans_fit(
        prep, k=KMEANS_K, n_iter=KMEANS_ITER, vec_col="__dvec", dim=DIM,
        pre_cast=True, cache_key=(sf_dir, DIM), train_mod=KMEANS_TRAIN_MOD,
    )
    assigned = assign_clusters(prep, cents, "__dvec", pre_cast=True)
    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.desc("sq_dist"), "vec_id")
    return assigned.select(
        "vec_id",
        "cluster_id",
        round_dp(F.col("sq_dist")).alias("sq_dist"),
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
        (
            F.row_number().over(wr) * PROTO_PRUNE_DENOM
            <= F.count(F.lit(1)).over(wc)
        ).alias("pruned"),
    )


def _sql_prototype_pruning_oracle() -> str:
    from ..functions.parity import sql_round_dp

    return f"""
WITH {_SQL_V_CTE},
pa AS MATERIALIZED (
  SELECT vec_id, cluster_id, dist FROM {_sql_kmeans_assign()}
),
pr AS (
  SELECT vec_id, cluster_id, dist,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY dist DESC, vec_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n
  FROM pa
)
SELECT vec_id, cluster_id, {sql_round_dp("dist")} AS sq_dist,
       n AS cluster_size,
       rn * {PROTO_PRUNE_DENOM} <= n AS pruned
FROM pr
"""


SEMDEDUP_TAU = NEARDUP_TAU  # same random-embedding cosine regime


def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the corpus, then keep the lowest id per
    within-cluster cosine neighborhood (see
    ``operators.clustering.semantic_dedup``). Quadratic work is bounded
    per cluster; the oracle re-runs the unrolled k-means SQL and the
    within-cluster pair scan."""
    from ..operators.clustering import kmeans_fit, prepare_vectors, semantic_dedup

    emb = _emb(spark, sf_dir)
    prep = prepare_vectors(emb)
    # fit memoized per corpus dir — shared with embedding_kmeans
    cents = kmeans_fit(
        prep, k=KMEANS_K, n_iter=KMEANS_ITER, vec_col="__dvec", dim=DIM,
        pre_cast=True, cache_key=(sf_dir, DIM), train_mod=KMEANS_TRAIN_MOD,
    )
    return semantic_dedup(prep, cents, tau=SEMDEDUP_TAU, vec_col="__dvec", pre_cast=True)


def _sql_semdedup_oracle() -> str:
    cos = f"{_sql_dot('x.vec', 'y.vec')} / ({_sql_norm('x.vec')} * {_sql_norm('y.vec')})"
    return f"""
WITH {_SQL_V_CTE},
a AS MATERIALIZED (
  SELECT vec_id, vec, cluster_id FROM {_sql_kmeans_assign()}
)
SELECT a.vec_id, a.cluster_id, (d.vec_id IS NULL) AS is_kept
FROM a LEFT JOIN (
  SELECT DISTINCT x.vec_id
  FROM a x JOIN a y
    ON x.cluster_id = y.cluster_id AND y.vec_id < x.vec_id
  WHERE {cos} >= {SEMDEDUP_TAU}
) d ON a.vec_id = d.vec_id
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization (4x storage shrink for the ANN corpus)
# ---------------------------------------------------------------------------


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max scalar quantization to int8 codes plus the
    per-vector reconstruction MSE — the storage-shrink pass an ANN corpus
    runs before indexing (float32 -> uint8 is 4x smaller; IVF/LSH recall
    is re-validated against the MSE report).

    Two-pass scale shape: pass 1 is one partial-aggregated groupBy over
    (dim, value) pairs producing DIM min/max rows (collected to the
    driver — constant-size, like k-means centroids); pass 2 is a pure
    map-side expression over the corpus with the stats embedded as
    literals: encode, decode, and fold the squared error in fixed
    dimension order (left fold == DuckDB list_sum, bit-exact). No join,
    no shuffle on the corpus side.
    """
    emb = _emb(spark, sf_dir, spread=False)
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ex = v.select("vec_id", F.posexplode("v").alias("d", "x"))
    stats = {
        r["d"]: (r["mn"], r["mx"])
        for r in ex.groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    }
    from ..operators.clustering import double_array_literal

    mn = double_array_literal(stats[d][0] for d in range(DIM))
    scale = double_array_literal(
        float(stats[d][1]) - float(stats[d][0]) for d in range(DIM)
    )
    # dq_d = x_d - mn_d; code_d = floor(dq*255/s + 0.5) (floor(+0.5): both
    # engines agree; round() half-rule differs between Spark and DuckDB)
    dq = F.zip_with("v", mn, lambda x, m: x - m)
    codes = F.zip_with(
        dq,
        scale,
        lambda y, s: F.when(s > 0, F.floor(y * 255 / s + 0.5)).otherwise(
            F.lit(0)
        ).cast("int"),
    )
    err = F.zip_with(
        F.zip_with(codes, scale, lambda q, s: q * s / 255),
        dq,
        lambda r, y: (r - y) * (r - y),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e) / DIM
    # codes are delivered as one comma-joined string per vector: the
    # driver's canonicalizer sorts output columns in pandas, which cannot
    # factorize list cells (r04: TypeError unhashable type 'list'); a
    # scalar string is byte-identical across engines and sortable.
    return v.select(
        "vec_id",
        F.concat_ws(",", codes.cast("array<string>")).alias("codes"),
        mse.alias("mse"),
    )


def _sql_quantize_oracle() -> str:
    # same literals-from-stats construction, stats computed in SQL and
    # carried as in-order lists; element arithmetic is textually identical
    # so every IEEE intermediate matches
    code = "CASE WHEN sl[i] > 0 THEN floor((v[i] - mnl[i]) * 255 / sl[i] + 0.5) ELSE 0 END"
    err = f"({code} * sl[i] / 255 - (v[i] - mnl[i]))"
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, i, v[i] AS x
  FROM v, LATERAL unnest(generate_series(1, {DIM})) AS t(i)
),
st AS (
  SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i
),
sl AS (
  SELECT list(mn ORDER BY i) AS mnl, list(mx - mn ORDER BY i) AS sl FROM st
)
SELECT vec_id,
       array_to_string(list_transform(generate_series(1, {DIM}),
                                      i -> CAST({code} AS INTEGER)),
                       ',') AS codes,
       list_sum(list_transform(generate_series(1, {DIM}),
                               i -> {err} * {err})) / {DIM} AS mse
FROM v CROSS JOIN sl
"""


# ---------------------------------------------------------------------------
# Product quantization ANN (per-subspace codebooks + ADC)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 8  # centroids per codebook -> 4 bytes/vector
PQ_ITER = KMEANS_ITER


def embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k (see ``operators.pq``): train ``PQ_M``
    per-subspace codebooks with the deterministic k-means, byte-encode
    the corpus, and answer the standard query set by asymmetric distance
    — the ``m`` bytes/vector regime brute-force ANN runs at 100 TB."""
    from ..operators.clustering import prepare_vectors
    from ..operators.pq import adc_topk, encode, train_codebooks

    emb = _emb(spark, sf_dir)
    prep = prepare_vectors(emb)
    # the PQ_M subspace fits are memoized per corpus dir — repeat
    # invocations (bench warm+timed, driver) skip the training jobs
    books = train_codebooks(
        prep, PQ_M, PQ_SUB, k=PQ_K, n_iter=PQ_ITER, cache_key=(sf_dir,),
        train_mod=KMEANS_TRAIN_MOD,
    )
    codes = encode(prep, books, PQ_SUB)
    queries = prep.filter(F.col("vec_id") < N_QUERIES)
    return adc_topk(codes, queries, books, PQ_SUB, TOP_K)


def _sql_unrolled_kmeans(
    cte: str, dim: int, k: int, iters: int, train_mod: int | None = None
) -> tuple[str, str]:
    """Generalized unrolled Lloyd's: (final_centroids_sql, assign_sql)
    over a CTE exposing (vec_id, vec) — the per-subspace reuse of the
    ``_sql_kmeans_assign`` construction. ``train_mod`` mirrors the
    sampled-training predicate (seeds + iterations over the
    md5(vec_id) % mod = 0 subset; final assign over the full CTE)."""
    from ..functions.text import sql_md5_long

    hash_expr = sql_md5_long("CAST(vec_id AS VARCHAR)")
    train = cte
    if train_mod is not None:
        train = f"(SELECT * FROM {cte} WHERE {hash_expr} % {train_mod} = 0)"

    def sqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    def assign(cents: str, source: str) -> str:
        return f"""(
  SELECT vec_id, vec, cid AS cluster_id, dist FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM (
      SELECT t.vec_id, t.vec, s.cid, {sqd("t.vec", "s.vec")} AS dist
      FROM {source} t CROSS JOIN {cents} s
    )
  ) WHERE rn = 1
)"""

    mean_list = ", ".join(
        f"CAST(sum(CAST(vec[{i + 1}] AS DECIMAL(27,6))) AS DOUBLE) / count(*)"
        for i in range(dim)
    )

    def update(assigned: str) -> str:
        return f"""(
  SELECT cluster_id AS cid, [{mean_list}] AS vec
  FROM {assigned} GROUP BY cluster_id
)"""

    seeds = f"""(
  SELECT CAST(rn - 1 AS INTEGER) AS cid, vec FROM (
    SELECT vec, row_number() OVER (
      ORDER BY {hash_expr}, vec_id) AS rn
    FROM {train} v
  ) WHERE rn <= {k}
)"""
    cents = seeds
    for _ in range(iters):
        cents = update(assign(cents, train))
    return cents, assign(cents, cte)


def _sql_pq_oracle() -> str:
    def sqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {PQ_SUB}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    sub_ctes, cents_ctes, enc_joins, qd_ctes, qd_joins, dsum = [], [], [], [], [], []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
        sub_ctes.append(f"v{s} AS MATERIALIZED (SELECT vec_id, vec[{lo}:{hi}] AS vec FROM v)")
        cents, assign = _sql_unrolled_kmeans(
            f"v{s}", PQ_SUB, PQ_K, PQ_ITER, train_mod=KMEANS_TRAIN_MOD
        )
        cents_ctes.append(f"cents{s} AS MATERIALIZED ({cents})")
        cents_ctes.append(
            f"e{s} AS MATERIALIZED (SELECT vec_id, cluster_id AS c{s} FROM {assign})"
        )
        qd_ctes.append(
            f"qd{s} AS (SELECT query_id, cid, {sqd(f'qvec[{lo}:{hi}]', 's.vec')} AS d"
            f" FROM q CROSS JOIN cents{s} s)"
        )
        if s == 0:
            enc_joins.append("e0")
            qd_joins.append("JOIN qd0 ON qd0.cid = e.c0")
        else:
            enc_joins.append(f"JOIN e{s} USING (vec_id)")
            qd_joins.append(
                f"JOIN qd{s} ON qd{s}.cid = e.c{s} AND qd{s}.query_id = qd0.query_id"
            )
        dsum.append(f"qd{s}.d")
    subs = ",\n".join(sub_ctes)
    cents_all = ",\n".join(cents_ctes)
    qds = ",\n".join(qd_ctes)
    encs = " ".join(enc_joins)
    qdj = "\n  ".join(qd_joins)
    dtotal = " + ".join(dsum)
    return f"""
WITH {_SQL_V_CTE},
{subs},
{cents_all},
q AS (SELECT vec_id AS query_id, vec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
{qds},
enc AS (SELECT * FROM {encs}),
scored AS (
  SELECT qd0.query_id, e.vec_id AS neighbor_id,
         {dtotal} AS approx_dist
  FROM enc e
  {qdj}
  WHERE e.vec_id <> qd0.query_id
)
SELECT query_id, neighbor_id, approx_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + vector with reciprocal-rank fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant
HYB_QUERIES = 3
HYB_POOL = 50  # per-modality candidate pool
HYB_TOP = 10


def doc_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval over (documents, embeddings), the RAG-index query
    path: token-Jaccard lexical candidates + cosine vector candidates,
    fused by reciprocal-rank fusion ``1/(K+r_lex) + 1/(K+r_vec)``.

    Scale shape: the lexical side is an inverted-index equi-join on the
    token against the BROADCAST query token set (queries are per-request,
    corpus-side work is one explode + hash agg); the vector side is the
    broadcast-queries map-side cosine; each modality keeps only its
    ``HYB_POOL`` best per query, so fusion joins two bounded lists.
    Ranks are integers, so the fused score is engine-exact (two IEEE
    divisions + one add in fixed order).
    """
    from ..functions.text import normalized_text, ws_tokens

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    toks = t["documents"].select(
        "doc_id",
        F.explode(
            F.array_distinct(ws_tokens(normalized_text(F.col("text"))))
        ).alias("t"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    qt = toks.filter(F.col("doc_id") < HYB_QUERIES).select(
        F.col("doc_id").alias("query_id"), "t"
    )
    shared = (
        toks.join(F.broadcast(qt), "t")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jacc = (
        shared.join(sizes, "doc_id")
        .join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("query_id"), F.col("sz").alias("qsz")
                )
            ),
            "query_id",
        )
        .withColumn(
            "lex_sim",
            F.col("n_shared").cast("double")
            / (F.col("sz") + F.col("qsz") - F.col("n_shared")),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("lex_sim").desc(), F.col("doc_id")
    )
    lex = (
        jacc.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= HYB_POOL)
        .select("query_id", "doc_id", "lex_rank")
    )

    v = t["embeddings"].select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    qv = v.filter(F.col("doc_id") < HYB_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    from ..operators.similarity import cosine

    wv = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    vec = (
        v.join(F.broadcast(qv), F.col("doc_id") != F.col("query_id"))
        .withColumn("cos", cosine("v", "qv"))
        .withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= HYB_POOL)
        .select("query_id", "doc_id", "vec_rank")
    )

    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf",
        F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0)),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= HYB_TOP)
        .select("query_id", "doc_id", "lex_rank", "vec_rank", "rrf", "rank")
    )


def _sql_hybrid_oracle() -> str:
    from ..functions.text import sql_normalized

    return f"""
WITH toks0 AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(string_split_regex({sql_normalized('text')}, '\\s+')) AS tl
  FROM documents
),
toks AS (SELECT doc_id, unnest(tl) AS t FROM toks0),
sizes AS (SELECT doc_id, len(tl) AS sz FROM toks0),
qt AS (SELECT doc_id AS query_id, t FROM toks WHERE doc_id < {HYB_QUERIES}),
shared AS (
  SELECT query_id, doc_id, count(*) AS n_shared
  FROM toks JOIN qt USING (t) WHERE doc_id <> query_id GROUP BY 1, 2
),
lex0 AS (
  SELECT s.query_id, s.doc_id,
         CAST(s.n_shared AS DOUBLE) / (d.sz + q.sz - s.n_shared) AS lex_sim
  FROM shared s
  JOIN sizes d ON s.doc_id = d.doc_id
  JOIN sizes q ON s.query_id = q.doc_id
),
lex AS (
  SELECT query_id, doc_id, CAST(lex_rank AS INTEGER) AS lex_rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY lex_sim DESC, doc_id) AS lex_rank
    FROM lex0
  ) WHERE lex_rank <= {HYB_POOL}
),
v AS (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
qv AS (SELECT doc_id AS query_id, v AS qv FROM v WHERE doc_id < {HYB_QUERIES}),
vec AS (
  SELECT query_id, doc_id, CAST(vec_rank AS INTEGER) AS vec_rank FROM (
    SELECT query_id, doc_id, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS vec_rank
    FROM (
      SELECT qv.query_id, v.doc_id,
             {_sql_dot("v.v", "qv.qv")} / ({_sql_norm("v.v")} * {_sql_norm("qv.qv")})
               AS cos
      FROM v CROSS JOIN qv WHERE v.doc_id <> qv.query_id
    )
  ) WHERE vec_rank <= {HYB_POOL}
),
fused AS (
  SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
         COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         lex.lex_rank, vec.vec_rank,
         COALESCE(1.0 / ({RRF_K} + lex.lex_rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + vec.vec_rank), 0.0) AS rrf
  FROM lex FULL OUTER JOIN vec
    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id
)
SELECT query_id, doc_id, lex_rank, vec_rank, rrf, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= {HYB_TOP}
"""


# ---------------------------------------------------------------------------
# ANN quality report: the user-facing artifact for CHOOSING an index.
# Every method here is deterministic (md5 planes, strided centroids,
# hash-sampled k-means), so recall@k against the brute-force truth and
# the candidate-set size (the method's cost) are exact, fully
# oracle-gated values — no bound booleans needed.
# ---------------------------------------------------------------------------


def ann_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per ANN method (LSH / IVF / PQ-ADC): hits against the
    brute-force top-k truth, recall@k, and the scored-candidate count
    beside the full n_queries x (corpus-1) pair count — quality vs cost
    on the same corpus and query set. PQ scores every pair by design
    (the m-bytes-per-vector brute-force regime): its 'candidates' equal
    the full pair count; its win is bytes moved, not pairs skipped."""
    from ..functions.concurrent import overlap
    from ..operators.similarity import exact_topk_per_query, ivf_scored, lsh_scored

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # candidate stages persisted: counted once, ranked once
    lsh = lsh_scored(
        emb, queries, n_planes=_n_planes(spark, sf_dir), dim=DIM
    ).persist()
    ivf = ivf_scored(
        emb, queries, centroid_stride=IVF_STRIDE, nprobe=IVF_NPROBE
    ).persist()
    try:
        # The report is a chain of ~12 independent COUNT actions; run
        # sequentially each pays the full per-job scheduling floor
        # (optimization guide §2.6: overlap independent jobs — the
        # scheduler back-fills idle cores from the next job's tasks).
        # Phase 1 materializes every shared frame. Concurrency safety
        # comes from the BlockManager's block-level locking: several
        # phase-1 actions touch emb's persisted cache at once (emb.count,
        # queries.count, the brute-force thread — and with the r15 spread
        # memo they share ONE cache), and each cached partition is
        # computed by whichever task gets its write lock first while the
        # others block then read — never computed twice, never torn.
        # Phase 2 then reads only caches phase 1 fully materialized.
        # Values are counts; ordering cannot change any result (equality
        # with the sequential form is oracle- and A/B-pinned:
        # 3.6 -> 2.2 s at sf0.1).
        n, nq, truth, lsh_count, ivf_count = overlap(
            emb.count,
            queries.count,
            lambda: embedding_topk_bruteforce(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True),
            lsh.count,
            ivf.count,
        )
        full_pairs = nq * (n - 1)

        def hits(topk: DataFrame) -> int:
            return (
                topk.select("query_id", "neighbor_id")
                .join(truth, ["query_id", "neighbor_id"], "left_semi")
                .count()
            )

        n_truth, h_lsh, h_ivf, h_pq = overlap(
            truth.count,
            lambda: hits(exact_topk_per_query(lsh, TOP_K)),
            lambda: hits(exact_topk_per_query(ivf, TOP_K)),
            lambda: hits(embedding_ann_pq(spark, sf_dir)),
        )
        rows = [
            ("lsh", h_lsh, lsh_count),
            ("ivf", h_ivf, ivf_count),
            ("pq", h_pq, full_pairs),
        ]
    finally:
        lsh.unpersist()
        ivf.unpersist()
    out = [
        (
            m,
            h,
            n_truth,
            # int/int IEEE double division — bit-identical to the oracle's
            float(h) / float(n_truth),
            c,
            full_pairs,
            float(c) / float(full_pairs),
        )
        for (m, h, c) in rows
    ]
    return local_frame(
        spark,
        out,
        "method string, n_hits long, n_truth long, recall_at_k double, "
        "n_candidates long, n_full_pairs long, candidate_frac double",
    )


def _sql_ann_quality_oracle() -> str:
    flips = [0] + [1 << p for p in range(N_PLANES)]
    lsh_cand = f"""(
  WITH q0 AS (
    SELECT vec_id AS query_id, {_sql_bucket("embedding")} AS bucket
    FROM embeddings WHERE vec_id < {N_QUERIES}
  ),
  qp AS (
    SELECT query_id, xor(bucket, flip) AS bucket
    FROM q0, (SELECT unnest({flips}) AS flip)
  ),
  cb AS (
    SELECT vec_id AS neighbor_id, {_sql_bucket("embedding")} AS bucket
    FROM embeddings
  )
  SELECT count(*) FROM cb JOIN qp USING (bucket) WHERE query_id <> neighbor_id
)"""
    csim = (
        f"{_sql_dot('c.embedding', 'cents.centv')}"
        f" / ({_sql_norm('c.embedding')} * {_sql_norm('cents.centv')})"
    )
    qsim = (
        f"{_sql_dot('q.embedding', 'cents.centv')}"
        f" / ({_sql_norm('q.embedding')} * {_sql_norm('cents.centv')})"
    )
    ivf_cand = f"""(
  WITH cents AS (
    SELECT vec_id AS cid, embedding AS centv FROM embeddings
    WHERE vec_id % {IVF_STRIDE} = 0
  ),
  cells AS (
    SELECT neighbor_id, cid FROM (
      SELECT c.vec_id AS neighbor_id, cents.cid,
             row_number() OVER (
               PARTITION BY c.vec_id ORDER BY {csim} DESC, cents.cid) AS rn
      FROM embeddings c CROSS JOIN cents
    ) WHERE rn = 1
  ),
  probes AS (
    SELECT query_id, cid FROM (
      SELECT q.vec_id AS query_id, cents.cid,
             row_number() OVER (
               PARTITION BY q.vec_id ORDER BY {qsim} DESC, cents.cid) AS pr
      FROM embeddings q CROSS JOIN cents WHERE q.vec_id < {N_QUERIES}
    ) WHERE pr <= {IVF_NPROBE}
  )
  SELECT count(*) FROM cells JOIN probes USING (cid)
  WHERE query_id <> neighbor_id
)"""
    return f"""
WITH truth AS ({EMBEDDING_TOPK_ORACLE}),
lsh AS ({_sql_ann_oracle()}),
ivf AS ({_sql_ivf_oracle()}),
pq AS ({_sql_pq_oracle()}),
consts AS (
  SELECT (SELECT count(*) FROM embeddings) AS n,
         (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) AS nq,
         (SELECT count(*) FROM truth) AS n_truth
),
m AS (
  SELECT 'lsh' AS method,
         (SELECT count(*) FROM lsh JOIN truth USING (query_id, neighbor_id))
           AS n_hits,
         {lsh_cand} AS n_candidates
  UNION ALL
  SELECT 'ivf',
         (SELECT count(*) FROM ivf JOIN truth USING (query_id, neighbor_id)),
         {ivf_cand}
  UNION ALL
  SELECT 'pq',
         (SELECT count(*) FROM pq JOIN truth USING (query_id, neighbor_id)),
         (SELECT nq * (n - 1) FROM consts)
)
SELECT method, n_hits,
       (SELECT n_truth FROM consts) AS n_truth,
       CAST(n_hits AS DOUBLE) / CAST((SELECT n_truth FROM consts) AS DOUBLE)
         AS recall_at_k,
       n_candidates,
       (SELECT nq * (n - 1) FROM consts) AS n_full_pairs,
       CAST(n_candidates AS DOUBLE)
         / CAST((SELECT nq * (n - 1) FROM consts) AS DOUBLE) AS candidate_frac
FROM m
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (dimension-reduction quality report)
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)  # evaluated prefix dims; DIM (=64) is the truth


def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation quality report (the Matryoshka-representation
    question): for each truncated dimensionality, exact cosine top-k
    over the PREFIX of every vector, scored as recall against the
    full-dimension brute-force truth. The artifact for choosing how many
    dimensions to keep before an index build — at 100 TB a 4x dim cut is
    a 4x cut in index bytes, shuffle width, and scoring FLOPs, and this
    report prices its recall cost. All scores are deterministic (shared
    fold order, ties by neighbor id), so every value is oracle-gated."""
    # ONE fused plan instead of 4 sequential brute-force jobs (truth +
    # one per prefix dim — the r07 form, 2.5x weak): a single pair scan
    # scores every prefix cosine at once (prefix dot folds are
    # left-to-right, so a sliced fold is bit-identical to the per-pass
    # sliced-corpus fold), one (query, partition)-local prune keeps any
    # row that is a local top-k candidate for ANY dim (exact: a row that
    # outranks a global top-k row of dim d is itself in dim d's global
    # top-k, hence a dim-d local survivor), and one per-query window
    # pass ranks all dims together. The report falls out of a single
    # aggregation — no driver loop, no checkpoint, no repeated scans.
    emb = _emb(spark, sf_dir)
    dims = [*MRL_DIMS, None]  # None = full-dimension truth
    tag = lambda d: str(d) if d is not None else "t"
    vec = lambda side, d: (
        f"slice({side}, 1, {d})" if d is not None else side
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        *[
            F.expr(sql_norm(vec("embedding", d))).alias(f"__qn{tag(d)}")
            for d in dims
        ],
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        *[
            F.expr(sql_norm(vec("embedding", d))).alias(f"__cn{tag(d)}")
            for d in dims
        ],
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        *[
            F.expr(
                f"{sql_dot(vec('qvec', d), vec('cvec', d))}"
                f" / (`__qn{tag(d)}` * `__cn{tag(d)}`)"
            ).alias(f"__cos{tag(d)}")
            for d in dims
        ],
    )
    order = lambda d: (F.col(f"__cos{tag(d)}").desc(), F.col("neighbor_id"))
    local = scored.withColumn("__pid", F.spark_partition_id())
    for d in dims:
        local = local.withColumn(
            f"__l{tag(d)}",
            F.row_number().over(
                Window.partitionBy("query_id", "__pid").orderBy(*order(d))
            ),
        )
    survivors = local.filter(
        reduce(
            lambda a, b: a | b,
            [F.col(f"__l{tag(d)}") <= TOP_K for d in dims],
        )
    )
    ranked = survivors
    for d in dims:
        ranked = ranked.withColumn(
            f"__r{tag(d)}",
            F.row_number().over(Window.partitionBy("query_id").orderBy(*order(d))),
        )
    in_truth = F.col("__rt") <= TOP_K
    agg = ranked.agg(
        *[
            F.sum(
                F.when((F.col(f"__r{d}") <= TOP_K) & in_truth, 1).otherwise(0)
            ).alias(f"__h{d}")
            for d in MRL_DIMS
        ],
        F.sum(F.when(in_truth, 1).otherwise(0)).alias("__nt"),
    )
    per_dim = F.array(
        *[
            F.struct(
                F.lit(d).alias("trunc_dim"),
                F.col(f"__h{d}").alias("n_hits"),
                F.col("__nt").alias("n_truth"),
                (
                    F.col(f"__h{d}").cast("double")
                    / F.col("__nt").cast("double")
                ).alias("recall_at_k"),
            )
            for d in MRL_DIMS
        ]
    )
    return agg.select(F.explode(per_dim).alias("__s")).select("__s.*")


def _sql_matryoshka_oracle() -> str:
    def topk_cte(name: str, vec: str) -> str:
        return f"""{name} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_sql_dot("qvec", "cvec")}
                        / ({_sql_norm("qvec")} * {_sql_norm("cvec")}) DESC,
                      neighbor_id) AS rnk
    FROM (SELECT vec_id AS neighbor_id, {vec} AS cvec FROM embeddings) c,
         (SELECT vec_id AS query_id, {vec} AS qvec FROM embeddings
          WHERE vec_id < {N_QUERIES}) q
    WHERE query_id <> neighbor_id
  ) WHERE rnk <= {TOP_K}
)"""

    ctes = [topk_cte("__mt_truth", "embedding")]
    selects = []
    for d in MRL_DIMS:
        ctes.append(topk_cte(f"__mt_{d}", f"embedding[1:{d}]"))
        selects.append(
            f"""SELECT {d} AS trunc_dim,
       (SELECT count(*) FROM __mt_{d} t
        JOIN __mt_truth u USING (query_id, neighbor_id)) AS n_hits,
       (SELECT count(*) FROM __mt_truth) AS n_truth,
       CAST((SELECT count(*) FROM __mt_{d} t
             JOIN __mt_truth u USING (query_id, neighbor_id)) AS DOUBLE)
         / (SELECT count(*) FROM __mt_truth) AS recall_at_k"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


EMBEDDING_MATRYOSHKA_ORACLE = _sql_matryoshka_oracle()


QUERIES = {
    "embedding_semantic_dedup": embedding_semantic_dedup,
    "embedding_topk_bruteforce": embedding_topk_bruteforce,
    "embedding_ann_lsh": embedding_ann_lsh,
    "embedding_ann_ivf": embedding_ann_ivf,
    "embedding_cosine_neardup": embedding_cosine_neardup,
    "embedding_kmeans": embedding_kmeans,
    "embedding_prototype_pruning": embedding_prototype_pruning,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_ann_pq": embedding_ann_pq,
    "doc_hybrid_search_rrf": doc_hybrid_search_rrf,
    "ann_quality_report": ann_quality_report,
    "embedding_matryoshka_recall": embedding_matryoshka_recall,
}

ORACLES = {
    "ann_quality_report": _sql_ann_quality_oracle(),
    "embedding_semantic_dedup": _sql_semdedup_oracle(),
    "embedding_kmeans": _sql_kmeans_oracle(),
    "embedding_prototype_pruning": _sql_prototype_pruning_oracle(),
    "embedding_topk_bruteforce": EMBEDDING_TOPK_ORACLE,
    "embedding_matryoshka_recall": EMBEDDING_MATRYOSHKA_ORACLE,
    "embedding_ann_lsh": _sql_ann_oracle(),
    "embedding_ann_ivf": _sql_ivf_oracle(),
    "embedding_cosine_neardup": _sql_neardup_oracle(),
    "embedding_quantize_int8": _sql_quantize_oracle(),
    "embedding_ann_pq": _sql_pq_oracle(),
    "doc_hybrid_search_rrf": _sql_hybrid_oracle(),
}
