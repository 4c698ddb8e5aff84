"""Similarity-search surface over the ``embeddings`` table.

ANN over an ``array<float>`` embedding column: brute-force cosine top-k as
the correctness baseline, and a sign-bit LSH-bucketed variant as the scale
path (bucketed search touches only same-bucket candidates — the shuffle is
on the bucket key, not a full cross join).

All vector math is done in double precision on both engines and similarity
is rounded before ranking, so cross-engine summation-order noise cannot
reorder the top-k. Dot products stay JVM-side via higher-order functions
(``zip_with`` + ``aggregate``) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators.bucketing import capped_buckets
from data_pipeline_with_big_data_stack_spark.queries import query
from data_pipeline_with_big_data_stack_spark.session import materialize, prepare_session, scratch_dir
from data_pipeline_with_big_data_stack_spark.tables import load_table

N_QUERY_VECS = 5  # vec_id < 5 are the probe vectors
TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: every vector pipeline does O(dim) float math per row
    # (dot products, SRP projections) — see tables._scan_rebalance
    prepare_session(spark)
    return load_table(spark, sf_dir, "embeddings", rebalance=True).withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos(a, b):
    """Cosine with a NULL result for zero-norm inputs. The nullif is
    load-bearing twice over: ANSI mode otherwise THROWS DIVIDE_BY_ZERO
    on an all-zero (padding) embedding — one such vector would kill the
    whole job — and DuckDB would return NaN where Spark's try_divide
    would return NULL, so the oracles apply the same nullif and both
    engines agree on NULL (which orders LAST under DESC in both, i.e.
    zero vectors simply drop out of top-k). Caught by the
    hostile-embeddings robustness suite."""
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


# --------------------------------------------------------------------------
# Per-label embedding stats (norms) — sanity surface for the vector column.
# --------------------------------------------------------------------------
@query(
    "q_embed_label_stats",
    oracle="""
    WITH t AS (
      SELECT label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings)
    SELECT label, count(*) AS n,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM t GROUP BY label
    """,
)
def q_embed_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    t = e.select("label", _norm(F.col("emb")).alias("nrm"))
    return t.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k: N probe vectors against the full corpus.
# The probe side is broadcast; the corpus never shuffles. At 100 TB the
# identical plan holds for any probe batch that fits in a broadcast.
# --------------------------------------------------------------------------
_COSINE_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERY_VECS}),
    c AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    sims AS (
      SELECT q.q_id, c.vec_id, c.label,
             round(list_dot_product(q.q_emb, c.emb)
                   / nullif(sqrt(list_dot_product(q.q_emb, q.q_emb))
                      * sqrt(list_dot_product(c.emb, c.emb)), 0), 6) AS cosine
      FROM q CROSS JOIN c
      WHERE c.vec_id != q.q_id)
    SELECT q_id, vec_id, label, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id) AS rn
      FROM sims)
    WHERE rn <= {TOP_K}
"""


@query("q_ann_cosine_topk", oracle=_COSINE_ORACLE)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    c = e.select("vec_id", "label", "emb")
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(
                _cos(F.col("q_emb"), F.col("emb")),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", "label", "cosine")
    )


# --------------------------------------------------------------------------
# Sign-bit LSH buckets (axis-aligned hyperplane family): bucket id from the
# signs of the first 4 components. The scale path for ANN — candidates are
# only same-bucket vectors, so the join shuffles on a small int key.
# --------------------------------------------------------------------------
_N_BITS = 4
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN emb[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_N_BITS)
)

_LSH_ORACLE = f"""
    WITH t AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    b AS (
      SELECT vec_id, label, emb, {_BUCKET_SQL} AS bucket FROM t),
    q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket FROM b
          WHERE vec_id < {N_QUERY_VECS}),
    sims AS (
      SELECT q.q_id, b.vec_id, b.bucket,
             round(list_dot_product(q.q_emb, b.emb)
                   / nullif(sqrt(list_dot_product(q.q_emb, q.q_emb))
                      * sqrt(list_dot_product(b.emb, b.emb)), 0), 6) AS cosine
      FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id != q.q_id)
    SELECT q_id, vec_id, bucket, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id) AS rn
      FROM sims)
    WHERE rn <= {TOP_K}
"""


@query("q_ann_lsh_bucketed_topk", oracle=_LSH_ORACLE)
def q_ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    bucket = None
    for i in range(_N_BITS):
        bit = F.when(F.element_at("emb", i + 1) >= 0, F.lit(1 << i)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    b = e.select("vec_id", "label", "emb", bucket.alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), "bucket"
    )
    sims = (
        b.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "bucket",
            F.round(
                _cos(F.col("q_emb"), F.col("emb")),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", "bucket", "cosine")
    )


# --------------------------------------------------------------------------
# Embedding near-duplicate detection: cosine >= threshold over LSH-blocked
# pairs (embedding-cosine near-dup from the dedup suite).
#
# Blocking is signed-random-projection LSH: 48 hyperplanes with
# md5-derived ±1 (Rademacher) coefficients, split into 4 bands × 12 sign
# bits. A band key therefore has 2^12 = 4096 values, so bucket
# cardinality GROWS with the corpus instead of pinning at a constant
# (the r1 shape — 4 axis-aligned bits = 16 buckets for the whole corpus —
# made the bucket join all-pairs/16, quadratic at 100 TB). Pairs are
# generated by bucket-grouping (sorted collect_list + in-bucket i<j
# explode — one shuffle on the band key, signature computed once), with
# buckets capped at _MAX_BUCKET ids so a degenerate corpus (all-identical
# vectors) cannot blow up a task; the cap trades bounded recall loss
# inside mega-buckets for bounded memory, and the oracle applies the
# identical cap so the gate stays exact. At larger corpus scale, raise
# _R_BITS (buckets per band = 2^_R_BITS) — recall at cosine>=0.95 is
# 1-(1-p^R)^B with p ≈ 1 - acos(0.95)/pi ≈ 0.9.
#
# Both engines derive the hyperplane signs from md5("hp{j}_{i}") — Python
# hashlib on the Spark side, DuckDB md5() in the oracle — so the blocking
# is bit-identical cross-engine with no giant literal matrices in SQL.
# --------------------------------------------------------------------------
_EMB_DIM = 64  # embeddings.parquet embedding length (TESTDATA.md)
_SRP_BANDS = 4
_SRP_BITS = 12  # sign bits per band
_MAX_BUCKET = 64  # per-bucket id cap (memory bound; recall note above)


def _srp_planes() -> list[list[float]]:
    import hashlib

    planes = []
    for j in range(_SRP_BANDS * _SRP_BITS):
        row = []
        for i in range(_EMB_DIM):
            h = hashlib.md5(f"hp{j}_{i}".encode()).hexdigest()
            row.append(1.0 if int(h[:8], 16) & 1 else -1.0)
        planes.append(row)
    return planes


def _srp_band_rows(e: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_val) — one row per band per vector. Band
    values are computed as named columns in one projection, then a cheap
    posexplode over the 4 column refs (exploding the full 48-dot
    expression inline would re-evaluate it in the generator's implicit
    filter — the measured 12× pitfall, tests/test_plans.py)."""
    planes = _srp_planes()
    band_cols = []
    for b in range(_SRP_BANDS):
        v = None
        for r in range(_SRP_BITS):
            plane = F.array(*[F.lit(c) for c in planes[b * _SRP_BITS + r]])
            bit = F.when(_dot(F.col("emb"), plane) >= 0, F.lit(1 << r)).otherwise(
                F.lit(0)
            )
            v = bit if v is None else v + bit
        band_cols.append(v.cast("long").alias(f"bv{b}"))
    sig = e.select("vec_id", *band_cols)
    return sig.select(
        "vec_id",
        F.posexplode(F.array(*[f"bv{b}" for b in range(_SRP_BANDS)])).alias(
            "band_idx", "band_val"
        ),
    )


def _srp_candidate_pairs(e: DataFrame) -> DataFrame:
    """Distinct (vec_a, vec_b) with vec_a < vec_b sharing any band bucket.
    One shuffle (groupBy band key); pair explosion bounded by _MAX_BUCKET."""
    bands = _srp_band_rows(e)
    buckets = capped_buckets(
        bands, ["band_idx", "band_val"], "vec_id", F.col("vec_id"), _MAX_BUCKET
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                """
                flatten(transform(ids, (x, i) ->
                    transform(slice(ids, i + 2, size(ids)), y ->
                        struct(x AS vec_a, y AS vec_b))))
                """
            )
        ).alias("p")
    )
    return pairs.select("p.vec_a", "p.vec_b").distinct()


# DuckDB twin of the banding: planes from md5, bits via cross join +
# grouped bit-sum, per-bucket cap via row_number over vec_id (equals the
# Spark capped_buckets window-rank cap exactly).
_SRP_DUCK = f"""
    t AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    planes AS (
      SELECT j, (j // {_SRP_BITS}) AS band_idx, (j % {_SRP_BITS}) AS r,
             list_transform(range({_EMB_DIM}), i ->
               CASE WHEN ('0x' || substr(md5('hp' || j || '_' || i), 1, 8))::BIGINT
                         & 1 = 1
                    THEN 1.0 ELSE -1.0 END) AS plane
      FROM (SELECT unnest(range({_SRP_BANDS * _SRP_BITS})) AS j)),
    bits AS (
      SELECT t.vec_id, p.band_idx,
             CASE WHEN list_dot_product(t.emb, p.plane) >= 0
                  THEN (1 << p.r) ELSE 0 END AS bit
      FROM t CROSS JOIN planes p),
    bands AS (
      SELECT vec_id, band_idx, (sum(bit))::BIGINT AS band_val
      FROM bits GROUP BY vec_id, band_idx),
    ranked AS (
      SELECT vec_id, band_idx, band_val,
             row_number() OVER (PARTITION BY band_idx, band_val
                                ORDER BY vec_id) AS rk
      FROM bands),
    capped AS (SELECT * FROM ranked WHERE rk <= {_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id),
    scored AS (
      SELECT c.vec_a, c.vec_b,
             round(list_dot_product(x.emb, y.emb)
                   / nullif(sqrt(list_dot_product(x.emb, x.emb))
                      * sqrt(list_dot_product(y.emb, y.emb)), 0), 6) AS cosine
      FROM cand c
      JOIN t x ON x.vec_id = c.vec_a
      JOIN t y ON y.vec_id = c.vec_b)
"""


def _srp_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cand = _srp_candidate_pairs(e)
    x = e.select(F.col("vec_id").alias("xid"), F.col("emb").alias("x_emb"))
    y = e.select(F.col("vec_id").alias("yid"), F.col("emb").alias("y_emb"))
    cos = _cos(F.col("x_emb"), F.col("y_emb"))
    return (
        cand.join(x, F.col("vec_a") == F.col("xid"))
        .join(y, F.col("vec_b") == F.col("yid"))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


@query(
    "q_embed_lsh_candidates",
    oracle=f"WITH {_SRP_DUCK} SELECT vec_a, vec_b, cosine FROM scored",
)
def q_embed_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All SRP-LSH candidate pairs with exact cosine — the generation
    stage of the near-dup pipeline, surfaced so the gate hashes
    non-trivial rows (the 0.95-filtered output is empty on the synthetic
    corpus, whose max pairwise cosine is ~0.51)."""
    return _srp_scored(spark, sf_dir)


@query(
    "q_embed_near_duplicates",
    oracle=f"WITH {_SRP_DUCK} SELECT vec_a, vec_b, cosine FROM scored "
    "WHERE cosine >= 0.95",
)
def q_embed_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _srp_scored(spark, sf_dir).filter(F.col("cosine") >= 0.95)


# --------------------------------------------------------------------------
# IVF-style ANN: coarse quantization into K cells (centroids = a fixed,
# deterministic sample of the corpus — vec_id multiples of N/K — playing
# the role of a trained codebook), probe searches its nprobe nearest
# cells only. The inverted-file pattern at scale: the corpus is
# partitioned by cell_id once at index build; a probe touches
# nprobe/K of the data, and the cell assignment join broadcasts only
# the K-row codebook.
# --------------------------------------------------------------------------
_K_CELLS = 8
_NPROBE = 2


def _ivf_cells_duck() -> str:
    return f"""
    cents AS (
      SELECT (vec_id / 100)::BIGINT AS cell_id, embedding::DOUBLE[] AS c_emb
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {_K_CELLS * 100}),
    assigned AS (
      SELECT t.vec_id, t.label, t.emb, a.cell_id
      FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) t
      CROSS JOIN LATERAL (
        SELECT cell_id FROM cents
        ORDER BY list_distance(t.emb, c_emb), cell_id LIMIT 1) a),
    probe_cells AS (
      SELECT q.vec_id AS q_id, q.emb AS q_emb, c.cell_id,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY list_distance(q.emb, c.c_emb), c.cell_id) AS rk
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            WHERE vec_id < {N_QUERY_VECS}) q CROSS JOIN cents c)
    """


_IVF_ORACLE = f"""
    WITH {_ivf_cells_duck()}
    , cand AS (
      SELECT p.q_id, a.vec_id, a.cell_id,
             round(list_dot_product(p.q_emb, a.emb)
                   / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                      * sqrt(list_dot_product(a.emb, a.emb)), 0), 6) AS cosine
      FROM probe_cells p JOIN assigned a ON p.cell_id = a.cell_id
      WHERE p.rk <= {_NPROBE} AND a.vec_id != p.q_id)
    SELECT q_id, vec_id, cell_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id) AS rn
      FROM cand)
    WHERE rn <= {TOP_K}
"""


@query("q_ann_ivf_topk", oracle=_IVF_ORACLE)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)

    def sqdist(a, b):
        d = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
        return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)

    # The whole K-row codebook rides along as ONE broadcast array column
    # (single-row aggregate → broadcast nested loop against 1 row), so
    # cell assignment is a map-side argmin projection: zero shuffle of
    # the corpus. The r1 formulation (broadcast join expanding every row
    # ×K + row_number over partitionBy(vec_id)) shuffled K× the corpus
    # just to take an 8-way argmin — a multi-hundred-TB exchange at
    # target scale. Ranking by (dist, cell_id) struct sort matches the
    # oracle's ORDER BY list_distance, cell_id exactly (sqrt is monotone,
    # so raw squared distance preserves the argmin and its ties).
    cb = _km_demo_init(e, _K_CELLS)

    def ranked_cells(vec_col):
        return F.array_sort(
            F.transform(
                F.col("cb"),
                lambda c: F.struct(
                    sqdist(vec_col, c["c_emb"]).alias("dist"),
                    c["cell_id"].alias("cell_id"),
                ),
            )
        )

    assigned = (
        e.select("vec_id", "label", "emb")
        .join(F.broadcast(cb))
        .select(
            "vec_id",
            "label",
            "emb",
            F.element_at(ranked_cells(F.col("emb")), 1)["cell_id"].alias("cell_id"),
        )
    )
    # probes: nprobe nearest cells each — same broadcast argmin, top-n by
    # slicing the sorted cell ranking (probe side is 5 rows; the shape
    # matters because a real probe batch is still shuffle-free)
    probes = (
        e.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"))
        .join(F.broadcast(cb))
        .select(
            "q_id",
            "q_emb",
            F.explode(F.slice(ranked_cells(F.col("q_emb")), 1, _NPROBE)).alias("cell"),
        )
        .select("q_id", "q_emb", F.col("cell")["cell_id"].alias("cell_id"))
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "cell_id",
            F.round(
                _cos(F.col("q_emb"), F.col("emb")),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", "cell_id", "cosine")
    )


# --------------------------------------------------------------------------
# Distributed k-means (Lloyd's): the codebook-training side of IVF.
# Deterministic end to end — id-sampled init, decimal(38,14) centroid
# sums (summation-order independent), (dist, cell_id) tie-break — so a
# 2-iteration run is EXACTLY reproduced by the DuckDB oracle: the gate
# checks the full training trajectory, not just one assignment.
# Scale shape: assignment is a broadcast map-side argmin (zero corpus
# shuffle); the update shuffles at most K×dim partially-aggregated rows
# per task (operators/kmeans.py).
# --------------------------------------------------------------------------
_KM_K = 8
_KM_ITERS = 2
_KM_DIM = 64


def _km_dist_sql(v: str, c: str) -> str:
    return (
        f"list_sum([({v}.emb[i]-{c}.emb[i])*({v}.emb[i]-{c}.emb[i]) "
        f"for i in range(1, {_KM_DIM + 1})])"
    )


def _km_round_sql(src: str, cb: str, out_a: str, out_c: str) -> str:
    """One Lloyd round: assign ``src`` against ``cb`` → ``out_a``;
    decimal-mean update → ``out_c``."""
    return f"""
    {out_a} AS (
      SELECT vec_id, emb, cell_id AS cluster_id FROM (
        SELECT v.vec_id, v.emb, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_km_dist_sql('v', 'c')}, c.cell_id) AS rk
        FROM {src} v CROSS JOIN {cb} c) WHERE rk = 1),
    {out_c} AS (
      SELECT cluster_id AS cell_id, list(m ORDER BY i) AS emb
      FROM (SELECT cluster_id, i,
                   (sum((emb[i])::DECIMAL(38,14)))::DOUBLE / count(*) AS m
            FROM {out_a} CROSS JOIN range(1, {_KM_DIM + 1}) t(i)
            GROUP BY cluster_id, i)
      GROUP BY cluster_id)"""


_KM_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
           FROM e WHERE vec_id % 100 = 0 AND vec_id < {_KM_K * 100}),
    {_km_round_sql('e', 'c0', 'a1', 'c1')},
    {_km_round_sql('e', 'c1', 'a2', 'c2')},
    a3 AS (
      SELECT vec_id, cell_id AS cluster_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_km_dist_sql('v', 'c')}, c.cell_id) AS rk
        FROM e v CROSS JOIN c2 c) WHERE rk = 1)
    SELECT a3.cluster_id,
           count(*)::BIGINT            AS n_members,
           round(any_value(c2.l1), 6)  AS centroid_l1
    FROM a3 JOIN (SELECT cell_id, list_sum(emb) AS l1 FROM c2) c2
      ON c2.cell_id = a3.cluster_id
    GROUP BY a3.cluster_id
"""


def _km_demo_init(e: DataFrame, k: int = _KM_K) -> DataFrame:
    """Deterministic id-sampled seed codebook (every 100th vec_id,
    cell_id = vec_id/100) in the 1-row array-of-struct broadcast shape.
    THE shared constructor for every consumer — lloyd_kmeans init, the
    PQ sub-space trainers, the inline IVF queries, the materialized
    IVF-PQ index lifecycle, and bench's serve-only probes — so the
    codebook derivation its DuckDB oracles replay can never silently
    diverge between them."""
    return (
        e.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < k * 100)
        )
        .select(
            (F.col("vec_id") / 100).cast("long").alias("cell_id"),
            F.col("emb").alias("c_emb"),
        )
        .agg(F.collect_list(F.struct("cell_id", "c_emb")).alias("cb"))
    )


@query("q_kmeans_embeddings", oracle=_KM_ORACLE)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import lloyd_kmeans

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    # single-action query: ReuseExchange dedupes the two broadcast
    # consumers of the trained-codebook subtree within the one noop/
    # collect action, so no eager materialization here (r15 measured
    # it cost a job without removing one)
    assigned, cb = lloyd_kmeans(e, _km_demo_init(e), iters=_KM_ITERS)
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    cents = (
        cb.select(F.explode("cb").alias("c"))
        .select(
            F.col("c.cell_id").alias("cluster_id"),
            F.round(
                F.aggregate("c.c_emb", F.lit(0.0), lambda a, x: a + x), 6
            ).alias("centroid_l1"),
        )
    )
    return sizes.join(F.broadcast(cents), "cluster_id")


# --------------------------------------------------------------------------
# Product quantization: the embedding is split into subspaces, each
# quantized by its own small k-means codebook — the memory-compression
# half of IVF-PQ ANN serving (a 64-dim float vector becomes 2 bytes of
# codes here). Same determinism contract as q_kmeans_embeddings: the
# oracle replays both subspace codebooks' full 2-iteration trajectory,
# so codes AND reconstruction error are value-checked. Scale shape per
# subspace: broadcast-argmin assignment (zero corpus shuffle) and a
# ≤ K×dim-row combiner-friendly centroid update; the M subspaces are
# independent plans over column slices of one scan.
# --------------------------------------------------------------------------
_PQ_K = 4
_PQ_ITERS = 2
_PQ_SUB = 32  # dims per subspace → 2 subspaces over the 64-dim embedding


def _pq_dist_sql(v: str, c: str, dim: int | None = None) -> str:
    dim = _PQ_SUB if dim is None else dim
    return (
        f"list_sum([({v}.emb[i]-{c}.emb[i])*({v}.emb[i]-{c}.emb[i]) "
        f"for i in range(1, {dim + 1})])"
    )


def _pq_round_sql(
    src: str, cb: str, out_a: str, out_c: str, dim: int | None = None
) -> str:
    dim = _PQ_SUB if dim is None else dim
    return f"""
    {out_a} AS (
      SELECT vec_id, emb, cell_id AS cluster_id FROM (
        SELECT v.vec_id, v.emb, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_pq_dist_sql('v', 'c', dim)}, c.cell_id) AS rk
        FROM {src} v CROSS JOIN {cb} c) WHERE rk = 1),
    {out_c} AS (
      SELECT cluster_id AS cell_id, list(m ORDER BY i) AS emb
      FROM (SELECT cluster_id, i,
                   (sum((emb[i])::DECIMAL(38,14)))::DOUBLE / count(*) AS m
            FROM {out_a} CROSS JOIN range(1, {dim + 1}) t(i)
            GROUP BY cluster_id, i)
      GROUP BY cluster_id)"""


def _pq_final_sql(src: str, cb: str, out: str, dim: int | None = None) -> str:
    dim = _PQ_SUB if dim is None else dim
    return f"""
    {out} AS (
      SELECT vec_id, cell_id AS code, d AS err FROM (
        SELECT v.vec_id, c.cell_id, {_pq_dist_sql('v', 'c', dim)} AS d,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_pq_dist_sql('v', 'c', dim)}, c.cell_id) AS rk
        FROM {src} v CROSS JOIN {cb} c) WHERE rk = 1)"""


_PQ_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    e0 AS (SELECT vec_id, emb[1:{_PQ_SUB}] AS emb FROM e),
    e1 AS (SELECT vec_id, emb[{_PQ_SUB + 1}:{2 * _PQ_SUB}] AS emb FROM e),
    c0_0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
             FROM e0 WHERE vec_id % 100 = 0 AND vec_id < {_PQ_K * 100}),
    c1_0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
             FROM e1 WHERE vec_id % 100 = 0 AND vec_id < {_PQ_K * 100}),
    {_pq_round_sql('e0', 'c0_0', 'a0_1', 'c0_1')},
    {_pq_round_sql('e0', 'c0_1', 'a0_2', 'c0_2')},
    {_pq_round_sql('e1', 'c1_0', 'a1_1', 'c1_1')},
    {_pq_round_sql('e1', 'c1_1', 'a1_2', 'c1_2')},
    {_pq_final_sql('e0', 'c0_2', 'f0')},
    {_pq_final_sql('e1', 'c1_2', 'f1')}
    SELECT f0.vec_id,
           f0.code                        AS code_0,
           f1.code                        AS code_1,
           round(f0.err + f1.err, 4)      AS recon_err
    FROM f0 JOIN f1 ON f0.vec_id = f1.vec_id
"""


def _pq_train_codebooks(e: DataFrame, eager: bool = True) -> list[DataFrame]:
    """Train the two subspace codebooks — shared by the PQ coding and
    IVF-PQ search queries so their oracles replay one trajectory.

    FUSED since the r15 optimization pass (guide §1.2/§2.4): both
    subspaces train in one ``lloyd_kmeans_multi`` chain — each round is
    a single corpus scan + a single (cbk, cluster_id, pos) partial-agg
    shuffle instead of one chain per subspace (the r15 first pass
    overlapped the two chains on a thread pool; fusing removes the
    second chain outright — half the training scans at any scale). The
    trained VALUES are bit-identical to the per-slice chains
    (tests/test_kmeans_fused.py), so every oracle replay is unchanged.

    ``eager=True`` (default) MATERIALIZES the combined 1-row codebook
    frame before returning — every *action* that broadcasts the lazy
    codebooks (an index build alone runs 3 write actions) would
    otherwise re-execute the full O(corpus) training chain; now ONE
    checkpoint action covers both codebooks (previously two pooled
    ones). The single-action inline queries (q_embed_pq_codes,
    q_ann_ivfpq_topk) pass ``eager=False``: within ONE action Spark's
    ReuseExchange already dedupes the shared training subtree, so eager
    checkpointing only adds jobs there (measured 26→29 in r15)."""
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import (
        lloyd_kmeans_multi,
    )

    slices = [(m * _PQ_SUB + 1, _PQ_SUB) for m in range(2)]
    # fused init: ONE filtered scan aggregates both subspace seed
    # codebooks — identical values to _km_demo_init over each slice
    init = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PQ_K * 100)
    ).agg(
        *[
            F.collect_list(
                F.struct(
                    (F.col("vec_id") / 100).cast("long").alias("cell_id"),
                    F.slice("emb", off, ln).alias("c_emb"),
                )
            ).alias(f"cb_{m}")
            for m, (off, ln) in enumerate(slices)
        ]
    )
    combined = lloyd_kmeans_multi(e, init, slices, iters=_PQ_ITERS)
    if eager:
        combined = materialize(combined)
    return [combined.select(F.col(f"cb_{m}").alias(f"cb{m}")) for m in range(2)]


@query("q_embed_pq_codes", oracle=_PQ_ORACLE)
def q_embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import _sqdist

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    codebooks = _pq_train_codebooks(e, eager=False)  # single action

    # single map-side pass: both trained codebooks ride along as two
    # broadcast 1-row arrays; codes + reconstruction error come from one
    # projection over the scan — no corpus shuffle, no zip join
    def best(cb_col: str, sub_col):
        ranked = F.array_sort(
            F.transform(
                F.col(cb_col),
                lambda c: F.struct(
                    _sqdist(sub_col, c["c_emb"]).alias("dist"),
                    c["cell_id"].alias("cell_id"),
                ),
            )
        )
        return F.element_at(ranked, 1)

    sub0 = F.slice("emb", 1, _PQ_SUB)
    sub1 = F.slice("emb", _PQ_SUB + 1, _PQ_SUB)
    return (
        e.join(F.broadcast(codebooks[0]))
        .join(F.broadcast(codebooks[1]))
        .withColumn("b0", best("cb0", sub0))
        .withColumn("b1", best("cb1", sub1))
        .select(
            "vec_id",
            F.col("b0")["cell_id"].alias("code_0"),
            F.col("b1")["cell_id"].alias("code_1"),
            F.round(F.col("b0")["dist"] + F.col("b1")["dist"], 4).alias(
                "recon_err"
            ),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup — semantic deduplication by cluster-then-cosine (Abbas et
# al. 2023, arXiv:2303.09540): k-means the embeddings, then compare
# pairs only WITHIN a cluster and drop every document whose cosine to a
# lower-id cluster-mate reaches the threshold. A distinct dedup family
# from MinHash/SimHash (surface text) and SRP-LSH (hash-blocked
# pairs): the blocking structure here is the learned cluster itself.
#
# Scale shape: the quadratic pair step never touches the corpus — it
# runs per cluster, and SemDeDup picks K proportional to corpus size so
# the expected cluster stays bounded (the paper uses 50 K clusters for
# 100 M+ docs); the join shuffles each vector once on cluster_id, and
# per-vector norms are computed once before the pair join, not per
# pair. Determinism: the same id-sampled init + decimal-mean k-means
# trajectory as q_kmeans_embeddings, so the DuckDB oracle replays the
# full pipeline — clustering, pairing, threshold, and keeper choice —
# and value-checks every removed doc.
# --------------------------------------------------------------------------
_SEM_TAU = 0.35

_SEM_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
           FROM e WHERE vec_id % 100 = 0 AND vec_id < {_KM_K * 100}),
    {_km_round_sql('e', 'c0', 'a1', 'c1')},
    {_km_round_sql('e', 'c1', 'a2', 'c2')},
    a3 AS (
      SELECT vec_id, cell_id AS cluster_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_km_dist_sql('v', 'c')}, c.cell_id) AS rk
        FROM e v CROSS JOIN c2 c) WHERE rk = 1),
    d AS (
      SELECT y.vec_id AS vec_id, y.cluster_id, x.vec_id AS dup_of,
             round(list_dot_product(ex.emb, ey.emb)
                   / nullif(sqrt(list_dot_product(ex.emb, ex.emb))
                      * sqrt(list_dot_product(ey.emb, ey.emb)), 0), 6) AS cosine
      FROM a3 x JOIN a3 y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
      JOIN e ex ON ex.vec_id = x.vec_id
      JOIN e ey ON ey.vec_id = y.vec_id)
    SELECT vec_id, cluster_id, dup_of, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cosine DESC, dup_of) AS rn
      FROM d WHERE cosine >= {_SEM_TAU}) WHERE rn = 1
"""


def semdedup_removals(
    e: DataFrame, init_cb: DataFrame, tau: float, n_salts: int = 8
) -> DataFrame:
    """The full SemDeDup pipeline over ``e`` (vec_id, emb): k-means
    against ``init_cb``, then salted within-cluster pair scoring and
    keeper choice at cosine ≥ ``tau``. K comes from the init codebook —
    SemDeDup's scale contract is K ∝ corpus so the expected cluster
    (and with it the per-cluster quadratic pair step) stays bounded;
    the registered query pins correctness at the demo K=8 and the scale
    audit runs this same function with K scaled to the data
    (tools/scale_audit.py)."""
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import lloyd_kmeans

    assigned, _cb = lloyd_kmeans(e, init_cb, iters=_KM_ITERS)
    # one norm per vector BEFORE the pair join (25 K pairs at sf0.01
    # would otherwise recompute each side's norm per pair)
    # localCheckpoint: both pair-join sides consume the assignment —
    # without it each side re-executes the whole 2-round training chain
    vecs = materialize(
        assigned.select(
            "cluster_id", "vec_id", "emb", _norm(F.col("emb")).alias("nrm")
        )
    )
    # salt the pair join: the demo K (8 clusters) is far below the core
    # count, so joining on cluster_id alone would funnel ALL O(n_c²)
    # dot products through K tasks. The y side gets a deterministic
    # salt, the x side is replicated per salt (the small-side-replicate
    # pattern from operators/layout.skew_salt) — K×n_salts join keys
    # spread the pair compute without changing the pair set.
    y = vecs.withColumn("__salt", F.pmod("vec_id", F.lit(n_salts)))
    x = vecs.select(
        "cluster_id",
        F.col("vec_id").alias("dup_of"),
        F.col("emb").alias("x_emb"),
        F.col("nrm").alias("x_nrm"),
    ).withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cos = F.round(
        _dot(F.col("x_emb"), F.col("emb"))
        / F.nullif(F.col("x_nrm") * F.col("nrm"), F.lit(0.0)),
        6
    )
    d = (
        y.join(x, ["cluster_id", "__salt"])
        .filter(F.col("dup_of") < F.col("vec_id"))
        .select("vec_id", "cluster_id", "dup_of", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(tau))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "dup_of")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", "dup_of", "cosine")
    )


@query("q_semdedup_embeddings", oracle=_SEM_ORACLE)
def q_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs removed by SemDeDup at cosine ≥ 0.35, each with its kept
    duplicate (highest rounded cosine, lowest dup_of on ties)."""
    e = _emb(spark, sf_dir).select("vec_id", "emb")
    return semdedup_removals(e, _km_demo_init(e), _SEM_TAU)


# --------------------------------------------------------------------------
# IVF-PQ search — the production ANN serving architecture (Jégou et al.
# 2011): the IVF stage prunes the corpus to the probe's nprobe cells,
# and ranking runs on PQ codes via asymmetric distance (query subvector
# → candidate's codebook centroid), so the scan never touches raw
# candidate vectors. Composed entirely from the engine's deterministic
# devices — the sample-centroid IVF cells of q_ann_ivf_topk and the
# bit-reproducible 2-round PQ codebook trajectory of q_embed_pq_codes —
# so the DuckDB oracle replays the WHOLE pipeline: cells, codebook
# training, coding, probe selection, and ADC ranking.
#
# Scale shape: index build is one map-side projection per vector (cell
# + codes) under broadcast codebooks; a probe touches nprobe/K of the
# index; ADC ranks from the K_PQ-row codebooks — no corpus shuffle, no
# raw-vector reads at query time.
# --------------------------------------------------------------------------
_IVFPQ_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    e0 AS (SELECT vec_id, emb[1:{_PQ_SUB}] AS emb FROM e),
    e1 AS (SELECT vec_id, emb[{_PQ_SUB + 1}:{2 * _PQ_SUB}] AS emb FROM e),
    c0_0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
             FROM e0 WHERE vec_id % 100 = 0 AND vec_id < {_PQ_K * 100}),
    c1_0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
             FROM e1 WHERE vec_id % 100 = 0 AND vec_id < {_PQ_K * 100}),
    {_pq_round_sql('e0', 'c0_0', 'a0_1', 'c0_1')},
    {_pq_round_sql('e0', 'c0_1', 'a0_2', 'c0_2')},
    {_pq_round_sql('e1', 'c1_0', 'a1_1', 'c1_1')},
    {_pq_round_sql('e1', 'c1_1', 'a1_2', 'c1_2')},
    {_pq_final_sql('e0', 'c0_2', 'f0')},
    {_pq_final_sql('e1', 'c1_2', 'f1')},
    {_ivf_cells_duck()}
    , adc AS (
      SELECT p.q_id, a.vec_id, a.cell_id,
             round(list_sum([(p.q_emb[i] - cc0.emb[i])
                             * (p.q_emb[i] - cc0.emb[i])
                             for i in range(1, {_PQ_SUB + 1})])
                 + list_sum([(p.q_emb[i + {_PQ_SUB}] - cc1.emb[i])
                             * (p.q_emb[i + {_PQ_SUB}] - cc1.emb[i])
                             for i in range(1, {_PQ_SUB + 1})]), 4) AS adc_dist
      FROM probe_cells p
      JOIN assigned a ON p.cell_id = a.cell_id AND a.vec_id != p.q_id
      JOIN f0 ON f0.vec_id = a.vec_id
      JOIN f1 ON f1.vec_id = a.vec_id
      JOIN c0_2 cc0 ON cc0.cell_id = f0.code
      JOIN c1_2 cc1 ON cc1.cell_id = f1.code
      WHERE p.rk <= {_NPROBE})
    SELECT q_id, vec_id, cell_id, adc_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY adc_dist, vec_id) AS rn FROM adc)
    WHERE rn <= {TOP_K}
"""


@query("q_ann_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import _sqdist

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    cb0, cb1 = _pq_train_codebooks(e, eager=False)  # single action
    cbi = _km_demo_init(e, _K_CELLS).withColumnRenamed("cb", "cbi")

    def ranked_cells(vec_col):
        return F.array_sort(
            F.transform(
                F.col("cbi"),
                lambda c: F.struct(
                    _sqdist(vec_col, c["c_emb"]).alias("dist"),
                    c["cell_id"].alias("cell_id"),
                ),
            )
        )

    def best_code(cb_col: str, sub_col):
        ranked = F.array_sort(
            F.transform(
                F.col(cb_col),
                lambda c: F.struct(
                    _sqdist(sub_col, c["c_emb"]).alias("dist"),
                    c["cell_id"].alias("cell_id"),
                ),
            )
        )
        return F.element_at(ranked, 1)["cell_id"]

    sub0 = F.slice("emb", 1, _PQ_SUB)
    sub1 = F.slice("emb", _PQ_SUB + 1, _PQ_SUB)
    # index build: ONE map-side projection per vector — coarse cell +
    # both PQ codes, all three codebooks riding along as broadcast
    # 1-row arrays. The raw vector is dropped here: queries never see it
    coded = (
        e.join(F.broadcast(cbi))
        .join(F.broadcast(cb0))
        .join(F.broadcast(cb1))
        .select(
            "vec_id",
            F.element_at(ranked_cells(F.col("emb")), 1)["cell_id"].alias(
                "cell_id"
            ),
            best_code("cb0", sub0).alias("code_0"),
            best_code("cb1", sub1).alias("code_1"),
        )
    )
    probes = (
        e.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"))
        .join(F.broadcast(cbi))
        .select(
            "q_id",
            "q_emb",
            F.explode(F.slice(ranked_cells(F.col("q_emb")), 1, _NPROBE)).alias(
                "cell"
            ),
        )
        .select("q_id", "q_emb", F.col("cell")["cell_id"].alias("cell_id"))
    )

    def centroid(cb_col: str, code_col: str):
        return F.element_at(
            F.filter(F.col(cb_col), lambda c: c["cell_id"] == F.col(code_col)), 1
        )["c_emb"]

    adc = F.round(
        _sqdist(F.slice("q_emb", 1, _PQ_SUB), centroid("cb0", "code_0"))
        + _sqdist(F.slice("q_emb", _PQ_SUB + 1, _PQ_SUB), centroid("cb1", "code_1")),
        4,
    )
    cand = (
        coded.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(cb0))
        .join(F.broadcast(cb1))
        .select("q_id", "vec_id", "cell_id", adc.alias("adc_dist"))
    )
    w = W.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", "cell_id", "adc_dist")
    )


# --------------------------------------------------------------------------
# The MATERIALIZED half of IVF-PQ (VERDICT r4 next-round #2): build the
# codes-only index once (operators/ann_index.build_ivfpq_index — coarse
# cell + PQ codes per vector, partitioned by cell, raw vectors dropped),
# then serve the same probes from it with nprobe partition-pruned ADC
# ranking. Identical top-k to the inline trainer by construction, so it
# shares _IVFPQ_ORACLE — the driver gate value-checks the index path
# end to end (build → sidecars → pruned scan → ADC), not just pytest.
# At 100 TB this is the serving shape: training cost is paid at build
# time, a query reads nprobe/K of the codes and never a vector.
# --------------------------------------------------------------------------
@query("q_ann_ivfpq_index_search", oracle=_IVFPQ_ORACLE)
def q_ann_ivfpq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    cb0, cb1 = _pq_train_codebooks(e)
    coarse = _km_demo_init(e, _K_CELLS)
    path = scratch_dir("ivfpq_index_") + "/index"
    build_ivfpq_index(e, path, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    return search_ivfpq_index(spark, path, probes, nprobe=_NPROBE, k=TOP_K)


# --------------------------------------------------------------------------
# Exact RE-RANK over the ADC shortlist (round 14, VERDICT r13 #4): the
# production ANN serving loop is ADC-shortlist → exact re-rank → top-k.
# ADC distances are quantized (PQ centroids stand in for the true
# vector), so the final ranking re-scores an m·k shortlist against the
# RAW vectors — and the exact stage must read ONLY shortlist rows: the
# shortlist ids (bounded — ≤ N_QUERY_VECS × _RERANK_M per probe batch,
# collected once) push into the embeddings scan as an In filter, so at
# 100 TB the re-rank reads m·k rows per probe batch, never the corpus
# (plan-pinned in tests/test_ann_index.py). Oracle: the same IVF-PQ
# replay kept to rn <= m, exact-cosined on the raw vectors, re-ranked.
# --------------------------------------------------------------------------
_RERANK_M = 4 * TOP_K  # ADC shortlist size per probe
# above this many distinct shortlist ids the exact stage switches from
# a pushed In-filter scan to a broadcast LeftSemi join (see the
# switchover comment in q_ann_ivfpq_rerank_topk); ~1k In-list terms is
# where parquet predicate evaluation and plan size start to dominate
_RERANK_IN_MAX = 1000
_IVFPQ_FINAL_SELECT = "SELECT q_id, vec_id, cell_id, adc_dist FROM ("
assert _IVFPQ_FINAL_SELECT in _IVFPQ_ORACLE
_IVFPQ_RERANK_ORACLE = (
    _IVFPQ_ORACLE.split(_IVFPQ_FINAL_SELECT, 1)[0]
    + f""", short AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist, vec_id) AS rn FROM adc)
      WHERE rn <= {_RERANK_M}),
    rer AS (
      SELECT s.q_id, s.vec_id,
             round(list_dot_product(q.emb, c.emb)
                   / nullif(sqrt(list_dot_product(q.emb, q.emb))
                      * sqrt(list_dot_product(c.emb, c.emb)), 0), 6) AS cosine
      FROM short s
      JOIN e q ON q.vec_id = s.q_id
      JOIN e c ON c.vec_id = s.vec_id)
    SELECT q_id, vec_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, vec_id) AS rn FROM rer)
    WHERE rn <= {TOP_K}
"""
)


@query("q_ann_ivfpq_rerank_topk", oracle=_IVFPQ_RERANK_ORACLE)
def q_ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist (m = 4k per probe) from the materialized IVF-PQ
    index, exact cosine on ONLY the shortlist rows, final top-k by true
    similarity. The shortlist is collected to the driver ONCE — a
    BOUNDED set by construction (≤ N_QUERY_VECS × _RERANK_M rows, the
    per-probe-batch serving working set). Up to _RERANK_IN_MAX distinct
    ids the exact stage's embeddings scan carries a pushed
    ``In(vec_id, ...)`` filter (row-group stats prune; no corpus rows
    surface) and the shortlist/probe joins are broadcasts — no shuffle.
    Above the threshold the In predicate's O(ids)-per-row-group cost
    and plan-size blowup dominate, so the stage switches to a broadcast
    LeftSemi join: the scan walks the full (columnar, two-column)
    embeddings table but each row pays one O(1) hash probe, rows
    surfacing from the scan are still shortlist-only, and there is
    still no shuffle — the trade is a sequential columnar read for
    bounded predicate/plan cost."""

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    cb0, cb1 = _pq_train_codebooks(e)
    coarse = _km_demo_init(e, _K_CELLS)
    path = scratch_dir("ivfpq_rerank_") + "/index"
    build_ivfpq_index(e, path, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    # bounded collect (≤ N_QUERY_VECS × _RERANK_M = 100 rows): the ADC
    # shortlist IS the serving tier's per-query working set; holding it
    # on the driver avoids re-running the ADC search when the re-rank
    # plan executes
    short_rows = (
        search_ivfpq_index(spark, path, probes, nprobe=_NPROBE, k=_RERANK_M)
        .select("q_id", "vec_id")
        .collect()
    )
    ids = sorted({int(r.vec_id) for r in short_rows})
    short = spark.createDataFrame(
        [(int(r.q_id), int(r.vec_id)) for r in short_rows],
        "q_id long, vec_id long",
    )
    # In-list → broadcast-semi-join switchover (VERDICT r14 #8): a
    # pushed In(vec_id, ...) filter reaches parquet row-group stats and
    # is the fastest path for a small shortlist, but the predicate
    # itself is O(ids) per row-group evaluation and bloats the plan at
    # production m·k (thousands of probes per batch). Above the
    # threshold the scan filters via LeftSemi against the broadcast
    # shortlist instead — a full columnar scan of (vec_id, emb) with an
    # O(1) hash probe per row and no plan-size blowup; only shortlist
    # rows surface, no shuffle either way. The gate fixture (100 ids)
    # exercises the In branch; the semi branch carries the same result
    # contract (tests/test_ann_index.py pins equality).
    return _rerank_exact_stage(e, short, probes, ids, k=TOP_K)


def _rerank_exact_stage(
    e: DataFrame, short: DataFrame, probes: DataFrame, ids: list[int], k: int
) -> DataFrame:
    """The exact-cosine re-rank stage over a driver-held shortlist —
    the In-list vs broadcast-LeftSemi switchover lives HERE so the
    above-threshold branch is drivable at real shortlist sizes
    (tests/test_ann_index.py runs it with >_RERANK_IN_MAX distinct ids
    against a DuckDB replay of the oracle's re-rank stage — VERDICT
    r15 #5); ``q_ann_ivfpq_rerank_topk`` calls it with the gate-scale
    shortlist, so the extraction changes no plan."""
    if len(ids) <= _RERANK_IN_MAX:
        scanned = e.filter(F.col("vec_id").isin(ids))  # pushed In filter
    else:
        scanned = e.join(
            F.broadcast(short.select("vec_id").distinct()),
            "vec_id",
            "left_semi",
        )
    exact = (
        scanned.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(probes), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(_cos(F.col("q_emb"), F.col("emb")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine")
    )


# --------------------------------------------------------------------------
# Index EXPIRY (round 6, VERDICT r5 #5): a training corpus also LOSES
# vectors (opt-outs, takedowns, retention windows). Build the full
# index, expire a deterministic tombstone set (vec_id % 17 == 3, ~6 %
# spread across every cell — production tombstones are sparse and touch
# few cells; the spread here exercises the per-cell rewrite
# everywhere), then serve the probes from the surviving index. Every
# step runs through operators/ann_index_versioned: the expiry publishes
# a new generation holding the rewritten cells plus references to the
# untouched ones. The oracle is the full IVF-PQ replay with the
# tombstoned ids excluded from the candidate set — codebooks were
# trained BEFORE the expiry, so only the codes rows disappear, which is
# exactly what expire_ivfpq_versioned does
# (search-after-expire == rebuild-over-survivors is separately
# byte-pinned in tests/test_ann_index.py).
# --------------------------------------------------------------------------
_EXPIRE_MOD, _EXPIRE_RES = 17, 3
_IVFPQ_CAND_JOIN = "JOIN assigned a ON p.cell_id = a.cell_id AND a.vec_id != p.q_id"
assert _IVFPQ_CAND_JOIN in _IVFPQ_ORACLE
_IVFPQ_EXPIRE_ORACLE = _IVFPQ_ORACLE.replace(
    _IVFPQ_CAND_JOIN,
    _IVFPQ_CAND_JOIN + f"\n        AND a.vec_id % {_EXPIRE_MOD} != {_EXPIRE_RES}",
)


@query("q_ann_ivfpq_index_expire", oracle=_IVFPQ_EXPIRE_ORACLE)
def q_ann_ivfpq_index_expire(spark: SparkSession, sf_dir: str) -> DataFrame:

    from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
        build_ivfpq_versioned,
        expire_ivfpq_versioned,
        search_ivfpq_versioned,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    cb0, cb1 = _pq_train_codebooks(e)
    coarse = _km_demo_init(e, _K_CELLS)
    root = scratch_dir("ivfpq_expire_") + "/vroot"
    build_ivfpq_versioned(e, root, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
    expire_ivfpq_versioned(
        spark, root, predicate=(F.col("vec_id") % _EXPIRE_MOD) == _EXPIRE_RES
    )
    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    return search_ivfpq_versioned(spark, root, probes, nprobe=_NPROBE, k=TOP_K)


# --------------------------------------------------------------------------
# STREAMING ingest into the materialized vector index (round 5): train
# codebooks offline, create an empty versioned index, then stream the
# corpus in — each micro-batch coded map-side and published as a new
# generation that references every earlier segment and adds only the
# batch's codes (operators/ann_index_versioned.append_ivfpq_versioned),
# never rewriting existing files; finally serve the probes from the
# live generation. Codes are a per-vector pure function of the
# broadcast codebooks, so the final index is independent of
# micro-batch boundaries and the search result equals the inline
# trainer's — it shares _IVFPQ_ORACLE, giving the driver a value check
# of the whole stream→append→prune→ADC loop. This is the dedup_index
# incremental-append pattern lifted to the vector store: the shape of
# a training corpus that gains embeddings daily.
# --------------------------------------------------------------------------
@query("q_stream_ann_ivfpq_ingest", oracle=_IVFPQ_ORACLE)
def q_stream_ann_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
        append_ivfpq_versioned,
        build_ivfpq_versioned,
        search_ivfpq_versioned,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    cb0, cb1 = _pq_train_codebooks(e)
    coarse = _km_demo_init(e, _K_CELLS)
    base = scratch_dir("ivfpq_stream_")
    root = base + "/vroot"
    # empty build = codebook sidecars + partition root; data arrives via
    # the stream
    build_ivfpq_versioned(e.limit(0), root, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
    src = base + "/src"
    # 4 source files → 4 micro-batches: the multi-batch property the
    # query exists to exercise, at a BOUNDED epoch count. The previous
    # unconstrained write emitted one file per scan task (32 on the
    # bench session), and each of the 32 resulting epochs paid the full
    # append protocol (lock, sidecar reads, commit, publish) —
    # 453 stages measured at sf0.1 (r15). Codes are a per-vector pure
    # function of the broadcast codebooks, so the drained index is
    # batch-boundary independent by construction (docstring above).
    e.coalesce(4).write.mode("overwrite").parquet(src)
    st = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches, not one
        .parquet(src)
    )
    q = (
        st.writeStream.foreachBatch(
            lambda df, _eid: append_ivfpq_versioned(df.sparkSession, root, df)
        )
        .option("checkpointLocation", base + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    return search_ivfpq_versioned(spark, root, probes, nprobe=_NPROBE, k=TOP_K)


# --------------------------------------------------------------------------
# MMR diverse selection (round 5): greedy maximal-marginal-relevance —
# pick k corpus vectors that are RELEVANT to a query but DIVERSE from
# each other (Carbonell & Goldstein 1998; the selection step behind
# diverse few-shot pools and dedup-aware retrieval). Round 1 takes the
# best cosine; round i takes argmax of
#     lam*rel - (1-lam)*max_{s in selected} cos(cand, s)
# with every pairwise cosine rounded to 6 decimals and ties broken by
# vec_id, so the greedy trajectory is bit-stable across engines and the
# DuckDB oracle replays ALL k rounds as chained CTEs. Scale shape: each
# round is one map-side score projection under a ≤k-vector broadcast
# (the selected set) followed by TakeOrderedAndProject(1) — k tiny
# driver-coordinated jobs, the corpus never shuffles.
# --------------------------------------------------------------------------
_MMR_K = 5
_MMR_LAM = "0.7"
_MMR_ONE_MINUS_LAM = "0.3"


def _mmr_cos_duck(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b}) / nullif(sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})), 0), 6)"
    )


def _mmr_oracle() -> str:
    rounds = [
        "sel1 AS (SELECT 1 AS rank, vec_id, emb, rel AS score "
        "FROM base ORDER BY rel DESC, vec_id LIMIT 1)",
        "acc1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, _MMR_K + 1):
        prev = f"acc{i - 1}"
        rounds.append(
            f"sel{i} AS (SELECT {i} AS rank, b.vec_id, b.emb, "
            f"round({_MMR_LAM}*b.rel - {_MMR_ONE_MINUS_LAM}*"
            f"max({_mmr_cos_duck('b.emb', 's.emb')}), 6) AS score "
            f"FROM base b CROSS JOIN {prev} s "
            f"WHERE b.vec_id NOT IN (SELECT vec_id FROM {prev}) "
            f"GROUP BY b.vec_id, b.emb, b.rel "
            f"ORDER BY score DESC, b.vec_id LIMIT 1)"
        )
        rounds.append(
            f"acc{i} AS (SELECT * FROM acc{i - 1} UNION ALL SELECT * FROM sel{i})"
        )
    return f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE vec_id > 0),
    q AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id = 0),
    base AS (
      SELECT c.vec_id, c.emb, {_mmr_cos_duck('q.emb', 'c.emb')} AS rel
      FROM c CROSS JOIN q),
    {', '.join(rounds)}
    SELECT rank, vec_id, score FROM acc{_MMR_K} ORDER BY rank
    """


@query("q_embed_mmr_diverse_topk", oracle=_mmr_oracle())
def q_embed_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", "emb")
    q_emb = e.filter(F.col("vec_id") == 0).head()["emb"]
    q_lit = F.array(*[F.lit(float(x)) for x in q_emb])
    base = e.filter(F.col("vec_id") > 0).select(
        "vec_id",
        "emb",
        F.round(
            _cos(F.col("emb"), q_lit), 6
        ).alias("rel"),
    )
    # the k greedy rounds: ≤k driver-coordinated single-row collects
    # (metadata scale, like the k-means convergence loop)
    lam, oml = float(_MMR_LAM), float(_MMR_ONE_MINUS_LAM)
    selected: list = []  # (vec_id, emb) picks in rank order
    picks = []
    for rank in range(1, _MMR_K + 1):
        if not selected:
            score = F.col("rel")
        else:
            sims = [
                F.round(
                    _cos(
                        F.col("emb"),
                        F.array(*[F.lit(float(x)) for x in s_emb]),
                    ),
                    6,
                )
                for _sid, s_emb in selected
            ]
            mx = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.round(lam * F.col("rel") - oml * mx, 6)
        cand = base.filter(
            ~F.col("vec_id").isin([sid for sid, _ in selected])
        ).select("vec_id", "emb", score.alias("score"))
        top = cand.orderBy(F.col("score").desc(), "vec_id").limit(1).head()
        selected.append((top["vec_id"], top["emb"]))
        picks.append((rank, top["vec_id"], float(top["score"])))
    return spark.createDataFrame(
        picks, "rank int, vec_id long, score double"
    ).orderBy("rank")


# --------------------------------------------------------------------------
# Index RETRAIN (round 7, VERDICT r6 #2): append_ivfpq_versioned codes
# new vectors with codebooks frozen at build time, so recall decays
# silently as the ingested distribution shifts (drift pinned in
# tests/test_ann_index.py). retrain_ivfpq_versioned is the reindex: fresh
# md5-seeded codebooks trained over the CURRENT corpus
# (operators/ann_index.train_ivfpq_codebooks), everything re-coded into
# a new generation, and codes + both sidecars published together by one
# pointer write. The trainer is deterministic (hash-ranked seeds + the
# same decimal-mean lloyd the PQ queries use), so the oracle replays
# the ENTIRE post-retrain state: seed selection, 2 lloyd rounds for the
# coarse codebook (64-dim) and both PQ subspaces (32-dim), coding, probe
# selection, and ADC ranking. The stale pre-retrain codebooks the
# index was built with cancel out — exactly the property that makes
# retrain a safe reindex.
# --------------------------------------------------------------------------
_IVFPQ_RETRAIN_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    e0 AS (SELECT vec_id, emb[1:{_PQ_SUB}] AS emb FROM e),
    e1 AS (SELECT vec_id, emb[{_PQ_SUB + 1}:{2 * _PQ_SUB}] AS emb FROM e),
    seed_c AS (SELECT vec_id, row_number() OVER (ORDER BY h) - 1 AS cell_id
               FROM (SELECT vec_id, md5(vec_id::VARCHAR) AS h FROM e
                     ORDER BY h LIMIT {_K_CELLS})),
    seed_p AS (SELECT vec_id, row_number() OVER (ORDER BY h) - 1 AS cell_id
               FROM (SELECT vec_id, md5(vec_id::VARCHAR) AS h FROM e
                     ORDER BY h LIMIT {_PQ_K})),
    g_0 AS (SELECT s.cell_id, e.emb FROM seed_c s JOIN e USING (vec_id)),
    h0_0 AS (SELECT s.cell_id, e0.emb FROM seed_p s JOIN e0 USING (vec_id)),
    h1_0 AS (SELECT s.cell_id, e1.emb FROM seed_p s JOIN e1 USING (vec_id)),
    {_pq_round_sql('e', 'g_0', 'ga_1', 'g_1', 2 * _PQ_SUB)},
    {_pq_round_sql('e', 'g_1', 'ga_2', 'g_2', 2 * _PQ_SUB)},
    {_pq_round_sql('e0', 'h0_0', 'ha0_1', 'h0_1')},
    {_pq_round_sql('e0', 'h0_1', 'ha0_2', 'h0_2')},
    {_pq_round_sql('e1', 'h1_0', 'ha1_1', 'h1_1')},
    {_pq_round_sql('e1', 'h1_1', 'ha1_2', 'h1_2')},
    {_pq_final_sql('e0', 'h0_2', 'f0')},
    {_pq_final_sql('e1', 'h1_2', 'f1')},
    assigned AS (
      SELECT vec_id, cluster_id AS cell_id FROM (
        SELECT v.vec_id, c.cell_id AS cluster_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_pq_dist_sql('v', 'c', 2 * _PQ_SUB)}, c.cell_id) AS rk
        FROM e v CROSS JOIN g_2 c) WHERE rk = 1),
    probe_cells AS (
      SELECT q.vec_id AS q_id, q.emb AS q_emb, c.cell_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY {_pq_dist_sql('q', 'c', 2 * _PQ_SUB)}, c.cell_id) AS rk
      FROM (SELECT vec_id, emb FROM e WHERE vec_id < {N_QUERY_VECS}) q
      CROSS JOIN g_2 c),
    adc AS (
      SELECT p.q_id, a.vec_id, a.cell_id,
             round(list_sum([(p.q_emb[i] - cc0.emb[i])
                             * (p.q_emb[i] - cc0.emb[i])
                             for i in range(1, {_PQ_SUB + 1})])
                 + list_sum([(p.q_emb[i + {_PQ_SUB}] - cc1.emb[i])
                             * (p.q_emb[i + {_PQ_SUB}] - cc1.emb[i])
                             for i in range(1, {_PQ_SUB + 1})]), 4) AS adc_dist
      FROM probe_cells p
      JOIN assigned a ON p.cell_id = a.cell_id AND a.vec_id != p.q_id
      JOIN f0 ON f0.vec_id = a.vec_id
      JOIN f1 ON f1.vec_id = a.vec_id
      JOIN h0_2 cc0 ON cc0.cell_id = f0.code
      JOIN h1_2 cc1 ON cc1.cell_id = f1.code
      WHERE p.rk <= {_NPROBE})
    SELECT q_id, vec_id, cell_id, adc_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY adc_dist, vec_id) AS rn FROM adc)
    WHERE rn <= {TOP_K}
"""


@query("q_ann_ivfpq_index_retrain", oracle=_IVFPQ_RETRAIN_ORACLE)
def q_ann_ivfpq_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:

    from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
        build_ivfpq_versioned,
        retrain_ivfpq_versioned,
        search_ivfpq_versioned,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    # stale starting codebooks: raw id-sampled seeds, no lloyd rounds —
    # the cheapest valid start, since retrain replaces them wholesale
    cb0 = _km_demo_init(
        e.select("vec_id", F.slice("emb", 1, _PQ_SUB).alias("emb")), _PQ_K
    ).withColumnRenamed("cb", "cb0")
    cb1 = _km_demo_init(
        e.select("vec_id", F.slice("emb", _PQ_SUB + 1, _PQ_SUB).alias("emb")),
        _PQ_K,
    ).withColumnRenamed("cb", "cb1")
    root = scratch_dir("ivfpq_retrain_") + "/vroot"
    build_ivfpq_versioned(
        e, root, _km_demo_init(e, _K_CELLS), [cb0, cb1], sub_dim=_PQ_SUB
    )
    retrain_ivfpq_versioned(spark, root, e, k_coarse=_K_CELLS, k_pq=_PQ_K)
    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    return search_ivfpq_versioned(spark, root, probes, nprobe=_NPROBE, k=TOP_K)


# Full versioned-maintenance trajectory (round 10, VERDICT r8 #4): the
# oracle is the retrain replay over the SURVIVING corpus — append codes
# with frozen stale codebooks and compact is content-invisible, so after
# expire + retrain the live generation IS a deterministic fresh build
# over the survivors (vec_id % 17 != 3), probes included.
_E_CTE = "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),"
assert _IVFPQ_RETRAIN_ORACLE.lstrip().startswith(_E_CTE)
_IVFPQ_VERSIONED_ORACLE = _IVFPQ_RETRAIN_ORACLE.replace(
    _E_CTE,
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"
    f" WHERE vec_id % {_EXPIRE_MOD} != {_EXPIRE_RES}),",
)


@query("q_ann_ivfpq_versioned_lifecycle", oracle=_IVFPQ_VERSIONED_ORACLE)
def q_ann_ivfpq_versioned_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-safe generation-versioned lifecycle (round 8; extended to
    the FULL maintenance surface round 10): build over half the corpus
    with stale codebooks, append the other half (manifest references +
    frozen codebooks), compact the now-fragmented cells (asserted non-no-op),
    expire the tombstone set, then retrain and search — every step
    through ``operators/
    ann_index_versioned``, where each maintenance op publishes a whole
    immutable generation behind an atomic ``_CURRENT`` pointer, so a
    concurrent search never pauses and never sees a half-swapped index
    (pinned in tests/test_ann_versioned.py). Append's frozen-codebook
    codes and the content-invisible compaction are both replaced
    wholesale by the retrain (a fresh deterministic build over the live
    = surviving ids), so the DuckDB oracle is q_ann_ivfpq_index_retrain's
    full-trajectory replay restricted to the survivors."""

    from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
        append_ivfpq_versioned,
        build_ivfpq_versioned,
        compact_ivfpq_versioned,
        expire_ivfpq_versioned,
        retrain_ivfpq_versioned,
        search_ivfpq_versioned,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    half = e.filter(F.col("vec_id") % 2 == 0)
    rest = e.filter(F.col("vec_id") % 2 == 1)
    cb0 = _km_demo_init(
        e.select("vec_id", F.slice("emb", 1, _PQ_SUB).alias("emb")), _PQ_K
    ).withColumnRenamed("cb", "cb0")
    cb1 = _km_demo_init(
        e.select("vec_id", F.slice("emb", _PQ_SUB + 1, _PQ_SUB).alias("emb")),
        _PQ_K,
    ).withColumnRenamed("cb", "cb1")
    root = scratch_dir("ivfpq_versioned_") + "/root"
    build_ivfpq_versioned(
        half, root, _km_demo_init(e, _K_CELLS), [cb0, cb1], sub_dim=_PQ_SUB
    )
    append_ivfpq_versioned(spark, root, rest)
    # compact BEFORE expire: right after the append every cell holds
    # build + append files (> 1), so the fold must actually run —
    # expire's per-cell rewrite would leave 1 file per cell and turn
    # max_files_per_cell=1 into a silent no-op. Raise if it skipped:
    # a no-op here means the gate stopped exercising the compact path.
    if compact_ivfpq_versioned(spark, root, max_files_per_cell=1) is None:
        raise RuntimeError(
            "versioned lifecycle gate: compaction skipped as a no-op — "
            "the appended cells should have needed a fold"
        )
    expire_ivfpq_versioned(
        spark, root, predicate=(F.col("vec_id") % _EXPIRE_MOD) == _EXPIRE_RES
    )
    retrain_ivfpq_versioned(spark, root, e, k_coarse=_K_CELLS, k_pq=_PQ_K)
    probes = e.filter(
        (F.col("vec_id") < N_QUERY_VECS)
        & (F.col("vec_id") % _EXPIRE_MOD != _EXPIRE_RES)
    ).select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"))
    return search_ivfpq_versioned(spark, root, probes, nprobe=_NPROBE, k=TOP_K)


# --------------------------------------------------------------------------
# Recall MONITOR for the materialized index (round 7): appends code new
# vectors with build-time codebooks, so recall decays silently on
# distribution shift — retrain (above) is the repair, and this is the
# SIGNAL: a deterministic md5-ranked probe sample, exact L2 ground
# truth over the indexed corpus, the index's own nprobe/ADC answer,
# and mean |intersection|/k. The whole estimate is deterministic
# (hash-ranked probes, id tie-breaks on both rankings), so the oracle
# replays it end to end: probe choice, coarse/PQ trajectories, cell
# assignment, ADC top-k, exact top-k, and the final average.
# --------------------------------------------------------------------------
_RECALL_N_PROBES = 16


_IVFPQ_RECALL_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    e0 AS (SELECT vec_id, emb[1:{_PQ_SUB}] AS emb FROM e),
    e1 AS (SELECT vec_id, emb[{_PQ_SUB + 1}:{2 * _PQ_SUB}] AS emb FROM e),
    c0_0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
             FROM e0 WHERE vec_id % 100 = 0 AND vec_id < {_PQ_K * 100}),
    c1_0 AS (SELECT (vec_id // 100)::BIGINT AS cell_id, emb
             FROM e1 WHERE vec_id % 100 = 0 AND vec_id < {_PQ_K * 100}),
    {_pq_round_sql('e0', 'c0_0', 'a0_1', 'c0_1')},
    {_pq_round_sql('e0', 'c0_1', 'a0_2', 'c0_2')},
    {_pq_round_sql('e1', 'c1_0', 'a1_1', 'c1_1')},
    {_pq_round_sql('e1', 'c1_1', 'a1_2', 'c1_2')},
    {_pq_final_sql('e0', 'c0_2', 'f0')},
    {_pq_final_sql('e1', 'c1_2', 'f1')},
    cents AS (
      SELECT (vec_id / 100)::BIGINT AS cell_id, embedding::DOUBLE[] AS c_emb
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {_K_CELLS * 100}),
    assigned AS (
      SELECT t.vec_id, a.cell_id
      FROM e t
      CROSS JOIN LATERAL (
        SELECT cell_id FROM cents
        ORDER BY list_distance(t.emb, c_emb), cell_id LIMIT 1) a),
    probes AS (
      SELECT vec_id AS q_id, emb AS q_emb FROM e
      ORDER BY md5(vec_id::VARCHAR) LIMIT {_RECALL_N_PROBES}),
    probe_cells AS (
      SELECT p.q_id, p.q_emb, c.cell_id,
             row_number() OVER (PARTITION BY p.q_id
               ORDER BY list_distance(p.q_emb, c.c_emb), c.cell_id) AS rk
      FROM probes p CROSS JOIN cents c),
    adc AS (
      SELECT p.q_id, a.vec_id,
             round(list_sum([(p.q_emb[i] - cc0.emb[i])
                             * (p.q_emb[i] - cc0.emb[i])
                             for i in range(1, {_PQ_SUB + 1})])
                 + list_sum([(p.q_emb[i + {_PQ_SUB}] - cc1.emb[i])
                             * (p.q_emb[i + {_PQ_SUB}] - cc1.emb[i])
                             for i in range(1, {_PQ_SUB + 1})]), 4) AS adc_dist
      FROM probe_cells p
      JOIN assigned a ON p.cell_id = a.cell_id AND a.vec_id != p.q_id
      JOIN f0 ON f0.vec_id = a.vec_id
      JOIN f1 ON f1.vec_id = a.vec_id
      JOIN c0_2 cc0 ON cc0.cell_id = f0.code
      JOIN c1_2 cc1 ON cc1.cell_id = f1.code
      WHERE p.rk <= {_NPROBE}),
    got AS (
      SELECT q_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist, vec_id) AS rn FROM adc)
      WHERE rn <= {TOP_K}),
    truth AS (
      SELECT q_id, vec_id FROM (
        SELECT p.q_id, t.vec_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_sum([(t.emb[i] - p.q_emb[i])
                                    * (t.emb[i] - p.q_emb[i])
                                    for i in range(1, {2 * _PQ_SUB + 1})]),
                          t.vec_id) AS rn
        FROM probes p JOIN e t ON t.vec_id != p.q_id)
      WHERE rn <= {TOP_K}),
    per_probe AS (
      SELECT t.q_id,
             count(g.vec_id)::DOUBLE / {TOP_K} AS recall
      FROM truth t LEFT JOIN got g
        ON g.q_id = t.q_id AND g.vec_id = t.vec_id
      GROUP BY t.q_id)
    SELECT {_RECALL_N_PROBES}::BIGINT AS n_probes,
           {TOP_K}::BIGINT            AS k,
           round(avg(recall), 4)      AS recall_at_k
    FROM per_probe
"""


@query("q_ann_ivfpq_recall_monitor", oracle=_IVFPQ_RECALL_ORACLE)
def q_ann_ivfpq_recall_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        estimate_ivfpq_recall,
    )

    e = _emb(spark, sf_dir).select("vec_id", "emb")
    cb0, cb1 = _pq_train_codebooks(e)
    coarse = _km_demo_init(e, _K_CELLS)
    path = scratch_dir("ivfpq_recall_") + "/index"
    build_ivfpq_index(e, path, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
    rec = estimate_ivfpq_recall(
        spark, path, e, n_probes=_RECALL_N_PROBES, k=TOP_K, nprobe=_NPROBE
    )
    return spark.createDataFrame(
        [(_RECALL_N_PROBES, TOP_K, round(rec, 4))],
        "n_probes long, k long, recall_at_k double",
    )
