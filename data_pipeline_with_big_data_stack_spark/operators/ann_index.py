"""Materialized IVF index for ANN search (the at-scale shape).

The registry query ``q_ann_ivf_topk`` assigns cells inline — correct,
but at 100 TB the corpus-side assignment is the dominant linear cost
and must be paid ONCE, not per probe batch. The production pipeline:

    build_ivf_index(vecs, path)  →  assignments written PARTITIONED BY
                                     cell_id + codebook sidecar  (one
                                     broadcast-argmin pass, one write)
    search_ivf_index(probes)     →  rank probe cells against the tiny
                                     codebook, then read ONLY the
                                     nprobe partitions — the scan's
                                     partition filter prunes the other
                                     K-nprobe cells entirely

The probe-side cell list is collected to build the pruning predicate —
a deliberate, documented driver-side step at METADATA scale (nprobe ×
|probe batch| ints, like ``catalog.upstream_of``); the corpus is never
collected and never re-assigned.

The IVF-PQ index (``build_ivfpq_index`` / ``search_ivfpq_index``)
stores codes only. Its codebooks travel as ONE broadcast row, with
each PQ subspace's centroids in a dense array indexed by code. Coding
a vector is one higher-order argmin expression over that row. A
search gives every probe its asymmetric-distance lookup table (M ×
K_PQ squared distances to the PQ centroids) and scores each candidate
with M table lookups (Jégou, Douze, Schmid, TPAMI 2011). A search
keeps no state between calls.

Every projection here is SQL text (``selectExpr``/``F.expr``): the JVM
parses one string per projection. The same expressions built from
``F.*`` calls and Python lambdas cost one py4j round trip per node,
about 2,000 per IVF-PQ search against a few hundred now (most of them
store listings). The codebook sidecars are read with their declared
schemas (:data:`_COARSE_DDL`, :data:`_PQ_DDL`, the types the builds
write), so no read of them launches a schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators import fsio, segman
from data_pipeline_with_big_data_stack_spark.operators.kmeans import _assign

# the two codebook sidecars, as every build writes them
_COARSE_DDL = "cell_id long, c_emb array<double>"
_PQ_DDL = "m int, code long, c_emb array<double>"


def _sqdist(a: str, b: str) -> str:
    """SQL text: squared L2 distance of the array expressions ``a`` and
    ``b``, summed in element order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, x) -> acc + x)"
    )


def _ranked(cb: str, emb: str) -> str:
    """SQL text: the cells of the codebook array ``cb`` as
    ``(dist, cell_id)`` structs, nearest to ``emb`` first (ties by the
    lower cell id)."""
    return (
        f"array_sort(transform({cb}, c -> named_struct("
        f"'dist', {_sqdist(emb, 'c.c_emb')}, 'cell_id', c.cell_id)))"
    )


def _sidecar_rows(codebook: DataFrame, key: str) -> DataFrame:
    """A 1-row codebook frame (first column ``array<struct<cell_id,
    c_emb>>``) → one row per centroid, ``(<key>, c_emb)`` cast to the
    declared sidecar types."""
    return codebook.selectExpr(f"explode(`{codebook.columns[0]}`) AS c").selectExpr(
        f"CAST(c.cell_id AS long) AS {key}", "CAST(c.c_emb AS array<double>) AS c_emb"
    )


def build_ivf_index(
    vecs: DataFrame, path: str, codebook: DataFrame, id_col: str = "vec_id"
) -> None:
    """``vecs(id, emb, ...)`` + 1-row ``codebook(cb)`` → parquet at
    ``path`` partitioned by ``cluster_id`` (+ ``_codebook`` sidecar).
    One broadcast map-side argmin pass over the corpus, zero shuffle
    before the partitioned write."""
    assigned = _assign(vecs, codebook)
    (
        assigned.write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(path)
    )
    _sidecar_rows(codebook, "cell_id").write.mode("overwrite").parquet(
        path + "_codebook"
    )


def _coarse_row(cells: DataFrame) -> DataFrame:
    """The coarse sidecar rows ``(cell_id, c_emb)`` → one row ``__cb``
    (``array<struct<cell_id, c_emb>>``)."""
    return cells.coalesce(1).selectExpr(
        "collect_list(struct(cell_id, c_emb)) AS __cb"
    )


def _codebooks(cells: DataFrame, pq_rows: DataFrame) -> DataFrame:
    """The coarse sidecar rows ``(cell_id, c_emb)`` and the PQ sidecar
    rows ``(m, code, c_emb)`` → ONE row: ``__cb`` (:func:`_coarse_row`),
    ``__pq`` (``__pq[m][code]`` is subspace m's centroid, dense by code)
    and ``__sd`` (sub-vector length). A Lloyd round drops empty
    clusters, so a retrained codebook can have gaps in its codes; a gap
    densifies to a null centroid, which no code points at. Every
    aggregate runs over ``coalesce(1)``: the inputs are metadata-scale,
    and a single input partition plans no single-partition shuffle."""
    per_m = (
        pq_rows.coalesce(1)
        .groupBy("m")
        .agg(
            F.expr("collect_list(struct(code, c_emb)) AS r"),
            F.expr("max(code) AS k"),
            F.expr("max(size(c_emb)) AS sd"),
        )
        .selectExpr(
            "m",
            "sd",
            "transform(sequence(0L, CAST(k AS long)), "
            "c -> get(r, CAST(array_position(r.code, c) - 1 AS int)).c_emb) AS dense",
        )
    )
    pq = per_m.selectExpr(
        "transform(array_sort(collect_list(struct(m, dense))), e -> e.dense) AS __pq",
        "max(sd) AS __sd",
    )
    return _coarse_row(cells).crossJoin(pq)


def _coded_projection(
    vecs: DataFrame, books: DataFrame, n_sub: int, id_col: str
) -> DataFrame:
    """One map-side projection per vector under the ONE broadcast
    codebook row (:func:`_codebooks`): ``(id, cell_id, code_0..
    code_{M-1})`` — coarse argmin + M subspace argmins, the raw vector
    dropped. The M argmins are one higher-order expression over
    ``__pq`` (subspace ``i`` is ``emb``'s ``__sd``-long slice ``i``),
    ties broken by the lower code. Shared by the initial build and the
    incremental append (same codebooks ⇒ bit-identical codes)."""
    sub = _sqdist("slice(emb, i * __sd + 1, __sd)", "c")
    codes = (
        "transform(__pq, (cbm, i) -> element_at(array_sort(filter(transform("
        f"cbm, (c, j) -> named_struct('dist', {sub}, 'code', CAST(j AS long))), "
        "s -> s.dist IS NOT NULL)), 1).code)"
    )
    coded = vecs.join(F.broadcast(books)).selectExpr(
        f"`{id_col}`",
        f"element_at({_ranked('__cb', 'emb')}, 1).cell_id AS cell_id",
        f"{codes} AS __codes",
    )
    return coded.selectExpr(
        f"`{id_col}`",
        "cell_id",
        *[f"__codes[{m}] AS code_{m}" for m in range(n_sub)],
    )


def build_ivfpq_index(
    vecs: DataFrame,
    path: str,
    coarse_codebook: DataFrame,
    pq_codebooks: list[DataFrame],
    sub_dim: int,
    id_col: str = "vec_id",
) -> None:
    """IVF-PQ index build — the train-once/serve-many half of
    ``queries/vector.q_ann_ivfpq_topk`` (which retrains its codebooks
    inline on every run so its DuckDB oracle can replay the trajectory;
    at scale you pay PQ training once and serve from this index).

    ``vecs(id, emb)`` + 1-row ``coarse_codebook(cb)`` + per-subspace
    1-row ``pq_codebooks`` (``operators/kmeans.lloyd_kmeans`` output,
    any column name) → parquet at ``path`` partitioned by ``cell_id``
    holding CODES ONLY (``id, code_0..code_{M-1}``) — the raw vector is
    dropped at build time and never read again — plus two sidecars:
    ``path + "_codebook"`` (coarse cells) and ``path + "_pq_codebook"``
    (``m, code, c_emb`` — K_PQ × M rows). The build is ONE map-side
    projection per vector under the one broadcast codebook row built
    from those sidecar rows: coarse argmin + M subspace argmins, zero
    shuffle before the partitioned write. ``sub_dim`` must equal the
    PQ centroid length, which the projection reads from the rows.

    Takes no lock and keeps no crash state: every maintained index is a
    generation of ``operators/ann_index_versioned``, which runs this
    build into a fresh, not yet published generation under the root's
    writer lock. A crash mid-build leaves an unpublished partial tree;
    a rebuild overwrites it."""
    coarse_rows = _sidecar_rows(coarse_codebook, "cell_id")
    pq_rows = None
    for m, cbm in enumerate(pq_codebooks):
        rows = _sidecar_rows(cbm, "code").selectExpr(f"{m} AS m", "code", "c_emb")
        pq_rows = rows if pq_rows is None else pq_rows.unionByName(rows)
    coded = _coded_projection(
        vecs, _codebooks(coarse_rows, pq_rows), len(pq_codebooks), id_col
    )
    # the three component writes are independent (codes + two tiny
    # sidecars): overlap them on a driver thread pool (guide §2.6,
    # r15) — the sidecar jobs back-fill the codes write's tail
    from concurrent.futures import ThreadPoolExecutor

    writes = [
        lambda: coded.write.mode("overwrite").partitionBy("cell_id").parquet(path),
        lambda: coarse_rows.write.mode("overwrite").parquet(path + "_codebook"),
        lambda: pq_rows.write.mode("overwrite").parquet(path + "_pq_codebook"),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda w: w(), writes))


def _seed_codebook(vecs: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """Deterministic k-seed codebook for retraining: the k vectors whose
    md5(id) sorts lowest, numbered 0..k-1 in that order. Hash-ranked
    (not first-k-by-id) so seeds spread over the corpus even when ids
    are clustered by ingest order; a distributed sort-limit picks them —
    no global window, no driver collect. Replayable in an oracle as
    ``row_number() OVER (ORDER BY md5(id::VARCHAR)) - 1`` over the same
    ``LIMIT k``."""
    seeds = (
        vecs.selectExpr(f"md5(CAST(`{id_col}` AS string)) AS __h", "emb")
        .orderBy("__h")
        .limit(k)
    )
    return seeds.selectExpr(
        "transform(array_sort(collect_list(struct(__h, emb))), (x, i) -> "
        "named_struct('cell_id', CAST(i AS long), 'c_emb', x.emb)) AS cb"
    )


def train_ivfpq_codebooks(
    vecs: DataFrame,
    k_coarse: int,
    k_pq: int,
    sub_dim: int,
    n_sub: int,
    iters: int = 2,
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[DataFrame]]:
    """Train a coarse codebook + ``n_sub`` per-subspace PQ codebooks over
    ``vecs(id, emb)`` — the general-corpus trainer behind
    ``ann_index_versioned.retrain_ivfpq_versioned`` (the inline registry
    queries keep their
    own ``_km_demo_init`` trainer so their DuckDB oracles replay
    an unchanged trajectory). Deterministic end to end: md5-ranked seed
    init (:func:`_seed_codebook`) + ``operators/kmeans.lloyd_kmeans``
    (decimal-mean updates, id tie-breaks). Scale shape per codebook: the
    lloyd loop shuffles only K×dim partial-aggregate rows per round; the
    corpus is only map-scanned."""
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import (
        lloyd_kmeans_multi,
    )
    from data_pipeline_with_big_data_stack_spark.session import materialize

    # FUSED since r15 (guide §1.2/§2.4): the 1 + n_sub trainings share
    # one md5 seed ranking (the per-codebook hash order is identical —
    # md5 over the same ids, so each codebook's seed set is a prefix of
    # one sorted sample) and train in one lloyd_kmeans_multi chain —
    # each round is a single corpus scan + a single partial-agg shuffle
    # for every codebook, materialized with ONE checkpoint action (the
    # r15 first pass overlapped 1 + n_sub separate chains on a thread
    # pool; fusing removes the extra chains and seed jobs outright).
    # Values are bit-identical per codebook to the separate
    # _seed_codebook + lloyd_kmeans chains (tests/test_kmeans_fused.py),
    # so every oracle replay is unchanged — with ONE documented edge
    # (ADVICE r15): the shared ranking tie-breaks equal md5 hashes on
    # the FULL emb (array_sort of struct(__h, emb), then per-codebook
    # slicing), where the old per-slice seeding tie-broke on the sliced
    # emb. Equal hashes require duplicate vec_ids, which the trainer
    # input contract forbids (ids are unique index/corpus keys
    # everywhere this is called); under that contract the trajectories
    # are identical.
    v = vecs.selectExpr(f"`{id_col}` AS vec_id", "emb")
    slices = [(None, None)] + [
        (m * sub_dim + 1, sub_dim) for m in range(n_sub)
    ]
    ks = [k_coarse] + [k_pq] * n_sub
    seeds = (
        v.selectExpr("md5(CAST(vec_id AS string)) AS __h", "emb")
        .orderBy("__h")
        .limit(max(ks))
    )
    seeded = seeds.selectExpr("array_sort(collect_list(struct(__h, emb))) AS s")

    def _seed_cb(k: int, off, ln) -> str:
        sub = "x.emb" if off is None else f"slice(x.emb, {off}, {ln})"
        return (
            f"transform(slice(s, 1, {int(k)}), (x, i) -> "
            f"named_struct('cell_id', CAST(i AS long), 'c_emb', {sub}))"
        )

    init = seeded.selectExpr(
        *[
            f"{_seed_cb(ks[i], off, ln)} AS cb_{i}"
            for i, (off, ln) in enumerate(slices)
        ]
    )
    combined = materialize(lloyd_kmeans_multi(v, init, slices, iters=iters))
    coarse = combined.select(F.col("cb_0").alias("cb"))
    pq = [
        combined.select(F.col(f"cb_{m + 1}").alias(f"cb{m}"))
        for m in range(n_sub)
    ]
    return coarse, pq


def _top_k(cand: DataFrame, order: str, k: int) -> DataFrame:
    """The first ``k`` rows of ``cand`` per ``q_id`` in SQL ``order``."""
    return (
        cand.selectExpr(
            "*", f"row_number() OVER (PARTITION BY q_id ORDER BY {order}) AS rn"
        )
        .where(f"rn <= {int(k)}")
        .drop("rn")
    )


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """``probes(q_id, q_emb)`` → top-``k`` by asymmetric-distance
    (ADC) per probe, from the materialized IVF-PQ index. Both sidecars
    are read once, with their declared schemas (no inference job), into
    ONE broadcast codebook row (:func:`_codebooks`). Each probe then
    carries, on the broadcast probe frame, its nearest ``nprobe`` cells
    and its lookup table: the M×K_PQ squared distances from its
    sub-vectors to every PQ centroid, built as one higher-order
    expression (Jégou, Douze, Schmid, TPAMI 2011). The codes scan reads
    ONLY the probed index partitions (codes, no vectors — the scan's
    ReadSchema carries id + codes only, plan-pinned), and each
    candidate scores with M table lookups, summed in subspace order.
    Every projection, the top-``k`` window included, is one SQL-text
    expression the JVM parses, so the plan build costs a few dozen
    py4j round trips, not thousands. Identical top-k to the inline
    ``q_ann_ivfpq_topk`` given the same codebooks (equality-pinned in
    tests/test_ann_index.py)."""
    fs = fsio.Fs(spark, path)  # ONE handle for all three component reads
    cb_tbl = segman.read_table(spark, fs, path + "_codebook", schema=_COARSE_DDL)
    pq_tbl = segman.read_table(spark, fs, path + "_pq_codebook", schema=_PQ_DDL)
    nearest = f"inline(slice({_ranked('__cb', 'q_emb')}, 1, {int(nprobe)}))"
    # metadata-scale collect: nprobe cells per probe → partition-pruning
    # predicate for the codes scan, map-side-deduped via collect_set.
    # It ranks against the coarse row alone, so it skips the PQ sidecar
    cells = sorted(
        probes.join(F.broadcast(_coarse_row(cb_tbl)))
        .selectExpr(nearest)
        .coalesce(1)
        .selectExpr("collect_set(cell_id)")
        .head()[0]
    )
    lut = (
        "transform(__pq, (cbm, i) -> transform(cbm, c -> "
        f"{_sqdist('slice(q_emb, i * __sd + 1, __sd)', 'c')}))"
    )
    probe_cells = (
        probes.join(F.broadcast(_codebooks(cb_tbl, pq_tbl)))
        .selectExpr("q_id", "q_emb", "__cb", f"{lut} AS __lut")
        .selectExpr("q_id", "__lut", nearest)
    )
    index = segman.read_table(
        spark, fs, path, logicals={f"cell_id={c}" for c in cells}
    ).filter(F.col("cell_id").isin(cells))
    n_sub = len([c for c in index.columns if c.startswith("code_")])
    adc = " + ".join(
        ["0D"]
        + [f"element_at(__lut[{m}], CAST(code_{m} + 1 AS int))" for m in range(n_sub)]
    )
    cand = (
        index.join(F.broadcast(probe_cells), "cell_id")
        .where(f"`{id_col}` != q_id")
        .selectExpr("q_id", f"`{id_col}`", "cell_id", f"round({adc}, 4) AS adc_dist")
    )
    return _top_k(cand, f"adc_dist, `{id_col}`", k)


def search_ivf_index(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """``probes(q_id, q_emb)`` → top-``k`` cosine matches per probe,
    reading only each probe's ``nprobe`` nearest index partitions."""
    fs = fsio.Fs(spark, path)
    cb_tbl = segman.read_table(spark, fs, path + "_codebook", schema=_COARSE_DDL)
    cb = cb_tbl.selectExpr("collect_list(struct(cell_id, c_emb)) AS cb")
    probe_cells = (
        probes.join(F.broadcast(cb))
        .selectExpr(
            "q_id", "q_emb", f"inline(slice({_ranked('cb', 'q_emb')}, 1, {int(nprobe)}))"
        )
        .selectExpr("q_id", "q_emb", "cell_id AS cluster_id")
    )
    # metadata-scale collect: nprobe cells per probe → partition-pruning
    # predicate for the index scan
    cells = sorted(
        {r.cluster_id for r in probe_cells.select("cluster_id").distinct().collect()}
    )
    index = segman.read_table(
        spark, fs, path, logicals={f"cluster_id={c}" for c in cells}
    ).filter(F.col("cluster_id").isin(cells))
    dot = "aggregate(zip_with(q_emb, emb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"

    def norm(a: str) -> str:
        return f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"

    cand = (
        index.join(F.broadcast(probe_cells), "cluster_id")
        .where(f"`{id_col}` != q_id")
        .selectExpr(
            "q_id",
            f"`{id_col}`",
            "cluster_id",
            f"round({dot} / ({norm('q_emb')} * {norm('emb')}), 6) AS cosine",
        )
    )
    return _top_k(cand, f"cosine DESC, `{id_col}`", k)


def estimate_ivfpq_recall(
    spark: SparkSession,
    path: str,
    source_vecs: DataFrame,
    n_probes: int = 64,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> float:
    """Recall@k estimate for a materialized IVF-PQ index — the DRIFT
    SIGNAL that closes the retrain loop. Appends code new vectors with
    build-time codebooks, so recall decays silently as the ingested
    distribution shifts (VERDICT r6: "recall can drift silently");
    this monitor makes the decay observable, and its output falling
    below a floor is the trigger for
    ``ann_index_versioned.retrain_ivfpq_versioned``.

    Method: a deterministic md5-ranked sample of ``n_probes`` indexed
    vectors becomes the probe set; exact L2 top-``k`` over the indexed
    subset of ``source_vecs`` (the same metric ADC approximates) is the
    ground truth; the index answers the same probes via
    :func:`search_ivfpq_index`; returns mean |intersection|/k.

    Cost/scale: the ground-truth pass is the registry's brute-force
    baseline shape — probes ride as ONE broadcast, distances are a
    map-side projection, and the top-k window shuffles n_probes ×
    |corpus| skinny (q_id, id, dist) rows. O(n_probes · corpus): an
    audit-cadence job, not a serving path — at very large scale pass a
    sampled ``source_vecs`` (the estimate degrades gracefully: ground
    truth is then top-k of the sample, which the index is still
    expected to retrieve). Monitoring contract pinned in
    tests/test_ann_index.py: fresh-index estimate high, shifted-append
    estimate drops, post-retrain estimate recovers."""
    from data_pipeline_with_big_data_stack_spark.session import materialize

    ids = segman.read_table(spark, fsio.Fs(spark, path), path).select(F.col(id_col))
    # materialized ONCE each (r15): the corpus semi-join feeds both the
    # ground-truth scan and the probe ranking, and the probe sample is
    # re-evaluated by the ground-truth broadcast AND the index search —
    # without the cut, the scan + semi-join (and the md5 sort-limit)
    # re-run per consumer. The probe set is n_probes rows; vecs is the
    # indexed corpus — an audit-cadence job's working set by contract.
    vecs = materialize(
        source_vecs.select(F.col(id_col), "emb").join(ids, id_col, "left_semi")
    )
    probes = materialize(
        vecs.select(
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            F.col(id_col).alias("q_id"),
            F.col("emb").alias("q_emb"),
        )
        .orderBy("__h")
        .limit(n_probes)
        .drop("__h")
    )
    cand = (
        vecs.join(F.broadcast(probes))
        .filter(F.col(id_col) != F.col("q_id"))
        .selectExpr("q_id", f"`{id_col}`", f"{_sqdist('emb', 'q_emb')} AS d")
    )
    truth = (
        _top_k(cand, f"d, `{id_col}`", k)
        .groupBy("q_id")
        .agg(F.collect_set(id_col).alias("true_ids"))
    )
    got = (
        search_ivfpq_index(spark, path, probes, nprobe=nprobe, k=k, id_col=id_col)
        .groupBy("q_id")
        .agg(F.collect_set(id_col).alias("got_ids"))
    )
    # denominator is k (matching the oracle and the standard recall@k
    # definition), not |true_ids| — on a corpus smaller than k+1 the
    # estimate tops out below 1.0 rather than inflating
    per_probe = truth.join(got, "q_id", "left").select(
        (
            F.size(F.array_intersect("true_ids", F.coalesce("got_ids", F.array())))
            / F.lit(float(k))
        ).alias("recall")
    )
    row = per_probe.agg(F.avg("recall")).head()
    return float(row[0]) if row and row[0] is not None else 0.0
