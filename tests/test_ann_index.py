"""Materialized IVF index: build-once / partition-pruned search."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_pipeline_with_big_data_stack_spark.operators import ann_index_versioned as V
from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
    build_ivf_index,
    search_ivf_index,
)
from data_pipeline_with_big_data_stack_spark.queries.vector import _emb
from tests.conftest import SF_SMOKE


def _codebook(e, k=4):
    return (
        e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < k * 100))
        .select(
            (F.col("vec_id") / 100).cast("long").alias("cell_id"),
            F.col("emb").alias("c_emb"),
        )
        .agg(F.collect_list(F.struct("cell_id", "c_emb")).alias("cb"))
    )


def test_build_search_roundtrip_and_pruning(spark, tmp_path):
    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    path = str(tmp_path / "ivf")
    build_ivf_index(e, path, _codebook(e))

    # index is physically partitioned by cluster_id
    import glob

    parts = glob.glob(path + "/cluster_id=*")
    assert len(parts) >= 2

    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    out = search_ivf_index(spark, path, probes, nprobe=2, k=5)
    res = out.collect()
    got = {}
    for r in res:
        got.setdefault(r.q_id, []).append(r)
    assert set(got) == {0, 1, 2}
    for q_id, rows in got.items():
        assert len(rows) == 5
        sims = [r.cosine for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q_id for r in rows)

    # the scan only reads the probed partitions (partition pruning)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_search_matches_within_probed_cells(spark, tmp_path):
    """Within the probed cells the index search is EXACT: equal to
    brute-force cosine restricted to those cells."""
    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    path = str(tmp_path / "ivf")
    cb = _codebook(e)
    build_ivf_index(e, path, cb)
    probes = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    out = {r.vec_id: r.cosine for r in
           search_ivf_index(spark, path, probes, nprobe=2, k=3).collect()}

    idx = spark.read.parquet(path)
    cells = sorted({r.cluster_id for r in
                    idx.filter(F.col("vec_id").isin(list(out))).select("cluster_id").collect()})
    brute = (
        idx.filter(F.col("cluster_id").isin(cells))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import _dot, _norm

    brute = brute.select(
        "vec_id",
        F.round(_dot(F.col("q_emb"), F.col("emb"))
                / (_norm(F.col("q_emb")) * _norm(F.col("emb"))), 6).alias("cosine"),
    )
    top = {r.vec_id: r.cosine for r in
           brute.orderBy(F.col("cosine").desc(), "vec_id").limit(3).collect()}
    assert out == top


def test_ivfpq_index_equals_inline_query(spark, tmp_path):
    """The materialized IVF-PQ index must return the IDENTICAL top-k to
    the inline q_ann_ivfpq_topk (whose DuckDB oracle replays the whole
    trajectory) given the same codebooks — the train-once/serve-many
    production shape of the same operator."""
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _K_CELLS,
        _NPROBE,
        _PQ_SUB,
        N_QUERY_VECS,
        TOP_K,
        _pq_train_codebooks,
        q_ann_ivfpq_topk,
    )

    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    coarse = _codebook(e, k=_K_CELLS)
    cb0, cb1 = _pq_train_codebooks(e)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(e, path, coarse, [cb0, cb1], sub_dim=_PQ_SUB)

    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    out = search_ivfpq_index(spark, path, probes, nprobe=_NPROBE, k=TOP_K)
    got = sorted(
        (r.q_id, r.vec_id, r.cell_id, r.adc_dist) for r in out.collect()
    )
    want = sorted(
        (r.q_id, r.vec_id, r.cell_id, r.adc_dist)
        for r in q_ann_ivfpq_topk(spark, SF_SMOKE).collect()
    )
    assert got == want


def test_ivfpq_index_prunes_partitions_and_stores_no_vectors(spark, tmp_path):
    """Scale pins: (a) the index holds CODES ONLY — no raw-vector column
    anywhere in its files; (b) a search's index scan is partition-pruned
    to the probed cells (PartitionFilters), so nprobe/K of the corpus is
    read, never the rest."""
    import glob

    import pyarrow.parquet as pq

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _PQ_SUB,
        _pq_train_codebooks,
    )

    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        e, path, _codebook(e), _pq_train_codebooks(e), sub_dim=_PQ_SUB
    )
    files = glob.glob(path + "/cell_id=*/*.parquet")
    assert files, "index is physically partitioned by cell_id"
    for f in files[:3]:
        names = set(pq.read_schema(f).names)
        assert "emb" not in names and "q_emb" not in names
        assert {"vec_id", "code_0", "code_1"} <= names

    probes = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    out = search_ivfpq_index(spark, path, probes, nprobe=2, k=3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    # no corpus shuffle: every hash exchange in the search plan
    # partitions on q_id (the PROBE key, candidate-scale rows) — the
    # codes relation is never repartitioned and never shuffle-joined
    import re

    keys = re.findall(r"Exchange (?:hash|range)partitioning\((\w+)", plan)
    assert keys and all(k.startswith("q_id") for k in keys), keys
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ivfpq_compaction_preserves_results(spark, tmp_path):
    """Repeated appends fragment the cell partitions; compaction
    publishes one file per cell without changing a single search
    result (codes and sidecars are untouched semantically)."""
    from data_pipeline_with_big_data_stack_spark.operators import fsio, segman
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _PQ_SUB,
        _pq_train_codebooks,
    )

    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    root = str(tmp_path / "idx")
    V.build_ivfpq_versioned(
        e.filter(F.col("vec_id") % 4 == 0), root, _codebook(e),
        _pq_train_codebooks(e), sub_dim=_PQ_SUB,
    )
    for r in (1, 2, 3):
        V.append_ivfpq_versioned(spark, root, e.filter(F.col("vec_id") % 4 == r))

    def per_cell():
        fs = fsio.Fs(spark, root)
        entries = segman.resolve_all(fs, V.current_index_path(root))
        return V._per_cell_file_counts(fs, entries)

    assert max(per_cell().values()) >= 4, "appends fragmented the cells"
    before = _search_res(spark, root, e)
    assert V.compact_ivfpq_versioned(spark, root, max_files_per_cell=3) is not None
    assert max(per_cell().values()) == 1, "one file per cell after compaction"
    assert _search_res(spark, root, e) == before
    # under threshold → no-op
    assert V.compact_ivfpq_versioned(spark, root, max_files_per_cell=3) is None


def _dead_pid() -> int:
    """A pid guaranteed dead: a reaped child."""
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _build_small(spark, tmp_path, name="idx", modulus=None):
    """A versioned index root over the smoke corpus (or every
    ``modulus``-th vector of it)."""
    from data_pipeline_with_big_data_stack_spark.queries.vector import _PQ_SUB, _pq_train_codebooks

    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    src = e if modulus is None else e.filter(F.col("vec_id") % modulus == 0)
    root = str(tmp_path / name)
    V.build_ivfpq_versioned(
        src, root, _codebook(e), _pq_train_codebooks(e), sub_dim=_PQ_SUB
    )
    return e, root


def _codes(spark, root):
    """The live generation's codes, referenced segments included."""
    from data_pipeline_with_big_data_stack_spark.operators import fsio, segman

    path = V.current_index_path(root)
    return segman.read_table(spark, fsio.Fs(spark, path), path)


def _search_res(spark, root, e, k=5, flat=False):
    """Sorted top-``k`` of probes 0..2 against a versioned root (or a
    single-generation index path with ``flat=True``)."""
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import search_ivfpq_index

    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    path = root if flat else V.current_index_path(root)
    return sorted(
        (r.q_id, r.vec_id, r.cell_id, r.adc_dist)
        for r in search_ivfpq_index(spark, path, probes, nprobe=2, k=k).collect()
    )


def test_expire_equals_rebuild_over_survivors(spark, tmp_path):
    """Retention/delete parity (VERDICT r5 #5): search after an expiry
    of ids == search over an index BUILT from the survivors — and cells
    without tombstones are never rewritten (the new generation holds
    only the affected cell; the rest are references to untouched
    files)."""
    import glob
    import os

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import build_ivfpq_index
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _PQ_SUB,
        _pq_train_codebooks,
    )

    e, root = _build_small(spark, tmp_path, "full")
    g1 = V.read_current(root)
    idx = _codes(spark, root)
    cells = sorted(r.cell_id for r in idx.select("cell_id").distinct().collect())
    victim_cell = cells[0]
    doomed_ids = [
        r.vec_id
        for r in idx.filter(F.col("cell_id") == victim_cell)
        .orderBy("vec_id").limit(10).collect()
    ]
    assert doomed_ids
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(V._gen_index(root, g1) + "/cell_id=*/*.parquet")
        if f"cell_id={victim_cell}/" not in f
    }
    g2 = V.expire_ivfpq_versioned(spark, root, ids=doomed_ids)
    assert g2 is not None
    after = {f: os.path.getmtime(f) for f in before}
    assert after == before, "untouched cells must not be rewritten"
    rewritten = {
        os.path.basename(d) for d in glob.glob(V._gen_index(root, g2) + "/cell_id=*")
    }
    assert rewritten <= {f"cell_id={victim_cell}"}, rewritten
    assert _codes(spark, root).count() == idx.count() - len(doomed_ids)

    survivors = e.join(
        spark.createDataFrame([(i,) for i in doomed_ids], ["vec_id"]),
        "vec_id",
        "left_anti",
    )
    rebuilt = str(tmp_path / "rebuilt")
    build_ivfpq_index(
        survivors, rebuilt, _codebook(e), _pq_train_codebooks(e), sub_dim=_PQ_SUB
    )
    assert _search_res(spark, root, e) == _search_res(spark, rebuilt, e, flat=True)
    # idempotent: expiring the same ids again matches nothing and
    # publishes nothing
    assert V.expire_ivfpq_versioned(spark, root, ids=doomed_ids) is None
    assert V.read_current(root) == g2


def test_expire_with_dataframe_ids_and_predicate(spark, tmp_path):
    import pytest

    e, root = _build_small(spark, tmp_path)
    total = _codes(spark, root).count()
    tomb = spark.range(5).select(F.col("id").alias("vec_id"))
    assert V.expire_ivfpq_versioned(spark, root, ids=tomb) is not None
    assert _codes(spark, root).count() == total - 5
    pred = F.col("vec_id") >= total - 3
    assert V.expire_ivfpq_versioned(spark, root, predicate=pred) is not None
    assert _codes(spark, root).count() == total - 8

    with pytest.raises(ValueError, match="exactly one"):
        V.expire_ivfpq_versioned(spark, root)
    with pytest.raises(ValueError, match="exactly one"):
        V.expire_ivfpq_versioned(spark, root, ids=[1], predicate=F.lit(True))


def test_index_writer_lock_blocks_and_reclaims(spark, tmp_path):
    """A live holder of the root's writer lock blocks append, compact
    and expire; a crashed (dead-pid) holder is reclaimed automatically
    — no manual lock removal."""
    import os
    import socket

    import pytest

    from data_pipeline_with_big_data_stack_spark.operators.generations import (
        _INDEX_LOCK_SUFFIX,
    )

    e, root = _build_small(spark, tmp_path, modulus=2)
    lock = root + _INDEX_LOCK_SUFFIX
    with open(lock, "w") as fh:  # a LIVE holder: this very process
        fh.write(f"{os.getpid()}@{socket.gethostname()} 0.0\n")
    newer = e.filter(F.col("vec_id") % 2 == 1)
    with pytest.raises(RuntimeError, match="locked by another"):
        V.append_ivfpq_versioned(spark, root, newer)
    with pytest.raises(RuntimeError, match="locked by another"):
        V.compact_ivfpq_versioned(spark, root)
    with pytest.raises(RuntimeError, match="locked by another"):
        V.expire_ivfpq_versioned(spark, root, ids=[0])

    # crashed holder: dead pid on this host → reclaimed without help
    with open(lock, "w") as fh:
        fh.write(f"{_dead_pid()}@{socket.gethostname()} 0.0\n")
    V.append_ivfpq_versioned(spark, root, newer)
    assert not os.path.exists(lock), "lock released after append"


def test_compact_expire_retrain_run_on_file_uri_via_hadoop_fs(spark, tmp_path):
    """The maintenance ops route through the Hadoop FileSystem API
    (VERDICT r10 #1): the whole mutating surface — append, compact,
    expire, retrain — must run against an explicit ``file:`` URI, the
    exact code path any remote scheme takes (the sandbox has no HDFS;
    scheme-agnosticism is proved the way build/search already prove
    it). Results must equal the same lifecycle on a plain local path."""

    def lifecycle(root):
        from data_pipeline_with_big_data_stack_spark.queries.vector import _PQ_SUB, _pq_train_codebooks

        e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
        old_half = e.filter(F.col("vec_id") % 2 == 0)
        batch = e.filter(F.col("vec_id") % 2 == 1)
        V.build_ivfpq_versioned(
            old_half, root, _codebook(e), _pq_train_codebooks(e), sub_dim=_PQ_SUB
        )
        V.append_ivfpq_versioned(spark, root, batch)
        assert V.compact_ivfpq_versioned(spark, root, max_files_per_cell=1) is not None
        n = _codes(spark, root).count()
        assert V.expire_ivfpq_versioned(spark, root, ids=[0, 2, 4]) is not None
        assert _codes(spark, root).count() == n - 3
        V.retrain_ivfpq_versioned(spark, root, e, k_coarse=4, k_pq=4)
        return _search_res(spark, root, e)

    plain = lifecycle(str(tmp_path / "plain"))
    via_uri = lifecycle("file:" + str(tmp_path / "uri"))
    assert via_uri == plain


def test_streaming_optout_expiry_end_to_end(spark, tmp_path):
    """The streaming half of the delete lifecycle: opt-out id batches
    arrive as a stream; each micro-batch expires its ids from the live
    index via foreachBatch (the writer lock serializes against any
    concurrent append/compact). Expiry is IDEMPOTENT — re-expiring an
    already-removed id matches nothing and publishes nothing — so
    at-least-once foreachBatch delivery needs no marker machinery
    (unlike the rollup merge, which is additive). Final index == build
    over never-opted-out vectors."""
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import build_ivfpq_index
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _PQ_SUB,
        _pq_train_codebooks,
    )

    e, root = _build_small(spark, tmp_path, "live")
    optouts = e.filter(F.col("vec_id") % 11 == 5).select("vec_id")
    src = str(tmp_path / "optout_stream")
    # several single-file batches so multiple foreachBatch epochs run
    optouts.repartition(3).write.mode("overwrite").parquet(src)
    st = (
        spark.readStream.schema(optouts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        st.writeStream.foreachBatch(
            lambda df, _eid: V.expire_ivfpq_versioned(df.sparkSession, root, ids=df)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    survivors = e.filter(F.col("vec_id") % 11 != 5)
    rebuilt = str(tmp_path / "rebuilt")
    build_ivfpq_index(
        survivors, rebuilt, _codebook(e), _pq_train_codebooks(e), sub_dim=_PQ_SUB
    )
    assert _search_res(spark, root, e) == _search_res(spark, rebuilt, e, flat=True)
    assert (
        _codes(spark, root).count() == survivors.count()
    ), "every opted-out vector gone, nothing else"


def test_expire_null_predicate_rows_are_kept(spark, tmp_path):
    """Three-valued logic regression: a predicate that evaluates NULL
    for a row must mean KEEP — without the internal coalesce such rows
    fell out of both the doomed set and the survivor rewrite and
    vanished silently, uncounted."""
    e, root = _build_small(spark, tmp_path)
    total = _codes(spark, root).count()
    # NULL for every vec_id >= 3 (no otherwise() branch)
    pred = F.when(F.col("vec_id") < 3, F.lit(True))
    assert V.expire_ivfpq_versioned(spark, root, predicate=pred) is not None
    assert _codes(spark, root).count() == total - 3, (
        "rows where the predicate evaluated NULL must survive"
    )
    # empty id list is a clean no-op, not an error
    assert V.expire_ivfpq_versioned(spark, root, ids=[]) is None


def test_expire_full_purge_leaves_readable_index(spark, tmp_path):
    """An expiry that empties EVERY cell (total opt-out / retention
    purge) must leave an index that subsequent reads, searches,
    expiries, and appends can still open — not a bare directory Spark
    refuses to infer a schema from."""
    e, root = _build_small(spark, tmp_path)
    assert V.expire_ivfpq_versioned(spark, root, predicate=F.lit(True)) is not None
    assert _codes(spark, root).count() == 0
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    assert V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=5).count() == 0
    assert V.expire_ivfpq_versioned(spark, root, ids=[1, 2, 3]) is None
    # the index accepts new vectors again after the purge
    V.append_ivfpq_versioned(spark, root, e.filter(F.col("vec_id") < 10))
    assert _codes(spark, root).count() == 10


# ---------------------------------------------------------------------------
# retrain_ivfpq_versioned: the reindex half of the lifecycle (VERDICT r6 #2)
# ---------------------------------------------------------------------------


def _np_df(spark, ids, vecs):
    """ids + numpy (n, dim) float matrix → vecs(vec_id, emb) DataFrame."""
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, emb array<double>",
    )


def test_retrain_equals_fresh_build_and_drops_expired(spark, tmp_path):
    """retrain == fresh build: retraining an index (after an expiry)
    with the full source corpus must produce byte-identical search
    results to building a NEW index over the survivors with the same
    trainer — and expired ids must not re-enter via the source."""
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        train_ivfpq_codebooks,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import _PQ_SUB

    e, root = _build_small(spark, tmp_path)
    total = _codes(spark, root).count()
    assert V.expire_ivfpq_versioned(
        spark, root, predicate=F.col("vec_id") % 7 == 3
    ) is not None
    assert _codes(spark, root).count() < total

    V.retrain_ivfpq_versioned(spark, root, e, k_coarse=4, k_pq=4)

    survivors = e.filter(~(F.col("vec_id") % 7 == 3))
    coarse, pq_cbs = train_ivfpq_codebooks(
        survivors, k_coarse=4, k_pq=4, sub_dim=_PQ_SUB, n_sub=2
    )
    fresh = str(tmp_path / "fresh")
    build_ivfpq_index(survivors, fresh, coarse, pq_cbs, sub_dim=_PQ_SUB)

    assert _search_res(spark, root, e) == _search_res(spark, fresh, e, flat=True)
    # expired ids stayed out even though the source still contains them
    left = {r.vec_id for r in _codes(spark, root).select("vec_id").collect()}
    assert left == {r.vec_id for r in survivors.collect()}


def test_retrain_restores_recall_after_shifted_appends(spark, tmp_path):
    """The drift scenario retrain exists for: append a SHIFTED
    distribution to an index whose codebooks were trained before the
    shift — recall on planted near-duplicates of shifted probes
    collapses (stale coarse cells + stale PQ centroids can't resolve
    the new region); retrain over the current corpus restores it."""
    import numpy as np

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        train_ivfpq_codebooks,
    )

    rng = np.random.RandomState(7)
    dim, sub = 16, 8
    # corpus A: 4 tight clusters near the origin
    a_centers = rng.randn(4, dim) * 2.0
    a_vecs = np.vstack([c + rng.randn(100, dim) * 0.5 for c in a_centers])
    a_ids = np.arange(400)
    # batch B: 8 tight clusters far away (the shifted distribution),
    # one probe per cluster so ADC ties within a cluster can only be
    # broken toward that probe's own planted ids
    b_centers = 15.0 + rng.randn(8, dim) * 4.0
    probes_np = np.vstack([c + rng.randn(1, dim) * 0.5 for c in b_centers])
    planted_np = np.vstack(
        [p + rng.randn(4, dim) * 0.05 for p in probes_np]
    )
    distract_np = np.vstack([c + rng.randn(50, dim) * 1.0 for c in b_centers])
    probe_ids = np.arange(1000, 1008)
    planted_ids = np.arange(1100, 1132)
    distract_ids = np.arange(1200, 1600)
    planted = {
        int(probe_ids[j]): set(map(int, planted_ids[j * 4 : j * 4 + 4]))
        for j in range(8)
    }

    corpus_a = _np_df(spark, a_ids, a_vecs)
    batch_b = _np_df(
        spark,
        np.concatenate([probe_ids, planted_ids, distract_ids]),
        np.vstack([probes_np, planted_np, distract_np]),
    )
    coarse, pq_cbs = train_ivfpq_codebooks(
        corpus_a, k_coarse=8, k_pq=32, sub_dim=sub, n_sub=2
    )
    root = str(tmp_path / "drift")
    V.build_ivfpq_versioned(corpus_a, root, coarse, pq_cbs, sub_dim=sub)
    V.append_ivfpq_versioned(spark, root, batch_b)

    probes = _np_df(spark, probe_ids, probes_np).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )

    def recall():
        got = {}
        for r in V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=4).collect():
            got.setdefault(r.q_id, set()).add(r.vec_id)
        recalls = [
            len(got.get(q, set()) & ids) / len(ids) for q, ids in planted.items()
        ]
        return sum(recalls) / len(recalls)

    drifted = recall()
    assert drifted <= 0.6, f"stale codebooks should miss planted dups: {drifted}"
    # the drifted index's coarse sidecar can have collapsed to fewer
    # live cells than the corpus now needs — a real reindex sizes K for
    # the grown corpus rather than inheriting the shrunken default
    V.retrain_ivfpq_versioned(
        spark, root, corpus_a.unionByName(batch_b), iters=3, k_coarse=12, k_pq=32
    )
    restored = recall()
    assert restored >= 0.9, f"retrain should restore recall: {restored}"
    assert restored > drifted


def test_recall_monitor_detects_drift_and_recovery(spark, tmp_path):
    """estimate_ivfpq_recall is the drift SIGNAL that closes the
    retrain loop (VERDICT r6: appends decay recall 'with no signal'):
    high on a fresh index, visibly lower after appending a shifted
    distribution coded with stale codebooks, and recovered after
    retrain_ivfpq_versioned. 30+30 clusters of exactly k members make
    ground-truth top-k ≈ the probe's cluster, so the estimate isolates
    codebook quality rather than within-cluster ADC tie noise."""
    import numpy as np

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        estimate_ivfpq_recall,
        train_ivfpq_codebooks,
    )

    rng = np.random.RandomState(11)
    dim, sub = 16, 8
    a_centers = rng.randn(30, dim) * 6.0
    a = np.vstack([c + rng.randn(10, dim) * 0.3 for c in a_centers])
    b_centers = 18.0 + rng.randn(30, dim) * 6.0
    b = np.vstack([c + rng.randn(10, dim) * 0.3 for c in b_centers])
    A = _np_df(spark, np.arange(300), a)
    B = _np_df(spark, np.arange(1000, 1300), b)
    union = A.unionByName(B)

    coarse, pq = train_ivfpq_codebooks(A, 32, 32, sub, 2)
    root = str(tmp_path / "mon")
    V.build_ivfpq_versioned(A, root, coarse, pq, sub_dim=sub)

    def est(src):
        return estimate_ivfpq_recall(
            spark, V.current_index_path(root), src, n_probes=32, k=10, nprobe=3
        )

    fresh = est(A)
    assert fresh >= 0.8, fresh
    V.append_ivfpq_versioned(spark, root, B)
    drifted = est(union)
    assert drifted <= fresh - 0.1, (fresh, drifted)
    V.retrain_ivfpq_versioned(spark, root, union, iters=3, k_coarse=64, k_pq=32)
    restored = est(union)
    assert restored >= 0.8 and restored >= drifted + 0.1, (drifted, restored)


def test_rerank_exact_stage_reads_shortlist_rows_only(spark):
    """Round 14 (VERDICT r13 #4): q_ann_ivfpq_rerank_topk's exact
    re-rank stage must carry the shortlist-id In filter pushed into the
    embeddings scan — the stage reads m·k candidate rows, never the
    corpus — and its final ranking must be by TRUE cosine (descending),
    a strict re-ordering authority over the quantized ADC order."""
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _RERANK_M,
        N_QUERY_VECS,
        TOP_K,
        q_ann_ivfpq_rerank_topk,
    )
    from tests.conftest import SF_SMOKE

    df = q_ann_ivfpq_rerank_topk(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "In(vec_id" in plan, (
        "the exact stage's embeddings scan lost the pushed shortlist-id "
        "In filter — it would rescan the corpus at 100 TB"
    )
    rows = df.collect()
    assert 0 < len(rows) <= N_QUERY_VECS * min(TOP_K, _RERANK_M)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        assert len(rs) <= TOP_K
        for r in rs:
            assert -1.0 <= r.cosine <= 1.0, (q_id, r)
    # the true-cosine ordering authority (each probe's k best by
    # cosine among its shortlist) is value-gated by the DuckDB oracle;
    # here pin only the shape the gate can't see: the pushed filter
    # above and the per-probe k bound


def test_rerank_semi_join_branch_equals_in_list_branch(spark, monkeypatch):
    """Round 15 (VERDICT r14 #8): above _RERANK_IN_MAX distinct
    shortlist ids the exact re-rank stage switches from the pushed
    In-filter scan to a broadcast LeftSemi join (an In predicate is
    O(ids) per row-group at production m·k). Forcing the switchover at
    the fixture scale must yield the identical result set, and the
    semi-branch plan must carry a broadcast join, not a shuffle."""
    from data_pipeline_with_big_data_stack_spark.queries import vector as V
    from tests.conftest import SF_SMOKE

    base = sorted(map(tuple, V.q_ann_ivfpq_rerank_topk(spark, SF_SMOKE).collect()))
    monkeypatch.setattr(V, "_RERANK_IN_MAX", 0)  # force the semi branch
    df = V.q_ann_ivfpq_rerank_topk(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert sorted(map(tuple, df.collect())) == base


def test_repeat_search_is_stable_and_rebuild_serves_new_codebooks(spark, tmp_path):
    """A search keeps no state between calls: a repeat search of the
    same index returns the identical frame, and after a rebuild of the
    same path with different codebooks a search equals one of a
    separately built index with those codebooks."""
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
        train_ivfpq_codebooks,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _K_CELLS,
        _NPROBE,
        _PQ_SUB,
        N_QUERY_VECS,
        TOP_K,
        _pq_train_codebooks,
    )

    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        e, path, _codebook(e, k=_K_CELLS), list(_pq_train_codebooks(e)),
        sub_dim=_PQ_SUB,
    )
    probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )

    def run(p):
        return sorted(
            tuple(r)
            for r in search_ivfpq_index(
                spark, p, probes, nprobe=_NPROBE, k=TOP_K
            ).collect()
        )

    first = run(path)
    assert first and run(path) == first, "a repeat search changed the result"

    coarse, pq = train_ivfpq_codebooks(e, _K_CELLS, 4, _PQ_SUB, 2)
    build_ivfpq_index(e, path, coarse, pq, sub_dim=_PQ_SUB)
    other = str(tmp_path / "other")
    build_ivfpq_index(e, other, coarse, pq, sub_dim=_PQ_SUB)
    rebuilt = run(path)
    assert rebuilt == run(other), "the rebuilt path served old codebooks"
    assert rebuilt != first, "fixture: the new codebooks must change the result"


def _gapped_pq(e):
    """The fixture's PQ codebooks with a gap in their codes, as a Lloyd
    round leaves after dropping an empty cluster: subspace 0 loses code
    1, subspace 1 its last code."""
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _PQ_K,
        _pq_train_codebooks,
    )

    def without(cb, code):
        return cb.select(
            F.filter(cb.columns[0], lambda c: c["cell_id"] != code).alias("cb")
        )

    cb0, cb1 = _pq_train_codebooks(e)
    return [without(cb0, 1), without(cb1, _PQ_K - 1)]


def _adc_reference(vecs, coarse, pq, probes, nprobe, k):
    """Pure-Python IVF-PQ over ``{id: vector}`` dicts and ``{code:
    centroid}`` codebooks: coarse cells, PQ codes and the ADC top-``k``
    as ``(q_id, vec_id, cell_id, adc_dist)``, every distance summed in
    the engine's order and ties broken by the lower id."""

    def sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def nearest(book, v):
        return sorted(book, key=lambda c: (sq(v, book[c]), c))

    sd = len(next(iter(pq[0].values())))

    def sub(v, m):
        return v[m * sd:(m + 1) * sd]

    cell = {i: nearest(coarse, v)[0] for i, v in vecs.items()}
    codes = {
        i: [nearest(pq[m], sub(v, m))[0] for m in range(len(pq))]
        for i, v in vecs.items()
    }
    out = []
    for q, qv in probes.items():
        cells = nearest(coarse, qv)[:nprobe]
        cand = []
        for i in vecs:
            if i != q and cell[i] in cells:
                d = 0.0
                for m in range(len(pq)):
                    d += sq(sub(qv, m), pq[m][codes[i][m]])
                cand.append((round(d, 4), i))
        out += [(q, i, cell[i], d) for d, i in sorted(cand)[:k]]
    return sorted(out)


def test_pq_codebook_with_code_gap_search_and_append(spark, tmp_path):
    """Codes need not be dense: with a gap in each PQ codebook, search
    equals a pure-Python ADC over the same codebooks, and an append
    equals a build over the union."""
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _K_CELLS,
        _NPROBE,
        _PQ_SUB,
        TOP_K,
    )

    e = _emb(spark, SF_SMOKE).select("vec_id", "emb")
    coarse = _codebook(e, k=_K_CELLS)
    pq = _gapped_pq(e)
    flat = str(tmp_path / "flat")
    build_ivfpq_index(e, flat, coarse, pq, sub_dim=_PQ_SUB)
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    got = sorted(
        tuple(r)
        for r in search_ivfpq_index(
            spark, flat, probes, nprobe=_NPROBE, k=TOP_K
        ).collect()
    )
    vecs = {r.vec_id: list(r.emb) for r in e.collect()}
    books = [
        {c.cell_id: list(c.c_emb) for c in cb.head()[0]} for cb in [coarse, *pq]
    ]
    want = _adc_reference(
        vecs, books[0], books[1:], {q: vecs[q] for q in range(3)}, _NPROBE, TOP_K
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert all(abs(g[3] - w[3]) < 1e-4 for g, w in zip(got, want))

    root = str(tmp_path / "vroot")
    V.build_ivfpq_versioned(
        e.filter(F.col("vec_id") % 2 == 0), root, coarse, pq, sub_dim=_PQ_SUB
    )
    V.append_ivfpq_versioned(spark, root, e.filter(F.col("vec_id") % 2 == 1))
    assert _search_res(spark, root, e, k=TOP_K) == got


def test_rerank_semi_branch_above_threshold_against_duckdb(spark, tmp_path):
    """r16 (VERDICT r15 #5): execute the re-rank In→LeftSemi switchover
    branch FOR REAL — a shortlist with more than _RERANK_IN_MAX
    distinct ids, no threshold monkeypatching — and value-check it
    against a DuckDB replay of the oracle's exact-re-rank stage over
    the same shortlist. Also pins the 100 TB plan shape: broadcast
    LeftSemi feeding the scan, no In-list in PushedFilters, no shuffle
    join anywhere in the exact stage."""
    import duckdb

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from data_pipeline_with_big_data_stack_spark.queries import vector as V

    sf = "/root/testdata/sf0.1"  # 2,000 vectors — enough distinct ids
    e = V._emb(spark, sf).select("vec_id", "emb")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        e, path, V._km_demo_init(e, V._K_CELLS),
        list(V._pq_train_codebooks(e)), sub_dim=V._PQ_SUB,
    )
    probes = e.filter(F.col("vec_id") < 800).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    short_rows = (
        search_ivfpq_index(spark, path, probes, nprobe=V._NPROBE, k=V._RERANK_M)
        .select("q_id", "vec_id")
        .collect()
    )
    ids = sorted({int(r.vec_id) for r in short_rows})
    assert len(ids) > V._RERANK_IN_MAX, (
        f"fixture must exceed the switchover threshold for real: "
        f"{len(ids)} <= {V._RERANK_IN_MAX}"
    )
    short = spark.createDataFrame(
        [(int(r.q_id), int(r.vec_id)) for r in short_rows],
        "q_id long, vec_id long",
    )
    df = V._rerank_exact_stage(e, short, probes, ids, k=V.TOP_K)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan
    assert "In(vec_id" not in plan, "In-list leaked above the threshold"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    got = sorted(
        (int(r.q_id), int(r.vec_id), float(r.cosine)) for r in df.collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE short(q_id BIGINT, vec_id BIGINT)"
    )
    con.executemany(
        "INSERT INTO short VALUES (?, ?)",
        [(int(r.q_id), int(r.vec_id)) for r in short_rows],
    )
    want = sorted(
        (int(q), int(v), float(c))
        for q, v, c in con.execute(
            f"""
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM read_parquet('{sf}/embeddings.parquet')),
            rer AS (
              SELECT s.q_id, s.vec_id,
                     round(list_dot_product(q.emb, c.emb)
                           / nullif(sqrt(list_dot_product(q.emb, q.emb))
                              * sqrt(list_dot_product(c.emb, c.emb)), 0), 6)
                       AS cosine
              FROM short s
              JOIN e q ON q.vec_id = s.q_id
              JOIN e c ON c.vec_id = s.vec_id)
            SELECT q_id, vec_id, cosine FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY cosine DESC, vec_id) AS rn FROM rer)
            WHERE rn <= {V.TOP_K}
            """
        ).fetchall()
    )
    assert got == want, (
        f"semi-branch re-rank diverged from the DuckDB oracle stage: "
        f"{len(got)} vs {len(want)} rows; first diff "
        f"{next((a, b) for a, b in zip(got, want) if a != b) if got and want else None}"
    )
