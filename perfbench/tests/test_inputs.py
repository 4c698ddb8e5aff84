"""The same seed gives byte-identical generated inputs; another seed
gives different ones. No Spark."""

import numpy as np
import pytest

from perfbench import inputs as I


def _rollup(seed):
    z = I.RollupSizes()
    return [*I.rollup_history(seed, z), *I.rollup_epoch(seed, z, 0), *I.rollup_epoch(seed, z, 5)]


def _vector(seed):
    z = I.VectorSizes()
    corpus = I.vector_corpus(seed, z)
    coarse, pq = I.vector_codebooks(seed, z, corpus)
    return [corpus, coarse, pq, I.vector_append(seed, z, 3), I.vector_probes(seed, z, 4)]


def _curation(seed):
    shards = I.CrawlShards(seed, I.CurationSizes())
    return [shards.shard(i) for i in range(3)]


@pytest.mark.parametrize("gen", [_rollup, _vector, _curation])
def test_same_seed_same_bytes(gen):
    assert I.digest(gen(3)) == I.digest(gen(3))
    assert I.digest(gen(3)) != I.digest(gen(4))


def test_rollup_epoch_spans_several_days():
    z = I.RollupSizes()
    ev, goes = I.rollup_epoch(1, z, 2)
    assert ev["ts"].dt.date.nunique() > 1  # late events reach older days
    assert len(ev) == z.epoch_events and len(goes) == z.epoch_goes
    # values are whole micro-units, so exact day totals are integers
    m = ev["value"].to_numpy() * 1e6
    assert np.array_equal(np.round(m), np.round(m, 3))


def test_crawl_shards_plant_duplicates_with_rising_ids():
    shards = I.CrawlShards(1, I.CurationSizes())
    a, b = shards.shard(0), shards.shard(1)
    assert a["doc_id"].max() < b["doc_id"].min()
    texts = dict(zip(a["doc_id"], a["text"])) | dict(zip(b["doc_id"], b["text"]))
    exact = b[b["kind"] == "exact"]
    assert len(exact) > 0
    assert all(texts[s] == t and s < d for d, t, s in zip(exact["doc_id"], exact["text"], exact["source"]))


def test_reference_search_is_exact_for_exhaustive_probe():
    """With every cell probed and a codebook equal to the vectors' own
    sub-vectors, ADC is the exact distance: the reference must return
    the true nearest neighbours."""
    rng = np.random.default_rng(0)
    vecs = np.round(rng.normal(size=(40, 8)), 3)
    ids = np.arange(40, dtype=np.int64)
    pq = np.stack([vecs[:, 0:4], vecs[:, 4:8]])
    q = vecs[:2] + 0.01
    got = I.ivfpq_topk(vecs, ids, vecs[:4], pq, q, nprobe=4, k=3)
    for probe, row in zip(q, got):
        want = np.argsort(((vecs - probe) ** 2).sum(1), kind="stable")[:3]
        assert [i for i, _ in row] == list(want)
