"""Epoch-store table shape (operators/dedup_ingest, operators/substring_ingest):
every sink reads with the schema its layout declares — ``_SINK_SCHEMAS``
plus ``batch_id int`` plus the sink's ``_SINK_BKT`` column as ``int`` —
so a sink with no files reads as empty, and init writes nothing.

Pinned here for both stores:

- a fresh store's sinks read as empty frames of the declared schema,
  and neither init nor those reads runs a Spark job;
- every parquet file the writers leave (epochs, incremental folds, a
  full fold) carries exactly the declared schema, so a writer whose
  column name or type drifts fails here instead of reading as nulls;
- a store that still holds the zero-row ``batch_id=-1`` partitions
  older releases wrote at init behaves exactly like a fresh one, and
  ``-1`` never counts as an epoch;
- a direct epoch that crashed after publishing a non-prefix subset of
  its sinks replays to the same state as a clean single run;
- an empty micro-batch writes nothing, and the next epoch ingests
  normally.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_pipeline_with_big_data_stack_spark.operators import dedup_ingest as DI
from data_pipeline_with_big_data_stack_spark.operators import segman
from data_pipeline_with_big_data_stack_spark.operators import substring_ingest as SI
from data_pipeline_with_big_data_stack_spark.tables import load_table
from tests.conftest import SF_SMOKE

# per store: (init, direct batch, stream drain, compactor); the epoch
# engine both stores run (lock, preamble, publish wave) lives in DI
STORES = {
    "dedup": (
        DI.init_dedup_ingest_store,
        DI.dedup_ingest_batch,
        DI.run_dedup_ingest_stream,
        DI.compact_dedup_ingest_store,
    ),
    "substring": (
        SI.init_substring_store,
        SI.substring_ingest_batch,
        SI.run_substring_ingest_stream,
        SI.compact_substring_ingest_store,
    ),
}
KINDS = sorted(STORES)


def _docs(spark, hi: int):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < hi)
    )


def _id_slices(spark, n: int, hi: int = 60):
    """``n`` contiguous doc-id slices — direct epochs must arrive in id
    order (the enforced doc-id watermark)."""
    rows = sorted(_docs(spark, hi).collect(), key=lambda r: r.doc_id)
    return [
        spark.createDataFrame(rows[len(rows) * i // n : len(rows) * (i + 1) // n],
                              "doc_id long, text string")
        for i in range(n)
    ]


def _declared(spark, store, sink: str):
    """The declared read schema, spelled out from the layout attributes."""
    ddl = store._SINK_SCHEMAS[sink] + ", batch_id int"
    if sink in store._SINK_BKT:
        ddl += f", {store._SINK_BKT[sink]} int"
    return spark.createDataFrame([], ddl).schema


def _contents(spark, store) -> dict:
    return {
        s: sorted(tuple(r) for r in store.read(spark, s).collect())
        for s in store._SINKS
    }


def _logical(store, sink: str) -> dict[str, list[str]]:
    return segman.resolve_all(store.fs, store._sink(sink))


@pytest.mark.parametrize("kind", KINDS)
def test_fresh_store_reads_empty_declared_schema_without_jobs(spark, tmp_path, kind):
    init, _batch, _run, _compact = STORES[kind]
    sc = spark.sparkContext
    group = f"fresh-epoch-store-{kind}"
    sc.setJobGroup(group, "fresh epoch store")
    try:
        store = init(spark, str(tmp_path / "st"))
        frames = {s: store.read(spark, s) for s in store._SINKS}
        rows = {s: df.collect() for s, df in frames.items()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for sink, df in frames.items():
        assert df.schema == _declared(spark, store, sink), sink
        assert rows[sink] == [], sink
    # nothing was written into the generation: no sink has a directory
    gen_dir = os.path.join(store.base, store.current_generation())
    assert not set(os.listdir(gen_dir)) & set(store._SINKS)


@pytest.mark.parametrize("kind", KINDS)
def test_written_files_carry_the_declared_schema(spark, kind):
    """Read every physical partition a drain with in-drain folds leaves
    — epoch writes, fold writes, partitions carried by reference — with
    schema INFERENCE, then the same after a full fold: each must equal
    the declared read schema."""
    init, _batch, run, compact = STORES[kind]
    base, src = DI.stage_ordered_chunks(spark, _docs(spark, 120), n_chunks=4)
    store = init(spark, os.path.join(base, "store"))
    run(spark, src, store, compact_every=2)
    for sink in store._SINKS:
        want = _declared(spark, store, sink)
        dirs = [d for ds in _logical(store, sink).values() for d in ds]
        assert dirs, sink
        for d in dirs:
            if not any(f.endswith(".parquet") for f in store.fs.list_files_recursive(d)):
                continue  # an epoch that wrote no rows to a partitioned sink
            got = spark.read.option("basePath", os.path.dirname(d)).parquet(d).schema
            assert got == want, (sink, d, got.simpleString())
    compact(spark, store)
    for sink in store._SINKS:
        got = spark.read.parquet(store._sink(sink)).schema
        assert got == _declared(spark, store, sink), (sink, got.simpleString())


def _plant_seed_partitions(spark, store) -> None:
    """The zero-row ``batch_id=-1`` partition older releases wrote into
    every sink at init, nested under a zero bucket for bucketed sinks."""
    gen_dir = os.path.join(store.base, store.current_generation())
    for sink in store._SINKS:
        sub = os.path.join(gen_dir, sink, "batch_id=-1")
        if sink in store._SINK_BKT:
            sub = os.path.join(sub, f"{store._SINK_BKT[sink]}=0")
        spark.createDataFrame([], store._SINK_SCHEMAS[sink]).write.parquet(sub)


@pytest.mark.parametrize("kind", KINDS)
def test_store_with_old_seed_partitions_behaves_like_a_fresh_one(spark, tmp_path, kind):
    init, batch, _run, compact = STORES[kind]
    thirds = _id_slices(spark, 3)
    # a large first epoch keeps the second fold incremental (the data
    # since the full fold stays below the folded base)
    slices = [thirds[0].unionByName(thirds[1]), thirds[2]]
    out = {}
    for name in ("seeded", "plain"):
        store = init(spark, str(tmp_path / name))
        if name == "seeded":
            _plant_seed_partitions(spark, store)
            assert "batch_id=-1" in _logical(store, "hwm")
            DI._refuse_direct_driven(store)  # seeds alone are no epochs
        batch(slices[0], 0, store)
        with pytest.raises(RuntimeError, match=r"epochs \[0\] exist"):
            DI._refuse_direct_driven(store)
        marks = []
        for eid, full in ((0, True), (1, False)):
            if eid:
                if name == "seeded":  # older folds re-seeded each generation
                    _plant_seed_partitions(spark, store)
                batch(slices[eid], eid, store)
            compact(spark, store, full=full)
            gen_dir = os.path.join(store.base, store.current_generation())
            marks.append(DI._read_fold_marker(gen_dir, store.fs))
        out[name] = (_contents(spark, store), marks)
        for sink in store._SINKS:  # seeds are neither folded nor carried
            assert "batch_id=-1" not in _logical(store, sink), (name, sink)
    assert out["seeded"] == out["plain"]
    # (incremental, full) fold frontiers count real epochs only, and the
    # second fold stayed incremental
    assert out["plain"][1] == [(0, 0), (1, 0)], out["plain"][1]
    assert out["plain"][0]["decisions"], "the fixture must yield decisions"


# the sinks a torn direct epoch leaves behind: a NON-prefix subset of the
# publish order, with no watermark row
_TORN = {"dedup": ("counts", "docstore"), "substring": ("windows_idx",)}


@pytest.mark.parametrize("kind", KINDS)
def test_direct_epoch_replay_from_non_prefix_sink_subset(
    spark, tmp_path, monkeypatch, kind
):
    init, batch, _run, _compact = STORES[kind]
    slices = _id_slices(spark, 2)
    ref = init(spark, str(tmp_path / "ref"))
    for eid, b in enumerate(slices):
        batch(b, eid, ref)

    store = init(spark, str(tmp_path / "torn"))
    batch(slices[0], 0, store)
    publish = DI._publish_epoch_sinks

    def torn(writes, fail_after, defer=frozenset()):
        publish([w for w in writes if w[0] in _TORN[kind]], None)
        raise RuntimeError("simulated mid-wave crash")

    monkeypatch.setattr(DI, "_publish_epoch_sinks", torn)
    monkeypatch.setattr(DI, "_publish_watermark_row", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="simulated mid-wave crash"):
        batch(slices[1], 1, store)
    monkeypatch.undo()
    for sink in store._SINKS:
        assert ("batch_id=1" in _logical(store, sink)) == (sink in _TORN[kind]), sink

    batch(slices[1], 1, store)  # replay the same direct epoch id
    assert _contents(spark, store) == _contents(spark, ref)


@pytest.mark.parametrize("kind", KINDS)
def test_empty_micro_batch_writes_nothing(spark, tmp_path, kind):
    """A direct epoch over an empty batch returns after the fused
    preamble: no sink — the watermark included — gets a ``batch_id=0``
    partition or even a directory, and the next epoch then ingests
    exactly as it would on a fresh store."""
    init, batch, _run, _compact = STORES[kind]
    docs = _id_slices(spark, 1)[0]
    store = init(spark, str(tmp_path / "st"))
    batch(docs.limit(0), 0, store)
    for sink in store._SINKS:
        assert "batch_id=0" not in _logical(store, sink), sink
    gen_dir = os.path.join(store.base, store.current_generation())
    assert not set(os.listdir(gen_dir)) & set(store._SINKS)

    ref = init(spark, str(tmp_path / "ref"))
    batch(docs, 1, ref)
    batch(docs, 1, store)
    got = _contents(spark, store)
    assert got == _contents(spark, ref)
    assert got["decisions"] and got["hwm"], "the fixture must yield rows"
