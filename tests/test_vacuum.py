"""Snapshot expiry / orphan removal (operators.vacuum) — the Iceberg
expire_snapshots analog.  Contract: reclaim every superseded or
unreferenced directory, never change any query result, heal a crashed
sync before touching history, and leave a mid-flight build's resume
artifacts alone."""

import json
import os
import shutil

import pytest

from mongoesindexer_spark.operators.vacuum import vacuum_index
from mongoesindexer_spark.sources.catalog import ParquetCatalog

QUERIES = ["the data", "merge segment", "quick index"]


def _pairs(spark, idx, q, k=10):
    from mongoesindexer_spark.operators.topk import bm25_topk_wand
    pdf = bm25_topk_wand(spark, idx, q, k)
    return [(int(r.doc_id), round(float(r.score), 9))
            for r in pdf.itertuples()]


def _all_dirs(root):
    out = set()
    for d, subdirs, _ in os.walk(root):
        for s in subdirs:
            out.add(os.path.relpath(os.path.join(d, s), root))
    return out


def test_vacuum_reclaims_dead_snapshots(spark, tiny_index, tiny_dir,
                                        tmp_path_factory):
    """sync + compact leave superseded snapshot dirs (term_dict /
    completion / global_stats overwrites, replaced flat/segment/doc_stats
    generations).  Vacuum must delete them, keep every live dir, and be
    invisible to queries; a second vacuum finds nothing."""
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    idx = str(tmp_path_factory.mktemp("idx-vac")) + "/idx"
    shutil.copytree(tiny_index, idx)
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    IncrementalIndexer(idx).apply_updates(spark, upd, batch_id="b1")
    assert compact(spark, idx)["compacted"]

    before = {q: _pairs(spark, idx, q) for q in QUERIES}
    res = vacuum_index(spark, idx)
    assert res["vacuumed"] and res["orphan_sweep"]
    assert res["removed_dirs"] > 0 and res["expired_snapshots"] > 0

    # every live snapshot survived: logs resolve, queries identical
    cat = ParquetCatalog(idx)
    for t in cat.list_tables():
        for d in cat._live_dirs(t):
            assert os.path.isdir(d), (t, d)
    for q in QUERIES:
        assert _pairs(spark, idx, q) == before[q], q

    # idempotent: nothing left to reclaim
    res2 = vacuum_index(spark, idx)
    assert res2["removed_dirs"] == 0 and res2["expired_snapshots"] == 0


@pytest.mark.parametrize("locus", ["driver", "spark"])
def test_vacuum_heals_crashed_sync_before_expiry(spark, tiny_index,
                                                 tiny_dir, tmp_path_factory,
                                                 monkeypatch, locus):
    """A pending intent journal means a half-committed batch: expiring
    snapshots first would destroy the pre-batch history the rollback
    targets.  Vacuum must recover, then reclaim — and the replayed batch
    must still apply cleanly afterwards.  Run on both sync loci (the
    Spark one by a cutoff of 0)."""
    from mongoesindexer_spark.streaming import incremental
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    if locus == "spark":
        monkeypatch.setattr(incremental, "LOCAL_APPLY_MAX_ROWS", 0)

    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    clean = str(tmp_path_factory.mktemp("idx-vclean")) + "/idx"
    shutil.copytree(tiny_index, clean)
    IncrementalIndexer(clean).apply_updates(spark, upd, batch_id="b1")

    crash = str(tmp_path_factory.mktemp("idx-vcrash")) + "/idx"
    shutil.copytree(tiny_index, crash)
    orig = IncrementalIndexer._encode_delta

    def _boom(self, *a, **kw):
        orig(self, *a, **kw)
        raise RuntimeError("injected crash after delta encode")

    IncrementalIndexer._encode_delta = _boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            IncrementalIndexer(crash).apply_updates(spark, upd,
                                                    batch_id="b1")
    finally:
        IncrementalIndexer._encode_delta = orig
    assert os.path.exists(os.path.join(crash, "_sync_journal.json"))

    res = vacuum_index(spark, crash)
    assert res["recovered_sync"]
    assert not os.path.exists(os.path.join(crash, "_sync_journal.json"))
    # the failed attempt's orphan delta segments were swept
    assert res["removed_dirs"] > 0

    # the batch replays onto the healed+vacuumed index and matches the twin
    r2 = IncrementalIndexer(crash).apply_updates(spark, upd, batch_id="b1")
    assert r2["applied"]
    for q in QUERIES:
        assert _pairs(spark, crash, q) == _pairs(spark, clean, q), q


def test_vacuum_removes_rollback_orphans(spark, tiny_index,
                                         tmp_path_factory):
    """rollback() leaves later snapshot dirs on disk unreachable from the
    log — exactly what the orphan sweep exists for."""
    import pandas as pd

    idx = str(tmp_path_factory.mktemp("idx-vrb")) + "/idx"
    shutil.copytree(tiny_index, idx)
    cat = ParquetCatalog(idx)
    pre = cat.current_snapshot("global_stats")
    cat.write_small_arrow(
        pd.DataFrame({"n_docs": [1], "avgdl": [1.0], "sum_dl": [1]}),
        "global_stats")
    orphan = cat.snapshot_dir("global_stats", pre + 1)
    cat.rollback("global_stats", pre)
    assert os.path.isdir(orphan)

    vacuum_index(spark, idx)
    assert not os.path.exists(orphan)
    assert os.path.isdir(cat.snapshot_dir("global_stats", pre))


def test_vacuum_spares_inflight_build_artifacts(spark, tiny_index,
                                                tmp_path_factory):
    """An interrupted build's resume reads half-encoded, NOT-yet-registered
    segment files (lineage marks them done per-partition).  While any
    lineage stage lacks its _COMPLETE marker, the orphan sweep must stand
    down — but log-level expiry of genuinely dead snapshots still runs."""
    idx = str(tmp_path_factory.mktemp("idx-vbuild")) + "/idx"
    shutil.copytree(tiny_index, idx)
    # simulate a crash mid-encode: unregistered segment files + an
    # incomplete lineage stage
    pending = os.path.join(idx, "segments", "pending-gen")
    os.makedirs(pending)
    with open(os.path.join(pending, "seg-f000000.parquet"), "wb") as f:
        f.write(b"partial")
    stage = os.path.join(idx, "_lineage", "encode_resume")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "part-0.json"), "w") as f:
        json.dump({"stage": "encode_resume", "partition": "0",
                   "status": "done"}, f)

    res = vacuum_index(spark, idx)
    assert not res["orphan_sweep"]
    assert os.path.isdir(pending), "in-flight build artifact was deleted"


def test_vacuum_handles_relative_index_path(spark, tiny_index, tiny_dir,
                                            tmp_path_factory, monkeypatch):
    """Ext snapshot dirs are logged ABSOLUTE; a relative --index must still
    pass the under-the-root containment check (regression: dead segment
    generations survived vacuum when the CLI was given a relative path)."""
    from mongoesindexer_spark.operators.merge import compact
    from mongoesindexer_spark.streaming.incremental import IncrementalIndexer

    parent = tmp_path_factory.mktemp("idx-vrel")
    idx = str(parent / "idx")
    shutil.copytree(tiny_index, idx)
    upd = spark.read.parquet(os.path.join(tiny_dir, "pages_updates.parquet"))
    IncrementalIndexer(idx).apply_updates(spark, upd, batch_id="b1")
    assert compact(spark, idx)["compacted"]
    dead_segs = [d for d in os.listdir(os.path.join(idx, "segments"))
                 if not d.startswith("cmp-")]
    assert dead_segs, "expected superseded base/delta segment dirs"

    monkeypatch.chdir(parent)
    res = vacuum_index(spark, "idx")
    assert res["removed_dirs"] > 0
    live = os.listdir(os.path.join(idx, "segments"))
    assert all(d.startswith("cmp-") for d in live), live
