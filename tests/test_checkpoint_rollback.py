"""Round-5 advice fixes: checkpoint swap-failure rollback and the
narrowed 'no data yet' exception handling in the streaming reads.

Reference analog: simages persists embeddings/hashes to Mongo and
tolerates partial stores by recomputing (src/simages/extractor.py:200-230);
our contract is stronger — a transient FS error must restore the previous
snapshot rather than leave the stage absent.
"""
from __future__ import annotations

import os
import time

import pytest

from simages_spark.checkpoint import CheckpointStore
from simages_spark.streaming import _read_data_or_none


def test_swap_failure_restores_previous_snapshot(spark, tmp_path, monkeypatch):
    """A transient FS error during the snapshot swap must NOT leave the
    stage absent: the previous snapshot and its meta are reinstalled, and
    the error message must not blame a concurrent writer (round-4 advice
    item 2)."""
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    store.write("stage", df1, fingerprint="fp1")
    meta1 = store.metrics("stage")
    assert meta1["rows"] == 2

    df2 = spark.createDataFrame([(3, "c")], ["doc_id", "text"])
    real_rename = os.rename

    def failing_rename(src, dst):
        # fail ONLY the tmp -> final publish rename (the v2 install),
        # after the v1 snapshot was already renamed away to .old-<run>
        if ".tmp-" in str(src) and str(dst).endswith(os.sep + "stage"):
            raise OSError(5, "injected transient I/O error")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(RuntimeError) as ei:
        store.write("stage", df2, fingerprint="fp2")
    monkeypatch.undo()
    assert "concurrent writer" not in str(ei.value)
    assert "previous snapshot was restored" in str(ei.value)

    # previous snapshot readable again, meta intact (same run/fingerprint)
    rows = {(r["doc_id"], r["text"]) for r in store.read("stage").collect()}
    assert rows == {(1, "a"), (2, "b")}
    meta_after = store.metrics("stage")
    assert meta_after["run_id"] == meta1["run_id"]
    assert meta_after["fingerprint"] == "fp1"

    # and a clean retry succeeds over the restored snapshot
    store.write("stage", df2, fingerprint="fp2")
    rows2 = {(r["doc_id"], r["text"]) for r in store.read("stage").collect()}
    assert rows2 == {(3, "c")}


def test_read_data_or_none_only_masks_no_data(spark, tmp_path):
    """None for missing path and schema-less dir; a corrupt data file
    must RAISE (round-4 advice item 1 — a masked read error silently
    drops cross-corpus dup edges forever)."""
    missing = str(tmp_path / "missing")
    assert _read_data_or_none(spark, missing) is None

    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read_data_or_none(spark, str(empty)) is None

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        df = _read_data_or_none(spark, str(corrupt))
        # schema inference may be lazy for a single file — force it
        if df is not None:
            df.collect()


def test_rename_away_failure_restores_meta_not_blamed_on_race(
    spark, tmp_path, monkeypatch
):
    """If the FIRST swap rename — final → .old-<run> — fails, the data
    never moved; only the meta was unlinked. The rollback must reinstall
    the meta (stage stays present, zero recompute) and must NOT
    misclassify the intact `final` as a concurrent writer's install
    (which skipped the restore AND raised the bogus race error)."""
    store = CheckpointStore(spark, str(tmp_path / "ckpt2"))
    df1 = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    store.write("stage", df1, fingerprint="fp1")
    meta1 = store.metrics("stage")

    real_rename = os.rename

    def failing_rename(src, dst):
        if str(src).endswith(os.sep + "stage") and ".old-" in str(dst):
            raise OSError(5, "injected transient I/O error")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    df2 = spark.createDataFrame([(2, "b")], ["doc_id", "text"])
    with pytest.raises(RuntimeError) as ei:
        store.write("stage", df2, fingerprint="fp2")
    monkeypatch.undo()
    assert "concurrent writer" not in str(ei.value)

    # stage still present with the ORIGINAL snapshot and meta — no
    # recompute needed
    assert store.exists("stage")
    rows = {(r["doc_id"], r["text"]) for r in store.read("stage").collect()}
    assert rows == {(1, "a")}
    assert store.metrics("stage")["run_id"] == meta1["run_id"]

    # retry succeeds
    store.write("stage", df2, fingerprint="fp2")
    assert store.read("stage").count() == 1


def test_per_stage_fingerprints_scope_invalidation(spark, tmp_path):
    """A threshold-only config change must NOT invalidate the
    (threshold-independent) signature checkpoint, but MUST invalidate
    edges/clusters; a signature-affecting change invalidates everything."""
    from simages_spark.checkpoint import config_fingerprint
    from simages_spark.config import DedupConfig

    base = DedupConfig()
    thresh = DedupConfig(jaccard_threshold=0.9)
    shingle = DedupConfig(shingle_size=7)

    for stage in ("signatures", "sig_index", "candidates"):
        assert config_fingerprint(base, stage) == config_fingerprint(
            thresh, stage
        ), stage
    for stage in ("edges", "clusters"):
        assert config_fingerprint(base, stage) != config_fingerprint(
            thresh, stage
        ), stage
    for stage in ("signatures", "sig_index", "candidates", "edges", "clusters"):
        assert config_fingerprint(base, stage) != config_fingerprint(
            shingle, stage
        ), stage
    # bucket caps bind at candidate generation, not key generation
    capped = DedupConfig(max_bucket_size=50)
    assert config_fingerprint(base, "signatures") == config_fingerprint(
        capped, "signatures"
    )
    assert config_fingerprint(base, "sig_index") == config_fingerprint(
        capped, "sig_index"
    )
    assert config_fingerprint(base, "candidates") != config_fingerprint(
        capped, "candidates"
    )
    # unknown stage / no stage = the conservative whole-config hash
    assert config_fingerprint(base) != config_fingerprint(thresh)


def test_default_config_fingerprints_pinned():
    """The fingerprints of the default config are the resume contract:
    a stage stored under one of these hashes must keep resuming as a
    checkpoint hit. Removing a storage-only field (an excluded
    `_STORAGE_KNOBS` member) must leave them byte-identical."""
    from simages_spark.checkpoint import _STAGE_NEUTRAL_KNOBS, config_fingerprint
    from simages_spark.config import DedupConfig

    pinned = {
        None: "a47e0e578d245596",
        "signatures": "f07a91e4df36a0fb",
        "sig_index": "e1cf0e4015ec08e5",
        "candidates": "24ae8e8536be97e6",
        "edges": "6f59ac367baf44ae",
        "clusters": "a47e0e578d245596",
    }
    assert set(pinned) == {None, *_STAGE_NEUTRAL_KNOBS}
    cfg = DedupConfig()
    assert {st: config_fingerprint(cfg, st) for st in pinned} == pinned


def test_read_refuses_cross_config_stage(spark, tmp_path):
    """Consumer-side staleness guard: read(expected_fingerprint=...) must
    refuse a stage computed under other knobs — the CLI `cluster` command
    must not silently mix configs across stages."""
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    store = CheckpointStore(spark, str(tmp_path / "wd"))
    store.write("signatures", df, fingerprint="fpA")
    assert store.read("signatures", expected_fingerprint="fpA").count() == 1
    with pytest.raises(ValueError, match="different\\s+config"):
        store.read("signatures", expected_fingerprint="fpB")


def test_sweep_removes_stale_rollback_meta(spark, tmp_path):
    """Crashed-rollback leftovers (<name>.meta.json.rb-*) must be swept
    once stale — they previously matched no sweep pattern and leaked
    forever."""
    store = CheckpointStore(spark, str(tmp_path / "ckpt_rb"))
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    store.write("stage", df)
    rb = store._meta_path("stage") + ".rb-run-0-dead"
    with open(rb, "w") as f:
        f.write("{}")
    old = time.time() - 7200
    os.utime(rb, (old, old))
    store._sweep_stale("stage")
    assert not os.path.exists(rb)
    # a YOUNG rollback tmp is possibly-live and must survive
    rb2 = store._meta_path("stage") + ".rb-run-1-live"
    with open(rb2, "w") as f:
        f.write("{}")
    store._sweep_stale("stage")
    assert os.path.exists(rb2)
    os.remove(rb2)
