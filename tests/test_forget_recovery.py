"""Crash-safe purge swaps.

The forget ops rewrite their store trees and swap them in. Two rules
keep every crash point recoverable:

* :func:`catalog.swap_subtrees` renames the live tree ASIDE before
  renaming the rewrite in (no crash point loses both copies), and
  creates the purge marker only after every swap, and
* every forget op validates the data directories ALONGSIDE the ready
  marker (:func:`catalog.store_intact`), so a store whose data
  directory is missing re-heals by rebuilding instead of wedging.

These tests build the worst crash state directly (data dir deleted,
base marker still present, forget marker absent or present) and assert
the op recovers and serves the same rows.
"""

from __future__ import annotations

import shutil
from pathlib import Path


from zylyty_data_engineer_challenge_spark.operators import cluster, lexical


def _lex_forget_base(spark, sf_dir) -> Path:
    return Path(lexical._lex_dir(spark, sf_dir, tag="bm25-forget"))


def _labels_forget_base(spark, sf_dir) -> Path:
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        _pair_cache_dir,
    )

    return Path(
        _pair_cache_dir(
            spark, sf_dir, modality="lloyd-forget", src="embeddings.parquet"
        )
    )


def test_bm25_forget_reheals_after_interrupted_swap(spark, sf_dir, artifact_roots):
    want = [tuple(r) for r in lexical.bm25_index_forget(spark, sf_dir).collect()]
    base = _lex_forget_base(spark, sf_dir)

    # worst-point crash state the old delete-first swap could leave:
    # postings gone, markers claiming the base is ready and (half) purged
    shutil.rmtree(base / "postings")
    (base / "_FORGET_READY").unlink(missing_ok=True)

    got = [tuple(r) for r in lexical.bm25_index_forget(spark, sf_dir).collect()]
    assert got == want
    assert (base / "postings").exists()
    assert not (base / "postings_trash").exists()
    assert not (base / "postings_next").exists()


def test_bm25_forget_reheals_even_with_stale_forget_marker(
    spark, sf_dir, artifact_roots
):
    """If a data tree is missing while both markers are present
    (marker-complete, dir-gone — what a delete-before-rename swap would
    leave), store_intact must still trigger the rebuild and the re-heal
    must re-run the purge (the stale marker is cleared)."""
    want = [tuple(r) for r in lexical.bm25_index_forget(spark, sf_dir).collect()]
    base = _lex_forget_base(spark, sf_dir)

    shutil.rmtree(base / "doclens")  # marker still present

    got = [tuple(r) for r in lexical.bm25_index_forget(spark, sf_dir).collect()]
    assert got == want
    assert (base / "doclens").exists()


def test_cluster_labels_forget_reheals_after_interrupted_swap(
    spark, sf_dir, artifact_roots
):
    want = [tuple(r) for r in cluster.cluster_labels_forget(spark, sf_dir).collect()]
    base = _labels_forget_base(spark, sf_dir)

    shutil.rmtree(base / "labels")
    (base / "_FORGET_READY").unlink(missing_ok=True)

    got = [tuple(r) for r in cluster.cluster_labels_forget(spark, sf_dir).collect()]
    assert got == want
    assert (base / "labels").exists()
    assert not (base / "labels_trash").exists()


def test_swap_subtrees_never_deletes_before_rename(spark, tmp_path):
    """The swap itself: live tree replaced by _next via rename-aside —
    and debris from a previously interrupted swap is cleared."""
    from zylyty_data_engineer_challenge_spark.catalog import swap_subtrees

    base = tmp_path / "store"
    (base / "data").mkdir(parents=True)
    (base / "data" / "old.txt").write_text("old")
    (base / "data_next").mkdir()
    (base / "data_next" / "new.txt").write_text("new")
    # debris from an interrupted previous swap
    (base / "data_trash").mkdir()
    (base / "data_trash" / "stale.txt").write_text("stale")

    swap_subtrees(spark, str(base), ("data",), "_DATA_READY")

    assert (base / "data" / "new.txt").read_text() == "new"
    assert not (base / "data_next").exists()
    assert not (base / "data_trash").exists()
