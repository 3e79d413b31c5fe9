"""The one store protocol: :func:`catalog.build_once` stages a store's
children, publishes them by rename and creates the marker last.

Pinned here:
* a build that fails part-way leaves no marker and no live child, and
  the next call builds a complete store;
* two concurrent writers of one store agree, publish one copy of each
  child and leave no staging debris;
* the four append-in-place stores are installments: losing the marker
  after a published batch (the state a crash between the publish and
  the marker leaves) does not append the batch twice;
* no engine module other than ``catalog.py`` writes a marker itself.
"""

from __future__ import annotations

import re
import sys
import threading
from pathlib import Path

import pytest

from zylyty_data_engineer_challenge_spark import catalog
from zylyty_data_engineer_challenge_spark.operators import dedup, multimodal, text

ROOT = Path(__file__).resolve().parents[1] / "zylyty_data_engineer_challenge_spark"


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _staging(base: Path) -> list[Path]:
    return list(base.glob("_staging-*"))


def test_killed_build_leaves_no_marker_and_no_live_child(spark, tmp_path):
    base = tmp_path / "store"
    df = spark.range(5).toDF("x")

    def dies(stage):
        df.write.parquet(f"{stage}/first")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError, match="killed mid-build"):
        catalog.build_once(spark, str(base), "_READY", dies)
    assert not (base / "_READY").exists()
    assert not (base / "first").exists()

    def builds(stage):
        df.write.parquet(f"{stage}/first")
        df.selectExpr("x * 2 AS y").write.parquet(f"{stage}/second")

    catalog.build_once(spark, str(base), "_READY", builds)
    assert (base / "_READY").exists()
    assert _rows(spark, str(base / "first")) == [(i,) for i in range(5)]
    assert _rows(spark, str(base / "second")) == [(2 * i,) for i in range(5)]
    assert not _staging(base)


def test_concurrent_writers_publish_one_copy(spark, tmp_path):
    # more writers than cores, with a short switch interval, all staged
    # before any publishes: every rename after the first loses the race
    base = tmp_path / "store"
    df = spark.range(20).selectExpr("id AS x", "id % 3 AS g")
    n = 5
    barrier = threading.Barrier(n)
    errors = []

    def build(stage):
        df.write.parquet(f"{stage}/t")
        df.groupBy("g").count().write.parquet(f"{stage}/agg")
        barrier.wait(timeout=300)

    def run():
        try:
            catalog.build_once(spark, str(base), "_READY", build)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert [p.name for p in base.glob("_*READY")] == ["_READY"]
    assert _rows(spark, str(base / "t")) == sorted(tuple(r) for r in df.collect())
    assert len(_rows(spark, str(base / "agg"))) == 3
    for child in ("t", "agg"):
        assert not [p for p in (base / child).iterdir() if p.is_dir()]
    assert not _staging(base)


@pytest.mark.parametrize(
    "op, marker",
    [
        (dedup.dedup_minhash_append, "_APPEND_READY"),
        (text.text_lm_append, "_APPEND_READY"),
        (text.text_lm_forget, "_FORGET_READY"),
        (multimodal.mm_audio_append, "_APPEND_READY"),
    ],
    ids=["dedup_minhash_append", "text_lm_append", "text_lm_forget", "mm_audio_append"],
)
def test_lost_marker_does_not_append_twice(
    spark, sf_dir, artifact_roots, op, marker
):
    first = sorted(tuple(r) for r in op(spark, sf_dir).collect())
    markers = list(Path(artifact_roots).rglob(marker))
    assert len(markers) == 1, markers
    markers[0].unlink()  # a crash between the batch's publish and marker
    again = sorted(tuple(r) for r in op(spark, sf_dir).collect())
    assert len(again) == len(first)
    assert again == first


def test_only_catalog_writes_markers():
    # a marker written outside catalog.py is a second copy of the
    # publish protocol (stage, rename, then mark)
    offenders = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in ROOT.rglob("*.py")
        if p != ROOT / "catalog.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "fs.create(" in line
    ]
    assert not offenders, offenders
    gone = re.compile(r"\b(_staged_install|_hadoop_fs)\b")
    leftovers = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in ROOT.rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if gone.search(line)
    ]
    assert not leftovers, leftovers
