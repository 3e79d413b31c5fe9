"""Partitioned-parquet and bucketed-table sinks: verify not just the data
round-trip but the *plan-level* payoff — partition pruning on read and
exchange-free bucketed joins."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from zylyty_data_engineer_challenge_spark.catalog import (
    ARTIFACT_ROOTS,
    artifact_dir,
    load_table,
    source_identity,
)
from zylyty_data_engineer_challenge_spark.operators.similarity import ANN_INDEX_VERSION
from zylyty_data_engineer_challenge_spark.sinks.files import (
    write_bucketed_table,
    write_partitioned_parquet,
)


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    out = str(tmp_path / "li_part")
    write_partitioned_parquet(li, out, ["ship_month"])

    back = spark.read.parquet(out)
    assert back.count() == li.count()

    pruned = back.filter(F.col("ship_month") == "1995-03")
    plan = _formatted_plan(pruned)
    # partition predicate must land in PartitionFilters, not a post-scan Filter
    assert "PartitionFilters" in plan
    assert "ship_month" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    expected = li.filter(F.col("ship_month") == "1995-03").count()
    assert pruned.count() == expected > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        orders, "orders_b", ["o_orderkey"], n_buckets=4,
        sort_cols=["o_orderkey"], path=str(tmp_path / "orders_b"),
    )
    write_bucketed_table(
        lineitem, "lineitem_b", ["l_orderkey"], n_buckets=4,
        sort_cols=["l_orderkey"], path=str(tmp_path / "lineitem_b"),
    )
    try:
        # disable auto-broadcast so the join would otherwise shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _formatted_plan(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # sanity: same result as the plain join
        plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_stream_parquet_sink_configured_root_and_exactly_once(
    spark, sf_dir, artifact_roots
):
    """r6 ADVICE item 4: the streaming bronze sink must honor a configured
    shared root (cluster contract) and be idempotent across re-runs — the
    second run reuses the commit log, processes zero micro-batches, and
    the read-back aggregate is unchanged."""
    import os

    from zylyty_data_engineer_challenge_spark.streaming.views_stream import (
        stream_parquet_sink,
    )

    root = str(artifact_roots / "streamSinkDir")
    first = stream_parquet_sink(spark, sf_dir).collect()
    base = artifact_dir(spark, "streamSinkDir", [f"{sf_dir}/events.parquet"])
    data_dir, chk_dir = f"{base}/data", f"{base}/chk"
    assert data_dir.startswith(root) and os.path.isdir(data_dir)
    assert os.path.isdir(chk_dir)

    def sink_files():
        return sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(data_dir)
            for f in fs
            if f.endswith(".parquet")
        )

    files_before = sink_files()
    assert files_before, "first run must deliver parquet files"
    second = stream_parquet_sink(spark, sf_dir).collect()
    assert sink_files() == files_before, "re-run must not rewrite data"
    assert first == second


def test_stream_sink_identity_remote_path(spark, sf_dir, tmp_path, monkeypatch):
    """r7 VERDICT item 2: when the source path is NOT driver-statable
    (hdfs://, s3a://), sink identity must resolve through the Hadoop FS
    API — so a REGENERATED remote source at the same path still gets a
    fresh sink+checkpoint instead of name-only identity silently reusing
    a stale commit log. Simulated by copying the fixture and making
    os.stat raise for it (the Hadoop local FS stands in for the remote
    one, exactly the API a cluster would hit)."""
    import os
    import shutil

    src_dir = tmp_path / "remote_sf"
    src_dir.mkdir()
    src = str(src_dir / "events.parquet")
    shutil.copyfile(f"{sf_dir}/events.parquet", src)

    real_stat = os.stat

    def deny_events(path, *a, **k):
        if "events.parquet" in str(path):
            raise OSError(f"simulated remote path: {path}")
        return real_stat(path, *a, **k)

    monkeypatch.setattr(os, "stat", deny_events)

    ident1 = source_identity(spark, src)
    assert ident1 == source_identity(spark, src), "identity must be stable"
    dir1 = artifact_dir(spark, "streamSinkDir", [src])

    # regenerate: same path, different content + mtime (Hadoop local FS
    # reports mtime in ms, so jump a full second)
    with open(src, "ab") as f:
        f.write(b"x")
    st = real_stat(src)
    os.utime(src, (st.st_atime + 5, st.st_mtime + 5))

    ident2 = source_identity(spark, src)
    assert ident2 != ident1, "regenerated remote source must change identity"
    assert artifact_dir(spark, "streamSinkDir", [src]) != dir1, (
        "regenerated remote source must get a fresh sink+checkpoint"
    )


def test_source_identity_local_dir_sees_nested_rewrite(spark, tmp_path):
    """A local directory source's identity covers its whole tree: a file
    rewritten inside a partition subdirectory leaves the top directory's
    own mtime and size alone, yet must change the identity and so the
    artifact directory keyed by it. A single-file source keeps its
    ``path:mtime_ns:size`` identity."""
    import os

    src = str(tmp_path / "parted.parquet")
    spark.range(40).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(src)
    ident1 = source_identity(spark, src)
    dir1 = artifact_dir(spark, "pairCacheDir", [src], "v1")
    assert ident1 == source_identity(spark, src), "identity must be stable"

    nested = next(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{src}/p=1")
        for f in fs
        if f.endswith(".parquet")
    )
    top = os.stat(src)
    with open(nested, "ab") as f:
        f.write(b"x")
    st = os.stat(nested)
    os.utime(nested, (st.st_atime + 5, st.st_mtime + 5))
    os.utime(src, ns=(top.st_atime_ns, top.st_mtime_ns))

    assert source_identity(spark, src) != ident1, (
        "a rewritten nested file must change the directory's identity"
    )
    assert artifact_dir(spark, "pairCacheDir", [src], "v1") != dir1

    one = tmp_path / "one.bin"
    one.write_bytes(b"abc")
    st = os.stat(one)
    assert source_identity(spark, str(one)) == f"{one}:{st.st_mtime_ns}:3"


@pytest.mark.parametrize("name", list(ARTIFACT_ROOTS))
def test_artifact_root_precedence(spark, tmp_path, monkeypatch, artifact_roots, name):
    """Each root resolves conf, then env var, then ``<tempdir>/<default>``,
    and the key is sha1 over ``tag:identity``. The fixture's
    point_artifact_roots sets every root's conf."""
    import hashlib
    import os
    import tempfile

    env, default = ARTIFACT_ROOTS[name]
    src = tmp_path / "src.bin"
    src.write_bytes(b"abc")
    key = hashlib.sha1(f"t:{source_identity(spark, str(src))}".encode()).hexdigest()
    monkeypatch.setenv(env, str(tmp_path / "env"))

    assert spark.conf.get(f"spark.zylyty.{name}") == f"{artifact_roots}/{name}"
    got = artifact_dir(spark, name, [str(src)], "t")
    assert got == f"{artifact_roots}/{name}/{key[:16]}", "conf beats env"
    spark.conf.unset(f"spark.zylyty.{name}")
    got = artifact_dir(spark, name, [str(src)], "t")
    assert got == f"{tmp_path}/env/{key[:16]}", "env beats tempdir"
    monkeypatch.delenv(env)
    got = artifact_dir(spark, name, [str(src)], "t")
    assert got == os.path.join(tempfile.gettempdir(), default, key[:16])


def test_stream_index_append_exactly_once_retrigger(spark, sf_dir, artifact_roots):
    """stream_index_append (r8 VERDICT item 7): re-triggering the stream
    must process zero new batches — stored code count unchanged, probe
    results identical — and the streamed probe must equal the persisted
    batch probe (the three paths serve one artifact)."""
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        sim_index_probe,
    )
    from zylyty_data_engineer_challenge_spark.streaming.index_stream import (
        stream_index_append,
    )

    first = stream_index_append(spark, sf_dir).collect()
    base = artifact_dir(
        spark, "annIndexDir", [f"{sf_dir}/embeddings.parquet"], f"v{ANN_INDEX_VERSION}"
    )
    n1 = spark.read.parquet(f"{base}/codes_stream").count()
    assert n1 > 0
    second = stream_index_append(spark, sf_dir).collect()
    n2 = spark.read.parquet(f"{base}/codes_stream").count()
    assert n2 == n1, "re-trigger must not duplicate stored codes"
    assert second == first
    assert sim_index_probe(spark, sf_dir).collect() == first


def test_stream_dedup_pairs_exactly_once_retrigger(spark, sf_dir, artifact_roots):
    """stream_dedup_pairs (r9): the streamed band/pair store must equal
    the full rebuild exactly, and a re-trigger must process zero batches
    (pair count unchanged, results identical)."""
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        dedup_minhash_lsh,
    )
    from zylyty_data_engineer_challenge_spark.streaming.dedup_stream import (
        stream_dedup_pairs,
    )

    first = sorted(tuple(r) for r in stream_dedup_pairs(spark, sf_dir).collect())
    rebuild = sorted(tuple(r) for r in dedup_minhash_lsh(spark, sf_dir).collect())
    assert first == rebuild, "streamed store must equal full rebuild"
    second = sorted(tuple(r) for r in stream_dedup_pairs(spark, sf_dir).collect())
    assert second == first, "re-trigger must not duplicate stored pairs"


def test_index_compaction_one_file_per_cid_and_probe_invariant(
    spark, sf_dir, artifact_roots
):
    """sim_index_compact (r9): the compacted code tree must hold exactly
    one parquet file per cid partition, and the probe over it must equal
    the probe over the uncompacted append tree — compaction is a pure
    layout change."""
    import os

    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        sim_index_append,
        sim_index_compact,
    )

    before = sim_index_append(spark, sf_dir).collect()
    after = sim_index_compact(spark, sf_dir).collect()
    assert after == before, "compaction must not change probe results"
    base = artifact_dir(
        spark, "annIndexDir", [f"{sf_dir}/embeddings.parquet"], f"v{ANN_INDEX_VERSION}"
    )
    for cid_dir in sorted(os.listdir(f"{base}/codes_compact")):
        if not cid_dir.startswith("cid="):
            continue
        files = [
            f
            for f in os.listdir(f"{base}/codes_compact/{cid_dir}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{cid_dir}: {len(files)} files (want 1)"


def test_index_delete_logical_equals_physical(spark, sf_dir, artifact_roots):
    """sim_index_delete (r10): the logical path (tombstone anti join over
    the un-purged codes) and the physical path (purged rewrite) must
    serve identical rows; no tombstoned vector may appear in any top-k;
    and the purged tree must physically lack the deleted vectors."""
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        DEL_MOD,
        DEL_REM,
        sim_index_delete,
        sim_index_probe_deleted,
    )

    physical = sorted(tuple(r) for r in sim_index_delete(spark, sf_dir).collect())
    logical = sorted(
        tuple(r) for r in sim_index_probe_deleted(spark, sf_dir).collect()
    )
    assert logical == physical, "logical and physical delete must agree"
    assert physical, "probe over purged index must return rows"
    for _, _, vec_id, _, _ in physical:
        assert vec_id % DEL_MOD != DEL_REM, (
            f"tombstoned vector {vec_id} leaked into a top-k"
        )

    base = artifact_dir(
        spark, "annIndexDir", [f"{sf_dir}/embeddings.parquet"], f"v{ANN_INDEX_VERSION}"
    )
    purged = spark.read.parquet(f"{base}/codes_purged")
    assert purged.filter(
        (purged.vec_id % DEL_MOD) == DEL_REM
    ).count() == 0, "purge must physically remove tombstoned rows"
    # marker idempotency: second call reads, never rewrites
    again = sorted(tuple(r) for r in sim_index_delete(spark, sf_dir).collect())
    assert again == physical
