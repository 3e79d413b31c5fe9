"""Persisted BM25 lexical index lifecycle (r11).

The oracle differential pins probe/append hash-equal to text_bm25 and
forget equal to the surviving-corpus recompute; these tests pin what the
oracle cannot see: byte-equality of the served rows, the partition-pruned
postings scan (the inverted-file seek), physical purge purity, and
marker idempotency.
"""

from __future__ import annotations

import re


from zylyty_data_engineer_challenge_spark.operators import lexical, text


def test_probe_matches_in_plan_bm25_exactly(spark, sf_dir, artifact_roots):
    """Stored-counts round-trip exactness: the persisted-index probe must
    return byte-identical rows to the index-free text_bm25 (same oracle
    by construction; asserted directly so a parquet type drift can't hide
    behind the shared oracle — the sim_index_probe discipline)."""
    got = lexical.bm25_index_probe(spark, sf_dir).collect()
    want = text.text_bm25(spark, sf_dir).collect()
    assert got == want
    # append (initial load + parquet append into the same buckets) serves
    # the same rows, and a re-run is a pure store read
    assert lexical.bm25_index_append(spark, sf_dir).collect() == want
    assert lexical.bm25_index_append(spark, sf_dir).collect() == want


def test_probe_scan_is_partition_pruned(spark, sf_dir, artifact_roots):
    """The postings scan must carry a PartitionFilter on the probed tb
    buckets — the inverted-file seek expressed as partition pruning;
    without it the probe reads every posting and the persistence buys
    nothing at scale."""
    import contextlib
    import io

    df = lexical.bm25_index_probe(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "tb" in line
    ]
    assert pf, f"postings scan lost its tb partition filter:\n{plan}"
    # static pruning: the probed bucket ids are literals in the filter
    assert any(re.search(r"tb.*(IN|=)", line) for line in pf), pf


def test_forget_physically_purges_and_forgets_statistics(
    spark, sf_dir, artifact_roots
):
    """After the purge: zero revoked doc_ids in postings OR doclens, the
    stats row equals the survivors' recount (N/avgdl forget the source
    too), and a re-run is a pure read."""
    from pyspark.sql import functions as F

    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.text import FORGET_SOURCE

    first = lexical.bm25_index_forget(spark, sf_dir).collect()
    again = lexical.bm25_index_forget(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in first]

    revoked = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == FORGET_SOURCE)
        .select("doc_id")
        .collect()
    }
    assert revoked
    base = lexical._lex_dir(spark, sf_dir, tag="bm25-forget")
    post_docs = {
        r["doc_id"] for r in spark.read.parquet(f"{base}/postings").collect()
    }
    assert post_docs and not post_docs & revoked
    dl_rows = spark.read.parquet(f"{base}/doclens").collect()
    assert dl_rows and not {r["doc_id"] for r in dl_rows} & revoked
    stats = spark.read.parquet(f"{base}/stats").collect()
    assert len(stats) == 1
    assert stats[0]["n_docs"] == len(dl_rows)
    assert stats[0]["total_tokens"] == sum(r["dl"] for r in dl_rows)


def test_stream_append_equals_batch_and_exactly_once(spark, sf_dir, artifact_roots):
    """The streamed store must serve the identical ranking to the in-plan
    scorer (split-invariance: postings/doclens are per-document, stats
    SUM-merge), and a re-trigger must process zero batches — the second
    call reads the same store (exactly-once by checkpoint)."""
    from zylyty_data_engineer_challenge_spark.streaming import lexical_stream

    first = lexical_stream.stream_bm25_append(spark, sf_dir).collect()
    want = text.text_bm25(spark, sf_dir).collect()
    assert first == want
    again = lexical_stream.stream_bm25_append(spark, sf_dir).collect()
    assert again == first


def test_compact_leaves_one_file_per_bucket_and_serves_identically(
    spark, sf_dir, artifact_roots
):
    """Compaction contract: after bm25_index_compact, every tb partition
    directory of the compacted postings tree holds EXACTLY ONE parquet
    file, the merged stats tree holds one physical row, and the served
    ranking equals the append-store probe (probe-invisible)."""
    import os

    want = lexical.bm25_index_append(spark, sf_dir).collect()
    got = lexical.bm25_index_compact(spark, sf_dir).collect()
    assert got == want
    base = lexical._lex_dir(spark, sf_dir, tag="bm25-incr")
    root = base.replace("file:", "")
    for d in sorted(os.listdir(f"{root}/postings_compact")):
        if not d.startswith("tb="):
            continue
        files = [
            f
            for f in os.listdir(f"{root}/postings_compact/{d}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
    # the appended (un-compacted) tree has >1 file in at least one bucket
    # — otherwise this test pins nothing
    multi = 0
    for d in os.listdir(f"{root}/postings"):
        if d.startswith("tb="):
            n = len(
                [
                    f
                    for f in os.listdir(f"{root}/postings/{d}")
                    if f.endswith(".parquet")
                ]
            )
            multi += n > 1
    assert multi > 0
    stats_rows = spark.read.parquet(f"{base}/stats_compact").collect()
    assert len(stats_rows) == 1


def test_python_xxh64_matches_spark_xxhash64(spark):
    """The probe's planning-time bucket ids come from a pure-python XXH64
    (no Spark job, no driver collect); it must be bit-equal to Spark's
    xxhash64 — pinned on the query terms plus a fuzz sample covering
    every tail-length class (0..40 bytes spans the 32-byte stripe, the
    8-byte, 4-byte, and byte tails)."""
    samples = list(lexical.BM25_TERMS) + [
        "",
        "a",
        "ab",
        "abc",
        "abcd",
        "abcde",
        "12345678",
        "123456789",
        "x" * 31,
        "y" * 32,
        "z" * 33,
        "w" * 40,
        "unicode-αβγ-混合-🙂",
    ]
    got = {s: lexical._xxh64(s.encode("utf-8")) for s in samples}
    from pyspark.sql import functions as F

    want = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in samples], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    assert got == want
    assert lexical._term_buckets() == sorted(
        {v % lexical.BM25_BUCKETS for v in (want[t] for t in lexical.BM25_TERMS)}
    )


def test_hybrid_batch_prunes_both_scans_to_the_union_buckets(
    spark, sf_dir, artifact_roots
):
    """sim_hybrid_probe_batch (r12): the WHOLE batch must cost two index
    seeks — the codes scan dynamically partition-pruned on cid, and ONE
    postings scan statically pruned to the union of the batch's term
    buckets (per-query fan-out happens after the fetch, off a broadcast
    (query_id, term) table — never one scan per query)."""
    import contextlib
    import io

    df = lexical.sim_hybrid_probe_batch(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    cid = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "cid" in line
    ]
    assert cid and any("dynamicpruning" in line for line in cid), plan
    tb_lines = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line
        and re.search(r"tb#\d+ (IN|INSET)", line)
    ]
    assert tb_lines, f"postings scan lost its union-bucket filter:\n{plan}"
    # at most two postings scans serve the whole batch — the tf rows and
    # the column-pruned (term, tb) df pass — never one scan per query
    assert len(tb_lines) <= 2, tb_lines
    # every scan's IN-list is the union of the batch's buckets
    want = set(lexical._term_buckets(lexical._batch_terms()))
    for line in tb_lines:
        got = {
            int(m)
            for m in re.findall(r"\d+", re.split(r"IN(?:SET)?", line)[1])
        }
        assert got == want, (got, want, line)


def test_hybrid_batch_query3_slice_equals_single_probe(
    spark, sf_dir, artifact_roots
):
    """Query 3 of the batch is the original (RRF_QUERY, BM25_TERMS) pair,
    so its batch rows must be byte-identical to sim_hybrid_probe's —
    per-term BM25 scores are unchanged by the union term filter (df is
    per-term), and the sorted-fold total equals the pivot fold by IEEE
    commutativity of two-operand addition."""
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        RRF_QUERY,
    )

    batch = lexical.sim_hybrid_probe_batch(spark, sf_dir).collect()
    single = lexical.sim_hybrid_probe(spark, sf_dir).collect()
    got = [
        (r["rank"], r["doc_id"], r["dense_rank"], r["lex_rank"], r["rrf"])
        for r in batch
        if r["query_id"] == RRF_QUERY
    ]
    want = [
        (r["rank"], r["doc_id"], r["dense_rank"], r["lex_rank"], r["rrf"])
        for r in single
    ]
    assert got == want
