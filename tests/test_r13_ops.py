"""Round-13 operator tests: decontamination-as-removal, the DSIR
estimator store, the MRL prefix store, and best-fit sequence packing."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import Row  # noqa: E402

from zylyty_data_engineer_challenge_spark.operators.text import (  # noqa: E402
    _contamination_excise_kernel,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in rows]
    )


class TestContaminationExcise:
    """Planted-corpus pins for text_contamination_excise: the eval
    passage is excised at exact token positions, clean text survives."""

    PASSAGE = " ".join(f"p{i}" for i in range(10))  # 10-token eval passage

    def test_planted_eval_passage_excised_exactly(self, spark):
        prefix = " ".join(f"a{i}" for i in range(5))
        suffix = " ".join(f"z{i}" for i in range(5))
        eval_text = (
            " ".join(f"c{i}" for i in range(4))
            + " " + self.PASSAGE + " "
            + " ".join(f"d{i}" for i in range(4))
        )
        contaminated = f"{prefix} {self.PASSAGE} {suffix}"
        clean = " ".join(f"q{i}" for i in range(12))
        out = {
            r.doc_id: r
            for r in _contamination_excise_kernel(
                _docs(
                    spark,
                    [
                        (0, eval_text),  # eval (doc_id < 20)
                        (30, clean),
                        (31, contaminated),
                        (32, eval_text),  # verbatim eval copy
                    ],
                )
            ).collect()
        }
        # eval docs are not in the output; every train doc is
        assert set(out) == {30, 31, 32}
        # clean doc untouched
        assert out[30].n_removed == 0
        assert out[30].kept_hash == _md5(clean)
        # the 10-token passage (positions 6..15) is excised exactly:
        # 3 consecutive flagged 8-windows merge into the maximal span
        assert out[31].n_tokens == 20
        assert out[31].n_removed == 10
        assert out[31].kept_hash == _md5(f"{prefix} {suffix}")
        # a full verbatim copy of an eval doc is fully excised
        assert out[32].n_removed == out[32].n_tokens
        assert out[32].kept_chars == 0
        assert out[32].kept_hash == _md5("")

    def test_sub_window_docs_and_partial_overlap_survive(self, spark):
        # train doc shorter than the window can never be flagged; a
        # 7-token (sub-K) overlap with eval text is below the window
        # size and survives too
        short = "s0 s1 s2 s3 s4"
        seven = " ".join(f"p{i}" for i in range(7))  # 7 of the 10 passage tokens
        partial = f"u0 u1 u2 {seven} v0 v1 v2"
        eval_text = (
            " ".join(f"c{i}" for i in range(4))
            + " " + self.PASSAGE + " "
            + " ".join(f"d{i}" for i in range(4))
        )
        out = {
            r.doc_id: r
            for r in _contamination_excise_kernel(
                _docs(spark, [(0, eval_text), (40, short), (41, partial)])
            ).collect()
        }
        assert out[40].n_removed == 0 and out[40].kept_hash == _md5(short)
        assert out[41].n_removed == 0 and out[41].kept_hash == _md5(partial)


class TestDsirStore:
    """The persisted DSIR estimator (r12 VERDICT item 3): the sampler
    and gate probe the store instead of re-deriving bucket counts."""

    def test_sampler_count_path_reads_store_not_corpus(
        self, spark, sf_dir, artifact_roots
    ):
        import contextlib
        import io

        from zylyty_data_engineer_challenge_spark.operators import curate

        df = curate.curate_dsir_sample(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # the estimator comes from the store parquet; the only corpus
        # read left per weights subtree is the one feature-extraction
        # pass (the subtree appears twice — weights + its wmax
        # aggregate — so 2 documents scans; the in-plan count
        # derivation this replaces added two more)
        store_scans = [
            ln for ln in plan.splitlines()
            if "Location" in ln and ln.rstrip().endswith("counts]")
        ]
        assert store_scans, f"no estimator-store scan:\n{plan}"
        n_doc_scans = len(
            [ln for ln in plan.splitlines()
             if "Location" in ln and "documents.parquet" in ln]
        )
        assert n_doc_scans <= 2, f"{n_doc_scans} documents scans:\n{plan}"

    def test_forget_equals_retrain_without_source(self, spark, sf_dir, artifact_roots):
        from pyspark.sql import functions as F

        from zylyty_data_engineer_challenge_spark.catalog import load_table
        from zylyty_data_engineer_challenge_spark.operators import curate
        from zylyty_data_engineer_challenge_spark.operators.text import (
            FORGET_SOURCE,
        )

        got = [tuple(r) for r in curate.dsir_counts_forget(spark, sf_dir).collect()]
        survivors = load_table(spark, sf_dir, "documents").filter(
            F.col("source") != FORGET_SOURCE
        )
        want = [
            tuple(r)
            for r in curate.dsir_bucket_counts(curate._dsir_gb(survivors))
            .orderBy("b")
            .collect()
        ]
        assert got == want


class TestMrlStore:
    """The persisted MRL prefix store: stage 1 of sim_mrl_probe scans
    the stored prefix table, bit-identical to the in-plan slice."""

    def test_probe_stage1_scans_prefix_store(self, spark, sf_dir, artifact_roots):
        import contextlib
        import io

        from zylyty_data_engineer_challenge_spark.operators import similarity

        df = similarity.sim_mrl_probe(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "mrl_prefix" in plan, f"stage 1 not store-served:\n{plan}"

    def test_stored_prefixes_equal_in_plan_slice(self, spark, sf_dir, artifact_roots):
        from pyspark.sql import functions as F

        from zylyty_data_engineer_challenge_spark.operators import similarity

        base = similarity.build_mrl_store(spark, sf_dir)
        stored = [
            tuple(r)
            for r in spark.read.parquet(f"{base}/mrl_prefix")
            .select("vec_id", "p", "pn")
            .orderBy("vec_id")
            .collect()
        ]
        emb = similarity._quantized(spark, sf_dir)
        inplan = [
            tuple(r)
            for r in emb.filter(F.col("vec_id") >= similarity.N_QUERIES)
            .select(
                "vec_id",
                F.expr(f"slice(q, 1, {similarity.MRL_DIMS})").alias("p"),
                F.expr(
                    f"aggregate(slice(q, 1, {similarity.MRL_DIMS}),"
                    " CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
                ).alias("pn"),
            )
            .orderBy("vec_id")
            .collect()
        ]
        assert stored == inplan

    def test_pruned_probe_prefix_scan_is_dynamically_pruned(
        self, spark, sf_dir, artifact_roots
    ):
        import contextlib
        import io

        from zylyty_data_engineer_challenge_spark.operators import similarity

        df = similarity.sim_mrl_probe_pruned(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "mrl_prefix" in plan, f"stage 1 not store-served:\n{plan}"
        pf = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "cid" in ln
        ]
        assert pf, f"prefix scan lost its cid partition filter:\n{plan}"
        assert any("dynamicpruning" in ln for ln in pf), (
            f"cid filter is not dynamic pruning:\n{pf}"
        )


class TestPackBestfit:
    """FFD packing: the in-band certificate row is consistent and the
    fill beats the arrival-order no-split greedy packer."""

    def test_certificate_row_and_utilization_gain(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from zylyty_data_engineer_challenge_spark.catalog import load_table
        from zylyty_data_engineer_challenge_spark.operators import curate

        rows = curate.curate_pack_bestfit(spark, sf_dir).collect()
        cert = [r for r in rows if r.lang == "*"]
        seqs = [r for r in rows if r.lang != "*"]
        assert len(cert) == 1
        cert = cert[0]
        assert cert.seq_id == len(seqs)
        assert cert.fill_tokens == sum(r.fill_tokens for r in seqs)
        assert cert.n_docs == sum(r.n_docs for r in seqs)
        # every packed doc is accounted for
        docs = (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                "lang",
                F.expr(
                    f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15),"
                    f" 16, 10) AS BIGINT) % {curate.PACK_FFD_BUCKETS}"
                ).alias("bucket"),
                F.size(F.split("text", r"\s+")).alias("n_tokens"),
            )
            .collect()
        )
        assert cert.n_docs == len(docs)
        assert cert.fill_tokens == sum(r.n_tokens for r in docs)
        # the certificate: FFD needs no more sequences than the
        # arrival-order no-split greedy (next-fit in doc_id order) —
        # same total fill, so fewer sequences == higher utilization
        from collections import defaultdict

        scopes = defaultdict(list)
        for r in sorted(docs, key=lambda r: r.doc_id):
            scopes[(r.lang, r.bucket)].append(r.n_tokens)
        naive_bins = 0
        for lens in scopes.values():
            load = None
            for ln in lens:
                if load is None or load + ln > curate.PACK_BUDGET:
                    naive_bins += 1
                    load = ln
                else:
                    load += ln
        assert cert.seq_id <= naive_bins, (cert.seq_id, naive_bins)
        # no sequence under-reports: every multi-doc sequence is within
        # budget, and any over-budget sequence is a single doc that
        # exceeds the budget on its own
        for r in seqs:
            assert r.fill_tokens <= curate.PACK_BUDGET or r.n_docs == 1


class TestPipelineCurateV2:
    """Set-algebra reconciliation: the composed manifest equals the
    intersection of its stage survivor sets, and packing coordinates
    are consistent per (split, lang)."""

    def test_stage_reconciliation_and_packing(self, spark, sf_dir):
        from collections import defaultdict

        from pyspark.sql import functions as F

        from zylyty_data_engineer_challenge_spark.operators import curate, text

        v2 = curate.pipeline_curate_v2(spark, sf_dir).collect()
        v2_ids = {r.doc_id for r in v2}
        policy = {
            r.doc_id
            for r in curate.pipeline_curate_policy(spark, sf_dir).collect()
        }
        contaminated = {
            r.doc_id
            for r in text.text_contamination_excise(spark, sf_dir)
            .filter(F.col("n_removed") > 0)
            .collect()
        }
        kept = {
            r.doc_id for r in curate.curate_dsir_sample(spark, sf_dir).collect()
        }
        want = {
            d
            for d in policy
            if d >= text.CONTAM_EVAL_DOCS and d not in contaminated and d in kept
        }
        assert v2_ids == want
        assert v2_ids, "empty manifest would make the pins vacuous"
        # packing law per (split, lang): doc_id order, running offsets
        groups = defaultdict(list)
        for r in sorted(v2, key=lambda r: r.doc_id):
            groups[(r.split, r.lang)].append(r)
        for rows in groups.values():
            cum = 0
            for r in rows:
                assert r.seq_id == cum // curate.PACK_BUDGET
                assert r.seq_offset == cum % curate.PACK_BUDGET
                cum += r.n_tokens


def test_dsir_compact_single_file_and_equal_rows(spark, sf_dir, artifact_roots):
    """Compaction is a pure layout change: one data file, rows equal to
    the append path's read-time merge."""
    from zylyty_data_engineer_challenge_spark.operators import curate

    merged = [tuple(r) for r in curate.dsir_counts_append(spark, sf_dir).collect()]
    compacted = [
        tuple(r) for r in curate.dsir_counts_compact(spark, sf_dir).collect()
    ]
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        _pair_cache_dir,
    )

    base = _pair_cache_dir(spark, sf_dir, modality="dsir-batch")
    assert compacted == merged
    import glob

    files = glob.glob(f"{base.removeprefix('file:')}/counts_compact/*.parquet")
    assert len(files) == curate.DSIR_COMPACT_FILES, files


def test_dsir_staged_install_reheals_every_crash_point(spark, sf_dir, artifact_roots):
    """The additive store's double-append hazard: a crash between the
    batch installment's parquet commit and its marker must NOT make the
    re-run install the partials twice. Both worst-point states re-heal
    to the same merged counts."""
    import shutil
    from pathlib import Path

    from zylyty_data_engineer_challenge_spark.operators import curate
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        _pair_cache_dir,
    )

    want = [tuple(r) for r in curate.dsir_counts_append(spark, sf_dir).collect()]
    base = Path(_pair_cache_dir(spark, sf_dir, modality="dsir-batch"))

    # crash AFTER the batch rename, BEFORE its marker: data present,
    # marker gone — the re-run must skip the rewrite (no double count)
    (base / "_BATCH_READY").unlink()
    got = [tuple(r) for r in curate.dsir_counts_append(spark, sf_dir).collect()]
    assert got == want

    # crash BEFORE the rename: the batch sits in a dead staging dir, no
    # data dir, no marker — the re-run stages afresh and installs once
    (base / "_BATCH_READY").unlink()
    (base / "_staging-dead").mkdir()
    shutil.move(base / "batch", base / "_staging-dead" / "batch")
    got = [tuple(r) for r in curate.dsir_counts_append(spark, sf_dir).collect()]
    assert got == want
    assert (base / "batch").exists()
    assert (base / "_BATCH_READY").exists()
