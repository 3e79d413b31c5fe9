"""Round-14 operator tests: the persisted contamination eval-window
index (build/probe/append/forget), scale-shaped + tokenizer-faithful
packing, the CJK tokenization fallback, and the r14 store-maintenance
hardening (manifest-keyed compaction, _SUCCESS-verified staged installs,
MRL resume reading the persisted codebook)."""

from __future__ import annotations

import contextlib
import io
import shutil
import sys
from pathlib import Path

from pyspark.sql import Row
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from zylyty_data_engineer_challenge_spark.catalog import build_once  # noqa: E402
from zylyty_data_engineer_challenge_spark.operators import (  # noqa: E402
    curate,
    similarity,
    text,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestContamIndexStore:
    """The persisted eval-window universe: probes serve from it
    hash-unchanged, appends are additive installments (≡ rebuild), and
    a retraction is a negated installment whose net-count algebra keeps
    hashes still contributed by surviving releases."""

    def test_excise_is_store_served_no_eval_recompute(
        self, spark, artifact_roots, sf_dir
    ):
        plan = _plan(text.text_contamination_excise(spark, sf_dir))
        assert "universe" in plan, f"probe not store-served:\n{plan}"
        # the eval-side window recompute would be a doc_id < 20 scan
        assert "LessThan(doc_id,20)" not in plan, plan
        assert plan.count("documents.parquet") == 2, plan

    def test_store_served_excise_equals_in_plan_kernel(
        self, spark, artifact_roots, sf_dir
    ):
        from zylyty_data_engineer_challenge_spark.catalog import load_table

        got = [
            tuple(r)
            for r in text.text_contamination_excise(spark, sf_dir).collect()
        ]
        want = [
            tuple(r)
            for r in text._contamination_excise_kernel(
                load_table(spark, sf_dir, "documents")
            ).collect()
        ]
        assert got == want

    def test_append_equals_rebuild(self, spark, artifact_roots, sf_dir):
        got = [
            tuple(r) for r in text.contam_index_append(spark, sf_dir).collect()
        ]
        want = [
            tuple(r) for r in text.contam_index_build(spark, sf_dir).collect()
        ]
        assert got == want

    def test_forget_drops_only_net_zero_hashes(self, spark, artifact_roots, sf_dir):
        """The surviving universe after retraction == the universe built
        on the surviving eval docs alone (count algebra, not hash
        deletion), and the re-excision it returns == the excision the
        in-plan kernel computes against that surviving set."""
        from zylyty_data_engineer_challenge_spark.catalog import load_table
        from zylyty_data_engineer_challenge_spark.operators.dedup import (
            _span_windows,
        )

        docs = load_table(spark, sf_dir, "documents")
        surviving_pred = (F.col("doc_id") < text.CONTAM_EVAL_DOCS) & (
            F.col("doc_id") % text.CONTAM_RETRACT_MOD != 0
        )
        eval_h = (
            _span_windows(docs.filter(surviving_pred)).select("h").distinct()
        )
        want = [
            tuple(r)
            for r in text._excise_against(
                docs.filter(F.col("doc_id") >= text.CONTAM_EVAL_DOCS), eval_h
            ).collect()
        ]
        got = [
            tuple(r) for r in text.contam_index_forget(spark, sf_dir).collect()
        ]
        assert got == want

    def test_retraction_is_observable(self, spark, artifact_roots, sf_dir):
        """The retracted release must actually change the excision at
        fixture scale — otherwise the forget differential degenerates to
        the plain excise and proves nothing (CONTAM_RETRACT_MOD is
        chosen so the retract set includes contaminating eval docs)."""
        full = [
            tuple(r)
            for r in text.text_contamination_excise(spark, sf_dir).collect()
        ]
        after = [
            tuple(r) for r in text.contam_index_forget(spark, sf_dir).collect()
        ]
        assert full != after

    def test_shared_hash_survives_partial_retraction(self, spark):
        """Unit pin for the count algebra: a window hash contributed by
        BOTH a retracted and a surviving eval doc must stay in the
        universe (plain hash deletion would over-forget it)."""
        passage = " ".join(f"w{i}" for i in range(text.CONTAM_K))
        other = " ".join(f"x{i}" for i in range(text.CONTAM_K))
        docs = spark.createDataFrame(
            [
                # doc 0: retracted (0 % CONTAM_RETRACT_MOD == 0); shares
                # the passage with surviving doc 1; doc 4 retracted too
                # and sole owner of `other`
                Row(doc_id=0, text=passage),
                Row(doc_id=1, text=passage),
                Row(doc_id=text.CONTAM_RETRACT_MOD, text=other),
            ]
        )
        counts = text._eval_window_counts(docs, F.lit(True))
        retracted = text._eval_window_counts(
            docs, F.col("doc_id") % text.CONTAM_RETRACT_MOD == 0
        ).select("h", (-F.col("c")).alias("c"))
        surviving = {
            r["h"]
            for r in counts.unionByName(retracted)
            .groupBy("h")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0)
            .collect()
        }
        from zylyty_data_engineer_challenge_spark.operators.dedup import (
            _span_windows,
        )

        h_passage = _span_windows(
            docs.filter(F.col("doc_id") == 1)
        ).select("h").collect()[0]["h"]
        h_other = _span_windows(
            docs.filter(F.col("doc_id") == text.CONTAM_RETRACT_MOD)
        ).select("h").collect()[0]["h"]
        assert h_passage in surviving  # co-owned: must survive
        assert h_other not in surviving  # sole-owned by retracted: must drop

    def test_compact_single_file_same_universe(self, spark, artifact_roots, sf_dir):
        """contam_index_compact: one parquet data file, and the
        compacted universe is element-equal to the append path's
        read-time merge (pure layout change; same oracle — the
        differential is pinned here since the entry enters the graded
        window in a later round)."""
        import duckdb

        from zylyty_data_engineer_challenge_spark.operators.dedup import (
            _pair_cache_dir,
        )

        got = [
            tuple(r) for r in text.contam_index_compact(spark, sf_dir).collect()
        ]
        via_append = [
            tuple(r) for r in text.contam_index_append(spark, sf_dir).collect()
        ]
        assert got == via_append
        base = _pair_cache_dir(spark, sf_dir, modality="contam-batch")
        files = [
            p
            for p in Path(f"{base}/counts_compact").iterdir()
            if p.name.endswith(".parquet")
        ]
        assert len(files) == text.CONTAM_COMPACT_FILES
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS"
            f" SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = con.execute(text.ORACLE_SQL["contam_index_compact"]).fetchall()
        assert got == [tuple(r) for r in want]

    def test_compact_recompacts_after_late_installment(
        self, spark, artifact_roots, sf_dir
    ):
        from zylyty_data_engineer_challenge_spark.operators.dedup import (
            _pair_cache_dir,
        )

        before = [
            tuple(r) for r in text.contam_index_compact(spark, sf_dir).collect()
        ]
        base = _pair_cache_dir(spark, sf_dir, modality="contam-batch")
        late = spark.createDataFrame([Row(h="f" * 32, c=7)])
        curate._install(spark, late, base, "late")
        after = [
            tuple(r) for r in text.contam_index_compact(spark, sf_dir).collect()
        ]
        assert before != after
        assert ("f" * 32, 7) in set(after)

    def test_v2_gate_is_store_served(self, spark, artifact_roots, sf_dir):
        plan = _plan(curate.pipeline_curate_v2(spark, sf_dir))
        assert "universe" in plan, f"v2 gate not store-served:\n{plan}"
        assert "LessThan(doc_id,20)" not in plan, plan


class TestStagedInstallHardening:
    """catalog.build_once: a live child's completeness is judged by the
    parquet job's _SUCCESS commit file, so a partial directory left by a
    non-atomic (copy+delete) rename is rewritten, never trusted."""

    def _counts(self, spark, rows):
        return spark.createDataFrame(
            [Row(b=b, r=r, tc=tc) for b, r, tc in rows]
        )

    def _install(self, spark, df, base):
        build_once(
            spark, base, "_PART_READY", lambda stage: df.write.parquet(f"{stage}/part")
        )

    def test_partial_dest_without_success_is_rewritten(
        self, spark, tmp_path
    ):
        base = str(tmp_path / "store")
        dest = Path(base) / "part"
        dest.mkdir(parents=True)
        (dest / "stale.parquet").write_bytes(b"partial-copy-debris")
        good = self._counts(spark, [(1, 10, 5), (2, 20, 7)])
        self._install(spark, good, base)
        got = {
            (r["b"], r["r"], r["tc"])
            for r in spark.read.parquet(f"{base}/part").collect()
        }
        assert got == {(1, 10, 5), (2, 20, 7)}
        assert (Path(base) / "_PART_READY").exists()

    def test_complete_dest_without_marker_is_not_rewritten(
        self, spark, tmp_path
    ):
        """Crash between rename and marker: the committed dest (with
        _SUCCESS) must be kept — rewriting would be harmless here but
        re-APPENDING is the corruption the helper exists to prevent, so
        the pin is that the original install survives verbatim."""
        base = str(tmp_path / "store")
        first = self._counts(spark, [(1, 1, 1)])
        self._install(spark, first, base)
        (Path(base) / "_PART_READY").unlink()  # simulate pre-marker crash
        second = self._counts(spark, [(9, 9, 9)])
        self._install(spark, second, base)
        got = [tuple(r) for r in spark.read.parquet(f"{base}/part").collect()]
        assert got == [(1, 1, 1)]


class TestCompactionManifest:
    """dsir_counts_compact r14: the compaction marker is keyed on the
    manifest of installed installments, so an installment landed AFTER
    a compaction triggers a re-compact instead of serving stale
    counts."""

    def test_late_installment_recompacts(self, spark, artifact_roots, sf_dir):
        from zylyty_data_engineer_challenge_spark.operators.dedup import (
            _pair_cache_dir,
        )

        before = [
            tuple(r) for r in curate.dsir_counts_compact(spark, sf_dir).collect()
        ]
        base = _pair_cache_dir(spark, sf_dir, modality="dsir-batch")
        late = spark.createDataFrame(
            [Row(b=b, r=1000, tc=100) for b in range(3)]
        )
        curate._install(spark, late, base, "late")
        after = [
            tuple(r) for r in curate.dsir_counts_compact(spark, sf_dir).collect()
        ]
        assert before != after
        want = {
            (r["b"], r["r"], r["tc"])
            for r in curate._merged_counts(spark, base, "base", "batch", "late")
            .collect()
        }
        assert set(after) == want

    def test_installment_discovery_excludes_compact_output(
        self, spark, artifact_roots, sf_dir
    ):
        from zylyty_data_engineer_challenge_spark.operators.dedup import (
            _pair_cache_dir,
        )

        curate.dsir_counts_compact(spark, sf_dir)
        base = _pair_cache_dir(spark, sf_dir, modality="dsir-batch")
        assert curate._installed_names(spark, base) == ["base", "batch"]


class TestPacking:
    """curate_pack_scaled (in-plan bucket count) and curate_pack_bpe
    (as-trained BPE token budgets)."""

    def test_scaled_conserves_corpus_totals(self, spark, sf_dir):
        """Bucketing changes WHERE documents pack, never what mass is
        packed: the certificate row's corpus totals (token mass, doc
        count) must equal the fixed-K packer's."""
        cert = {
            r["lang"]: (r["fill_tokens"], r["n_docs"])
            for r in curate.curate_pack_scaled(spark, sf_dir)
            .filter(F.col("bucket") == -1)
            .collect()
        }
        cert_fixed = {
            r["lang"]: (r["fill_tokens"], r["n_docs"])
            for r in curate.curate_pack_bestfit(spark, sf_dir)
            .filter(F.col("bucket") == -1)
            .collect()
        }
        assert cert["*"] == cert_fixed["*"]

    def test_scaled_bucket_count_tracks_corpus(self, spark, sf_dir):
        """ceil(n_docs / PACK_SCALE_DOCS) distinct scopes actually
        materialize (hash buckets at 10x the scope size miss none)."""
        from zylyty_data_engineer_challenge_spark.catalog import load_table

        n_docs = load_table(spark, sf_dir, "documents").count()
        import math

        nb = math.ceil(n_docs / curate.PACK_SCALE_DOCS)
        got = (
            curate.curate_pack_scaled(spark, sf_dir)
            .filter(F.col("bucket") >= 0)
            .agg(F.countDistinct("bucket"))
            .collect()[0][0]
        )
        assert got == nb

    def test_bpe_lengths_diverge_from_whitespace(self, spark, sf_dir):
        """The whole point of the BPE packer: whitespace counts are NOT
        the tokenizer's counts, and packing by the wrong one yields a
        different layout under the same budget."""
        from zylyty_data_engineer_challenge_spark.catalog import load_table
        from zylyty_data_engineer_challenge_spark.operators.text import (
            _bpe_doc_symbols,
        )

        docs = load_table(spark, sf_dir, "documents")
        both = (
            docs.select(
                "doc_id",
                F.size(F.split("text", r"\s+")).cast("long").alias("ws"),
            )
            .join(
                _bpe_doc_symbols(spark, sf_dir).select("doc_id", "n_symbols"),
                "doc_id",
            )
        )
        n_diverging = both.filter(F.col("ws") != F.col("n_symbols")).count()
        assert n_diverging > both.count() * 0.9

        def sized(length_col):
            return both.join(
                docs.select("doc_id", "lang"), "doc_id"
            ).select(
                "lang",
                F.expr(
                    f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15),"
                    f" 16, 10) AS BIGINT) % {curate.PACK_FFD_BUCKETS}"
                ).alias("bucket"),
                F.col(length_col).alias("n_tokens"),
                "doc_id",
            )

        by_bpe = [
            tuple(r)
            for r in curate._ffd_pack(
                sized("n_symbols"), budget=curate.PACK_BPE_BUDGET
            ).collect()
        ]
        by_ws = [
            tuple(r)
            for r in curate._ffd_pack(
                sized("ws"), budget=curate.PACK_BPE_BUDGET
            ).collect()
        ]
        assert by_bpe != by_ws  # the budget bills different token masses

    def test_bpe_certificate_matches_apply_totals(self, spark, sf_dir):
        """The packed token mass must equal the tokenizer's total output
        symbol count — packing neither invents nor drops tokens."""
        from zylyty_data_engineer_challenge_spark.operators.text import (
            _bpe_doc_symbols,
        )

        total = (
            _bpe_doc_symbols(spark, sf_dir)
            .agg(F.sum("n_symbols"))
            .collect()[0][0]
        )
        cert = (
            curate.curate_pack_bpe(spark, sf_dir)
            .filter(F.col("bucket") == -1)
            .collect()[0]
        )
        assert cert["fill_tokens"] == total


class TestBpeVocabStore:
    """The persisted trained-BPE vocabulary (r14): application and
    BPE-budget packing serve the vocab from the store — training never
    rides the serve path (the MRL codebook lesson)."""

    def test_stored_vocab_equals_trained(self, spark, artifact_roots, sf_dir):
        base = text.build_bpe_vocab(spark, sf_dir)
        stored = spark.read.parquet(f"{base}/vocab")
        _, trained = text._bpe_trained(spark, sf_dir)
        assert stored.exceptAll(trained).count() == 0
        assert trained.exceptAll(stored).count() == 0

    def test_apply_is_store_served_and_hash_stable(
        self, spark, artifact_roots, sf_dir
    ):
        df = text.text_bpe_apply(spark, sf_dir)
        plan = _plan(df)
        assert "vocab" in plan, f"apply not store-served:\n{plan}"
        # the trainer's per-round merge argmax is a TakeOrdered(1): its
        # absence proves no training in the serve plan
        assert "TakeOrdered" not in plan, plan
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS"
            f" SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = con.execute(text.ORACLE_SQL["text_bpe_apply"]).fetchall()
        got = [tuple(r) for r in df.collect()]
        assert got == [tuple(r) for r in want]

    def test_pack_bpe_plan_has_no_trainer(self, spark, artifact_roots, sf_dir):
        plan = _plan(curate.curate_pack_bpe(spark, sf_dir))
        assert "vocab" in plan, plan
        assert "TakeOrdered" not in plan, plan


class TestCjkFallback:
    """The no-whitespace tokenization fallback: degenerate whitespace
    tokenization (CJK) switches to codepoint bigrams; segmented corpora
    are bit-identical by construction."""

    CJK_LONG = "数据引擎查询计划优化器分区执行统计信息缓存合并排序聚合窗口流水线" * 2  # 64 chars
    CJK_SHORT = "数据引擎查询计划"  # 8 chars -> mean token len 8 <= 16: NOT degenerate
    CJK_MED = "数据引擎查询计划优化器分区执行统计信息缓存"  # 21 chars -> degenerate

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                Row(doc_id=0, text="the quick brown fox jumps over the dog"),
                Row(doc_id=1, text=self.CJK_LONG),
                Row(doc_id=2, text=self.CJK_MED),
                Row(doc_id=3, text=self.CJK_SHORT),
            ]
        )

    def test_fallback_fires_exactly_on_degenerate_docs(self, spark):
        got = {
            r["doc_id"]: (
                r["used_fallback"],
                r["n_tokens_effective"],
                r["n_ws_tokens"],
            )
            for r in text._token_stats_cjk_kernel(self._docs(spark)).collect()
        }
        assert got[0] == (0, 8, 8)  # Latin: ws count passes through
        assert got[1] == (1, 63, 1)  # 64 chars -> 63 bigrams
        assert got[2] == (1, 20, 1)  # 21 chars -> 20 bigrams
        # 8 chars / 1 token = mean 8 <= CJK_MAX_TOK_CHARS: ws path keeps it
        assert got[3] == (0, 1, 1)

    def test_effective_token_array_is_bigrams_when_degenerate(self, spark):
        rows = (
            self._docs(spark)
            .select("doc_id", text._cjk_effective_tokens("text").alias("tk"))
            .collect()
        )
        tk = {r["doc_id"]: r["tk"] for r in rows}
        assert tk[0] == "the quick brown fox jumps over the dog".split()
        assert tk[1][0] == self.CJK_LONG[0:2]
        assert tk[1][-1] == self.CJK_LONG[-2:]
        assert len(tk[1]) == len(self.CJK_LONG) - 1
        # bigrams overlap: consecutive entries share a codepoint
        assert tk[1][0][1] == tk[1][1][0]

    def test_min_tokens_gate_fires_correctly_with_fallback(self, spark):
        """The curation MIN_TOKENS floor over EFFECTIVE tokens: a long
        unsegmented document passes (63 bigrams >= 30) and a medium one
        fails (20 < 30) — while the raw whitespace count (1 token) would
        silently drop BOTH, which is exactly the mis-fire the fallback
        exists to fix."""
        stats = text._token_stats_cjk_kernel(self._docs(spark))
        kept_effective = {
            r["doc_id"]
            for r in stats.filter(
                F.col("n_tokens_effective") >= curate.MIN_TOKENS
            ).collect()
        }
        kept_ws = {
            r["doc_id"]
            for r in stats.filter(
                F.col("n_ws_tokens") >= curate.MIN_TOKENS
            ).collect()
        }
        assert kept_effective == {1}  # long CJK doc correctly kept
        assert kept_ws == set()  # whitespace counting drops everything

    def test_segmented_corpus_is_bit_identical(self, spark, sf_dir):
        from zylyty_data_engineer_challenge_spark.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        stats = text._token_stats_cjk_kernel(docs)
        assert stats.agg(F.sum("used_fallback")).collect()[0][0] == 0
        diverging = stats.filter(
            F.col("n_tokens_effective") != F.col("n_ws_tokens")
        ).count()
        assert diverging == 0

    def test_oracle_equivalence_unregistered(self, spark, sf_dir):
        """text_tokens_cjk enters the graded window in r15 (the r14
        window is saturated — see __spark_entry__), so its oracle is
        differentialed here instead of by the registry gate."""
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS"
            f" SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = con.execute(text.ORACLE_SQL["text_tokens_cjk"]).fetchall()
        got = [tuple(r) for r in text.text_tokens_cjk(spark, sf_dir).collect()]
        assert got == [tuple(r) for r in want]


class TestMrlResumeReadsStoredCodebook:
    """build_mrl_store r14: the resume path (centroids persisted,
    prefixes absent) must assign prefixes with the STORED codebook, not
    a retrain — pinned by perturbing the stored codebook and verifying
    the rebuilt prefixes follow the perturbation."""

    def test_prefix_rebuild_follows_stored_centroids(
        self, spark, sf_dir, artifact_roots
    ):
        base = similarity.build_mrl_store(spark, sf_dir)
        original = {
            (r["vec_id"], r["cid"])
            for r in spark.read.parquet(f"{base}/mrl_prefix")
            .select("vec_id", "cid")
            .collect()
        }
        cents = spark.read.parquet(f"{base}/mrl_centroids")
        # perturb: push centroid 0 far away so assignments change
        moved = cents.select(
            "cid",
            F.when(
                F.col("cid") == 0,
                F.expr("transform(cq, x -> x + 100000)"),
            )
            .otherwise(F.col("cq"))
            .alias("cq"),
        )
        moved_rows = moved.collect()  # materialize BEFORE overwrite
        moved = spark.createDataFrame(moved_rows, schema=moved.schema)
        moved.write.mode("overwrite").parquet(f"{base}/mrl_centroids")
        shutil.rmtree(f"{base}/mrl_prefix")
        Path(f"{base}/_MRL_READY").unlink()
        similarity.build_mrl_store(spark, sf_dir)

        got = {
            (r["vec_id"], r["cid"])
            for r in spark.read.parquet(f"{base}/mrl_prefix")
            .select("vec_id", "cid")
            .collect()
        }
        corpus = similarity._quantized(spark, sf_dir).filter(
            F.col("vec_id") >= similarity.N_QUERIES
        )
        want = {
            (r["vec_id"], r["cid"])
            for r in similarity._l2_nearest_lists(
                spark.createDataFrame(moved_rows, schema=moved.schema),
                corpus.select("vec_id", "q"),
                "vec_id",
                1,
            ).collect()
        }
        assert got == want
        # the perturbation must actually move assignments, or the
        # pin passes vacuously
        assert got != original
