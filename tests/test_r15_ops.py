"""Round-15: the CJK effective-token kernel wired into the production
consumers (VERDICT r14 item 2).

Three consumer families swap ``text._cjk_effective_tokens`` in for raw
``split('\\s+')``: the quality-funnel token gates (batch op, the shared
``_funnel_signals`` used by pipeline_curate_policy / pipeline_curate_v2,
and the row-local streaming kernel), the BM25 tokenizer (in-plan
``text_bm25`` and the persisted index's ``lexical._tokenize``), and the
MinHash shingle/token kernels (``dedup._shingles`` / ``dedup._tokens``).

Two laws, each pinned here:
* segmented corpora are BIT-IDENTICAL — the fallback predicate is false
  on every document whose mean whitespace-token length is plausible, so
  every rewired op's fixture hash is unchanged (the sf0.001 differential
  below plus the full oracle gate);
* planted unsegmented (CJK) documents now flow through every gate the
  r14 VERDICT named as silently mis-firing: the funnel's MIN_TOKENS gate
  counts bigrams instead of ONE giant token, BM25 doc lengths/terms are
  bigrams, and shingle dedup produces a real shingle set (previously
  EMPTY: one token < shingle width).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from zylyty_data_engineer_challenge_spark.catalog import build_once  # noqa: E402
from zylyty_data_engineer_challenge_spark.operators import (  # noqa: E402
    curate,
    dedup,
    lexical,
    text,
)

# long unsegmented doc: 34 distinct CJK chars x4 = 136 chars, well past
# FUNNEL_MIN_CHARS=100 and 135 bigrams >= MIN_TOKENS=30
CJK_BASE = "数据引擎查询计划优化器分区执行统计信息缓存合并排序聚合窗口流水线内存溢出压缩编码"
CJK_LONG = CJK_BASE * 4
# a near-duplicate: one codepoint changed mid-document
CJK_NEAR = CJK_LONG[:60] + "改" + CJK_LONG[61:]
# short CJK: degenerate but only 20 bigrams < MIN_TOKENS
CJK_MED = "数据引擎查询计划优化器分区执行统计信息缓存"
LATIN = (
    "the quick brown fox jumps over the lazy dog and the cat sat on the mat "
    "while a small bird sang in the tall green tree by the old stone wall "
    "as the sun set over the quiet hills in the late warm summer evening"
)


def _docs(spark):
    rows = [
        Row(doc_id=0, lang="en", text=LATIN, n_chars=len(LATIN)),
        Row(doc_id=1, lang="zh", text=CJK_LONG, n_chars=len(CJK_LONG)),
        Row(doc_id=2, lang="zh", text=CJK_NEAR, n_chars=len(CJK_NEAR)),
        Row(doc_id=3, lang="zh", text=CJK_MED, n_chars=len(CJK_MED)),
    ]
    return spark.createDataFrame(rows)


class TestFunnelGatesFireCorrectlyOnCjk:
    def test_funnel_signals_use_effective_tokens(self, spark):
        sig = {
            r["doc_id"]: r
            for r in curate._funnel_signals(_docs(spark)).collect()
        }
        assert sig[0]["fb"] is False
        assert sig[0]["n_tokens"] == len(LATIN.split())
        assert sig[1]["fb"] is True
        assert sig[1]["n_tokens"] == len(CJK_LONG) - 1  # bigram count
        assert sig[3]["fb"] is True
        assert sig[3]["n_tokens"] == len(CJK_MED) - 1

    def test_long_cjk_doc_passes_the_funnel_now(self, spark):
        kept = {
            r["doc_id"]
            for r in curate._funnel_pass_filter(
                curate._funnel_signals(_docs(spark))
            ).collect()
        }
        # doc 1 and its near-dup pass every gate: >=100 chars, 135
        # effective tokens >= 30, stopword gate passed-through (fb),
        # top char-bigram 8/135 < 20%. doc 3 still fails MIN_TOKENS
        # (20 < 30); the Latin doc passes on the whitespace path.
        assert kept == {0, 1, 2}

    def test_whitespace_semantics_would_have_dropped_cjk(self, spark):
        # the r14 mis-fire this wiring fixes: raw whitespace counting
        # sees ONE token, so MIN_TOKENS kills every unsegmented doc
        raw = _docs(spark).select(
            "doc_id", F.size(F.split("text", r"\s+")).alias("n_ws")
        )
        assert {
            r["doc_id"]
            for r in raw.filter(F.col("n_ws") >= curate.MIN_TOKENS).collect()
        } == {0}

    def test_row_local_kernel_matches_batch_gates(self, spark):
        """Stream == batch hash-equality law, extended to the fallback
        branch: the row-local flags aggregate to the same survivor
        counts as the batch signals on a planted-CJK corpus."""
        flags = curate.funnel_flags_row_local(_docs(spark))
        stream_row = curate.funnel_survivor_agg(flags).collect()[0]
        sig = curate._funnel_signals(_docs(spark))
        batch_flags = sig.select(
            (F.col("n_chars") >= curate.FUNNEL_MIN_CHARS).alias("g1"),
            (F.col("n_tokens") >= curate.MIN_TOKENS).alias("g2"),
            (F.col("fb") | (F.col("n_stop") * 20 >= F.col("n_tokens"))).alias(
                "g3"
            ),
            (
                F.coalesce("top2", F.lit(0)) * 5 < F.coalesce("n2", F.lit(0))
            ).alias("g4"),
        ).select(
            "g1",
            (F.col("g1") & F.col("g2")).alias("c2"),
            (F.col("g1") & F.col("g2") & F.col("g3")).alias("c3"),
            (F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")).alias(
                "c4"
            ),
        )
        batch_row = curate.funnel_survivor_agg(batch_flags).collect()[0]
        assert tuple(stream_row) == tuple(batch_row)

    def test_fixture_corpus_gate_inputs_bit_identical(self, spark, sf_dir):
        """The by-construction claim, pinned empirically: on the
        segmented fixture corpus the effective-token gate inputs equal
        the raw whitespace ones for EVERY document (so every funnel /
        pipeline hash is unchanged by the r15 wiring)."""
        from zylyty_data_engineer_challenge_spark.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        sig = curate._funnel_signals(docs).select("doc_id", "fb", "n_tokens")
        raw = docs.select(
            "doc_id", F.size(F.split("text", r"\s+")).alias("n_ws")
        )
        joined = sig.join(raw, "doc_id")
        assert joined.filter(F.col("fb")).count() == 0
        assert joined.filter(F.col("n_tokens") != F.col("n_ws")).count() == 0


class TestBm25EffectiveTokens:
    def test_doc_length_is_bigram_count_for_cjk(self, spark):
        _, dls, _ = lexical._index_tables(_docs(spark))
        got = {r["doc_id"]: r["dl"] for r in dls.collect()}
        assert got[0] == len(LATIN.split())
        assert got[1] == len(CJK_LONG) - 1
        assert got[3] == len(CJK_MED) - 1

    def test_postings_terms_are_bigrams_for_cjk(self, spark):
        postings, _, _ = lexical._index_tables(_docs(spark))
        terms = {
            r["term"]
            for r in postings.filter(F.col("doc_id") == 1).collect()
        }
        assert all(len(t) == 2 for t in terms)
        assert CJK_LONG[0:2] in terms
        # tf of a repeated bigram: base repeated 4x -> the seam bigrams
        tf = {
            r["term"]: r["tf"]
            for r in postings.filter(F.col("doc_id") == 1).collect()
        }
        assert tf[CJK_BASE[0:2]] == 4

    def test_index_tokenizer_equals_inplan_tokenizer(self, spark):
        """bit-equality contract between bm25_index_* and text_bm25:
        both paths tokenize through the same kernel — multiset equality
        on the planted corpus (the fallback branch included)."""
        via_index = (
            lexical._tokenize(_docs(spark))
            .groupBy("doc_id", "term")
            .count()
        )
        via_inplan = (
            _docs(spark)
            .select(
                "doc_id",
                F.explode(text._cjk_effective_tokens("text")).alias("term"),
            )
            .groupBy("doc_id", "term")
            .count()
        )
        assert via_index.exceptAll(via_inplan).count() == 0
        assert via_inplan.exceptAll(via_index).count() == 0


class TestShinglesEffectiveTokens:
    def test_cjk_doc_now_has_shingles(self, spark):
        """Previously an unsegmented doc was ONE whitespace token —
        below the 3-token shingle width, so its shingle set was EMPTY
        and MinHash dedup could never pair it with anything."""
        sh = dedup._shingles(_docs(spark))
        per_doc = {
            r["doc_id"]: r["n"]
            for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        }
        assert per_doc.get(1, 0) > 0
        assert per_doc.get(3, 0) > 0
        # and the raw-whitespace form really would have been empty
        raw = _docs(spark).select(
            "doc_id", F.split("text", r"\s+").alias("t")
        ).filter(F.size("t") >= 3)
        assert raw.filter(F.col("doc_id").isin(1, 2, 3)).count() == 0

    def test_near_dup_cjk_docs_share_most_shingles(self, spark):
        sh = dedup._shingles(_docs(spark))
        a = {r["s"] for r in sh.filter(F.col("doc_id") == 1).collect()}
        b = {r["s"] for r in sh.filter(F.col("doc_id") == 2).collect()}
        jac = len(a & b) / len(a | b)
        assert jac > 0.5, jac  # one changed codepoint -> high overlap

    def test_distinct_tokens_are_bigrams_for_cjk(self, spark):
        toks = dedup._tokens(_docs(spark))
        ws = {r["w"] for r in toks.filter(F.col("doc_id") == 1).collect()}
        assert all(len(w) == 2 for w in ws)
        # distinct bigrams of base*4: the 33 in-base bigrams + the seam
        assert len(ws) == len(set(
            CJK_LONG[i : i + 2] for i in range(len(CJK_LONG) - 1)
        ))


class TestCountKernelTwin:
    def test_count_twin_equals_array_size(self, spark):
        df = _docs(spark).select(
            "doc_id",
            text._cjk_effective_token_count("text").alias("c"),
            F.size(text._cjk_effective_tokens("text")).cast("bigint").alias(
                "s"
            ),
            text._cjk_degenerate("text").alias("fb"),
        )
        rows = {r["doc_id"]: r for r in df.collect()}
        for d, r in rows.items():
            assert r["c"] == r["s"], (d, r)
        assert rows[1]["fb"] and not rows[0]["fb"]


class TestContamBroadcastGuard:
    """r15 (VERDICT r14 item 5): the eval-universe broadcast — the one
    previously unguarded broadcast among the persisted stores — is
    size-guarded: under CONTAM_BROADCAST_MAX_BYTES the probe plan hints
    broadcast; past it the SAME probe degrades to a shuffled hash join
    (spill path), result-identical."""

    def test_normal_universe_is_hinted(self, spark, sf_dir):
        uni = text._contam_universe_stored(spark, sf_dir)
        logical = uni._jdf.queryExecution().logical().toString()
        assert "ResolvedHint" in logical or "UnresolvedHint" in logical

    def test_oversized_universe_drops_the_hint(self, spark, sf_dir, monkeypatch):
        monkeypatch.setattr(text, "CONTAM_BROADCAST_MAX_BYTES", 0)
        uni = text._contam_universe_stored(spark, sf_dir)
        logical = uni._jdf.queryExecution().logical().toString()
        assert "Hint" not in logical

    def test_spill_path_is_result_identical(self, spark, sf_dir, monkeypatch):
        want = [tuple(r) for r in text.text_contamination_excise(spark, sf_dir).collect()]
        monkeypatch.setattr(text, "CONTAM_BROADCAST_MAX_BYTES", 0)
        got = [tuple(r) for r in text.text_contamination_excise(spark, sf_dir).collect()]
        assert got == want

    def test_guard_reads_real_store_size(self, spark, sf_dir):
        base = text.build_contam_index(spark, sf_dir)
        assert text._universe_fits_broadcast(spark, f"{base}/universe")
        # absent path counts as fitting (fresh store contract), no crash
        assert text._universe_fits_broadcast(spark, f"{base}/__nope__")


class TestStagedInstallMarkerConfGuard:
    """catalog.build_once's completeness witness is the committer's
    _SUCCESS file — with success markers disabled the check silently
    degrades, so a build asserts the conf instead."""

    def test_disabled_markers_raise(self, spark, tmp_path):
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
        prev = hconf.get(key, "true")
        hconf.set(key, "false")
        try:
            with pytest.raises(RuntimeError, match="marksuccessfuljobs"):
                build_once(
                    spark,
                    str(tmp_path / "store"),
                    "_BASE_READY",
                    lambda stage: _docs(spark)
                    .select("doc_id")
                    .write.parquet(f"{stage}/base"),
                )
        finally:
            hconf.set(key, prev)

    def test_default_markers_install_fine(self, spark, tmp_path):
        build_once(
            spark,
            str(tmp_path / "store2"),
            "_BASE_READY",
            lambda stage: _docs(spark).select("doc_id").write.parquet(f"{stage}/base"),
        )
        got = spark.read.parquet(str(tmp_path / "store2" / "base")).count()
        assert got == 4


class TestStagedKernelEquivalence:
    """The staged projection (_with_effective_tokens) and the
    expression-form kernels must be semantically identical — the staged
    form exists purely so split/strip evaluate once per row."""

    def test_staged_equals_expression_kernels(self, spark):
        staged = {
            r["doc_id"]: (list(r["tk"]), r["fb"])
            for r in text._with_effective_tokens(_docs(spark), "doc_id").collect()
        }
        expr = {
            r["doc_id"]: (list(r["tk"]), r["fb"])
            for r in _docs(spark)
            .select(
                "doc_id",
                text._cjk_effective_tokens("text").alias("tk"),
                text._cjk_degenerate("text").alias("fb"),
            )
            .collect()
        }
        assert staged == expr

    def test_staged_on_empty_and_whitespace_only_text(self, spark):
        from pyspark.sql import Row as R

        df = spark.createDataFrame(
            [R(doc_id=0, text=""), R(doc_id=1, text="   "), R(doc_id=2, text="a")]
        )
        rows = {
            r["doc_id"]: (list(r["tk"]), r["fb"])
            for r in text._with_effective_tokens(df, "doc_id").collect()
        }
        assert rows[0] == ([], False)
        assert rows[1] == ([], False)
        assert rows[2] == (["a"], False)
