"""Hand-computed + invariant pins for the r10-late operator batch:
text_repetition, text_bpe_train_step, curate_quality_funnel,
curate_mixture_plan, curate_leakage_split, curate_ccnet_buckets,
dedup_canonical_pick.

The oracle differential pins these against DuckDB on the fixture; the
tests here pin hand-computed values on adversarial corpora the fixture
never produces (a genuinely repetitive document, a degenerate two-word
vocabulary) and the cross-row invariants the oracle hash can't express
(funnel monotonicity, exact-budget apportionment, split leakage-safety).
"""

from __future__ import annotations

from zylyty_data_engineer_challenge_spark.operators import curate, graph, text


def _docs_dir(spark, tmp_path, rows, name="sf"):
    sf = tmp_path / name
    sf.mkdir()
    df = spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    return str(sf)


# --- text_repetition --------------------------------------------------------


def test_repetition_hand_computed(spark, tmp_path):
    # doc 1 tokens [x y x y x]: bigrams {x y: 2, y x: 2} -> 4 occurrences,
    # all duplicated, top 2; trigrams {x y x: 2, y x y: 1} -> 3, dup 2, top 2.
    # doc 2 "a b": one unique bigram, no trigram row content (zero row).
    # doc 3 "q": too short for both -> two zero rows.
    sf = _docs_dir(spark, tmp_path, [(1, "x y x y x"), (2, "a b"), (3, "q")])
    got = {
        (r["doc_id"], r["n"]): (r["n_grams"], r["dup_occurrences"], r["top_count"])
        for r in text.text_repetition(spark, sf).collect()
    }
    assert got == {
        (1, 2): (4, 4, 2),
        (1, 3): (3, 2, 2),
        (2, 2): (1, 0, 1),
        (2, 3): (0, 0, 0),
        (3, 2): (0, 0, 0),
        (3, 3): (0, 0, 0),
    }


# --- text_bpe_train_step ----------------------------------------------------


def test_bpe_train_step_hand_computed(spark, tmp_path):
    # words: ab (freq 2), abc (freq 1)  ->  pair "ab": 2 + 1 = 3, "bc": 1
    sf = _docs_dir(spark, tmp_path, [(1, "ab ab abc")])
    rows = text.text_bpe_train_step(spark, sf).collect()
    got = [(r["merge_rank"], r["pair"], r["cnt"]) for r in rows]
    assert got == [(1, "ab", 3), (2, "bc", 1)]


def test_bpe_train_step_tie_break_is_lexicographic(spark, tmp_path):
    # "ba" and "ab" both count 1 -> rank by pair asc at equal count
    sf = _docs_dir(spark, tmp_path, [(1, "ba ab")])
    got = [(r["merge_rank"], r["pair"]) for r in
           text.text_bpe_train_step(spark, sf).collect()]
    assert got == [(1, "ab"), (2, "ba")]


# --- curate_quality_funnel --------------------------------------------------


def test_funnel_each_gate_kills_its_target(spark, tmp_path):
    passing = " ".join("the" if i % 5 == 0 else f"w{i}" for i in range(40))
    repetitive = "the cat " * 40  # top bigram 'the cat' >> 20% of bigrams
    short = "tiny text"  # < FUNNEL_MIN_CHARS
    few_long = " ".join(f"verylongword{i}" for i in range(10))  # chars ok, tokens < 30
    no_stop = " ".join(f"q{i}" for i in range(40))  # no stopwords
    assert len(passing) >= curate.FUNNEL_MIN_CHARS
    assert len(few_long) >= curate.FUNNEL_MIN_CHARS
    assert len(no_stop) >= curate.FUNNEL_MIN_CHARS
    sf = _docs_dir(
        spark,
        tmp_path,
        [(1, passing), (2, repetitive), (3, short), (4, few_long), (5, no_stop)],
    )
    rows = curate.curate_quality_funnel(spark, sf).collect()
    got = {r["stage"]: (r["survivors"], r["dropped"]) for r in rows}
    assert got == {
        "input": (5, 0),
        "min_chars": (4, 1),
        "min_tokens": (3, 1),
        "stopword_ratio": (2, 1),
        "repetition_cap": (1, 1),
    }
    # monotone survivors; dropped reconciles stage to stage
    ordered = sorted(rows, key=lambda r: r["stage_idx"])
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur["survivors"] + cur["dropped"] == prev["survivors"]


# --- curate_mixture_plan ----------------------------------------------------


def test_mixture_plan_apportions_budget_exactly(spark, sf_dir):
    rows = curate.curate_mixture_plan(spark, sf_dir).collect()
    assert sum(r["quota"] for r in rows) == curate.MIXTURE_TOTAL
    tot_w = sum(r["w"] for r in rows)
    deficit = curate.MIXTURE_TOTAL - sum(
        (curate.MIXTURE_TOTAL * r["w"]) // tot_w for r in rows
    )
    # pure-python largest-remainder recompute
    ranked = sorted(
        rows,
        key=lambda r: (-((curate.MIXTURE_TOTAL * r["w"]) % tot_w), r["source"]),
    )
    want_extra = {r["source"] for r in ranked[:deficit]}
    for r in rows:
        assert r["base_quota"] == (curate.MIXTURE_TOTAL * r["w"]) // tot_w
        assert r["extra"] == (1 if r["source"] in want_extra else 0)
        assert r["quota"] == r["base_quota"] + r["extra"]


# --- curate_leakage_split / dedup_canonical_pick ----------------------------


def test_leakage_split_never_splits_a_component(spark, sf_dir):
    rows = curate.curate_leakage_split(spark, sf_dir).collect()
    by_comp: dict[int, set[str]] = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["split"])
        assert r["split"] in ("train", "val", "test")
    assert all(len(s) == 1 for s in by_comp.values())
    # and at least one component is a genuine multi-doc cluster, so the
    # guarantee is exercised, not vacuous
    from collections import Counter

    sizes = Counter(r["component"] for r in rows)
    assert max(sizes.values()) >= 2


def test_canonical_pick_is_quality_argmax_per_component(spark, sf_dir):
    rows = graph.dedup_canonical_pick(spark, sf_dir).collect()
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        want = min(members, key=lambda r: (-r["n_chars"], r["doc_id"]))["doc_id"]
        canon = [r for r in members if r["is_canonical"] == 1]
        assert len(canon) == 1 and canon[0]["doc_id"] == want
        assert all(r["canonical_doc_id"] == want for r in members)


# --- curate_ccnet_buckets ---------------------------------------------------


def test_ccnet_buckets_are_balanced_tertiles_of_the_fluency_order(spark, sf_dir):
    rows = curate.curate_ccnet_buckets(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, members in by_lang.items():
        # pure-python NTILE recompute over the same total order
        members = sorted(members, key=lambda r: (-r["mean_pq"], r["doc_id"]))
        n, k = len(members), curate.CCNET_BUCKETS
        sizes = [n // k + (1 if i < n % k else 0) for i in range(k)]
        want = [i + 1 for i, s in enumerate(sizes) for _ in range(s)]
        got = [r["bucket_idx"] for r in members]
        assert got == want, lang
        names = {1: "head", 2: "middle", 3: "tail"}
        assert all(r["bucket"] == names[r["bucket_idx"]] for r in members)


# --- text_bpe_train ---------------------------------------------------------


def test_bpe_train_applies_each_merge_before_the_next_count(spark, tmp_path):
    # words: aaab (freq 2), ab (freq 1)
    # round 1: (a,a) = 2x2 = 4 beats (a,b) = 2+1 = 3    -> aaab = 'aa a b'
    # round 2: (a,b) = 2+1 = 3 beats (aa,a) = 2         -> 'aa ab' / 'ab'
    # round 3: (aa,ab) = 2
    sf = _docs_dir(spark, tmp_path, [(1, "aaab aaab ab")])
    got = [
        (r["merge_round"], r["p1"], r["p2"], r["cnt"])
        for r in text.text_bpe_train(spark, sf).collect()
    ]
    assert got == [(1, "a", "a", 4), (2, "a", "b", 3), (3, "aa", "ab", 2)]


# --- stream_quality_funnel ---------------------------------------------------


def test_stream_funnel_equals_batch_across_multiple_micro_batches(spark, tmp_path):
    # 3 flat parquet files + maxFilesPerTrigger=1 -> 3 genuine
    # micro-batches; the additive counter state must reproduce the batch
    # report exactly regardless of the split
    import shutil

    from zylyty_data_engineer_challenge_spark.schemas import DOCUMENTS
    from zylyty_data_engineer_challenge_spark.streaming.curate_stream import (
        quality_funnel_stream,
    )

    docs = [(i, ("the doc %d " % i) * (5 + i % 7)) for i in range(60)]
    sf = _docs_dir(spark, tmp_path, docs)
    feed = tmp_path / "feed"
    df = spark.read.parquet(f"{sf}/documents.parquet")
    for i in range(3):
        staging = tmp_path / "staging" / f"chunk_{i}"
        df.filter(df.doc_id % 3 == i).coalesce(1).write.mode("overwrite").parquet(
            str(staging)
        )
        [part] = staging.glob("part-*.parquet")
        feed.mkdir(parents=True, exist_ok=True)
        shutil.copy(part, feed / f"chunk_{i}.parquet")
    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    streamed = quality_funnel_stream(spark, stream).collect()
    batch = curate.curate_quality_funnel(spark, sf).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert streamed[0]["survivors"] == 60


# --- q_snapshot_expire -------------------------------------------------------


def test_snapshot_expire_physically_removes_and_is_idempotent(spark, sf_dir):
    from zylyty_data_engineer_challenge_spark.catalog import hadoop_fs
    from zylyty_data_engineer_challenge_spark.operators.dedup import _pair_cache_dir
    from zylyty_data_engineer_challenge_spark.queries import warehouse

    first = warehouse.q_snapshot_expire(spark, sf_dir).collect()
    base = _pair_cache_dir(spark, sf_dir, modality="snapshots", src="events.parquet")
    # the expired version's partition directory is physically gone,
    # the retained ones physically present
    fs, v1 = hadoop_fs(spark, f"{base}/state/version=v1")
    assert not fs.exists(v1)
    for v in ("v2", "v3"):
        _, p = hadoop_fs(spark, f"{base}/state/version={v}")
        assert fs.exists(p)
    # marker-idempotent: identical rows on re-run
    again = warehouse.q_snapshot_expire(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in first]
    # retained reads are bit-unchanged by the vacuum: match the pure
    # recompute (q_time_travel) on the retained versions
    tt = {
        r["version"]: tuple(r)
        for r in warehouse.q_time_travel(spark, sf_dir).collect()
    }
    assert [tuple(r) for r in first] == [tt["v2"], tt["v3"]]


# --- dedup_cluster_stats / pipeline_curate_policy ----------------------------


def test_cluster_stats_reconcile_with_labels(spark, sf_dir):
    from collections import Counter

    rows = graph.dedup_cluster_stats(spark, sf_dir).collect()
    labels = graph.dedup_cc(spark, sf_dir).collect()
    want = Counter(Counter(r["component"] for r in labels).values())
    assert {r["cluster_size"]: r["n_clusters"] for r in rows} == dict(want)
    # in-band reconciliation: sum(n_docs) == corpus, sum(n_clusters) == kept
    assert sum(r["n_docs"] for r in rows) == len(labels)
    assert sum(r["n_clusters"] for r in rows) == sum(
        r["is_representative"] for r in labels
    )


def test_policy_pipeline_composes_its_parts(spark, sf_dir):
    rows = curate.pipeline_curate_policy(spark, sf_dir).collect()
    got = {r["doc_id"]: r["split"] for r in rows}
    canon = {
        r["doc_id"]
        for r in graph.dedup_canonical_pick(spark, sf_dir).collect()
        if r["is_canonical"] == 1
    }
    split = {
        r["doc_id"]: r["split"]
        for r in curate.curate_leakage_split(spark, sf_dir).collect()
    }
    funnel = curate.curate_quality_funnel(spark, sf_dir).collect()
    survivors_all_gates = [r for r in funnel if r["stage"] == "repetition_cap"][0][
        "survivors"
    ]
    assert set(got) <= canon
    assert all(got[d] == split[d] for d in got)
    # every survivor passed all gates; the funnel's final stage bounds it
    assert len(got) <= survivors_all_gates


def test_source_overlap_reconciles_with_the_pair_cache(spark, sf_dir):
    from collections import Counter

    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        minhash_pairs_cached,
    )

    rows = graph.dedup_source_overlap(spark, sf_dir).collect()
    src = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, sf_dir, "documents").select(
            "doc_id", "source"
        ).collect()
    }
    pairs = minhash_pairs_cached(spark, sf_dir).select("d1", "d2").collect()
    want = Counter(
        tuple(sorted((src[p["d1"]], src[p["d2"]]))) for p in pairs
    )
    assert {(r["source_a"], r["source_b"]): r["n_pairs"] for r in rows} == dict(want)
    assert sum(r["n_pairs"] for r in rows) == len(pairs)


def test_bpe_apply_uses_the_trained_vocab(spark, tmp_path):
    # trained merges on this corpus: (a,a), (a,b), (aa,ab) — see the
    # trainer test; final vocab: aaab -> 'aaab' (1 sym after round 3's
    # (aa,ab) merge), ab -> 'ab' (1 sym)
    sf = _docs_dir(spark, tmp_path, [(1, "aaab aaab ab"), (2, "zz 42!")])
    got = {
        r["doc_id"]: (r["n_words"], r["n_symbols_initial"], r["n_symbols"])
        for r in text.text_bpe_apply(spark, sf).collect()
    }
    # doc 1: 3 eligible words, 4+4+2 = 10 chars, aaab=1 sym x2 + ab=1 sym
    # doc 2: 'zz' eligible (2 chars, never merged -> 2 syms), '42!' not
    assert got == {1: (3, 10, 3), 2: (1, 2, 2)}


# --- sim_ann_param_sweep -----------------------------------------------------


def test_param_sweep_is_monotone_and_matches_the_deployed_point(spark, sf_dir):
    from zylyty_data_engineer_challenge_spark.operators import similarity

    rows = sorted(
        similarity.sim_ann_param_sweep(spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == list(similarity.SWEEP_NPROBES)
    # more probed lists can only add candidates — but NOT necessarily
    # hits: PQ-approximate scores let a widened candidate set displace a
    # true neighbor from the top-k (the documented non-monotonicity that
    # motivates the rerank stage), so only the cost axis is monotone
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_candidates"] >= prev["n_candidates"]
    # the sweep point at the deployed NPROBE must agree with the standing
    # ivfpq recall gate (same index, same queries, same ground truth)
    deployed = [r for r in rows if r["nprobe"] == similarity.NPROBE][0]
    gate = similarity.sim_ann_ivfpq_recall(spark, sf_dir).collect()
    want_hits = sum(r["hits"] for r in gate)
    assert deployed["hits"] == want_hits


# --- text_lm_forget ----------------------------------------------------------


def test_lm_forget_cancels_exactly_and_is_idempotent(spark, sf_dir):
    from pyspark.sql import functions as F

    from zylyty_data_engineer_challenge_spark.operators.dedup import _pair_cache_dir

    first = text.text_lm_forget(spark, sf_dir).collect()
    again = text.text_lm_forget(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in first]
    # the merged store nets to the surviving corpus's counts exactly:
    # no bigram unique to the revoked source survives the merge, and no
    # surviving bigram lost mass
    base = _pair_cache_dir(spark, sf_dir, modality="lm-forget-inst")
    merged = {
        (r["w1"], r["w2"]): r["net"]
        for r in spark.read.parquet(f"{base}/c12", f"{base}/c12_revoked")
        .groupBy("w1", "w2")
        .agg(F.sum("c12").alias("net"))
        .filter(F.col("net") > 0)
        .collect()
    }
    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.text import (
        FORGET_SOURCE,
        _lm_bigrams,
    )

    survivors = load_table(spark, sf_dir, "documents").filter(
        F.col("source") != FORGET_SOURCE
    )
    want = {
        (r["w1"], r["w2"]): r["c"]
        for r in _lm_bigrams(survivors)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert merged == want


def test_pairs_forget_physically_purges_and_is_idempotent(spark, sf_dir):
    from pyspark.sql import functions as F

    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators import dedup
    from zylyty_data_engineer_challenge_spark.operators.dedup import _pair_cache_dir
    from zylyty_data_engineer_challenge_spark.operators.text import FORGET_SOURCE

    first = dedup.dedup_pairs_forget(spark, sf_dir).collect()
    again = dedup.dedup_pairs_forget(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in first]
    revoked = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == FORGET_SOURCE)
        .select("doc_id")
        .collect()
    }
    assert revoked  # the guarantee must be exercised, not vacuous
    base = _pair_cache_dir(spark, sf_dir, modality="pairs-forget")
    # no revoked doc_id physically survives in either store file
    band_docs = {
        r["doc_id"] for r in spark.read.parquet(f"{base}/bands").collect()
    }
    assert not band_docs & revoked
    pair_docs = {
        d
        for r in spark.read.parquet(f"{base}/pairs").collect()
        for d in (r["d1"], r["d2"])
    }
    assert not pair_docs & revoked
