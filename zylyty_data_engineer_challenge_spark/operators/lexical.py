"""Persisted LEXICAL (BM25) index — the inverted-file lifecycle for the
text-retrieval side, mirroring the ANN index's build / probe / append /
forget contract (``similarity.py``'s ``build_ann_index`` family).

:func:`..text.text_bm25` is the index-free form: tf extraction, corpus
stats, and scoring all run in one plan per query — the right shape for an
acceptance gate, the wrong one for serving (a 100 TB corpus cannot be
re-tokenized per query). This module persists the three artifacts a real
lexical index ships:

* ``postings/`` — (term, doc_id, tf) for EVERY term, written
  ``partitionBy(tb)`` where ``tb = pmod(xxhash64(term), BM25_BUCKETS)``:
  a probe computes its query terms' bucket ids and reads ONLY those
  directories — partition pruning does the inverted-file seek, exactly
  the cid-partition trick the ANN code tree uses (hashing to a fixed
  bucket count keeps the directory fan-out bounded at any vocabulary
  size; raw-term partitioning would mint one directory per vocab word);
* ``doclens/`` — (doc_id, dl), the length-normalization side;
* ``stats/`` — (n_docs, total_tokens) rows, SUM-merged at read time so
  incremental appends stay additive (the LM model-store law).

Everything stored is integer counts, so a parquet round-trip reproduces
the in-plan computation bit-for-bit — the probe shares
:func:`..text.text_bm25`'s ORACLE verbatim (one oracle, two execution
paths), and :func:`..text._bm25_rank` is the single scoring expression
tree both paths compile.

Reference parity note: the reference repo has no retrieval at all (its
query layer is three SQL views, SURVEY.md §2.10); this module is part of
the [EXTENDED] LLM-pipeline surface mandated by the BASELINE north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .text import BM25_TERMS, ORACLE_SQL as TEXT_ORACLE_SQL, _bm25_rank

BM25_BUCKETS = 16  # term-hash partition count of the postings store
LEXICAL_INDEX_VERSION = 1

ORACLE_SQL: dict[str, str] = {}

# --- pure-python XXH64 (Spark's xxhash64, seed 42) --------------------------
# The probe needs its query terms' bucket ids at PLANNING time; computing
# them with a 3-row Spark job would be a driver-side collect in an
# operator module (banned by tests/test_plans.py's no-collect audit) and
# a pointless job per probe. XXH64 is a fixed public algorithm; this
# implementation is pinned bit-equal to Spark's xxhash64 by
# tests/test_lexical_index.py on the query terms and a fuzz sample.

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 over ``data`` — returns Spark's SIGNED xxhash64 value."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            lanes = [
                int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                for j in range(4)
            ]
            v1 = (_rotl((v1 + lanes[0] * _XP2) & _M64, 31) * _XP1) & _M64
            v2 = (_rotl((v2 + lanes[1] * _XP2) & _M64, 31) * _XP1) & _M64
            v3 = (_rotl((v3 + lanes[2] * _XP2) & _M64, 31) * _XP1) & _M64
            v4 = (_rotl((v4 + lanes[3] * _XP2) & _M64, 31) * _XP1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _XP2) & _M64, 31) * _XP1) & _M64
            h = ((h * _XP1) + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * _XP2) & _M64, 31) * _XP1) & _M64
        h = ((_rotl(h ^ k, 27) * _XP1) + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ ((k * _XP1) & _M64), 23) * _XP2) + _XP3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _XP5) & _M64), 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _term_buckets(terms=BM25_TERMS) -> list[int]:
    """The query terms' tb partition ids, computed driver-side with zero
    Spark jobs — same value as pmod(xxhash64(term), BM25_BUCKETS)
    (Python % on a positive modulus IS pmod)."""
    return sorted({_xxh64(t.encode("utf-8")) % BM25_BUCKETS for t in terms})


def _lex_dir(spark: SparkSession, sf_dir: str, tag: str = "bm25") -> str:
    """Durable index location — identity-keyed under the shared pair-cache
    root (the artifact-root conventions of ``_pair_cache_dir``): unchanged
    documents reuse the build, regenerated data re-indexes."""
    from .dedup import _pair_cache_dir

    return _pair_cache_dir(spark, sf_dir, modality=f"{tag}-v{LEXICAL_INDEX_VERSION}")


def _tokenize(docs: DataFrame) -> DataFrame:
    """(doc_id, term) in EFFECTIVE tokens — byte-identical to
    text_bm25's tokenizer (same kernel). r15: both now tokenize via
    ``text._cjk_effective_tokens`` (codepoint-bigram fallback when
    whitespace tokenization is degenerate, i.e. unsegmented/CJK text),
    so index doc lengths and postings terms stop treating a CJK
    document as ONE giant token. On segmented documents the kernel's
    else-branch is exactly the previous filter(split(text,'\\s+'),
    x<>'') — postings/doclens/stats are bit-identical by construction
    (planted-CJK differentials in tests/test_r15_ops.py)."""
    from .text import _cjk_effective_tokens

    return docs.select(
        "doc_id", F.explode(_cjk_effective_tokens("text")).alias("term")
    )


def _index_tables(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings with tb, doclens, 1-row stats) for a document batch."""
    toks = _tokenize(docs)
    postings = (
        toks.groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn(
            "tb", F.pmod(F.xxhash64("term"), F.lit(BM25_BUCKETS)).cast("int")
        )
    )
    dls = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    stats = dls.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    return postings, dls, stats


def _write_index(spark: SparkSession, base: str, docs: DataFrame, mode: str) -> None:
    postings, dls, stats = _index_tables(docs)
    postings.write.mode(mode).partitionBy("tb").parquet(f"{base}/postings")
    dls.write.mode(mode).parquet(f"{base}/doclens")
    stats.write.mode(mode).parquet(f"{base}/stats")


def build_lexical_index(spark: SparkSession, sf_dir: str) -> str:
    """Build and persist the BM25 index once per source identity (marker-
    idempotent); returns the index directory."""
    from ..catalog import build_once

    base = _lex_dir(spark, sf_dir)

    def build(stage: str) -> None:
        _write_index(spark, stage, load_table(spark, sf_dir, "documents"), "overwrite")

    build_once(spark, base, "_INDEX_READY", build)
    return base


def bm25_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered gate for :func:`build_lexical_index`: build (or reuse)
    the persisted index, then summarize the PERSISTED artifacts by
    reading them back — term/posting/doc counts plus integer checksums —
    so the differential proves what landed on disk (the
    ``sim_index_build`` discipline). The oracle recomputes the identical
    summary from the documents table."""
    base = build_lexical_index(spark, sf_dir)
    postings = spark.read.parquet(f"{base}/postings")
    dls = spark.read.parquet(f"{base}/doclens")
    # NB: no bucket-count column — tb is xxhash64-derived and DuckDB
    # cannot reproduce it; the bucket layout is pinned by the plan test
    # (one directory per tb, probe scan pruned) instead of the oracle
    return postings.agg(
        F.countDistinct("term").cast("long").alias("n_terms"),
        F.count("*").cast("long").alias("n_postings"),
        F.sum("tf").cast("long").alias("tf_sum"),
    ).crossJoin(
        F.broadcast(
            dls.agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("dl_sum"),
            )
        )
    )


def _probe_lexical(
    spark: SparkSession,
    base: str,
    postings_name: str = "postings",
    stats_name: str = "stats",
) -> DataFrame:
    """The BM25 probe plan over stored artifacts: the query terms' bucket
    ids are computed up front driver-side (:func:`_term_buckets` — the
    planning step, like the ANN probe's centroid ranking), the postings
    scan is filtered to those LITERAL tb values so static partition
    pruning reads only the probed bucket directories, and scoring is the
    shared :func:`..text._bm25_rank` expression tree over the stored
    counts. ``postings_name``/``stats_name`` let the compacted trees
    serve through the identical plan."""
    buckets = _term_buckets()
    postings = spark.read.parquet(f"{base}/{postings_name}")
    tf = (
        postings.filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*BM25_TERMS))
        .select("doc_id", "term", "tf")
    )
    dls = spark.read.parquet(f"{base}/doclens")
    stats = (
        spark.read.parquet(f"{base}/{stats_name}")
        .agg(  # SUM-merge: appends/forgets contribute additive rows
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
        )
    )
    return _bm25_rank(tf, dls, stats)


def _build_incr_store(spark: SparkSession, sf_dir: str) -> str:
    """The two-installment append store shared by :func:`bm25_index_append`
    and :func:`bm25_index_compact`: initial load of the standing corpus,
    then a parquet append of the arriving ``doc_id % APPEND_MOD`` batch
    into the same tb partitions. Marker-idempotent; returns the base."""
    from ..catalog import build_once
    from .dedup import APPEND_MOD

    base = _lex_dir(spark, sf_dir, tag="bm25-incr")

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        is_new = F.col("doc_id") % APPEND_MOD == 0
        _write_index(spark, stage, docs.filter(~is_new), "overwrite")
        _write_index(spark, stage, docs.filter(is_new), "append")

    build_once(spark, base, "_INCR_READY", build)
    return base


def bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the BM25 benchmark query purely from the persisted index —
    build-once/probe-many for the lexical side. Identical output to
    :func:`..text.text_bm25` (same oracle, hash-equal): the only
    difference is WHERE tf/dl/stats come from. The plan property worth
    the persistence: the postings scan carries a PartitionFilter on the
    probed tb values (pinned by tests/test_plans.py), so query cost is
    bounded by the probed buckets' postings, never the corpus."""
    base = build_lexical_index(spark, sf_dir)
    return _probe_lexical(spark, base)


def bm25_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical-index maintenance: the corpus arrives in two
    installments (the ``doc_id % APPEND_MOD`` batch split every append
    path in this repo uses) — an initial load, then a parquet append of
    the arrival batch into the SAME tb partitions, with doclens and a
    new additive stats row appended beside it. The probe over the
    combined store must hash-equal the single-shot build (oracle =
    text_bm25's verbatim): any drift — double-counted stats, a posting
    landing in the wrong bucket, a missed doc — breaks the gate. Each
    increment costs O(new docs) tokenize + bounded appends; nothing is
    rewritten (compaction territory, the pair-store law)."""
    return _probe_lexical(spark, _build_incr_store(spark, sf_dir))


def bm25_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-index unlearning: a revoked source's documents leave the
    persisted postings/doclens physically (anti-join rewrite-then-swap,
    the ``dedup_pairs_forget`` discipline) and the stats row is
    recomputed from the surviving doclens — BM25's corpus statistics
    (N, avgdl, df) must all forget the source, or its documents keep
    influencing every ranking they no longer appear in. Oracle =
    text_bm25's SQL over the surviving corpus: hash-equality proves
    purge ≡ rebuild-without-the-source, including the statistics."""
    from ..catalog import build_then_purge
    from .text import FORGET_SOURCE

    docs = load_table(spark, sf_dir, "documents")
    base = _lex_dir(spark, sf_dir, tag="bm25-forget")

    def purge() -> None:
        revoked = docs.filter(F.col("source") == FORGET_SOURCE).select("doc_id")
        kept_post = spark.read.parquet(f"{base}/postings").join(
            F.broadcast(revoked), "doc_id", "left_anti"
        )
        kept_dls = spark.read.parquet(f"{base}/doclens").join(
            F.broadcast(revoked), "doc_id", "left_anti"
        )
        kept_post.repartition("tb").write.mode("overwrite").partitionBy(
            "tb"
        ).parquet(f"{base}/postings_next")
        kept_dls.write.mode("overwrite").parquet(f"{base}/doclens_next")
        # stats recomputed from the surviving doclens (N and avgdl must
        # forget the source too)
        kept_stats = spark.read.parquet(f"{base}/doclens_next").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
        )
        kept_stats.write.mode("overwrite").parquet(f"{base}/stats_next")

    def build(stage: str) -> None:
        # the standing production index: built on everything, before
        # anyone knew the source would be revoked
        _write_index(spark, stage, docs, "overwrite")

    build_then_purge(spark, base, ("postings", "doclens", "stats"), build, purge)

    return _probe_lexical(spark, base)


def _build_oracle() -> str:
    return """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
        FROM documents
    ),
    clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    postings AS (
        SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM clean GROUP BY term, doc_id
    ),
    dls AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM clean GROUP BY doc_id
    )
    SELECT (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) FROM postings) AS n_terms,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM postings) AS n_postings,
           (SELECT CAST(SUM(tf) AS BIGINT) FROM postings) AS tf_sum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dls) AS n_docs,
           (SELECT CAST(SUM(dl) AS BIGINT) FROM dls) AS dl_sum
"""


def _forget_oracle() -> str:
    from .text import FORGET_SOURCE

    sql = TEXT_ORACLE_SQL["text_bm25"]
    if sql.count("FROM documents") != 1:  # explicit: survives `python -O`
        raise RuntimeError("text_bm25 oracle documents-scan anchor drifted")
    return sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE source <> '{FORGET_SOURCE}')",
    )


ORACLE_SQL["bm25_index_build"] = _build_oracle()
# the probe serves the exact ranking text_bm25 computes in-plan: one
# oracle, two execution paths (in-plan tokenize vs persisted postings);
# append is a third (initial load + parquet append into the same buckets)
ORACLE_SQL["bm25_index_probe"] = TEXT_ORACLE_SQL["text_bm25"]
ORACLE_SQL["bm25_index_append"] = TEXT_ORACLE_SQL["text_bm25"]
ORACLE_SQL["bm25_index_forget"] = _forget_oracle()


# ---------------------------------------------------------------------------
# Lexical-index compaction + store-served hybrid retrieval (r11)
# ---------------------------------------------------------------------------


def bm25_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-index COMPACTION — the maintenance stage the append paths
    make necessary (the ``sim_index_compact`` / ``dedup_pairs_compact``
    law): :func:`bm25_index_append` and the streaming twin accumulate one
    parquet file per installment in every tb bucket; at daily cadence the
    probe's pruned scan opens hundreds of files per bucket and small-file
    overhead erodes exactly the seek advantage the bucket layout exists
    for. This op rewrites the appended postings tree with EXACTLY ONE
    file per tb partition (hash-repartition on tb puts each bucket's rows
    in one task; partitionBy then emits one file per directory), and
    SUM-merges the accumulated stats rows into one physical row — both
    marker-idempotent and probe-invisible: the oracle is text_bm25's SQL
    verbatim (a FIFTH execution path of the one oracle), and pytest pins
    the one-file-per-bucket layout plus row equality."""
    from ..catalog import build_once

    base = _build_incr_store(spark, sf_dir)

    def build(stage: str) -> None:
        (
            spark.read.parquet(f"{base}/postings")
            .repartition("tb")
            .write.partitionBy("tb")
            .parquet(f"{stage}/postings_compact")
        )
        (
            spark.read.parquet(f"{base}/stats")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("total_tokens").cast("long").alias("total_tokens"),
            )
            .coalesce(1)
            .write.parquet(f"{stage}/stats_compact")
        )

    build_once(spark, base, "_COMPACT_READY", build)

    # probe over the compacted trees through the identical probe plan
    # (doclens needs no compaction: written once per installment, read
    # whole)
    return _probe_lexical(
        spark, base, postings_name="postings_compact", stats_name="stats_compact"
    )


ORACLE_SQL["bm25_index_compact"] = TEXT_ORACLE_SQL["text_bm25"]


def sim_hybrid_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval SERVED FROM BOTH PERSISTED INDEXES — the
    production form of :func:`..similarity.sim_hybrid_rrf` (whose dense
    list is the exact-cosine yardstick, the right shape for a gate but a
    corpus scan per query): the dense ranking comes from the IVF-PQ
    probe over the stored ANN index (:func:`..similarity.
    sim_index_probe`, DPP-pruned codes scan) and the lexical ranking
    from the stored postings (:func:`bm25_index_probe`, statically
    pruned buckets), fused by the same rank-only reciprocal-rank
    formula. Neither list touches a raw corpus row at query time — the
    whole query is two index seeks plus a k-row outer join, the shape a
    hybrid search service actually runs at 100 TB.

    Own oracle (not sim_hybrid_rrf's): the dense CTE is the ivfpq SQL
    spliced where the brute-force SQL sat, so the differential pins the
    served fusion end-to-end."""
    from .similarity import RRF_K, RRF_QUERY, RRF_TOP, sim_index_probe
    from pyspark.sql import Window

    dense = (
        sim_index_probe(spark, sf_dir)
        .filter(F.col("query_id") == RRF_QUERY)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    )
    lex = bm25_index_probe(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    fused = dense.join(lex, "doc_id", "full_outer").select(
        "doc_id",
        "dense_rank",
        "lex_rank",
        F.expr(
            f"coalesce(1.0 / CAST({RRF_K} + dense_rank AS DOUBLE), CAST(0 AS DOUBLE))"
            f" + coalesce(1.0 / CAST({RRF_K} + lex_rank AS DOUBLE), CAST(0 AS DOUBLE))"
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "dense_rank", "lex_rank", "rrf")
    )


def _hybrid_probe_oracle() -> str:
    from .similarity import (
        ORACLE_SQL as SIM_ORACLE_SQL,
        RRF_K,
        RRF_QUERY,
        RRF_TOP,
        _strip_order_by,
    )

    return f"""
    WITH dense AS (
        SELECT vec_id AS doc_id, rank AS dense_rank
        FROM ({_strip_order_by(SIM_ORACLE_SQL["sim_ann_ivfpq"])})
        WHERE query_id = {RRF_QUERY}
    ),
    lexical AS (
        SELECT doc_id, rank AS lex_rank FROM ({TEXT_ORACLE_SQL["text_bm25"]})
    ),
    fused AS (
        SELECT COALESCE(d.doc_id, l.doc_id) AS doc_id, d.dense_rank, l.lex_rank,
               coalesce(1.0 / CAST({RRF_K} + d.dense_rank AS DOUBLE), CAST(0 AS DOUBLE))
               + coalesce(1.0 / CAST({RRF_K} + l.lex_rank AS DOUBLE), CAST(0 AS DOUBLE))
                   AS rrf
        FROM dense d FULL OUTER JOIN lexical l ON d.doc_id = l.doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank,
           doc_id, dense_rank, lex_rank, rrf
    FROM fused
    ORDER BY rrf DESC, doc_id ASC
    LIMIT {RRF_TOP}
"""


ORACLE_SQL["sim_hybrid_probe"] = _hybrid_probe_oracle()


# ---------------------------------------------------------------------------
# Batched hybrid retrieval (r12) — the N-query production shape
# ---------------------------------------------------------------------------

# the query batch: one term set per dense query vector (query_id < N_QUERIES).
# query 3 is the original RRF_QUERY with BM25_TERMS, so the r11 single-query
# probe is literally one row-slice of this batch.
RRF_BATCH_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("scan", "merge"),
    1: ("hash", "table"),
    2: ("sort", "stream"),
    3: BM25_TERMS,
    4: ("group", "agg"),
    5: ("query", "fast"),
    6: ("row", "key", "value"),
    7: ("vector", "batch"),
}


def _batch_terms() -> tuple[str, ...]:
    """The batch's term UNION, sorted — the postings scan is pruned to
    these terms' bucket set (buckets = union of the batch's buckets)."""
    return tuple(sorted({t for ts in RRF_BATCH_QUERIES.values() for t in ts}))


def _probe_lexical_batch(spark: SparkSession, base: str) -> DataFrame:
    """Per-query BM25 rankings for the whole batch from ONE pruned
    postings scan: the union of the batch's term buckets is computed
    driver-side (zero jobs — :func:`_term_buckets`), the scan is
    statically partition-pruned to that literal set, and a tiny
    broadcast (query_id, term) table fans the fetched postings out to
    the queries that asked for each term. Scoring is the same
    association-pinned rational BM25 as :func:`..text._bm25_rank`; the
    per-document total is a LEFT FOLD over the query's term scores
    sorted by term (Spark ``aggregate`` over ``sort_array`` ==
    DuckDB ``list_reduce`` over ``list(.. ORDER BY term)`` — the
    ``text_bpe_train`` fold-pinning trick), because a per-query term
    set is variable-width and a float SUM aggregate's accumulation
    order is engine-dependent."""
    from .text import BM25_B, BM25_K1, BM25_TOP
    from pyspark.sql import Window

    terms = _batch_terms()
    buckets = _term_buckets(terms)
    qterms = F.broadcast(
        spark.createDataFrame(
            [(int(q), t) for q, ts in RRF_BATCH_QUERIES.items() for t in ts],
            "query_id long, term string",
        )
    )
    postings = spark.read.parquet(f"{base}/postings")
    tf = (
        postings.filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*terms))
        .select("doc_id", "term", "tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    dls = spark.read.parquet(f"{base}/doclens")
    stats = spark.read.parquet(f"{base}/stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
    )
    k1n, k1d = BM25_K1
    bn, bd = BM25_B
    score_expr = (
        f"(CAST(n_docs - df + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE))"
        f" * (CAST(tf * ({k1n} + {k1d}) AS DOUBLE)"
        f" / (CAST(tf * {k1d} AS DOUBLE) + CAST({k1n} AS DOUBLE)"
        f" * (CAST({bd} - {bn} AS DOUBLE) / {bd}"
        f" + (CAST({bn} AS DOUBLE) / {bd})"
        f" * (CAST(dl * n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE)))))"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(qterms, "term")  # fan out to the queries that asked
        .select("query_id", "doc_id", "term", F.expr(score_expr).alias("s"))
    )
    # ONE exchange for agg + window (r15, measured 1.35 -> 1.11 s at
    # sf0.1): pre-clustering by query_id satisfies both the per-doc
    # fold's ClusteredDistribution (query_id ⊆ grouping keys) and the
    # rank window's, so EnsureRequirements inserts no second shuffle.
    # Trade, stated: the exchange carries per-TERM scored rows (~|terms
    # per query| ≈ 2-3x the per-doc rows) and the fold loses map-side
    # partial aggregation — but the top-k window immediately downstream
    # already serializes each query onto one reducer, so per-query
    # reducer cardinality (the actual 100 TB chokepoint) is unchanged;
    # the window's O(n log n) sort dominates the fold it absorbed.
    scored = scored.repartition("query_id")
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.expr(
            "aggregate(transform(sort_array(collect_list(struct(term, s))),"
            " x -> x.s), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("lex_rank", F.row_number().over(w))
        .filter(F.col("lex_rank") <= BM25_TOP)
        .select("query_id", "doc_id", "lex_rank")
    )


def sim_hybrid_probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED hybrid retrieval from both persisted indexes — the
    generalization VERDICT r11 item 5 ordered: :func:`sim_hybrid_probe`
    serves ONE benchmark query; a hybrid search service serves query
    BATCHES, and the dense side (:func:`..similarity.sim_index_probe`)
    has ranked all N_QUERIES vectors per probe since r8 while the
    lexical side was pinned to ``RRF_QUERY``/``BM25_TERMS``. This op
    fuses all N_QUERIES pairs (dense vector, per-query term set —
    ``RRF_BATCH_QUERIES``; query 3 is the original pair) with the same
    rank-only RRF formula, per query.

    Plan: the batch costs exactly TWO index seeks — one DPP-pruned codes
    scan (all dense queries share it) and one postings scan statically
    pruned to the UNION of the batch's term buckets (each query's terms
    fan out from a broadcast (query_id, term) table AFTER the fetch) —
    plus per-query k-row windows. Batch size scales the tiny broadcast
    sides, never the number of store scans; that is the amortization
    batching exists for.

    Own oracle: the ivfpq SQL as the dense CTE (all queries, no
    query_id filter) spliced with a VALUES-table lexical batch whose
    per-doc totals use the fold-pinned sum (VERDICT item 5's
    "per-query CTEs" realized as one relational plan).
    """
    from .similarity import RRF_K, RRF_TOP, sim_index_probe
    from pyspark.sql import Window

    dense = sim_index_probe(spark, sf_dir).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"),
    )
    lex = _probe_lexical_batch(spark, build_lexical_index(spark, sf_dir))
    fused = dense.join(lex, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "dense_rank",
        "lex_rank",
        F.expr(
            f"coalesce(1.0 / CAST({RRF_K} + dense_rank AS DOUBLE), CAST(0 AS DOUBLE))"
            f" + coalesce(1.0 / CAST({RRF_K} + lex_rank AS DOUBLE), CAST(0 AS DOUBLE))"
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RRF_TOP)
        .select("query_id", "rank", "doc_id", "dense_rank", "lex_rank", "rrf")
        .orderBy("query_id", "rank")
    )


def _hybrid_batch_oracle() -> str:
    from .similarity import (
        ORACLE_SQL as SIM_ORACLE_SQL,
        RRF_K,
        RRF_TOP,
        _strip_order_by,
    )
    from .text import BM25_B, BM25_K1, BM25_TOP

    terms = _batch_terms()
    term_list = ", ".join(f"'{t}'" for t in terms)
    values = ", ".join(
        f"({q}, '{t}')" for q, ts in RRF_BATCH_QUERIES.items() for t in ts
    )
    k1n, k1d = BM25_K1
    bn, bd = BM25_B
    return f"""
    WITH qterms AS (
        SELECT CAST(query_id AS BIGINT) AS query_id, term
        FROM (VALUES {values}) AS v(query_id, term)
    ),
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
        FROM documents
    ),
    clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    dls AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM clean GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_tokens
        FROM dls
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM clean
        WHERE term IN ({term_list})
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    lex_scored AS (
        SELECT q.query_id, tf.doc_id, tf.term,
               (CAST(s.n_docs - d.df + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE))
               * (CAST(tf.tf * ({k1n} + {k1d}) AS DOUBLE)
                  / (CAST(tf.tf * {k1d} AS DOUBLE) + CAST({k1n} AS DOUBLE)
                     * (CAST({bd} - {bn} AS DOUBLE) / {bd}
                        + (CAST({bn} AS DOUBLE) / {bd})
                        * (CAST(l.dl * s.n_docs AS DOUBLE)
                           / CAST(s.total_tokens AS DOUBLE))))) AS sc
        FROM tf
        JOIN dfreq d USING (term)
        JOIN dls l USING (doc_id)
        JOIN qterms q USING (term), stats s
    ),
    lex_tot AS (
        SELECT query_id, doc_id,
               list_reduce(list(sc ORDER BY term), (a, b) -> a + b) AS score
        FROM lex_scored GROUP BY query_id, doc_id
    ),
    lex AS (
        SELECT query_id, doc_id, lex_rank FROM (
            SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY query_id
                        ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
            FROM lex_tot
        ) WHERE lex_rank <= {BM25_TOP}
    ),
    dense AS (
        SELECT query_id, vec_id AS doc_id, rank AS dense_rank
        FROM ({_strip_order_by(SIM_ORACLE_SQL["sim_ann_ivfpq"])})
    ),
    fused AS (
        SELECT COALESCE(d.query_id, l.query_id) AS query_id,
               COALESCE(d.doc_id, l.doc_id) AS doc_id,
               d.dense_rank, l.lex_rank,
               coalesce(1.0 / CAST({RRF_K} + d.dense_rank AS DOUBLE), CAST(0 AS DOUBLE))
               + coalesce(1.0 / CAST({RRF_K} + l.lex_rank AS DOUBLE), CAST(0 AS DOUBLE))
                   AS rrf
        FROM dense d
        FULL OUTER JOIN lex l
          ON d.query_id = l.query_id AND d.doc_id = l.doc_id
    )
    SELECT query_id, rank, doc_id, dense_rank, lex_rank, rrf FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
        FROM fused
    ) WHERE rank <= {RRF_TOP}
    ORDER BY query_id, rank
"""


ORACLE_SQL["sim_hybrid_probe_batch"] = _hybrid_batch_oracle()
