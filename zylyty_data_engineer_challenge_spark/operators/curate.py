"""Training-corpus curation operators: deterministic splits, sequence
packing, and the composed end-to-end curation pipeline.

[EXTENDED] — the operators that turn a raw document corpus into LLM
training data, on top of the per-signal operators in :mod:`.text` and
:mod:`.dedup`:

* **hash split** — reproducible train/val/test assignment from a content
  hash, the standard replacement for random sampling in a pipeline that
  must be re-runnable (same doc → same split, forever, on any cluster).
* **sequence packing** — assign documents to fixed-token-budget training
  sequences by cumulative token count, the batch form of example packing.
* **curation pipeline** — length filter → language filter → exact dedup,
  composed as one declarative plan so Catalyst fuses the filters into the
  scan and the only shuffles are the dedup aggregation.

All outputs are integers/strings (hash-stable cross-engine); md5-derived
hashing keeps every assignment reproducible on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

SPLIT_BUCKETS = 100
TEST_PCT = 10
VAL_PCT = 10

PACK_BUDGET = 256  # tokens per packed sequence

MIN_TOKENS = 30  # curation floor
CURATE_LANG = "en"


def _hash_bucket(col: str) -> F.Column:
    """Stable bucket in [0, SPLIT_BUCKETS) from md5 — identical in DuckDB
    as ('0x' || substr(md5(x),1,15))::BIGINT % buckets."""
    return F.expr(
        f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        f" % {SPLIT_BUCKETS}"
    )


def text_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = md5(doc_id) %
    100; test < 10, val < 20, else train. Map-only — no shuffle, no state;
    the split of a 100 TB corpus is decided row-local at scan speed, and
    re-ingesting a document can never flip its split (unlike rand())."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket("doc_id")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TEST_PCT, "test")
        .when(bucket < TEST_PCT + VAL_PCT, "val")
        .otherwise("train")
        .alias("split"),
    ).orderBy("doc_id")


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: within each language, documents (in doc_id order)
    are concatenated greedily into fixed-budget training sequences; a
    document's sequence is its *starting* cumulative token offset div
    budget (documents may straddle a boundary — the reader splits them,
    which is the standard pack-then-split layout).

    Scale: one window shuffle partitioned by lang. Per-partition packing
    is inherently sequential (each offset depends on all prior docs), so
    the partition key chooses the parallelism/determinism trade: a
    production run packs per (lang, shard) with shard = hash-bucket of
    doc_id to bound partition size; the lang-only form here keeps the
    oracle simple.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), r"\s+"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    with_cum = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
    ).withColumn(
        "cum_end", F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        # integral div, not float division: exact for any budget value
        F.expr(f"(cum_end - n_tokens) div {PACK_BUDGET}").alias("seq_id"),
        F.expr(f"(cum_end - n_tokens) % {PACK_BUDGET}").alias("seq_offset"),
    ).orderBy("doc_id")


def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline: token-length floor → language
    filter → exact dedup (keep the lowest doc_id per distinct text hash).
    One declarative plan: both filters reach the parquet scan (pushdown on
    lang; token floor right above it), and the only shuffle is the dedup's
    min-per-hash aggregate — a map-side-combinable agg on the md5 key.

    This is the "a reference user can run their whole curation job" query:
    the per-signal operators feed it, and at 100 TB it is scan-bound, not
    shuffle-bound, because filters run before the one keyed exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    filtered = docs.filter(F.col("lang") == CURATE_LANG).select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens"),
        F.md5("text").alias("text_hash"),
    ).filter(F.col("n_tokens") >= MIN_TOKENS)
    keeper = filtered.groupBy("text_hash").agg(F.min("doc_id").alias("keep_id"))
    return (
        filtered.join(keeper, "text_hash")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "n_tokens", "text_hash")
        .orderBy("doc_id")
    )


ORACLE_SQL = {
    "text_train_split": f"""
        WITH b AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % {SPLIT_BUCKETS} AS bucket
            FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < {TEST_PCT} THEN 'test'
                    WHEN bucket < {TEST_PCT + VAL_PCT} THEN 'val'
                    ELSE 'train' END AS split
        FROM b
        ORDER BY doc_id
    """,
    "text_pack_sequences": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   len(regexp_split_to_array(text, '\\s+')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
            FROM t
        )
        SELECT doc_id, lang, n_tokens,
               (cum_end - n_tokens) // {PACK_BUDGET} AS seq_id,
               (cum_end - n_tokens) % {PACK_BUDGET} AS seq_offset
        FROM c
        ORDER BY doc_id
    """,
    "pipeline_curate": f"""
        WITH f AS (
            SELECT doc_id,
                   len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
                   md5(text) AS text_hash
            FROM documents
            WHERE lang = '{CURATE_LANG}'
        ),
        f2 AS (SELECT * FROM f WHERE n_tokens >= {MIN_TOKENS}),
        k AS (SELECT text_hash, MIN(doc_id) AS keep_id FROM f2 GROUP BY 1)
        SELECT f2.doc_id, f2.n_tokens, f2.text_hash
        FROM f2 JOIN k ON f2.text_hash = k.text_hash AND f2.doc_id = k.keep_id
        ORDER BY f2.doc_id
    """,
}


def pipeline_curate_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline with NEAR-duplicate removal: the
    length/language filters of :func:`pipeline_curate` intersected with
    the MinHash-LSH cluster representatives from
    :func:`..operators.graph.dedup_cc` — a document survives iff it passes
    quality AND is the keeper (minimum doc_id) of its near-dup cluster.

    This is the composition a training-data pipeline actually ships:
    per-signal operators (shingle -> minhash -> band -> verify -> cluster)
    feed one declarative join, so Catalyst schedules the whole thing as a
    single plan — quality filters reach the scan, and the expensive LSH
    pipeline runs once. The oracle nests the dedup_cc transitive-closure
    SQL inside the same filters: two engines, two algorithms (label
    propagation vs recursive closure), one surviving set.
    """
    from .graph import dedup_cc

    docs = load_table(spark, sf_dir, "documents")
    filtered = docs.filter(F.col("lang") == CURATE_LANG).select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= MIN_TOKENS)
    reps = (
        dedup_cc(spark, sf_dir)
        .filter(F.col("is_representative") == 1)
        .select("doc_id")
    )
    return filtered.join(reps, "doc_id").select("doc_id", "n_tokens").orderBy("doc_id")


def _curate_near_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip_order_by
    from .graph import ORACLE_SQL as _G

    return f"""
        WITH cc AS (
            SELECT doc_id FROM ({_strip_order_by(_G["dedup_cc"])})
            WHERE is_representative = 1
        ),
        f AS (
            SELECT doc_id,
                   len(regexp_split_to_array(text, '\\s+')) AS n_tokens
            FROM documents
            WHERE lang = '{CURATE_LANG}'
        )
        SELECT f.doc_id, f.n_tokens
        FROM f JOIN cc ON f.doc_id = cc.doc_id
        WHERE f.n_tokens >= {MIN_TOKENS}
        ORDER BY f.doc_id
    """


ORACLE_SQL["pipeline_curate_near"] = _curate_near_oracle()


# ---------------------------------------------------------------------------
# Intra-/cross-document boilerplate removal
# ---------------------------------------------------------------------------

BOILER_SEG = 5  # tokens per segment (the repetition-detection granularity)


def curate_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate / repetition stripping at SUB-document granularity —
    the C4-style curation stage ("discard all but one occurrence of any
    repeated span") missing from the doc-level family: each document is
    cut into disjoint BOILER_SEG-token segments, a segment instance
    survives iff it is the corpus-wide FIRST occurrence of its content
    (min (doc_id, seg_idx)), and each document is reassembled from its
    surviving segments in order. Catches both cross-document boilerplate
    (headers, license blurbs, whole duplicated docs — every segment of a
    later duplicate drops) and intra-document repetition (a span pasted
    twice keeps only its first copy). The fixture's documents are
    single-line token streams, so the segment unit here is a fixed token
    window; on corpora with real line structure the same plan runs with
    ``split(text, '\\n')`` as the segmenter — only the first select
    changes. Composes into :func:`pipeline_curate` as a pre-dedup map
    (filter on ``n_kept > 0`` + the reassembled text).

    Plan: explode to segments (map-only), ONE shuffle on the segment
    content hash for the first-occurrence window, one per-doc reassembly
    aggregate (order restored by array_sort, so the aggregate is
    combiner-friendly and collect order never matters). Output is
    counts + md5/length of the reassembled text — integer/string exact
    on both engines, no full-text column in the gate.

    Scale: segment state is corpus-token-sized but flows through hash
    partitions; the window per content hash is the keep-first pattern of
    t3 (reference main.py:64-66) at sub-document granularity. Hot
    boilerplate (one segment in millions of docs) lands on one partition
    only for its rank-1 scan — replace the window with a
    min_by-struct groupBy + join (the t3 rewrite) if a single segment
    dominates.
    """
    return boilerplate_strip(load_table(spark, sf_dir, "documents"))


def boilerplate_strip(docs: DataFrame) -> DataFrame:
    """The reusable kernel of :func:`curate_boilerplate`: (doc_id, text)
    -> per-document (n_segments, n_kept, clean_n_chars, clean_hash) after
    corpus-wide keep-first segment dedup. Semantics pinned on hand-built
    frames in tests/test_curate.py; the registered query adds only the
    fixture load."""
    segs = (
        docs.select("doc_id", F.split(F.col("text"), r"\s+").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"sequence(0, CAST((size(tk) + {BOILER_SEG} - 1) div {BOILER_SEG}"
                    " AS INT) - 1)"
                )
            ).alias("seg_idx"),
            F.col("tk"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.expr(
                f"array_join(slice(tk, seg_idx * {BOILER_SEG} + 1, {BOILER_SEG}), ' ')"
            ).alias("content"),
        )
    )
    w = Window.partitionBy(F.md5("content")).orderBy("doc_id", "seg_idx")
    flagged = segs.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep") == 1, F.struct("seg_idx", "content"))
                )
            ).alias("kept"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            F.expr("array_join(transform(kept, s -> s.content), ' ')").alias("_clean"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            F.length("_clean").cast("bigint").alias("clean_n_chars"),
            F.md5("_clean").alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


ORACLE_SQL["curate_boilerplate"] = f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM documents
    ),
    idx AS (
        SELECT doc_id, tk,
               unnest(range(0, (len(tk) + {BOILER_SEG} - 1) // {BOILER_SEG}))
                   AS seg_idx
        FROM toks
    ),
    segs AS (
        SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
               array_to_string(
                   tk[seg_idx * {BOILER_SEG} + 1 : seg_idx * {BOILER_SEG} + {BOILER_SEG}],
                   ' ') AS content
        FROM idx
    ),
    flagged AS (
        SELECT doc_id, seg_idx, content,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(content)
                        ORDER BY doc_id, seg_idx) = 1 THEN 1 ELSE 0 END AS keep
        FROM segs
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(keep) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN keep = 1 THEN content END, ' '
                        ORDER BY seg_idx), '') AS clean
        FROM flagged
        GROUP BY doc_id
    )
    SELECT doc_id, n_segments, n_kept,
           CAST(length(clean) AS BIGINT) AS clean_n_chars,
           md5(clean) AS clean_hash
    FROM agg
    ORDER BY doc_id
"""


STRATUM_QUOTA = 40  # docs per language stratum


def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language quotas: the first
    STRATUM_QUOTA documents of each language in md5-hash order — the
    data-mixture primitive (balance languages/sources regardless of their
    corpus frequencies), reproducible for the same reason as
    :func:`text_train_split` (hash order is stable; rand() is not).

    Scale: one window shuffle partitioned by the stratum key; per-stratum
    state during the rank is one counter. For heavy-quota strata the
    alternative is the per-partition top-k merge used by
    sketch_kmv_distinct; at quota 40 the window form is already the plan
    you want.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_QUOTA)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


ORACLE_SQL["text_stratified_sample"] = f"""
    WITH h AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents
    )
    SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        FROM h
    )
    WHERE rk <= {STRATUM_QUOTA}
    ORDER BY lang, rk
"""


# ---------------------------------------------------------------------------
# Budget-capped source mixing
# ---------------------------------------------------------------------------

MIX_BUDGET_PER_SOURCE = 2500  # chars each source may contribute


def curate_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing under a per-source budget: every source contributes
    documents — in a deterministic md5-shuffled order — until its
    MIX_BUDGET_PER_SOURCE character budget is exhausted (take-while on the
    inclusive running total). This is the curation step that stops one
    crawl domain from flooding a training mix, with the same
    reproducibility contract as the hash split: same corpus -> same mix,
    on any cluster, forever.

    Plan: one window per source (rank by content hash, running sum of
    n_chars) and a filter — a single shuffle on the well-spread source
    key; no collects, no per-source driver loops. Skew bound: a giant
    source costs one partition's sort, and the budget cap means the
    OUTPUT per source is bounded regardless of input skew.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.withColumn("cum_w", F.sum("w").over(w))
        .filter(F.col("cum_w") <= MIX_BUDGET_PER_SOURCE)
        .select("source", "doc_id", "w", "cum_w")
        .orderBy("source", "cum_w")
    )


ORACLE_SQL["curate_source_mix"] = f"""
    WITH docs AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents
    ),
    run AS (
        SELECT source, doc_id, w,
               CAST(SUM(w) OVER (PARTITION BY source ORDER BY h, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w
        FROM docs
    )
    SELECT source, doc_id, w, cum_w
    FROM run
    WHERE cum_w <= {MIX_BUDGET_PER_SOURCE}
    ORDER BY source, cum_w
"""


# ---------------------------------------------------------------------------
# Language-temperature rebalancing
# ---------------------------------------------------------------------------

TEMP_LANGS = ("de", "en", "es", "fr", "zh")  # pinned order = summation order
TEMP_TOTAL = 200  # target sample size


def curate_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced multilingual sampling at T = 2 (alpha = 1/2):
    language quotas proportional to sqrt(n_lang) instead of n_lang — the
    standard low-resource boost multilingual training mixes apply (a
    language with 1/9 the documents gets 1/3, not 1/9, of the sample).

    alpha = 1/2 is chosen deliberately: ``sqrt`` is correctly rounded by
    IEEE-754 (unlike ln/exp/pow), so the quota arithmetic is bit-identical
    cross-engine — the same reason the TF-IDF/BM25 weightings here are
    rational. The denominator is the explicit left-associated sum of the
    TEMP_LANGS square roots (never a float SUM aggregate), and each
    quota is ``floor((TOTAL * sqrt(n_l)) / denom)``.

    Selection within a language is the deterministic md5 shuffle (same
    contract as curate_source_mix). Scale: one count aggregate, a 1-row
    broadcast quota table, one language-partitioned rank window.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*TEMP_LANGS)
    )
    counts = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    wide = counts.groupBy().pivot("lang", list(TEMP_LANGS)).sum("n")
    denom = "(" * (len(TEMP_LANGS) - 1) + " + ".join(
        f"sqrt(CAST(coalesce(`{lang}`, 0) AS DOUBLE)))" if i
        else f"sqrt(CAST(coalesce(`{lang}`, 0) AS DOUBLE))"
        for i, lang in enumerate(TEMP_LANGS)
    )
    quota_structs = ", ".join(
        f"struct('{lang}' AS lang, CAST(floor(({TEMP_TOTAL} * "
        f"sqrt(CAST(coalesce(`{lang}`, 0) AS DOUBLE))) / _denom) AS INT) AS quota)"
        for lang in TEMP_LANGS
    )
    quotas = wide.withColumn("_denom", F.expr(denom)).select(
        F.explode(F.expr(f"array({quota_structs})")).alias("q")
    ).select(F.col("q.lang").alias("lang"), F.col("q.quota").alias("quota"))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = docs.select(
        "lang",
        "doc_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    ).withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("lang", "doc_id", "rk", "quota")
        .orderBy("lang", "rk")
    )


_TL = TEMP_LANGS
_SQ = [f"sqrt(CAST(coalesce(n{lang}, 0) AS DOUBLE))" for lang in _TL]
_DENOM_SQL = "(" * (len(_TL) - 1) + " + ".join(
    s + ")" if i else s for i, s in enumerate(_SQ)
)

ORACLE_SQL["curate_lang_temperature"] = f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents
        WHERE lang IN ({", ".join(f"'{lang}'" for lang in _TL)})
        GROUP BY lang
    ),
    wide AS (
        SELECT {", ".join(
            f"MAX(CASE WHEN lang = '{lang}' THEN n END) AS n{lang}" for lang in _TL
        )}
        FROM counts
    ),
    dn AS (SELECT *, {_DENOM_SQL} AS _denom FROM wide),
    quotas AS (
        {" UNION ALL ".join(
            f"SELECT '{lang}' AS lang, CAST(floor(({TEMP_TOTAL} * "
            f"sqrt(CAST(coalesce(n{lang}, 0) AS DOUBLE))) / _denom) AS INT) AS quota "
            f"FROM dn"
            for lang in _TL
        )}
    ),
    ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                   doc_id) AS rk
        FROM documents
        WHERE lang IN ({", ".join(f"'{lang}'" for lang in _TL)})
    )
    SELECT r.lang, r.doc_id, CAST(r.rk AS INT) AS rk, q.quota
    FROM ranked r JOIN quotas q ON r.lang = q.lang
    WHERE r.rk <= q.quota
    ORDER BY r.lang, r.rk
"""


DIV_TOTAL = 256  # diversity-sample budget, in vectors


def curate_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling over the embedding space — the
    "diversify" half of the dedup-then-diversify curation recipe (D4,
    Tirumala et al. 2023, arXiv:2308.12284): k-means-cluster the corpus
    (the same trained assignment :func:`..dedup.dedup_semantic` prunes
    with), then draw a per-cluster quota proportional to sqrt(n_cluster)
    — the T=2 temperature that over-samples small clusters so the sample
    covers semantic space instead of mirroring its skew. Selection
    within a cluster is the deterministic md5 shuffle; output is
    (cid, vec_id, rk, quota), the training-subset manifest.

    The quota arithmetic reuses :func:`curate_lang_temperature`'s
    bit-exact construction: sqrt is IEEE-correctly-rounded, the
    denominator is the explicit left-associated sum over the FIXED
    cluster-id domain (never a float SUM aggregate), each quota one
    floor((TOTAL * sqrt(n_c)) / denom) expression evaluated identically
    in both engines.

    Scale: one count aggregate over the label table, a K-row broadcast
    quota table, one cluster-partitioned rank window. The Lloyd
    assignment is the amortized training artifact (see the cluster
    module); everything downstream is narrow.
    """
    from .cluster import lloyd_labels_cached

    labels = lloyd_labels_cached(spark, sf_dir).select(
        "vec_id", F.col("cluster").alias("cid")
    )
    return _cluster_quota_sample(labels)


def _cluster_quota_sample(labels: DataFrame) -> DataFrame:
    """sqrt-temperature per-cluster quota draw over a (vec_id, cid) label
    table — the shared kernel of :func:`curate_diversity_sample` (raw
    corpus) and :func:`pipeline_curate_d4` (post-dedup survivors). One
    count aggregate, a K-row broadcast quota table, one rank window."""
    from .cluster import K_CLUSTERS

    counts = labels.groupBy("cid").agg(F.count("*").cast("long").alias("n"))
    wide = counts.agg(
        *[
            F.max(F.when(F.col("cid") == i, F.col("n"))).alias(f"n{i}")
            for i in range(K_CLUSTERS)
        ]
    )
    denom = "(" * (K_CLUSTERS - 1) + " + ".join(
        f"sqrt(CAST(coalesce(n{i}, 0) AS DOUBLE)))" if i
        else f"sqrt(CAST(coalesce(n{i}, 0) AS DOUBLE))"
        for i in range(K_CLUSTERS)
    )
    quota_structs = ", ".join(
        f"struct(CAST({i} AS BIGINT) AS cid, CAST(floor(({DIV_TOTAL} * "
        f"sqrt(CAST(coalesce(n{i}, 0) AS DOUBLE))) / _denom) AS INT) AS quota)"
        for i in range(K_CLUSTERS)
    )
    quotas = (
        wide.withColumn("_denom", F.expr(denom))
        .select(F.explode(F.expr(f"array({quota_structs})")).alias("q"))
        .select(F.col("q.cid").alias("cid"), F.col("q.quota").alias("quota"))
    )
    w = Window.partitionBy("cid").orderBy("h", "vec_id")
    ranked = labels.select(
        "cid",
        "vec_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    ).withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), "cid")
        .filter(F.col("rk") <= F.col("quota"))
        .select("cid", "vec_id", "rk", "quota")
        .orderBy("cid", "rk")
    )


def pipeline_curate_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full D4 recipe (Tirumala et al. 2023): semantic-DEDUP the
    embedding corpus, then DIVERSITY-sample the survivors — quotas are
    recomputed on the post-dedup cluster sizes, so a cluster that lost
    half its members to near-dup pruning draws a proportionally smaller
    (sqrt-tempered) share. Composes :func:`..dedup.dedup_semantic`'s
    keep-mask with :func:`_cluster_quota_sample`; output is the same
    (cid, vec_id, rk, quota) manifest, now over deduplicated vectors
    only.

    Scale: the dedup stage reads the persisted Lloyd labels and runs its
    bounded per-cluster kernel once; the sampling stage adds one count
    aggregate and one rank window over the kept labels. The composition
    is exactly the paper's pipeline order — dedup BEFORE diversify, so
    duplicate mass cannot absorb sample budget.
    """
    from .dedup import dedup_semantic

    kept = (
        dedup_semantic(spark, sf_dir)
        .filter(F.col("is_kept") == 1)
        .select("vec_id", "cid")
    )
    return _cluster_quota_sample(kept)


def _quota_sample_sql(labels_subquery: str) -> str:
    """The sqrt-temperature quota-draw SQL over any (vec_id, cid) label
    source — the oracle twin of :func:`_cluster_quota_sample`, shared by
    the raw-corpus and post-dedup (D4) sampling oracles so the quota
    arithmetic can never drift between them."""
    from .cluster import K_CLUSTERS

    denom = "(" * (K_CLUSTERS - 1) + " + ".join(
        f"sqrt(CAST(coalesce(n{i}, 0) AS DOUBLE)))" if i
        else f"sqrt(CAST(coalesce(n{i}, 0) AS DOUBLE))"
        for i in range(K_CLUSTERS)
    )
    wide_cols = ", ".join(
        f"MAX(CASE WHEN cid = {i} THEN n END) AS n{i}" for i in range(K_CLUSTERS)
    )
    quota_rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS cid, CAST(floor(({DIV_TOTAL} * "
        f"sqrt(CAST(coalesce(n{i}, 0) AS DOUBLE))) / _denom) AS INT) AS quota "
        f"FROM dn"
        for i in range(K_CLUSTERS)
    )
    return f"""
    WITH lbl AS ({labels_subquery}),
    counts AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM lbl GROUP BY cid),
    wide AS (SELECT {wide_cols} FROM counts),
    dn AS (SELECT *, {denom} AS _denom FROM wide),
    quotas AS ({quota_rows}),
    ranked AS (
        SELECT cid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY cid ORDER BY
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                   vec_id) AS rk
        FROM lbl
    )
    SELECT r.cid, r.vec_id, CAST(r.rk AS INT) AS rk, q.quota
    FROM ranked r JOIN quotas q USING (cid)
    WHERE r.rk <= q.quota
    ORDER BY cid, rk
"""


def _diversity_oracle() -> str:
    from .cluster import N_RECOMPUTE, _oracle_rounds

    return _quota_sample_sql(
        f"WITH {_oracle_rounds()} "
        f"SELECT vec_id, cluster AS cid FROM a{N_RECOMPUTE}"
    )


def _d4_oracle() -> str:
    from ..oracle_utils import strip_order_by
    from .dedup import ORACLE_SQL as _D

    return _quota_sample_sql(
        f"SELECT vec_id, cid FROM ({strip_order_by(_D['dedup_semantic'])}) "
        f"WHERE is_kept = 1"
    )


ORACLE_SQL["curate_diversity_sample"] = _diversity_oracle()
ORACLE_SQL["pipeline_curate_d4"] = _d4_oracle()


def pipeline_curate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline with the r8 boilerplate stage composed in —
    the full pre-training document flow: language filter -> sub-document
    boilerplate strip (:func:`boilerplate_strip`) -> drop docs whose every
    segment was boilerplate -> token-length floor on the CLEANED length ->
    exact dedup on the cleaned-text hash (keep lowest doc_id). Ordering
    matters and is deliberate: stripping runs BEFORE the length floor and
    dedup, so a document that is 90% boilerplate is judged (and deduped)
    by what remains — the standard C4/RefinedWeb staging.

    One declarative plan: the lang filter reaches the scan; the strip
    contributes its one segment-hash shuffle + reassembly aggregate; the
    dedup adds one map-side-combinable min agg on the clean hash. Output
    is (doc_id, n_kept, clean_n_chars, clean_hash) for surviving docs —
    the same hash-exact gate columns as the strip stage.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == CURATE_LANG
    )
    cleaned = boilerplate_strip(docs.select("doc_id", "text")).filter(
        (F.col("n_kept") > 0)
        # length floor on the CLEANED text: char-based (clean_n_chars is
        # already computed and engine-exact), with 5 chars standing in
        # for one token-plus-space at this corpus's word lengths
        & (F.col("clean_n_chars") >= MIN_TOKENS * 5)
    )
    keeper = cleaned.groupBy("clean_hash").agg(F.min("doc_id").alias("keep_id"))
    return (
        cleaned.join(keeper, "clean_hash")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "n_kept", "clean_n_chars", "clean_hash")
        .orderBy("doc_id")
    )


def _curate_clean_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip

    # the strip stage's oracle, retargeted at the lang-filtered corpus;
    # fail loudly if the source clause stops being unique (the blind
    # replace would then retarget the wrong scan)
    strip_sql = _strip(ORACLE_SQL["curate_boilerplate"])
    assert strip_sql.count("FROM documents") == 1, "boilerplate oracle drifted"
    strip_sql = strip_sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE lang = '{CURATE_LANG}')",
        1,
    )
    return f"""
    WITH cleaned AS (
        SELECT * FROM ({strip_sql})
        WHERE n_kept > 0 AND clean_n_chars >= {MIN_TOKENS * 5}
    ),
    keeper AS (
        SELECT clean_hash, MIN(doc_id) AS keep_id FROM cleaned GROUP BY 1
    )
    SELECT c.doc_id, c.n_kept, c.clean_n_chars, c.clean_hash
    FROM cleaned c JOIN keeper k
      ON c.clean_hash = k.clean_hash AND c.doc_id = k.keep_id
    ORDER BY c.doc_id
"""


ORACLE_SQL["pipeline_curate_clean"] = _curate_clean_oracle()


def pipeline_curate_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline in one declarative plan — what "a
    reference user switches their whole job to this repo" means for the
    [EXTENDED] surface: language filter -> sub-document boilerplate strip
    -> cleaned-length floor -> exact dedup on the cleaned hash (all of
    :func:`pipeline_curate_clean`) -> NEAR-dup cluster representatives
    (:func:`..operators.graph.dedup_cc`, served from the persisted pair
    cache, so the expensive detection amortizes across the whole family)
    -> greedy fixed-budget sequence packing of the survivors. Output is
    one row per surviving document with its packed (seq_id, seq_offset)
    layout — the artifact a training-data loader consumes.

    Catalyst schedules the whole chain as one plan: filters reach the
    scan, the strip contributes its segment-hash shuffle, both dedups are
    map-side-combinable aggs/joins, and packing is one window. Like
    :func:`text_pack_sequences`, the packing window orders the single
    surviving language globally — a production run shards the window key
    ((lang, hash-bucket)) to bound partition size; the lang-only form
    keeps the oracle simple.
    """
    from .graph import dedup_cc

    clean = pipeline_curate_clean(spark, sf_dir)
    reps = (
        dedup_cc(spark, sf_dir)
        .filter(F.col("is_representative") == 1)
        .select("doc_id")
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    surv = clean.join(reps, "doc_id").join(toks, "doc_id")
    w = Window.orderBy("doc_id")
    packed = surv.withColumn(
        "cum_end",
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return packed.select(
        "doc_id",
        "n_kept",
        "clean_hash",
        "n_tokens",
        F.expr(f"(cum_end - n_tokens) div {PACK_BUDGET}").alias("seq_id"),
        F.expr(f"(cum_end - n_tokens) % {PACK_BUDGET}").alias("seq_offset"),
    ).orderBy("doc_id")


def _curate_all_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip
    from .graph import ORACLE_SQL as _G

    return f"""
    WITH clean AS (
        SELECT doc_id, n_kept, clean_hash
        FROM ({_strip(ORACLE_SQL["pipeline_curate_clean"])})
    ),
    reps AS (
        SELECT doc_id FROM ({_strip(_G["dedup_cc"])})
        WHERE is_representative = 1
    ),
    toks AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\\s+')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT c.doc_id, c.n_kept, c.clean_hash, t.n_tokens,
               CAST(SUM(t.n_tokens) OVER (ORDER BY c.doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
        FROM clean c
        JOIN reps r ON r.doc_id = c.doc_id
        JOIN toks t ON t.doc_id = c.doc_id
    )
    SELECT doc_id, n_kept, clean_hash, n_tokens,
           (cum_end - n_tokens) // {PACK_BUDGET} AS seq_id,
           (cum_end - n_tokens) % {PACK_BUDGET} AS seq_offset
    FROM packed
    ORDER BY doc_id
"""


ORACLE_SQL["pipeline_curate_all"] = _curate_all_oracle()


# data-loader shards the packed sequences are distributed over
N_SHARDS = 8


def curate_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifests: every packed sequence (from
    :func:`text_pack_sequences`'s (lang, seq_id) layout) is assigned to
    one of ``N_SHARDS`` data-loader shards round-robin by the sequence's
    global dense rank, and the manifest is emitted per shard — sequence
    count, document count, token total, and an in-band EXACT balance
    certificate (round-robin makes per-shard sequence counts differ by
    at most 1; ``is_balanced`` states it from the data).

    Round-robin over the rank, not hash-mod: hash assignment is
    multinomially uneven (the slowest shard gates the training step), and
    the rank is computed on the SEQUENCE manifest — corpus/budget rows,
    metadata-sized at any corpus scale — not on documents, so the
    single-partition rank window is deliberate (same argument as the
    CUSUM day table). Documents then join their shard through the
    broadcast seq→shard map and aggregate per shard.
    """
    packed = text_pack_sequences(spark, sf_dir).select(
        "doc_id", "lang", "n_tokens", "seq_id"
    )
    seqs = packed.select("lang", "seq_id").distinct()
    rw = Window.orderBy("lang", "seq_id")
    seq_shard = seqs.withColumn(
        "shard", (F.dense_rank().over(rw) % N_SHARDS).cast("long")
    )
    per_shard = (
        packed.join(F.broadcast(seq_shard), ["lang", "seq_id"])
        .groupBy("shard")
        .agg(
            F.count_distinct("lang", "seq_id").alias("n_seqs"),
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_shard.withColumn(
            "is_balanced",
            (
                F.max("n_seqs").over(wall) - F.min("n_seqs").over(wall) <= 1
            ).cast("long"),
        )
        .select("shard", "n_seqs", "n_docs", "total_tokens", "is_balanced")
        .orderBy("shard")
    )


def _shard_assign_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip_order_by

    packed = _strip_order_by(ORACLE_SQL["text_pack_sequences"])
    return f"""
    WITH packed AS ({packed}),
    seqs AS (SELECT DISTINCT lang, seq_id FROM packed),
    seq_shard AS (
        SELECT lang, seq_id,
               (DENSE_RANK() OVER (ORDER BY lang, seq_id)) % {N_SHARDS}
                   AS shard
        FROM seqs
    ),
    per_shard AS (
        SELECT s.shard,
               COUNT(DISTINCT (p.lang, p.seq_id)) AS n_seqs,
               COUNT(*) AS n_docs,
               SUM(p.n_tokens) AS total_tokens
        FROM packed p JOIN seq_shard s USING (lang, seq_id)
        GROUP BY 1
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_seqs AS BIGINT) AS n_seqs,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(CASE WHEN MAX(n_seqs) OVER () - MIN(n_seqs) OVER () <= 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_balanced
    FROM per_shard
    ORDER BY shard
    """


ORACLE_SQL["curate_shard_assign"] = _shard_assign_oracle()


N_EPOCHS = 2  # epochs materialized by the ordering query


def curate_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: every packed sequence gets
    a position in each epoch by ranking on md5(epoch, lang, seq_id) — a
    different but REPRODUCIBLE global permutation per epoch, which is how
    a data loader reshuffles 100 TB between epochs without coordinated
    RNG state: the permutation IS a hash, so any worker can recompute any
    sequence's position from the key alone.

    Completes the loader chain: text_train_split (membership) →
    text_pack_sequences (layout) → curate_shard_assign (placement) →
    epoch order (this). The rank window runs over the metadata-sized
    sequence manifest x N_EPOCHS (same single-partition argument as the
    shard assigner); per-epoch positions are a permutation of 1..n_seqs
    by construction — pinned by pytest, visible to the oracle through
    exact hash equality of every (epoch, seq, position) row.
    """
    packed = text_pack_sequences(spark, sf_dir).select("lang", "seq_id")
    seqs = packed.distinct()
    epochs = spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = seqs.crossJoin(F.broadcast(epochs)).withColumn(
        "h",
        F.expr(
            "CAST(conv(substr(md5(concat(epoch, ':', lang, ':', seq_id)),"
            " 1, 15), 16, 10) AS BIGINT)"
        ),
    )
    w = Window.partitionBy("epoch").orderBy("h", "lang", "seq_id")
    return (
        keyed.select(
            "epoch",
            "lang",
            "seq_id",
            F.row_number().over(w).cast("long").alias("position"),
        )
        .orderBy("epoch", "position")
    )


def _epoch_shuffle_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip

    packed = _strip(ORACLE_SQL["text_pack_sequences"])
    return f"""
    WITH packed AS ({packed}),
    seqs AS (SELECT DISTINCT lang, seq_id FROM packed),
    epochs AS (SELECT unnest(range(0, {N_EPOCHS})) AS epoch),
    keyed AS (
        SELECT e.epoch, s.lang, s.seq_id,
               ('0x' || substr(md5(e.epoch || ':' || s.lang || ':'
                                   || s.seq_id), 1, 15))::BIGINT AS h
        FROM seqs s CROSS JOIN epochs e
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, lang, seq_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                                   ORDER BY h, lang, seq_id) AS BIGINT)
               AS position
    FROM keyed
    ORDER BY epoch, position
    """


ORACLE_SQL["curate_epoch_shuffle"] = _epoch_shuffle_oracle()


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (component-aware)
# ---------------------------------------------------------------------------


def curate_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test assignment — the eval-integrity
    version of :func:`text_train_split`: the hash bucket is computed on
    the document's near-dup COMPONENT label, not its own id, so an
    entire duplicate cluster always lands in one split and a test
    document can never have a near-duplicate sitting in train (the
    classic benchmark-leakage failure that per-doc hashing cannot
    prevent). Same md5 determinism contract: same corpus -> same split,
    on any cluster, forever; appending data never flips an existing
    document's split because its component label is the min reachable
    doc_id, which is stable under append for already-connected docs.

    Plan/scale: component labels come from the persisted LSH pair cache
    + CC (amortized, identity-keyed); the split itself is a row-local
    hash — map-only on top of the labels, no extra shuffle.
    """
    from .graph import dedup_cc

    cc = dedup_cc(spark, sf_dir).select("doc_id", "component")
    bucket = _hash_bucket("component")
    return cc.select(
        "doc_id",
        "component",
        bucket.alias("bucket"),
        F.when(bucket < TEST_PCT, "test")
        .when(bucket < TEST_PCT + VAL_PCT, "val")
        .otherwise("train")
        .alias("split"),
    ).orderBy("doc_id")


def _leakage_split_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip
    from .graph import ORACLE_SQL as _G

    return f"""
        WITH cc AS (
            SELECT doc_id, component FROM ({_strip(_G["dedup_cc"])})
        ),
        b AS (
            SELECT doc_id, component,
                   ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT
                       % {SPLIT_BUCKETS} AS bucket
            FROM cc
        )
        SELECT doc_id, component, bucket,
               CASE WHEN bucket < {TEST_PCT} THEN 'test'
                    WHEN bucket < {TEST_PCT + VAL_PCT} THEN 'val'
                    ELSE 'train' END AS split
        FROM b
        ORDER BY doc_id
    """


ORACLE_SQL["curate_leakage_split"] = _leakage_split_oracle()


# ---------------------------------------------------------------------------
# Exact mixture apportionment (largest-remainder)
# ---------------------------------------------------------------------------

MIXTURE_TOTAL = 301  # sample budget to apportion (deliberately not a
# multiple of the uniform source count, so the remainder path is live)


def curate_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mixture apportionment — the step between mixing WEIGHTS
    (:func:`curate_source_mix` / :func:`curate_lang_temperature`) and the
    SAMPLER: convert per-source weights (character mass) into integer
    per-source quotas that sum to EXACTLY ``MIXTURE_TOTAL``, via
    largest-remainder (Hamilton) apportionment. Floor quotas alone
    under-fill the budget by up to |sources| samples; the remainder
    top-up assigns the missing slots to the sources with the largest
    fractional parts (ties broken by source asc). Pure integer
    arithmetic — base = (N*w) div W, remainder = (N*w) mod W — so the
    plan is bit-identical cross-engine and reproducible forever.

    Plan/scale: one source-keyed aggregate (map-side combinable), two
    1-row broadcast crosses (total mass, floor-sum deficit), one window
    over the SOURCES table (domain-count-sized, not corpus-sized — a
    few thousand rows at web scale, so the global window is free).
    """
    docs = load_table(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(
        F.sum(F.col("n_chars").cast("bigint")).alias("w")
    )
    tot = weights.agg(F.sum("w").cast("bigint").alias("tot_w"))
    based = (
        weights.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            F.expr(f"({MIXTURE_TOTAL} * w) div tot_w").alias("base_quota"),
            F.expr(f"({MIXTURE_TOTAL} * w) % tot_w").alias("rem"),
        )
    )
    deficit = based.agg(
        (F.lit(MIXTURE_TOTAL) - F.sum("base_quota")).cast("bigint").alias("deficit")
    )
    w_rank = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    return (
        based.crossJoin(F.broadcast(deficit))
        .withColumn("rk", F.row_number().over(w_rank))
        .select(
            "source",
            "w",
            F.col("base_quota").cast("bigint").alias("base_quota"),
            (F.col("rk") <= F.col("deficit")).cast("int").alias("extra"),
            (F.col("base_quota") + (F.col("rk") <= F.col("deficit")).cast("bigint"))
            .cast("bigint")
            .alias("quota"),
        )
        .orderBy("source")
    )


ORACLE_SQL["curate_mixture_plan"] = f"""
    WITH weights AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot_w FROM weights),
    based AS (
        SELECT source, w,
               ({MIXTURE_TOTAL} * w) // tot_w AS base_quota,
               ({MIXTURE_TOTAL} * w) % tot_w AS rem
        FROM weights, tot
    ),
    deficit AS (
        SELECT CAST({MIXTURE_TOTAL} - SUM(base_quota) AS BIGINT) AS deficit
        FROM based
    ),
    ranked AS (
        SELECT source, w, base_quota, rem,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
        FROM based
    )
    SELECT source, w,
           CAST(base_quota AS BIGINT) AS base_quota,
           CAST(rk <= deficit AS INT) AS extra,
           CAST(base_quota + CAST(rk <= deficit AS BIGINT) AS BIGINT) AS quota
    FROM ranked, deficit
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Quality filter-cascade funnel report
# ---------------------------------------------------------------------------

FUNNEL_MIN_CHARS = 100  # stage 1: drop tiny fragments
# stage 2 reuses MIN_TOKENS; stage 3: stopword ratio >= 1/20 (en-ish
# prose signal); stage 4: top bigram must be < 1/5 of all bigrams
# (Gopher top-n-gram repetition cap — see text.text_repetition)


def _funnel_signals(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Per-document funnel-gate inputs shared by :func:`curate_quality_
    funnel`, :func:`pipeline_curate_policy` and :func:`pipeline_curate_v2`
    (one definition so the three can never drift): doc_id [+ ``extra``
    passthrough columns] + n_chars, fb, n_tokens, n_stop, n2, top2.

    r15: every token signal consumes EFFECTIVE tokens
    (:func:`..text._cjk_effective_tokens` — codepoint-bigram fallback
    when whitespace tokenization is degenerate, i.e. unsegmented/CJK
    text), so the MIN_TOKENS gate stops seeing a CJK document as ONE
    giant token and the repetition grams are over real units. ``fb``
    (the fallback fired) lets the anglocentric stopword gate pass such
    documents through. On segmented documents the kernel's else-branch
    is filter(split(text,'\\s+'), x<>'') — bit-identical gate inputs by
    construction (planted-CJK differentials in tests/test_r15_ops.py).

    The (tk, fb) pair comes from the shared
    :func:`..text._with_effective_tokens` definition, and the gram HOFs
    reference tk through a projection boundary (the 189 s vs ~2 s
    lesson of funnel_flags_row_local). Measured kernel cost vs the
    pre-r15 raw-split gates: ~0.2 s (~15%) on the funnel at sf0.1.
    """
    from .text import STOPWORDS as _STOPS, _with_effective_tokens

    stop_arr = F.array(*[F.lit(s) for s in _STOPS])
    tk = _with_effective_tokens(
        docs,
        "doc_id",
        *extra,
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    sig = tk.select(
        "doc_id",
        *extra,
        "n_chars",
        "fb",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.size(F.filter(F.col("tk"), lambda w: F.array_contains(stop_arr, w)))
        .cast("bigint")
        .alias("n_stop"),
        "tk",
    )
    base = sig.drop("tk")
    # r15 (optimization): the bigram histogram — the funnel's only
    # corpus-sized shuffle (measured x100 exponent 1.15) — is computed
    # ONLY for documents that already pass the row-local gates 1-3.
    # Sound by construction: every consumer reads (n2, top2) exclusively
    # through gate 4 CONJOINED with gates 1-3 (the cascade c4 and the
    # pass filter), so a doc killed by a row-local gate never has its
    # histogram row observed; restricting the explode only removes rows
    # whose (n2, top2) were dead values. At 100 TB the funnel's kill
    # rate on gates 1-3 shrinks the gram shuffle by the same fraction.
    bg_src = sig.filter(
        (F.col("n_chars") >= FUNNEL_MIN_CHARS)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("fb") | (F.col("n_stop") * 20 >= F.col("n_tokens")))
    )
    bg = (
        bg_src.select("doc_id", F.col("tk").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> array_join(slice(toks, i + 1, 2), ' '))"
                )
            ).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n2"),
            F.max("c").cast("bigint").alias("top2"),
        )
    )
    return base.join(bg, "doc_id", "left")


def _funnel_pass_filter(sig: DataFrame) -> DataFrame:
    """Documents passing EVERY funnel gate (the pipelines' composed
    form of the per-stage flags; fallback docs pass the anglocentric
    stopword gate — same choice as curate_quality_funnel's g3)."""
    return sig.filter(
        (F.col("n_chars") >= FUNNEL_MIN_CHARS)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("fb") | (F.col("n_stop") * 20 >= F.col("n_tokens")))
        & (F.coalesce("top2", F.lit(0)) * 5 < F.coalesce("n2", F.lit(0)))
    )


def curate_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality FILTER-CASCADE FUNNEL — the report every curation run
    ships alongside its output: how many documents survive each gate,
    applied in order, and how many each gate kills. Gates (all integer
    predicates over signals this repo already computes as standalone
    operators): (1) min length in chars, (2) min EFFECTIVE tokens
    (r15: :func:`..text._cjk_effective_tokens` — codepoint-bigram
    fallback for unsegmented scripts, bit-identical to whitespace
    tokens on segmented text), (3) stopword ratio >= 5% (prose-vs-noise,
    the :func:`..text.text_quality` signal; passes fallback docs
    through — the gate is anglocentric by construction), (4) Gopher
    top-bigram repetition cap over effective tokens
    (:func:`..text.text_repetition`'s top_count/n_grams < 20%).
    Emits one row per stage: survivors after the stage and documents
    dropped AT that stage — the numbers a data lead reads to see which
    gate is eating the corpus.

    Plan/scale: per-doc flags are one narrow map plus one doc-keyed
    bigram histogram (map-side combinable, skew bounded by doc length);
    the funnel itself is ONE conditional aggregation over the flags —
    cumulative AND chains as SUM(CASE), so a 100 TB corpus pays a
    single pass regardless of how many gates the cascade grows.
    """
    docs = load_table(spark, sf_dir, "documents")
    flags = (
        _funnel_signals(docs)
        .select(
            (F.col("n_chars") >= FUNNEL_MIN_CHARS).alias("g1"),
            (F.col("n_tokens") >= MIN_TOKENS).alias("g2"),
            # the stopword-ratio prose signal is anglocentric — it cannot
            # apply to an unsegmented (fallback) document, so gate 3
            # passes those through instead of silently killing them
            # (language routing is text_langid's job, not this gate's)
            (F.col("fb") | (F.col("n_stop") * 20 >= F.col("n_tokens"))).alias(
                "g3"
            ),
            (
                (F.coalesce("top2", F.lit(0)) * 5 < F.coalesce("n2", F.lit(0)))
            ).alias("g4"),
        )
        .select(
            "g1",
            (F.col("g1") & F.col("g2")).alias("c2"),
            (F.col("g1") & F.col("g2") & F.col("g3")).alias("c3"),
            (F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")).alias("c4"),
        )
    )
    return funnel_stage_stack(funnel_survivor_agg(flags))


def funnel_survivor_agg(flags: DataFrame) -> DataFrame:
    """(g1, c2, c3, c4) boolean flags -> ONE row of cumulative survivor
    counts (s0..s4). The counts are plain integer SUMs — additive and
    commutative — which is exactly why the streaming twin
    (:func:`..streaming.curate_stream.stream_quality_funnel`) can
    maintain the same row incrementally in state."""
    return flags.agg(
        F.count("*").cast("bigint").alias("s0"),
        F.sum(F.col("g1").cast("bigint")).cast("bigint").alias("s1"),
        F.sum(F.col("c2").cast("bigint")).cast("bigint").alias("s2"),
        F.sum(F.col("c3").cast("bigint")).cast("bigint").alias("s3"),
        F.sum(F.col("c4").cast("bigint")).cast("bigint").alias("s4"),
    )


def funnel_stage_stack(agg: DataFrame) -> DataFrame:
    """1-row (s0..s4) survivor counts -> the 5-row funnel report."""
    stages = (
        ("0", "'input'", "s0", "CAST(0 AS BIGINT)"),
        ("1", "'min_chars'", "s1", "s0 - s1"),
        ("2", "'min_tokens'", "s2", "s1 - s2"),
        ("3", "'stopword_ratio'", "s3", "s2 - s3"),
        ("4", "'repetition_cap'", "s4", "s3 - s4"),
    )
    rows = ", ".join(
        f"struct(CAST({idx} AS INT) AS stage_idx, {name} AS stage,"
        f" {surv} AS survivors, {drop} AS dropped)"
        for idx, name, surv, drop in stages
    )
    return (
        agg.select(F.explode(F.expr(f"array({rows})")).alias("r"))
        .select("r.stage_idx", "r.stage", "r.survivors", "r.dropped")
        .orderBy("stage_idx")
    )


def funnel_flags_row_local(docs: DataFrame) -> DataFrame:
    """The funnel's cumulative gate flags computed entirely ROW-LOCALLY
    (no shuffle, no doc-keyed histogram): the top-bigram count comes from
    a per-row higher-order expression over the document's own gram array
    (O(distinct x grams) per row — bounded by ingestion-time document
    length where the streaming monitor runs; the batch report keeps the
    skew-safe exploded histogram for arbitrarily long archive documents).
    Two algorithms, one semantics: the streaming gate hash-equals the
    batch oracle."""
    from .text import STOPWORDS as _STOPS, _with_effective_tokens

    stop_arr = F.array(*[F.lit(s) for s in _STOPS])
    # r15: same EFFECTIVE-token gates as the batch funnel (stream ==
    # batch hash-equality is the module's law). The token array comes
    # from the STAGED projection (split/strip once per row) and the HOF
    # lambdas reference it as an attribute — inlining would re-tokenize
    # the document once per invocation (the 189 s vs ~2 s lesson below
    # applies to the kernel exactly as it did to split()).
    with_tk = _with_effective_tokens(
        docs, F.col("n_chars").cast("bigint").alias("n_chars")
    )
    # materialize the gram array as a column FIRST: inlining it into the
    # top2 lambda would re-split the document once per distinct gram
    # (measured 189 s vs ~2 s on 5k docs)
    with_grams = with_tk.select(
        "n_chars",
        "fb",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.size(F.filter(F.col("tk"), lambda w: F.array_contains(stop_arr, w)))
        .cast("bigint")
        .alias("n_stop"),
        F.expr(
            "CASE WHEN size(tk) >= 2 THEN"
            " transform(sequence(0, size(tk) - 2),"
            " i -> array_join(slice(tk, i + 1, 2), ' '))"
            " ELSE CAST(array() AS array<string>) END"
        ).alias("grams"),
    )
    base = with_grams.select(
        "n_chars",
        "fb",
        "n_tokens",
        "n_stop",
        F.expr("CAST(size(grams) AS BIGINT)").alias("n2"),
        F.expr(
            "CAST(coalesce(array_max(transform(array_distinct(grams),"
            " g -> size(filter(grams, x -> x = g)))), 0) AS BIGINT)"
        ).alias("top2"),
    )
    return base.select(
        (F.col("n_chars") >= FUNNEL_MIN_CHARS).alias("g1"),
        (F.col("n_tokens") >= MIN_TOKENS).alias("g2"),
        # anglocentric stopword gate passes fallback docs through — same
        # choice as the batch funnel (hash-equality law)
        (F.col("fb") | (F.col("n_stop") * 20 >= F.col("n_tokens"))).alias("g3"),
        (F.col("top2") * 5 < F.col("n2")).alias("g4"),
    ).select(
        "g1",
        (F.col("g1") & F.col("g2")).alias("c2"),
        (F.col("g1") & F.col("g2") & F.col("g3")).alias("c3"),
        (F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")).alias("c4"),
    )


from .text import STOPWORDS as _TEXT_STOPS  # noqa: E402  (oracle interpolation)

_FUNNEL_STOPS = ", ".join(f"'{s}'" for s in _TEXT_STOPS)

ORACLE_SQL["curate_quality_funnel"] = f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               regexp_split_to_array(text, '\\s+') AS toks
        FROM documents
    ),
    base AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks, w -> list_contains(
                   [{_FUNNEL_STOPS}], w)))
                   AS BIGINT) AS n_stop
        FROM t
    ),
    g AS (
        SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS gram
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 1)) AS i
              FROM t WHERE len(toks) >= 2)
    ),
    hist AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
    bg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
               CAST(MAX(c) AS BIGINT) AS top2
        FROM hist GROUP BY doc_id
    ),
    flags AS (
        SELECT (b.n_chars >= {FUNNEL_MIN_CHARS}) AS g1,
               (b.n_tokens >= {MIN_TOKENS}) AS g2,
               (b.n_stop * 20 >= b.n_tokens) AS g3,
               (COALESCE(bg.top2, 0) * 5 < COALESCE(bg.n2, 0)) AS g4
        FROM base b LEFT JOIN bg ON b.doc_id = bg.doc_id
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
               CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
                   AS BIGINT) AS s4
        FROM flags
    )
    SELECT CAST(0 AS INT) AS stage_idx, 'input' AS stage,
           s0 AS survivors, CAST(0 AS BIGINT) AS dropped FROM agg
    UNION ALL
    SELECT 1, 'min_chars', s1, s0 - s1 FROM agg
    UNION ALL
    SELECT 2, 'min_tokens', s2, s1 - s2 FROM agg
    UNION ALL
    SELECT 3, 'stopword_ratio', s3, s2 - s3 FROM agg
    UNION ALL
    SELECT 4, 'repetition_cap', s4, s3 - s4 FROM agg
    ORDER BY stage_idx
"""


# ---------------------------------------------------------------------------
# CCNet-style per-language perplexity buckets
# ---------------------------------------------------------------------------

CCNET_BUCKETS = 3  # head / middle / tail


def curate_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020): within every language, rank documents by corpus-LM fluency
    (:func:`..text.text_lm_score`'s integer ``mean_pq`` — higher =
    more probable under the corpus model = lower perplexity) and cut
    the ranking into ``CCNET_BUCKETS`` equal tertiles: *head* (most
    fluent — kept outright in CCNet), *middle* (kept for capacity), and
    *tail* (dropped or down-weighted). ``NTILE`` over a TOTAL order
    (mean_pq desc, doc_id asc) keeps the cut deterministic and
    cross-engine exact; documents with fewer than two tokens have no
    transitions and are excluded upstream by the scorer (a real
    pipeline routes them to the length gate instead — see
    :func:`curate_quality_funnel` stage 2).

    Plan/scale: the LM scoring cost dominates (two model joins — at
    100 TB the model tables are the persisted artifact of
    :func:`..text.text_lm_append`); the bucketing itself is one
    language-partitioned window, language keys being few and
    well-populated (skew = corpus language imbalance, bounded by the
    same per-language sort every temperature sampler already pays).
    """
    from .text import text_lm_score

    scored = text_lm_score(spark, sf_dir).select("doc_id", "mean_pq")
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("mean_pq").desc(), F.col("doc_id").asc()
    )
    bucket_idx = F.ntile(CCNET_BUCKETS).over(w)
    return (
        scored.join(langs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "mean_pq",
            bucket_idx.cast("int").alias("bucket_idx"),
        )
        .withColumn(
            "bucket",
            F.when(F.col("bucket_idx") == 1, "head")
            .when(F.col("bucket_idx") == 2, "middle")
            .otherwise("tail"),
        )
        .orderBy("doc_id")
    )


def _ccnet_buckets_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip
    from .text import ORACLE_SQL as _T

    return f"""
        WITH scored AS (
            SELECT doc_id, mean_pq FROM ({_strip(_T["text_lm_score"])})
        ),
        b AS (
            SELECT s.doc_id, d.lang, s.mean_pq,
                   CAST(NTILE({CCNET_BUCKETS}) OVER (
                       PARTITION BY d.lang
                       ORDER BY s.mean_pq DESC, s.doc_id ASC
                   ) AS INT) AS bucket_idx
            FROM scored s JOIN documents d ON s.doc_id = d.doc_id
        )
        SELECT doc_id, lang, mean_pq, bucket_idx,
               CASE bucket_idx WHEN 1 THEN 'head'
                               WHEN 2 THEN 'middle'
                               ELSE 'tail' END AS bucket
        FROM b
        ORDER BY doc_id
    """


ORACLE_SQL["curate_ccnet_buckets"] = _ccnet_buckets_oracle()


# ---------------------------------------------------------------------------
# The composed curation POLICY pipeline (funnel x canonical x split)
# ---------------------------------------------------------------------------


def pipeline_curate_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 curation-policy operators composed into the manifest a
    training loader actually consumes: a document survives iff it passes
    EVERY quality-funnel gate (:func:`curate_quality_funnel`'s cascade)
    AND it is the quality-argmax canonical of its near-dup component
    (:func:`..graph.dedup_canonical_pick`), and each survivor carries its
    leakage-safe train/val/test assignment
    (:func:`curate_leakage_split`). One declarative plan: Catalyst pushes
    the cheap gates to the scan, the expensive component labels come from
    the persisted pair cache, and the oracle nests the three ops'
    SQL so the composition can never drift from its parts.
    """
    from .graph import dedup_canonical_pick

    docs = load_table(spark, sf_dir, "documents")
    passing = _funnel_pass_filter(_funnel_signals(docs)).select(
        "doc_id", "n_tokens"
    )
    canon = (
        dedup_canonical_pick(spark, sf_dir)
        .filter(F.col("is_canonical") == 1)
        .select("doc_id")
    )
    split = curate_leakage_split(spark, sf_dir).select("doc_id", "split")
    return (
        passing.join(canon, "doc_id").join(split, "doc_id")
        .select("doc_id", "n_tokens", "split")
        .orderBy("doc_id")
    )


def _curate_policy_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip
    from .graph import ORACLE_SQL as _G

    return f"""
        WITH t AS (
            SELECT doc_id, n_chars, regexp_split_to_array(text, '\\s+') AS toks
            FROM documents
        ),
        base AS (
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(toks, w -> list_contains(
                       [{_FUNNEL_STOPS}], w)))
                       AS BIGINT) AS n_stop
            FROM t
        ),
        g AS (
            SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS gram
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM t WHERE len(toks) >= 2)
        ),
        hist AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        bg AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
                   CAST(MAX(c) AS BIGINT) AS top2
            FROM hist GROUP BY doc_id
        ),
        passing AS (
            SELECT b.doc_id, b.n_tokens
            FROM base b LEFT JOIN bg ON b.doc_id = bg.doc_id
            WHERE b.n_chars >= {FUNNEL_MIN_CHARS}
              AND b.n_tokens >= {MIN_TOKENS}
              AND b.n_stop * 20 >= b.n_tokens
              AND COALESCE(bg.top2, 0) * 5 < COALESCE(bg.n2, 0)
        ),
        canon AS (
            SELECT doc_id FROM ({_strip(_G["dedup_canonical_pick"])})
            WHERE is_canonical = 1
        ),
        split AS (
            SELECT doc_id, split FROM ({_strip(ORACLE_SQL["curate_leakage_split"])})
        )
        SELECT p.doc_id, p.n_tokens, s.split
        FROM passing p
        JOIN canon c ON p.doc_id = c.doc_id
        JOIN split s ON p.doc_id = s.doc_id
        ORDER BY p.doc_id
    """


ORACLE_SQL["pipeline_curate_policy"] = _curate_policy_oracle()


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (r12)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64  # hashed n-gram feature space
DSIR_SCALE = 1_000_000  # per-gram ratio fixed-point scale
DSIR_U_MOD = 1 << 32  # md5 draw modulus (8 hex digits)


def _dsir_weights(docs: DataFrame, dists: DataFrame | None = None) -> DataFrame:
    """Kernel of :func:`curate_dsir_sample` (DataFrame-in for the
    property tests): per-document integer importance weights under the
    hashed-bigram bag model. ``dists`` overrides the in-plan bucket
    counts with a stored estimator (the r13 store path — see
    :func:`build_dsir_counts`); counts are identical either way, so the
    sampler's output is hash-unchanged.

    Feature extraction: word bigrams of the whitespace tokens, hashed
    into DSIR_BUCKETS buckets via the repo's md5 bucket convention (the
    only hash both engines compute identically). Target distribution =
    the CURATE_LANG documents' buckets; raw = ALL documents' buckets, so
    target counts never exceed raw counts — which bounds every per-gram
    ratio at DSIR_SCALE and keeps the whole computation inside int64.

    Weight: DSIR's importance is the product over the document's grams
    of p_target(bucket)/p_raw(bucket); the global normalizers D_raw/D_t
    are constant across buckets and the resampling rule below is
    invariant under global scaling, so they drop out, leaving the
    add-1-smoothed count ratio (t_b+1)/(r_b+1) per gram. Each ratio is
    fixed-pointed as ``((t_b+1)*DSIR_SCALE) div (r_b+1)`` (exact integer
    algebra — the ``curate_lang_temperature`` discipline; a float
    product or a log-sum would break the cross-engine hash at the last
    ulp) and the per-document weight is the integer MEAN over its grams
    (the length-normalized log-importance surrogate: long documents
    don't dominate by gram count alone). Documents with fewer than two
    tokens have no features and are not weighted (excluded)."""
    gb = _dsir_gb(docs)  # shared feature extraction (the shift gate too)
    if dists is None:
        dists = dsir_bucket_counts(gb)
    per_gram = gb.join(F.broadcast(dists), "b").select(
        "doc_id",
        "lang",
        F.expr(f"((tc + 1) * {DSIR_SCALE}) div (r + 1)").alias("wg"),
    )
    return per_gram.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.expr("CAST(sum(wg) div count(*) AS BIGINT)").alias("w"),
    )


def curate_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169,
    "Data Selection for Language Models via Importance Resampling") —
    the target-distribution reweighting the curation family lacked: its
    quotas/temperature/tertiles shape the corpus by label or by a
    per-document quality score, but none of them select raw documents
    for RESEMBLING a trusted target corpus. DSIR's recipe: hashed n-gram
    bag features, per-document importance weight = target/raw bucket
    frequency ratio under the bag model, then sample raw documents with
    probability proportional to the weight.

    Implementation is the deterministic/exact-integer translation (see
    :func:`_dsir_weights` for the weight algebra): the sampling draw is
    the repo's standard md5 derandomization — ``u = first 8 md5 hex
    digits of doc_id`` uniform in [0, 2^32) — and a document is kept iff
    ``u * w_max < w * 2^32`` (keep probability w/w_max, the Bernoulli
    form of importance resampling; cross-multiplied so no division ever
    happens: u < 2^32, w <= DSIR_SCALE, both products < 2^53 — exact in
    int64 on both engines). Output: the sampled manifest (doc_id, lang,
    n_grams, w, u), ordered by doc_id.

    Scale (100 TB): feature hashing is a map-only projection (no raw
    text shuffled — grams hash to a 64-int bucket id stream); the two
    distribution estimates are DSIR_BUCKETS-row aggregates
    (map-side-combinable, broadcast back); weighting is a narrow map +
    one doc_id-keyed aggregate; selection is a row-local predicate under
    a 1-row broadcast max. Nothing in the plan grows faster than one
    pass over the corpus, which is the property that lets DSIR select
    from web-scale raw pools.
    """
    weights = _dsir_weights(
        load_table(spark, sf_dir, "documents"),
        # r13 (VERDICT item 3): the bucket counts come from the persisted
        # estimator — identical values, so the kept set is hash-unchanged,
        # but the plan loses its count-derivation corpus passes. The
        # registered sampler deliberately keeps the weight PASS in-plan
        # (the op measures scoring the pool); compositions read the
        # store-side weights table instead (r16 — _dsir_weights_stored).
        dists=_dsir_counts_stored(spark, sf_dir),
    )
    return _dsir_kept(weights).orderBy("doc_id")


ORACLE_SQL["curate_dsir_sample"] = f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    g0 AS (
        SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i FROM t
    ),
    g AS (
        SELECT doc_id, lang, tk[i] || ' ' || tk[i + 1] AS gram FROM g0
    ),
    gb AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(gram), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
        FROM g
    ),
    rawb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM gb GROUP BY b),
    tgtb AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
        FROM gb WHERE lang = '{CURATE_LANG}' GROUP BY b
    ),
    pg AS (
        SELECT gb.doc_id, gb.lang,
               ((COALESCE(tg.tc, 0) + 1) * {DSIR_SCALE}) // (r.r + 1) AS wg
        FROM gb JOIN rawb r USING (b) LEFT JOIN tgtb tg USING (b)
    ),
    pd AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(wg) // COUNT(*) AS BIGINT) AS w
        FROM pg GROUP BY doc_id, lang
    ),
    wm AS (SELECT MAX(w) AS wmax FROM pd),
    sel AS (
        SELECT doc_id, lang, n_grams, w,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
        FROM pd
    )
    SELECT doc_id, lang, n_grams, w, u
    FROM sel, wm
    WHERE u * wmax < w * {DSIR_U_MOD}
    ORDER BY doc_id
"""


def curate_dsir_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance gate for :func:`curate_dsir_sample` — the repo-wide law
    that every lossy/selective operator ships a measurable gate (the
    recall gates of the dedup family, the descent law of kmeans): DSIR's
    point is that the RESAMPLED corpus's feature distribution sits closer
    to the target's than the raw pool's does, so this op measures exactly
    that. Distance is total-variation-shaped and EXACT: for bucket-count
    distributions P (counts p_b, mass P_T) and Q, ``dist_num =
    Σ_b |p_b·Q_T − q_b·P_T|`` over the union bucket set with ``denom =
    P_T·Q_T`` (the L1 distance's exact integer numerator/denominator —
    all products bounded by gram-mass², inside int64 at any fixture
    scale; the reported ``dist`` double is ONE division of exact ints,
    IEEE-identical cross-engine). Two rows out: raw-vs-target and
    resampled-vs-target. The pytest gate asserts
    ``dist(resampled, target) < dist(raw, target)`` via exact
    cross-multiplication; the oracle pins both rows bit-for-bit.

    Scale: three DSIR_BUCKETS-row aggregates (the sample composes
    :func:`curate_dsir_sample`'s kept set — an output-sized semi-join on
    doc_id) and a 64-row map; nothing corpus-shaped beyond the one
    feature pass DSIR already makes.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r16: the kept set comes from the STORED weight table (byte-equal to
    # the sampler's in-plan weights by construction — see
    # build_dsir_counts), so the gate no longer re-scores the pool just
    # to learn which documents survived
    kept_ids = _dsir_kept(_dsir_weights_stored(spark, sf_dir)).select("doc_id")
    gb = _dsir_gb(docs)
    # raw and target counts from the persisted estimator (r13: one store
    # read replaces the bucket-aggregate corpus pass); the resampled
    # side needs its own pass through the kept-set semi-join
    rt = _dsir_counts_stored(spark, sf_dir)
    tgt = rt.select("b", F.col("tc").alias("c")).filter(F.col("c") > 0)
    raw = rt.select("b", F.col("r").alias("c"))
    res = (
        gb.join(kept_ids, "doc_id")
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c"))
    )

    def dist(p: DataFrame, label: str) -> DataFrame:
        pt = p.agg(F.sum("c").cast("long").alias("p_total"))
        qt = tgt.agg(F.sum("c").cast("long").alias("q_total"))
        both = (
            p.select("b", F.col("c").alias("p"))
            .join(tgt.select("b", F.col("c").alias("q")), "b", "full_outer")
            .select(
                F.coalesce("p", F.lit(0)).alias("p"),
                F.coalesce("q", F.lit(0)).alias("q"),
            )
            .crossJoin(F.broadcast(pt))
            .crossJoin(F.broadcast(qt))
        )
        return both.agg(
            F.sum(F.expr("abs(p * q_total - q * p_total)"))
            .cast("long")
            .alias("dist_num"),
            F.expr("CAST(min(p_total) * min(q_total) AS BIGINT)").alias("denom"),
        ).select(
            F.lit(label).alias("cmp"),
            "dist_num",
            "denom",
            F.expr("CAST(dist_num AS DOUBLE) / CAST(denom AS DOUBLE)").alias(
                "dist"
            ),
        )

    return dist(raw, "raw_vs_target").unionByName(
        dist(res, "resampled_vs_target")
    ).orderBy("cmp")


def dsir_bucket_counts(gb: DataFrame) -> DataFrame:
    """(b, r, tc): raw and target gram counts per bucket from ONE
    aggregate pass (conditional count folds the target filter in) — the
    two distribution estimates DSIR needs, shared by the weight kernel,
    the shift gate, and the streaming maintainer (the counts are plain
    integer SUMs, so the streamed state merges additively)."""
    return gb.groupBy("b").agg(
        F.count("*").cast("long").alias("r"),
        F.count(F.when(F.col("lang") == CURATE_LANG, 1))
        .cast("long")
        .alias("tc"),
    )


def _dsir_gb(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b): the hashed-bigram bucket stream — the shared
    feature extraction of :func:`_dsir_weights` and the shift gate."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr("filter(split(text, '\\\\s+'), x -> x <> '')").alias("tk"),
    )
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("gram"),
    )
    return grams.select(
        "doc_id",
        "lang",
        (
            F.expr("CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)")
            % DSIR_BUCKETS
        ).alias("b"),
    )


def _dsir_shift_oracle() -> str:
    """Derived from the dsir-sample oracle's own CTE chain (fail-loud
    anchor) so the kept set and feature hashing can never drift."""
    sample_sql = ORACLE_SQL["curate_dsir_sample"]
    anchor = "    SELECT doc_id, lang, n_grams, w, u"
    if sample_sql.count(anchor) != 1:  # explicit: survives python -O
        raise RuntimeError("dsir-sample oracle anchor drifted")
    ctes = sample_sql.split("WITH", 1)[1].rsplit(anchor, 1)[0].rstrip().rstrip(",")
    return f"""
    WITH {ctes},
    kept AS (
        SELECT doc_id FROM sel, wm WHERE u * wmax < w * {DSIR_U_MOD}
    ),
    tgtc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c
        FROM gb WHERE lang = '{CURATE_LANG}' GROUP BY b
    ),
    rawc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM gb GROUP BY b),
    resc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c
        FROM gb JOIN kept USING (doc_id) GROUP BY b
    ),
    pair_raw AS (
        SELECT COALESCE(p.c, 0) AS p, COALESCE(q.c, 0) AS q
        FROM rawc p FULL OUTER JOIN tgtc q USING (b)
    ),
    pair_res AS (
        SELECT COALESCE(p.c, 0) AS p, COALESCE(q.c, 0) AS q
        FROM resc p FULL OUTER JOIN tgtc q USING (b)
    ),
    d_raw AS (
        SELECT 'raw_vs_target' AS cmp,
               CAST(SUM(ABS(p * (SELECT SUM(c) FROM tgtc)
                            - q * (SELECT SUM(c) FROM rawc))) AS BIGINT)
                   AS dist_num,
               CAST((SELECT SUM(c) FROM rawc) * (SELECT SUM(c) FROM tgtc)
                   AS BIGINT) AS denom
        FROM pair_raw
    ),
    d_res AS (
        SELECT 'resampled_vs_target' AS cmp,
               CAST(SUM(ABS(p * (SELECT SUM(c) FROM tgtc)
                            - q * (SELECT SUM(c) FROM resc))) AS BIGINT)
                   AS dist_num,
               CAST((SELECT SUM(c) FROM resc) * (SELECT SUM(c) FROM tgtc)
                   AS BIGINT) AS denom
        FROM pair_res
    ),
    u AS (SELECT * FROM d_raw UNION ALL SELECT * FROM d_res)
    SELECT cmp, dist_num, denom,
           CAST(dist_num AS DOUBLE) / CAST(denom AS DOUBLE) AS dist
    FROM u ORDER BY cmp
"""


ORACLE_SQL["curate_dsir_shift"] = _dsir_shift_oracle()


# ---------------------------------------------------------------------------
# Persisted DSIR estimator store (r13): build once, probe many
# ---------------------------------------------------------------------------


def build_dsir_counts(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the persisted DSIR estimator — the 64-row
    raw/target bucket-count table :func:`dsir_bucket_counts` derives,
    PLUS (r16, VERDICT r15 item 3) the per-document weight table the
    estimator scores over the training pool — written ONCE per source
    identity (the ANN-index/pair-cache store contract, via the shared
    identity-keyed cache dir, whose version key v2 invalidates pre-r16
    single-table layouts) and probed by downstream consumers instead of
    re-deriving from a corpus pass per run. Returns the store directory.

    At 100 TB the counts table IS the trained DSIR model (the hashed
    n-gram importance estimator of Xie et al. 2023) and the weights
    table is the model APPLIED to the pool — both deterministic
    functions of the source identity, so they are store members exactly
    like the minhash pair list or the Lloyd label table. The registered
    ops (:func:`curate_dsir_sample`, :func:`dsir_counts_cached`) still
    COMPUTE their result in-plan / read-back-verified per the
    store-discipline split; compositions (:func:`pipeline_curate_v2`'s
    dsir stage, the shift gate's kept set) read the weights parquet.
    """
    from ..catalog import build_once
    from .dedup import _pair_cache_dir

    base = _pair_cache_dir(spark, sf_dir, modality="dsir-counts")

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        dsir_bucket_counts(_dsir_gb(docs)).write.parquet(f"{stage}/counts")
        _dsir_weights(
            docs, dists=spark.read.parquet(f"{stage}/counts").select("b", "r", "tc")
        ).write.parquet(f"{stage}/weights")

    build_once(spark, base, "_DSIR_COUNTS_READY", build)
    return base


def _dsir_counts_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored (b, r, tc) estimator table, building it if absent."""
    base = build_dsir_counts(spark, sf_dir)
    return spark.read.parquet(f"{base}/counts").select("b", "r", "tc")


def _dsir_weights_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored per-document (doc_id, lang, n_grams, w) weight table,
    building the store if absent — byte-equal to
    ``_dsir_weights(docs, dists=_dsir_counts_stored(...))`` because it
    IS that expression, materialized once at store-build time."""
    base = build_dsir_counts(spark, sf_dir)
    return spark.read.parquet(f"{base}/weights").select(
        "doc_id", "lang", "n_grams", "w"
    )


def _dsir_kept(weights: DataFrame) -> DataFrame:
    """Importance-resampling tail shared by the in-plan sampler and the
    store-served compositions: the md5-derandomized Bernoulli draw
    u * wmax < w * 2^32 over a (doc_id, lang, n_grams, w) weight table.
    Emits the kept manifest (doc_id, lang, n_grams, w, u), unordered."""
    wmax = weights.agg(F.max("w").alias("wmax"))
    return (
        weights.withColumn(
            "u",
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
                " AS BIGINT)"
            ),
        )
        .crossJoin(F.broadcast(wmax))
        .filter(F.col("u") * F.col("wmax") < F.col("w") * F.lit(DSIR_U_MOD))
        .select("doc_id", "lang", "n_grams", "w", "u")
    )


def dsir_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered gate for :func:`build_dsir_counts`: build (or reuse)
    the persisted estimator and return it READ BACK from disk, so the
    differential proves what landed in the store — the oracle recomputes
    the same 64-row table from the shared feature-extraction CTE chain.
    """
    return _dsir_counts_stored(spark, sf_dir).orderBy("b")


ORACLE_SQL["dsir_counts_cached"] = f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    g0 AS (
        SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i FROM t
    ),
    g AS (
        SELECT doc_id, lang, tk[i] || ' ' || tk[i + 1] AS gram FROM g0
    ),
    gb AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(gram), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
        FROM g
    )
    SELECT b,
           CAST(COUNT(*) AS BIGINT) AS r,
           CAST(SUM(CASE WHEN lang = '{CURATE_LANG}' THEN 1 ELSE 0 END)
               AS BIGINT) AS tc
    FROM gb GROUP BY b ORDER BY b
"""


def _install(spark, partials: DataFrame, base: str, name: str) -> None:
    """Publish ``partials`` as the installment ``<base>/<name>`` of an
    additive store, once, under its own ``_<NAME>_READY`` marker (the
    contract :func:`_installed_names` discovers). :func:`..catalog.
    build_once` stages, renames and marks, and keeps a complete live
    child, so a crash at any point re-heals without double-counting."""
    from ..catalog import build_once

    def build(stage: str) -> None:
        partials.write.parquet(f"{stage}/{name}")

    build_once(spark, base, f"_{name.upper()}_READY", build)


def _merged_counts(spark, base: str, *names: str) -> DataFrame:
    """Read-time sum-merge of the store's installment tables."""
    merged = spark.read.parquet(*(f"{base}/{name}" for name in names))
    return merged.groupBy("b").agg(
        F.sum("r").cast("long").alias("r"),
        F.sum("tc").cast("long").alias("tc"),
    )


def dsir_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental estimator maintenance — the append twin
    :func:`..streaming.curate_stream.stream_dsir_counts` proves the
    merge law for (additive integer counts), landed on the batch store:
    the base corpus's (doc_id % APPEND_MOD != 0) counts persist once;
    the arriving batch installs ONLY its own partial counts; reads
    sum-merge. Append ≡ full rebuild holds exactly (the counts are plain
    SUMs), so the oracle is :func:`dsir_counts_cached`'s full-corpus SQL
    verbatim and hash-equality is the proof. Installments land via
    :func:`_install`, so every crash point re-heals without
    double-counting — pinned by tests/test_r13_ops.py's worst-point
    crash simulations.
    """
    from .dedup import APPEND_MOD, _pair_cache_dir

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % APPEND_MOD == 0

    base = _pair_cache_dir(spark, sf_dir, modality="dsir-batch")
    _install(spark, dsir_bucket_counts(_dsir_gb(docs.filter(~is_new))), base, "base")
    _install(spark, dsir_bucket_counts(_dsir_gb(docs.filter(is_new))), base, "batch")
    return _merged_counts(spark, base, "base", "batch").orderBy("b")


# append ≡ full rebuild (additive counts): same oracle, second path
ORACLE_SQL["dsir_counts_append"] = ORACLE_SQL["dsir_counts_cached"]


def dsir_counts_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator UNLEARNING: a revoked source's gram counts are
    installed NEGATED beside the model (the :func:`..text.text_lm_forget`
    algebra with the crash-safe :func:`_install` landing), the
    read-time sum-merge cancels them exactly (additive ints), and
    buckets that net to zero raw mass drop — bit-equal to retraining the
    estimator on the surviving corpus, at O(revoked-slice) cost. The
    oracle is the full retrain-without-the-source SQL."""
    from .dedup import _pair_cache_dir
    from .text import FORGET_SOURCE

    docs = load_table(spark, sf_dir, "documents")
    revoked = F.col("source") == FORGET_SOURCE

    base = _pair_cache_dir(spark, sf_dir, modality="dsir-unlearn")
    _install(spark, dsir_bucket_counts(_dsir_gb(docs)), base, "base")
    negated = dsir_bucket_counts(_dsir_gb(docs.filter(revoked))).select(
        "b", (-F.col("r")).alias("r"), (-F.col("tc")).alias("tc")
    )
    _install(spark, negated, base, "revoked")
    return (
        _merged_counts(spark, base, "base", "revoked")
        .filter(F.col("r") > 0)
        .orderBy("b")
    )


def _dsir_forget_oracle() -> str:
    # unlearning must be indistinguishable from never having seen the
    # source: the full rebuild on the surviving corpus
    from .text import FORGET_SOURCE

    sql = ORACLE_SQL["dsir_counts_cached"]
    if sql.count("FROM documents") != 1:  # explicit: survives python -O
        raise RuntimeError("dsir_counts_cached oracle anchor drifted")
    return sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE source <> '{FORGET_SOURCE}')",
    )


ORACLE_SQL["dsir_counts_forget"] = _dsir_forget_oracle()


# ---------------------------------------------------------------------------
# Best-fit sequence packing with a utilization certificate (r13)
# ---------------------------------------------------------------------------

PACK_FFD_BUCKETS = 8  # per-(lang, bucket) greedy scope — bounds the
# sequential fold (the salted-window discipline); production sizes this so
# a bucket's doc list fits one task
PACK_ENC = 1_000_000  # bin-state encoding: load * PACK_ENC + n_docs


def _ffd_fold_spark(lens_col: str, budget: int = PACK_BUDGET) -> str:
    """Spark SQL for the first-fit-decreasing left-fold over a sorted
    length array: state is an ARRAY<BIGINT> of per-bin encodings
    (``load * PACK_ENC + n_docs`` — one integer per bin keeps the fold
    state a plain list, exact on both engines); each document lands in
    the FIRST bin with room, else opens a new bin. The empty-state
    branch is explicit because Spark's ``sequence(1, 0)`` DESCENDS.

    The placement is slice/concat around the fit index — NOT a
    per-element ``transform`` whose lambda re-finds the index for every
    bin: that form re-evaluates the O(bins) first-fit filter once PER
    BIN per step (O(bins²) per document — measured 937 s at the x10
    corpus vs ~15 s for this form; semantics identical, so the DuckDB
    oracle is unchanged and hash equality pins the rewrite)."""
    first_fit = (
        f"filter(sequence(1, size(acc)),"
        f" i -> element_at(acc, i) div {PACK_ENC} + d <= {budget})"
    )
    idx = f"element_at({first_fit}, 1)"
    return f"""
        aggregate(
            {lens_col},
            CAST(array() AS ARRAY<BIGINT>),
            (acc, d) -> CASE
                WHEN size(acc) = 0 THEN array(d * {PACK_ENC} + 1)
                WHEN size({first_fit}) = 0
                    THEN concat(acc, array(d * {PACK_ENC} + 1))
                ELSE concat(
                    slice(acc, 1, {idx} - 1),
                    array(element_at(acc, {idx}) + d * {PACK_ENC} + 1),
                    slice(acc, {idx} + 1, size(acc) - {idx}))
            END)
    """


def curate_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-DECREASING sequence packing with an in-band utilization
    certificate (r12 VERDICT item 6) — the fill-optimizing packer beside
    :func:`text_pack_sequences`' pack-then-split layout: when documents
    must stay whole (no straddling the sequence boundary — instruction
    tuning, contrastive pairs, any sample-integrity constraint), packing
    efficiency is tokens-per-dollar at training time, and greedy
    arrival-order packing leaves large tails. Classic FFD: sort each
    scope's documents by token count descending (ties by doc_id), place
    each in the first sequence with room, open a new sequence otherwise.

    Scope is (lang, md5-bucket of doc_id): the greedy fold is inherently
    sequential, so hash-bucketing bounds each fold to one task's worth
    of documents (the salted-window discipline) and scopes pack in
    parallel — at 100 TB the bucket count scales with the corpus and
    the plan stays one groupBy + a map-only fold, no shuffle beyond the
    one keyed exchange. The fold state is a plain ARRAY<BIGINT> (one
    ``load * PACK_ENC + n_docs`` encoding per bin — integer-exact, and
    deliberately not an array-of-structs: the flat encoding is what
    both engines fold identically).

    Output: one row per packed sequence — (lang, bucket, seq_id,
    fill_tokens, n_docs) — plus ONE aggregate certificate row
    (lang='*', bucket=-1) whose ``seq_id`` carries the total sequence
    count and ``fill_tokens``/``n_docs`` the corpus totals, so
    utilization = fill_tokens / (seq_id * PACK_BUDGET) is auditable
    in-band; pytest pins it >= the arrival-order no-split packer's.
    """
    return _pack_bestfit_kernel(
        load_table(spark, sf_dir, "documents"), PACK_FFD_BUCKETS
    )


def _pack_bestfit_kernel(docs: DataFrame, n_buckets: int) -> DataFrame:
    """DataFrame-in kernel of :func:`curate_pack_bestfit` with the
    bucket count as a parameter: the registered query pins
    PACK_FFD_BUCKETS (the oracle needs the constant), but the SCALING
    CONTRACT is buckets ∝ corpus so each scope's doc list stays
    near-constant — the fold is O(scope_docs x scope_bins) per scope,
    so bounded scopes make total cost linear while a fixed bucket count
    makes it quadratic (the fixed-K SemDeDup harness artifact, same
    shape). ``tools/scale_smoke.py --packb`` measures exactly that;
    :func:`curate_pack_scaled` is the REGISTERED query exercising the
    linear contract (r13 VERDICT item 3)."""
    sized = docs.select(
        "lang",
        F.expr(
            f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
            f" AS BIGINT) % {n_buckets}"
        ).alias("bucket"),
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
        "doc_id",
    )
    return _ffd_pack(sized)


def _ffd_pack(sized: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Shared FFD tail of the packing family: ``sized`` is (lang,
    bucket, n_tokens, doc_id); each (lang, bucket) scope sorts by length
    descending (ties by doc_id), folds first-fit, and the output is one
    row per packed sequence plus the aggregate certificate row. Used by
    :func:`curate_pack_bestfit` (fixed buckets, whitespace lengths),
    :func:`curate_pack_scaled` (corpus-proportional buckets) and
    :func:`curate_pack_bpe` (tokenizer-faithful lengths, own budget)."""
    per = sized.groupBy("lang", "bucket").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-n_tokens AS neg,"
            " doc_id AS d))), s -> -s.neg)"
        ).alias("lens")
    )
    seqs = (
        per.select(
            "lang",
            "bucket",
            F.expr(_ffd_fold_spark("lens", budget)).alias("bins"),
        )
        .select("lang", "bucket", F.posexplode("bins").alias("pos", "enc"))
        .select(
            "lang",
            "bucket",
            F.col("pos").cast("long").alias("seq_id"),
            F.expr(f"enc div {PACK_ENC}").alias("fill_tokens"),
            F.expr(f"enc % {PACK_ENC}").alias("n_docs"),
        )
    )
    cert = seqs.agg(
        F.lit("*").alias("lang"),
        F.lit(-1).cast("long").alias("bucket"),
        F.count("*").cast("long").alias("seq_id"),
        F.sum("fill_tokens").cast("long").alias("fill_tokens"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )
    return seqs.unionByName(cert).orderBy("lang", "bucket", "seq_id")


_FFD_FIT_SQL = (
    f"list_filter(range(1, len(acc) + 1),"
    f" i -> acc[i] // {PACK_ENC} + x[1] <= {PACK_BUDGET})"
)

ORACLE_SQL["curate_pack_bestfit"] = f"""
    WITH sized AS (
        SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % {PACK_FFD_BUCKETS} AS bucket,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
                   AS n_tokens,
               doc_id
        FROM documents
    ),
    per AS (
        SELECT lang, bucket,
               list(n_tokens ORDER BY n_tokens DESC, doc_id) AS lens
        FROM sized GROUP BY lang, bucket
    ),
    folded AS (
        SELECT lang, bucket,
               -- sentinel-init left fold: DuckDB's no-init list_reduce
               -- uses the first element as the accumulator, so an empty
               -- list is prepended and each length rides in as [d]
               list_reduce(
                   [CAST([] AS BIGINT[])] || list_transform(lens, d -> [d]),
                   (acc, x) -> CASE
                       WHEN len(acc) = 0 THEN [x[1] * {PACK_ENC} + 1]
                       WHEN len({_FFD_FIT_SQL}) = 0
                           THEN list_append(acc, x[1] * {PACK_ENC} + 1)
                       ELSE list_transform(range(1, len(acc) + 1), j -> CASE
                           WHEN j = ({_FFD_FIT_SQL})[1]
                           THEN acc[j] + x[1] * {PACK_ENC} + 1
                           ELSE acc[j] END)
                   END) AS bins
        FROM per
    ),
    seqs AS (
        SELECT lang, bucket,
               CAST(generate_subscripts(bins, 1) - 1 AS BIGINT) AS seq_id,
               unnest(bins) AS enc
        FROM folded
    ),
    rws AS (
        SELECT lang, bucket, seq_id,
               enc // {PACK_ENC} AS fill_tokens,
               enc % {PACK_ENC} AS n_docs
        FROM seqs
    ),
    cert AS (
        SELECT '*' AS lang, CAST(-1 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS seq_id,
               CAST(SUM(fill_tokens) AS BIGINT) AS fill_tokens,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs
        FROM rws
    )
    SELECT * FROM rws UNION ALL SELECT * FROM cert
    ORDER BY lang, bucket, seq_id
"""


# ---------------------------------------------------------------------------
# Scale-shaped + tokenizer-faithful packing (r14, VERDICT r13 items 3-4)
# ---------------------------------------------------------------------------

PACK_SCALE_DOCS = 50  # target documents per packing scope: the bucket count
# is derived IN-PLAN as ceil(n_docs / PACK_SCALE_DOCS), so scopes stay
# near-constant as the corpus grows — the linear contract the fixed-K
# registered pin cannot exercise (x100 exponent 1.55 fixed vs 0.06 scaled)
PACK_BPE_BUDGET = 1024  # tokens per packed sequence in REAL (as-trained BPE)
# tokens — the budget a loader actually bills, vs PACK_BUDGET's whitespace
# stand-in


def _ffd_fold_duck(budget: int) -> str:
    """The DuckDB mirror of :func:`_ffd_fold_spark` with the budget as a
    parameter (the bestfit oracle keeps its original literal; the scaled
    and BPE oracles build from this so all folds share one text)."""
    fit = (
        f"list_filter(range(1, len(acc) + 1),"
        f" i -> acc[i] // {PACK_ENC} + x[1] <= {budget})"
    )
    return f"""list_reduce(
                   [CAST([] AS BIGINT[])] || list_transform(lens, d -> [d]),
                   (acc, x) -> CASE
                       WHEN len(acc) = 0 THEN [x[1] * {PACK_ENC} + 1]
                       WHEN len({fit}) = 0
                           THEN list_append(acc, x[1] * {PACK_ENC} + 1)
                       ELSE list_transform(range(1, len(acc) + 1), j -> CASE
                           WHEN j = ({fit})[1]
                           THEN acc[j] + x[1] * {PACK_ENC} + 1
                           ELSE acc[j] END)
                   END)"""


def _pack_oracle(sized_sql: str, budget: int, pre_ctes: str = "") -> str:
    """Shared packing-oracle tail: ``sized_sql`` must yield (lang,
    bucket, n_tokens, doc_id); the rest is the FFD fold + certificate,
    textually one implementation for every packer oracle."""
    return f"""
    WITH {pre_ctes}sized AS ({sized_sql}),
    per AS (
        SELECT lang, bucket,
               list(n_tokens ORDER BY n_tokens DESC, doc_id) AS lens
        FROM sized GROUP BY lang, bucket
    ),
    folded AS (
        SELECT lang, bucket, {_ffd_fold_duck(budget)} AS bins FROM per
    ),
    seqs AS (
        SELECT lang, bucket,
               CAST(generate_subscripts(bins, 1) - 1 AS BIGINT) AS seq_id,
               unnest(bins) AS enc
        FROM folded
    ),
    rws AS (
        SELECT lang, bucket, seq_id,
               enc // {PACK_ENC} AS fill_tokens,
               enc % {PACK_ENC} AS n_docs
        FROM seqs
    ),
    cert AS (
        SELECT '*' AS lang, CAST(-1 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS seq_id,
               CAST(SUM(fill_tokens) AS BIGINT) AS fill_tokens,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs
        FROM rws
    )
    SELECT * FROM rws UNION ALL SELECT * FROM cert
    ORDER BY lang, bucket, seq_id
"""


def curate_pack_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFD packing under the LINEAR scaling contract (r13 VERDICT item
    3): the (lang, bucket) scope count is derived IN-PLAN from the
    corpus size — ``n_buckets = ceil(n_docs / PACK_SCALE_DOCS)`` rides
    in as a 1-row broadcast cross (the w_max discipline, which the
    oracle mirrors as a scalar subquery) — so each scope's document
    list stays near-constant as the corpus grows and the greedy fold's
    total cost is linear in the corpus. :func:`curate_pack_bestfit`
    pins the deterministic fixed-K shape the oracle constant demands;
    THIS entry grades the shape you would actually run at 100 TB
    (``tools/scale_smoke.py --packb`` measured exponent 0.06 under
    buckets ∝ corpus vs 1.55 fixed). Same output contract: packed
    sequences + the in-band utilization certificate row.
    """
    docs = load_table(spark, sf_dir, "documents")
    nb = docs.agg(
        F.ceil(F.count("*") / F.lit(float(PACK_SCALE_DOCS)))
        .cast("long")
        .alias("nb")
    )
    sized = docs.crossJoin(F.broadcast(nb)).select(
        "lang",
        (
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
                " AS BIGINT)"
            )
            % F.col("nb")
        ).alias("bucket"),
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
        "doc_id",
    )
    return _ffd_pack(sized)


ORACLE_SQL["curate_pack_scaled"] = _pack_oracle(
    f"""SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % (SELECT CAST(CEIL(COUNT(*) / {PACK_SCALE_DOCS}.0) AS BIGINT)
                      FROM documents) AS bucket,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
                   AS n_tokens,
               doc_id
        FROM documents""",
    PACK_BUDGET,
)


def curate_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-FAITHFUL packing (r13 VERDICT item 4): per-document
    length is the as-trained BPE token count — the
    :func:`..text.text_bpe_apply` vocabulary join's ``n_symbols`` —
    instead of the whitespace ``split('\\s+')`` stand-in every other
    budget gate counts. Packing efficiency is tokens-per-dollar in REAL
    tokenizer tokens: whitespace counts under-bill long words and
    over-bill merged subwords, so a whitespace-budgeted pack either
    overflows or strands capacity once the loader tokenizes for real
    (the planted-corpus pytest pins the divergence). Budget is
    PACK_BPE_BUDGET real tokens; documents with no trainer-eligible
    words pack as zero-length rows (they cost the loader nothing).

    Plan: the vocab join is the apply op's broadcast-sized artifact +
    one doc-keyed aggregate, then the shared FFD tail — same shuffle
    structure as the other packers plus tokenizer application at scan
    speed. Buckets follow :func:`curate_pack_scaled`'s LINEAR contract
    (in-plan ceil(n_docs / PACK_SCALE_DOCS), oracle-mirrored as a
    scalar subquery) — the fixed-K form re-measured the bestfit
    harness artifact at x100 (exponent 1.19, 415 s) and the scaled form
    collapsed it. Oracle: the trainer's own CTE chain spliced under the
    shared fold SQL, so tokenizer and packer can never drift.
    """
    from .text import _bpe_doc_symbols

    docs = load_table(spark, sf_dir, "documents")
    lens = _bpe_doc_symbols(spark, sf_dir).select("doc_id", "n_symbols")
    nb = docs.agg(
        F.ceil(F.count("*") / F.lit(float(PACK_SCALE_DOCS)))
        .cast("long")
        .alias("nb")
    )
    sized = (
        docs.select("doc_id", "lang")
        .join(lens, "doc_id", "left")
        .crossJoin(F.broadcast(nb))
        .select(
            "lang",
            (
                F.expr(
                    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15),"
                    " 16, 10) AS BIGINT)"
                )
                % F.col("nb")
            ).alias("bucket"),
            F.coalesce("n_symbols", F.lit(0)).cast("long").alias("n_tokens"),
            "doc_id",
        )
    )
    return _ffd_pack(sized, budget=PACK_BPE_BUDGET)


def _pack_bpe_oracle() -> str:
    from .text import _bpe_doc_symbol_ctes

    return _pack_oracle(
        f"""SELECT d.lang,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % (SELECT CAST(CEIL(COUNT(*) / {PACK_SCALE_DOCS}.0) AS BIGINT)
                      FROM documents) AS bucket,
               COALESCE(a.n_symbols, CAST(0 AS BIGINT)) AS n_tokens,
               d.doc_id
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        PACK_BPE_BUDGET,
        pre_ctes=", ".join(_bpe_doc_symbol_ctes()) + ",\n    ",
    )


ORACLE_SQL["curate_pack_bpe"] = _pack_bpe_oracle()


# ---------------------------------------------------------------------------
# pipeline_curate_v2: the full loader-ready composition (r13)
# ---------------------------------------------------------------------------


def pipeline_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12-13 operator families composed into ONE loader-ready
    manifest (r12 VERDICT item 7): a document ships to training iff it

    1. passes every quality-funnel gate (:func:`curate_quality_funnel`'s
       cascade — the :func:`pipeline_curate_policy` stage, lang kept);
    2. is DECONTAMINATED by construction: not an eval document
       (doc_id < CONTAM_EVAL_DOCS) and free of any K-token run matching
       the eval window set (:func:`..text.text_contamination_excise`'s
       flag stage as a gate — the r12 VERDICT item 1 policy hookup);
    3. is the canonical of its near-dup component
       (:func:`..graph.dedup_canonical_pick`);
    4. survives DSIR importance resampling toward the target
       distribution (:func:`curate_dsir_sample`'s kept set, served from
       the persisted estimator);

    and each survivor carries its leakage-safe split
    (:func:`curate_leakage_split`) and its packed-sequence coordinates
    (:func:`text_pack_sequences`' pack-then-split layout, per
    (split, lang) so each loader packs independently). One declarative
    plan: cheap gates push to the scan, component labels, the DSIR
    estimator AND (r14) the contamination eval universe come from
    persisted identity-keyed artifacts (the universe broadcasts), and
    the only new shuffle beyond
    the stages' own is the final packing window. The oracle NESTS the
    stage SQLs verbatim (the fail-loud splice discipline), so the
    composition can never drift from its parts; pytest reconciles each
    stage's survivor set.
    """
    from .dedup import _span_windows
    from .graph import dedup_canonical_pick
    from .text import CONTAM_EVAL_DOCS, _contam_universe_stored

    docs = load_table(spark, sf_dir, "documents")
    passing = _funnel_pass_filter(_funnel_signals(docs, extra=("lang",))).select(
        "doc_id", "lang", "n_tokens"
    )
    # decontamination gate: the excise op's flag stage as an anti-join
    # (a doc has excised content iff it has >= 1 flagged window, so the
    # gate set equals the oracle's n_removed > 0 nest exactly); r14: the
    # eval universe is served from the persisted contamination index
    # (build_contam_index), not recomputed from the documents scan; its
    # broadcast hint is size-guarded at the source (r15 — an oversized
    # universe degrades this probe to a shuffled hash join)
    eval_h = _contam_universe_stored(spark, sf_dir)
    contam = (
        _span_windows(docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS))
        .join(eval_h, "h")
        .select("doc_id")
        .distinct()
    )
    decontam = passing.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS).join(
        contam, "doc_id", "left_anti"
    )
    canon = (
        dedup_canonical_pick(spark, sf_dir)
        .filter(F.col("is_canonical") == 1)
        .select("doc_id")
    )
    # r16 (VERDICT r15 item 3): the dsir stage reads the STORED weight
    # table instead of re-scoring the pool in-plan — the stage's corpus
    # pass (tokenize + bigram explode + md5 per gram + doc-keyed agg,
    # 1.14 s of this pipeline's 3.1 s at sf0.1) collapses to an
    # output-sized parquet scan + the Bernoulli tail. Byte-equal kept
    # set by construction (the store member IS the sampler's weight
    # expression, materialized at build time).
    kept = _dsir_kept(_dsir_weights_stored(spark, sf_dir)).select("doc_id")
    split = curate_leakage_split(spark, sf_dir).select("doc_id", "split")
    surv = (
        decontam.join(canon, "doc_id").join(kept, "doc_id").join(split, "doc_id")
    )
    wp = Window.partitionBy("split", "lang").orderBy("doc_id")
    packed = surv.withColumn(
        "cum_end",
        F.sum("n_tokens").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        "split",
        F.expr(f"(cum_end - n_tokens) div {PACK_BUDGET}").alias("seq_id"),
        F.expr(f"(cum_end - n_tokens) % {PACK_BUDGET}").alias("seq_offset"),
    ).orderBy("doc_id")


def _curate_v2_oracle() -> str:
    from ..oracle_utils import strip_order_by as _strip
    from .graph import ORACLE_SQL as _G
    from .text import ORACLE_SQL as _T

    return f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars,
                   regexp_split_to_array(text, '\\s+') AS toks
            FROM documents
        ),
        base AS (
            SELECT doc_id, lang,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(toks, w -> list_contains(
                       [{_FUNNEL_STOPS}], w)))
                       AS BIGINT) AS n_stop
            FROM t
        ),
        g AS (
            SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS gram
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM t WHERE len(toks) >= 2)
        ),
        hist AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        bg AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
                   CAST(MAX(c) AS BIGINT) AS top2
            FROM hist GROUP BY doc_id
        ),
        passing AS (
            SELECT b.doc_id, b.lang, b.n_tokens
            FROM base b LEFT JOIN bg ON b.doc_id = bg.doc_id
            WHERE b.n_chars >= {FUNNEL_MIN_CHARS}
              AND b.n_tokens >= {MIN_TOKENS}
              AND b.n_stop * 20 >= b.n_tokens
              AND COALESCE(bg.top2, 0) * 5 < COALESCE(bg.n2, 0)
        ),
        contam AS (
            SELECT doc_id FROM ({_strip(_T["text_contamination_excise"])})
            WHERE n_removed > 0
        ),
        decontam AS (
            SELECT p.doc_id, p.lang, p.n_tokens
            FROM passing p
            WHERE p.doc_id >= {_CONTAM_EVAL_DOCS_SQL}
              AND p.doc_id NOT IN (SELECT doc_id FROM contam)
        ),
        canon AS (
            SELECT doc_id FROM ({_strip(_G["dedup_canonical_pick"])})
            WHERE is_canonical = 1
        ),
        kept AS (
            SELECT doc_id FROM ({_strip(ORACLE_SQL["curate_dsir_sample"])})
        ),
        spl AS (
            SELECT doc_id, split
            FROM ({_strip(ORACLE_SQL["curate_leakage_split"])})
        ),
        surv AS (
            SELECT d.doc_id, d.lang, d.n_tokens, s.split
            FROM decontam d
            JOIN canon c ON d.doc_id = c.doc_id
            JOIN kept k ON d.doc_id = k.doc_id
            JOIN spl s ON d.doc_id = s.doc_id
        ),
        packed AS (
            SELECT doc_id, lang, n_tokens, split,
                   SUM(n_tokens) OVER (
                       PARTITION BY split, lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_end
            FROM surv
        )
        SELECT doc_id, lang, n_tokens, split,
               -- DuckDB's windowed SUM is HUGEINT: cast back to BIGINT
               CAST((cum_end - n_tokens) // {PACK_BUDGET} AS BIGINT) AS seq_id,
               CAST((cum_end - n_tokens) % {PACK_BUDGET} AS BIGINT) AS seq_offset
        FROM packed
        ORDER BY doc_id
    """


def _contam_eval_docs_sql() -> int:
    from .text import CONTAM_EVAL_DOCS

    return CONTAM_EVAL_DOCS


_CONTAM_EVAL_DOCS_SQL = _contam_eval_docs_sql()

ORACLE_SQL["pipeline_curate_v2"] = _curate_v2_oracle()


DSIR_COMPACT_FILES = 1  # the merged estimator is 64 rows — one file


def _installed_names(spark, base: str) -> list[str]:
    """The installment tables landed in an additive store: child
    directories of ``base`` that carry their own ``_<NAME>_READY``
    marker (the :func:`_install` contract). Sorted, so the manifest the
    compaction marker is keyed on is deterministic."""
    from ..catalog import hadoop_fs

    fs, bpath = hadoop_fs(spark, base)
    names = []
    for st in fs.listStatus(bpath):
        n = st.getPath().getName()
        if st.isDirectory() and not n.startswith("_"):
            _, m = hadoop_fs(spark, f"{base}/_{n.upper()}_READY")
            if fs.exists(m):
                names.append(n)
    return sorted(names)


def _compact_installments(spark, base: str, merge, n_files: int) -> None:
    """Materialize ``merge(spark, base, *names)`` over the store's
    installed installments into ``n_files`` files of
    ``<base>/counts_compact``. The marker is keyed on the manifest of
    installed names, so an installment landed after a compaction misses
    it and re-compacts; the rewrite replaces the live table through
    :func:`..catalog.swap_subtrees`, which marks last."""
    import hashlib

    from ..catalog import artifact_ready, swap_subtrees

    names = _installed_names(spark, base)
    manifest = hashlib.sha1("|".join(names).encode()).hexdigest()[:12]
    marker = f"_COMPACT_{manifest}_READY"
    if not artifact_ready(spark, f"{base}/{marker}"):
        merged = merge(spark, base, *names).repartition(n_files)
        merged.write.mode("overwrite").parquet(f"{base}/counts_compact_next")
        swap_subtrees(spark, base, ("counts_compact",), marker)


def dsir_counts_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-store maintenance: COMPACTION of the partial-count tree
    :func:`dsir_counts_append` accumulates (one small parquet file per
    appended batch, read-time sum-merge cost growing per append). The
    compactor materializes the merge into exactly DSIR_COMPACT_FILES
    file(s) (the :func:`..text.text_lm_compact` shape at 64-row scale),
    so post-compaction reads pay neither small-file overhead nor the
    merge aggregate. Same oracle as the full rebuild (third execution
    path of the estimator), and pytest pins the single-file layout.
    Completes the estimator lifecycle: build → append → compact →
    forget — the arc every persisted store carries.

    The compaction marker is keyed on the MANIFEST of installed
    installments (discovered, not hard-coded), so an installment landed
    after a compaction run misses the marker and triggers a re-compact
    (:func:`_compact_installments`) instead of serving a table frozen at
    the first compaction. Pinned by tests/test_r14_ops.py's
    third-installment replay.
    """
    from .dedup import _pair_cache_dir

    base = _pair_cache_dir(spark, sf_dir, modality="dsir-batch")
    dsir_counts_append(spark, sf_dir)  # ensure both installments exist
    _compact_installments(spark, base, _merged_counts, DSIR_COMPACT_FILES)
    return (
        spark.read.parquet(f"{base}/counts_compact")
        .select("b", "r", "tc")
        .orderBy("b")
    )


# compaction is a pure layout change: same oracle, third execution path
ORACLE_SQL["dsir_counts_compact"] = ORACLE_SQL["dsir_counts_cached"]
