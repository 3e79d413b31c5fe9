"""Text-analysis operators over the documents table.

[EXTENDED] north-star surface (SURVEY.md §2.12) — absent from the reference.

All four operators are pure JVM-side built-ins (split / regexp / md5 /
integer aggregates) inside whole-stage codegen — no UDFs, no Python in the
hot path. Outputs are integers and md5 strings only, so the DuckDB oracle
hash-matches exactly (no float ratios; consumers derive ratios from the
integer counts).

Scale: every operator is a narrow per-row map (or one doc-keyed aggregate
for the exploded-token forms) — embarrassingly parallel, no skew risk
beyond document length itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

# Marker vocabularies for the n-gram/stopword language-ID heuristic. On a
# natural-language corpus these would be the top function words per
# language; the mechanism (score = marker hits, argmax with lexicographic
# tie-break) is what the operator implements.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, total token
    length, longest token — the inputs to tokens-per-doc / type-token-ratio
    quality metrics. Integer outputs only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.expr(
            "aggregate(split(text, '\\\\s+'), CAST(0 AS BIGINT), (acc, w) -> acc + length(w))"
        ).alias("sum_token_len"),
        F.expr(
            "aggregate(split(text, '\\\\s+'), CAST(0 AS BIGINT), (acc, w) -> greatest(acc, length(w)))"
        ).alias("max_token_len"),
    ).orderBy("doc_id")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring inputs: char/space/stopword counts and a
    short-document flag. A downstream filter would combine these into a
    keep/drop decision; emitting raw integers keeps the operator exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (F.length("text") - F.length(F.regexp_replace("text", r"\s", ""))).alias("n_spaces"),
        F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).alias("n_stopwords"),
        F.size(toks).alias("n_tokens"),
        (F.length("text") < 50).cast("int").alias("is_short"),
    ).orderBy("doc_id")


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID: score each language by marker-token hits,
    predict the argmax (lexicographic tie-break), compare to the labeled
    lang. One doc-keyed aggregate; the marker table is a broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    markers = spark.createDataFrame(
        [(lang, w) for lang, ws in LANG_MARKERS.items() for w in ws],
        ["cand_lang", "marker"],
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", r"\s+")).alias("w")
    )
    scores = (
        toks.join(F.broadcast(markers), toks.w == markers.marker)
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    from pyspark.sql import Window

    # argmax with deterministic lexicographic tie-break
    w = Window.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), F.col("cand_lang").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "hits")
    )
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("unk")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).alias("marker_hits"),
            (F.col("lang") == F.coalesce("pred_lang", F.lit("unk"))).cast("int").alias("is_correct"),
        )
        .orderBy("doc_id")
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set (the
    classic 'fingerprint clustering' canonical form) plus a positional
    rolling hash (md5 chained over 8-token chunks, order-sensitive)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.split("text", r"\s+"))), " ")).alias(
            "set_fingerprint"
        ),
        F.expr(
            "aggregate(transform(sequence(1, CAST(ceil(size(split(text, '\\\\s+')) / 8.0) AS INT)),"
            " i -> array_join(slice(split(text, '\\\\s+'), (i - 1) * 8 + 1, 8), ' ')),"
            " 'seed', (acc, chunk) -> md5(concat(acc, '|', chunk)))"
        ).alias("rolling_fingerprint"),
    ).orderBy("doc_id")


_MARKER_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in LANG_MARKERS.items() for w in ws
)
_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

ORACLE_SQL = {
    "text_token_stats": """
        WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS sum_token_len,
               CAST(list_max(list_transform(toks, w -> length(w))) AS BIGINT) AS max_token_len
        FROM t ORDER BY doc_id
    """,
    "text_quality": f"""
        WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks FROM documents)
        SELECT doc_id,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_spaces,
               len(list_filter(toks, w -> list_contains([{_STOP_LIST}], w))) AS n_stopwords,
               len(toks) AS n_tokens,
               CAST(length(text) < 50 AS INT) AS is_short
        FROM t ORDER BY doc_id
    """,
    "text_langid": f"""
        WITH markers(cand_lang, marker) AS (VALUES {_MARKER_VALUES}),
        toks AS (
            SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents
        ),
        scores AS (
            SELECT doc_id, cand_lang, COUNT(*) AS hits
            FROM toks JOIN markers ON w = marker
            GROUP BY 1, 2
        ),
        pred AS (
            SELECT doc_id, cand_lang AS pred_lang, hits
            FROM scores
            QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY hits DESC, cand_lang ASC) = 1
        )
        SELECT d.doc_id, d.lang,
               COALESCE(p.pred_lang, 'unk') AS pred_lang,
               COALESCE(p.hits, 0) AS marker_hits,
               CAST(d.lang = COALESCE(p.pred_lang, 'unk') AS INT) AS is_correct
        FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id
    """,
    "text_fingerprint": """
        WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
        chunks AS (
            SELECT doc_id,
                   list_transform(generate_series(1, CAST(ceil(len(toks) / 8.0) AS INT)),
                       i -> array_to_string(toks[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ')) AS cs,
                   toks
            FROM t
        )
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS set_fingerprint,
               list_reduce(list_prepend('seed', cs), (acc, chunk) -> md5(acc || '|' || chunk)) AS rolling_fingerprint
        FROM chunks ORDER BY doc_id
    """,
}


TOP_NGRAMS = 20


def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word trigrams with counts — the n-gram frequency
    profile used for contamination checks and corpus fingerprinting. One
    shuffle (count per shingle) + a tiny global top-k; ties broken
    lexicographically for determinism."""
    from .dedup import _shingles

    sh = _shingles(load_table(spark, sf_dir, "documents"))
    return (
        sh.groupBy("s")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("s").asc())
        .limit(TOP_NGRAMS)
    )


ORACLE_SQL["text_top_ngrams"] = """
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(text, '\\s+')) AS w,
               generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    )
    SELECT s, COUNT(*) AS n_docs
    FROM sh
    GROUP BY s
    ORDER BY n_docs DESC, s ASC
    LIMIT 20
"""


CHUNK_TOKENS = 64
CHUNK_STEP = 48  # 16-token overlap between consecutive chunks


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: fixed-size token windows
    (CHUNK_TOKENS wide, CHUNK_STEP stride → 16-token overlap) — the
    context-window packing step of a training-data pipeline.

    Scale shape: pure per-row codegen (split → sequence → explode →
    slice) — a map-only fan-out with NO shuffle; chunk count per doc is
    data-proportional, so the operator streams at scan speed and the
    output partitioning inherits the input's. `sequence(0, hi)` is safe
    here because hi = (n_tokens-1) div STEP >= 0 always (split yields at
    least one element; Spark's sequence DESCENDS when hi < lo)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.split("text", r"\s+").alias("toks"),
        )
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(f"sequence(0, (size(toks) - 1) div {CHUNK_STEP})")
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * CHUNK_STEP).alias("start_tok"),
            F.size(
                F.slice(
                    F.col("toks"),
                    (F.col("chunk_id") * CHUNK_STEP + 1).cast("int"),
                    CHUNK_TOKENS,
                )
            ).alias("n_chunk_tokens"),
            F.array_join(
                F.slice(
                    F.col("toks"),
                    (F.col("chunk_id") * CHUNK_STEP + 1).cast("int"),
                    CHUNK_TOKENS,
                ),
                " ",
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


ORACLE_SQL["text_chunk"] = f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
        FROM documents
    ), x AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, (len(toks) - 1) // {CHUNK_STEP})) AS chunk_id
        FROM t
    )
    SELECT doc_id, chunk_id,
           chunk_id * {CHUNK_STEP} AS start_tok,
           len(toks[chunk_id * {CHUNK_STEP} + 1 : chunk_id * {CHUNK_STEP} + {CHUNK_TOKENS}]) AS n_chunk_tokens,
           array_to_string(toks[chunk_id * {CHUNK_STEP} + 1 : chunk_id * {CHUNK_STEP} + {CHUNK_TOKENS}], ' ') AS chunk_text
    FROM x
    ORDER BY doc_id, chunk_id
"""


# BPE-ish subword pattern: lowercase runs, digit runs, or punctuation runs —
# the pre-tokenization regex shape GPT-style BPE tokenizers apply before
# merges. Kept inside the RE2/Java-regex COMMON subset (no lookaround) so
# Spark and DuckDB extract identical token streams.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: subword-run counts per document next to the
    whitespace word count — the pair every context-length budgeter needs
    (words for humans, subword tokens for the model). A real tokenizer's
    merge table changes the constant factor, not the plan: this is one
    narrow regexp projection, no shuffle but the final sort."""
    docs = load_table(spark, sf_dir, "documents")
    sub = F.expr(f"regexp_extract_all(lower(text), '{BPE_PATTERN}', 0)")
    return docs.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("n_words"),
        F.size(sub).alias("n_subwords"),
        F.size(F.array_distinct(sub)).alias("n_distinct_subwords"),
        F.expr(
            f"aggregate(regexp_extract_all(lower(text), '{BPE_PATTERN}', 0),"
            " CAST(0 AS BIGINT), (acc, t) -> acc + length(t))"
        ).alias("sum_subword_len"),
    ).orderBy("doc_id")


ORACLE_SQL["text_bpe_tokens"] = f"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(text, '\\s+') AS words,
               regexp_extract_all(lower(text), '{BPE_PATTERN}') AS sub
        FROM documents
    )
    SELECT doc_id,
           len(words) AS n_words,
           len(sub) AS n_subwords,
           len(list_distinct(sub)) AS n_distinct_subwords,
           CAST(coalesce(list_sum(list_transform(sub, x -> length(x))), 0) AS BIGINT)
               AS sum_subword_len
    FROM t
    ORDER BY doc_id
"""


# PII-ish surface patterns in the RE2∩Java subset (no lookaround): email,
# long digit runs (phone/account/card), IPv4-shaped dotted quads
REDACT_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("NUM", r"[0-9]{7,}"),
    ("IP", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
)


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — the governance stage every training-data
    pipeline runs before anything else sees the text: surface-pattern
    matches (emails, long digit runs, IP-shaped quads) are counted and
    replaced with typed placeholders, and the output carries the redacted
    text's hash + length so the transform is auditable without shipping
    the text itself.

    Map-only (regexp_replace/count chain in whole-stage codegen, no
    Python); patterns stay in the RE2∩Java-compatible subset so the
    DuckDB oracle applies the identical automata. At 100 TB this runs at
    scan speed and is the cheapest stage to put FIRST, shrinking every
    downstream operator's input.
    """
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.col("text")
    counts = []
    for tag, pat in REDACT_PATTERNS:
        counts.append(
            F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).alias(
                f"n_{tag.lower()}"
            )
        )
        redacted = F.regexp_replace(redacted, pat, f"<{tag}>")
    return docs.select(
        "doc_id",
        *counts,
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


def _redact_oracle() -> str:
    counts = ",\n               ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{tag.lower()}"
        for tag, pat in REDACT_PATTERNS
    )
    red = "text"
    for tag, pat in REDACT_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '<{tag}>', 'g')"
    return f"""
        SELECT doc_id,
               {counts},
               length({red}) AS redacted_len,
               md5({red}) AS redacted_md5
        FROM documents
        ORDER BY doc_id
    """


ORACLE_SQL["text_redact"] = _redact_oracle()


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

CONTAM_EVAL_DOCS = 20  # doc_id < 20 stand in for the held-out benchmark set
CONTAM_PCT = 10  # contaminated iff overlap >= 1/10 of the doc's shingles


def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    3-gram shingles overlap a held-out eval set (doc_id < CONTAM_EVAL_DOCS
    stands in for the benchmark corpus) by >= 1/CONTAM_PCT of the doc's
    own shingles — the n-gram contamination filter run before training so
    eval answers don't leak into the training corpus.

    Scale shape: the eval shingle universe is benchmark-sized (tiny next
    to the corpus) and broadcasts; each training doc is then scored by a
    broadcast hash join + one keyed count — a single corpus-wide pass, no
    corpus self-join. The contamination rule is integer arithmetic
    (CONTAM_PCT * n_overlap >= n_shingles), exact on both engines.
    """
    from .dedup import _shingles

    docs = load_table(spark, sf_dir, "documents")
    # one exchange materializes the shingle table for all three consumers
    # (eval universe, overlap agg, sizes agg) via ReusedExchange — without
    # it each subtree re-runs the corpus scan + explode (the
    # dedup_ngram_jaccard pattern); doc_id partitioning also lets both
    # downstream doc_id aggregates skip their own shuffle
    sh = _shingles(docs).repartition("doc_id")
    eval_sh = (
        sh.filter(F.col("doc_id") < CONTAM_EVAL_DOCS).select("s").distinct()
    )
    train = sh.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS)
    overlap = (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        sizes.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (
                CONTAM_PCT * F.coalesce("n_overlap", F.lit(0))
                >= F.col("n_shingles")
            )
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


ORACLE_SQL["text_contamination_check"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(text, '\\s+')) AS w,
               generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ),
    eval_sh AS (
        SELECT DISTINCT s FROM sh WHERE doc_id < {CONTAM_EVAL_DOCS}
    ),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id >= {CONTAM_EVAL_DOCS}),
    overlap AS (
        SELECT t.doc_id, COUNT(*) AS n_overlap
        FROM train t JOIN eval_sh e ON t.s = e.s
        GROUP BY t.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id)
    SELECT z.doc_id,
           z.n_shingles,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           CAST({CONTAM_PCT} * COALESCE(o.n_overlap, 0) >= z.n_shingles AS INT)
               AS contaminated
    FROM sizes z LEFT JOIN overlap o ON z.doc_id = o.doc_id
    ORDER BY z.doc_id
"""


def text_contamination_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination as a REMOVAL stage (r12 VERDICT item 1) — the
    step :func:`text_contamination_check` only reports on: every
    training-document token run that verbatim-matches a K_SPAN-token
    window of the held-out eval set (doc_id < CONTAM_EVAL_DOCS, the
    benchmark stand-in) is excised and the survivors reassembled in
    order, so eval answers cannot leak into the training corpus by
    construction. Any flagged maximal span is removed — a verbatim
    >= K_SPAN-token overlap with a benchmark IS contamination, so unlike
    the boilerplate policy (:func:`..dedup.dedup_dup_excise`, which
    keeps short duplicated runs below Lee et al.'s removal threshold)
    there is no minimum length beyond the window size itself. Output:
    one row per TRAINING document — (doc_id, n_tokens, n_removed,
    kept_hash, kept_chars), the span family's integer/string-exact gate
    columns.

    Composition of two proven kernels: the span family's window hashing
    + gaps-and-islands merge (:func:`..dedup._span_windows` /
    :func:`.._merge_flagged_spans`) with the flag source swapped from
    "repeats in another document" to "appears in the eval window set",
    then the shared excision tail (:func:`..dedup._excise_spans`).

    r14 (VERDICT r13 item 2): the eval window universe is SERVED FROM
    the persisted contamination index (:func:`build_contam_index`) —
    benchmarks version continuously, so the universe is a build-once /
    probe-many artifact like every other store, not a per-run eval-side
    window pass. Hash-unchanged vs the in-plan form (the store holds
    exactly the distinct eval window hashes); pinned by
    tests/test_r14_ops.py.

    Scale: the eval window universe is benchmark-sized and BROADCASTS
    (like the check's shingle join), so flagging is a map-side hash join
    over the corpus window stream — no shuffle keyed on window hash at
    all, which makes this CHEAPER than dup-span detection at the same
    corpus size; the islands merge and excision are output-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS)
    return _excise_against(train, _contam_universe_stored(spark, sf_dir))


def _contamination_excise_kernel(docs: DataFrame) -> DataFrame:
    """DataFrame-in kernel of :func:`text_contamination_excise` with the
    eval universe computed IN-PLAN (so the planted-corpus tests drive
    crafted corpora through the exact flag/merge/excise stages without a
    store; the production op serves the same universe from the persisted
    index — equality of the two paths is itself pinned)."""
    from .dedup import _span_windows

    eval_h = (
        _span_windows(docs.filter(F.col("doc_id") < CONTAM_EVAL_DOCS))
        .select("h")
        .distinct()
    )
    return _excise_against(
        docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS), F.broadcast(eval_h)
    )


def _excise_against(train: DataFrame, eval_h: DataFrame) -> DataFrame:
    """Shared excision tail of the contamination family: flag every
    K-token window of ``train`` whose hash appears in ``eval_h`` (a
    benchmark-sized (h) table), merge consecutive flags into maximal
    spans, excise. The CALLER decides the join strategy — store-served
    paths pass a DataFrame whose broadcast hint is size-guarded
    (:func:`_contam_universe_stored` / the forget path's guard), the
    planted-test kernel passes an explicitly hinted in-plan set — so an
    oversized universe degrades to a shuffled hash join instead of an
    unconditional broadcast (r15). Used by
    :func:`text_contamination_excise` (store-served universe),
    :func:`_contamination_excise_kernel` (in-plan universe, planted
    tests) and :func:`contam_index_forget` (post-retraction universe)."""
    from .dedup import K_SPAN, _excise_spans, _merge_flagged_spans, _span_windows

    if K_SPAN != CONTAM_K:  # oracle built from the local constant —
        raise RuntimeError("CONTAM_K drifted from dedup.K_SPAN")
    flagged = (
        _span_windows(train)
        .join(eval_h, "h")
        .select("doc_id", "i")
    )
    return _excise_spans(train, _merge_flagged_spans(flagged), K_SPAN)


CONTAM_K = 8  # MUST equal dedup.K_SPAN (runtime-asserted above; a module-
# load import of dedup here would close the text -> dedup -> similarity ->
# text oracle-splice cycle, so the value is mirrored instead)


def _contamination_excise_oracle() -> str:
    K_SPAN = CONTAM_K
    return f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ),
    w0 AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) - {K_SPAN} + 2)) AS i FROM t
    ),
    w AS (
        SELECT doc_id, i,
               md5(array_to_string(list_slice(toks, i, i + {K_SPAN} - 1), ' ')) AS h
        FROM w0
    ),
    ev AS (SELECT DISTINCT h FROM w WHERE doc_id < {CONTAM_EVAL_DOCS}),
    flagged AS (
        SELECT w.doc_id, w.i FROM w JOIN ev USING (h)
        WHERE w.doc_id >= {CONTAM_EVAL_DOCS}
    ),
    grp AS (
        SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS g
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, MIN(i) AS span_start, MAX(i) AS last_w
        FROM grp GROUP BY doc_id, g
    ),
    spans_arr AS (
        SELECT doc_id,
               list_sort(list(struct_pack(
                   s := CAST(span_start AS BIGINT),
                   e := CAST(last_w + {K_SPAN - 1} AS BIGINT)))) AS sp
        FROM spans GROUP BY doc_id
    ),
    tok AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS tk
        FROM documents WHERE doc_id >= {CONTAM_EVAL_DOCS}
    ),
    joined AS (
        SELECT t.doc_id, t.tk, COALESCE(a.sp, []) AS sp
        FROM tok t LEFT JOIN spans_arr a USING (doc_id)
    ),
    kept AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               list_transform(
                   list_filter(range(1, len(tk) + 1),
                               i -> len(list_filter(sp,
                                        x -> i >= x.s AND i <= x.e)) = 0),
                   i -> tk[i]) AS kept
        FROM joined
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
           md5(COALESCE(array_to_string(kept, ' '), '')) AS kept_hash,
           CAST(length(COALESCE(array_to_string(kept, ' '), '')) AS BIGINT)
               AS kept_chars
    FROM kept
    ORDER BY doc_id
"""


ORACLE_SQL["text_contamination_excise"] = _contamination_excise_oracle()


# ---------------------------------------------------------------------------
# Persisted contamination eval-window index (r14): build / probe / append /
# forget — the store lifecycle for the one broadcast artifact that lacked it
# ---------------------------------------------------------------------------

CONTAM_RETRACT_MOD = 4  # eval docs with doc_id % 4 == 0 play the RETRACTED
# benchmark release the forget op purges ({0, 4, 8, 12, 16} of the 20 eval
# stand-ins — chosen so the retracted set includes eval docs that actually
# flag training windows at BOTH pytest and driver scales: at sf0.01 only
# eval doc 8 contaminates, so a retract set missing it would make the
# forget differential indistinguishable from the plain excise)


def _eval_window_counts(docs: DataFrame, pred) -> DataFrame:
    """(h, c): the K-token window hashes of the eval documents selected
    by ``pred``, WITH their window multiplicity ``c``. The count is what
    makes the store's set algebra exact under subtraction: a hash
    contributed by two benchmark releases must survive the retraction of
    one (plain hash deletion would over-forget), so installments carry
    additive counts (the :func:`..curate.dsir_counts_forget` /
    :func:`text_lm_forget` algebra) and the probe set is ``c > 0``."""
    from .dedup import _span_windows

    return (
        _span_windows(docs.filter(pred))
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("c"))
    )


def build_contam_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the persisted contamination eval-window index:
    the distinct window-hash table of the held-out benchmark set
    (doc_id < CONTAM_EVAL_DOCS), with multiplicities, written ONCE per
    source identity (the pair-cache/ANN-index contract) and broadcast by
    every decontamination probe (:func:`text_contamination_excise`,
    :func:`..curate.pipeline_curate_v2`'s gate) instead of re-running
    the eval-corpus window pass per run. Returns the store directory.

    At 100 TB the eval set is benchmark-sized but the CORPUS pass this
    removes is not free either — what the store really buys is the
    lifecycle: a new benchmark release is an APPEND installment
    (:func:`contam_index_append`), a retracted benchmark a negated one
    (:func:`contam_index_forget`), never a rebuild-the-world."""
    from ..catalog import build_once
    from .dedup import _pair_cache_dir

    base = _pair_cache_dir(spark, sf_dir, modality="contam-eval")

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        universe = _eval_window_counts(docs, F.col("doc_id") < CONTAM_EVAL_DOCS)
        universe.write.parquet(f"{stage}/universe")

    build_once(spark, base, "_CONTAM_UNIVERSE_READY", build)
    return base


CONTAM_BROADCAST_MAX_BYTES = 256 << 20  # spill threshold for the eval
# universe broadcast (r15, VERDICT r14 item 5): the universe grows with
# the BENCHMARK SET, not the corpus — normally a few MB — but it was the
# one unguarded broadcast among the persisted stores. 256 MB on-disk
# parquet decompresses to well under the 8 GB broadcast hard cap and the
# driver/executor headroom; past it, probes fall back to a shuffled hash
# join instead of OOMing the driver.


def _universe_fits_broadcast(spark: SparkSession, path: str) -> bool:
    """True iff the persisted universe artifact at ``path`` is under the
    broadcast threshold. Absent/fresh stores count as fitting (the
    build contract is benchmark-sized); only a real oversized artifact
    flips probes onto the spill path."""
    from ..catalog import hadoop_fs

    try:
        fs, p = hadoop_fs(spark, path)
        return fs.getContentSummary(p).getLength() <= CONTAM_BROADCAST_MAX_BYTES
    except Exception:  # noqa: BLE001 — absent path / local-FS quirks
        return True


def _contam_universe_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored eval window-hash set (h), building the index if
    absent — the small side of every store-served probe. Carries the
    broadcast hint iff the persisted artifact is under
    CONTAM_BROADCAST_MAX_BYTES (probes join it UNWRAPPED; the hint — or
    its guarded absence — travels with this DataFrame)."""
    base = build_contam_index(spark, sf_dir)
    uni = spark.read.parquet(f"{base}/universe").select("h")
    if _universe_fits_broadcast(spark, f"{base}/universe"):
        return F.broadcast(uni)
    return uni


def contam_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered gate for :func:`build_contam_index`: build (or reuse)
    the index and return it READ BACK from disk ordered by hash, so the
    differential proves what landed in the store — the oracle recomputes
    the same (h, c) table from the eval documents' window CTE."""
    base = build_contam_index(spark, sf_dir)
    return (
        spark.read.parquet(f"{base}/universe").select("h", "c").orderBy("h")
    )


def _contam_window_cte() -> str:
    """The (doc_id, i, h) window CTE chain — textually the excise
    oracle's, shared so the index oracles can never drift from the
    probe's span semantics."""
    return f"""
    t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ),
    w0 AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) - {CONTAM_K} + 2)) AS i FROM t
    ),
    w AS (
        SELECT doc_id, i,
               md5(array_to_string(list_slice(toks, i, i + {CONTAM_K} - 1), ' ')) AS h
        FROM w0
    )"""


ORACLE_SQL["contam_index_build"] = f"""
    WITH {_contam_window_cte()}
    SELECT h, CAST(COUNT(*) AS BIGINT) AS c
    FROM w WHERE doc_id < {CONTAM_EVAL_DOCS}
    GROUP BY h ORDER BY h
"""


def _merged_window_counts(spark, base: str, *names: str) -> DataFrame:
    """Read-time sum-merge of the index's installment tables (the
    :func:`..curate._merged_counts` shape on the (h, c) schema); hashes
    whose count nets to zero drop out."""
    merged = spark.read.parquet(*(f"{base}/{name}" for name in names))
    return (
        merged.groupBy("h")
        .agg(F.sum("c").cast("long").alias("c"))
        .filter(F.col("c") > 0)
    )


def contam_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A NEW benchmark release lands as an APPEND installment: the base
    releases' window counts persist once (eval docs with
    doc_id % APPEND_MOD != 0), the arriving release (doc_id %
    APPEND_MOD == 0) installs ONLY its own counts, and reads sum-merge.
    Window hashes depend only on each document, so append ≡ full
    rebuild holds exactly — the oracle is :func:`contam_index_build`'s
    full-universe SQL verbatim and hash-equality is the proof. Each
    installment is published by :func:`..catalog.build_once` under its
    own ``_<NAME>_READY`` marker, so every crash point re-heals without
    double-counting."""
    from .curate import _install
    from .dedup import APPEND_MOD, _pair_cache_dir

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") < CONTAM_EVAL_DOCS
    is_new = F.col("doc_id") % APPEND_MOD == 0

    base = _pair_cache_dir(spark, sf_dir, modality="contam-batch")
    _install(spark, _eval_window_counts(docs, is_eval & ~is_new), base, "base")
    _install(spark, _eval_window_counts(docs, is_eval & is_new), base, "batch")
    return _merged_window_counts(spark, base, "base", "batch").orderBy("h")


# append ≡ full rebuild (window hashes are per-document): same oracle
ORACLE_SQL["contam_index_append"] = ORACLE_SQL["contam_index_build"]


def contam_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A RETRACTED benchmark (doc_id % CONTAM_RETRACT_MOD == 0 among the
    eval docs) is purged from the index by installing its window counts
    NEGATED (the unlearning algebra of :func:`text_lm_forget` /
    :func:`..curate.dsir_counts_forget`); the read-time sum-merge
    cancels them exactly and hashes whose count nets to zero drop out —
    crucially, a window hash shared with a SURVIVING release keeps a
    positive count and stays (plain hash deletion would over-forget).
    The op then RE-EXCISES the training corpus against the surviving
    universe and returns that, so the differential proves the retraction
    end-to-end: the oracle is the excise SQL with the eval set narrowed
    to the surviving releases — unlearning must be indistinguishable
    from never having indexed the retracted benchmark."""
    from .curate import _install
    from .dedup import _pair_cache_dir

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") < CONTAM_EVAL_DOCS
    retracted = is_eval & (F.col("doc_id") % CONTAM_RETRACT_MOD == 0)

    # the retraction set parameter is PART of the store identity — a
    # different retract set must land its own negated installment, never
    # reuse another's (the stale-reuse failure the pair-cache version
    # field exists for, caught live when CONTAM_RETRACT_MOD changed)
    base = _pair_cache_dir(
        spark, sf_dir, modality=f"contam-unlearn-m{CONTAM_RETRACT_MOD}"
    )
    _install(spark, _eval_window_counts(docs, is_eval), base, "base")
    negated = _eval_window_counts(docs, retracted).select(
        "h", (-F.col("c")).cast("long").alias("c")
    )
    _install(spark, negated, base, "revoked")
    surviving = _merged_window_counts(spark, base, "base", "revoked").select("h")
    # size-guarded hint (the surviving set is a subset of the base
    # installment, so its on-disk size bounds the broadcast)
    if _universe_fits_broadcast(spark, f"{base}/base"):
        surviving = F.broadcast(surviving)
    train = docs.filter(F.col("doc_id") >= CONTAM_EVAL_DOCS)
    return _excise_against(train, surviving)


def _contam_forget_oracle() -> str:
    # post-retraction excision ≡ excision against the surviving eval set
    sql = _contamination_excise_oracle()
    anchor = f"ev AS (SELECT DISTINCT h FROM w WHERE doc_id < {CONTAM_EVAL_DOCS})"
    if sql.count(anchor) != 1:  # explicit: survives python -O
        raise RuntimeError("contamination excise oracle ev anchor drifted")
    return sql.replace(
        anchor,
        f"ev AS (SELECT DISTINCT h FROM w WHERE doc_id < {CONTAM_EVAL_DOCS}"
        f" AND doc_id % {CONTAM_RETRACT_MOD} <> 0)",
    )


ORACLE_SQL["contam_index_forget"] = _contam_forget_oracle()


CONTAM_COMPACT_FILES = 1  # the merged universe is benchmark-sized — one file


def contam_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION of the contamination index's installment tree (the
    :func:`..curate.dsir_counts_compact` discipline on the (h, c)
    schema): the read-time sum-merge :func:`contam_index_append`
    accumulates is materialized into exactly CONTAM_COMPACT_FILES
    file(s), so post-compaction probes pay neither small-file overhead
    nor the merge aggregate — the eval universe is THE per-probe
    broadcast artifact, so its read path is the one paid on every
    decontamination run. The compaction marker is keyed on the
    discovered installment MANIFEST, so a benchmark release landed
    after a compaction triggers a re-compact instead of serving a stale
    universe. Same oracle as the full rebuild (third execution path).

    Registered and graded from r15 (the window rotation slot the r14
    saturation forced — see __spark_entry__ and COVERAGE.md).
    """
    from .curate import _compact_installments
    from .dedup import _pair_cache_dir

    base = _pair_cache_dir(spark, sf_dir, modality="contam-batch")
    contam_index_append(spark, sf_dir)  # ensure the installments exist
    _compact_installments(spark, base, _merged_window_counts, CONTAM_COMPACT_FILES)
    return (
        spark.read.parquet(f"{base}/counts_compact").select("h", "c").orderBy("h")
    )


# compaction is a pure layout change: same oracle, third execution path
ORACLE_SQL["contam_index_compact"] = ORACLE_SQL["contam_index_build"]


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

TFIDF_TOP = 3


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP keyword terms per document with their tf / df counts
    and a rational tf-idf score — the per-doc keyword profile used for
    topic routing and quality triage in corpus curation.

    Weighting is the log-free rational variant ``tf * N / df`` (monotone
    in N/df exactly as idf is): the classic ``ln(N/df)`` would put a libm
    transcendental in the sort key, whose last-ulp rounding differs across
    engines and breaks the hash gate; one IEEE double division is exact-
    rounded everywhere. Stopwords need no list — df ~ N drives their
    score to ~tf, below any distinctive term's.

    Plan: explode tokens -> (doc, term) tf aggregate -> df via a
    term-partitioned window over the tf table (df = number of (doc, term)
    rows per term, no second scan) -> per-doc top-k window. Three shuffles
    total ((doc,term), term, doc), each on a different well-spread key;
    corpus size N arrives via a broadcast 1-row aggregate, never a
    driver collect. Ties break lexicographically.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "\\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    from pyspark.sql import Window

    df_w = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count("*").over(df_w).cast("bigint"))
        .crossJoin(F.broadcast(n))
        .withColumn("score", (F.col("tf") * F.col("n_docs") * F.lit(1.0)) / F.col("df"))
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    )


ORACLE_SQL["text_tfidf"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> ''
        GROUP BY doc_id, term
    ),
    scored AS (
        SELECT doc_id, term, tf,
               CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
               tf * (SELECT COUNT(*) FROM documents) * 1.0
                   / COUNT(*) OVER (PARTITION BY term) AS score
        FROM tf
    )
    SELECT doc_id, rank, term, tf, df, score FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        FROM scored
    )
    WHERE rank <= {TFIDF_TOP}
    ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------------
# BM25-shaped lexical retrieval
# ---------------------------------------------------------------------------

BM25_TERMS = ("join", "filter", "window")  # the fixed benchmark query
BM25_K1 = (12, 10)  # k1 = 1.2 as an exact ratio
BM25_B = (3, 4)  # b = 0.75 as an exact ratio
BM25_TOP = 10


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: top-BM25_TOP documents for the fixed query
    ``BM25_TERMS``, scored with a BM25-shaped rational weighting — the
    Okapi tf saturation and length normalization verbatim, with the
    logarithmic idf replaced by its rational argument
    ``(N - df + 1) / (df + 1)`` (monotone in the classic
    ``ln((N-df+.5)/(df+.5))``; a libm ``ln`` in the score would break the
    cross-engine hash gate at the last ulp, exactly like
    :func:`text_tfidf`'s weighting).

    Determinism: every arithmetic step is either exact integer algebra or
    an IEEE double operation written with identical association in both
    engines; the final score is the explicit left-associated sum of the
    per-term scores (never a float SUM aggregate, whose accumulation
    order is engine-dependent).

    Scale: tf extraction is a map-side aggregate per (doc, term) over the
    3 pinned terms (filter BEFORE the aggregate, so the shuffle carries
    at most |terms| rows per doc); df and avgdl are 1-row/3-row broadcast
    aggregates; scoring is a narrow map; top-k is a distributed
    TakeOrdered. This is the inverted-index-free form; at 100 TB the same
    expression scores postings fetched from a term-partitioned index.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r15: terms/doc-lengths in EFFECTIVE tokens (the CJK bigram fallback
    # of _cjk_effective_tokens) — identical to the previous
    # explode(split)+filter('') on every segmented document by
    # construction, and byte-identical to the persisted index's
    # lexical._tokenize so in-plan scores == index-served scores
    toks = docs.select(
        "doc_id", F.explode(_cjk_effective_tokens("text")).alias("term")
    )
    dls = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    stats = dls.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    tf = (
        toks.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return _bm25_rank(tf, dls, stats)


def _bm25_rank(tf: DataFrame, dls: DataFrame, stats: DataFrame) -> DataFrame:
    """The BM25 scoring tail shared by :func:`text_bm25` (tf extracted
    in-plan) and the persisted-index probe (:func:`..lexical.
    bm25_index_probe`, tf read from the term-bucketed postings store):
    df per query term, the association-pinned rational score, explicit
    left-associated per-term sum, distributed top-k — identical
    expression tree, so both paths are bit-equal by construction."""
    k1n, k1d = BM25_K1
    bn, bd = BM25_B
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # per-term score, association pinned by explicit parentheses:
    # idf_r * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl)), with k1, b as
    # exact ratios so the only doubles are the divisions themselves
    score_expr = (
        f"(CAST(n_docs - df + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE))"
        f" * (CAST(tf * ({k1n} + {k1d}) AS DOUBLE)"
        f" / (CAST(tf * {k1d} AS DOUBLE) + CAST({k1n} AS DOUBLE)"
        f" * (CAST({bd} - {bn} AS DOUBLE) / {bd}"
        f" + (CAST({bn} AS DOUBLE) / {bd})"
        f" * (CAST(dl * n_docs AS DOUBLE) / CAST(total_tokens AS DOUBLE)))))"
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.expr(score_expr).alias("s"))
    )
    # explicit left-associated per-term sum: (t0 + t1) + t2
    per_doc = scored.groupBy("doc_id").pivot("term", list(BM25_TERMS)).sum("s")
    total = "(" * (len(BM25_TERMS) - 1) + " + ".join(
        f"coalesce(`{t}`, CAST(0 AS DOUBLE)))" if i else f"coalesce(`{t}`, CAST(0 AS DOUBLE))"
        for i, t in enumerate(BM25_TERMS)
    )
    ranked = per_doc.select(
        "doc_id", F.expr(total).alias("score")
    ).orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(BM25_TOP)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


ORACLE_SQL["text_bm25"] = f"""
    WITH toks AS (
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
        WHERE term IN ('{BM25_TERMS[0]}', '{BM25_TERMS[1]}', '{BM25_TERMS[2]}')
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               (CAST(s.n_docs - d.df + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE))
               * (CAST(tf.tf * ({BM25_K1[0]} + {BM25_K1[1]}) AS DOUBLE)
                  / (CAST(tf.tf * {BM25_K1[1]} AS DOUBLE) + CAST({BM25_K1[0]} AS DOUBLE)
                     * (CAST({BM25_B[1]} - {BM25_B[0]} AS DOUBLE) / {BM25_B[1]}
                        + (CAST({BM25_B[0]} AS DOUBLE) / {BM25_B[1]})
                        * (CAST(l.dl * s.n_docs AS DOUBLE)
                           / CAST(s.total_tokens AS DOUBLE))))) AS sc
        FROM tf JOIN dfreq d USING (term) JOIN dls l USING (doc_id), stats s
    ),
    wide AS (
        SELECT doc_id,
               MAX(CASE WHEN term = '{BM25_TERMS[0]}' THEN sc END) AS s0,
               MAX(CASE WHEN term = '{BM25_TERMS[1]}' THEN sc END) AS s1,
               MAX(CASE WHEN term = '{BM25_TERMS[2]}' THEN sc END) AS s2
        FROM scored GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id,
               ((coalesce(s0, CAST(0 AS DOUBLE)) + coalesce(s1, CAST(0 AS DOUBLE)))
                + coalesce(s2, CAST(0 AS DOUBLE))) AS score
        FROM wide
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
           doc_id, score
    FROM totals
    ORDER BY score DESC, doc_id ASC
    LIMIT {BM25_TOP}
"""


def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity profile per document: statistics of each document's
    tokens' CORPUS frequency — the quality signal that separates fluent
    text (built from common tokens) from gibberish, OCR noise, and inline
    codes (rare-token-dense). Complements :func:`text_quality`'s
    document-local counts with a corpus-relative one: ``n_hapax`` (tokens
    occurring exactly once in the whole corpus), ``min_freq`` (the
    rarest token the document contains), ``freq_sum`` and the derived
    ``mean_freq`` — a low mean marks documents a frequency-based quality
    filter would drop.

    Plan: one token hash-agg builds the corpus dictionary (vocab-sized),
    one equi-join puts each token's frequency back on the stream, one
    doc-keyed aggregate — all shuffles are on well-spread keys (token,
    doc_id) and the aggregates are map-side combinable. The dictionary is
    NOT force-broadcast: at web scale the vocabulary outgrows a
    broadcast, and the token-keyed shuffle join is the shape that holds
    (AQE will still broadcast it when it is small enough). Everything is
    integer counts except ``mean_freq``, a single IEEE division both
    engines compute identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("w")
    )
    dictf = toks.groupBy("w").agg(F.count("*").cast("bigint").alias("freq"))
    return (
        toks.join(dictf, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("freq").cast("bigint").alias("freq_sum"),
            F.min("freq").alias("min_freq"),
            F.sum((F.col("freq") == 1).cast("long")).cast("bigint").alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_sum",
            "min_freq",
            "n_hapax",
            (F.col("freq_sum") * 1.0 / F.col("n_tokens")).alias("mean_freq"),
        )
        .orderBy("doc_id")
    )


ORACLE_SQL["text_rarity"] = """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
        FROM documents
    ),
    dictf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY w
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(d.freq) AS BIGINT) AS freq_sum,
               MIN(d.freq) AS min_freq,
               CAST(SUM(CASE WHEN d.freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
        FROM toks t JOIN dictf d ON t.w = d.w
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, freq_sum, min_freq, n_hapax,
           freq_sum * 1.0 / n_tokens AS mean_freq
    FROM per_doc
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier (r9c)
# ---------------------------------------------------------------------------

QC_BUCKETS = 4096  # feature-hash width (fasttext-style hashing trick)
QC_WEIGHT_MOD = 1001  # weights land in [-500, 500]
QC_WEIGHT_SHIFT = 500


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over hashed bag-of-words — the fasttext
    filter shape CCNet/RefinedWeb-style curation runs at scale: every
    token hashes into one of ``QC_BUCKETS`` feature buckets (colliding
    tokens SHARE a weight — the hashing trick), each bucket carries a
    fixed integer weight, and a document's score is the sum of its
    token-bucket weights; keep = score > 0.

    The weights here are md5-derived integers standing in for trained
    parameters (the container has no model artifacts) — the Spark-side
    shape is the real thing: the model is a pure expression, so scoring
    is MAP-ONLY whole-stage-codegen work at scan speed, no UDF, no
    shuffle, no weight table to join (the "table" is a hash function).
    At 100 TB that is the difference between a filter that runs inline
    with ingestion and one that needs a 4096-row broadcast plus a
    Python worker per executor.

    Integer end-to-end (bucket, weight, score), so both engines agree
    exactly; keep is an integer-compare flag, not a float threshold.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = r"filter(split(text, '\\s+'), x -> x <> '')"
    bucket = (
        "CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)"
        f" % {QC_BUCKETS}"
    )
    weight = (
        f"CAST(conv(substr(md5(concat('qw:', CAST({bucket} AS STRING))), 1, 15),"
        f" 16, 10) AS BIGINT) % {QC_WEIGHT_MOD} - {QC_WEIGHT_SHIFT}"
    )
    return docs.select(
        "doc_id",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({toks}, x -> {weight}),"
            f" CAST(0 AS BIGINT), (acc, w) -> acc + w)"
        ).alias("score"),
    ).withColumn(
        "keep", (F.col("score") > 0).cast("int")
    ).orderBy("doc_id")


_QC_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
_QC_BUCKET = f"('0x' || substr(md5(x), 1, 15))::BIGINT % {QC_BUCKETS}"
_QC_WEIGHT = (
    f"('0x' || substr(md5('qw:' || CAST({_QC_BUCKET} AS VARCHAR)), 1, 15))::BIGINT"
    f" % {QC_WEIGHT_MOD} - {QC_WEIGHT_SHIFT}"
)
ORACLE_SQL["text_quality_classifier"] = f"""
    SELECT doc_id,
           CAST(len({_QC_TOKS}) AS INT) AS n_tokens,
           CAST(COALESCE(list_aggregate(
               list_transform({_QC_TOKS}, x -> {_QC_WEIGHT}), 'sum'
           ), 0) AS BIGINT) AS score,
           CAST(COALESCE(list_aggregate(
               list_transform({_QC_TOKS}, x -> {_QC_WEIGHT}), 'sum'
           ), 0) > 0 AS INT) AS keep
    FROM documents
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Bigram-LM fluency scoring (r10): the perplexity-filter shape
# ---------------------------------------------------------------------------

# smoothed transition probabilities quantized to parts-per-million:
# p_q(w1 -> w2) = floor(c(w1,w2) * LM_Q / (c(w1) + V)) with V = context
# vocabulary size (add-one smoothing's denominator) — pure BIGINT
# division, so Spark and DuckDB agree bit-for-bit (a float log-prob
# would not). The smoothing is load-bearing, not cosmetic: unsmoothed,
# a hapax context has conditional probability exactly 1 (one observed
# continuation), so GIBBERISH scores maximal — the classic unseen-
# context artifact every deployed n-gram filter smooths away.
LM_Q = 1_000_000


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring — the *perplexity filter* shape every
    production curation pipeline runs (train an n-gram LM on in-domain
    text, drop documents the model finds improbable: CCNet/KenLM style),
    expressed exactly: a bigram model is trained ON the corpus (context
    counts c(w1), transition counts c(w1,w2), and the context vocabulary
    size V — map-side-combinable aggregates) and every document is
    scored by its own transitions' add-one-smoothed quantized
    probabilities p_q = floor(c(w1,w2)·10^6 / (c(w1) + V)). Emits per
    document the transition count, total/mean/min p_q — gibberish and
    boilerplate-noise documents score low (their transitions are rare in
    the corpus and their contexts unsupported), formulaic text scores
    high; a filter thresholds ``mean_pq`` (pytest pins fluent > gibberish
    on a hand corpus). Integer end-to-end, so the oracle hash-matches
    without any float-log drift (sum-of-quantized-probabilities replaces
    log-perplexity as the documented metric; it orders documents the
    same way for thresholding purposes and stays cross-engine exact).

    Documents with fewer than two tokens have no transitions and are
    excluded (a real filter passes them to a length rule instead — that
    rule is :func:`text_quality`'s short-doc flag).

    Plan/scale: bigrams come from the token array by position (one
    explode, no window); the model tables are vocabulary-sized
    aggregates; scoring joins them back on (w1, w2) and w1 — well-spread
    token keys, AQE broadcasting the count tables while they fit and
    falling back to shuffle joins at web-scale vocabularies (the same
    deliberate not-force-broadcast stance as :func:`text_rarity`). At
    100 TB the two count tables ARE the trained model: persist them once
    per corpus identity (the established identity-keyed artifact
    contract) and scoring becomes two joins against a frozen parquet —
    the exact KenLM-deployment shape.
    """
    bg = _lm_bigrams(load_table(spark, sf_dir, "documents"))
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").cast("bigint").alias("c1"))
    return _lm_score_against(bg, c12, c1)


def _lm_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) bigram stream for a documents DataFrame.

    One explicit exchange materializes the table for all its consumers
    (c12, c1, V, and the scoring probe) via runtime exchange reuse — the
    same no-.cache() materialization stance as the shingle kernel (see
    dedup._shingle_pair_table); measured 24.9 -> 20.2 s at the 10x
    corpus (the remaining cost is the two model joins over 6M bigram
    rows, which is the operator's work, not recompute)."""
    return (
        docs.select("doc_id", F.split("text", r"\s+").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(F.expr("sequence(0, size(toks) - 2)")).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.expr("toks[i]").alias("w1"),
            F.expr("toks[i + 1]").alias("w2"),
        )
        .repartition("w1")
    )


def _lm_score_against(bg: DataFrame, c12: DataFrame, c1: DataFrame) -> DataFrame:
    """Score a bigram stream against a (c12, c1) model — the shared tail
    of the in-plan trainer (:func:`text_lm_score`) and the persisted
    incremental model (:func:`text_lm_append`). V (the smoothing
    denominator's vocabulary term) is derived from the model's own c1
    table, so a stored model carries its vocabulary implicitly."""
    # V: context vocabulary size — one 1-row aggregate crossed in (the
    # same constant-broadcast class as text_bm25's stats cross)
    v = c1.agg(F.count("*").cast("bigint").alias("v"))
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id", F.expr(f"c12 * {LM_Q} div (c1 + v)").alias("p_q")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_transitions"),
            F.sum("p_q").cast("bigint").alias("sum_pq"),
            F.min("p_q").alias("min_pq"),
        )
        .select(
            "doc_id",
            "n_transitions",
            "sum_pq",
            F.expr("sum_pq div n_transitions").alias("mean_pq"),
            "min_pq",
        )
        .orderBy("doc_id")
    )


ORACLE_SQL["text_lm_score"] = f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
        FROM documents
        WHERE len(regexp_split_to_array(text, '\\s+')) >= 2
    ),
    bg AS (
        SELECT doc_id,
               toks[i + 1] AS w1,
               toks[i + 2] AS w2
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(0, len(toks) - 2)) AS i
              FROM t)
    ),
    c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bg GROUP BY w1, w2
    ),
    c1 AS (
        SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
        FROM bg GROUP BY w1
    ),
    v AS (
        SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM bg
    ),
    scored AS (
        SELECT bg.doc_id, (c12.c12 * {LM_Q}) // (c1.c1 + v.v) AS p_q
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(p_q) AS BIGINT) AS sum_pq,
           CAST(SUM(p_q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_pq,
           CAST(MIN(p_q) AS BIGINT) AS min_pq
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
"""


def _lm_counts(docs: DataFrame) -> DataFrame:
    """The (w1, w2, c12) bigram counts of ``docs``: one model installment."""
    return _lm_bigrams(docs).groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )


def _lm_append_c12(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """The merged (w1, w2, c12) model of the append store, building its
    base installment (doc_id % APPEND_MOD != 0) and batch installment
    (``c12_new``) if absent."""
    from ..catalog import build_once
    from .dedup import APPEND_MOD, _pair_cache_dir

    is_new = F.col("doc_id") % APPEND_MOD == 0
    base = _pair_cache_dir(spark, sf_dir, modality="lm-append-inst")

    def build_base(stage: str) -> None:
        _lm_counts(docs.filter(~is_new)).write.parquet(f"{stage}/c12")

    def build_batch(stage: str) -> None:
        _lm_counts(docs.filter(is_new)).write.parquet(f"{stage}/c12_new")

    build_once(spark, base, "_BASE_READY", build_base)
    build_once(spark, base, "_APPEND_READY", build_batch)
    return (
        spark.read.parquet(f"{base}/c12", f"{base}/c12_new")
        .groupBy("w1", "w2")
        .agg(F.sum("c12").cast("bigint").alias("c12"))
    )


def text_lm_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LM maintenance — the *model tables as a persisted,
    append-many artifact* (the docstring promise of
    :func:`text_lm_score` made real, and the LM member of the
    build-once/append-many family beside ``dedup_minhash_append`` and
    the modality signature stores): the bigram model of the base corpus
    (doc_id % APPEND_MOD != 0) is trained once and persisted
    identity-keyed; the arriving batch contributes ONLY its own bigram
    counts, which are parquet-appended and sum-merged at read time
    (``groupBy.sum`` over stored partial counts — the algebraic-merge
    law of ``q_incremental_agg`` applied to model state). The whole
    corpus is then scored against the merged model.

    Append ≡ full retrain holds EXACTLY — bigram counts are additive:
    c_union(w1,w2) = c_base + c_batch, V_union = |contexts of the merged
    c1| — so the oracle is :func:`text_lm_score`'s full-rebuild SQL
    verbatim and hash-equality proves the incremental model serves the
    identical scores. The batch's counts are their own installment
    child (``c12_new``) beside the base's ``c12``, so a re-run appends
    nothing, even after the marker is lost.

    Scale: the daily cost is O(batch) bigram counting + the merge read;
    the full retrain this replaces is corpus-sized. Scoring cost is
    unchanged (two model joins).
    """
    docs = load_table(spark, sf_dir, "documents")
    # read-time sum-merge of the stored partial counts; c1 and V derive
    # from the merged c12, so the model stays one stored table
    c12 = _lm_append_c12(spark, sf_dir, docs)
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    return _lm_score_against(_lm_bigrams(docs), c12, c1)


# append ≡ full retrain (additive counts): same oracle, second path
ORACLE_SQL["text_lm_append"] = ORACLE_SQL["text_lm_score"]


LM_COMPACT_BUCKETS = 8  # one parquet file per bucket after compaction


def text_lm_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM model-store maintenance: COMPACTION of the partial-count tree
    :func:`text_lm_append` accumulates (one small file per appended
    batch, with read-time sum-merge cost growing per append). The
    compactor MATERIALIZES the merge — partial counts are summed into
    final per-bigram rows and rewritten with exactly one file per hash
    bucket (``pmod(hash(w1), B)``; repartition + partitionBy, the
    :func:`..dedup.dedup_pairs_compact` shape) — so post-compaction
    reads pay neither small-file overhead nor the merge aggregate.
    Marker-idempotent per source identity; scoring over the compacted
    model must be hash-equal to the in-plan retrain (same oracle, third
    execution path) and pytest pins the one-file-per-bucket invariant.

    Completes the LM lifecycle: train (:func:`text_lm_score`) → append
    (:func:`text_lm_append`) → compact — the same
    build/append/compact arc the ANN index and the pair stores carry.
    """
    from ..catalog import build_once
    from .dedup import _pair_cache_dir

    docs = load_table(spark, sf_dir, "documents")
    base = _pair_cache_dir(spark, sf_dir, modality="lm-append-inst")

    def build(stage: str) -> None:
        (
            _lm_append_c12(spark, sf_dir, docs)
            .withColumn("bucket", F.expr(f"pmod(hash(w1), {LM_COMPACT_BUCKETS})"))
            .repartition("bucket")
            .write.partitionBy("bucket")
            .parquet(f"{stage}/c12_compact")
        )

    build_once(spark, base, "_C12_COMPACT_READY", build)
    c12 = spark.read.parquet(f"{base}/c12_compact").select("w1", "w2", "c12")
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    return _lm_score_against(_lm_bigrams(docs), c12, c1)


# compaction is a pure layout+merge materialization: same oracle
ORACLE_SQL["text_lm_compact"] = ORACLE_SQL["text_lm_score"]


# ---------------------------------------------------------------------------
# Within-document repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

REP_NGRAM_SIZES = (2, 3)  # the gram widths the repetition report covers


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals — the *Gopher repetition
    filters* (Rae et al. 2021 §A1.1: "duplicate n-gram fraction" and
    "top n-gram fraction"), the standard pre-training gate against
    boilerplate loops and degenerate generations that plain length /
    stopword checks miss. For every document and every gram width n in
    ``REP_NGRAM_SIZES`` it emits the integer numerators/denominators the
    fractions are built from: total n-gram occurrences, occurrences
    belonging to grams seen more than once in the SAME document, and the
    count of the single most frequent gram. A filter drops a doc when
    ``dup_occurrences * 10 > n_grams * K`` etc. — consumers derive the
    ratios, the operator stays integer-exact (house hash-stability
    rule). Documents shorter than n tokens report a zero row, so the
    output is a complete doc x n grid.

    Plan/scale: positional gram extraction is one explode (no window,
    no self-join — same kernel as :func:`_lm_bigrams`); the per-doc gram
    histogram is a (doc_id, n, gram)-keyed count and the report a
    (doc_id, n)-keyed aggregate — both map-side combinable, keys spread
    by document, skew bounded by single-document length. Nothing here
    is corpus-global, so the operator scales as a pure per-document map
    no matter the corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_n = []
    for n in REP_NGRAM_SIZES:
        grams = (
            docs.select("doc_id", F.split("text", r"\s+").alias("toks"))
            .filter(F.size("toks") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size(toks) - {n}),"
                        f" i -> array_join(slice(toks, i + 1, {n}), ' '))"
                    )
                ).alias("gram"),
            )
        )
        hist = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
        per_n.append(
            hist.groupBy("doc_id")
            .agg(
                F.sum("c").cast("bigint").alias("n_grams"),
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("dup_occurrences"),
                F.max("c").cast("bigint").alias("top_count"),
            )
            .withColumn("n", F.lit(n).cast("int"))
        )
    agg = per_n[0]
    for other in per_n[1:]:
        agg = agg.unionByName(other)
    sizes = spark.createDataFrame([(int(n),) for n in REP_NGRAM_SIZES], "n int")
    grid = docs.select("doc_id").crossJoin(F.broadcast(sizes))
    return (
        grid.join(agg, ["doc_id", "n"], "left")
        .select(
            "doc_id",
            "n",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("dup_occurrences", F.lit(0))
            .cast("bigint")
            .alias("dup_occurrences"),
            F.coalesce("top_count", F.lit(0)).cast("bigint").alias("top_count"),
        )
        .orderBy("doc_id", "n")
    )


ORACLE_SQL["text_repetition"] = """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
        FROM documents
    ),
    tn AS (
        SELECT doc_id, toks, unnest([2, 3]) AS n FROM t
    ),
    g AS (
        SELECT doc_id, n, array_to_string(toks[i : i + n - 1], ' ') AS gram
        FROM (SELECT doc_id, n, toks,
                     unnest(generate_series(1, len(toks) - n + 1)) AS i
              FROM tn WHERE len(toks) >= n)
    ),
    hist AS (
        SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT doc_id, n,
               CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                   AS dup_occurrences,
               CAST(MAX(c) AS BIGINT) AS top_count
        FROM hist GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(nn.n AS INT) AS n,
           COALESCE(a.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           COALESCE(a.dup_occurrences, CAST(0 AS BIGINT)) AS dup_occurrences,
           COALESCE(a.top_count, CAST(0 AS BIGINT)) AS top_count
    FROM documents d
    CROSS JOIN (SELECT unnest([2, 3]) AS n) nn
    LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.n = nn.n
    ORDER BY d.doc_id, nn.n
"""


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING step (distributed pair-statistics inner loop)
# ---------------------------------------------------------------------------

BPE_TOP_MERGES = 20  # merge candidates the step reports


def text_bpe_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed inner loop of BPE tokenizer *training* (Sennrich
    et al. 2016) — the complement of :func:`text_bpe_tokens`' apply
    side: count every adjacent symbol pair over the corpus and rank the
    top merge candidates. Uses the classic scaling trick every real BPE
    trainer relies on: pair statistics are computed over the WORD
    VOCABULARY weighted by word frequency, not over raw text — one
    corpus-sized count pass collapses 100 TB of text into a vocab-sized
    table, and each subsequent merge round touches only the vocabulary.
    This operator is one such round at the initial (character) symbol
    level: pair = adjacent character bigram within a word, count =
    sum(word_freq x within-word occurrences); emits the top
    ``BPE_TOP_MERGES`` pairs with a deterministic rank (count desc,
    pair asc — the greedy trainer's argmax with a total tie-break).

    Plan/scale: explode-count for word frequency (map-side combinable,
    token-spread keys); pair extraction is a vocab-sized transform; the
    final ranking window orders a table bounded by |alphabet|^2 rows —
    constant-sized regardless of corpus scale, so the single-partition
    window is free. Integer counts only — hash-exact vs the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("cnt"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        counts.withColumn("merge_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("merge_rank") <= BPE_TOP_MERGES)
        .select("merge_rank", "pair", "cnt")
        .orderBy("merge_rank")
    )


ORACLE_SQL["text_bpe_train_step"] = f"""
    WITH w AS (
        SELECT w, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
              FROM documents)
        GROUP BY w
    ),
    p AS (
        SELECT substr(w, i, 2) AS pair, freq
        FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
              FROM w WHERE length(w) >= 2)
    ),
    c AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM p GROUP BY pair
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS INT)
                   AS merge_rank,
               pair, cnt
        FROM c
    )
    SELECT merge_rank, pair, cnt
    FROM ranked
    WHERE merge_rank <= {BPE_TOP_MERGES}
    ORDER BY merge_rank
"""


# ---------------------------------------------------------------------------
# Full BPE tokenizer training (unrolled merge rounds, merges applied in-plan)
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 3  # unrolled greedy merge rounds

# greedy left-to-right BPE merge as a string fold: acc holds the merged
# prefix (space-separated symbols); a token x joins the last symbol iff
# (last == p1 AND x == p2), where "last == p1" is the boundary-safe
# test acc = p1 OR acc ends with ' '||p1 — space separation makes the
# suffix test unambiguous. The fold's left-to-right order IS the BPE
# convention (in 'a a a' merging (a,a) produces 'aa a', never 'a aa'),
# and a symbol created this round never re-merges this round because
# the new last token p1||p2 fails the p1 boundary test. Verified
# bit-identical between Spark's aggregate() and DuckDB's list_reduce.
_BPE_MERGE_FOLD = (
    "aggregate(slice(split(sym, ' '), 2, size(split(sym, ' ')) - 1),"
    " split(sym, ' ')[0],"
    " (acc, x) -> CASE WHEN x = p2 AND (acc = p1 OR endswith(acc, concat(' ', p1)))"
    " THEN concat(substring(acc, 1, length(acc) - length(p1)), p1, p2)"
    " ELSE concat(acc, ' ', x) END)"
)


def _bpe_pair_top(syms: DataFrame) -> DataFrame:
    """1-row (p1, p2, cnt) argmax of the weighted adjacent-pair counts of
    a symbolized vocabulary — the greedy trainer's merge selection, with
    a (cnt desc, p1, p2) total tie-break (TakeOrdered, deterministic)."""
    toks = F.split("sym", " ")
    pairs = (
        syms.select("freq", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "freq",
            F.explode(F.expr("sequence(0, size(t) - 2)")).alias("i"),
            "t",
        )
        .select("freq", F.expr("t[i]").alias("p1"), F.expr("t[i + 1]").alias("p2"))
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(1)
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (Sennrich et al. 2016), not just one
    statistics pass: ``BPE_TRAIN_ROUNDS`` greedy merge rounds, each
    selecting the highest-count adjacent symbol pair over the
    frequency-weighted word vocabulary and APPLYING the merge in-plan —
    the merge is a broadcast 1-row cross + a string left-fold
    (``_BPE_MERGE_FOLD``), so the iteration never round-trips a merge
    table through the driver (the same no-collect stance as
    :func:`..cluster.kmeans_lloyd`'s broadcast centroids). Emits the
    merge table itself — (round, p1, p2, cnt) — the artifact a
    tokenizer ships; :func:`text_bpe_tokens` is the apply side.

    Only ``^[a-z0-9]+$`` words enter the trainer (symbols must never
    collide with the space separator or regex metachars; a production
    tokenizer's byte-fallback alphabet changes the constant, not the
    plan). Scale: after the one corpus-sized word count, every round is
    VOCABULARY-sized (pair agg + 1-row TakeOrdered + map-side fold) —
    the classic compression that makes each merge round independent of
    corpus size; rounds unroll in one Catalyst plan.
    """
    merge_rows, _ = _bpe_trained(spark, sf_dir)
    out = merge_rows[0]
    for more in merge_rows[1:]:
        out = out.unionByName(more)
    return out.orderBy("merge_round")


def _bpe_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """The shared trainer chain: per-round 1-row merge tables plus the
    FINAL word->symbolization vocabulary (w, freq, sym) after all
    ``BPE_TRAIN_ROUNDS`` merges — :func:`text_bpe_train` emits the
    former, :func:`text_bpe_apply` joins documents to the latter."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    syms = words.select(
        "w",
        "freq",
        F.expr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ')"
        ).alias("sym"),
    )
    merge_rows = []
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        top = _bpe_pair_top(syms)
        merge_rows.append(
            top.select(
                F.lit(rnd).cast("int").alias("merge_round"), "p1", "p2", "cnt"
            )
        )
        # LEFT join on TRUE, not crossJoin: if the vocabulary runs out of
        # pairs before the round budget, top is EMPTY and a cross would
        # silently erase the vocabulary; with a left join p1/p2 are NULL
        # and the fold's x = p2 comparison three-values to ELSE, leaving
        # every word unchanged (the pure-model semantics — pinned by the
        # hypothesis trainer test on all-single-symbol corpora)
        syms = syms.join(F.broadcast(top), F.lit(True), "left").select(
            "w", "freq", F.expr(_BPE_MERGE_FOLD).alias("sym")
        )
    return merge_rows, syms


def _bpe_cte_chain() -> list[str]:
    """The trainer's DuckDB CTE chain (word counts, per-round pair stats
    + argmax + fold-applied vocab) — shared by the train and apply
    oracles so the two can never drift."""
    fold = (
        "list_reduce(regexp_split_to_array(sym, ' '),"
        " (acc, x) -> CASE WHEN x = p2 AND (acc = p1 OR ends_with(acc, ' ' || p1))"
        " THEN substr(acc, 1, length(acc) - length(p1)) || p1 || p2"
        " ELSE acc || ' ' || x END)"
    )
    ctes = [
        """w AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
                  FROM documents)
            WHERE regexp_matches(w, '^[a-z0-9]+$')
            GROUP BY w
        )""",
        """s0 AS (
            SELECT w, freq,
                   array_to_string(list_transform(generate_series(1, length(w)),
                       i -> substr(w, i, 1)), ' ') AS sym
            FROM w
        )""",
    ]
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        prev = f"s{rnd - 1}"
        ctes.append(
            f"""c{rnd} AS (
            SELECT t[i] AS p1, t[i + 1] AS p2, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT t, freq, unnest(generate_series(1, len(t) - 1)) AS i
                  FROM (SELECT regexp_split_to_array(sym, ' ') AS t, freq
                        FROM {prev})
                  WHERE len(t) >= 2)
            GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"""t{rnd} AS (
            SELECT p1, p2, cnt FROM c{rnd}
            ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 1
        )"""
        )
        # the final s{ROUNDS} is unused by the train oracle (DuckDB prunes
        # unreferenced CTEs) but IS the trained vocabulary the apply
        # oracle joins against
        ctes.append(
            f"""s{rnd} AS (
            SELECT w, freq, {fold} AS sym FROM {prev} LEFT JOIN t{rnd} ON TRUE
        )"""
        )
    return ctes


def _bpe_train_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT CAST({rnd} AS INT) AS merge_round, p1, p2, cnt FROM t{rnd}"
        for rnd in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return (
        "WITH " + ", ".join(_bpe_cte_chain()) + f" {selects} ORDER BY merge_round"
    )


ORACLE_SQL["text_bpe_train"] = _bpe_train_oracle()


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained merges — the other half of the tokenizer
    lifecycle :func:`text_bpe_train` opens: every document is tokenized
    with the vocabulary AS TRAINED (each word joins the post-merge
    word->symbolization table; BPE merges are word-local, so the
    vocab join IS the application — the same compression trick the
    trainer exploits, reused at inference). Emits per document the
    trainer-eligible word count, the initial symbol count (characters),
    and the post-merge symbol count — the before/after a context-budget
    planner reads; documents with no trainer-eligible words report a
    zero row. Integer-only, and the oracle reuses the trainer's own CTE
    chain so train and apply can never drift.

    Scale: the vocab table is the broadcast-sized artifact; application
    is one explode + one join + a doc-keyed aggregate — tokenization at
    scan speed, never re-running merges per document.
    """
    return _bpe_doc_symbols(spark, sf_dir).orderBy("doc_id")


def build_bpe_vocab(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the persisted trained-BPE vocabulary: the final
    word -> symbolization table (w, freq, sym) after all
    BPE_TRAIN_ROUNDS merges, written ONCE per source identity (the
    pair-cache/ANN-index contract). A tokenizer is trained once and
    applied forever — before r14 every :func:`text_bpe_apply` /
    :func:`..curate.curate_pack_bpe` call re-ran the full unrolled
    trainer in-plan (the r13 MRL lesson: training must never ride the
    serve path). :func:`text_bpe_train` remains the in-plan TRAINING op
    by definition. Returns the store directory; store-served ≡ in-plan
    is hash-pinned (tests/test_r14_ops.py)."""
    from ..catalog import build_once
    from .dedup import _pair_cache_dir

    base = _pair_cache_dir(spark, sf_dir, modality="bpe-vocab")

    def build(stage: str) -> None:
        _bpe_trained(spark, sf_dir)[1].write.parquet(f"{stage}/vocab")

    build_once(spark, base, "_BPE_VOCAB_READY", build)
    return base


def _bpe_vocab_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored (w, freq, sym) vocabulary, building it if absent."""
    base = build_bpe_vocab(spark, sf_dir)
    return spark.read.parquet(f"{base}/vocab")


def _bpe_doc_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_symbols_initial, n_symbols) per document,
    unsorted — the as-trained tokenizer's per-doc counts, shared by
    :func:`text_bpe_apply` and the tokenizer-faithful packer
    :func:`..curate.curate_pack_bpe` (whose budget is real BPE tokens,
    not whitespace tokens). r14: the vocabulary is SERVED from the
    persisted store (:func:`build_bpe_vocab`) — application is a
    broadcast vocab join at scan speed with no trainer in the plan."""
    vocab = _bpe_vocab_stored(spark, sf_dir)
    per_word = vocab.select(
        "w",
        F.length("w").cast("bigint").alias("n_char_syms"),
        F.size(F.split("sym", " ")).cast("bigint").alias("n_merged_syms"),
    )
    docs = load_table(spark, sf_dir, "documents")
    doc_words = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("n"))
    )
    agg = (
        doc_words.join(per_word, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_char_syms")).cast("bigint").alias(
                "n_symbols_initial"
            ),
            F.sum(F.col("n") * F.col("n_merged_syms")).cast("bigint").alias(
                "n_symbols"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_symbols_initial", F.lit(0))
            .cast("bigint")
            .alias("n_symbols_initial"),
            F.coalesce("n_symbols", F.lit(0)).cast("bigint").alias("n_symbols"),
        )
        .orderBy("doc_id")
    )


def _bpe_doc_symbol_ctes() -> list[str]:
    """The trainer CTE chain + the apply-side per-doc aggregation — the
    (doc_id -> n_symbols) spine shared by the apply oracle and the
    BPE-budget packing oracle (:func:`..curate.curate_pack_bpe`), so
    tokenizer application and tokenizer-faithful packing can never
    drift."""
    final = f"s{BPE_TRAIN_ROUNDS}"
    return _bpe_cte_chain() + [
        f"""per_word AS (
            SELECT w,
                   CAST(length(w) AS BIGINT) AS n_char_syms,
                   CAST(len(regexp_split_to_array(sym, ' ')) AS BIGINT)
                       AS n_merged_syms
            FROM {final}
        )""",
        """doc_words AS (
            SELECT doc_id, w, COUNT(*) AS n
            FROM (SELECT doc_id,
                         unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
                  FROM documents)
            WHERE regexp_matches(w, '^[a-z0-9]+$')
            GROUP BY doc_id, w
        )""",
        """agg AS (
            SELECT doc_id,
                   CAST(SUM(n) AS BIGINT) AS n_words,
                   CAST(SUM(n * n_char_syms) AS BIGINT) AS n_symbols_initial,
                   CAST(SUM(n * n_merged_syms) AS BIGINT) AS n_symbols
            FROM doc_words JOIN per_word USING (w)
            GROUP BY doc_id
        )""",
    ]


def _bpe_apply_oracle() -> str:
    return (
        "WITH "
        + ", ".join(_bpe_doc_symbol_ctes())
        + """
        SELECT d.doc_id,
               COALESCE(a.n_words, CAST(0 AS BIGINT)) AS n_words,
               COALESCE(a.n_symbols_initial, CAST(0 AS BIGINT))
                   AS n_symbols_initial,
               COALESCE(a.n_symbols, CAST(0 AS BIGINT)) AS n_symbols
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id
    """
    )


ORACLE_SQL["text_bpe_apply"] = _bpe_apply_oracle()


# ---------------------------------------------------------------------------
# Model unlearning: forget a revoked source, subtractively
# ---------------------------------------------------------------------------

FORGET_SOURCE = "src0"  # the revoked source the forget op removes


def text_lm_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model UNLEARNING — the data-governance stage the LM lifecycle
    still owed (train → append → compact → **forget**): a source is
    revoked (licensing, takedown, contamination) and its contribution
    must leave the persisted model WITHOUT a corpus-sized retrain.
    Because the model state is additive counts, unlearning is exact
    subtraction: the revoked source's own bigram counts are installed
    NEGATED as the ``c12_revoked`` child (one O(revoked-source) pass),
    the read-time sum-merge cancels them, and rows that net to zero are
    dropped — so the merged model is BIT-EQUAL to retraining on the
    surviving corpus (vocabulary and smoothing V included: a context
    seen only in the revoked source nets to zero and leaves c1, exactly
    as a retrain would drop it). The surviving documents are then
    scored against the unlearned model; the oracle is the full
    retrain-without-the-source SQL, so hash-equality IS the unlearning
    proof. Marker-idempotent per source identity.

    Scale: the cost is one pass over the revoked slice plus the merge
    read — the full retrain this replaces is corpus-sized; the same
    asymmetry as :func:`text_lm_append`, pointed backwards.
    """
    from ..catalog import build_once
    from .dedup import _pair_cache_dir

    docs = load_table(spark, sf_dir, "documents")
    revoked = F.col("source") == FORGET_SOURCE

    base = _pair_cache_dir(spark, sf_dir, modality="lm-forget-inst")

    def build_base(stage: str) -> None:
        # the standing production model: trained on EVERYTHING, before
        # anyone knew the source would be revoked
        _lm_counts(docs).write.parquet(f"{stage}/c12")

    def build_revoked(stage: str) -> None:
        negated = _lm_counts(docs.filter(revoked)).select(
            "w1", "w2", (-F.col("c12")).alias("c12")
        )
        negated.write.parquet(f"{stage}/c12_revoked")

    build_once(spark, base, "_BASE_READY", build_base)
    build_once(spark, base, "_FORGET_READY", build_revoked)

    # read-time sum-merge; exact cancellation drops the revoked mass and
    # any context/bigram the source alone contributed
    c12 = (
        spark.read.parquet(f"{base}/c12", f"{base}/c12_revoked")
        .groupBy("w1", "w2")
        .agg(F.sum("c12").cast("bigint").alias("c12"))
        .filter(F.col("c12") > 0)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    return _lm_score_against(_lm_bigrams(docs.filter(~revoked)), c12, c1)


def _lm_forget_oracle() -> str:
    # the full retrain on the surviving corpus: unlearning must be
    # indistinguishable from never having seen the source
    sql = ORACLE_SQL["text_lm_score"]
    assert sql.count("FROM documents") == 1
    return sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE source <> '{FORGET_SOURCE}')",
    )


ORACLE_SQL["text_lm_forget"] = _lm_forget_oracle()


# ---------------------------------------------------------------------------
# No-whitespace (CJK) tokenization fallback (r14, VERDICT r13 item 6)
# ---------------------------------------------------------------------------

CJK_MAX_TOK_CHARS = 16  # whitespace tokenization is declared DEGENERATE when
# a document's mean whitespace-token length exceeds this — no natural-language
# word distribution sustains 16+ chars/token, but a no-whitespace script (CJK)
# yields ONE giant token per run and trips it immediately. Integer compare
# (sum_chars > 16 * n_tokens), exact on both engines.


def _cjk_effective_tokens(text_col: str = "text"):
    """ARRAY<STRING> of EFFECTIVE tokens for any text kernel: whitespace
    tokens normally; codepoint BIGRAMS of the whitespace-stripped text
    when whitespace tokenization is degenerate (the standard n-gram
    fallback for unsegmented scripts — CJK search engines index exactly
    these bigrams). r15: WIRED into the production consumers — the
    quality-funnel token gates (curate._funnel_signals +
    funnel_flags_row_local), the BM25 tokenizer (text_bm25 and the
    persisted index's lexical._tokenize), and the MinHash shingle/token
    kernels (dedup._shingles / dedup._tokens) — without changing
    behavior on segmented corpora: the fallback condition is FALSE on
    every document whose mean token length is plausible, so
    Latin-corpus results are bit-identical by construction (pinned in
    tests/test_r14_ops.py; per-consumer planted-CJK differentials in
    tests/test_r15_ops.py)."""
    stripped = f"regexp_replace({text_col}, '\\\\s+', '')"
    degenerate = (
        f"(size(filter(split({text_col}, '\\\\s+'), x -> x <> '')) > 0 AND"
        f" length({stripped}) > {CJK_MAX_TOK_CHARS} *"
        f" size(filter(split({text_col}, '\\\\s+'), x -> x <> '')))"
    )
    return F.expr(
        f"CASE WHEN {degenerate}"
        f" THEN transform(sequence(1, length({stripped}) - 1),"
        f"      i -> substring({stripped}, i, 2))"
        f" ELSE filter(split({text_col}, '\\\\s+'), x -> x <> '') END"
    )


def _with_effective_tokens(df: DataFrame, *keep_cols) -> DataFrame:
    """``df`` reduced to ``keep_cols`` + ``tk`` (effective-token array)
    + ``fb`` (fallback fired) — the shared SINGLE DEFINITION of the
    (array, flag) pair for plans that consume both (the funnel-gate
    family). Plan-shape note, measured honestly: CollapseProject
    inlines these staged selects, so the optimized plan is identical to
    writing :func:`_cjk_effective_tokens` + :func:`_cjk_degenerate`
    side by side (~5 split()/regexp_replace() per row either way;
    controlled A/B at sf0.1: 1.49 s vs 1.43 s signals — a wash); the
    helper exists so every tk+fb consumer shares one definition, not
    for speed. The net kernel cost over the pre-r15 raw-split gates is
    ~0.2 s (~15%) on the funnel at sf0.1 — the price of the degeneracy
    gate. Semantics are pinned equal to the expression kernels in
    tests/test_r15_ops.py."""
    staged = df.select(
        *keep_cols,
        F.expr("filter(split(text, '\\\\s+'), x -> x <> '')").alias("_ws"),
        F.regexp_replace("text", r"\s+", "").alias("_st"),
    ).select(
        *keep_cols,
        "_ws",
        "_st",
        (
            (F.size("_ws") > 0)
            & (F.length("_st") > CJK_MAX_TOK_CHARS * F.size("_ws"))
        ).alias("fb"),
    )
    return staged.select(
        *keep_cols,
        F.when(
            F.col("fb"),
            F.expr(
                "transform(sequence(1, length(_st) - 1),"
                " i -> substring(_st, i, 2))"
            ),
        )
        .otherwise(F.col("_ws"))
        .alias("tk"),
        "fb",
    )


def _cjk_degenerate(text_col: str = "text"):
    """BOOLEAN Column: whitespace tokenization is degenerate for this
    document (the fallback condition of :func:`_cjk_effective_tokens`,
    as a standalone predicate for gates that pass-through rather than
    re-tokenize — e.g. the funnel's anglocentric stopword gate)."""
    stripped = f"regexp_replace({text_col}, '\\\\s+', '')"
    n_ws = f"size(filter(split({text_col}, '\\\\s+'), x -> x <> ''))"
    return F.expr(
        f"({n_ws} > 0 AND length({stripped}) > {CJK_MAX_TOK_CHARS} * {n_ws})"
    )


def _cjk_effective_token_count(text_col: str = "text"):
    """BIGINT Column: ``size(_cjk_effective_tokens(...))`` without
    materializing the array — for count-only consumers (MIN_TOKENS-style
    gates). Bigram count = stripped length - 1 when degenerate,
    whitespace token count otherwise."""
    stripped = f"regexp_replace({text_col}, '\\\\s+', '')"
    n_ws = f"size(filter(split({text_col}, '\\\\s+'), x -> x <> ''))"
    return F.expr(
        f"CAST(CASE WHEN {n_ws} > 0 AND"
        f" length({stripped}) > {CJK_MAX_TOK_CHARS} * {n_ws}"
        f" THEN length({stripped}) - 1 ELSE {n_ws} END AS BIGINT)"
    )


def text_tokens_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization-degeneracy audit + effective token counts: per
    document, the whitespace token count, the total non-whitespace
    character mass, whether the CJK bigram fallback fires
    (``used_fallback``), and the EFFECTIVE token count the budget/
    quality gates should consume (bigram count when degenerate,
    whitespace count otherwise). On a segmented corpus the fallback
    column is identically 0 and ``n_tokens_effective`` equals the
    whitespace count — the differential still grades the full
    expression; the planted-CJK branch is pinned by pytest (an
    unsegmented document is ONE giant whitespace token, so every
    downstream MIN_TOKENS/shingle/BM25 gate silently mis-fires without
    the fallback).

    Scale: pure per-row integer arithmetic inside whole-stage codegen —
    map-only, no shuffle beyond the output sort.

    Registered and graded from r15 (the window rotation slot the r14
    saturation forced — see COVERAGE.md "Window plan").
    """
    return _token_stats_cjk_kernel(load_table(spark, sf_dir, "documents"))


def _token_stats_cjk_kernel(docs: DataFrame) -> DataFrame:
    """DataFrame-in kernel of :func:`text_tokens_cjk` (planted-corpus
    tests drive CJK documents through the exact production plan)."""
    toks = F.expr("filter(split(text, '\\\\s+'), x -> x <> '')")
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.length(F.regexp_replace("text", r"\s+", ""))
        .cast("long")
        .alias("sum_tok_chars"),
    )
    fb = (F.col("n_ws_tokens") > 0) & (
        F.col("sum_tok_chars") > CJK_MAX_TOK_CHARS * F.col("n_ws_tokens")
    )
    return base.select(
        "doc_id",
        "n_ws_tokens",
        "sum_tok_chars",
        fb.cast("int").alias("used_fallback"),
        F.when(fb, F.col("sum_tok_chars") - 1)
        .otherwise(F.col("n_ws_tokens"))
        .cast("long")
        .alias("n_tokens_effective"),
    ).orderBy("doc_id")


ORACLE_SQL["text_tokens_cjk"] = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_ws_tokens,
               CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
                   AS sum_tok_chars
        FROM documents
    )
    SELECT doc_id, n_ws_tokens, sum_tok_chars,
           CAST(n_ws_tokens > 0
                AND sum_tok_chars > {CJK_MAX_TOK_CHARS} * n_ws_tokens AS INT)
               AS used_fallback,
           CASE WHEN n_ws_tokens > 0
                     AND sum_tok_chars > {CJK_MAX_TOK_CHARS} * n_ws_tokens
                THEN sum_tok_chars - 1 ELSE n_ws_tokens END
               AS n_tokens_effective
    FROM t
    ORDER BY doc_id
"""
