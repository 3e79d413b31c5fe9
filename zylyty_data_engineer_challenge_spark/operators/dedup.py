"""Deduplication operators for large-scale training-data pipelines.

[EXTENDED] surface mandated by the north star (SURVEY.md §2.12) — not in the
reference (`/root/reference/main.py` has only the exact keyed dedup at
main.py:123, covered by :mod:`..etl.clean`). Four families here:

* exact dedup — hash-groupBy on normalized text;
* n-gram Jaccard — exact pairwise set similarity (the verification kernel);
* MinHash + LSH banding — the scale path: candidate pairs come from band
  buckets, so the quadratic verify runs only within buckets;
* SimHash — 64-bit signed-projection signatures + Hamming-distance pairs.

Cross-engine determinism: every similarity decision is *integer* arithmetic
(`3*common >= s1+s2` ⟺ Jaccard ≥ 0.5) and every hash is md5-derived
(identical hex in Spark and DuckDB), so the DuckDB oracle hash-matches
bit-for-bit. No floats anywhere in this module.

Scale notes (100 TB): shingling is a narrow map (explode) — no shuffle;
MinHash signatures are one hash-shuffle groupBy on doc_id; LSH banding
shuffles on (band, signature) whose cardinality ~ n_docs; the exact-verify
join touches only candidate pairs. The all-pairs forms (`ngram_jaccard`,
`simhash` pair output) are intentionally quadratic verification kernels —
at scale they are only ever run on LSH-bucketed candidates, which is
exactly how `dedup_minhash_lsh` composes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import artifact_dir, load_table
from ..oracle_utils import strip_order_by as _strip_order_by

N_HASHES = 16
N_BANDS = 4  # 4 rows/band: P(candidate) = 1-(1-j^4)^4 — steep around j≈0.5
MINHASH_DIGESTS = 1  # md5 digests computed per shingle (r16; was 4 pre-r16)
MINHASH_P = 4294967291  # largest prime < 2^32 — the double-hashing modulus


def _tokens(df: DataFrame) -> DataFrame:
    """doc_id + exploded EFFECTIVE tokens (distinct per doc). r15: via
    the CJK bigram fallback kernel — identical to distinct whitespace
    tokens on every segmented document by construction."""
    from .text import _cjk_effective_tokens

    return df.select(
        "doc_id",
        F.explode(F.array_distinct(_cjk_effective_tokens("text"))).alias("w"),
    )


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct EFFECTIVE-token n-gram shingles per doc.

    Built with a JVM-side higher-order function (transform over a position
    sequence) — a narrow map, no Python, no shuffle. The text is tokenized
    ONCE into a projected token array first: HOFs are interpreted (not
    codegen), so re-evaluating split() per lambda invocation cost ~6x in
    wall time (measured 2.0 s -> 0.3 s per pass at sf0.1).

    r15: the token array is ``text._cjk_effective_tokens`` — codepoint
    bigrams when whitespace tokenization is degenerate (unsegmented/CJK
    text), so MinHash shingles stop collapsing a CJK document to a
    single giant-token shingle. Segmented documents take the kernel's
    else-branch (filter(split) — bit-identical shingle sets).
    """
    from .text import _cjk_effective_tokens

    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # docs shorter than n shingle words need the explicit empty-array guard.
    return df.select("doc_id", _cjk_effective_tokens("text").alias("t")).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"CASE WHEN size(t) >= {n} THEN "
                    f"transform(sequence(1, size(t) - {n - 1}),"
                    f" i -> array_join(slice(t, i, {n}), ' ')) "
                    f"ELSE array() END"
                )
            )
        ).alias("s"),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per normalized-text hash.

    The canonical first pass of any corpus dedup: normalize (lowercase,
    collapse whitespace), hash, keep one representative per hash. A single
    map-side-combinable hash aggregate — the cheapest possible shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select(F.md5(norm).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc_id")
        .select("keep_doc_id", "text_hash", "n_copies")
    )


HOT_SHINGLE_MIN_DF = 50  # absolute floor for the document-frequency cap
HOT_SHINGLE_PCT = 100  # cap = max(floor, n_docs div 100) i.e. 1% of corpus


# Exhaustive-yardstick fence (r9 VERDICT item 8): three registered
# operators are DELIBERATELY quadratic — they exist as small-scale exact
# ground truth beside their banded/anchor-sampled scale twins
# (dedup_ngram_jaccard vs dedup_minhash_lsh; dedup_lsh_recall and
# dedup_embedding_recall vs their *_sampled forms). Pointing one at real
# data would be a silent scale-killer, so each refuses loudly above this
# input size instead of grinding: the bench corpus (sf0.1: 5k docs / 2k
# vectors) passes, the 10x smoke corpus (51k docs / 20k vectors) trips.
YARDSTICK_MAX_ROWS = 10_000


def _yardstick_guard(df: DataFrame, name: str, what: str) -> None:
    """Hard input-size fence for the exhaustive yardsticks — one scalar
    count (driver-side control flow on an aggregate, like graph.py's
    convergence check), then a loud RuntimeError above the bound."""
    n = df.agg(F.count("*").alias("n")).first()["n"]
    if n > YARDSTICK_MAX_ROWS:
        raise RuntimeError(
            f"{name} is an exhaustive yardstick (quadratic {what}); refusing "
            f"{n} input rows > YARDSTICK_MAX_ROWS={YARDSTICK_MAX_ROWS}. Use "
            f"its banded/anchor-sampled scale twin instead."
        )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YARDSTICK — exact all-pairs 3-gram Jaccard near-dup pairs at
    j >= 0.5, over the document-frequency-capped shingle universe; the
    small-scale ground truth beside :func:`dedup_minhash_lsh` (the 100 TB
    path), fenced by :func:`_yardstick_guard` so it can never silently
    run against a real corpus.

    Integer-only decision: j = c/(s1+s2-c) >= 1/2  ⟺  3c >= s1+s2.
    This is the exact verification kernel; the scale path prunes pairs with
    LSH first (see :func:`dedup_minhash_lsh`).

    Hot-shingle guard: shingles whose document frequency exceeds
    max(50, 1% of n_docs) are dropped before the self-join (mirrored in the
    oracle). Without it one boilerplate trigram shared by a large doc
    fraction creates a single quadratic reducer — the r1 VERDICT scale
    regression #6. Jaccard is then defined over the capped universe, which
    is also what near-dup detection wants: corpus-wide boilerplate carries
    no duplication signal.

    No ``.cache()``: session-lifetime cache entries keyed on plan identity
    accumulate across corpora and leak into unrelated queries (VERDICT
    item 8 — r1's bench showed text_top_ngrams silently reading this
    cache). Instead the shingle table is materialized ONCE per query via
    an explicit ``repartition("s")``: every consumer (doc-frequency agg,
    sizes, both self-join sides) hangs off the identical exchange, which
    Catalyst's ReusedExchange computes a single time — query-scoped, no
    session state, and the self-join needed the s-shuffle anyway.
    """
    docs = load_table(spark, sf_dir, "documents")
    _yardstick_guard(docs, "dedup_ngram_jaccard", "shingle self-join")
    return _ngram_jaccard_pairs(docs)


def _shingle_pair_table(docs: DataFrame, anchor=None, sh: DataFrame | None = None) -> DataFrame:
    """UNFILTERED exact pair table (d1, d2, common, s1, s2) over the
    capped shingle universe — the shared kernel under every exact-overlap
    metric (Jaccard threshold in :func:`_ngram_jaccard_pairs`, containment
    threshold in :func:`dedup_containment`).

    ``anchor`` (optional ``Column -> Column`` predicate on doc_id) filters
    the LEFT side of the pair self-join BEFORE the join — the anchor-sample
    formulation the sampled recall gate needs at scale: exact ground truth
    for the sampled anchors only, against the FULL corpus (shingle
    document frequencies and set sizes stay corpus-wide, so the Jaccard
    universe is unchanged). The filter lands after the ``repartition("s")``
    so both join sides still hang off the same reused exchange.

    ``sh`` (r16): an optional pre-built shingle table — the recall gates
    pass ONE lazily-checkpointed shingle pass shared with their LSH side
    (see :func:`dedup_lsh_recall`), so the gate tokenizes the corpus once
    instead of once per detector.
    """
    sh = (_shingles(docs) if sh is None else sh).repartition("s")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    hot = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            > F.greatest(F.lit(HOT_SHINGLE_MIN_DF), F.expr(f"n_docs div {HOT_SHINGLE_PCT}"))
        )
        .select("s")
    )
    kept = sh.join(F.broadcast(hot), "s", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_side = kept.filter(anchor(F.col("doc_id"))) if anchor is not None else kept
    common = (
        a_side.alias("a")
        .join(kept.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(F.broadcast(sizes.withColumnsRenamed({"doc_id": "d1", "n": "s1"})), "d1")
        .join(F.broadcast(sizes.withColumnsRenamed({"doc_id": "d2", "n": "s2"})), "d2")
        .select("d1", "d2", "common", "s1", "s2")
    )


def _ngram_jaccard_pairs(docs: DataFrame, anchor=None, sh: DataFrame | None = None) -> DataFrame:
    """Jaccard-thresholded pairs from the shared kernel (j >= 0.5 as the
    exact integer test 3c >= s1 + s2)."""
    return (
        _shingle_pair_table(docs, anchor, sh=sh)
        .filter(3 * F.col("common") >= F.col("s1") + F.col("s2"))
        .orderBy("d1", "d2")
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """doc_id + N_HASHES minhash columns h0..h15 (BIGINT).

    Hash family (r16, guide §1.2 step 2 + §2.3): ONE md5 digest per
    shingle, split into two 60-bit ints a = digest hex[1:15], b = hex
    [16:30], then Kirsch-Mitzenmacher double hashing — h_i = (a mod P +
    i * (b mod P)) mod P with P = MINHASH_P, the largest 32-bit prime —
    giving the 16 independent-enough minhash functions for ONE
    cryptographic-digest evaluation per shingle where the r5-r15 family
    computed FOUR salted digests (md5 was the measured per-row cost
    floor of the whole minhash family: ~1.3 s of dedup_minhash_lsh's
    2.7 s line at sf0.1; VERDICT r15 item 1). All arithmetic stays far
    inside int64 (a%P + 15*(b%P) < 2^36), and both engines compute it
    identically: Spark ``conv(hex, 16, 10)`` == DuckDB
    ``('0x' || hex)::BIGINT`` (the SIMHASH convention), and ``%`` on
    nonnegative operands is the same remainder. MIN over BIGINT also
    shuffles 16 longs per row instead of 16 8-hex-char strings (§2.3,
    narrower types). The digest is projected into (ha, hb) BEFORE the
    aggregate — two chained selects, which CollapseProject keeps apart
    because the digest alias is referenced twice — so md5 is provably
    evaluated once per row (not re-derived inside every MIN; pinned by
    tests/test_plans.py::test_minhash_signatures_hash_once_per_group).
    One groupBy(doc_id) computes all 16 mins in a single shuffle.
    """
    proj = sh.select("doc_id", F.md5("s").alias("dg")).select(
        "doc_id",
        F.expr(
            f"CAST(conv(substr(dg, 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}"
        ).alias("ha"),
        F.expr(
            f"CAST(conv(substr(dg, 16, 15), 16, 10) AS BIGINT) % {MINHASH_P}"
        ).alias("hb"),
    )
    aggs = [
        F.min((F.col("ha") + F.lit(i) * F.col("hb")) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return proj.groupBy("doc_id").agg(*aggs)


def _minhash_bands(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, sig) LSH band table. Per-doc deterministic — a
    document's bands depend only on its own text (md5 of its shingles),
    never on the rest of the corpus — which is the property that makes
    incremental append (:func:`dedup_minhash_append`) EXACTLY equal to a
    full rebuild: encoding a new batch against a frozen band table yields
    the same candidates the union build would. ``sh`` optionally supplies
    a pre-built shingle table (the recall gates' shared pass)."""
    sh = (_shingles(docs) if sh is None else sh).repartition("doc_id")
    sig = _minhash_signatures(sh)
    rows_per_band = N_HASHES // N_BANDS
    band_cols = []
    for b in range(N_BANDS):
        members = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *members)).alias("sig"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _band_candidates(bx: DataFrame, by: DataFrame) -> DataFrame:
    """Distinct candidate (d1, d2) pairs sharing any (band, sig) bucket,
    d1 < d2. The quadratic work runs only inside buckets."""
    return (
        bx.alias("x")
        .join(
            by.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )


def _band_candidates_sym(bx: DataFrame, by: DataFrame) -> DataFrame:
    """Distinct candidate pairs where AT LEAST the ``bx`` member is
    present — the incremental appends' batch-vs-(store ∪ batch) shape in
    ONE join (r16, guide §2.4). The pre-r16 form unioned BOTH
    orientations of :func:`_band_candidates` (the new doc may be either
    the smaller or larger id of a pair); joining on ``!=`` and
    normalizing with least/greatest yields the identical distinct set
    while scanning and joining the (bigger) ``by`` side once instead of
    twice."""
    return (
        bx.alias("x")
        .join(
            by.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("d1"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("d2"),
        )
        .distinct()
    )


def _jaccard_verify(
    cand: DataFrame,
    docs: DataFrame,
    restrict: bool = False,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs: fold each doc's
    (already-distinct) shingles into one array and intersect per pair —
    two doc_id equi-joins against a doc-count-sized table instead of
    re-shuffling the full shingle relation twice and aggregating pair
    counts (measured 2.3 s -> 1.8 s at sf0.1, identical output). Per-doc
    array size is bounded by document length, and candidate volume is
    output-bounded, so both joins stay skew-safe at corpus scale.

    ``restrict=True`` semi-joins the corpus down to candidate members
    before shingling — the append path's shape, where candidates touch a
    tiny fraction of the corpus and shingling everything would dominate.
    The full build leaves it False so the one materialized shingle
    exchange is shared with the signature stage via ReusedExchange.
    """
    if restrict:
        needed = (
            cand.select(F.col("d1").alias("doc_id"))
            .unionAll(cand.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        docs = docs.join(needed, "doc_id", "left_semi")
        sh = None  # the restricted doc set needs its own shingle pass
    sh = (_shingles(docs) if sh is None else sh).repartition("doc_id")
    arrs = sh.groupBy("doc_id").agg(F.collect_list("s").alias("arr"))
    return (
        cand.join(arrs.select(F.col("doc_id").alias("d1"), F.col("arr").alias("arr1")), "d1")
        .join(arrs.select(F.col("doc_id").alias("d2"), F.col("arr").alias("arr2")), "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("arr1", "arr2")).alias("common"),
            F.size("arr1").alias("s1"),
            F.size("arr2").alias("s2"),
        )
        .filter(3 * F.col("common") >= F.col("s1") + F.col("s2"))
    )


def _minhash_lsh_pairs(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """Unordered MinHash-LSH near-dup pairs (the full-build composition:
    band → bucket-join → exact verify). Shared by the registered query,
    the persisted pair cache, and the append path's base build. ``sh``
    optionally supplies a pre-built shingle table (the recall gates'
    shared pass)."""
    # uncached; one exchange materializes the shingle table for all four
    # consumers (signatures, sizes, both verify-join sides) via
    # ReusedExchange — see dedup_ngram_jaccard's note
    bands = _minhash_bands(docs, sh=sh)
    return _jaccard_verify(_band_candidates(bands, bands), docs, sh=sh)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: shingle → minhash → band → bucket-join
    → exact-Jaccard verify. Emits the same (d1,d2,common,s1,s2) contract as
    :func:`dedup_ngram_jaccard` — at j >= 0.5 with 4x4 banding the candidate
    recall is high but not guaranteed 1.0, which is the standard trade.

    Scale: the quadratic join runs only inside (band, signature) buckets;
    bucket cardinality ~ corpus size, so skew is bounded by true duplicate
    cluster size. Signature computation is one shuffle; banding is a narrow
    projection.
    """
    return _minhash_lsh_pairs(load_table(spark, sf_dir, "documents")).orderBy("d1", "d2")


# bump to invalidate every persisted near-dup artifact (banding/hash change)
# v2: r16 minhash hash-family change (one-digest double hashing) — every
# stored band/pair artifact derived from the old 4-digest family is stale
NEARDUP_PAIRS_VERSION = 2


def _pair_cache_dir(
    spark: SparkSession,
    sf_dir: str,
    modality: str = "",
    src: str = "documents.parquet",
) -> str:
    """Directory of a near-dup-derived store under the pair-cache root,
    keyed by ``src``'s identity and :data:`NEARDUP_PAIRS_VERSION`.
    ``modality`` namespaces each store (``"emb"``, ``"append-inst"``,
    ``"dsir-counts"``, ...); the empty default is the minhash pair cache."""
    tag = f"{modality}-" if modality else ""
    return artifact_dir(
        spark, "pairCacheDir", [f"{sf_dir}/{src}"], f"{tag}v{NEARDUP_PAIRS_VERSION}"
    )


APPEND_MOD = 10  # doc_id % 10 == 0 plays the arriving "daily batch"


def dedup_minhash_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the shape a training-data pipeline runs
    daily (the dedup analog of ``sim_index_append``): encode a NEW
    document batch against the persisted band table, emit only
    new-vs-corpus and new-vs-new pairs, and append the batch's bands and
    pairs to the stored artifacts. Returns the persisted pair table
    AFTER the append, whose oracle is :func:`dedup_minhash_lsh`'s full
    SQL verbatim — hash-equality proves **append ≡ full rebuild on the
    union corpus**, which holds exactly (not approximately) because a
    doc's minhash bands depend only on its own text: candidates over the
    union = base-base candidates ∪ new-vs-anything candidates, and the
    Jaccard verify is per-pair.

    The fixture split is deterministic: doc_id % APPEND_MOD == 0 is the
    arriving batch, the rest is the pre-built corpus (built and persisted
    once per source identity, same marker contract as the pair cache).

    Scale: the incremental cost is O(batch) band encoding + a
    batch-vs-corpus bucket join (never corpus x corpus) + verify over
    candidate pairs only, with shingle arrays recomputed just for
    candidate-touched docs (semi-join pushdown, ``restrict=True``) — the
    whole reason an incremental path exists at 100 TB. The batch's bands
    and pairs are their own installment children (``bands_new``,
    ``pairs_new``) beside the base's, published under one marker, and
    readers read base ∪ batch; re-running, even after the marker is
    lost, emits the same result without duplicating stored rows.
    """
    from ..catalog import build_once

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % APPEND_MOD == 0
    base_docs = docs.filter(~is_new)
    new_docs = docs.filter(is_new)

    base = _pair_cache_dir(spark, sf_dir, modality="append-inst")

    def build_base(stage: str) -> None:
        _minhash_bands(base_docs).write.parquet(f"{stage}/bands")
        _minhash_lsh_pairs(base_docs).write.parquet(f"{stage}/pairs")

    def build_batch(stage: str) -> None:
        stored_bands = spark.read.parquet(f"{base}/bands")
        # banding the batch feeds three subtrees (the new side of the
        # candidate join, the union side, and the bands installment) —
        # the eager checkpoint runs shingle+minhash ONCE
        new_bands = _minhash_bands(new_docs).localCheckpoint(eager=True)
        all_bands = stored_bands.unionByName(new_bands)
        # ONE symmetric new-vs-anything bucket join instead of both
        # orientations (identical distinct candidate set; new-vs-new
        # pairs normalize to d1 < d2 under least/greatest)
        cand = _band_candidates_sym(new_bands, all_bands)
        _jaccard_verify(cand, docs, restrict=True).write.parquet(
            f"{stage}/pairs_new"
        )
        new_bands.write.parquet(f"{stage}/bands_new")

    build_once(spark, base, "_BASE_READY", build_base)
    build_once(spark, base, "_APPEND_READY", build_batch)
    return _minhash_append_pairs(spark, base).orderBy("d1", "d2")


def _minhash_append_pairs(spark: SparkSession, base: str) -> DataFrame:
    """The append store's pair table: base installment ∪ batch installment."""
    return spark.read.parquet(f"{base}/pairs", f"{base}/pairs_new")


def minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted near-dup pair list: detect once per source identity,
    then every consumer reads parquet.

    Pair detection (shingle → minhash → band → verify) is the dominant
    shared cost of the graph/curation family — `dedup_cc`,
    `graph_triangles`, `graph_kcore`, and `pipeline_curate_near` each
    need the SAME (d1, d2) edge list, and at 100 TB re-running detection
    per consumer is ~4x the total cost of the family. This materializes
    :func:`_minhash_lsh_pairs` to an identity-keyed parquet (plus the
    band table for :func:`dedup_minhash_append`) on first use; thereafter
    consumers start from a columnar scan of the output-sized pair list
    instead of the corpus-sized detection pipeline. Stale reuse is
    impossible by construction: the directory key embeds the documents
    source identity (mtime+size), so regenerated data re-detects.
    """
    from ..catalog import build_once

    base = _pair_cache_dir(spark, sf_dir)

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        _minhash_lsh_pairs(docs).write.parquet(f"{stage}/pairs")
        _minhash_bands(docs).write.parquet(f"{stage}/bands")

    build_once(spark, base, "_PAIRS_READY", build)
    return spark.read.parquet(f"{base}/pairs")


def embedding_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted EMBEDDING near-dup pair list — the embedding
    modality's twin of :func:`minhash_pairs_cached`, keyed by the
    embeddings source identity.

    :func:`dedup_embedding_lsh` (hyperplane banding + integer cosine
    verify) is deterministic per source bytes, so its output-sized pair
    list is a build-once artifact exactly like the text pairs: detect on
    first use, every later consumer (``dedup_multimodal_cc``,
    ``dedup_semantic``-style compositions) starts from a columnar scan
    of the pair parquet instead of re-running signature computation and
    the bucketed self-join over the full vector corpus. Staleness safety
    is by construction — the directory key embeds the embeddings file
    identity, so regenerated vectors re-detect.
    """
    from ..catalog import build_once

    base = _pair_cache_dir(spark, sf_dir, modality="emb", src="embeddings.parquet")

    def build(stage: str) -> None:
        dedup_embedding_lsh(spark, sf_dir).write.parquet(f"{stage}/pairs")

    build_once(spark, base, "_PAIRS_READY", build)
    return spark.read.parquet(f"{base}/pairs")


SIMHASH_BITS = 60  # 15 md5 hex chars -> fits signed 64-bit in both engines
SIMHASH_BANDS = 4
# Threshold < SIMHASH_BANDS makes the band join LOSSLESS: <= 3 flipped bits
# cannot touch all 4 bands, so every qualifying pair shares at least one
# exact 15-bit band (pigeonhole) — recall is 1.0, not the usual LSH trade.
HAMMING_MAX = SIMHASH_BANDS - 1
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15-bit band keys
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
# Hot-bucket cap (the simhash analog of the ngram family's hot-shingle
# df-cap): a (bidx, bsig) bucket holding more than max(floor, 1% of corpus)
# docs is dropped from candidate generation. On a homogeneous corpus most
# docs collapse into a handful of band buckets (the fingerprint IS a
# content summary, so low-diversity content means low-diversity bands) and
# the within-bucket join goes quadratic — the r5 10x audit measured >15 min
# there. Pairs are lost only when EVERY shared band of a qualifying pair is
# hot; dedup_simhash_recall_sampled quantifies exactly that loss.
SIMHASH_BUCKET_MIN_DF = 50  # absolute floor for the bucket cap
SIMHASH_BUCKET_PCT = 100  # cap = max(floor, n_docs div 100), 1% of corpus

# Shared oracle CTE chain: tokens -> token hashes -> per-bit sums ->
# fingerprints -> band table. Used by both the capped detector's oracle and
# the sampled recall gate's UNCAPPED exact side, so the two can never drift.
_SIMHASH_CTE = f"""toks AS (
            SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents
        ),
        th AS (
            SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS th FROM toks
        ),
        bits AS (
            SELECT doc_id, b.b, SUM(((th >> b.b) & 1) * 2 - 1) AS s
            FROM th, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) b
            GROUP BY 1, 2
        ),
        fp AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, simhash, b.b AS bidx,
                   CAST((simhash >> (b.b * {SIMHASH_BAND_BITS})) & {SIMHASH_BAND_MASK} AS INT) AS bsig
            FROM fp, (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS b) b
        )"""


def _simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, bidx, bsig) band table for the simhash family —
    fingerprints are one groupBy(doc_id) with 60 codegen'd SUMs; bands
    are a narrow projection. Per-doc deterministic, like minhash bands."""
    toks = _tokens(docs)
    th = toks.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)").alias("th"),
    )
    # one shuffle on doc_id with 60 codegen'd SUM expressions — NOT a
    # 60-way bit explode (tokens x 60 rows through two shuffles cost ~2x
    # the whole query at sf0.1). Identical integer math to the oracle's
    # explode form, so fingerprints agree bit-for-bit.
    per_bit = th.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"CAST(shiftright(th, {b}) & 1 AS INT) * 2 - 1")).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    fp = per_bit.select("doc_id", F.expr(fp_expr).alias("simhash"))
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bidx"),
                        F.expr(
                            f"CAST(shiftright(simhash, {b * SIMHASH_BAND_BITS})"
                            f" & {SIMHASH_BAND_MASK} AS INT)"
                        ).alias("bsig"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.bidx").alias("bidx"), F.col("b.bsig").alias("bsig"))
    return bands


def _simhash_banded_pairs(bx: DataFrame, by: DataFrame) -> DataFrame:
    """Distinct (d1, d2, hamming) pairs at Hamming <= HAMMING_MAX sharing
    any band bucket between the two band tables, d1 < d2."""
    return (
        bx.alias("x")
        .join(
            by.alias("y"),
            (F.col("x.bidx") == F.col("y.bidx"))
            & (F.col("x.bsig") == F.col("y.bsig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


def _simhash_hot_buckets(bands: DataFrame, docs: DataFrame) -> DataFrame:
    """(bidx, bsig) buckets above the df-cap — joined anti to prune
    candidate generation. Hot-bucket cardinality is tiny (they are the
    head of the bucket-size distribution), so the anti-join broadcasts."""
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        bands.groupBy("bidx", "bsig")
        .agg(F.count("*").alias("df"))
        .crossJoin(n_docs)  # 1-row corpus count, same shape as ngram's cap
        .filter(
            F.col("df")
            > F.greatest(
                F.lit(SIMHASH_BUCKET_MIN_DF),
                F.expr(f"n_docs div {SIMHASH_BUCKET_PCT}"),
            )
        )
        .select("bidx", "bsig")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signed-projection fingerprints, all
    pairs at Hamming distance <= 3, found via a banded equi-join with a
    hot-bucket df-cap.

    Token hash = first 15 hex chars of md5 as int (identical in Spark
    `conv` and DuckDB hex-cast). Bit b of the fingerprint is the sign of
    sum over tokens of (2*bit_b(hash)-1). All integer arithmetic.

    Scale: fingerprints are one groupBy(doc_id) with 60 codegen'd SUMs;
    candidate pairs come from a 4x15-bit **band equi-join** that is
    lossless at this threshold on heterogeneous corpora (<= 3 flipped
    bits cannot touch all 4 bands — pigeonhole), BUT homogeneous corpora
    concentrate docs into few buckets and the within-bucket join goes
    quadratic. Buckets above max(SIMHASH_BUCKET_MIN_DF, 1% of corpus)
    docs are therefore dropped (the hot-shingle cap's analog), bounding
    per-bucket work by the cap squared; the recall cost — a pair is lost
    only when every band it shares is hot — is quantified by
    :func:`dedup_simhash_recall_sampled`. The oracle mirrors the same
    capped banded construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = _simhash_bands(docs)
    kept = bands.join(
        F.broadcast(_simhash_hot_buckets(bands, docs)),
        ["bidx", "bsig"],
        "left_anti",
    )
    return _simhash_banded_pairs(kept, kept).orderBy("d1", "d2")


COS_NUM = 81  # threshold 0.45: cos >= 0.45 ⟺ 400*dot^2 >= 81*n1*n2 (dot>0)
COS_DEN = 400
QUANT = 1000  # fixed-point scale for float32 components


N_BLOCKS = 16  # all-pairs blocking factor; tasks = N_BLOCKS*(N_BLOCKS+1)/2


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: quantized-cosine >= 0.45 over the
    embeddings table.

    Components are fixed-point quantized (floor(x*1000)) so dot products
    and norms are exact integers; the threshold test is pure int arithmetic
    (dot>0 ∧ 400·dot² >= 81·n1·n2) — no float summation-order drift between
    engines (numpy int64 matmul is exact at these magnitudes: |q| <= ~1000,
    dot <= ~6.4e7, dot² * 400 < 2^63).

    Execution is BLOCKED all-pairs: vectors are hashed into N_BLOCKS
    buckets, every vector is replicated once per partner block (N_BLOCKS
    copies), and each (b1<=b2) block pair is one ``applyInPandas`` task that
    computes its cross dot products as a single numpy matrix multiply and
    emits only surviving pairs. Compared to a row-pair join with
    zip_with/aggregate (Spark HOFs are interpreted, not codegen), this is
    ~15x faster locally and the replication cost is O(n·N_BLOCKS), not
    O(n²): with B blocks the shuffle moves B copies of the corpus while
    each of the B(B+1)/2 tasks multiplies two (n/B)-row blocks.

    Scale: the same kernel is the verify stage after LSH/IVF candidate
    pruning (:mod:`.similarity`); run standalone it is the exact
    all-pairs baseline, sized by choosing N_BLOCKS ~ sqrt(cluster cores).
    """
    import pandas as pd

    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
        ).alias("q"),
        (F.col("vec_id") % N_BLOCKS).alias("blk"),
    )
    # replicate each vector to every block pair it participates in
    partners = F.array(*[F.lit(i) for i in range(N_BLOCKS)])
    replicated = emb.select(
        "vec_id", "q", "blk", F.explode(partners).alias("other")
    ).select(
        "vec_id",
        "q",
        "blk",
        F.least("blk", "other").alias("b1"),
        F.greatest("blk", "other").alias("b2"),
    ).dropDuplicates(["vec_id", "b1", "b2"])

    out_schema = T.StructType(
        [
            T.StructField("v1", T.LongType()),
            T.StructField("v2", T.LongType()),
            T.StructField("dot", T.LongType()),
            T.StructField("n1", T.LongType()),
            T.StructField("n2", T.LongType()),
        ]
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        b1, b2 = int(pdf["b1"].iloc[0]), int(pdf["b2"].iloc[0])
        left = pdf[pdf["blk"] == b1]
        right = pdf[pdf["blk"] == b2]
        if left.empty or right.empty:
            return pd.DataFrame(columns=["v1", "v2", "dot", "n1", "n2"]).astype("int64")
        lm = np.stack(left["q"].to_numpy()).astype(np.int64)
        rm = np.stack(right["q"].to_numpy()).astype(np.int64)
        lids = left["vec_id"].to_numpy()
        rids = right["vec_id"].to_numpy()
        dots = lm @ rm.T
        ln = (lm * lm).sum(axis=1)
        rn = (rm * rm).sum(axis=1)
        if b1 == b2:
            # diagonal block: left == right, so each pair appears twice and
            # self-pairs exist — keep exactly the lids < rids triangle
            pair_mask = lids[:, None] < rids[None, :]
        else:
            # off-diagonal: blocks are disjoint, every cross pair appears
            # exactly once (canonicalized to v1 < v2 below)
            pair_mask = np.ones((len(lids), len(rids)), dtype=bool)
        ii, jj = np.where(
            (dots > 0)
            & pair_mask
            & (COS_DEN * dots * dots >= COS_NUM * ln[:, None] * rn[None, :])
        )
        return pd.DataFrame(
            {
                "v1": np.minimum(lids[ii], rids[jj]),
                "v2": np.maximum(lids[ii], rids[jj]),
                "dot": dots[ii, jj],
                "n1": np.where(lids[ii] < rids[jj], ln[ii], rn[jj]),
                "n2": np.where(lids[ii] < rids[jj], rn[jj], ln[ii]),
            }
        )

    return (
        replicated.groupBy("b1", "b2")
        .applyInPandas(block_pairs, schema=out_schema)
        .dropDuplicates(["v1", "v2"])
        .orderBy("v1", "v2")
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned embedding near-dup pairs — the 100 TB formulation of
    :func:`dedup_embedding_cosine`, exactly as :func:`dedup_minhash_lsh`
    is the scale path for :func:`dedup_ngram_jaccard`.

    Candidates are pairs sharing at least one 8-bit hyperplane band
    signature (the banding machinery is shared with
    :mod:`.similarity`'s LSH ANN — same deterministic md5-derived
    hyperplanes, so the oracle reproduces buckets bit-for-bit); the exact
    integer cosine test (dot>0 ∧ 400·dot² >= 81·n1·n2) then runs ONLY on
    candidates. Recall < 1.0 by construction — a near-dup pair whose
    vectors disagree on both bands is missed, the standard LSH trade.

    Scale: the band self-join is a bucketed equi-join (one shuffle on the
    band key), never all-pairs; the quadratic risk concentrates in hot
    buckets, bounded by band width — at 2^8 buckets per band this corpus
    spreads thin, and a 100 TB corpus raises N_PLANES (wider signatures,
    more bands) the same way the text path adds minhash bands. The
    verify stage is candidate-bounded; when candidates are dense, route
    them through the blocked numpy kernel of the exhaustive variant
    instead of per-pair HOFs.
    """
    from .similarity import _band_rows, _quantized, _signatures_np

    emb = _quantized(spark, sf_dir)
    sig = _signatures_np(emb)
    bands = _band_rows(sig, "vec_id")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.bidx") == F.col("b.bidx"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
        .distinct()
    )
    qn = emb.select("vec_id", "q", "n")
    paired = cand.join(
        qn.withColumnsRenamed({"vec_id": "v1", "q": "q1", "n": "n1"}), "v1"
    ).join(qn.withColumnsRenamed({"vec_id": "v2", "q": "q2", "n": "n2"}), "v2")

    # Arrow-batched numpy verify: on LSH corpora the candidate set is
    # dense inside duplicate clusters, and Spark's interpreted zip_with/
    # aggregate HOF per pair was 2x SLOWER than the exhaustive blocked
    # kernel at the 10x smoke (24.7 s vs 11.7 s, tools/scale_smoke.py r7).
    # One vectorized (a*b).sum(axis=1) per Arrow batch matches the blocked
    # kernel's compute shape on exactly the pairs LSH kept.
    def verify(batches):
        import numpy as np
        import pandas as pd

        cols = ["v1", "v2", "dot", "n1", "n2"]
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(columns=cols).astype("int64")
                continue
            a = np.stack(pdf["q1"].to_numpy()).astype(np.int64)
            b = np.stack(pdf["q2"].to_numpy()).astype(np.int64)
            dots = (a * b).sum(axis=1)
            n1 = pdf["n1"].to_numpy()
            n2 = pdf["n2"].to_numpy()
            keep = (dots > 0) & (COS_DEN * dots * dots >= COS_NUM * n1 * n2)
            yield pd.DataFrame(
                {
                    "v1": pdf["v1"].to_numpy()[keep],
                    "v2": pdf["v2"].to_numpy()[keep],
                    "dot": dots[keep],
                    "n1": n1[keep],
                    "n2": n2[keep],
                }
            )

    return paired.mapInPandas(
        verify, schema="v1 bigint, v2 bigint, dot bigint, n1 bigint, n2 bigint"
    ).orderBy("v1", "v2")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — same integer/md5 constructions, CTE form.
# ---------------------------------------------------------------------------

_SHINGLES_CTE = """
    toks AS (
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
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

# mirrors _minhash_signatures (r16): one md5 digest per shingle -> (ha, hb)
# 60-bit halves reduced mod MINHASH_P, then 16 double-hashed mins
_MINHASH_HASH_CTE = f"""mh AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS ha,
                   ('0x' || substr(md5(s), 16, 15))::BIGINT % {MINHASH_P} AS hb
            FROM sh
        )"""

_MINHASH_COLS = ",\n               ".join(
    f"MIN((ha + {i} * hb) % {MINHASH_P}) AS h{i}" for i in range(N_HASHES)
)

_BAND_SELECTS = "\n        UNION ALL\n".join(
    "        SELECT doc_id, {b} AS band, md5({concat}) AS sig FROM sig".format(
        b=b,
        concat=" || '|' || ".join(
            f"CAST(h{b * (N_HASHES // N_BANDS) + r} AS VARCHAR)"
            for r in range(N_HASHES // N_BANDS)
        ),
    )
    for b in range(N_BANDS)
)

ORACLE_SQL = {
    "dedup_exact": """
        SELECT MIN(doc_id) AS keep_doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY text_hash
        ORDER BY keep_doc_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        docfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        kept AS (
            SELECT sh.doc_id, sh.s
            FROM sh JOIN docfreq USING (s) CROSS JOIN nd
            WHERE docfreq.df <= greatest({HOT_SHINGLE_MIN_DF}, nd.n_docs // {HOT_SHINGLE_PCT})
        ),
        ksizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        common AS (
            SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS common
            FROM kept x JOIN kept y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2, common, s1.n AS s1, s2.n AS s2
        FROM common
        JOIN ksizes s1 ON d1 = s1.doc_id
        JOIN ksizes s2 ON d2 = s2.doc_id
        WHERE 3 * common >= s1.n + s2.n
        ORDER BY d1, d2
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        {_MINHASH_HASH_CTE},
        sig AS (
            SELECT doc_id,
               {_MINHASH_COLS}
            FROM mh GROUP BY doc_id
        ),
        bands AS (
{_BAND_SELECTS}
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
            FROM bands x
            JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
        ),
        common AS (
            SELECT d1, d2, COUNT(*) AS common
            FROM cand
            JOIN sh a ON a.doc_id = d1
            JOIN sh b ON b.doc_id = d2 AND a.s = b.s
            GROUP BY 1, 2
        )
        SELECT d1, d2, common, s1.n AS s1, s2.n AS s2
        FROM common
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE 3 * common >= s1.n + s2.n
        ORDER BY d1, d2
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_CTE},
        bdf AS (
            SELECT bidx, bsig, COUNT(*) AS df FROM bands GROUP BY 1, 2
        ),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        kept AS (
            SELECT bands.* FROM bands JOIN bdf USING (bidx, bsig), nd
            WHERE bdf.df <= greatest({SIMHASH_BUCKET_MIN_DF},
                                     nd.n_docs // {SIMHASH_BUCKET_PCT})
        )
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
               bit_count(xor(x.simhash, y.simhash)) AS hamming
        FROM kept x
        JOIN kept y ON x.bidx = y.bidx AND x.bsig = y.bsig AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_MAX}
        ORDER BY d1, d2
    """,
    "dedup_embedding_cosine": f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
            FROM embeddings
        ),
        pos AS (
            SELECT vec_id, unnest(v) AS q, generate_subscripts(v, 1) AS i FROM q
        ),
        norms AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n FROM pos GROUP BY 1),
        dots AS (
            SELECT a.vec_id AS v1, b.vec_id AS v2, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
            FROM pos a JOIN pos b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT v1, v2, dot, n1.n AS n1, n2.n AS n2
        FROM dots
        JOIN norms n1 ON v1 = n1.vec_id
        JOIN norms n2 ON v2 = n2.vec_id
        WHERE dot > 0 AND {COS_DEN} * dot * dot >= {COS_NUM} * n1.n * n2.n
        ORDER BY v1, v2
    """,
}

# append ≡ full rebuild on the union corpus: the incremental path must
# serve the identical pair set, so its oracle is the full-build SQL
# verbatim — one oracle, two execution paths (in-plan build / persisted
# base + appended batch), mirroring sim_index_append's contract
ORACLE_SQL["dedup_minhash_append"] = ORACLE_SQL["dedup_minhash_lsh"]


PAIR_COMPACT_BUCKETS = 8  # one parquet file per bucket after compaction


def dedup_pairs_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-store maintenance, final lifecycle stage: COMPACTION (the
    dedup twin of :func:`..similarity.sim_index_compact`). Incremental
    appends — :func:`dedup_minhash_append` per daily batch,
    :func:`..streaming.dedup_stream.stream_dedup_pairs` per micro-batch
    — accumulate one small parquet file per append in the pair store; at
    production cadence a year of appends makes every consumer's scan
    open thousands of files, and small-file overhead (footer reads, task
    scheduling) erodes the columnar-scan advantage the cache exists for.
    This op rewrites the appended pair tree into ``pairs_compact`` with
    EXACTLY ONE file per hash bucket (``pmod(hash(d1, d2), B)`` —
    hash-repartition puts each bucket's rows in one task; partitionBy
    then emits one file per bucket), marker-idempotent per source
    identity, and serves the pairs from the compacted layout.

    Compaction must be consumer-invisible: the oracle is the full-rebuild
    :func:`dedup_minhash_lsh` SQL verbatim — one oracle, THREE execution
    paths now (in-plan build / base+append / compacted) — and
    tests/test_pair_cache.py additionally pins the one-file-per-bucket
    invariant and row equality against the uncompacted store.

    Scale: one shuffle of the output-sized pair list (5 small columns),
    then bucket-parallel writes; a background maintenance job off the
    serving path, the same shape as any LSM/lakehouse compactor.
    """
    from ..catalog import build_once

    base = _pair_cache_dir(spark, sf_dir, modality="append-inst")
    dedup_minhash_append(spark, sf_dir)  # ensure base + append exist

    def build(stage: str) -> None:
        (
            _minhash_append_pairs(spark, base)
            .withColumn(
                "bucket", F.expr(f"pmod(hash(d1, d2), {PAIR_COMPACT_BUCKETS})")
            )
            .repartition("bucket")
            .write.partitionBy("bucket")
            .parquet(f"{stage}/pairs_compact")
        )

    build_once(spark, base, "_PAIRS_COMPACT_READY", build)
    return (
        spark.read.parquet(f"{base}/pairs_compact")
        .select("d1", "d2", "common", "s1", "s2")
        .orderBy("d1", "d2")
    )


# compaction is a pure layout change: same oracle, third execution path
ORACLE_SQL["dedup_pairs_compact"] = ORACLE_SQL["dedup_minhash_lsh"]


K_SPAN = 8  # exact-substring span length, in whitespace tokens


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (the distributed form of Lee et
    al. 2022, arXiv:2107.06499 "Deduplicating Training Data Makes
    Language Models Better"): hash every K_SPAN-token window of every
    document, flag windows whose exact token span also occurs in at
    least one OTHER document, and report per-document duplicated-window
    coverage — (doc_id, n_windows, dup_windows, dup_frac). A curation
    pipeline thresholds dup_frac to drop boilerplate-heavy documents or
    routes high-coverage spans to span-level excision, the two policies
    the paper compares.

    Unlike the pair-emitting dedup family this NEVER materializes
    document pairs: a span shared by a million documents costs one
    aggregation group, not 10^12 pairs — which is why exact-substring
    coverage is computable at corpus sizes where even banded pair
    detection is not. The paper's suffix array finds variable-length
    maximal repeats; fixed-K windowing is the standard distributed
    approximation (any duplicated run >= K tokens is caught, shorter
    ones are below the dedup threshold by construction).

    Scale: window hashing is a map-only narrow projection (each doc
    emits ~n_tokens 128-bit hashes, no raw text shuffled); the repeat
    test is ONE shuffle keyed on the span hash — uniformly distributed
    by construction, so no salting needed; the per-doc rollup re-keys by
    doc_id. Everything is JVM built-ins inside whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("toks"))
    w = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= K_SPAN,
                F.expr(
                    f"transform(sequence(1, size(toks) - {K_SPAN} + 1), "
                    f"i -> md5(array_join(slice(toks, i, {K_SPAN}), ' ')))"
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("h"),
    # r15: ONE h-keyed exchange shared by the repeat-test aggregate AND
    # the flag join below via ReusedExchange (the _shingle_pair_table /
    # batched-lexical-probe discipline) — the window table previously
    # shuffled twice on the same key. The lost map-side min/max partials
    # bought almost nothing here: span hashes are mostly unique, so
    # partial rows ≈ input rows.
    ).repartition("h")
    dup = (
        # ">= 2 distinct docs" as min != max: same predicate as a distinct
        # count but constant aggregate state per hash (r12 x100 smoke:
        # distinct-count state carrying every (hash, doc) pair was the
        # dominant stage cost)
        w.groupBy("h")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("h", F.lit(1).alias("isdup"))
    )
    per = (
        w.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nw"),
            F.sum(F.coalesce("isdup", F.lit(0))).cast("long").alias("dw"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nw", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("dw", F.lit(0)).cast("long").alias("dup_windows"),
        )
        .withColumn(
            "dup_frac",
            # NULL, not 0/0, on sub-K docs (Spark non-ANSI x/0 is NULL
            # while DuckDB raises — same guard as the recall gates)
            F.when(F.col("n_windows") == 0, F.lit(None).cast("double")).otherwise(
                F.col("dup_windows") * 1.0 / F.col("n_windows")
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_SQL["dedup_exact_substring"] = f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ),
    w0 AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) - {K_SPAN} + 2)) AS i FROM t
    ),
    w AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(toks, i, i + {K_SPAN} - 1), ' ')) AS h
        FROM w0
    ),
    dup AS (
        SELECT h FROM w GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    per AS (
        SELECT w.doc_id,
               COUNT(*) AS nw,
               CAST(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS dw
        FROM w LEFT JOIN dup d USING (h)
        GROUP BY w.doc_id
    )
    SELECT doc.doc_id,
           COALESCE(per.nw, 0) AS n_windows,
           COALESCE(per.dw, 0) AS dup_windows,
           CASE WHEN COALESCE(per.nw, 0) = 0 THEN NULL
                ELSE COALESCE(per.dw, 0) * 1.0 / per.nw END AS dup_frac
    FROM documents doc LEFT JOIN per USING (doc_id)
    ORDER BY doc.doc_id
"""


def _span_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, i, h): every K_SPAN-token window of every document with
    its 1-based start position and span hash — the shared window kernel
    of the span family (:func:`dedup_dup_spans` flags repeats against
    the corpus itself; :func:`..text.text_contamination_excise` flags
    matches against a held-out eval set)."""
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= K_SPAN,
                F.expr(
                    f"transform(sequence(1, size(toks) - {K_SPAN} + 1), "
                    f"i -> struct(i AS i, "
                    f"md5(array_join(slice(toks, i, {K_SPAN}), ' ')) AS h))"
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<i: INT, h: STRING>>)"))
        ).alias("wh"),
    ).select("doc_id", F.col("wh.i").alias("i"), F.col("wh.h").alias("h"))


def _dup_spans(docs: DataFrame) -> DataFrame:
    """Kernel of :func:`dedup_dup_spans` (DataFrame-in so the property
    tests can drive crafted corpora through the exact production plan):
    flag every K_SPAN-token window whose span repeats in another
    document (:func:`dedup_exact_substring`'s window/repeat stages, with
    the window START POSITION carried through), then merge RUNS of
    consecutive flagged windows into maximal spans with the
    gaps-and-islands grouping (``i - row_number()`` is constant exactly
    on consecutive positions — the ``q_gaps_islands`` kernel)."""
    # r15: same shared-h-exchange discipline as dedup_exact_substring —
    # the repeat-test aggregate and the flag join reuse ONE shuffle of
    # the window table instead of shuffling it twice on the same key
    w = _span_windows(docs).repartition("h")
    dup = (
        # min != max == ">= 2 distinct docs" (see dedup_exact_substring)
        w.groupBy("h")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("h")
    )
    return _merge_flagged_spans(w.join(dup, "h").select("doc_id", "i"))


def _merge_flagged_spans(flagged: DataFrame) -> DataFrame:
    """Islands-merge of flagged window positions: runs of CONSECUTIVE
    flagged K_SPAN-token windows collapse into one maximal span row
    (doc_id, span_start, span_end, span_tokens, n_dup_windows) — the
    shared tail of every span detector (dup spans, contamination)."""
    grp = flagged.withColumn(
        "g",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    spans = grp.groupBy("doc_id", "g").agg(
        F.min("i").alias("span_start"),
        F.max("i").alias("last_w"),
        F.count("*").alias("n_dup_windows"),
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        (F.col("last_w") + F.lit(K_SPAN - 1)).cast("long").alias("span_end"),
        (F.col("last_w") - F.col("span_start") + F.lit(K_SPAN))
        .cast("long")
        .alias("span_tokens"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
    ).orderBy("doc_id", "span_start")


def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated spans — the span-level output of Lee et al.
    2022 (arXiv:2107.06499) that :func:`dedup_exact_substring`'s per-doc
    coverage fractions summarize away: the paper's ExactSubstr policy
    REMOVES each duplicated span (their threshold: 50 tokens), which
    needs the spans themselves — start/end token positions and lengths —
    not just how much of the document they cover. Fixed-K windowing
    flags every K_SPAN-token window that repeats across documents; runs
    of CONSECUTIVE flagged windows are then merged with the
    gaps-and-islands grouping into maximal spans (a duplicated run of
    L >= K_SPAN tokens produces L-K_SPAN+1 consecutive flagged windows,
    which merge back into exactly one span of length L). Output: one row
    per maximal span — (doc_id, span_start, span_end, span_tokens,
    n_dup_windows), 1-based token positions, ``span_tokens = span_end -
    span_start + 1`` — ready for a length threshold + in-order excision
    (the reassembly step :func:`..curate.curate_boilerplate` already
    demonstrates).

    Scale: identical shuffle structure to dedup_exact_substring (window
    hash shuffle, uniformly keyed; no document pairs ever materialize) +
    one doc_id-keyed window/aggregate over the FLAGGED windows only —
    output-sized, since unflagged windows are dropped before the islands
    pass. The islands window partitions by doc_id, so no global sort.

    Oracle: the dedup_exact_substring window CTEs (positions kept) +
    the islands CTE chained verbatim (VERDICT r11 item 9).
    """
    return _dup_spans(load_table(spark, sf_dir, "documents"))


ORACLE_SQL["dedup_dup_spans"] = f"""
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
    dup AS (
        SELECT h FROM w GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    flagged AS (SELECT w.doc_id, w.i FROM w JOIN dup USING (h)),
    grp AS (
        SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS g
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, MIN(i) AS span_start, MAX(i) AS last_w,
               COUNT(*) AS n_dup_windows
        FROM grp GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(last_w + {K_SPAN - 1} AS BIGINT) AS span_end,
           CAST(last_w - span_start + {K_SPAN} AS BIGINT) AS span_tokens,
           CAST(n_dup_windows AS BIGINT) AS n_dup_windows
    FROM spans
    ORDER BY doc_id, span_start
"""


EXCISE_MIN_TOKENS = 12  # spans at least this long are removed (Lee et al.
# use 50 on web documents; the fixture's documents are 30-80 tokens, so a
# proportional threshold above K_SPAN exercises both kept and excised spans)


def dedup_dup_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span EXCISION — the removal policy of Lee et al. 2022's
    ExactSubstr applied to :func:`dedup_dup_spans`'s output: every
    maximal duplicated span of at least EXCISE_MIN_TOKENS tokens is cut
    out of its document and the survivors are reassembled IN ORDER (the
    :func:`..curate.curate_boilerplate` reassembly discipline). Emits
    per document: token counts before/removed, and the md5 + length of
    the excised text — integer/string-exact gate columns, so the
    differential pins the reassembled bytes without shipping them.

    Plan: the spans table is aggregated to a per-doc array (few spans
    per doc — output-sized), LEFT-joined back to documents on the doc_id
    equi-key, and the cut is a single map over the token array: keep
    position i iff no span covers it (`filter` + `exists` HOFs — NO
    range join, so no nested-loop risk; the span list rides along as an
    array column). At 100 TB this is the dup_spans pass plus one
    output-sized equi-join and a narrow map — same scaling class as the
    detection itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _excise_spans(docs, _dup_spans(docs), EXCISE_MIN_TOKENS)


def _excise_spans(
    docs: DataFrame, spans: DataFrame, min_tokens: int
) -> DataFrame:
    """Span-excision tail shared by :func:`dedup_dup_excise` and
    :func:`..text.text_contamination_excise`: cut every span of at least
    ``min_tokens`` tokens out of its document, reassemble the survivors
    in order, and emit the integer/string-exact gate columns (doc_id,
    n_tokens, n_removed, kept_hash, kept_chars)."""
    spans_arr = (
        spans
        .filter(F.col("span_tokens") >= min_tokens)
        .groupBy("doc_id")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(span_start AS s, span_end AS e)))"
            ).alias("sp")
        )
    )
    toks = docs.select(
        "doc_id", F.expr("filter(split(text, '\\\\s+'), x -> x <> '')").alias("tk")
    )
    joined = toks.join(spans_arr, "doc_id", "left").withColumn(
        "sp",
        F.coalesce(
            "sp", F.expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")
        ),
    )
    kept = joined.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        # size guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
        # returning empty, and element_at(tk, 0) throws — zero-token docs
        # must short-circuit (DuckDB's range(1, 1) is just empty)
        F.expr(
            "CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>) "
            "ELSE transform(filter(sequence(1, size(tk)),"
            " i -> NOT exists(sp, x -> i >= x.s AND i <= x.e)),"
            " i -> element_at(tk, i)) END"
        ).alias("kept"),
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("long").alias("n_removed"),
        F.md5(F.array_join("kept", " ")).alias("kept_hash"),
        F.length(F.array_join("kept", " ")).cast("long").alias("kept_chars"),
    ).orderBy("doc_id")


def _dup_excise_oracle() -> str:
    """The dup_spans oracle's CTE chain + the per-doc excision — derived
    textually from the registered SQL (fail-loud anchor) so the span
    semantics can never drift between detection and removal."""
    sql = ORACLE_SQL["dedup_dup_spans"]
    anchor = "SELECT doc_id,"
    head, sep, tail = sql.rpartition(anchor)
    if not sep or "FROM spans" not in tail:  # explicit: survives python -O
        raise RuntimeError("dup_spans oracle tail anchor drifted")
    return f"""
    WITH {head.split("WITH", 1)[1]}
    , allspans AS (
        SELECT doc_id,
               CAST(span_start AS BIGINT) AS s,
               CAST(last_w + {K_SPAN - 1} AS BIGINT) AS e,
               CAST(last_w - span_start + {K_SPAN} AS BIGINT) AS span_tokens
        FROM spans
    ),
    spans_arr AS (
        SELECT doc_id,
               list_sort(list(struct_pack(s := s, e := e))) AS sp
        FROM allspans WHERE span_tokens >= {EXCISE_MIN_TOKENS}
        GROUP BY doc_id
    ),
    tok AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS tk
        FROM documents
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
           -- DuckDB's array_to_string([]) is NULL, not '' (Spark's
           -- array_join is ''): coalesce so fully-excised docs agree
           md5(COALESCE(array_to_string(kept, ' '), '')) AS kept_hash,
           CAST(length(COALESCE(array_to_string(kept, ' '), '')) AS BIGINT)
               AS kept_chars
    FROM kept
    ORDER BY doc_id
"""


ORACLE_SQL["dedup_dup_excise"] = _dup_excise_oracle()


SEM_CLUSTER_CAP = 4096  # max members per semantic-dedup matmul block


def _semantic_pair_tasks(members: DataFrame, cap: int = SEM_CLUSTER_CAP) -> DataFrame:
    """Bounded-task decomposition of the within-cluster all-pairs work:
    clusters of <= ``cap`` members stay one task; a cluster of ``csize``
    members is hash-split into ``nb = ceil(csize/cap)`` blocks
    (xxhash64 of vec_id, so adversarial id patterns can't skew a block)
    and EVERY unordered block pair (bi <= bj) becomes its own task — a
    member of block b is emitted once per task it participates in: as
    the left side of (b, j) for j in b..nb-1 and as the right side of
    (i, b) for i in 0..b-1. Together the tasks cover exactly the
    within-cluster pair set (pair (u, w) lives in precisely the task of
    its two blocks), so the downstream keep-mask is blocking-invariant;
    what changes is the contract that NO task ever holds more than two
    blocks' worth of rows — the mega-cluster straggler/OOM guard.

    Returns (cid, bi, bj, b, vec_id, q, n); replication factor per
    member is its cluster's nb — Σ size·ceil(size/cap) ≈ Σ size²/cap
    rows, the same total pairwise work sliced into cap-bounded tasks.
    """
    sized = (
        members.join(
            members.groupBy("cid").agg(F.count("*").alias("csize")), "cid"
        )
        .withColumn(
            "nb",
            F.greatest(
                F.lit(1), F.ceil(F.col("csize") / F.lit(cap))
            ).cast("int"),
        )
        .withColumn("b", F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int"))
    )
    left = sized.select(
        "cid",
        F.col("b").alias("bi"),
        F.explode(F.sequence(F.col("b"), F.col("nb") - 1)).alias("bj"),
        "b",
        "vec_id",
        "q",
        "n",
    )
    right = sized.filter(F.col("b") > 0).select(
        "cid",
        F.explode(F.sequence(F.lit(0), F.col("b") - 1)).alias("bi"),
        F.col("b").alias("bj"),
        "b",
        "vec_id",
        "q",
        "n",
    )
    return left.unionByName(right)


def _semantic_dropped(members: DataFrame, cap: int = SEM_CLUSTER_CAP) -> DataFrame:
    """Distinct vec_ids with a lower-id same-cluster neighbor at cosine
    >= the near-dup threshold — the SemDeDup drop set, computed as one
    Arrow-batched numpy matmul per bounded block-pair task."""
    import pandas as pd

    def drop_in_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        _, bi, bj = key
        order = np.argsort(pdf["vec_id"].to_numpy())
        v = pdf["vec_id"].to_numpy()[order]
        a = np.stack(pdf["q"].to_numpy()[order]).astype(np.int64)
        n = pdf["n"].to_numpy()[order].astype(np.int64)
        if bi == bj:
            dots = a @ a.T
            sim = (dots > 0) & (
                COS_DEN * dots * dots >= COS_NUM * n[:, None] * n[None, :]
            )
            # v is ascending: column j dropped iff any row i<j is similar
            dropped = v[np.triu(sim, k=1).any(axis=0)]
        else:
            side = pdf["b"].to_numpy()[order]
            li = side == bi
            rj = side == bj
            dots = a[li] @ a[rj].T
            sim = (dots > 0) & (
                COS_DEN * dots * dots >= COS_NUM * n[li][:, None] * n[rj][None, :]
            )
            ii, jj = np.nonzero(sim)
            # cross-block pair (u, w): the higher id is the dropped one
            dropped = np.unique(np.maximum(v[li][ii], v[rj][jj]))
        return pd.DataFrame({"vec_id": dropped})

    return (
        _semantic_pair_tasks(members, cap)
        .groupBy("cid", "bi", "bj")
        .applyInPandas(drop_in_block, schema="vec_id bigint")
        .distinct()
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with the trained
    k-means codebook, compute exact pairwise cosine ONLY within each
    cluster, and greedily drop every vector that has a lower-id
    within-cluster neighbor at cosine >= 0.45 (the repo-wide near-dup
    threshold, same integer test as :func:`dedup_embedding_cosine`).
    Emits one row per vector: (vec_id, cid, is_kept) — the keep-mask a
    curation pipeline applies before training.

    The clustering IS :func:`..cluster.kmeans_lloyd`'s final assignment
    (deterministic init, N_RECOMPUTE rounds), so the oracle chains the
    cluster module's unrolled round CTEs and the semantics are
    differential down to the quantized integer algebra. Duplicates whose
    vectors land in different clusters are missed by construction —
    the documented SemDeDup trade (the same recall surrender
    :func:`dedup_embedding_lsh` makes to banding, quantified there by
    ``dedup_embedding_recall_sampled``).

    Scale (the whole point of the method at 100 TB): all-pairs cosine is
    O(n²); clustering first makes it Σ|cluster|² ≈ n²/K, and K grows
    with the corpus (the codebook stays a broadcast-sized K x D table).
    Each cluster's pairwise work runs as Arrow-batched numpy matmul
    tasks (the compute shape of :func:`dedup_embedding_cosine`'s blocked
    kernel, here keyed by cid) — no shuffle beyond the groupBy, no
    interpreted per-pair HOFs. A skewed MEGA-CLUSTER is the method's
    known failure mode — one cluster holding most of the corpus turns
    its matmul task into the job's straggler (and an executor OOM) —
    guarded here by the cluster-size cap: clusters above
    SEM_CLUSTER_CAP members are hash-split into blocks and every block
    PAIR becomes its own bounded task (:func:`_semantic_pair_tasks`),
    which covers exactly the same within-cluster pair set, so the
    keep-mask — and the oracle — are unchanged (r10 VERDICT item 3;
    the bounded-task contract and the mega-cluster differential are
    pinned by tests/test_semantic_dedup.py).
    """
    from .cluster import lloyd_labels_cached
    from .similarity import _quantized

    emb = _quantized(spark, sf_dir)
    # the trained assignment is the identity-keyed persisted artifact —
    # training runs once per corpus snapshot, this (and every other
    # composition) starts from a columnar scan of the label table
    labels = lloyd_labels_cached(spark, sf_dir).select(
        "vec_id", F.col("cluster").alias("cid")
    )
    members = labels.join(emb.select("vec_id", "q", "n"), "vec_id")
    dropped = _semantic_dropped(members)
    return (
        labels.join(
            dropped.withColumn("dropped", F.lit(1)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cid",
            F.when(F.col("dropped").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_kept"),
        )
        .orderBy("vec_id")
    )


def _semantic_oracle() -> str:
    from .cluster import N_RECOMPUTE, _oracle_rounds

    return f"""
    WITH {_oracle_rounds()},
    labels AS (SELECT vec_id, cluster AS cid FROM a{N_RECOMPUTE}),
    norms AS (
        SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n FROM dims GROUP BY vec_id
    ),
    pair_dot AS (
        SELECT l1.vec_id AS v1, l2.vec_id AS v2,
               CAST(SUM(d1.x * d2.x) AS BIGINT) AS dot
        FROM labels l1
        JOIN labels l2 ON l1.cid = l2.cid AND l1.vec_id < l2.vec_id
        JOIN dims d1 ON d1.vec_id = l1.vec_id
        JOIN dims d2 ON d2.vec_id = l2.vec_id AND d2.d = d1.d
        GROUP BY l1.vec_id, l2.vec_id
    ),
    dropped AS (
        SELECT DISTINCT p.v2 AS vec_id
        FROM pair_dot p
        JOIN norms n1 ON n1.vec_id = p.v1
        JOIN norms n2 ON n2.vec_id = p.v2
        WHERE p.dot > 0 AND {COS_DEN} * p.dot * p.dot >= {COS_NUM} * n1.n * n2.n
    )
    SELECT l.vec_id, l.cid, CAST(d.vec_id IS NULL AS INT) AS is_kept
    FROM labels l LEFT JOIN dropped d USING (vec_id)
    ORDER BY vec_id
"""


ORACLE_SQL["dedup_semantic"] = _semantic_oracle()


def _pair_recall_gate(exact, lsh, n_lsh_alias: str):
    """Shared 1-row gate combinator for the dedup recall gates: pair-keyed
    left join + global aggregate. Two empty-input contracts, mirrored in
    every gate's oracle: hits coalesces to 0 (SUM over zero rows is NULL
    in Spark but the oracle counts 0), and recall is NULL — not 0/0 —
    on a duplicate-free corpus (Spark with ANSI off yields NULL for x/0
    while DuckDB raises, so the guard keeps the differential gate alive
    exactly when a user most needs the number)."""
    pair_cols = [c for c in lsh.columns if c != "hit"]
    joined = exact.join(lsh, pair_cols, "left")
    return (
        joined.agg(
            F.count("*").alias("n_exact"),
            F.coalesce(F.sum(F.coalesce("hit", F.lit(0))), F.lit(0))
            .cast("long")
            .alias("hits"),
        )
        .crossJoin(F.broadcast(lsh.agg(F.count("*").alias(n_lsh_alias))))
        .select(
            "n_exact",
            n_lsh_alias,
            "hits",
            F.when(F.col("n_exact") > 0, F.col("hits") * 1.0 / F.col("n_exact")).alias(
                "recall"
            ),
        )
    )


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YARDSTICK (fenced via its exhaustive exact side — the scale path
    is :func:`dedup_lsh_recall_sampled`): acceptance evaluation of the
    MinHash-LSH detector against the exact
    n-gram Jaccard ground truth: one row with the exact pair count, the
    LSH pair count, how many LSH found (hits), and recall — the number a
    pipeline checks before trusting LSH-pruned dedup at full scale
    (the dedup analog of similarity.sim_ann_recall).

    Note the two operators define Jaccard over slightly different shingle
    universes (ngram drops corpus-hot shingles; LSH keeps them), so this
    measures end-to-end detector agreement, not just banding recall —
    which is exactly what an acceptance gate should measure.

    Scale: composes the two detectors (each already banded/capped as
    documented) and adds one pair-keyed join over output-sized inputs
    plus a global 1-row aggregate.

    r16 (VERDICT r15 item 7): the two detectors share ONE lazily-
    checkpointed shingle pass — both sides previously re-tokenized and
    re-exploded the corpus independently (their downstream exchanges are
    keyed differently, s vs doc_id, so ReusedExchange could not bridge
    them). The checkpoint adds no new data volume class: the plan
    already materializes the full shingle table twice as shuffle files
    (both repartitions); it removes a full tokenize+explode pass.
    Measured interleaved A/B: 3.27 -> 2.50 s at sf0.1, identical output.
    """
    docs = load_table(spark, sf_dir, "documents")
    _yardstick_guard(docs, "dedup_lsh_recall", "exact ngram ground truth")
    sh = _shingles(docs).localCheckpoint(eager=False)
    exact = _ngram_jaccard_pairs(docs, sh=sh).select("d1", "d2")
    lsh = _minhash_lsh_pairs(docs, sh=sh).select(
        "d1", "d2", F.lit(1).alias("hit")
    )
    return _pair_recall_gate(exact, lsh, "n_lsh")


ORACLE_SQL["dedup_lsh_recall"] = f"""
    WITH exact AS (
        SELECT d1, d2 FROM ({_strip_order_by(ORACLE_SQL["dedup_ngram_jaccard"])})
    ),
    lsh AS (
        SELECT d1, d2, 1 AS hit FROM ({_strip_order_by(ORACLE_SQL["dedup_minhash_lsh"])})
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM lsh) AS n_lsh,
           CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                 ON e.d1 = l.d1 AND e.d2 = l.d2) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                           ON e.d1 = l.d1 AND e.d2 = l.d2) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


# Anchor-sample parameters for the scale-path recall gate: a doc is an
# anchor iff Knuth-multiplicative-hash(doc_id) mod SAMPLE_MOD == 0. Pure
# BIGINT arithmetic so Spark and DuckDB compute the identical stratum
# (engine hash() builtins differ; this does not).
SAMPLE_KNUTH = 2654435761
SAMPLE_MOD = 4


def _is_anchor(doc_id):
    return (doc_id * SAMPLE_KNUTH) % (2**32) % SAMPLE_MOD == 0


def dedup_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-ground-truth LSH recall gate — the formulation that survives
    100 TB, where :func:`dedup_lsh_recall`'s exhaustive exact side is
    impossible.

    A deterministic ~1/SAMPLE_MOD hash-sample of doc_ids is the anchor
    stratum; exact n-gram Jaccard ground truth is computed only for pairs
    whose smaller id (d1) is an anchor, but against the FULL corpus — the
    anchor filter lands on the left side of the pair self-join *before*
    the join (see :func:`_ngram_jaccard_pairs`), so the exact side costs
    O(sample x corpus) instead of O(corpus^2) while measuring the same
    per-pair agreement. LSH pairs are filtered to the same stratum and
    recall is |LSH ∩ exact| / |exact| over it — an unbiased estimate of
    full recall because the anchor choice is independent of content.

    Contrast with :func:`dedup_lsh_recall` (the exhaustive sf0.1
    acceptance gate): same join + aggregate shape, quadratic exact side.
    Both detectors share one checkpointed shingle pass (r16 — see
    :func:`dedup_lsh_recall`).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs).localCheckpoint(eager=False)
    exact = _ngram_jaccard_pairs(docs, anchor=_is_anchor, sh=sh).select("d1", "d2")
    lsh = (
        _minhash_lsh_pairs(docs, sh=sh)
        .filter(_is_anchor(F.col("d1")))
        .select("d1", "d2", F.lit(1).alias("hit"))
    )
    return _pair_recall_gate(exact, lsh, "n_lsh_sampled")


_ANCHOR_SQL = f"(d1 * {SAMPLE_KNUTH}) % {2**32} % {SAMPLE_MOD} = 0"

ORACLE_SQL["dedup_lsh_recall_sampled"] = f"""
    WITH exact AS (
        SELECT d1, d2 FROM ({_strip_order_by(ORACLE_SQL["dedup_ngram_jaccard"])})
        WHERE {_ANCHOR_SQL}
    ),
    lsh AS (
        SELECT d1, d2, 1 AS hit
        FROM ({_strip_order_by(ORACLE_SQL["dedup_minhash_lsh"])})
        WHERE {_ANCHOR_SQL}
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM lsh) AS n_lsh_sampled,
           CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                 ON e.d1 = l.d1 AND e.d2 = l.d2) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                           ON e.d1 = l.d1 AND e.d2 = l.d2) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


def dedup_simhash_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled recall gate quantifying :func:`dedup_simhash`'s hot-bucket
    cap loss — the simhash member of the recall-gate family
    (:func:`dedup_lsh_recall_sampled`, :func:`dedup_edit_recall_sampled`,
    :func:`dedup_embedding_recall_sampled`).

    Ground truth is the UNCAPPED banded join, which at Hamming <= 3 with
    4 bands is EXACT (pigeonhole: <= 3 flipped bits cannot touch all 4
    bands), restricted to pairs whose smaller id (d1) is an anchor — the
    anchor filter lands on the x side of the band join *before* any pair
    forms, so the exact side is O(sample x corpus) even inside hot
    buckets, the formulation that survives 100 TB. The capped detector's
    pairs are filtered to the same stratum; a pair is missed exactly when
    EVERY band it shares is hot, so recall over the stratum is an
    unbiased estimate of the cap's true loss (anchoring is independent of
    content).
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = _simhash_bands(docs)
    exact = _simhash_banded_pairs(
        bands.filter(_is_anchor(F.col("doc_id"))), bands
    ).select("d1", "d2")
    capped = (
        dedup_simhash(spark, sf_dir)
        .filter(_is_anchor(F.col("d1")))
        .select("d1", "d2", F.lit(1).alias("hit"))
    )
    return _pair_recall_gate(exact, capped, "n_capped_sampled")


ORACLE_SQL["dedup_simhash_recall_sampled"] = f"""
    WITH {_SIMHASH_CTE},
    exact AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x
        JOIN bands y ON x.bidx = y.bidx AND x.bsig = y.bsig
                    AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_MAX}
          AND (x.doc_id * {SAMPLE_KNUTH}) % {2**32} % {SAMPLE_MOD} = 0
    ),
    capped AS (
        SELECT d1, d2, 1 AS hit
        FROM ({_strip_order_by(ORACLE_SQL["dedup_simhash"])})
        WHERE {_ANCHOR_SQL}
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM capped) AS n_capped_sampled,
           CAST((SELECT COUNT(*) FROM exact e JOIN capped c
                 ON e.d1 = c.d1 AND e.d2 = c.d2) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM exact e JOIN capped c
                           ON e.d1 = c.d1 AND e.d2 = c.d2) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


def _embedding_lsh_oracle() -> str:
    # late import so similarity's oracle constants are reused verbatim —
    # identical hyperplane/signature CTEs guarantee identical buckets
    from .similarity import SIG_CTES, _QUANT_CTE

    return f"""
        WITH {_QUANT_CTE},
        {SIG_CTES},
        cand AS (
            SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1)
             AND a.vec_id < b.vec_id
        ),
        dots AS (
            SELECT c.v1, c.v2, CAST(SUM(p1.qd * p2.qd) AS BIGINT) AS dot
            FROM cand c
            JOIN pos p1 ON p1.vec_id = c.v1
            JOIN pos p2 ON p2.vec_id = c.v2 AND p2.d = p1.d
            GROUP BY 1, 2
        )
        SELECT v1, v2, dot, n1.n AS n1, n2.n AS n2
        FROM dots
        JOIN norms n1 ON v1 = n1.vec_id
        JOIN norms n2 ON v2 = n2.vec_id
        WHERE dot > 0 AND {COS_DEN} * dot * dot >= {COS_NUM} * n1.n * n2.n
        ORDER BY v1, v2
    """


ORACLE_SQL["dedup_embedding_lsh"] = _embedding_lsh_oracle()


def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YARDSTICK (fenced; :func:`dedup_embedding_recall_sampled` is the
    scale path): acceptance gate for :func:`dedup_embedding_lsh` against the
    exhaustive :func:`dedup_embedding_cosine` ground truth — the embedding
    analog of :func:`dedup_lsh_recall`, closing the
    detector-plus-recall-gate pattern across both dedup modalities
    (text shingles and embeddings).

    Both detectors share the verify predicate, so every LSH pair is by
    construction an exact pair: the gate purely measures banding recall
    (how many true pairs survive the 2x8-bit bucket pruning). NULL (not
    0/0) recall on a duplicate-free corpus, same contract as the text
    gates.

    Scale: output-sized pair join + 1-row aggregate on top of the two
    composed detectors; the exhaustive side is the cost and is the reason
    this is an sf0.1-class gate — :func:`dedup_embedding_recall_sampled`
    is the registered anchor-sampled twin that runs at 100 TB.
    """
    _yardstick_guard(
        load_table(spark, sf_dir, "embeddings"),
        "dedup_embedding_recall",
        "exact cosine ground truth",
    )
    exact = dedup_embedding_cosine(spark, sf_dir).select("v1", "v2")
    lsh = dedup_embedding_lsh(spark, sf_dir).select(
        "v1", "v2", F.lit(1).alias("hit")
    )
    return _pair_recall_gate(exact, lsh, "n_lsh")


ORACLE_SQL["dedup_embedding_recall"] = f"""
    WITH exact AS (
        SELECT v1, v2 FROM ({_strip_order_by(ORACLE_SQL["dedup_embedding_cosine"])})
    ),
    lsh AS (
        SELECT v1, v2, 1 AS hit FROM ({_strip_order_by(ORACLE_SQL["dedup_embedding_lsh"])})
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM lsh) AS n_lsh,
           CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                 ON e.v1 = l.v1 AND e.v2 = l.v2) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                           ON e.v1 = l.v1 AND e.v2 = l.v2) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


def dedup_embedding_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-ground-truth recall gate for :func:`dedup_embedding_lsh` —
    the embedding twin of :func:`dedup_lsh_recall_sampled`, so BOTH dedup
    modalities (text shingles and embeddings) carry a gate in the form
    that survives 100 TB, where :func:`dedup_embedding_recall`'s
    exhaustive corpus^2 exact side is impossible.

    The anchor stratum is the same deterministic Knuth-hash sample
    (:func:`_is_anchor`, keyed on vec_id); exact cosine ground truth is
    computed only for pairs whose smaller id (v1) is an anchor, but
    against the FULL corpus — the anchor filter lands on the LEFT side of
    the blocked numpy kernel *before* any pair forms: anchors are
    replicated to every corpus block (O(sample x N_BLOCKS) shuffle rows)
    and each block task multiplies the anchor matrix against its corpus
    block, so the exact side costs O(sample x corpus) flops instead of
    O(corpus^2). LSH pairs are filtered to the same stratum; recall over
    it is unbiased for full recall because anchoring is independent of
    content. Both detectors share the verify predicate, so the gate
    purely measures banding recall, same as the exhaustive form.
    """
    lsh = (
        dedup_embedding_lsh(spark, sf_dir)
        .filter(_is_anchor(F.col("v1")))
        .select("v1", "v2", F.lit(1).alias("hit"))
    )
    return _pair_recall_gate(_anchor_exact_pairs(spark, sf_dir), lsh, "n_lsh_sampled")


def _anchor_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-sampled exact cosine ground truth (v1, v2): pairs at
    cos >= 0.45 whose SMALLER id is an anchor, computed against the full
    corpus through the blocked numpy kernel with the anchor filter
    pushed before any pair forms — O(sample x corpus). Shared by every
    embedding-modality recall gate so the ground-truth definition cannot
    drift between them."""
    import pandas as pd

    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
        ).alias("q"),
    )
    anchors = emb.filter(_is_anchor(F.col("vec_id"))).select(
        "vec_id",
        "q",
        F.lit(1).alias("is_anchor"),
        F.explode(F.array(*[F.lit(i) for i in range(N_BLOCKS)])).alias("blk"),
    )
    corpus = emb.select(
        "vec_id",
        "q",
        F.lit(0).alias("is_anchor"),
        (F.col("vec_id") % N_BLOCKS).alias("blk"),
    )
    out_schema = T.StructType(
        [T.StructField("v1", T.LongType()), T.StructField("v2", T.LongType())]
    )

    def anchor_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        left = pdf[pdf["is_anchor"] == 1]
        right = pdf[pdf["is_anchor"] == 0]
        if left.empty or right.empty:
            return pd.DataFrame(columns=["v1", "v2"]).astype("int64")
        lm = np.stack(left["q"].to_numpy()).astype(np.int64)
        rm = np.stack(right["q"].to_numpy()).astype(np.int64)
        lids = left["vec_id"].to_numpy()
        rids = right["vec_id"].to_numpy()
        dots = lm @ rm.T
        ln = (lm * lm).sum(axis=1)
        rn = (rm * rm).sum(axis=1)
        # anchor must be the SMALLER id: that is the stratum definition,
        # and it also dedups anchor-anchor pairs (counted once, in the
        # larger anchor's corpus block)
        ii, jj = np.where(
            (lids[:, None] < rids[None, :])
            & (dots > 0)
            & (COS_DEN * dots * dots >= COS_NUM * ln[:, None] * rn[None, :])
        )
        return pd.DataFrame({"v1": lids[ii], "v2": rids[jj]})

    return (
        anchors.unionByName(corpus)
        .groupBy("blk")
        .applyInPandas(anchor_block, schema=out_schema)
    )


def dedup_semantic_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-ground-truth recall gate for :func:`dedup_semantic` — the
    gate that quantifies the SemDeDup trade: a true near-dup pair whose
    vectors land in DIFFERENT k-means clusters is invisible to the
    within-cluster pairwise stage, exactly as banding loses cross-band
    pairs for :func:`dedup_embedding_lsh`. Every pruned detector in this
    repo carries a measured recall gate; this is semantic dedup's.

    Ground truth is the shared anchor-sampled exact cosine pair set
    (:func:`_anchor_exact_pairs` — O(sample x corpus), the 100 TB
    formulation). The detector side re-runs the same per-cluster kernel
    dedup_semantic drops from, emitting its within-cluster qualifying
    pairs, anchor-filtered to the identical stratum. Both sides share
    the integer cosine predicate, so the gate purely measures the
    clustering's pair loss.
    """
    import pandas as pd

    from .cluster import lloyd_labels_cached
    from .similarity import _quantized

    emb = _quantized(spark, sf_dir)
    labels = lloyd_labels_cached(spark, sf_dir).select(
        "vec_id", F.col("cluster").alias("cid")
    )
    members = labels.join(emb.select("vec_id", "q", "n"), "vec_id")

    def pairs_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        order = np.argsort(pdf["vec_id"].to_numpy())
        v = pdf["vec_id"].to_numpy()[order]
        a = np.stack(pdf["q"].to_numpy()[order]).astype(np.int64)
        n = pdf["n"].to_numpy()[order].astype(np.int64)
        dots = a @ a.T
        sim = (dots > 0) & (
            COS_DEN * dots * dots >= COS_NUM * n[:, None] * n[None, :]
        )
        ii, jj = np.where(np.triu(sim, k=1))
        return pd.DataFrame({"v1": v[ii], "v2": v[jj]})

    caught = (
        members.groupBy("cid")
        .applyInPandas(pairs_in_cluster, schema="v1 bigint, v2 bigint")
        .filter(_is_anchor(F.col("v1")))
        .select("v1", "v2", F.lit(1).alias("hit"))
    )
    return _pair_recall_gate(
        _anchor_exact_pairs(spark, sf_dir), caught, "n_semantic_sampled"
    )


_V_ANCHOR_SQL = f"(v1 * {SAMPLE_KNUTH}) % {2**32} % {SAMPLE_MOD} = 0"


def _semantic_recall_oracle() -> str:
    # caught = anchored exact pairs whose endpoints share a trained
    # cluster — definitionally a subset of exact, so hits == n_caught;
    # the Spark side computes the same set by re-running the per-cluster
    # kernel, and the differential fails if the two ever diverge
    from .cluster import N_RECOMPUTE, _oracle_rounds

    return f"""
    WITH {_oracle_rounds()},
    labels AS (SELECT vec_id, cluster AS cid FROM a{N_RECOMPUTE}),
    exact AS (
        SELECT v1, v2 FROM ({_strip_order_by(ORACLE_SQL["dedup_embedding_cosine"])})
        WHERE {_V_ANCHOR_SQL}
    ),
    caught AS (
        SELECT e.v1, e.v2
        FROM exact e
        JOIN labels l1 ON l1.vec_id = e.v1
        JOIN labels l2 ON l2.vec_id = e.v2 AND l2.cid = l1.cid
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM caught) AS n_semantic_sampled,
           CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM caught) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


ORACLE_SQL["dedup_semantic_recall_sampled"] = _semantic_recall_oracle()

ORACLE_SQL["dedup_embedding_recall_sampled"] = f"""
    WITH exact AS (
        SELECT v1, v2 FROM ({_strip_order_by(ORACLE_SQL["dedup_embedding_cosine"])})
        WHERE {_V_ANCHOR_SQL}
    ),
    lsh AS (
        SELECT v1, v2, 1 AS hit
        FROM ({_strip_order_by(ORACLE_SQL["dedup_embedding_lsh"])})
        WHERE {_V_ANCHOR_SQL}
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM lsh) AS n_lsh_sampled,
           CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                 ON e.v1 = l.v1 AND e.v2 = l.v2) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM exact e JOIN lsh l
                           ON e.v1 = l.v1 AND e.v2 = l.v2) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup join
# ---------------------------------------------------------------------------

LEV_THRESHOLD = 3


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs over the part-name dictionary: pairs of
    DISTINCT p_name values SHARING A FIRST-TOKEN BLOCK whose edit distance
    is <= LEV_THRESHOLD, with the part counts each name carries (the merge
    impact of collapsing the pair). The blocking is the recall trade: a
    pair whose edit falls inside the first token lands in different blocks
    and is missed by design — :func:`dedup_edit_recall_sampled` is the
    acceptance gate that quantifies exactly that loss against the
    unblocked ground truth. Unlike
    :func:`...queries.analytics.dedup_fuzzy_names` (exact Hamming<=1 via
    wildcard patterns, equal lengths only), the verify predicate is true
    Levenshtein — insertions and deletions across unequal lengths.

    Plan: dictionary-first (project to distinct names + counts BEFORE any
    pairing, so pair volume is vocabulary-sized, not row-sized), then a
    first-token block equi-join with the built-in JVM ``levenshtein``
    verify inside codegen. Pairs are emitted once (n1 < n2).

    Scale notes (100 TB): the dictionary aggregate is the only full-data
    shuffle; the self-join runs inside first-token blocks, which for
    entity-name corpora are vocabulary-bounded. A block that does go hot
    (one shared leading token) is capped the same way the hot-shingle cap
    works in :func:`dedup_ngram_jaccard` — add a length-bucket to the
    block key, or switch the verify to a banded q-gram prefilter; the
    dictionary-first shape is unchanged.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .withColumn("blk", F.split(F.col("p_name"), " ").getItem(0))
    )
    a = names.select(
        F.col("p_name").alias("n1"), F.col("n_parts").alias("n1_parts"), "blk"
    )
    b = names.select(
        F.col("p_name").alias("n2"), F.col("n_parts").alias("n2_parts"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("n1") < F.col("n2"))
        # banded form: O(len * k) with early exit, returns -1 above the
        # threshold — same surviving (pair, dist) set as the unbounded call
        .withColumn("dist", F.levenshtein("n1", "n2", LEV_THRESHOLD))
        .filter(F.col("dist") >= 0)
        .select("n1", "n2", "dist", "n1_parts", "n2_parts")
        .orderBy("n1", "n2")
    )


ORACLE_SQL["dedup_edit_distance"] = f"""
    WITH names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
               split_part(p_name, ' ', 1) AS blk
        FROM part
        GROUP BY p_name
    )
    SELECT a.p_name AS n1, b.p_name AS n2,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
           a.n_parts AS n1_parts, b.n_parts AS n2_parts
    FROM names a
    JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {LEV_THRESHOLD}
    ORDER BY n1, n2
"""


# Anchor sampling for the edit-distance recall gate: a name is an anchor
# iff its md5 hash lands in stratum 0 of EDIT_SAMPLE_MOD. Content-hash
# anchoring is independent of the first-token blocking key, so recall over
# the anchored stratum is an unbiased estimate of overall blocking recall.
EDIT_SAMPLE_MOD = 16


def dedup_edit_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance gate for :func:`dedup_edit_distance`'s first-token
    blocking: recall of the blocked detector against the UNBLOCKED
    Levenshtein ground truth, over a deterministic ~1/EDIT_SAMPLE_MOD
    hash-sample of anchor names — the gate that makes the blocking loss
    (pairs whose edit falls inside the first token) a measured number
    instead of a docstring caveat.

    Ground truth for a pair (n1 < n2, n1 an anchor) is computed against
    the FULL dictionary with no token blocking; the only pruning is the
    exact length-window bound (|len(n1) - len(n2)| <= d is a Levenshtein
    lower bound, so it loses nothing). The Spark side turns that window
    into an equi-join — each anchor explodes to its 2d+1 admissible
    partner lengths, joined on exact length — so the verify runs inside
    hash-join buckets instead of a nested-loop cross product; the oracle
    states the same set as a plain length-filtered theta join (identical
    semantics, engine-appropriate plan). Cost: O(sample x dictionary /
    length-spread), the same anchor pattern as
    :func:`dedup_lsh_recall_sampled`.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn(
            "is_anchor",
            F.expr(
                "CAST(conv(substr(md5(p_name), 1, 15), 16, 10) AS BIGINT)"
                f" % {EDIT_SAMPLE_MOD} = 0"
            ),
        )
        .withColumn("len", F.length("p_name"))
    )
    anchors = names.filter("is_anchor").select(
        F.col("p_name").alias("n1"),
        F.explode(
            F.sequence(
                F.col("len") - LEV_THRESHOLD, F.col("len") + LEV_THRESHOLD
            )
        ).alias("len"),
    )
    exact = (
        anchors.join(names.select(F.col("p_name").alias("n2"), "len"), "len")
        .filter(F.col("n1") < F.col("n2"))
        # banded verify (see dedup_edit_distance): -1 above the threshold
        .filter(F.levenshtein("n1", "n2", LEV_THRESHOLD) >= 0)
        .select("n1", "n2")
    )
    blocked = (
        dedup_edit_distance(spark, sf_dir)
        .filter(
            F.expr(
                "CAST(conv(substr(md5(n1), 1, 15), 16, 10) AS BIGINT)"
                f" % {EDIT_SAMPLE_MOD} = 0"
            )
        )
        .select("n1", "n2", F.lit(1).alias("hit"))
    )
    return _pair_recall_gate(exact, blocked, "n_blocked_sampled")


_EDIT_ANCHOR_SQL = (
    f"('0x' || substr(md5({{n}}), 1, 15))::BIGINT % {EDIT_SAMPLE_MOD} = 0"
)

ORACLE_SQL["dedup_edit_recall_sampled"] = f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    exact AS (
        SELECT a.p_name AS n1, b.p_name AS n2
        FROM names a JOIN names b
          ON a.p_name < b.p_name
         AND abs(len(a.p_name) - len(b.p_name)) <= {LEV_THRESHOLD}
         AND levenshtein(a.p_name, b.p_name) <= {LEV_THRESHOLD}
        WHERE {_EDIT_ANCHOR_SQL.format(n="a.p_name")}
    ),
    blocked AS (
        SELECT n1, n2, 1 AS hit
        FROM ({_strip_order_by(ORACLE_SQL["dedup_edit_distance"])})
        WHERE {_EDIT_ANCHOR_SQL.format(n="n1")}
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM blocked) AS n_blocked_sampled,
           CAST((SELECT COUNT(*) FROM exact e JOIN blocked l
                 ON e.n1 = l.n1 AND e.n2 = l.n2) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM exact e JOIN blocked l
                           ON e.n1 = l.n1 AND e.n2 = l.n2) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM exact)
           END AS recall
"""


# ---------------------------------------------------------------------------
# Shingle containment (sub-document duplication)
# ---------------------------------------------------------------------------

CONTAIN_PCT = 8  # containment >= 0.8 (as the exact ratio 8/10)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT — |A∩B| / min(|A|,|B|) — the
    metric that catches a document embedded inside a larger one, which
    symmetric Jaccard misses (a 100-shingle doc fully inside a
    1000-shingle doc has j ≈ 0.1 but containment = 1.0). Rides the same
    capped-shingle pair kernel as :func:`dedup_ngram_jaccard` and keeps
    the integer-only decision: c * 10 >= 8 * min(s1, s2).

    Scale: identical join shape to the Jaccard kernel (this is a different
    FILTER over the same UNFILTERED pair table, so at 100 TB it shares the
    LSH-pruned candidate path too); the output adds the exact containment
    ratio as a single IEEE division for auditability.
    """
    pairs = _shingle_pair_table(load_table(spark, sf_dir, "documents"))
    return (
        pairs.filter(
            F.col("common") * 10 >= CONTAIN_PCT * F.least("s1", "s2")
        )
        .select(
            "d1",
            "d2",
            "common",
            "s1",
            "s2",
            (F.col("common") * 1.0 / F.least("s1", "s2")).alias("containment"),
        )
        .orderBy("d1", "d2")
    )


# the UNFILTERED pair table = the Jaccard oracle minus its threshold; derive
# it textually so the two kernels can never drift apart, and fail loudly if
# the threshold line is ever reworded
_JACCARD_WHERE = "WHERE 3 * common >= s1.n + s2.n"
assert _JACCARD_WHERE in ORACLE_SQL["dedup_ngram_jaccard"], "kernel drift"
_PAIRS_UNFILTERED_SQL = _strip_order_by(
    ORACLE_SQL["dedup_ngram_jaccard"]
).replace(_JACCARD_WHERE, "")

ORACLE_SQL["dedup_containment"] = f"""
    WITH pairs AS (
        SELECT * FROM ({_PAIRS_UNFILTERED_SQL})
    )
    SELECT d1, d2, common, s1, s2,
           common * 1.0 / least(s1, s2) AS containment
    FROM pairs
    WHERE common * 10 >= {CONTAIN_PCT} * least(s1, s2)
    ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# Pair-store unlearning: purge a revoked source, physically
# ---------------------------------------------------------------------------


def dedup_pairs_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-store UNLEARNING — the governance stage for the dedup state,
    beside the LM's subtractive forget (:func:`..text.text_lm_forget`)
    and the ANN index's tombstone purge (:func:`..similarity.
    sim_index_delete`): a revoked source's documents must leave the
    persisted band/pair store, physically (takedowns reach derived
    state too). Because MinHash bands are PER-DOCUMENT deterministic
    and pair verification is pairwise, the pairs among survivors are
    IDENTICAL whether or not the revoked documents were ever present —
    so the purge is a pair of anti-join rewrites (bands rows of revoked
    docs out; pairs touching any revoked doc out), and the oracle is
    the full pair-detection SQL over the surviving corpus: hash-equality
    proves purge ≡ rebuild-without-the-source at O(store) rewrite cost
    instead of a corpus-sized re-detection. Marker-idempotent; pytest
    additionally pins that no revoked doc_id physically survives in
    either store file.
    """
    from ..catalog import build_then_purge, load_table

    docs = load_table(spark, sf_dir, "documents")
    base = _pair_cache_dir(spark, sf_dir, modality="pairs-forget")

    def build(stage: str) -> None:
        # the standing production store: detection ran on EVERYTHING,
        # before anyone knew the source would be revoked
        _minhash_bands(docs.select("doc_id", "text")).write.parquet(
            f"{stage}/bands"
        )
        stored = spark.read.parquet(f"{stage}/bands")
        _jaccard_verify(_band_candidates(stored, stored), docs).write.parquet(
            f"{stage}/pairs"
        )

    def purge() -> None:
        _purge_revoked(spark, base, "bands", docs)

    build_then_purge(spark, base, ("bands", "pairs"), build, purge)
    return spark.read.parquet(f"{base}/pairs").orderBy("d1", "d2")


def _purge_revoked(spark: SparkSession, base: str, doc_table: str, docs) -> None:
    """Write the ``_next`` rewrites of a per-document table and its pair
    table without the documents of the revoked source: the revoked rows
    are physically gone after the swap, not filtered at read time
    (takedowns reach bytes on disk)."""
    from .text import FORGET_SOURCE

    revoked = docs.filter(F.col("source") == FORGET_SOURCE).select("doc_id")
    spark.read.parquet(f"{base}/{doc_table}").join(
        revoked, "doc_id", "left_anti"
    ).write.mode("overwrite").parquet(f"{base}/{doc_table}_next")
    (
        spark.read.parquet(f"{base}/pairs")
        .join(revoked.select(F.col("doc_id").alias("d1")), "d1", "left_anti")
        .join(revoked.select(F.col("doc_id").alias("d2")), "d2", "left_anti")
        .write.mode("overwrite")
        .parquet(f"{base}/pairs_next")
    )


def _pairs_forget_oracle() -> str:
    from .text import FORGET_SOURCE

    # rebuild-without-the-source: band determinism is per-doc, so the
    # purged store must equal detection run on the surviving corpus
    sql = ORACLE_SQL["dedup_minhash_lsh"]
    assert sql.count("FROM documents") == 1
    return sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE source <> '{FORGET_SOURCE}')",
    )


ORACLE_SQL["dedup_pairs_forget"] = _pairs_forget_oracle()
