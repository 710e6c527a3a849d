"""Deduplication operators over the ``documents`` corpus: exact,
n-gram Jaccard (inverted-index), MinHash+LSH, SimHash.

LLM-training-data extensions of the reference's data-quality layer
(``pipline2`` batch "data quality checks" in the architecture). All
hashing is md5-based (:mod:`functions.hashing`) so the DuckDB oracle
computes byte-identical integers — Spark's native hash()/xxhash64()
are engine-specific and never appear in an output contract.

Scale notes (the part that matters at 100 TB):
- NO O(n²) cross joins anywhere. Candidate pairs always come from an
  equi-join on a blocking key (hashed shingle, LSH band hash), so the
  shuffle is keyed and bounded by bucket size.
- Shingles are hashed to 60-bit ints BEFORE any shuffle — joins move
  8-byte keys, not 25-byte strings.
- MinHash computes ONE md5 per shingle; the 16-member hash family is
  derived by XOR with fixed md5-derived constants (a bijective
  remix — the standard cheap multi-hash construction), and the
  signature is ONE ROW per doc (16 agg columns), so LSH banding and
  verification need no re-explode and no self-join on exploded rows.
- SimHash computes the 60 bit-sums as 60 aggregate expressions in a
  single map-side-combinable groupBy — no 60× row blowup.
- The inverted-index Jaccard join is the classic group-by-shingle
  plan; at production scale you additionally cap document frequency
  per shingle (drop df > K) — the synthetic corpus keeps df small so
  no cap is applied, keeping oracle semantics exact.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import release_checkpoint, spread, table
from smart_city_data_pipeline_spark.functions.hashing import md5_long, md5_long_sql
from smart_city_data_pipeline_spark.functions.rounding import pround, pround_sql
from smart_city_data_pipeline_spark.functions.vector import dot, dot_sql

N_MINHASH = 16
BAND_SIZE = 4  # 4 signature slots per band → 4 bands
JACCARD_THRESHOLD = 0.8
MINHASH_SIM_THRESHOLD = 0.5
COSINE_NEARDUP_THRESHOLD = 0.3
SIMHASH_BITS = 60  # fits signed 64-bit in both engines

# XOR remix constants: md5_long(f"seed{i}") — reproducible from public
# md5, identical in the DuckDB oracle.
MINHASH_SEEDS = (
    540442613055849566, 659945854033207311, 1092948100739145322,
    624905167944759590, 265086471538597634, 149272099862640253,
    559198623604842082, 204418457025325590, 749810262501303197,
    303450015336661875, 619972245274043289, 1041635968090115895,
    537856009778720971, 136194567011837421, 716876411218673299,
    1142210552143796295,
)


def _ws_tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), "\\s+")


def _shingles(text: Column) -> Column:
    """Distinct 3-token shingles.

    Built from three array slices zipped together rather than
    ``transform(sequence(...), i -> toks[i] ...)`` — the index-lambda
    form re-evaluates the ``split()`` for EVERY element access (no CSE
    inside lambda bodies after projection collapse), which is quadratic
    in document length. The slice form evaluates the split a constant
    number of times per row.
    """
    toks = _ws_tokens(text)
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    first = F.slice(toks, 1, n)
    second = F.slice(toks, 2, n)
    third = F.slice(toks, 3, n)
    pair = F.zip_with(first, second, lambda x, y: F.concat(x, F.lit(" "), y))
    tri = F.zip_with(pair, third, lambda xy, z: F.concat(xy, F.lit(" "), z))
    return F.array_distinct(tri)


# DuckDB twin (1-based list indexing there).
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, len({toks}) - 1),"
    " i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
).format(toks="regexp_split_to_array(trim(lower(text)), '\\s+')")


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs): one 60-bit hash per distinct shingle.

    ``explode_outer`` + notnull filter ≡ plain ``explode`` (outer turns
    exactly the empty/null arrays into one null row, which the filter
    drops) but skips the inferred ``size(..) > 0`` generator guard that
    re-evaluates the whole shingle expression per row (measured ~25%
    on this, the hottest expression in the dedup family).
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(
            F.col("doc_id"), F.explode_outer(_shingles(F.col("text"))).alias("shingle")
        )
        .filter(F.col("shingle").isNotNull())
        .select(F.col("doc_id"), md5_long(F.col("shingle")).alias("hs"))
    )


_HASHED_SHINGLES_SQL = f"""
        SELECT doc_id, {md5_long_sql('shingle')} AS hs
        FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: min doc_id per identical text is canonical."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    canon = (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .join(canon, "text_hash")
        .select(
            F.col("doc_id"),
            F.col("canonical_doc_id"),
            (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
            F.col("n_copies"),
        )
    )


def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the one-table summary
    every dedup report leads with (how much of the corpus is unique,
    pairs, 3+ clusters): exact-text clusters by md5, then a histogram
    over cluster sizes. Two keyed counts, both map-side-combinable;
    the histogram is bounded by the largest cluster size, not the
    corpus.

    The synthetic corpus has NO exact duplicates, so (the
    ``pii_scrub``/``dup_ngram_chars`` precedent) every 31st doc's text
    is replaced with boilerplate shared within its doc_id÷93 bucket —
    clusters of size 2-3 exist and the multi-copy rows are
    hash-checked, not a single never-exercised row."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    synth_text = F.when(
        F.col("doc_id") % 31 == 0,
        F.concat(
            F.lit("duplicate boilerplate page "),
            F.expr("doc_id DIV 93").cast("string"),
        ),
    ).otherwise(F.col("text"))
    sizes = docs.groupBy(F.md5(synth_text).alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("sz")).alias("n_docs"),
    ).select(
        "cluster_size",
        "n_clusters",
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """Exact 3-gram Jaccard ≥ threshold via inverted-index self-join
    on hashed shingles.

    ``df_cap`` is the production knob: shingles appearing in more than
    df_cap documents are dropped from the INDEX side (stop-shingles
    contribute candidate-pair blowup quadratic in their document
    frequency while barely affecting near-dup Jaccard). Sizes are still
    computed over ALL shingles, so with a cap the measure becomes a
    lower bound — on this corpus no shingle exceeds a modest cap and
    results are identical (pytest-asserted); the oracle runs uncapped.
    """
    # sh feeds consumers with DIVERGENT exchanges (per-doc sizes /
    # per-shingle df / the intersection self-join), so runtime
    # exchange reuse cannot share them and the lazy plan re-ran the
    # tokenize->shingle->hash pipeline per consumer (guide §7.2/§5,
    # the dedup_threshold_sweep A/B win). Materialize once.
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if df_cap is not None:
        rare = (
            sh.groupBy("hs")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("hs")
        )
        # rare has one row per distinct shingle — corpus-scaled, no hint.
        sh = sh.join(rare, "hs", "left_semi")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.hs") == F.col("b.hs")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
    # sizes has one row per DOCUMENT — it grows with the corpus, so no
    # broadcast hint: at 100 TB it must shuffle-join (AQE still picks a
    # broadcast at test scale where it fits under the threshold).
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(F.col("doc_a"), F.col("doc_b"), pround(jac).alias("jaccard"))
    )


# Column expressions are immutable and session-independent, so the
# fixed 16-agg / 4-band / 16-eq expression sets are built ONCE per
# process (each F.* call is a py4j round-trip; these lists are ~100
# calls rebuilt on every query construction otherwise).
@functools.lru_cache(maxsize=1)
def _minhash_aggs() -> tuple:
    return tuple(
        F.min(F.col("hs").bitwiseXOR(F.lit(c))).alias(f"m{i}")
        for i, c in enumerate(MINHASH_SEEDS)
    )


@functools.lru_cache(maxsize=1)
def _minhash_eq_sim():
    return functools.reduce(
        operator.add,
        [(F.col(f"sa.m{i}") == F.col(f"sb.m{i}")).cast("double") for i in range(N_MINHASH)],
    ) / float(N_MINHASH)


def _minhash_sig_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc: m0..m15 minhash slots (min over shingles of
    hash XOR seed-constant)."""
    sh = _hashed_shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(*_minhash_aggs())


@functools.lru_cache(maxsize=1)
def _band_cols() -> tuple:
    cols = []
    for j in range(N_MINHASH // BAND_SIZE):
        slots = [F.col(f"m{j * BAND_SIZE + k}").cast("string") for k in range(BAND_SIZE)]
        cols.append(F.md5(F.concat_ws(",", *slots)).alias(f"b{j}"))
    return tuple(cols)


# Hot-bucket guard for the band self-join (the NEARDUP_CELL_CAP
# discipline, dedup.py embedding_neardup): the candidate OUTPUT of an
# LSH band join is quadratic in the largest (band_idx, band_hash)
# bucket, so a 100 TB template flood (millions of near-identical docs
# hashing one band value) would explode the pair list itself — AQE can
# split a skewed shuffle partition but cannot shrink a quadratic
# output. Buckets over the cap are subdivided by EXTRA signature bits.
BAND_BUCKET_CAP = 20_000

# Oversized buckets are a property of the DATA, not the query, and
# their count is bounded at band_rows/cap by construction — so the set
# is collected on every call (one small aggregate, the `_label_counts`
# posture) and embedded at plan time. On a healthy corpus it is EMPTY
# and the guard costs ZERO runtime plan nodes: no counts subplan, no
# marker join — the plan is byte-identical to the unguarded one. Only
# a set larger than the embed budget falls back to the in-plan join.
BAND_OVER_EMBED_MAX = 4096


def _bands_frame(sig: DataFrame, with_refine: bool) -> DataFrame:
    """Slim (doc_id, band_idx, band_hash[, refine]) band rows. The
    refinement key is the NEXT band's hash (element_at is 1-based;
    band_idx is 0-based), projected BEFORE any shuffle."""
    n_bands = N_MINHASH // BAND_SIZE
    exploded = sig.select("doc_id", F.array(*_band_cols()).alias("bs")).select(
        "doc_id",
        F.posexplode("bs").alias("band_idx", "band_hash"),
        "bs",
    )
    if not with_refine:
        return exploded.select("doc_id", "band_idx", "band_hash")
    return exploded.select(
        "doc_id",
        "band_idx",
        "band_hash",
        F.element_at(
            "bs", ((F.col("band_idx") + F.lit(1)) % n_bands + F.lit(1)).cast("int")
        ).alias("refine"),
    )


def _oversized_band_buckets(sig: DataFrame, bucket_cap: int, embed_max: int):
    """The (band_idx, band_hash) buckets holding more than
    ``bucket_cap`` rows — one map-side-combinable aggregate whose
    result is bounded at band_rows/cap; at most ``embed_max + 1`` rows
    reach the driver (the +1 row is the 'too many to embed' signal).
    Runs on every call, like :func:`_label_counts`. Returns None when
    the set exceeds the embed budget."""
    rows = (
        _bands_frame(sig, with_refine=False)
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .filter(F.col("n_bucket") > F.lit(bucket_cap))
        .select("band_idx", "band_hash")
        .limit(embed_max + 1)
        .collect()
    )
    if len(rows) > embed_max:
        return None
    return tuple(sorted((int(r["band_idx"]), r["band_hash"]) for r in rows))


def _band_pairs(
    sig: DataFrame,
    bucket_cap: int | None = BAND_BUCKET_CAP,
    embed_max: int = BAND_OVER_EMBED_MAX,
) -> DataFrame:
    """Distinct LSH candidate pairs from a wide signature table: slim
    (doc_id, band_idx, band_hash) posexplode + ONE self-equi-join,
    deduped while still slim. Shared by the dedup operator, the
    LSH-quality evaluation, and the band-join audits.

    Skew guard: rows in a bucket over ``bucket_cap`` get the NEXT
    band's hash appended to the join key (``sub``), so a pair inside a
    flooded bucket must ALSO agree on four more signature slots —
    honest graceful degradation (template floods are near-identical
    docs that share those slots anyway; the forced-tiny-cap pytest
    measures the recall cost) instead of a quadratic candidate list.
    Under-cap buckets are EXACT, so on any corpus whose buckets sit
    under the cap (this test corpus included — noop pytest) the output
    is identical to the unguarded join and the uncapped SQL oracle
    stays exact.

    The oversized-bucket set is known at PLAN TIME
    (:func:`_oversized_band_buckets`): empty ⇒ the band machinery
    vanishes entirely (no refine column, no ``sub`` key — the plan is
    the plain self-join, zero guard cost); small ⇒ the set is embedded
    as an InSet literal (one hash probe per row, still no extra
    shuffle); only a flood wider than ``embed_max`` buckets plans the
    in-plan counts subplan + marker join. Either way the DECISION is
    the guard, and all three forms are pytest-exercised.
    """
    over = (
        _oversized_band_buckets(sig, bucket_cap, embed_max)
        if bucket_cap is not None
        else ()
    )
    if bucket_cap is None or over == ():
        guarded = _bands_frame(sig, with_refine=False)
        keys_eq = (F.col("a.band_idx") == F.col("b.band_idx")) & (
            F.col("a.band_hash") == F.col("b.band_hash")
        )
    else:
        bands = _bands_frame(sig, with_refine=True)
        if over is not None:
            is_over = F.concat(
                F.col("band_idx").cast("string"), F.lit(":"), F.col("band_hash")
            ).isin([f"{i}:{h}" for i, h in over])
        else:
            marker = (
                _bands_frame(sig, with_refine=False)
                .groupBy("band_idx", "band_hash")
                .agg(F.count(F.lit(1)).alias("n_bucket"))
                .filter(F.col("n_bucket") > F.lit(bucket_cap))
                .select("band_idx", "band_hash", F.lit(True).alias("ov"))
            )
            bands = bands.join(marker, ["band_idx", "band_hash"], "left")
            is_over = F.col("ov").isNotNull()
        guarded = bands.select(
            "doc_id",
            "band_idx",
            "band_hash",
            F.when(is_over, F.col("refine")).otherwise(F.lit("")).alias("sub"),
        )
        keys_eq = (
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.sub") == F.col("b.sub"))
        )
    a, b = guarded.alias("a"), guarded.alias("b")
    return (
        a.join(b, keys_eq & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: precision/recall of the MinHash-LSH
    candidate stage against EXACT Jaccard ≥ threshold ground truth —
    the evaluation that justifies (or retunes) the band/row geometry
    before a 100 TB run commits to it.

    Candidates are the banded pairs BEFORE signature verification;
    truth is the exact inverted-index Jaccard operator. One full-outer
    join of two pair sets (both corpus-dedup-sized, tiny relative to
    facts) and one global aggregate.
    """
    sig = _minhash_sig_wide(spark, sf_dir).select(
        "doc_id", *[F.col(f"m{i}") for i in range(N_MINHASH)]
    )
    cand = _band_pairs(sig).withColumn("is_cand", F.lit(1))
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("is_true", F.lit(1))
    )
    j = cand.join(truth, ["doc_a", "doc_b"], "full_outer")
    g = j.agg(
        F.sum("is_cand").cast("long").alias("n_candidates"),
        F.sum("is_true").cast("long").alias("n_truth"),
        F.count(
            F.when(F.col("is_cand").isNotNull() & F.col("is_true").isNotNull(), 1)
        ).alias("n_tp"),
    )
    return g.select(
        "n_candidates",
        "n_truth",
        "n_tp",
        F.when(
            F.col("n_candidates") > 0,
            pround(F.col("n_tp").cast("double") / F.col("n_candidates").cast("double")),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0,
            pround(F.col("n_tp").cast("double") / F.col("n_truth").cast("double")),
        ).alias("recall"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: candidate pairs share an identical band,
    verified by signature similarity ≥ threshold.

    Banding is ONE posexplode to SLIM (doc_id, band_idx, band_hash)
    rows — ~40 bytes, never the 16 m-columns — and ONE self-equi-join
    on (band_idx, band_hash), not a join per band, so candidate search
    is a single keyed shuffle regardless of band count. Candidate pairs
    are deduped while still slim, THEN joined back to the m0..m15
    signatures (twice, keyed on doc_id) for verification. Round 3
    instead rode all 16 signature columns through the band self-join;
    that doubled the band shuffle's width and cost 1.5× wall at sf0.1 —
    the slim-band + verify-join shape (proven on
    :func:`embedding_srp_lsh`) is the 100 TB-correct layout: the wide
    rows cross exactly one shuffle.

    sig is deliberately LAZY. Its three consumers end in different
    exchanges (band explode vs the two doc_id verify broadcasts), so
    the minhash aggregate re-runs per leg — but AQE runtime reuse
    shares the scan-level exchange (one parquet scan) and the two
    verify broadcasts (r12 executed-plan audit), so only the per-doc
    aggregate duplicates. The r11 localCheckpoint that deduped it
    leaked a session-lifetime RDD per invocation (the returned
    DataFrame pins the checkpoint — tests/test_broadcast_policy.py
    test_no_leaked_cache_after_lsh); r12 A/B-measured the leak-free
    alternatives and kept lazy: repartition("doc_id") is
    optimizer-removed (agg output already doc_id-partitioned), a
    round-robin repartition missed the AQE stage cache and benched
    slower than lazy, and the ~0.4 s residual vs the checkpoint is
    the price of the no-leak invariant.
    """
    sig = (
        _minhash_sig_wide(spark, sf_dir)
        .select("doc_id", *[F.col(f"m{i}") for i in range(N_MINHASH)])
    )
    pairs = _band_pairs(sig)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    sim = _minhash_eq_sim()
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", pround(sim).alias("sig_sim"))
        .filter(F.col("sig_sim") >= MINHASH_SIM_THRESHOLD)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document + coarse band key.

    One explode + ONE map-side-combinable hash aggregate: the 60
    bit-sums are conditional-sum aggregate expressions (whole-stage
    codegen — array-fold lambdas would run interpreted) over per-instance
    token hashes. Term frequency is implicit: ±1 per token INSTANCE sums
    to the weighted ±tf per distinct token, so no (doc, token) pre-agg
    and only one shuffle, keyed by doc_id.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    tok = (
        docs.select(
            "doc_id", F.explode_outer(_ws_tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token").isNotNull())  # ≡ explode, minus the re-evaluating guard
        .select("doc_id", md5_long(F.col("token")).alias("h"))
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_aggs)
    # Assemble the fingerprint as a flat bit-string → conv(,2,10): one
    # 60-child concat node. (A reduce() of 60 nested adds builds a
    # depth-60 expression tree that costs ~2 s of Catalyst analysis per
    # plan construction.)
    bits = F.concat(
        *[
            F.when(F.col(f"s{b}") > 0, "1").otherwise("0")
            for b in reversed(range(SIMHASH_BITS))
        ]
    )
    fp = F.conv(bits, 2, 10).cast("long")
    return per_doc.select("doc_id", fp.alias("simhash")).select(
        "doc_id",
        "simhash",
        F.shiftright(F.col("simhash"), SIMHASH_BITS - 12).alias("band"),
    )


NEARDUP_CELL_CAP = 20_000

# Per-label corpus counts: one bounded aggregate (≤ label-vocabulary
# rows reach the driver), embedded as a map literal so the skew guard
# costs ZERO runtime plan nodes — no counts subplan, no broadcast
# exchange, no join. Collected on EVERY invocation: the earlier
# per-process memo keyed on the dataset fingerprint let the bench's
# steady-state min skip this aggregate (clearCache could not evict
# it) — removed in r12 (the r11 gaming-check finding).


def _label_counts(emb: DataFrame) -> dict:
    rows = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {r["label"]: int(r["n"]) for r in rows}


def embedding_neardup(
    spark: SparkSession, sf_dir: str, cell_cap: int = NEARDUP_CELL_CAP
) -> DataFrame:
    """Within-label (IVF-style blocked) cosine near-dup pairs, with a
    skew guard so NO label cell is ever all-pairs-unbounded.

    Blocking key is (label, band): cells with ≤ ``cell_cap`` members get
    the single sentinel band ``*`` (exact all-pairs within the cell —
    bounded at cap² pair candidates), while oversized cells — a skewed
    label, or a corpus whose labels don't discriminate — are subdivided
    by the SRP LSH bands (:data:`_SRP_PLANES`), so the self-join stays a
    keyed equi-join with bounded buckets at any scale. The 16 SRP
    projections sit in the CASE's otherwise-branch, so small-cell
    corpora never evaluate them. On the test corpus every cell is under
    the cap ⇒ output identical to plain within-label all-pairs and the
    uncapped SQL oracle stays exact; the banded path (approximate, LSH
    recall) is pytest-covered via a forced tiny cap.

    Norms are precomputed per vector (narrow), so each candidate pair
    costs one dot product instead of three array folds. Candidate pairs
    are unique BY CONSTRUCTION (first-shared-band emission — see the
    inline comment), so there is no pair-dedup shuffle at all. A pair
    whose norm product is 0 has a NULL cosine and is not emitted.
    ``similarity._label_edges`` computes the same edges for one label
    without Spark; the per-label graph keys build their graphs with it.

    The per-label counts are BOUNDED BY LABEL CARDINALITY (one row per
    label — a fixed class vocabulary, not a function of corpus size),
    so they are collected on every call (:func:`_label_counts`, one
    small aggregate) and embedded as a MAP LITERAL: the guard adds no
    counts subplan, no broadcast exchange and no join to the runtime
    plan (round 3 shuffled every embedding array a second time just to
    attach ``cell_n`` — a 2.1× wall regression at sf0.1, and a full
    extra pass over the fact at 100 TB). A label missing from the snapshot
    falls back to the banded path (conservative).

    Because the snapshot is known at PLAN TIME, the guard also
    specializes the plan: when every cell is under the cap the band
    machinery vanishes entirely (constant ``*`` band — Catalyst folds
    the trivially-true band conditions away, leaving the plain
    within-label self-join); only a corpus with at least one oversized
    cell plans the SRP CASE + explode. Either way the DECISION is the
    guard — the same snapshot drives both forms, and the forced-cap
    pytest exercises the banded plan.
    """
    raw = table(spark, sf_dir, "embeddings")
    cnts = _label_counts(raw)
    emb = spread(raw, "vec_id").select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    if cnts and max(cnts.values()) <= cell_cap:
        band_arr = F.array(F.lit("*"))
    else:
        cnt_map = F.create_map(
            *[c for k in sorted(cnts) for c in (F.lit(k), F.lit(cnts[k]))]
        )
        cell_n = F.coalesce(F.element_at(cnt_map, F.col("label")), F.lit(1 << 62))
        sig = _srp_sig()
        band_arr = F.when(cell_n <= cell_cap, F.array(F.lit("*"))).otherwise(
            F.array(
                F.concat(F.lit("0:"), F.substring(sig, 1, 8)),
                F.concat(F.lit("1:"), F.substring(sig, 9, 8)),
            )
        )
    # Each exploded row also carries its row's FIRST band (b0): a pair
    # matching on several bands is emitted ONLY from the first shared
    # one (matched band is a's first band, or the first bands differ —
    # for equal band arrays the band-0 copy), so every candidate pair
    # appears exactly once BY CONSTRUCTION and no dropDuplicates
    # shuffle of the pair list is needed. At 100 TB that dedup exchange
    # over the full candidate set was the widest shuffle in the query.
    blocked = (
        emb.select("vec_id", "label", "embedding", "nrm", band_arr.alias("bands"))
        .select(
            "vec_id",
            "label",
            "embedding",
            "nrm",
            F.element_at("bands", 1).alias("b0"),
            F.explode("bands").alias("band"),
        )
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    # A zero norm makes the cosine NULL, as DuckDB's division by zero
    # does; a plain ANSI division would raise.
    cos = F.try_divide(
        dot(F.col("a.embedding"), F.col("b.embedding")), F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            ((F.col("a.band") == F.col("a.b0")) | (F.col("a.b0") != F.col("b.b0")))
            & (cos >= COSINE_NEARDUP_THRESHOLD)
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            pround(cos).alias("cos_sim"),
        )
    )


def _srp_hyperplanes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from public md5 — the
    same integer weights are embedded as literals in the DuckDB oracle."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [float(h(f"hp{i}:{j}") % 2001 - 1000) for j in range(dim)]
        for i in range(n_bits)
    ]


SRP_BITS = 16  # 2 bands x 8 bits; band width scales with corpus size
SRP_DIM = 64
_SRP_PLANES = _srp_hyperplanes(SRP_BITS, SRP_DIM)

# The 16×64 hyperplane matrix as ONE nested-list literal: F.lit of a
# nested Python list is a SINGLE Literal(array<array<double>>) node, so
# Catalyst's per-layer re-analysis of downstream DataFrames touches one
# leaf instead of the 1000+-node CreateArray tree an F.expr string
# parses to (~0.3 s per query construction, measured round 4; 1024
# individual F.lit() calls were ~1.5 s of py4j round-trips, measured
# round 2). Materializing the nested-list literal itself still walks
# the list element-by-element over py4j (~0.5 s), so the Column is
# built once per process and cached — a Literal is session-independent
# for the life of the JVM gateway.
_SRP_PLANES_LIT = [[float(w) for w in plane] for plane in _SRP_PLANES]


@functools.lru_cache(maxsize=1)
def _srp_planes_col() -> Column:
    return F.lit(_SRP_PLANES_LIT)


@functools.lru_cache(maxsize=1)
def _srp_sig() -> Column:
    """16-char '0'/'1' SRP signature of ``embedding`` as a single
    expression (sign of the dot product against each fixed plane).
    Deterministic in its free column reference, so built once per
    process like the plane literal it wraps."""
    emb = F.col("embedding").cast("array<double>")
    return F.array_join(
        F.transform(
            _srp_planes_col(),
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(emb, p, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit("1"),
            ).otherwise("0"),
        ),
        "",
    )


def embedding_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-FREE cosine near-dup via sign-random-projection LSH.

    The true 100 TB path when no coarse partition (label/IVF cell)
    exists: each vector gets a 16-bit sign signature against fixed
    md5-derived hyperplanes, split into 2 bands of 8 bits; candidate
    pairs share a band value (equi-join on an 8-char key — bounded
    buckets, no O(n²)), then verify exact cosine ≥ threshold. At larger
    corpora widen the bands (more bits per band → smaller buckets) and
    add bands to keep recall.

    Banding is ONE posexplode to SLIM (vec_id, band_idx, band_val) rows
    — ~20 bytes, never the 64-double embedding — and ONE self-equi-join
    on (band_idx, band_val). Candidate pairs are deduped while still
    slim, THEN joined back to (vec_id, embedding, nrm) for the exact
    cosine verify. Both verify joins key on vec_id with the identical
    projection subplan, so ReuseExchange materializes that exchange
    once: embedding arrays cross exactly ONE shuffle end-to-end (round
    2's shape repartitioned full rows and carried the arrays through the
    band shuffle twice — 1.37× slower). No persist() anywhere (an
    explicit cache would outlive the query and leak executor storage).
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    sig = _srp_sig()
    bands = emb.select(
        "vec_id",
        F.posexplode(
            F.array(F.substring(sig, 1, 8), F.substring(sig, 9, 8))
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vec = emb.select(
        "vec_id", "embedding", F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm")
    )
    va, vb = vec.alias("va"), vec.alias("vb")
    cos = dot(F.col("va.embedding"), F.col("vb.embedding")) / (
        F.col("va.nrm") * F.col("vb.nrm")
    )
    return (
        pairs.join(va, F.col("vec_a") == F.col("va.vec_id"))
        .join(vb, F.col("vec_b") == F.col("vb.vec_id"))
        .filter(cos >= COSINE_NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", pround(cos).alias("cos_sim"))
    )


KNN_K = 3


def knn_graph(spark: SparkSession, sf_dir: str, k: int = KNN_K) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the embedding corpus —
    the artifact semantic-dedup clustering, curriculum mining, and
    near-dup visualization consume: for every vector, its top-k
    band-mates by exact cosine.

    Same SRP band machinery as :func:`embedding_srp_lsh` (slim band
    rows, bounded buckets, no O(n²)) but candidates keep BOTH
    directions (the graph is per-source), and instead of a global
    threshold each source ranks its candidates — a window over the
    per-source candidate list, which the band structure bounds. Recall
    tuning is the usual LSH dial: more/wider bands.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    sig = _srp_sig()
    bands = emb.select(
        "vec_id",
        F.posexplode(
            F.array(F.substring(sig, 1, 8), F.substring(sig, 9, 8))
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("nbr"))
        .dropDuplicates(["src", "nbr"])
    )
    vec = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    va, vb = vec.alias("va"), vec.alias("vb")
    cos = dot(F.col("va.embedding"), F.col("vb.embedding")) / (
        F.col("va.nrm") * F.col("vb.nrm")
    )
    scored = (
        cand.join(va, F.col("src") == F.col("va.vec_id"))
        .join(vb, F.col("nbr") == F.col("vb.vec_id"))
        .select("src", "nbr", cos.alias("cs"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cs"), F.asc("nbr"))
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("nbr").alias("neighbor_id"),
            pround(F.col("cs")).alias("cos_sim"),
        )
    )


LEVENSHTEIN_MAX_DIST = 20
_PREFIX_LEN = 12
LEVENSHTEIN_BLOCK_CAP = 256


def dedup_levenshtein(
    spark: SparkSession, sf_dir: str, block_cap: int | None = LEVENSHTEIN_BLOCK_CAP
) -> DataFrame:
    """Edit-distance near-dup: candidate pairs share a normalized-text
    prefix block, verified by levenshtein <= threshold.

    Prefix blocking is the classic cheap blocker for typo-level dups
    (near-identical docs rarely differ in the first characters); the
    equi-join on the block key bounds the pair count, and levenshtein —
    O(len^2) per pair — only runs inside blocks. Both engines implement
    the same standard edit distance, so the oracle is exact.

    ``block_cap`` is the production guard against boilerplate-heavy
    corpora (license headers, templated pages) where one shared prefix
    collects thousands of documents and the within-block self-join goes
    quadratic: blocks with more than ``block_cap`` members are dropped
    entirely (df_cap-style). The guard is ON BY DEFAULT — the registered
    query runs with :data:`LEVENSHTEIN_BLOCK_CAP` — because a cap that
    ships disabled protects nothing. On this corpus no block exceeds the
    cap, so results are identical to uncapped (asserted by
    tests/test_dedup_dfcap.py::test_levenshtein_block_cap_noop) and the
    oracle runs uncapped.
    """
    from smart_city_data_pipeline_spark.functions.text import normalized_text

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    # norm feeds the block-size rollup, the semi-join probe side and
    # BOTH self-join sides — divergent exchanges, so the regex-heavy
    # normalize ran up to 4x per query (guide §7.2/§5). Materialize
    # once.
    norm = docs.select(
        "doc_id",
        normalized_text(F.col("text")).alias("norm"),
    ).withColumn("block", F.substring("norm", 1, _PREFIX_LEN)).localCheckpoint(
        eager=True
    )
    if block_cap is not None:
        small = (
            norm.groupBy("block")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= block_cap)
            .select("block")
        )
        # semi-join, no broadcast hint: the block-key list grows with the
        # corpus; AQE broadcasts it when it fits.
        norm = norm.join(small, "block", "left_semi")
    a, b = norm.alias("a"), norm.alias("b")
    dist = F.levenshtein(F.col("a.norm"), F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= LEVENSHTEIN_MAX_DIST)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )


INGEST_SPLIT_FRACTION = 0.8  # doc_id ≥ ceil(0.8·max) plays the "new batch"


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: for each document in the NEW batch, find its
    near-duplicates in the EXISTING corpus — the shape a production
    pipeline runs on every ingest. Re-pairing the whole corpus per
    batch (what ``dedup_minhash_lsh`` does once, offline) is O(corpus)
    per ingest; the incremental form joins the SMALL batch's band rows
    against the corpus band index, so per-ingest cost is
    O(batch × bucket), not O(corpus²).

    The batch is simulated deterministically as the top 20 % of doc ids
    (the latest ingest by id order); the split point is a 1-row global
    max aggregate (broadcast — bounded by construction). Pairs verify
    by MinHash signature similarity exactly as the offline operator, so
    offline and incremental answers agree on the overlap.

    Output: one row per new doc with ≥1 existing near-dup —
    (new_doc_id, n_dups, first_dup = min existing match).
    """
    # sig is deliberately LAZY (see dedup_minhash_lsh): the new/old
    # band sides differ by a filter below their exchanges so the
    # minhash aggregate re-runs per side, but AQE reuses the scan
    # exchange underneath. The r11 localCheckpoint deduped the
    # aggregate at the cost of a session-lifetime leaked RDD per
    # invocation; r12 removed it (A/B: +0.08 s here — noise-level).
    sig = (
        _minhash_sig_wide(spark, sf_dir)
        .select("doc_id", *[F.col(f"m{i}") for i in range(N_MINHASH)])
    )
    bands = sig.select(
        "doc_id",
        *[F.col(f"m{i}") for i in range(N_MINHASH)],
        F.posexplode(F.array(*_band_cols())).alias("band_idx", "band_hash"),
    )
    split = (
        spread(table(spark, sf_dir, "documents"), "doc_id")
        .agg(F.ceil(F.max("doc_id") * INGEST_SPLIT_FRACTION).alias("split_id"))
    )
    # 1-row global aggregate: bounded, broadcast is policy-exempt.
    banded = bands.join(F.broadcast(split))
    new_side = banded.filter(F.col("doc_id") >= F.col("split_id")).alias("sa")
    old_side = banded.filter(F.col("doc_id") < F.col("split_id")).alias("sb")
    sim = _minhash_eq_sim()
    cand = (
        new_side.join(
            old_side,
            (F.col("sa.band_idx") == F.col("sb.band_idx"))
            & (F.col("sa.band_hash") == F.col("sb.band_hash")),
        )
        .select(
            F.col("sa.doc_id").alias("new_doc_id"),
            F.col("sb.doc_id").alias("old_doc_id"),
            pround(sim).alias("sig_sim"),
        )
        .filter(F.col("sig_sim") >= MINHASH_SIM_THRESHOLD)
        .dropDuplicates(["new_doc_id", "old_doc_id"])
    )
    return cand.groupBy("new_doc_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("old_doc_id").alias("first_dup"),
    )


CONTAINMENT_THRESHOLD = 0.9
# Production stop-shingle guard, ON by default: the hs self-join below
# is quadratic in a shingle's document frequency, so one boilerplate
# 3-gram shared by 1 M docs at 100 TB is a 10^12-row join cell. Any
# shingle in > CONTAINMENT_DF_CAP docs is boilerplate by construction
# (a real contained-in relationship shares many RARE shingles too), and
# at this cap the worst cell is bounded at ~CONTAINMENT_DF_CAP² rows.
# Max observed df on the test corpora is 7 (sf0.01) / 25 (sf0.1), so
# the default is a verified no-op there (pytest) and the uncapped
# oracle stays green.
CONTAINMENT_DF_CAP = 1000


def dedup_containment(
    spark: SparkSession, sf_dir: str, df_cap: int | None = CONTAINMENT_DF_CAP
) -> DataFrame:
    """Directional n-gram CONTAINMENT: |A∩B| / |A| ≥ threshold flags A
    as (near-)embedded in B — the boilerplate/quote/subset-dup case
    Jaccard misses (a short doc pasted into a long one has low Jaccard
    but containment ≈ 1). Standard companion to Jaccard in corpus
    dedup.

    Same inverted-index self-join as :func:`dedup_ngram_jaccard` (one
    keyed shuffle for the intersection counts), then ONE pass emits
    both directions of each pair via an array-of-structs explode — no
    second join of the intersection table, no union re-scan. Sizes are
    per-document (corpus-scaled ⇒ no broadcast hint).

    ``df_cap`` mirrors :func:`dedup_ngram_jaccard`'s knob but is ON by
    default (:data:`CONTAINMENT_DF_CAP`): shingles appearing in more
    than ``df_cap`` documents are dropped from BOTH sides of the
    intersection join (they are boilerplate, not evidence of
    containment). ``n_sh`` sizes are still computed over ALL shingles,
    so under a biting cap the reported containment is a LOWER bound —
    capped pairs can only drop out, never appear spuriously. Pass
    ``df_cap=None`` for the exact uncapped semantics (what the DuckDB
    oracle computes).
    """
    # sh feeds consumers with DIVERGENT exchanges (per-doc sizes /
    # per-shingle df / the intersection self-join), so runtime
    # exchange reuse cannot share them and the lazy plan re-ran the
    # tokenize->shingle->hash pipeline per consumer (guide §7.2/§5,
    # the dedup_threshold_sweep A/B win). Materialize once.
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if df_cap is not None:
        rare = (
            sh.groupBy("hs")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("hs")
        )
        # One row per distinct surviving shingle — corpus-scaled, no hint.
        sh = sh.join(rare, "hs", "left_semi")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.hs") == F.col("b.hs")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    directed = F.explode(
        F.array(
            F.struct(
                F.col("doc_a").alias("contained_doc"),
                F.col("doc_b").alias("container_doc"),
                (F.col("n_inter").cast("double") / F.col("sa.n_sh")).alias("containment"),
            ),
            F.struct(
                F.col("doc_b").alias("contained_doc"),
                F.col("doc_a").alias("container_doc"),
                (F.col("n_inter").cast("double") / F.col("sb.n_sh")).alias("containment"),
            ),
        )
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(directed.alias("e"))
        .select("e.*")
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("contained_doc", "container_doc", pround(F.col("containment")).alias("containment"))
    )


DECONTAM_PROBE_DOCS = 5  # doc_id < 5 play the held-out eval set
DECONTAM_MIN_SHARED = 3


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: per corpus document, how many of its
    3-gram shingles also occur in the held-out eval set (doc_id <
    ``DECONTAM_PROBE_DOCS``), and a ``contaminated`` flag at ≥
    ``DECONTAM_MIN_SHARED`` shared shingles — the standard n-gram
    overlap check a training pipeline runs before shipping a corpus
    that might leak its own benchmarks.

    Shape: one shingle pass (shared with the whole dedup family), a
    LEFT join of corpus shingles against the DISTINCT probe-shingle
    set (bounded by the literal probe predicate — AQE broadcasts it;
    no forced hint), one keyed count aggregate. The probe set being
    distinct means no fanout: each corpus shingle row matches at most
    once, so n_shingles is exact.
    """
    # sh feeds the probe-distinct leg AND the corpus join leg —
    # different subtrees above the hs-exchange, so no runtime reuse;
    # materialize the shingle pipeline once (guide §7.2/§5).
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    probes = (
        sh.filter(F.col("doc_id") < DECONTAM_PROBE_DOCS)
        .select(F.col("hs").alias("phs"))
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= DECONTAM_PROBE_DOCS)
    return (
        corpus.join(probes, corpus.hs == probes.phs, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("phs").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            (F.col("n_shared") >= DECONTAM_MIN_SHARED).alias("contaminated"),
        )
    )


CLUSTER_MAX_ITERS = 20


def star_cc_labels(
    spark: SparkSession,
    pairs: DataFrame,
    max_iters: int = CLUSTER_MAX_ITERS,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int, bool]:
    """Connected components over an undirected edge list via
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — the GraphFrames CC
    algorithm), returning ``(labels, rounds_used, converged)`` where
    ``labels`` maps every edge-endpoint ``node`` to ``comp`` = the MIN
    node id in its component.

    Why star-contraction and not min-label propagation: min-label
    needs O(component diameter) rounds, and at 100 TB a boilerplate
    CHAIN (each doc near-dups only its neighbor) makes the diameter —
    not the data volume — the round count; a 10⁶-doc chain would need
    10⁶ keyed joins. Star alternation doubles the pointer-jump reach
    every other round, converging in O(log² n) rounds worst-case
    (O(log n) in practice), independent of diameter — the planted
    63-diameter chain in tests/test_star_cc.py converges in ≤9 rounds
    where min-label needs 63.

    State is the EDGE LIST itself, kept in canonical larger→smaller
    orientation (no self-loops, deduped). One round =

    * **large-star**: every node ``u`` links each STRICTLY LARGER
      neighbor to ``m(u) = min(N(u) ∪ {u})`` — over the symmetric
      neighbor view, one min-aggregate + one keyed join, emitting
      ``(v, m(u))`` for ``v > u``.
    * **small-star**: over the (now all larger→smaller) edges, every
      node ``u`` links its smaller neighbors AND ITSELF to
      ``m(u) = min`` of the group — one min-aggregate + one keyed
      join.

    Both steps preserve the component partition and keep the
    larger→smaller invariant, so every intermediate state is a valid
    contraction; the unique fixpoint is a star forest rooted at each
    component's minimum node. Convergence probe: the stepped edge set
    equals the previous one — per round, one ``count()`` of the stepped
    set against the previous count carried forward, and one
    ``exceptAll(...).isEmpty()`` anti-join scalar over the two
    checkpointed sets (driver scalars only; never a data collect). Labels are then one min-aggregate over the converged
    star edges (roots never appear as a source; callers coalesce them
    to themselves).

    Checkpoint lifecycle: eager per-round checkpoints truncate lineage;
    the probe's previous edge set is then freed by reference, so only
    the last set, which the labels read, stays. ``checkpoint_dir``
    switches to reliable checkpoints (see ``dedup_clusters``).
    """
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    src, dst = pairs.columns[0], pairs.columns[1]
    edges = _ckpt(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("src"),
            F.least(F.col(src), F.col(dst)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # |edges| is re-used by every round's convergence probe; counting
    # the PREVIOUS round's set again each round was a whole extra job
    # over the old checkpoint — carry the count forward instead (the
    # stepped set's count becomes next round's edges count).
    edges_count = edges.count()
    rounds = 0
    converged = False
    for _ in range(max_iters):
        rounds += 1
        # ---- large-star: v > u re-pointed at m(u) = min(N(u) ∪ {u})
        nbrs = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        big_min = nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
        ls = (
            nbrs.join(big_min, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("src"), F.col("mn")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small-star: u and its smaller neighbors re-pointed at the
        # group min (ls edges all point larger→smaller, so the group min
        # is already < src and m = mn).
        small_min = ls.groupBy("src").agg(F.min("dst").alias("mn"))
        moved = (
            ls.join(small_min, "src")
            .filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        )
        stepped = _ckpt(
            moved.union(small_min.select("src", F.col("mn").alias("dst"))).distinct()
        )
        # Fixpoint probe: the star map is idempotent exactly on star
        # forests, so set-equality of consecutive edge sets is the
        # convergence certificate. Both sides are DISTINCT sets, so
        # |stepped| == |edges| plus one-directional exceptAll-emptiness
        # proves full equality — the counts are near-free scans of the
        # two materialized checkpoints, replacing the second anti-join
        # the first probe spelling paid every round (r11 review).
        stepped_count = stepped.count()
        converged = (
            stepped_count == edges_count
            and stepped.exceptAll(edges).isEmpty()
        )
        edges_count = stepped_count
        release_checkpoint(edges)
        edges = stepped
        if converged:
            break
    # At the fixpoint every non-root node has exactly one edge to its
    # component root, so the min-aggregate is exact there. Every caller
    # raises when the cap tripped first.
    labels = edges.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("comp"))
    return labels, rounds, converged


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    max_iters: int = CLUSTER_MAX_ITERS,
    checkpoint_dir: str | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs:
    every document gets a ``cluster_id`` (the MIN doc_id reachable
    through near-dup edges; singletons are their own cluster) and an
    ``is_canonical`` flag — the step that turns a pair list into "keep
    one copy per duplicate group" for a training corpus.

    Components come from :func:`star_cc_labels` — large-star/small-star
    alternation, O(log² n) rounds worst-case regardless of component
    diameter (the r10 min-label loop needed O(diameter) rounds, which a
    boilerplate chain corpus turns into the bottleneck at 100 TB). THE
    LOOP RUNS ONLY OVER THE EDGE-INDUCED SUBGRAPH: a node with no
    near-dup edge can never change label, so the iterative working set
    is the dup-involved nodes (at production dup rates, a few percent
    of the corpus), not every document — singletons join the result
    once at the end via a left join (comp = coalesce(comp, doc_id));
    star roots likewise coalesce to themselves (a root never appears as
    a star-edge source).

    Checkpoint lifecycle: the result reads one checkpoint, the last
    star-edge round; :func:`star_cc_labels` frees every other one.

    Durability: the default ``localCheckpoint`` stores checkpoint
    blocks in EXECUTOR storage — lineage is truncated, so losing one
    executor mid-loop kills the job unrecoverably. That is the right
    trade on local[32] (no executor can be lost independently of the
    job). On a real cluster pass ``checkpoint_dir`` (an HDFS/object
    -store path): each round then uses a RELIABLE ``checkpoint()`` to
    that directory and the loop survives executor loss. Checkpoint
    files are cleaned by the caller dropping the directory (or
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``).

    DuckDB oracle: recursive CTE computing min-reachable-id — exact
    match including singleton clusters.
    """
    if pairs is None:
        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels, _, converged = star_cc_labels(
        spark, pairs, max_iters=max_iters, checkpoint_dir=checkpoint_dir
    )
    if not converged:
        raise RuntimeError(f"star_cc_labels hit its {max_iters}-round cap")
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    # Singletons (no near-dup edge) and star roots are their own
    # cluster; one left join attaches the converged labels to the
    # full corpus.
    return (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
            (F.coalesce(F.col("comp"), F.col("doc_id")) == F.col("doc_id")).alias(
                "is_canonical"
            ),
        )
    )


# ---------------------------------------------------------------- oracles

_SIG_COLS_SQL = ",\n               ".join(
    f"MIN(xor(hs, {c})) AS m{i}" for i, c in enumerate(MINHASH_SEEDS)
)
_BAND_COLS_SQL = ",\n               ".join(
    "md5(" + " || ',' || ".join(f"CAST(m{j * BAND_SIZE + k} AS VARCHAR)" for k in range(BAND_SIZE)) + f") AS b{j}"
    for j in range(N_MINHASH // BAND_SIZE)
)
_EQ_SUM_SQL = "(" + " + ".join(
    f"(CASE WHEN a.m{i} = b.m{i} THEN 1.0 ELSE 0.0 END)" for i in range(N_MINHASH)
) + f") / {float(N_MINHASH)}"
_CAND_UNION_SQL = "\n            UNION\n            ".join(
    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_EQ_SUM_SQL} AS raw_sim\n"
    f"             FROM sig a JOIN sig b ON a.b{j} = b.b{j} AND a.doc_id < b.doc_id"
    for j in range(N_MINHASH // BAND_SIZE)
)
_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN SUM(CASE WHEN (({md5_long_sql('token')} >> {b}) & 1) = 1 THEN w ELSE -w END) > 0"
    f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for b in range(SIMHASH_BITS)
)

_SRP_SIG_SQL = " || ".join(
    "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
    + ", ".join(str(w) for w in plane)
    + "]) > 0 THEN '1' ELSE '0' END)"
    for plane in _SRP_PLANES
)

SPAN_K = 8  # tokens per exact-substring shingle


def _kgram_hashes(text: Column, k: int) -> Column:
    """POSITIONAL k-token shingle hashes (non-distinct, one per window
    position): md5 over the shared zipped-slice gram strings
    (:func:`functions.text.kgram_strings` — one construction for both
    the hashed and string forms)."""
    from smart_city_data_pipeline_spark.functions.text import kgram_strings

    return F.transform(kgram_strings(_ws_tokens(text), k), md5_long)


def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-substring duplication (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): any
    8-token window that also appears verbatim in another document is a
    duplicated span; per doc we report how much of it is duplicated
    material — the signal used to cut boilerplate/quoted spans before
    training.

    Shape: explode positional shingles → (a) per-shingle distinct-doc
    frequency (hash aggregate), (b) occurrences of df≥2 shingles joined
    back per doc. Both shuffles are keyed equi-ops LINEAR in corpus
    size — unlike pair-join dedup there is no quadratic cell anywhere,
    so no df cap is needed (a boilerplate shingle costs one aggregate
    row + its occurrence count, never df² join rows).
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    occ = (
        docs.select(
            "doc_id",
            F.explode_outer(_kgram_hashes(F.col("text"), SPAN_K)).alias("hs"),
        )
        .filter(F.col("hs").isNotNull())
    )
    per_doc = docs.select(
        "doc_id",
        F.greatest(F.size(_ws_tokens(F.col("text"))) - (SPAN_K - 1), F.lit(0))
        .cast("long")
        .alias("n_shingles"),
    )
    dup_hs = (
        occ.groupBy("hs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("hs")
    )
    dup_counts = (
        occ.join(dup_hs, "hs")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return per_doc.join(dup_counts, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_dup"), F.lit(0).cast("long")).alias("n_dup_shingles"),
        F.when(
            F.col("n_shingles") > 0,
            pround(
                F.coalesce(F.col("n_dup"), F.lit(0).cast("long")).cast("double")
                / F.col("n_shingles").cast("double")
            ),
        ).alias("dup_ratio"),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a doc's 3-gram
    positions whose shingle has never appeared in any earlier doc
    (doc_id order = ingest order) — the dataset-curation signal for
    'how much new material does this doc add' (near-zero novelty ⇒
    recombined boilerplate, a candidate to drop even when no single
    pair-dedup fires).

    Shape: positional shingles → per-shingle min(doc_id) hash
    aggregate → occurrences joined back. Linear keyed shuffles only,
    same scale posture as :func:`exact_substring_spans`.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    occ = (
        docs.select(
            "doc_id",
            F.explode_outer(_kgram_hashes(F.col("text"), 3)).alias("hs"),
        )
        .filter(F.col("hs").isNotNull())
    )
    firsts = occ.groupBy("hs").agg(F.min("doc_id").alias("first_doc"))
    per_doc = docs.select(
        "doc_id",
        F.greatest(F.size(_ws_tokens(F.col("text"))) - 2, F.lit(0))
        .cast("long")
        .alias("n_kgrams"),
    )
    novel = (
        occ.join(firsts, "hs")
        .filter(F.col("doc_id") == F.col("first_doc"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_kgrams",
        F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias("n_novel"),
        F.when(
            F.col("n_kgrams") > 0,
            pround(
                F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).cast("double")
                / F.col("n_kgrams").cast("double")
            ),
        ).alias("novelty"),
    )


def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE n-gram contamination matrix: for every source pair,
    how many distinct 3-gram shingles they share, and the overlap
    coefficient |A∩B| / min(|A|, |B|) — the corpus diagnostic that
    finds a domain scraped twice under different names before any
    doc-level dedup runs.

    The self-join key is (shingle, source)-distinct, so a shingle's
    join cell is bounded by the SOURCE vocabulary (≤ #sources rows),
    never by document frequency — no df cap needed. Per-source totals
    are a #sources-row aggregate, broadcast back onto the pair table.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    src_sh = (
        docs.select(
            "source",
            F.explode_outer(_shingles(F.col("text"))).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .select("source", md5_long(F.col("shingle")).alias("hs"))
        .distinct()
    )
    sizes = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = src_sh.select(F.col("source").alias("source_a"), "hs")
    b = src_sh.select(F.col("source").alias("source_b"), "hs")
    inter = (
        a.join(b, "hs")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            pround(
                F.col("n_shared").cast("double")
                / F.least("na", "nb").cast("double")
            ).alias("overlap_coef"),
        )
    )


PREFIX_DUP_TOKENS = 16


def prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection: documents sharing the same
    normalized first-16-token prefix are one generation template
    (autogenerated listings, mirrored headers) even when their tails
    differ — a duplication signal exact-hash and shingle-Jaccard both
    under-weight because the shared region is a fixed small prefix.

    One projection (slice + md5 — the text never leaves the row) into
    one hash groupBy with map-side combine; groups smaller than 2 drop
    in the aggregate's HAVING, so output is bounded by the number of
    actual templates.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = _ws_tokens(F.col("text"))
    prefix = F.array_join(F.slice(toks, 1, PREFIX_DUP_TOKENS), " ")
    return (
        docs.select(
            F.col("doc_id"),
            F.col("source"),
            F.md5(prefix).alias("prefix_hash"),
        )
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# Curated-first source tiers: lower tier wins the canonical pick. At
# 100 TB this is the policy table of a corpus build (license-clean
# curated sets outrank web crawl); kept as a literal CASE so the
# expression stays in codegen — a real deployment would broadcast-join
# a tiny policy dim instead.
PRIORITY_TIERS = {0: range(0, 5), 1: range(5, 13)}  # tier 2 = rest


def _source_tier(src: Column) -> Column:
    num = F.regexp_extract(src, "([0-9]+)", 1).cast("int")
    tier = F.lit(2)
    for t in sorted(PRIORITY_TIERS, reverse=True):
        rng = PRIORITY_TIERS[t]
        tier = F.when(
            (num >= rng.start) & (num < rng.stop), F.lit(t)
        ).otherwise(tier)
    return tier


def _source_tier_sql(src: str) -> str:
    num = f"CAST(regexp_extract({src}, '([0-9]+)', 1) AS INTEGER)"
    whens = " ".join(
        f"WHEN {num} >= {rng.start} AND {num} < {rng.stop} THEN {t}"
        for t, rng in sorted(PRIORITY_TIERS.items())
    )
    return f"CASE {whens} ELSE 2 END"


def priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact dedup with a source-priority canonical pick:
    identical texts collapse to the copy from the highest-priority
    (lowest-tier) source, doc_id breaking ties — the corpus-build rule
    'keep the curated copy, drop the crawl copy' that min-doc_id
    ``dedup_exact`` cannot express.

    The text collapses to md5 before the shuffle; canonical pick and
    copy count are ONE window over the hash (struct-min of
    (tier, doc_id) pairs) — every row survives into the output anyway,
    so the groupBy + join-back alternative would only re-evaluate the
    md5 text scan a second time (the dominant cost at 100 TB) for the
    same single shuffle.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    hashed = docs.select(
        F.col("doc_id"),
        F.col("source"),
        _source_tier(F.col("source")).alias("tier"),
        F.md5(F.col("text")).alias("text_hash"),
    )
    w = Window.partitionBy("text_hash")
    best = F.min(F.struct("tier", "doc_id")).over(w)
    return hashed.select(
        "doc_id",
        "source",
        "tier",
        best["doc_id"].alias("canonical_doc_id"),
        (F.col("doc_id") != best["doc_id"]).alias("is_duplicate"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dup_cluster_histogram": dup_cluster_histogram,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "embedding_neardup": embedding_neardup,
    "embedding_srp_lsh": embedding_srp_lsh,
    "dedup_levenshtein": dedup_levenshtein,
    "dedup_clusters": dedup_clusters,
    "dedup_incremental": dedup_incremental,
    "decontaminate_ngram": decontaminate_ngram,
    "dedup_containment": dedup_containment,
    "exact_substring_spans": exact_substring_spans,
    "ngram_novelty": ngram_novelty,
    "source_ngram_overlap": source_ngram_overlap,
    "knn_graph": knn_graph,
    "lsh_quality_report": lsh_quality_report,
    "prefix_dup_groups": prefix_dup_groups,
    "priority_dedup": priority_dedup,
}

_KGRAM_SQL = " || ' ' || ".join(f"tk[i + {o}]" for o in range(SPAN_K)).replace(
    "tk[i + 0]", "tk[i]"
)

ORACLES = {
    "dup_cluster_histogram": """
        WITH sizes AS (
            SELECT md5(CASE WHEN doc_id % 31 = 0
                       THEN 'duplicate boilerplate page ' || CAST(doc_id // 93 AS VARCHAR)
                       ELSE text END) AS h,
                   CAST(COUNT(*) AS BIGINT) AS sz
            FROM documents GROUP BY 1
        )
        SELECT sz AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COUNT(*) * sz AS BIGINT) AS n_docs
        FROM sizes GROUP BY 1
    """,
    "prefix_dup_groups": f"""
        WITH hashed AS (
            SELECT doc_id, source,
                   md5(array_to_string(
                       list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                  1, {PREFIX_DUP_TOKENS}), ' ')) AS prefix_hash
            FROM documents
        )
        SELECT prefix_hash,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MIN(doc_id) AS canonical_doc_id
        FROM hashed GROUP BY 1
        HAVING COUNT(*) >= 2
    """,
    "priority_dedup": f"""
        WITH hashed AS (
            SELECT doc_id, source,
                   {_source_tier_sql('source')} AS tier,
                   md5(text) AS text_hash
            FROM documents
        ),
        canon AS (
            SELECT text_hash,
                   MIN({{'tier': tier, 'doc_id': doc_id}}) AS best,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM hashed GROUP BY 1
        )
        SELECT h.doc_id, h.source, CAST(h.tier AS INTEGER) AS tier,
               c.best.doc_id AS canonical_doc_id,
               h.doc_id <> c.best.doc_id AS is_duplicate,
               c.n_copies
        FROM hashed h JOIN canon c USING (text_hash)
    """,
    "lsh_quality_report": f"""
        WITH sh AS ({_HASHED_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
        ),
        sigm AS (
            SELECT doc_id,
               {_SIG_COLS_SQL}
            FROM sh GROUP BY 1
        ),
        sig AS (
            SELECT *,
               {_BAND_COLS_SQL}
            FROM sigm
        ),
        cand AS (
            SELECT DISTINCT doc_a, doc_b FROM (
                {_CAND_UNION_SQL}
            )
        ),
        m AS (
            SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
                   (SELECT COUNT(*) FROM truth) AS n_truth,
                   (SELECT COUNT(*) FROM cand c
                    JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_tp
        )
        SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_truth AS BIGINT) AS n_truth,
               CAST(n_tp AS BIGINT) AS n_tp,
               CASE WHEN n_candidates > 0 THEN
                   (FLOOR(CAST((CAST(n_tp AS DOUBLE) / CAST(n_candidates AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
               END AS precision,
               CASE WHEN n_truth > 0 THEN
                   (FLOOR(CAST((CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
               END AS recall
        FROM m
    """,
    "knn_graph": f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
                   {_SRP_SIG_SQL} AS s
            FROM embeddings
        ),
        bands AS (
            SELECT vec_id, embedding, nrm,
                   substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
            FROM sig
        ),
        cand AS (
            SELECT a.vec_id AS src, b.vec_id AS nbr
            FROM bands a JOIN bands b
              ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
            UNION
            SELECT a.vec_id AS src, b.vec_id AS nbr
            FROM bands a JOIN bands b
              ON a.band1 = b.band1 AND a.vec_id <> b.vec_id
        ),
        scored AS (
            SELECT c.src, c.nbr,
                   {dot_sql('sa.embedding', 'sb.embedding')} / (sa.nrm * sb.nrm) AS cs
            FROM cand c
            JOIN bands sa ON c.src = sa.vec_id
            JOIN bands sb ON c.nbr = sb.vec_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY src ORDER BY cs DESC, nbr ASC) AS rank
            FROM scored
        )
        SELECT src AS vec_id, CAST(rank AS INTEGER) AS rank,
               nbr AS neighbor_id,
               (FLOOR(CAST(cs AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
        FROM r WHERE rank <= {KNN_K}
    """,
    "ngram_novelty": f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        ),
        occ AS (
            SELECT doc_id, {md5_long_sql('g')} AS hs
            FROM (
                SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
                FROM (SELECT doc_id, tk,
                             unnest(range(1, len(tk) - 1)) AS i
                      FROM toks)
            )
        ),
        firsts AS (SELECT hs, MIN(doc_id) AS first_doc FROM occ GROUP BY 1),
        per AS (
            SELECT doc_id,
                   CAST(GREATEST(len(tk) - 2, 0) AS BIGINT) AS n_kgrams
            FROM toks
        ),
        novel AS (
            SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
            FROM occ o JOIN firsts f ON o.hs = f.hs AND o.doc_id = f.first_doc
            GROUP BY 1
        )
        SELECT p.doc_id, p.n_kgrams,
               CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN p.n_kgrams > 0 THEN
                   (FLOOR(CAST((CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / CAST(p.n_kgrams AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
               END AS novelty
        FROM per p LEFT JOIN novel n USING (doc_id)
    """,
    "source_ngram_overlap": f"""
        WITH src_sh AS (
            SELECT DISTINCT source, {md5_long_sql('shingle')} AS hs
            FROM (SELECT source, unnest({_SHINGLES_SQL}) AS shingle
                  FROM documents)
            WHERE shingle IS NOT NULL
        ),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
                  FROM src_sh GROUP BY 1),
        inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM src_sh a JOIN src_sh b
              ON a.hs = b.hs AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT i.source_a, i.source_b, i.n_shared,
               (FLOOR(CAST((CAST(i.n_shared AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS overlap_coef
        FROM inter i
        JOIN sizes sa ON i.source_a = sa.source
        JOIN sizes sb ON i.source_b = sb.source
    """,
    "exact_substring_spans": f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        ),
        occ AS (
            SELECT doc_id, {md5_long_sql('g')} AS hs
            FROM (
                SELECT doc_id, {_KGRAM_SQL} AS g
                FROM (SELECT doc_id, tk,
                             unnest(range(1, len(tk) - {SPAN_K - 2})) AS i
                      FROM toks)
            )
        ),
        per AS (
            SELECT doc_id,
                   CAST(GREATEST(len(tk) - {SPAN_K - 1}, 0) AS BIGINT) AS n_shingles
            FROM toks
        ),
        duph AS (
            SELECT hs FROM (
                SELECT hs, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY 1
            ) WHERE df >= 2
        ),
        dupc AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
            FROM occ JOIN duph USING (hs) GROUP BY 1
        )
        SELECT p.doc_id, p.n_shingles,
               CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_shingles,
               CASE WHEN p.n_shingles > 0 THEN
                   (FLOOR(CAST((CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(p.n_shingles AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
               END AS dup_ratio
        FROM per p LEFT JOIN dupc d USING (doc_id)
    """,
    "dedup_containment": f"""
        WITH sh AS ({_HASHED_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        directed AS (
            SELECT doc_a AS contained_doc, doc_b AS container_doc,
                   CAST(n_inter AS DOUBLE) / sa.n_sh AS c
            FROM inter JOIN sizes sa ON doc_a = sa.doc_id
            UNION ALL
            SELECT doc_b, doc_a, CAST(n_inter AS DOUBLE) / sb.n_sh
            FROM inter JOIN sizes sb ON doc_b = sb.doc_id
        )
        SELECT contained_doc, container_doc,
               (FLOOR(CAST((c) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS containment
        FROM directed
        WHERE c >= {CONTAINMENT_THRESHOLD}
    """,
    "decontaminate_ngram": f"""
        WITH sh AS ({_HASHED_SHINGLES_SQL}),
        probes AS (SELECT DISTINCT hs FROM sh WHERE doc_id < {DECONTAM_PROBE_DOCS}),
        corpus AS (SELECT * FROM sh WHERE doc_id >= {DECONTAM_PROBE_DOCS})
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(COUNT(p.hs) AS BIGINT) AS n_shared,
               (COUNT(p.hs) >= {DECONTAM_MIN_SHARED}) AS contaminated
        FROM corpus c LEFT JOIN probes p ON c.hs = p.hs
        GROUP BY 1
    """,
    "dedup_exact": """
        WITH canon AS (
            SELECT md5(text) AS text_hash,
                   MIN(doc_id) AS canonical_doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY 1
        )
        SELECT d.doc_id, c.canonical_doc_id,
               d.doc_id <> c.canonical_doc_id AS is_duplicate,
               c.n_copies
        FROM documents d JOIN canon c ON md5(d.text) = c.text_hash
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS ({_HASHED_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               (FLOOR(CAST((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    """,
    "dedup_minhash_lsh": f"""
        WITH sh AS ({_HASHED_SHINGLES_SQL}),
        sigm AS (
            SELECT doc_id,
               {_SIG_COLS_SQL}
            FROM sh GROUP BY 1
        ),
        sig AS (
            SELECT *,
               {_BAND_COLS_SQL}
            FROM sigm
        ),
        cand AS (
            {_CAND_UNION_SQL}
        )
        SELECT doc_a, doc_b,
               (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sig_sim
        FROM cand
        WHERE (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) >= {MINHASH_SIM_THRESHOLD}
    """,
    "dedup_simhash": f"""
        WITH tok AS (
            SELECT doc_id, token, COUNT(*) AS w
            FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            ) GROUP BY 1, 2
        ),
        fp AS (
            SELECT doc_id,
                   CAST({_SIMHASH_BITS_SQL} AS BIGINT) AS simhash
            FROM tok
            GROUP BY doc_id
        )
        SELECT doc_id, simhash, simhash >> {SIMHASH_BITS - 12} AS band
        FROM fp
    """,
    "embedding_neardup": f"""
        WITH e AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
               (FLOOR(CAST(({dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
        FROM e a
        JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {COSINE_NEARDUP_THRESHOLD}
    """,
    "embedding_srp_lsh": f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
                   {_SRP_SIG_SQL} AS s
            FROM embeddings
        ),
        bands AS (
            SELECT vec_id, embedding, nrm,
                   substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
            FROM sig
        ),
        cand AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b ON a.band0 = b.band0 AND a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b ON a.band1 = b.band1 AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b,
               (FLOOR(CAST(({dot_sql('sa.embedding', 'sb.embedding')} / (sa.nrm * sb.nrm)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
        FROM cand
        JOIN bands sa ON vec_a = sa.vec_id
        JOIN bands sb ON vec_b = sb.vec_id
        WHERE {dot_sql('sa.embedding', 'sb.embedding')} / (sa.nrm * sb.nrm) >= {COSINE_NEARDUP_THRESHOLD}
    """,
    "dedup_incremental": f"""
        WITH sh AS ({_HASHED_SHINGLES_SQL}),
        sigm AS (
            SELECT doc_id,
               {_SIG_COLS_SQL}
            FROM sh GROUP BY 1
        ),
        sig AS (
            SELECT *,
               {_BAND_COLS_SQL}
            FROM sigm
        ),
        split AS (
            SELECT CEIL(MAX(doc_id) * {INGEST_SPLIT_FRACTION}) AS split_id
            FROM documents
        ),
        cand AS (
            {" UNION ".join(
                f'''SELECT a.doc_id AS new_doc_id, b.doc_id AS old_doc_id,
                    (FLOOR(CAST(({_EQ_SUM_SQL}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS sig_sim
                    FROM sig a JOIN sig b ON a.b{j} = b.b{j}, split
                    WHERE a.doc_id >= split_id AND b.doc_id < split_id'''
                for j in range(N_MINHASH // BAND_SIZE)
            )}
        )
        SELECT new_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_dups,
               MIN(old_doc_id) AS first_dup
        FROM cand
        WHERE sig_sim >= {MINHASH_SIM_THRESHOLD}
        GROUP BY 1
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE sh AS ({_HASHED_SHINGLES_SQL}),
        sigm AS (
            SELECT doc_id,
               {_SIG_COLS_SQL}
            FROM sh GROUP BY 1
        ),
        sig AS (
            SELECT *,
               {_BAND_COLS_SQL}
            FROM sigm
        ),
        cand AS (
            {_CAND_UNION_SQL}
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM cand
            WHERE (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) >= {MINHASH_SIM_THRESHOLD}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS doc_id,
               MIN(comp) AS cluster_id,
               node = MIN(comp) AS is_canonical
        FROM reach
        GROUP BY node
    """,
    "dedup_levenshtein": """
        WITH norm AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
            FROM documents
        ),
        blocked AS (
            SELECT doc_id, norm, substr(norm, 1, 12) AS block FROM norm
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.norm, b.norm) AS INT) AS edit_dist
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.doc_id < b.doc_id
        WHERE levenshtein(a.norm, b.norm) <= 20
    """,
}


SOFT_DF_CUT = 3.0  # mean doc-frequency above which a doc is down-weighted


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication by reweighting instead of removal (the
    SoftDeDup idea, He et al. 2024): each document keeps a SAMPLING
    WEIGHT inversely proportional to the commonness of its content —
    training sees duplicated text less often without the cliff-edge
    information loss of hard dedup. Commonness here is the mean
    document frequency of the doc's distinct 3-token shingles (the
    same shingle stream every hard-dedup operator in this module
    consumes); ``soft_weight = 1 / commonness`` so a fully unique doc
    keeps weight 1.0 and a doc whose shingles each appear in d docs
    is sampled 1/d as often.

    Scale shape: this is the CHEAP alternative to pairwise dedup — no
    pair join at all. One shingle explode, one keyed df aggregate,
    one shuffle join back on the shingle hash, one per-doc aggregate;
    every stage is map-side combinable and keyed on high-cardinality
    hashes. At 100 TB this costs two shuffles of the shingle stream,
    vs LSH's candidate-pair materialization.

    Exactness: df counts and per-doc sums are exact BIGINTs;
    ``mean_df``/``soft_weight`` are one IEEE division each
    (``soft_weight`` is n/Σdf directly — never 1/(Σdf/n), whose extra
    rounding step could diverge between engines); the down-weight
    flag compares the identical quotient double to the shared
    literal. Docs shorter than 3 tokens have no shingles and are
    excluded by construction (nothing to weight against).
    """
    # sh feeds the df rollup AND the join-back side; the partial-agg
    # subtree differs from the bare join exchange, so runtime reuse
    # cannot share them — materialize once (guide §7.2/§5).
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    dfreq = sh.groupBy("hs").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    # dfreq has one row per distinct shingle — corpus-scaled, no hint.
    agg = (
        sh.join(dfreq, "hs")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("sum_df"),
        )
    )
    n_d = F.col("n_shingles").cast("double")
    s_d = F.col("sum_df").cast("double")
    return agg.select(
        "doc_id",
        "n_shingles",
        pround(s_d / n_d).alias("mean_df"),
        pround(n_d / s_d).alias("soft_weight"),
        (s_d / n_d > F.lit(SOFT_DF_CUT)).alias("downweighted"),
    )


QUERIES["soft_dedup_weights"] = soft_dedup_weights

ORACLES["soft_dedup_weights"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    dfreq AS (
        SELECT hs, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(df) AS BIGINT) AS sum_df
        FROM sh JOIN dfreq USING (hs)
        GROUP BY 1
    )
    SELECT doc_id,
           n_shingles,
           {pround_sql(
               'CAST(sum_df AS DOUBLE) / CAST(n_shingles AS DOUBLE)'
           )} AS mean_df,
           {pround_sql(
               'CAST(n_shingles AS DOUBLE) / CAST(sum_df AS DOUBLE)'
           )} AS soft_weight,
           (CAST(sum_df AS DOUBLE) / CAST(n_shingles AS DOUBLE))
               > {SOFT_DF_CUT} AS downweighted
    FROM agg
"""


GS_N_PROBES = 5  # vec_id < 5 are the query vectors (the ANN convention)
GS_MAX_HOPS = 12  # strict-improvement walks terminate long before this


def ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy graph-based ANN search — the navigable-graph idea under
    HNSW/NSG (Malkov & Yashunin 2018) expressed over this module's
    :func:`knn_graph`: start each probe at a fixed entry vector and
    repeatedly hop to the current node's best-cosine neighbor while
    that STRICTLY improves, reporting where the walk settles and how
    many hops it took. Strict improvement makes termination a
    theorem (cosine increases every hop), and the settled node is the
    walk's local optimum — the approximate answer whose gap to the
    flat-scan truth ``ann_topk_cosine`` measures.

    Scale shape: the move table (per (probe, node): its argmax-cosine
    neighbor) is ONE pass over the k-bounded edge list — probes ride
    the bounded-broadcast pattern of the other ANN operators, the
    neighbor embeddings join is an equi-join on vec_id, and the
    argmax is a keyed window over ≤ k rows per cell. The walk itself
    is the iterative-loop discipline (``dedup_clusters``): per-round
    localCheckpoint, driver-side scalar convergence probe, state = 1
    row per probe. The edge list is checkpointed once so the LSH
    pipeline does not re-run per hop.

    Exactness: every move compares the SAME fold-ordered dot-product
    doubles both engines compute (the knn_graph determinism
    contract); ties on cosine stop the walk (strict >), so the
    DuckDB recursive-CTE replay settles on the identical node.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    vec = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    probes = vec.filter(F.col("vec_id") < GS_N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("nrm").alias("p_nrm"),
    )
    edges = (
        knn_graph(spark, sf_dir)
        .select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("nbr"))
        .localCheckpoint(eager=True)
    )
    nbr_vec = vec.select(
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    cos = dot(F.col("p_emb"), F.col("n_emb")) / (
        F.col("p_nrm") * F.col("n_nrm")
    )
    # probes are a bounded broadcast (the ANN-operator pattern); the
    # conditionless probe fan-out is the allowlisted BNLJ idiom
    scored = (
        edges.join(nbr_vec, "nbr")
        .join(F.broadcast(probes))
        .select("probe_id", "src", "nbr", cos.alias("cs"))
    )
    wbest = Window.partitionBy("probe_id", "src").orderBy(
        F.col("cs").desc(), F.col("nbr").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            F.col("src").alias("cur"),
            F.col("nbr").alias("best_nbr"),
            F.col("cs").alias("best_cs"),
        )
        .localCheckpoint(eager=True)
    )
    release_checkpoint(edges)
    entry = vec.filter(F.col("vec_id") >= GS_N_PROBES).agg(
        F.min("vec_id").alias("entry_id")
    )
    e_vec = vec.select(
        F.col("vec_id").alias("entry_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    # 1-row entry-point broadcast (allowlisted idiom)
    state = (
        probes.join(F.broadcast(entry))
        .join(e_vec, "entry_id")
        .select(
            "probe_id",
            "entry_id",
            F.col("entry_id").alias("cur"),
            cos.alias("cs"),
            F.lit(0).alias("n_hops"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(GS_MAX_HOPS):
        stepped = (
            state.join(best, ["probe_id", "cur"], "left")
            .select(
                "probe_id",
                "entry_id",
                F.when(
                    F.col("best_cs") > F.col("cs"), F.col("best_nbr")
                )
                .otherwise(F.col("cur"))
                .alias("cur"),
                F.when(F.col("best_cs") > F.col("cs"), F.col("best_cs"))
                .otherwise(F.col("cs"))
                .alias("cs"),
                (
                    F.col("n_hops")
                    + F.when(F.col("best_cs") > F.col("cs"), 1).otherwise(0)
                ).alias("n_hops"),
                (F.col("best_cs") > F.col("cs")).alias("_moved"),
            )
            .localCheckpoint(eager=True)
        )
        release_checkpoint(state)
        moved = not stepped.filter(F.col("_moved")).isEmpty()
        state = stepped.drop("_moved")
        if not moved:
            break
    release_checkpoint(best)
    return state.select(
        "probe_id",
        "entry_id",
        F.col("cur").alias("neighbor_id"),
        pround(F.col("cs")).alias("cos_sim"),
        F.col("n_hops").cast("int").alias("n_hops"),
    )


QUERIES["ann_graph_search"] = ann_graph_search

ORACLES["ann_graph_search"] = f"""
    WITH RECURSIVE sig AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
               {{srp}} AS s
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, embedding, nrm,
               substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
        FROM sig
    ),
    cand AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band1 = b.band1 AND a.vec_id <> b.vec_id
    ),
    kscored AS (
        SELECT c.src, c.nbr,
               {dot_sql('sa.embedding', 'sb.embedding')} / (sa.nrm * sb.nrm) AS cs
        FROM cand c
        JOIN bands sa ON c.src = sa.vec_id
        JOIN bands sb ON c.nbr = sb.vec_id
    ),
    edges AS (
        SELECT src, nbr FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY src ORDER BY cs DESC, nbr ASC) AS rank
            FROM kscored
        ) WHERE rank <= {{knn_k}}
    ),
    probes AS (
        SELECT vec_id AS probe_id, embedding AS p_emb, nrm AS p_nrm
        FROM bands WHERE vec_id < {{n_probes}}
    ),
    best AS (
        SELECT probe_id, src AS cur, nbr AS best_nbr, cs AS best_cs
        FROM (
            SELECT p.probe_id, e.src, e.nbr,
                   {dot_sql('p.p_emb', 'nv.embedding')} / (p.p_nrm * nv.nrm)
                       AS cs,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probe_id, e.src
                       ORDER BY {dot_sql('p.p_emb', 'nv.embedding')}
                                / (p.p_nrm * nv.nrm) DESC, e.nbr ASC
                   ) AS rn
            FROM edges e
            JOIN bands nv ON e.nbr = nv.vec_id
            CROSS JOIN probes p
        ) WHERE rn = 1
    ),
    entry AS (
        SELECT MIN(vec_id) AS entry_id FROM embeddings
        WHERE vec_id >= {{n_probes}}
    ),
    walk(probe_id, entry_id, cur, cs, n_hops) AS (
        SELECT p.probe_id, e.entry_id, e.entry_id,
               {dot_sql('p.p_emb', 'ev.embedding')} / (p.p_nrm * ev.nrm),
               0
        FROM probes p, entry e
        JOIN bands ev ON e.entry_id = ev.vec_id
        UNION ALL
        SELECT w.probe_id, w.entry_id, b.best_nbr, b.best_cs,
               w.n_hops + 1
        FROM walk w
        JOIN best b ON b.probe_id = w.probe_id AND b.cur = w.cur
        WHERE b.best_cs > w.cs AND w.n_hops < {{max_hops}}
    )
    SELECT probe_id, entry_id, cur AS neighbor_id,
           {pround_sql('cs')} AS cos_sim,
           CAST(n_hops AS INTEGER) AS n_hops
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY n_hops DESC) AS rn
        FROM walk
    ) WHERE rn = 1
"""
ORACLES["ann_graph_search"] = ORACLES["ann_graph_search"].format(
    srp=_SRP_SIG_SQL, knn_k=KNN_K, n_probes=GS_N_PROBES, max_hops=GS_MAX_HOPS
)


LP_DEG_CAP = 64  # hub middles above this degree are skipped (df-cap twin)
LP_CN_MIN = 2  # report pairs sharing at least this many neighbors
LP_Q = 1048576.0  # 2^20 Adamic-Adar term grid


def link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the near-dup graph: which vector pairs are
    NOT yet knn-graph edges but share enough neighbors that they are
    probably the same neighborhood? Scores are the three classics —
    common-neighbor count, Jaccard over the degree union, and
    Adamic–Adar (Σ 1/ln deg(m), rare shared neighbors weigh more;
    Liben-Nowell & Kleinberg 2003). Dedup pipelines use this as the
    recall-repair pass: a high-AA non-edge is a candidate the LSH
    bands missed.

    Scale shape: the graph symmetrizes to an undirected edge list
    (out-degree k each way), candidate pairs come from the two-hop
    self-join KEYED ON THE MIDDLE NODE — per-middle fan-out is
    deg², and middles above ``LP_DEG_CAP`` are excluded (the
    ``dedup_ngram_jaccard`` df-cap discipline: hubs add quadratic
    candidates while their evidence value per pair vanishes — at this
    corpus no middle reaches the cap, pytest-free by parity). The
    existing-edge anti-join and degree joins are keyed equi-joins.

    Exactness: CN and degrees are exact BIGINTs; Jaccard is one
    division; each AA term is ln-then-reciprocal on the SAME small
    integer in both engines, quantized to the 2^20 grid and summed
    exactly (quantize-then-sum).
    """
    e = knn_graph(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    mid = und.join(deg, "src").filter(F.col("deg") <= LP_DEG_CAP)
    a, b = mid.alias("a"), mid.alias("b")
    aa_term_q = F.floor(
        F.lit(1.0) / F.log(F.col("a.deg").cast("double")) * F.lit(LP_Q)
        + F.lit(0.5)
    ).cast("long")
    cand = (
        a.join(
            b,
            (F.col("a.src") == F.col("b.src"))
            & (F.col("a.dst") < F.col("b.dst")),
        )
        .select(
            F.col("a.dst").alias("node_a"),
            F.col("b.dst").alias("node_b"),
            aa_term_q.alias("aa_q"),
        )
    )
    scored = cand.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("aa_q").cast("long").alias("aa_sum_q"),
    )
    existing = und.select(
        F.col("src").alias("node_a"), F.col("dst").alias("node_b")
    )
    da = deg.select(F.col("src").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("node_b"), F.col("deg").alias("deg_b"))
    jac = F.col("cn").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("cn")
    ).cast("double")
    return (
        scored.filter(F.col("cn") >= LP_CN_MIN)
        .join(existing, ["node_a", "node_b"], "left_anti")
        .join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "cn",
            pround(jac).alias("jaccard"),
            pround(
                F.col("aa_sum_q").cast("double") / F.lit(LP_Q)
            ).alias("adamic_adar"),
        )
    )


QUERIES["link_prediction_cn"] = link_prediction_cn

ORACLES["link_prediction_cn"] = f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
               {_SRP_SIG_SQL} AS s
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, embedding, nrm,
               substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
        FROM sig
    ),
    cand0 AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band1 = b.band1 AND a.vec_id <> b.vec_id
    ),
    kscored AS (
        SELECT c.src, c.nbr,
               {dot_sql('sa.embedding', 'sb.embedding')} / (sa.nrm * sb.nrm) AS cs
        FROM cand0 c
        JOIN bands sa ON c.src = sa.vec_id
        JOIN bands sb ON c.nbr = sb.vec_id
    ),
    kedges AS (
        SELECT src, nbr AS dst FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY src ORDER BY cs DESC, nbr ASC) AS rank
            FROM kscored
        ) WHERE rank <= {KNN_K}
    ),
    und AS (
        SELECT src, dst FROM kedges
        UNION
        SELECT dst AS src, src AS dst FROM kedges
    ),
    deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1
    ),
    mid AS (
        SELECT u.src, u.dst, d.deg FROM und u JOIN deg d USING (src)
        WHERE d.deg <= {LP_DEG_CAP}
    ),
    pairs AS (
        SELECT a.dst AS node_a, b.dst AS node_b,
               CAST(FLOOR(1.0 / ln(CAST(a.deg AS DOUBLE)) * {LP_Q} + 0.5)
                    AS BIGINT) AS aa_q
        FROM mid a JOIN mid b
          ON a.src = b.src AND a.dst < b.dst
    ),
    scored AS (
        SELECT node_a, node_b,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(aa_q) AS BIGINT) AS aa_sum_q
        FROM pairs GROUP BY 1, 2
    )
    SELECT s.node_a, s.node_b, s.cn,
           {pround_sql(
               'CAST(s.cn AS DOUBLE)'
               ' / CAST(da.deg + db.deg - s.cn AS DOUBLE)'
           )} AS jaccard,
           {pround_sql(f'CAST(s.aa_sum_q AS DOUBLE) / {LP_Q}')}
               AS adamic_adar
    FROM scored s
    JOIN deg da ON s.node_a = da.src
    JOIN deg db ON s.node_b = db.src
    WHERE s.cn >= {LP_CN_MIN}
      AND NOT EXISTS (
          SELECT 1 FROM und u
          WHERE u.src = s.node_a AND u.dst = s.node_b
      )
"""


MH_AUDIT_Q = 1048576.0  # 2^20 exact-jaccard grid for the audit moments


def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the MinHash Jaccard ESTIMATOR itself: for
    every LSH candidate pair, the 16-slot signature estimate next to
    the exact shingle-set Jaccard, with the absolute error — and the
    corpus-level mean |error| and Pearson correlation between
    estimate and truth replicated per row. ``lsh_quality_report``
    grades the BANDING geometry (precision/recall of the candidate
    step); this grades the ESTIMATOR the verify step trusts — the
    Broder (1997) k-min sketch whose error you must know before
    picking a verification threshold at 100 TB.

    Scale shape: the audit rides the existing machinery — slim band
    self-join for candidates, one hs-keyed intersection join
    restricted to those pairs, sizes from the shared shingle
    aggregate; the corpus moments are windows over the PAIR-bounded
    audit table in DECIMAL(38,0) (the ``ols_trend`` discipline —
    BIGINT n·Σxy wraps at production pair counts). Exactness:
    slot-match counts (0..16) and intersection/union counts are
    exact integers; the estimate and Jaccard are single divisions;
    Pearson r = num/sqrt(dx·dy) on nearest-doubles of exact decimal
    integers (x = n_eq, y = the 2^20-quantized Jaccard).
    """
    # Materialize the three shared legs ONCE each: the signature table
    # feeds the band join AND both verify sides, the pair list feeds
    # cand AND the candidate-doc semi-join, and the shingle table feeds
    # sizes AND both intersection sides. Lazily shared, the plan re-ran
    # the shingle→signature pipeline ~8× (32 parquet scans measured —
    # guide §7.2 duplicated subtrees; §5 cache-vs-recompute: each leg
    # is reused ≥2× and strictly cheaper to store than recompute).
    sig = (
        _minhash_sig_wide(spark, sf_dir)
        .select("doc_id", *[F.col(f"m{i}") for i in range(N_MINHASH)])
        .localCheckpoint(eager=True)
    )
    pairs = _band_pairs(sig).localCheckpoint(eager=True)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    n_eq = functools.reduce(
        operator.add,
        [
            (F.col(f"sa.m{i}") == F.col(f"sb.m{i}")).cast("int")
            for i in range(N_MINHASH)
        ],
    )
    cand = (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", n_eq.alias("n_eq"))
    )
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    # restrict the intersection self-join to CANDIDATE docs first: the
    # corpus-wide hs fan-out is quadratic in shingle df, while the
    # audit only consumes candidate pairs (measured 1.6x+ of the whole
    # query before the semi-join)
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_docs, "doc_id", "left_semi")
    ha, hb = sh_c.alias("ha"), sh_c.alias("hb")
    inter = (
        ha.join(
            hb,
            (F.col("ha.hs") == F.col("hb.hs"))
            & (F.col("ha.doc_id") < F.col("hb.doc_id")),
        )
        .groupBy(
            F.col("ha.doc_id").alias("doc_a"),
            F.col("hb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_eq",
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("ni"),
            "na",
            "nb",
        )
    )
    est = F.col("n_eq").cast("double") / F.lit(float(N_MINHASH))
    jac = F.col("ni").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ni")
    ).cast("double")
    jq = F.floor(jac * F.lit(MH_AUDIT_Q) + F.lit(0.5)).cast("long")
    errq = F.floor(
        F.abs(est - jac) * F.lit(MH_AUDIT_Q) + F.lit(0.5)
    ).cast("long")
    scored = j.select(
        "doc_a",
        "doc_b",
        "n_eq",
        "ni",
        jq.alias("jq"),
        errq.alias("errq"),
    )
    wall = Window.partitionBy()
    d38 = "decimal(38,0)"
    n = F.count(F.lit(1)).over(wall).cast(d38)
    sx = F.sum(F.col("n_eq").cast(d38)).over(wall)
    sy = F.sum(F.col("jq").cast(d38)).over(wall)
    sxy = F.sum((F.col("n_eq") * F.col("jq")).cast(d38)).over(wall)
    sxx = F.sum((F.col("n_eq") * F.col("n_eq")).cast(d38)).over(wall)
    syy = F.sum((F.col("jq") * F.col("jq")).cast(d38)).over(wall)
    num = (n * sxy - sx * sy).cast("double")
    dx = (n * sxx - sx * sx).cast("double")
    dy = (n * syy - sy * sy).cast("double")
    r = num / F.sqrt(dx * dy)
    mean_err = (
        F.sum("errq").over(wall).cast("double")
        / F.lit(MH_AUDIT_Q)
        / F.count(F.lit(1)).over(wall).cast("double")
    )
    return scored.select(
        "doc_a",
        "doc_b",
        pround(F.col("n_eq").cast("double") / F.lit(float(N_MINHASH))).alias(
            "est_sim"
        ),
        pround(F.col("jq").cast("double") / F.lit(MH_AUDIT_Q)).alias(
            "exact_jac"
        ),
        pround(F.col("errq").cast("double") / F.lit(MH_AUDIT_Q)).alias(
            "abs_err"
        ),
        pround(mean_err).alias("corpus_mean_abs_err"),
        pround(r).alias("corpus_corr"),
    )


QUERIES["minhash_estimate_audit"] = minhash_estimate_audit

ORACLES["minhash_estimate_audit"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        SELECT doc_a, doc_b,
               CAST(raw_sim * {float(N_MINHASH)} AS BIGINT) AS n_eq
        FROM ({_CAND_UNION_SQL})
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
    ),
    cdocs AS (
        SELECT doc_a AS doc_id FROM cand
        UNION
        SELECT doc_b FROM cand
    ),
    shc AS (
        SELECT sh.* FROM sh JOIN cdocs USING (doc_id)
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS ni
        FROM shc a JOIN shc b ON a.hs = b.hs AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT c.doc_a, c.doc_b, c.n_eq,
               COALESCE(i.ni, 0) AS ni, za.n_sh AS na, zb.n_sh AS nb
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes za ON c.doc_a = za.doc_id
        JOIN sizes zb ON c.doc_b = zb.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b, n_eq, ni,
               CAST(FLOOR((CAST(ni AS DOUBLE)
                    / CAST(na + nb - ni AS DOUBLE)) * {MH_AUDIT_Q} + 0.5)
                    AS BIGINT) AS jq,
               CAST(FLOOR(ABS(CAST(n_eq AS DOUBLE) / {float(N_MINHASH)}
                    - CAST(ni AS DOUBLE) / CAST(na + nb - ni AS DOUBLE))
                    * {MH_AUDIT_Q} + 0.5) AS BIGINT) AS errq
        FROM j
    ),
    m AS (
        SELECT *,
               CAST(COUNT(*) OVER () AS HUGEINT) AS n,
               SUM(CAST(n_eq AS HUGEINT)) OVER () AS sx,
               SUM(CAST(jq AS HUGEINT)) OVER () AS sy,
               SUM(CAST(n_eq AS HUGEINT) * CAST(jq AS HUGEINT)) OVER ()
                   AS sxy,
               SUM(CAST(n_eq AS HUGEINT) * CAST(n_eq AS HUGEINT)) OVER ()
                   AS sxx,
               SUM(CAST(jq AS HUGEINT) * CAST(jq AS HUGEINT)) OVER ()
                   AS syy,
               CAST(SUM(errq) OVER () AS BIGINT) AS sum_err
        FROM scored
    )
    SELECT doc_a, doc_b,
           {pround_sql(f'CAST(n_eq AS DOUBLE) / {float(N_MINHASH)}')}
               AS est_sim,
           {pround_sql(f'CAST(jq AS DOUBLE) / {MH_AUDIT_Q}')} AS exact_jac,
           {pround_sql(f'CAST(errq AS DOUBLE) / {MH_AUDIT_Q}')} AS abs_err,
           {pround_sql(
               f'CAST(sum_err AS DOUBLE) / {MH_AUDIT_Q}'
               ' / CAST(n AS DOUBLE)'
           )} AS corpus_mean_abs_err,
           {pround_sql(
               'CAST(n * sxy - sx * sy AS DOUBLE)'
               ' / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)'
               ' * CAST(n * syy - sy * sy AS DOUBLE))'
           )} AS corpus_corr
    FROM m
"""


def dedup_cluster_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the dedup partition on its own near-dup
    graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the standard 'is this
    clustering better than chance?' audit (Newman & Girvan 2004).
    Connected components ALWAYS capture every edge (e_c sums to m),
    so Q here reads as how concentrated the graph is: near 0 when
    one giant component holds all edges, higher when duplicates form
    many tight groups — the drift signal that a template flood has
    fused unrelated documents into one mega-cluster (the failure
    mode ``dup_cluster_histogram`` sizes and this scores). One row
    per edge-bearing cluster with nodes/internal edges/degree mass
    and the cluster's Q contribution; the corpus Q is replicated per
    row (the report shape).

    Scale shape: rides :func:`dedup_clusters` labels and the LSH pair
    list — per-cluster aggregates are keyed on cluster id; the
    corpus terms are windows over the CLUSTER-bounded table.
    Exactness: edge counts and degree sums are exact integers; each
    Q term is (e_c/m) − t·t with t one division — identical
    expression trees both engines.
    """
    # ONE materialization of the LSH pair list serves BOTH legs (the
    # e_c/degree aggregates here and the CC loop inside dedup_clusters):
    # the first spelling constructed dedup_minhash_lsh twice, so the
    # final plan re-ran the whole shingle→signature→band-join pipeline
    # a second time just to re-derive the identical pairs (28 parquet
    # scans in the plan; guide §7.2 duplicated subtrees / §5 cache-vs-
    # recompute). The checkpoint lives only inside this query's run.
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    labels = dedup_clusters(spark, sf_dir, pairs=pairs).select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id")
    )
    e = (
        pairs.join(labels, "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    und = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = und.groupBy("doc_a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    d = (
        deg.join(labels, "doc_a")
        .groupBy("cluster_id")
        .agg(
            F.sum("deg").cast("long").alias("d_c"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    per = d.join(e, "cluster_id")
    wall = Window.partitionBy()
    m = F.sum("e_c").over(wall).cast("double")
    t = F.col("d_c").cast("double") / (F.lit(2.0) * m)
    q_c = F.col("e_c").cast("double") / m - t * t
    qq = F.floor(q_c * F.lit(MH_AUDIT_Q) + F.lit(0.5)).cast("long")
    scored = per.select(
        "cluster_id",
        "n_nodes",
        "e_c",
        "d_c",
        q_c.alias("_q"),
        qq.alias("qq"),
    )
    q_total = (
        F.sum("qq").over(wall).cast("double") / F.lit(MH_AUDIT_Q)
    )
    return scored.select(
        "cluster_id",
        "n_nodes",
        "e_c",
        "d_c",
        pround(F.col("_q")).alias("q_contrib"),
        pround(q_total).alias("modularity"),
    )


QUERIES["dedup_cluster_modularity"] = dedup_cluster_modularity

ORACLES["dedup_cluster_modularity"] = f"""
    WITH RECURSIVE sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        -- subselect wrapper: under WITH RECURSIVE, DuckDB 1.0 runs a
        -- CTE whose body is a top-level UNION as UNION ALL (no dedup)
        -- even without self-reference; the wrapper restores set
        -- semantics (probe-verified).
        SELECT * FROM (
        {_CAND_UNION_SQL}
    )
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM cand
        WHERE (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5)
               / 10000.0) >= {MINHASH_SIM_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (
        SELECT node AS doc_a, MIN(comp) AS cluster_id
        FROM reach GROUP BY node
    ),
    ec AS (
        SELECT l.cluster_id, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM pairs p JOIN labels l ON p.doc_a = l.doc_a
        GROUP BY 1
    ),
    deg AS (
        SELECT src AS doc_a, CAST(COUNT(*) AS BIGINT) AS deg FROM edges
        GROUP BY 1
    ),
    dc AS (
        SELECT l.cluster_id,
               CAST(SUM(d.deg) AS BIGINT) AS d_c,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg d JOIN labels l ON d.doc_a = l.doc_a
        GROUP BY 1
    ),
    per AS (
        SELECT dc.cluster_id, dc.n_nodes, dc.d_c, ec.e_c
        FROM dc JOIN ec USING (cluster_id)
    ),
    scored AS (
        SELECT *,
               CAST(SUM(e_c) OVER () AS DOUBLE) AS m,
               CAST(e_c AS DOUBLE) / CAST(SUM(e_c) OVER () AS DOUBLE)
                   - (CAST(d_c AS DOUBLE)
                      / (2.0 * CAST(SUM(e_c) OVER () AS DOUBLE)))
                     * (CAST(d_c AS DOUBLE)
                      / (2.0 * CAST(SUM(e_c) OVER () AS DOUBLE)))
                   AS q_c,
               CAST(FLOOR((CAST(e_c AS DOUBLE)
                    / CAST(SUM(e_c) OVER () AS DOUBLE)
                    - (CAST(d_c AS DOUBLE)
                       / (2.0 * CAST(SUM(e_c) OVER () AS DOUBLE)))
                      * (CAST(d_c AS DOUBLE)
                       / (2.0 * CAST(SUM(e_c) OVER () AS DOUBLE))))
                    * {MH_AUDIT_Q} + 0.5) AS BIGINT) AS qq
        FROM per
    )
    SELECT cluster_id, n_nodes, e_c, d_c,
           {pround_sql('q_c')} AS q_contrib,
           {pround_sql(
               f'CAST(SUM(qq) OVER () AS DOUBLE) / {MH_AUDIT_Q}'
           )} AS modularity
    FROM scored
"""


def text_embedding_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit: for every TEXT near-dup
    candidate pair (LSH bands), the exact shingle Jaccard next to the
    EMBEDDING cosine of the same documents, with the corpus Pearson
    correlation between the two replicated per row — the health check
    that catches a broken/stale embedding pipeline (text says
    near-identical, vectors say unrelated → the embeddings aren't of
    this corpus version; strong agreement → semantic dedup can trust
    them). The text and vector corpora share ids (doc_id = vec_id).

    Scale shape: everything rides existing machinery — slim-band
    candidates, hs-keyed intersection for Jaccard, two vec_id-keyed
    joins for the embedding legs; the correlation is DECIMAL(38,0)/
    HUGEINT moment windows over the PAIR-bounded audit table (the
    ``minhash_estimate_audit`` discipline). Exactness: Jaccard from
    exact integers; cosine is the deterministic fold-ordered dot
    (the knn_graph contract); both quantize to the 2^20 grid before
    the moment sums.
    """
    # Materialize the two shared legs once (pair list → cand_docs + the
    # final join; shingles → sizes + both intersection sides): lazily
    # shared they re-ran the shingle/signature pipeline ~8× in one plan
    # (32 parquet scans measured — guide §7.2, the
    # minhash_estimate_audit refactor).
    pairs = _band_pairs(
        _minhash_sig_wide(spark, sf_dir).select(
            "doc_id", *[F.col(f"m{i}") for i in range(N_MINHASH)]
        )
    ).localCheckpoint(eager=True)
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    # restrict the intersection self-join to CANDIDATE docs first: the
    # corpus-wide hs fan-out is quadratic in shingle df, while the
    # audit only consumes candidate pairs (measured 1.6x+ of the whole
    # query before the semi-join)
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_docs, "doc_id", "left_semi")
    ha, hb = sh_c.alias("ha"), sh_c.alias("hb")
    inter = (
        ha.join(
            hb,
            (F.col("ha.hs") == F.col("hb.hs"))
            & (F.col("ha.doc_id") < F.col("hb.doc_id")),
        )
        .groupBy(
            F.col("ha.doc_id").alias("doc_a"),
            F.col("hb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    ea = emb.select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    j = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("ni"),
            "na",
            "nb",
            cos.alias("cs"),
        )
    )
    jac = F.col("ni").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ni")
    ).cast("double")
    jq = F.floor(jac * F.lit(MH_AUDIT_Q) + F.lit(0.5)).cast("long")
    cq = F.floor(F.col("cs") * F.lit(MH_AUDIT_Q) + F.lit(0.5)).cast("long")
    scored = j.select("doc_a", "doc_b", jq.alias("jq"), cq.alias("cq"))
    wall = Window.partitionBy()
    d38 = "decimal(38,0)"
    n = F.count(F.lit(1)).over(wall).cast(d38)
    sx = F.sum(F.col("jq").cast(d38)).over(wall)
    sy = F.sum(F.col("cq").cast(d38)).over(wall)
    sxy = F.sum((F.col("jq") * F.col("cq")).cast(d38)).over(wall)
    sxx = F.sum((F.col("jq") * F.col("jq")).cast(d38)).over(wall)
    syy = F.sum((F.col("cq") * F.col("cq")).cast(d38)).over(wall)
    num = (n * sxy - sx * sy).cast("double")
    dx = (n * sxx - sx * sx).cast("double")
    dy = (n * syy - sy * sy).cast("double")
    r = F.when(
        (dx > 0) & (dy > 0), num / F.sqrt(dx * dy)
    ).otherwise(F.lit(0.0))
    return scored.select(
        "doc_a",
        "doc_b",
        pround(F.col("jq").cast("double") / F.lit(MH_AUDIT_Q)).alias(
            "text_jaccard"
        ),
        pround(F.col("cq").cast("double") / F.lit(MH_AUDIT_Q)).alias(
            "emb_cosine"
        ),
        pround(r).alias("corpus_corr"),
    )


QUERIES["text_embedding_agreement"] = text_embedding_agreement

ORACLES["text_embedding_agreement"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        SELECT doc_a, doc_b FROM ({_CAND_UNION_SQL})
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
    ),
    cdocs AS (
        SELECT doc_a AS doc_id FROM cand
        UNION
        SELECT doc_b FROM cand
    ),
    shc AS (
        SELECT sh.* FROM sh JOIN cdocs USING (doc_id)
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS ni
        FROM shc a JOIN shc b ON a.hs = b.hs AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ev AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm
        FROM embeddings
    ),
    j AS (
        SELECT c.doc_a, c.doc_b,
               COALESCE(i.ni, 0) AS ni, za.n_sh AS na, zb.n_sh AS nb,
               {dot_sql('ea.embedding', 'eb.embedding')}
                   / (ea.nrm * eb.nrm) AS cs
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes za ON c.doc_a = za.doc_id
        JOIN sizes zb ON c.doc_b = zb.doc_id
        JOIN ev ea ON c.doc_a = ea.vec_id
        JOIN ev eb ON c.doc_b = eb.vec_id
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(FLOOR((CAST(ni AS DOUBLE)
                    / CAST(na + nb - ni AS DOUBLE)) * {MH_AUDIT_Q} + 0.5)
                    AS BIGINT) AS jq,
               CAST(FLOOR(cs * {MH_AUDIT_Q} + 0.5) AS BIGINT) AS cq
        FROM j
    ),
    m AS (
        SELECT *,
               CAST(COUNT(*) OVER () AS HUGEINT) AS n,
               SUM(CAST(jq AS HUGEINT)) OVER () AS sx,
               SUM(CAST(cq AS HUGEINT)) OVER () AS sy,
               SUM(CAST(jq AS HUGEINT) * CAST(cq AS HUGEINT)) OVER () AS sxy,
               SUM(CAST(jq AS HUGEINT) * CAST(jq AS HUGEINT)) OVER () AS sxx,
               SUM(CAST(cq AS HUGEINT) * CAST(cq AS HUGEINT)) OVER () AS syy
        FROM scored
    )
    SELECT doc_a, doc_b,
           {pround_sql(f'CAST(jq AS DOUBLE) / {MH_AUDIT_Q}')}
               AS text_jaccard,
           {pround_sql(f'CAST(cq AS DOUBLE) / {MH_AUDIT_Q}')}
               AS emb_cosine,
           {pround_sql(
               'CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0'
               ' AND CAST(n * syy - sy * sy AS DOUBLE) > 0'
               ' THEN CAST(n * sxy - sx * sy AS DOUBLE)'
               ' / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)'
               ' * CAST(n * syy - sy * sy AS DOUBLE))'
               ' ELSE 0.0 END'
           )} AS corpus_corr
    FROM m
"""


# Winnowing (Schleimer, Wilkerson & Aiken 2003 — the MOSS algorithm):
# guarantee-bearing fingerprint selection. Any shared substring of at
# least WIN_K + WIN_W - 1 tokens is CAUGHT by at least one shared
# selected fingerprint — the local-selection property rolling or
# random sampling lacks.
WIN_K = 3   # k-gram size (tokens)
WIN_W = 4   # winnowing window (k-gram hashes per selection window)
WIN_DF_CAP = 25   # stop-fingerprint cap (the dedup_ngram_jaccard knob)
WIN_MIN_SHARED = 3  # report pairs sharing at least this many prints


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprinting: hash every 3-token k-gram,
    slide a 4-hash window, select each window's (hash, pos)-minimum —
    the MOSS selection rule whose guarantee is what plagiarism/overlap
    detection actually needs: any match of >= k+w-1 tokens shares a
    selected fingerprint, while only ~2/(w+1) of all grams are kept.
    Pairs of documents sharing >= WIN_MIN_SHARED fingerprints are
    reported with their overlap counts — the copy-candidate shortlist.

    Engine exactness: fingerprints are md5 integers; the selection
    min is over (hash, pos) structs — fully deterministic, identical
    window frames in both engines; all outputs are integer counts
    plus one final ratio division.

    100 TB story: selection is one bounded-frame window per doc
    (ordered by gram position — per-doc partitions, no global sort);
    the pair join is keyed on fingerprint hash with the df-cap
    dropping stop-fingerprints, so cell fan-out is bounded exactly
    like the shingle-LSH family."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(_ws_tokens(F.lower(F.col("text")))).alias("pos", "tk"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("t1", F.lead("tk", 1).over(wd))
        .withColumn("t2", F.lead("tk", 2).over(wd))
        .filter(F.col("t2").isNotNull())
        .select(
            "doc_id",
            "pos",
            md5_long(
                F.concat_ws(" ", F.col("tk"), F.col("t1"), F.col("t2"))
            ).alias("h"),
        )
    )
    # robust winnowing: per window of WIN_W consecutive gram hashes,
    # select the (hash, pos)-min struct; DISTINCT collapses windows
    # that picked the same gram.
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WIN_W - 1)
    )
    n_grams = Window.partitionBy("doc_id")
    sel = (
        grams.withColumn("n", F.count(F.lit(1)).over(n_grams))
        .withColumn(
            "pick",
            F.min(F.struct(F.col("h"), F.col("pos"))).over(wf),
        )
        .filter(F.col("pos") <= F.col("n") - WIN_W)  # full windows only
        .select("doc_id", F.col("pick.h").alias("fp"))
        .distinct()
        # Selected fingerprints feed per_doc, dfreq AND both self-join
        # sides; materialize the tokenize→window selection once instead
        # of re-running it per consumer (12 parquet scans in the lazily
        # shared plan — guide §7.2/§5). Bounded: ≤ one row per gram
        # window per doc.
        .localCheckpoint(eager=True)
    )
    per_doc = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    dfreq = sel.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    idx = sel.join(
        dfreq.filter(F.col("df") <= WIN_DF_CAP).select("fp"), "fp"
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )
    return (
        pairs.join(
            per_doc.select(
                F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("fp_a")
            ),
            "doc_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("fp_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "fp_a",
            "fp_b",
            pround(
                F.col("n_shared").cast("double")
                / (F.col("fp_a") + F.col("fp_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("fp_jaccard"),
        )
    )


QUERIES["winnowing_fingerprints"] = winnowing_fingerprints

ORACLES["winnowing_fingerprints"] = f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(generate_subscripts(tk, 1) AS BIGINT) - 1 AS pos,
               unnest(tk) AS tk
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        )
    ),
    grams AS (
        SELECT doc_id, pos,
               {md5_long_sql("tk || ' ' || t1 || ' ' || t2")} AS h
        FROM (
            SELECT doc_id, pos, tk,
                   LEAD(tk, 1) OVER dw AS t1,
                   LEAD(tk, 2) OVER dw AS t2
            FROM tok
            WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE t2 IS NOT NULL
    ),
    sel AS (
        SELECT DISTINCT doc_id, struct_extract(pick, 'h') AS fp
        FROM (
            SELECT doc_id, pos,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n,
                   MIN({{'h': h, 'pos': pos}}) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW
                                AND {WIN_W - 1} FOLLOWING) AS pick
            FROM grams
        ) WHERE pos <= n - {WIN_W}
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
        FROM sel GROUP BY 1
    ),
    idx AS (
        SELECT s.doc_id, s.fp
        FROM sel s
        JOIN (SELECT fp FROM sel GROUP BY fp
              HAVING COUNT(*) <= {WIN_DF_CAP}) ok ON ok.fp = s.fp
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM idx a JOIN idx b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {WIN_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           pa.n_fp AS fp_a, pb.n_fp AS fp_b,
           {pround_sql(
               'CAST(p.n_shared AS DOUBLE)'
               ' / CAST(pa.n_fp + pb.n_fp - p.n_shared AS DOUBLE)'
           )} AS fp_jaccard
    FROM pairs p
    JOIN per_doc pa ON pa.doc_id = p.doc_a
    JOIN per_doc pb ON pb.doc_id = p.doc_b
"""


def knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification accuracy over the embedding
    corpus — the standard representation-quality probe ("do nearest
    neighbors share labels?") run entirely on the existing ANN
    artifact: each vector's predicted label is the majority vote of
    its :func:`knn_graph` neighbors (ties to the smaller label id),
    scored against its true label per class. A cheap proxy for linear-
    probe quality that needs no training and reuses the band-bounded
    kNN graph (self-matches are excluded by the graph's construction,
    so the eval is leave-one-out by default).

    Integer votes, struct-min argmax, one join against the label
    column; vectors with no band-mates are counted as abstentions,
    not errors (reported separately — they measure LSH recall, not
    representation quality)."""
    g = knn_graph(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        g.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlbl"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "nlbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pred = votes.groupBy("vec_id").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("nlbl").alias("lbl"))
        )["lbl"].alias("pred")
    )
    scored = emb.join(pred, "vec_id", "left")
    return scored.groupBy(F.col("label").alias("label_true")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("pred").isNull(), 1).otherwise(0)).alias(
            "n_abstained"
        ),
        F.sum(
            F.when(F.col("pred") == F.col("label"), 1).otherwise(0)
        ).alias("n_correct"),
        pround(
            F.sum(
                F.when(F.col("pred") == F.col("label"), 1).otherwise(0)
            ).cast("double")
            / F.sum(F.when(F.col("pred").isNotNull(), 1).otherwise(0)).cast(
                "double"
            )
        ).alias("accuracy"),
    )


QUERIES["knn_classifier_eval"] = knn_classifier_eval

ORACLES["knn_classifier_eval"] = f"""
    WITH knn AS (
        SELECT * FROM ({ORACLES["knn_graph"]})
    ),
    votes AS (
        SELECT k.vec_id, e.label AS nlbl, COUNT(*) AS cnt
        FROM knn k
        JOIN embeddings e ON e.vec_id = k.neighbor_id
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT vec_id,
               struct_extract(MIN({{'nc': -cnt, 'lbl': nlbl}}), 'lbl')
                   AS pred
        FROM votes GROUP BY 1
    ),
    scored AS (
        SELECT e.vec_id, e.label, p.pred
        FROM embeddings e LEFT JOIN pred p ON p.vec_id = e.vec_id
    )
    SELECT label AS label_true,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN pred IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_abstained,
           CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           {pround_sql(
               'CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END)'
               ' AS DOUBLE)'
               ' / CAST(SUM(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END)'
               ' AS DOUBLE)'
           )} AS accuracy
    FROM scored GROUP BY 1
"""


LOF_Q = 10_000  # integer grid for reach-distances and lrd values
LOF_TH_X100 = 150  # outlier verdict at LOF > 1.5 (integer compare)


def lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (Breunig et al. 2000) over the kNN graph:
    LOF(a) = mean(lrd(neighbors)) / lrd(a) — the DENSITY-RATIO
    outlier score that catches points that are normal globally but
    sparse relative to their own neighborhood (a global kth-distance
    cutoff cannot). Runs entirely on the existing band-bounded
    :func:`knn_graph` artifact; reported per vector with the
    per-label outlier census.

    Order-independence discipline: cosine distances arrive pround-
    rounded from the graph; reach-distances quantize to the 1e4 grid
    BEFORE the per-node sum (3-element double sums are partial-agg
    order-dependent — the exact trap the quantize-then-sum rule
    exists for), lrd values quantize again before the neighbor-mean,
    and the verdict compares integers (lof_q > 1.5 on the grid)."""
    g = knn_graph(spark, sf_dir)
    dist = (F.lit(1.0) - F.col("cos_sim"))
    # One materialization of the quantized kNN edge list (band-bounded,
    # n·k rows): kdist/reach/lrd each reference their parent twice, so
    # the lazily shared tree re-ran the whole band-join + window kNN
    # build ~8× (50 parquet scans in the plan — guide §7.2 duplicated
    # subtrees). Downstream recomputation over the checkpoint is a few
    # joins on the bounded edge table.
    edges = g.select(
        "vec_id",
        "neighbor_id",
        F.floor(dist * LOF_Q + 0.5).cast("long").alias("d_q"),
    ).localCheckpoint(eager=True)
    kdist = edges.groupBy("vec_id").agg(F.max("d_q").alias("kdist_q"))
    reach = edges.join(
        kdist.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("kdist_q").alias("nbr_kdist_q"),
        ),
        "neighbor_id",
    ).select(
        "vec_id",
        "neighbor_id",
        F.greatest(F.col("d_q"), F.col("nbr_kdist_q")).alias("reach_q"),
    )
    lrd = reach.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("reach_q").alias("sum_reach_q"),
    ).select(
        "vec_id",
        "k",
        # lrd = k / mean(reach) on the grid: lrd_q = k*k*Q / sum_reach
        F.floor(
            (F.col("k") * F.col("k") * LOF_Q).cast("double")
            / F.col("sum_reach_q").cast("double")
            + 0.5
        ).cast("long").alias("lrd_q"),
    )
    nbr_lrd = reach.join(
        lrd.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("lrd_q").alias("nbr_lrd_q"),
        ),
        "neighbor_id",
    ).groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("kn"),
        F.sum("nbr_lrd_q").alias("sum_nbr_lrd_q"),
    )
    scored = lrd.join(nbr_lrd, "vec_id").select(
        "vec_id",
        F.floor(
            (F.col("sum_nbr_lrd_q") * 100).cast("double")
            / (F.col("kn") * F.col("lrd_q")).cast("double")
            + 0.5
        ).cast("long").alias("lof_x100"),
    )
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        scored.join(emb, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(
                F.when(F.col("lof_x100") > LOF_TH_X100, 1).otherwise(0)
            ).alias("n_outliers"),
            F.max("lof_x100").alias("max_lof_x100"),
            pround(
                F.sum("lof_x100").cast("double")
                / (F.count(F.lit(1)) * 100.0)
            ).alias("mean_lof"),
        )
    )


QUERIES["lof_outliers"] = lof_outliers

ORACLES["lof_outliers"] = f"""
    WITH knn AS (
        SELECT * FROM ({ORACLES["knn_graph"]})
    ),
    edges AS (
        SELECT vec_id, neighbor_id,
               CAST(FLOOR((1.0 - cos_sim) * {LOF_Q} + 0.5) AS BIGINT)
                   AS d_q
        FROM knn
    ),
    kdist AS (
        SELECT vec_id, MAX(d_q) AS kdist_q FROM edges GROUP BY 1
    ),
    reach AS (
        SELECT e.vec_id, e.neighbor_id,
               GREATEST(e.d_q, kd.kdist_q) AS reach_q
        FROM edges e
        JOIN kdist kd ON kd.vec_id = e.neighbor_id
    ),
    lrd AS (
        SELECT vec_id, COUNT(*) AS k,
               CAST(FLOOR(CAST(COUNT(*) * COUNT(*) * {LOF_Q} AS DOUBLE)
                    / CAST(SUM(reach_q) AS DOUBLE) + 0.5) AS BIGINT)
                   AS lrd_q
        FROM reach GROUP BY 1
    ),
    nbr_lrd AS (
        SELECT r.vec_id, COUNT(*) AS kn,
               SUM(l.lrd_q) AS sum_nbr_lrd_q
        FROM reach r
        JOIN lrd l ON l.vec_id = r.neighbor_id
        GROUP BY 1
    ),
    scored AS (
        SELECT l.vec_id,
               CAST(FLOOR(CAST(n.sum_nbr_lrd_q * 100 AS DOUBLE)
                    / CAST(n.kn * l.lrd_q AS DOUBLE) + 0.5) AS BIGINT)
                   AS lof_x100
        FROM lrd l JOIN nbr_lrd n ON n.vec_id = l.vec_id
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN s.lof_x100 > {LOF_TH_X100}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(MAX(s.lof_x100) AS BIGINT) AS max_lof_x100,
           {pround_sql(
               'CAST(SUM(s.lof_x100) AS DOUBLE) / (COUNT(*) * 100.0)'
           )} AS mean_lof
    FROM scored s
    JOIN embeddings e ON e.vec_id = s.vec_id
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# ROUGE-2 verification of LSH near-dup candidates.
# --------------------------------------------------------------------------


def rouge2_candidate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 precision/recall/F1 for every MinHash-LSH candidate pair
    — the clipped-bigram overlap metric (Lin 2004) that summarization
    and decontamination audits report where plain Jaccard hides
    near-verbatim REUSE (Jaccard over distinct shingles ignores how
    MUCH of each doc the shared material covers; ROUGE-2's clipped
    multiset counts measure exactly that). The pair list is the SAME
    banded candidate stage the dedup operator uses, so this is the
    drop-in "how similar are my candidates really" verification
    report.

    Exactness: per-pair overlap = Σ over shared bigram types of
    min(count_a, count_b) — pure integers; P = ov/n_b, R = ov/n_a,
    F1 = 2·ov/(n_a+n_b) quantized once each (guarded for bigram-less
    docs). Zero-overlap candidates stay in the report (banding can
    pair docs with no shared bigram at all — that IS the finding).

    Shape: candidate pairs are LSH-band-bounded (never all-pairs);
    the overlap join expands each pair by its docs' bigram lists —
    the standard candidate-verification cost, linear in candidate
    volume × doc length. Reuses ``_band_pairs``/``_minhash_sig_wide``
    (one signature row per doc)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(_ws_tokens(F.col("text"))).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    # bg feeds both sides of the clipped-overlap join (different join
    # keys) plus the per-doc totals; cand (the full shingle→signature→
    # band-join pipeline) feeds the overlap join AND the final left
    # join — all divergent exchanges, no runtime reuse possible.
    # Materialize each once (guide §7.2/§5).
    bg = (
        tok.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("doc_id", "prev", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tb = bg.groupBy("doc_id").agg(F.sum("c").alias("n_bg"))
    cand = _band_pairs(_minhash_sig_wide(spark, sf_dir)).localCheckpoint(eager=True)
    ba, bb = bg.alias("ba"), bg.alias("bb")
    ov = (
        cand.join(ba, F.col("doc_a") == F.col("ba.doc_id"))
        .join(
            bb,
            (F.col("doc_b") == F.col("bb.doc_id"))
            & (F.col("ba.prev") == F.col("bb.prev"))
            & (F.col("ba.token") == F.col("bb.token")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least(F.col("ba.c"), F.col("bb.c"))).alias("n_overlap"))
    )
    ta, tb2 = tb.alias("ta"), tb.alias("tb")
    out = (
        cand.join(ov, ["doc_a", "doc_b"], "left")
        .join(ta, F.col("doc_a") == F.col("ta.doc_id"), "left")
        .join(tb2, F.col("doc_b") == F.col("tb.doc_id"), "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("ta.n_bg"), F.lit(0)).alias("n_bg_a"),
            F.coalesce(F.col("tb.n_bg"), F.lit(0)).alias("n_bg_b"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        )
    )
    ovc = F.col("n_overlap").cast("double")
    return out.select(
        "doc_a",
        "doc_b",
        "n_bg_a",
        "n_bg_b",
        "n_overlap",
        F.when(
            F.col("n_bg_b") > 0, pround(ovc / F.col("n_bg_b").cast("double"))
        ).alias("rouge2_p"),
        F.when(
            F.col("n_bg_a") > 0, pround(ovc / F.col("n_bg_a").cast("double"))
        ).alias("rouge2_r"),
        F.when(
            F.col("n_bg_a") + F.col("n_bg_b") > 0,
            pround(
                2.0 * ovc
                / (F.col("n_bg_a") + F.col("n_bg_b")).cast("double")
            ),
        ).alias("rouge2_f1"),
    )


QUERIES["rouge2_candidate_report"] = rouge2_candidate_report

ORACLES["rouge2_candidate_report"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            {_CAND_UNION_SQL}
        )
    ),
    tok AS (
        SELECT doc_id,
               CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
               unnest(tk) AS token
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        )
    ),
    bg AS (
        SELECT doc_id, prev, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id, token,
                   LAG(token) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS prev
            FROM tok
        ) WHERE prev IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    tb AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg FROM bg GROUP BY 1),
    ov AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS n_overlap
        FROM cand c
        JOIN bg a ON a.doc_id = c.doc_a
        JOIN bg b ON b.doc_id = c.doc_b
               AND b.prev = a.prev AND b.token = a.token
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           COALESCE(ta.n_bg, 0) AS n_bg_a,
           COALESCE(tb2.n_bg, 0) AS n_bg_b,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           CASE WHEN COALESCE(tb2.n_bg, 0) > 0 THEN
               {pround_sql(
                   'CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)'
                   ' / CAST(tb2.n_bg AS DOUBLE)'
               )} END AS rouge2_p,
           CASE WHEN COALESCE(ta.n_bg, 0) > 0 THEN
               {pround_sql(
                   'CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)'
                   ' / CAST(ta.n_bg AS DOUBLE)'
               )} END AS rouge2_r,
           CASE WHEN COALESCE(ta.n_bg, 0) + COALESCE(tb2.n_bg, 0) > 0 THEN
               {pround_sql(
                   '2.0 * CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)'
                   ' / CAST(COALESCE(ta.n_bg, 0) + COALESCE(tb2.n_bg, 0)'
                   '        AS DOUBLE)'
               )} END AS rouge2_f1
    FROM cand c
    LEFT JOIN ov o ON o.doc_a = c.doc_a AND o.doc_b = c.doc_b
    LEFT JOIN tb ta ON ta.doc_id = c.doc_a
    LEFT JOIN tb tb2 ON tb2.doc_id = c.doc_b
"""


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the MinHash-LSH near-dup candidate
    graph (Newman 2002): the Pearson correlation of endpoint degrees
    over edges — positive means near-dup clusters are degree-stratified
    hubs-with-hubs (template families), negative means hub-and-spoke
    (one canonical doc with many one-off variants). The one-number
    structure probe next to triangle_count / kcore_decompose that
    tells a dedup pipeline WHICH cluster shape dominates before it
    picks a canonical-selection rule.

    Exactness: degrees are integer counts over the banded edge set;
    the correlation runs on the directed edge list (each undirected
    edge contributes both orientations — the standard undirected
    convention) with exact integer Gauss moments in
    DECIMAL(38,0)/HUGEINT (Σd·d' overflows BIGINT on hub degrees past
    ~1e6) and ONE final double formula (the ols_trend discipline).

    Shape: the shared band-bounded pair stage, one keyed degree
    aggregate, two joins edge→degree, one global moment aggregate."""
    # cand feeds both union orientations, and everything downstream
    # (deg, ed, n_nodes) re-references the edge view — lazily shared,
    # the shingle→signature→band-join pipeline ran ~6× in one plan
    # (32 parquet scans measured — guide §7.2/§5). Materialize once.
    cand = _band_pairs(_minhash_sig_wide(spark, sf_dir)).localCheckpoint(eager=True)
    edges = cand.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("eu"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("ev"), F.col("d").alias("dv"))
    ed = edges.join(du, F.col("u") == F.col("eu")).join(
        dv, F.col("v") == F.col("ev")
    )

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    g = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("du").alias("sx"),
        F.sum("dv").alias("sy"),
        F.sum(dec(F.col("du")) * dec(F.col("dv"))).alias("sxy"),
        F.sum(dec(F.col("du")) * dec(F.col("du"))).alias("sxx"),
        F.sum(dec(F.col("dv")) * dec(F.col("dv"))).alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    cov = (dec(m) * F.col("sxy") - dec(sx) * dec(sy)).cast("double")
    vx = (dec(m) * F.col("sxx") - dec(sx) * dec(sx)).cast("double")
    vy = (dec(m) * F.col("syy") - dec(sy) * dec(sy)).cast("double")
    return (
        g.join(F.broadcast(n_nodes))
        .select(
            "n_nodes",
            (m / 2).cast("long").alias("n_edges"),
            F.when(
                (vx > 0) & (vy > 0),
                pround(cov / F.sqrt(vx) / F.sqrt(vy)),
            ).alias("assortativity"),
        )
    )


QUERIES["graph_degree_assortativity"] = graph_degree_assortativity

ORACLES["graph_degree_assortativity"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            {_CAND_UNION_SQL}
        )
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM cand
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    ed AS (
        SELECT a.d AS du, b.d AS dv
        FROM edges e
        JOIN deg a ON a.u = e.u
        JOIN deg b ON b.u = e.v
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(du) AS BIGINT) AS sx,
               CAST(SUM(dv) AS BIGINT) AS sy,
               SUM(CAST(du AS HUGEINT) * dv) AS sxy,
               SUM(CAST(du AS HUGEINT) * du) AS sxx,
               SUM(CAST(dv AS HUGEINT) * dv) AS syy
        FROM ed
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT n_nodes,
           CAST(m / 2 AS BIGINT) AS n_edges,
           CASE WHEN CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                          AS DOUBLE) > 0
                 AND CAST(CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                          AS DOUBLE) > 0
           THEN
               {pround_sql(
                   'CAST(CAST(m AS HUGEINT) * sxy'
                   '     - CAST(sx AS HUGEINT) * sy AS DOUBLE)'
                   ' / SQRT(CAST(CAST(m AS HUGEINT) * sxx'
                   '             - CAST(sx AS HUGEINT) * sx AS DOUBLE))'
                   ' / SQRT(CAST(CAST(m AS HUGEINT) * syy'
                   '             - CAST(sy AS HUGEINT) * sy AS DOUBLE))'
               )} END AS assortativity
    FROM g CROSS JOIN nn
"""


DEDUP_SWEEP_T100 = (30, 40, 50, 60, 70, 80, 90)  # Jaccard·100 curve


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold SENSITIVITY curve for near-dup removal — the
    tuning report run before committing a dedup threshold to a 100 TB
    pass: for each candidate threshold, how many exact-Jaccard pairs
    qualify, how many documents the larger-id-loses rule would drop,
    and the resulting removal rate. ``dedup_ngram_jaccard`` answers
    "pairs at THE threshold"; this answers "how sensitive is the
    corpus to where we put it" (a steep curve means the threshold is
    doing real work; a flat one means any value lands the same
    corpus).

    Exactness: the inverted-index self-join gives exact integer
    intersection counts; every threshold verdict cross-multiplies
    integers (100·n_inter ≥ t·(n_a+n_b−n_inter)) — no float until the
    final removal-rate division. The curve rides a 7-row literal
    cross join over the pair table (the k_anonymity_audit shape).

    Shape: one shingle explode, one inverted-index self-equi-join
    (the df_cap contract documented on dedup_ngram_jaccard bounds the
    pair fan-out in production), two size joins, one 7-row literal
    cross join + keyed aggregate."""
    # shingles feed sizes, both self-join sides and the distinct-doc
    # count action below — materialize once (guide §7.2/§5).
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = inter.join(sa, F.col("doc_a") == F.col("sa.doc_id")).join(
        sb, F.col("doc_b") == F.col("sb.doc_id")
    ).select(
        "doc_a",
        "doc_b",
        "n_inter",
        (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")).alias("u"),
    )
    ts = spark.createDataFrame(
        [(t,) for t in DEDUP_SWEEP_T100], "t100 int"
    )
    n_docs = sh.select("doc_id").distinct().count()
    hit = F.col("n_inter") * 100 >= F.col("t100") * F.col("u")
    return (
        pairs.crossJoin(F.broadcast(ts))
        .groupBy("t100")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("doc_b")))
            .cast("long")
            .alias("n_docs_removed"),
        )
        .select(
            "t100",
            "n_pairs",
            "n_docs_removed",
            pround(
                F.col("n_docs_removed").cast("double") / float(n_docs)
            ).alias("removal_rate"),
        )
    )


QUERIES["dedup_threshold_sweep"] = dedup_threshold_sweep

_SWEEP_T_SQL = " UNION ALL ".join(
    f"SELECT {t} AS t100" for t in DEDUP_SWEEP_T100
)

ORACLES["dedup_threshold_sweep"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b, i.n_inter,
               sa.n_sh + sb.n_sh - i.n_inter AS u
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    ts AS ({_SWEEP_T_SQL}),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM sh)
    SELECT ts.t100,
           CAST(SUM(CASE WHEN p.n_inter * 100 >= ts.t100 * p.u
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN p.n_inter * 100 >= ts.t100 * p.u
                                    THEN p.doc_b END) AS BIGINT)
               AS n_docs_removed,
           {pround_sql(
               'CAST(COUNT(DISTINCT CASE WHEN p.n_inter * 100'
               ' >= ts.t100 * p.u THEN p.doc_b END) AS DOUBLE)'
               ' / CAST(MAX(nd.n_docs) AS DOUBLE)'
           )} AS removal_rate
    FROM pairs p CROSS JOIN ts CROSS JOIN nd
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# Duplicate-cluster representative pick (round 9).
# --------------------------------------------------------------------------


def cluster_representative_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which copy do we KEEP? Per near-dup cluster (the
    ``dedup_clusters`` connected components), the kept representative
    under the keep-the-longest policy (max ``n_chars``, doc_id
    ascending tiebreak — the RefinedWeb-style choice) plus what the
    drop costs: document and character counts removed. This is the
    step that turns a cluster map into an actual training-corpus
    manifest; ``priority_dedup`` ranks by source priority, this ranks
    by content length.

    Exactness: the pick is an integer argmax (rank over exact
    integers with a total tiebreak), counts/sums are exact integers.
    Scale shape: inherits the CC loop's posture (band-bounded LSH
    pairs, iterative min-label over the edge-induced subgraph); the
    pick itself is one window partitioned by cluster over the
    (doc, cluster) table and one keyed aggregate."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(docs, "doc_id")
    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = j.withColumn("rk", F.row_number().over(wc))
    g = ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("rep_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias(
            "rep_n_chars"
        ),
    )
    return g.select(
        "cluster_id",
        "n_docs",
        "rep_doc_id",
        "rep_n_chars",
        (F.col("n_docs") - 1).alias("dropped_docs"),
        (F.col("total_chars") - F.col("rep_n_chars")).alias("dropped_chars"),
    )


QUERIES["cluster_representative_pick"] = cluster_representative_pick

ORACLES["cluster_representative_pick"] = f"""
    WITH RECURSIVE sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        {_CAND_UNION_SQL}
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM cand
        WHERE (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
            >= {MINHASH_SIM_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(comp) AS cluster_id
        FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS rep_doc_id,
           MAX(CASE WHEN rk = 1 THEN n_chars END) AS rep_n_chars,
           CAST(COUNT(*) - 1 AS BIGINT) AS dropped_docs,
           CAST(SUM(n_chars) - MAX(CASE WHEN rk = 1 THEN n_chars END)
                AS BIGINT) AS dropped_chars
    FROM ranked GROUP BY 1
"""


# --------------------------------------------------------------------------
# Over-merge audit of the near-dup clustering (round 9).
# --------------------------------------------------------------------------


def dedup_overmerge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each cluster is TRANSITIVE CLOSURE rather than
    direct evidence? Connected components merge a∼b∼c into one
    cluster even when (a,c) was never an LSH match — at aggressive
    thresholds chains over-merge and the representative silently
    replaces documents it never matched. Per cluster size, this
    reports direct LSH pairs vs implied pairs C(n,2) and the
    over-merge share — the audit read next to
    ``dedup_threshold_sweep`` before committing a threshold at
    100 TB (chaining effects only show up in CLUSTER structure, not
    in the pair list the sweep scores).

    Exactness: pair counts and C(n,2) are exact integers; the share
    is one division. Scale shape: inherits the CC posture; the audit
    itself is one join of the (bounded) pair list onto the cluster
    map, then two keyed aggregates over |clusters| rows."""
    # Share ONE materialized pair list between the direct-evidence leg
    # and the CC loop (the dedup_cluster_modularity refactor — the old
    # plan re-ran the full LSH pipeline for each leg).
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    clusters = dedup_clusters(spark, sf_dir, pairs=pairs).select(
        "doc_id", "cluster_id"
    )
    edges = (
        pairs.join(
            clusters.select(
                F.col("doc_id").alias("doc_a"),
                F.col("cluster_id").alias("ca"),
            ),
            "doc_a",
        )
        .groupBy("ca")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_cluster = sizes.filter(F.col("n_docs") >= 2).join(
        edges, sizes.cluster_id == edges.ca, "left"
    )
    implied = F.expr("(n_docs * (n_docs - 1)) div 2")
    g = per_cluster.select(
        "n_docs",
        implied.alias("implied"),
        F.coalesce("n_edges", F.lit(0)).alias("direct"),
    ).groupBy(F.col("n_docs").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("direct").alias("direct_pairs"),
        F.sum("implied").alias("implied_pairs"),
    )
    return g.select(
        "cluster_size",
        "n_clusters",
        "direct_pairs",
        "implied_pairs",
        pround(
            1.0
            - F.col("direct_pairs").cast("double")
            / F.col("implied_pairs").cast("double")
        ).alias("overmerge_share"),
    )


QUERIES["dedup_overmerge_audit"] = dedup_overmerge_audit

ORACLES["dedup_overmerge_audit"] = f"""
    WITH RECURSIVE sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        {_CAND_UNION_SQL}
    ),
    pairs AS (
        -- DISTINCT: cand emits a pair once PER MATCHING BAND, fine for
        -- reachability but wrong for counting direct evidence
        SELECT DISTINCT doc_a, doc_b FROM cand
        WHERE (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
            >= {MINHASH_SIM_THRESHOLD}
    ),
    bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN bidir e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(comp) AS cluster_id
        FROM reach GROUP BY node
    ),
    edges AS (
        SELECT c.cluster_id AS ca, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM pairs p JOIN clusters c ON c.doc_id = p.doc_a
        GROUP BY 1
    ),
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM clusters GROUP BY 1
        HAVING COUNT(*) >= 2
    ),
    per AS (
        SELECT s.n_docs,
               CAST(s.n_docs * (s.n_docs - 1) // 2 AS BIGINT) AS implied,
               COALESCE(e.n_edges, 0) AS direct
        FROM sizes s LEFT JOIN edges e ON e.ca = s.cluster_id
    )
    SELECT n_docs AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(direct) AS BIGINT) AS direct_pairs,
           CAST(SUM(implied) AS BIGINT) AS implied_pairs,
           {pround_sql(
               '1.0 - CAST(SUM(direct) AS DOUBLE)'
               ' / CAST(SUM(implied) AS DOUBLE)'
           )} AS overmerge_share
    FROM per GROUP BY 1
"""


# --------------------------------------------------------------------------
# Reciprocal best-match pairs (round 9).
# --------------------------------------------------------------------------


def rbm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best matches over the embedding corpus: pairs where
    each vector is the OTHER's top-1 neighbor in the ``knn_graph`` —
    the high-precision alignment filter (bitext mining's standard
    margin trick degenerates to this at k=1): a one-sided best match
    can be a hub artifact, a mutual one almost never is.

    Exactness: inherits ``knn_graph``'s deterministic ranking (exact
    cosine, neighbor-id tiebreak); the mutual join compares integers
    and the reported cosine is the same pround'd value both
    directions (dot is symmetric). Scale shape: the kNN graph is
    band-bounded (SRP buckets, never O(n²)); the mutuality check is
    one self-equi-join of the rank-1 edge list on the swapped key
    pair."""
    best = knn_graph(spark, sf_dir).filter(F.col("rank") == 1).select(
        F.col("vec_id").alias("src"),
        F.col("neighbor_id").alias("nbr"),
        "cos_sim",
    )
    a, b = best.alias("a"), best.alias("b")
    return (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.src"))
            & (F.col("b.nbr") == F.col("a.src")),
        )
        .filter(F.col("a.src") < F.col("a.nbr"))
        .select(
            F.col("a.src").alias("vec_a"),
            F.col("a.nbr").alias("vec_b"),
            F.col("a.cos_sim").alias("cos_sim"),
        )
    )


QUERIES["rbm_pairs"] = rbm_pairs

ORACLES["rbm_pairs"] = f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
               {_SRP_SIG_SQL} AS s
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, embedding, nrm,
               substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
        FROM sig
    ),
    cand AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band1 = b.band1 AND a.vec_id <> b.vec_id
    ),
    scored AS (
        SELECT c.src, c.nbr,
               {dot_sql('sa.embedding', 'sb.embedding')} / (sa.nrm * sb.nrm)
                   AS cs
        FROM cand c
        JOIN bands sa ON c.src = sa.vec_id
        JOIN bands sb ON c.nbr = sb.vec_id
    ),
    best AS (
        SELECT src, nbr,
               (FLOOR(CAST(cs AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
                   AS cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY src ORDER BY cs DESC, nbr ASC) AS rank
            FROM scored
        ) WHERE rank = 1
    )
    SELECT a.src AS vec_a, a.nbr AS vec_b, a.cos_sim
    FROM best a JOIN best b ON a.nbr = b.src AND b.nbr = a.src
    WHERE a.src < a.nbr
"""


# --------------------------------------------------------------------------
# Embedding cosine-threshold sweep (round 9).
# --------------------------------------------------------------------------

EMB_SWEEP_THRESH_MILLI = (900, 925, 950, 975, 990)


def embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dedup_threshold_sweep`` question asked of the EMBEDDING
    near-dup path: for a grid of cosine thresholds, how many candidate
    pairs survive and how much of the corpus is dup-involved — the
    sensitivity curve read before committing a semantic-dedup
    threshold at 100 TB (a threshold chosen on one corpus slice
    routinely over-fires on another; the curve shows the cliff).

    Exactness: candidates come from the SAME SRP band machinery as
    ``knn_graph``/``embedding_srp_lsh`` (bounded buckets, never
    O(n²)); the compared cosine is the pround'd 1e-4-grid value in
    BOTH engines, so a threshold literal cannot split engines at a
    boundary ulp. Scale shape: band-bounded pair join, |grid| literal
    explode over the pair list, keyed counts; distinct-vector counts
    aggregate the pair endpoints."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    sig = _srp_sig()
    bands = emb.select(
        "vec_id",
        F.posexplode(
            F.array(F.substring(sig, 1, 8), F.substring(sig, 9, 8))
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .dropDuplicates(["va", "vb"])
    )
    vec = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    sa, sb = vec.alias("sa"), vec.alias("sb")
    cos = dot(F.col("sa.embedding"), F.col("sb.embedding")) / (
        F.col("sa.nrm") * F.col("sb.nrm")
    )
    scored = (
        cand.join(sa, F.col("va") == F.col("sa.vec_id"))
        .join(sb, F.col("vb") == F.col("sb.vec_id"))
        .select("va", "vb", pround(cos).alias("cs"))
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in EMB_SWEEP_THRESH_MILLI])
    ).alias("thr_milli")
    sweep = scored.select("va", "vb", "cs", thr).filter(
        F.col("cs") >= F.col("thr_milli").cast("double") / 1000.0
    )
    pairs_per = sweep.groupBy("thr_milli").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    ends = sweep.select("thr_milli", F.col("va").alias("v")).unionByName(
        sweep.select("thr_milli", F.col("vb").alias("v"))
    )
    dupped = ends.groupBy("thr_milli").agg(
        F.countDistinct("v").alias("n_dup_vectors")
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_total"))
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in EMB_SWEEP_THRESH_MILLI])
        ).alias("thr_milli")
    )
    g = (
        grid.join(pairs_per, "thr_milli", "left")
        .join(dupped, "thr_milli", "left")
        .join(F.broadcast(total))
    )
    return g.select(
        F.col("thr_milli").cast("long").alias("thr_milli"),
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.coalesce("n_dup_vectors", F.lit(0)).alias("n_dup_vectors"),
        pround(
            F.coalesce("n_dup_vectors", F.lit(0)).cast("double")
            / F.col("n_total").cast("double")
        ).alias("dup_vector_share"),
    )


QUERIES["embedding_threshold_sweep"] = embedding_threshold_sweep

_EMB_SWEEP_GRID_SQL = ", ".join(str(t) for t in EMB_SWEEP_THRESH_MILLI)

ORACLES["embedding_threshold_sweep"] = f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
               {_SRP_SIG_SQL} AS s
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, embedding, nrm,
               substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
        FROM sig
    ),
    cand AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM bands a JOIN bands b
          ON a.band0 = b.band0 AND a.vec_id < b.vec_id
        UNION
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM bands a JOIN bands b
          ON a.band1 = b.band1 AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT c.va, c.vb,
               (FLOOR(CAST({dot_sql('sa.embedding', 'sb.embedding')}
                    / (sa.nrm * sb.nrm) AS DOUBLE) * 10000.0 + 0.5)
                    / 10000.0) AS cs
        FROM cand c
        JOIN bands sa ON c.va = sa.vec_id
        JOIN bands sb ON c.vb = sb.vec_id
    ),
    sweep AS (
        SELECT s.va, s.vb, g.thr_milli
        FROM scored s
        CROSS JOIN (SELECT UNNEST([{_EMB_SWEEP_GRID_SQL}]) AS thr_milli) g
        WHERE s.cs >= CAST(g.thr_milli AS DOUBLE) / 1000.0
    ),
    pairs_per AS (
        SELECT thr_milli, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM sweep GROUP BY 1
    ),
    dupped AS (
        SELECT thr_milli, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_dup_vectors
        FROM (
            SELECT thr_milli, va AS v FROM sweep
            UNION ALL
            SELECT thr_milli, vb FROM sweep
        ) GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM embeddings)
    SELECT CAST(g.thr_milli AS BIGINT) AS thr_milli,
           COALESCE(p.n_pairs, 0) AS n_pairs,
           COALESCE(d.n_dup_vectors, 0) AS n_dup_vectors,
           {pround_sql(
               'CAST(COALESCE(d.n_dup_vectors, 0) AS DOUBLE)'
               ' / CAST(t.n_total AS DOUBLE)'
           )} AS dup_vector_share
    FROM (SELECT UNNEST([{_EMB_SWEEP_GRID_SQL}]) AS thr_milli) g
    LEFT JOIN pairs_per p USING (thr_milli)
    LEFT JOIN dupped d USING (thr_milli)
    CROSS JOIN tot t
"""


def cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH SOURCES COPY FROM WHICH: the MinHash-LSH near-dup pairs
    rolled up to an unordered source×source matrix — candidate pairs,
    verified duplicates (signature similarity ≥ the shared threshold),
    and the dup share per source pair. `source_ngram_overlap` answers
    this at n-gram granularity; this is the DOCUMENT-pair view a
    dedup run actually acts on, and the diagonal (src×src) exposes
    self-copying feeds. The matrix is the input to "drop source B, it
    is 80% source A" decisions before a 100 TB crawl merge.

    Reuses the shared signature/band machinery verbatim
    (`_minhash_sig_wide` → `_band_pairs` — slim band join, ReuseExchange
    on the verify joins, nothing all-pairs); two doc_id-keyed joins
    attach sources, one keyed aggregate over the bounded source grid.
    Counts are integers; the share is one pround'd division."""
    # sig is deliberately LAZY (see dedup_minhash_lsh): the band leg
    # and the verify broadcasts duplicate the per-doc minhash
    # aggregate, but AQE reuses the scan exchange and the verify
    # broadcast pair. The r11 localCheckpoint leaked a
    # session-lifetime RDD per invocation; r12 removed it
    # (A/B: +0.12 s here — the no-leak invariant wins).
    sig = (
        _minhash_sig_wide(spark, sf_dir)
        .select("doc_id", *[F.col(f"m{i}") for i in range(N_MINHASH)])
    )
    pairs = _band_pairs(sig)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    sim = _minhash_eq_sim()
    verified = (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (pround(sim) >= MINHASH_SIM_THRESHOLD).alias("is_dup"),
        )
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    d1 = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    d2 = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    j = verified.join(d1, "doc_a").join(d2, "doc_b")
    g = (
        j.groupBy(
            F.least(F.col("src_a"), F.col("src_b")).alias("source_a"),
            F.greatest(F.col("src_a"), F.col("src_b")).alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
            F.sum(F.col("is_dup").cast("int")).cast("bigint").alias(
                "n_dup_pairs"
            ),
        )
    )
    return g.select(
        "source_a",
        "source_b",
        "n_candidate_pairs",
        "n_dup_pairs",
        pround(
            F.col("n_dup_pairs").cast("double")
            / F.col("n_candidate_pairs").cast("double")
        ).alias("dup_share"),
    )


QUERIES["cross_source_neardup_matrix"] = cross_source_neardup_matrix

ORACLES["cross_source_neardup_matrix"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        {_CAND_UNION_SQL}
    ),
    verified AS (
        SELECT doc_a, doc_b,
               ((FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
                >= {MINHASH_SIM_THRESHOLD}) AS is_dup
        FROM cand
    ),
    j AS (
        SELECT LEAST(d1.source, d2.source) AS source_a,
               GREATEST(d1.source, d2.source) AS source_b,
               v.is_dup
        FROM verified v
        JOIN documents d1 ON v.doc_a = d1.doc_id
        JOIN documents d2 ON v.doc_b = d2.doc_id
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_pairs,
           (FLOOR(CAST((SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0
                        / COUNT(*)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
               AS dup_share
    FROM j
    GROUP BY 1, 2
"""


def dedup_survivor_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does the keep-the-longest policy DO to the corpus mix?
    Per source: kept vs dropped document/character counts and the
    mean quality score of each side — the survivor-bias audit a
    dedup PR ships with, because "keep the longest" silently favors
    whichever feed pads its documents, and a quality gap between
    kept and dropped on one source is the smoking gun. Complements
    ``cluster_representative_pick`` (which picks) and
    ``source_cap_sweep`` (which caps): this one measures the bias.

    Exactness: kept = rank-1 under the exact (n_chars DESC, doc_id)
    order per ``dedup_clusters`` component (singletons trivially
    kept); quality enters on the 1e-4 integer grid
    ``floor(q·10⁴ + 0.5)`` (the pround lattice, so sums are exact
    BIGINTs) and each mean is ONE double division, pround'd.

    Scale shape: inherits the CC posture (band-bounded LSH pairs,
    min-label loop); the audit adds one cluster-keyed window and one
    source-keyed aggregate."""
    from smart_city_data_pipeline_spark.functions import text as TX

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.floor(TX.quality_score(F.col("text")) * 10000 + 0.5)
        .cast("long")
        .alias("q4"),
    )
    j = clusters.join(docs, "doc_id")
    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    flagged = j.withColumn("kept", F.row_number().over(wc) == 1)
    g = flagged.groupBy("source").agg(
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~F.col("kept")).cast("int")).cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.sum(F.when(~F.col("kept"), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("dropped_chars"),
        F.sum(F.when(F.col("kept"), F.col("q4")).otherwise(0)).alias("qk"),
        F.sum(F.when(~F.col("kept"), F.col("q4")).otherwise(0)).alias("qd"),
    )
    mean_kept = F.when(
        F.col("n_kept") > 0,
        F.col("qk").cast("double") / F.col("n_kept").cast("double") / 10000.0,
    )
    mean_dropped = F.when(
        F.col("n_dropped") > 0,
        F.col("qd").cast("double")
        / F.col("n_dropped").cast("double")
        / 10000.0,
    )
    return g.select(
        "source",
        "n_kept",
        "n_dropped",
        "kept_chars",
        "dropped_chars",
        pround(mean_kept).alias("mean_quality_kept"),
        pround(mean_dropped).alias("mean_quality_dropped"),
    )


QUERIES["dedup_survivor_bias"] = dedup_survivor_bias

from smart_city_data_pipeline_spark.functions import text as _TX_sb  # noqa: E402

ORACLES["dedup_survivor_bias"] = f"""
    WITH RECURSIVE sh AS ({_HASHED_SHINGLES_SQL}),
    sigm AS (
        SELECT doc_id,
           {_SIG_COLS_SQL}
        FROM sh GROUP BY 1
    ),
    sig AS (
        SELECT *,
           {_BAND_COLS_SQL}
        FROM sigm
    ),
    cand AS (
        {_CAND_UNION_SQL}
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM cand
        WHERE (FLOOR(CAST((raw_sim) AS DOUBLE) * 10000.0 + 0.5) / 10000.0)
            >= {MINHASH_SIM_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(comp) AS cluster_id
        FROM reach GROUP BY node
    ),
    flagged AS (
        SELECT c.cluster_id, c.doc_id, d.source, d.n_chars,
               CAST(FLOOR(({_TX_sb.quality_score_sql('d.text')}) * 10000
                          + 0.5) AS BIGINT) AS q4,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id ASC) = 1 AS kept
        FROM clusters c JOIN documents d USING (doc_id)
    ),
    g AS (
        SELECT source,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
               CAST(SUM(CASE WHEN kept THEN 0 ELSE n_chars END) AS BIGINT) AS dropped_chars,
               CAST(SUM(CASE WHEN kept THEN q4 ELSE 0 END) AS BIGINT) AS qk,
               CAST(SUM(CASE WHEN kept THEN 0 ELSE q4 END) AS BIGINT) AS qd
        FROM flagged GROUP BY 1
    )
    SELECT source, n_kept, n_dropped, kept_chars, dropped_chars,
           CASE WHEN n_kept > 0 THEN {pround_sql(
               'CAST(qk AS DOUBLE) / CAST(n_kept AS DOUBLE) / 10000.0'
           )} END AS mean_quality_kept,
           CASE WHEN n_dropped > 0 THEN {pround_sql(
               'CAST(qd AS DOUBLE) / CAST(n_dropped AS DOUBLE) / 10000.0'
           )} END AS mean_quality_dropped
    FROM g
"""


NOVELTY_BATCH_DOCS = 100  # synthetic ingest batch size (doc_id order)


def ingest_novelty_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the crawl still finding NEW content? Per ingest batch
    (doc_id DIV 100 — the same synthetic split discipline as
    ``dedup_incremental``'s probe split), the exact-duplicate
    accounting every continuous-crawl dashboard plots: how many
    documents are copies of PRIOR batches, how many duplicate within
    their own batch, how many are genuinely novel, and the cumulative
    distinct-content count. A flattening novel-share curve is the
    "stop re-crawling this feed" signal; the same query over real
    ingest dates is the production form.

    Exactness: content identity is md5(text); a doc duplicates a
    prior batch iff its hash's FIRST occurrence (min batch, then min
    doc_id) sits in an earlier batch; within-batch dups are the
    non-first copies inside the first batch. All counts integers; the
    novel share is one pround'd division; the cumulative sum runs over
    the BATCH-indexed rollup (bounded by corpus/100), not documents.

    Shape: one hash aggregate (map-side combinable), one doc→first
    join keyed on the hash, one keyed batch aggregate, one bounded
    prefix window."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"doc_id DIV {NOVELTY_BATCH_DOCS}").alias("batch_id"),
        F.md5(F.col("text")).alias("h"),
    )
    first = docs.groupBy("h").agg(
        F.min(F.struct("batch_id", "doc_id")).alias("f")
    ).select("h", F.col("f.batch_id").alias("first_batch"),
             F.col("f.doc_id").alias("first_doc"))
    j = docs.join(first, "h")
    per = j.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            (F.col("first_batch") < F.col("batch_id")).cast("int")
        ).cast("bigint").alias("n_dup_prior"),
        F.sum(
            (
                (F.col("first_batch") == F.col("batch_id"))
                & (F.col("first_doc") != F.col("doc_id"))
            ).cast("int")
        ).cast("bigint").alias("n_dup_within"),
        F.sum(
            (F.col("first_doc") == F.col("doc_id")).cast("int")
        ).cast("bigint").alias("n_novel"),
    )
    # two-level prefix (the heaps_law_fit discipline): the batch table
    # is corpus/100-proportional, so the inclusive cumulative runs as a
    # batch-keyed window inside 4096-batch superbuckets plus an
    # exclusive prefix over the superbucket rollup — the only
    # unpartitioned window input is |batches|/4096 rows.
    per = per.withColumn("sb", F.expr("batch_id DIV 4096"))
    supers = per.groupBy("sb").agg(F.sum("n_novel").alias("sv"))
    ws = Window.orderBy("sb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = supers.select(
        "sb", F.coalesce(F.sum("sv").over(ws), F.lit(0)).alias("off")
    )
    wd = (
        Window.partitionBy("sb")
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per.join(offsets, "sb").select(
        "batch_id",
        "n_docs",
        "n_dup_prior",
        "n_dup_within",
        "n_novel",
        (F.col("off") + F.sum("n_novel").over(wd))
        .cast("long")
        .alias("cum_distinct"),
        pround(
            F.col("n_novel").cast("double") / F.col("n_docs").cast("double")
        ).alias("novel_share"),
    )


QUERIES["ingest_novelty_timeline"] = ingest_novelty_timeline

ORACLES["ingest_novelty_timeline"] = f"""
    WITH docs AS (
        SELECT doc_id, doc_id // {NOVELTY_BATCH_DOCS} AS batch_id,
               md5(text) AS h
        FROM documents
    ),
    first AS (
        -- batch_id = doc_id // {NOVELTY_BATCH_DOCS} is MONOTONE in
        -- doc_id, so MIN(doc_id) identifies the lexicographic-min
        -- (batch_id, doc_id) row exactly — no arithmetic packing (the
        -- old batch*1e10+doc encoding silently assumed doc_id < 1e10).
        SELECT h, MIN(doc_id) AS first_doc,
               MIN(doc_id) // {NOVELTY_BATCH_DOCS} AS first_batch
        FROM docs GROUP BY 1
    ),
    j AS (
        SELECT d.batch_id, d.doc_id, f.first_batch, f.first_doc
        FROM docs d JOIN first f USING (h)
    ),
    per AS (
        SELECT batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN first_batch < batch_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_prior,
               CAST(SUM(CASE WHEN first_batch = batch_id
                              AND first_doc <> doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
               CAST(SUM(CASE WHEN first_doc = doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM j GROUP BY 1
    )
    SELECT batch_id, n_docs, n_dup_prior, n_dup_within, n_novel,
           CAST(SUM(n_novel) OVER (ORDER BY batch_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_distinct,
           {pround_sql(
               'CAST(n_novel AS DOUBLE) / CAST(n_docs AS DOUBLE)'
           )} AS novel_share
    FROM per
"""


# Analytic LSH S-curve as exact rationals: for each (bands b, rows r)
# split of the 16 minhash slots and each similarity-grid point s = k/8,
# capture probability p = 1 - (1 - s^r)^b = p_num / LSH_PLAN_DEN with
# p_num = 8^16 - (8^r - k^r)^b — INTEGER on both engines (8^16 < 2^63),
# precomputed here so neither engine raises floats to the 16th power.
LSH_PLAN_DEN = 8 ** 16
LSH_PLAN_SPLITS = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
LSH_PLAN_ROWS = tuple(
    (b, r, k, LSH_PLAN_DEN - (8 ** r - k ** r) ** b)
    for b, r in LSH_PLAN_SPLITS
    for k in range(9)
)


def lsh_banding_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choose the MinHash band geometry from THIS corpus's measured
    similarity mass, before committing it at 100 TB: for every way to
    split the 16 signature slots into (bands × rows), the expected
    candidate-pair count, the expected recall on true pairs (exact
    Jaccard ≥ the shared 0.5 threshold) and the expected sub-threshold
    false-candidate mass — the analytic 1−(1−s^r)^b S-curve evaluated
    against the exact pair-similarity histogram. `lsh_quality_report`
    measures the ONE configured geometry after the fact; this prices
    all five before.

    Exactness: the histogram bucket is the integer
    ``(8·|A∩B|) DIV |A∪B|`` (no float Jaccard), the S-curve enters as
    precomputed integer rationals over the constant denominator 8^16
    (each bucket priced at its LOWER edge — a conservative recall
    model, documented), so every expectation numerator is an exact
    DECIMAL(38,0) sum; the three reported expectations are single
    divisions. Shape: the shared inverted-index pair join (df-cap
    class), a 9-row histogram, a 45-row literal plan table, one tiny
    keyed aggregate."""
    # sh feeds consumers with DIVERGENT exchanges (per-doc sizes /
    # per-shingle df / the intersection self-join), so runtime
    # exchange reuse cannot share them and the lazy plan re-ran the
    # tokenize->shingle->hash pipeline per consumer (guide §7.2/§5,
    # the dedup_threshold_sweep A/B win). Materialize once.
    sh = _hashed_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    bucket = F.expr(
        "(8 * n_inter) DIV (sa_n + sb_n - n_inter)"
    )
    hist = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            F.col("n_inter"),
            F.col("sa.n_sh").alias("sa_n"),
            F.col("sb.n_sh").alias("sb_n"),
        )
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    plans = spark.createDataFrame(
        list(LSH_PLAN_ROWS), "bands int, rows_per_band int, bucket int, p_num long"
    )
    j = hist.join(F.broadcast(plans), "bucket")

    def dec(c):
        return c.cast("decimal(38,0)")

    above = F.col("bucket") >= 4  # tau = 0.5 on the 1/8 grid
    g = j.groupBy("bands", "rows_per_band").agg(
        F.sum(dec(F.col("n_pairs")) * dec(F.col("p_num"))).alias("cap_all"),
        F.sum(
            F.when(above, dec(F.col("n_pairs")) * dec(F.col("p_num"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("cap_true"),
        F.sum(F.when(above, F.col("n_pairs")).otherwise(0)).alias("n_true"),
        F.sum("n_pairs").alias("n_pairs"),
    )
    den = F.lit(float(LSH_PLAN_DEN))
    return g.select(
        "bands",
        "rows_per_band",
        F.col("n_pairs").cast("long").alias("n_scored_pairs"),
        F.col("n_true").cast("long").alias("n_true_pairs"),
        pround(F.col("cap_all").cast("double") / den).alias(
            "expected_candidates"
        ),
        pround(
            F.when(
                F.col("n_true") > 0,
                F.col("cap_true").cast("double")
                / den
                / F.col("n_true").cast("double"),
            )
        ).alias("expected_recall"),
        pround(
            (F.col("cap_all") - F.col("cap_true")).cast("double") / den
        ).alias("expected_false_candidates"),
    )


QUERIES["lsh_banding_planner"] = lsh_banding_planner

_LSH_PLAN_VALUES = ",\n            ".join(
    f"({b}, {r}, {k}, {p})" for b, r, k, p in LSH_PLAN_ROWS
)

ORACLES["lsh_banding_planner"] = f"""
    WITH sh AS ({_HASHED_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    hist AS (
        SELECT (8 * n_inter) // (sa.n_sh + sb.n_sh - n_inter) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        GROUP BY 1
    ),
    plans(bands, rows_per_band, bucket, p_num) AS (
        VALUES
            {_LSH_PLAN_VALUES}
    ),
    g AS (
        SELECT p.bands, p.rows_per_band,
               SUM(CAST(h.n_pairs AS HUGEINT) * p.p_num) AS cap_all,
               SUM(CASE WHEN h.bucket >= 4
                        THEN CAST(h.n_pairs AS HUGEINT) * p.p_num
                        ELSE 0 END) AS cap_true,
               CAST(SUM(CASE WHEN h.bucket >= 4 THEN h.n_pairs
                             ELSE 0 END) AS BIGINT) AS n_true,
               CAST(SUM(h.n_pairs) AS BIGINT) AS n_pairs
        FROM hist h JOIN plans p USING (bucket)
        GROUP BY 1, 2
    )
    SELECT bands, rows_per_band,
           n_pairs AS n_scored_pairs,
           n_true AS n_true_pairs,
           {pround_sql(
               f'CAST(cap_all AS DOUBLE) / {float(LSH_PLAN_DEN)!r}'
           )} AS expected_candidates,
           CASE WHEN n_true > 0 THEN {pround_sql(
               f'CAST(cap_true AS DOUBLE) / {float(LSH_PLAN_DEN)!r}'
               ' / CAST(n_true AS DOUBLE)'
           )} END AS expected_recall,
           {pround_sql(
               'CAST(cap_all - cap_true AS DOUBLE)'
               f' / {float(LSH_PLAN_DEN)!r}'
           )} AS expected_false_candidates
    FROM g
"""


def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-level duplicated-text coverage per document — the
    companion readout to :func:`exact_substring_spans` (which counts
    duplicated WINDOWS): overlapping duplicated 8-token windows are
    merged into maximal spans and the share of token POSITIONS inside
    any such span is reported. Window counts overstate heavily
    boilerplated docs (a 100-token quote yields 93 overlapping
    windows); position coverage is the number a span-cutting pass
    (Lee et al. 2022's actual remediation) acts on.

    Exactness: the interval union runs as a per-doc sorted-gap sum —
    the first duplicated window contributes SPAN_K positions, each
    subsequent one min(SPAN_K, pos − prev_pos) — one partitioned lag
    window + one keyed sum of exact integers; the share is a single
    pround'd division.

    Shape: the linear occurrence/df aggregates of exact_substring_spans
    (no pair join anywhere), plus ONE doc-partitioned window over only
    the DUPLICATED occurrences — bounded per doc by document length."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    occ = (
        docs.select(
            "doc_id",
            F.posexplode_outer(_kgram_hashes(F.col("text"), SPAN_K)).alias(
                "pos", "hs"
            ),
        )
        .filter(F.col("hs").isNotNull())
    )
    dup_hs = (
        occ.groupBy("hs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("hs")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        occ.join(dup_hs, "hs")
        .select("doc_id", "pos")
        .select("doc_id", "pos", F.lag("pos").over(w).alias("prev"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("prev").isNull(), F.lit(SPAN_K)).otherwise(
                    F.least(F.lit(SPAN_K), F.col("pos") - F.col("prev"))
                )
            )
            .cast("long")
            .alias("n_dup_positions")
        )
    )
    per_doc = docs.select(
        "doc_id",
        F.size(_ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return per_doc.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_positions"), F.lit(0).cast("long")).alias(
            "n_dup_positions"
        ),
        F.when(
            F.col("n_tokens") > 0,
            pround(
                F.coalesce(F.col("n_dup_positions"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ),
        ).alias("coverage_share"),
    )


QUERIES["dup_span_coverage"] = dup_span_coverage

ORACLES["dup_span_coverage"] = f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    occ AS (
        SELECT doc_id, i, {md5_long_sql('g')} AS hs
        FROM (
            SELECT doc_id, i, {_KGRAM_SQL} AS g
            FROM (SELECT doc_id, tk,
                         unnest(range(1, len(tk) - {SPAN_K - 2})) AS i
                  FROM toks)
        )
    ),
    duph AS (
        SELECT hs FROM (
            SELECT hs, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY 1
        ) WHERE df >= 2
    ),
    gaps AS (
        SELECT doc_id, i,
               LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM occ JOIN duph USING (hs)
    ),
    cov AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN prev IS NULL THEN {SPAN_K}
                             ELSE LEAST({SPAN_K}, i - prev) END)
                    AS BIGINT) AS n_dup_positions
        FROM gaps GROUP BY 1
    ),
    per AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT p.doc_id, p.n_tokens,
           CAST(COALESCE(c.n_dup_positions, 0) AS BIGINT)
               AS n_dup_positions,
           CASE WHEN p.n_tokens > 0 THEN
               {pround_sql(
                   'CAST(COALESCE(c.n_dup_positions, 0) AS DOUBLE)'
                   ' / CAST(p.n_tokens AS DOUBLE)'
               )}
           END AS coverage_share
    FROM per p LEFT JOIN cov c USING (doc_id)
"""


def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-cut remediation — the step Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") actually SHIP:
    ``dup_span_coverage`` measures duplicated-position mass; this
    operator emits the remediated text. Every duplicated 8-token window
    (appearing in ≥2 documents) keeps its globally FIRST occurrence —
    minimum (doc_id, pos) — and every other occurrence is excised:
    overlapping cut windows merge naturally because excision is a
    per-token-POSITION union, and the rewritten document is the
    space-join of the surviving tokens in order. Rewritten text is
    certified by an md5 signature (the ``pii_scrub`` convention) next
    to exact before/after token counts.

    Shape (all keyed, all linear — no pair join anywhere): positional
    shingle explode → df-filter (hash aggregate with map-side combine)
    → first-occurrence pick as ONE min-of-struct aggregate per shingle
    (partial aggregation absorbs boilerplate hot shingles; deliberately
    NOT a row_number window, which cannot combine map-side) → cut
    windows fan out ×8 into covered positions (constant fanout) →
    one (doc_id, pos)-keyed anti join drops cut tokens → one per-doc
    aggregate reassembles the text (collect bounded by document
    length, the ``pack_sequences`` discipline).

    Reference parity: the reference has no span-level remediation
    (its dedup story ends at exact-duplicate drops); this is the
    LLM-pipeline extension mandated by the build brief.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", _ws_tokens(F.col("text")).alias("tk"))
    occ = (
        docs.select(
            "doc_id",
            F.posexplode_outer(_kgram_hashes(F.col("text"), SPAN_K)).alias(
                "pos", "hs"
            ),
        )
        .filter(F.col("hs").isNotNull())
        # occ feeds the df-filter, the first-pick aggregate AND the cut
        # join (3 consumers): one materialization instead of three runs
        # of the tokenize + shingle explode (guide §7.2/§5).
        .localCheckpoint(eager=True)
    )
    return _span_rewrite_from(toked, occ)


def _span_rewrite_from(toked: DataFrame, occ: DataFrame) -> DataFrame:
    """Core of :func:`dedup_span_rewrite` over pre-built inputs, so
    composite operators (``dedup_remediation_funnel``) can share ONE
    tokenize + shingle-explode pipeline across sub-operators instead of
    re-running it per leg (guide §7.2). ``toked`` is (doc_id, tk);
    ``occ`` is the non-null positional SPAN_K-gram hash table
    (doc_id, pos, hs) — materialized by the caller, since it has three
    consumers ending in different exchanges."""
    dup_hs = (
        occ.groupBy("hs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("hs")
    )
    # Lexicographic min over (doc_id, pos) packed into ONE number:
    # min(struct(...)) is not hash-aggregable, so the struct spelling
    # planned Sort + SortAggregate over every duplicated-shingle
    # occurrence (the gopher_repetition_full lesson). pos is a 32-bit
    # token index, so doc_id·2³² + pos orders exactly like the struct;
    # DECIMAL(38,0) (hash-aggregable, mutable buffer) keeps the pack
    # exact for ANY doc_id — no 2³¹-doc cap at 100 TB.
    pk = F.expr("CAST(doc_id AS DECIMAL(38,0)) * 4294967296 + pos")
    firsts = (
        occ.join(dup_hs, "hs")
        .groupBy("hs")
        .agg(F.min(pk).alias("keep_pk"))
    )
    cut = (
        occ.join(firsts, "hs")
        .filter(pk != F.col("keep_pk"))
        .select("doc_id", "pos")
    )
    cutpos = cut.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_K - 1))).alias(
            "p"
        ),
    ).distinct()
    tokpos = toked.select("doc_id", F.posexplode("tk").alias("p", "tok"))
    kept = tokpos.join(cutpos, ["doc_id", "p"], "left_anti")
    rew = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("rtext"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_after"),
    )
    per = toked.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
    return per.join(rew, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_tokens_after"), F.lit(0).cast("long")).alias(
            "n_tokens_after"
        ),
        (
            F.col("n_tokens")
            - F.coalesce(F.col("n_tokens_after"), F.lit(0).cast("long"))
        ).alias("n_tokens_cut"),
        F.md5(F.coalesce(F.col("rtext"), F.lit(""))).alias("rewrite_sig"),
    )


QUERIES["dedup_span_rewrite"] = dedup_span_rewrite

ORACLES["dedup_span_rewrite"] = f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    occ AS (
        SELECT doc_id, i, {md5_long_sql('g')} AS hs
        FROM (
            SELECT doc_id, i, {_KGRAM_SQL} AS g
            FROM (SELECT doc_id, tk,
                         unnest(range(1, len(tk) - {SPAN_K - 2})) AS i
                  FROM toks)
        )
    ),
    duph AS (
        SELECT hs FROM (
            SELECT hs, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY 1
        ) WHERE df >= 2
    ),
    cut AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   ROW_NUMBER() OVER (PARTITION BY hs ORDER BY doc_id, i)
                       AS rn
            FROM occ JOIN duph USING (hs)
        ) WHERE rn > 1
    ),
    cutpos AS (
        SELECT DISTINCT doc_id, unnest(range(i, i + {SPAN_K})) AS p
        FROM cut
    ),
    tokpos AS (
        SELECT doc_id, unnest(tk) AS tok,
               unnest(range(1, len(tk) + 1)) AS p
        FROM toks
    ),
    kept AS (
        SELECT t.doc_id, t.p, t.tok
        FROM tokpos t ANTI JOIN cutpos c
          ON t.doc_id = c.doc_id AND t.p = c.p
    ),
    rew AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY p) AS rtext,
               CAST(COUNT(*) AS BIGINT) AS n_tokens_after
        FROM kept GROUP BY 1
    ),
    per AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT p.doc_id, p.n_tokens,
           CAST(COALESCE(r.n_tokens_after, 0) AS BIGINT) AS n_tokens_after,
           CAST(p.n_tokens - COALESCE(r.n_tokens_after, 0) AS BIGINT)
               AS n_tokens_cut,
           md5(COALESCE(r.rtext, '')) AS rewrite_sig
    FROM per p LEFT JOIN rew r USING (doc_id)
"""


HNSW_LVL1_MOD = 8  # ~1/8 of nodes reach layer 1 (md5-deterministic)
HNSW_LVL2_MOD = 64  # ~1/64 reach layer 2


def _hnsw_lvl(vid: Column) -> Column:
    h = md5_long(vid.cast("string"))
    return (
        F.when(h % HNSW_LVL2_MOD == 0, F.lit(2))
        .when(h % HNSW_LVL1_MOD == 0, F.lit(1))
        .otherwise(F.lit(0))
    )


def _hnsw_graph_parts(spark: SparkSession, sf_dir: str):
    """Shared candidate-graph construction for the HNSW family —
    ``ann_hnsw_search`` WALKS this graph and ``hnsw_layer_stats``
    DESCRIBES it, so both must be built from the one spelling (r11
    review: a drifted copy would make the planner readout describe a
    different graph than the search walks). Returns ``(nodes,
    scored)``: per-vector (embedding, norm, md5 layer) and the
    checkpointed deduped SRP-band candidate edges scored by exact
    cosine with both endpoints' layers attached."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    sig = _srp_sig()
    nodes = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        _hnsw_lvl(F.col("vec_id")).alias("lvl"),
    )
    bands = emb.select(
        "vec_id",
        F.posexplode(
            F.array(F.substring(sig, 1, 8), F.substring(sig, 9, 8))
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("nbr"))
        .dropDuplicates(["src", "nbr"])
    )
    va = nodes.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("s_emb"),
        F.col("nrm").alias("s_nrm"),
        F.col("lvl").alias("s_lvl"),
    )
    vb = nodes.select(
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
        F.col("lvl").alias("n_lvl"),
    )
    edge_cs = dot(F.col("s_emb"), F.col("n_emb")) / (
        F.col("s_nrm") * F.col("n_nrm")
    )
    scored = (
        cand.join(va, "src")
        .join(vb, "nbr")
        .select("src", "nbr", "s_lvl", "n_lvl", edge_cs.alias("ecs"))
        .localCheckpoint(eager=True)
    )
    return nodes, scored


def ann_hnsw_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-layer greedy graph ANN — the HNSW descent (Malkov &
    Yashunin 2018) that :func:`ann_graph_search`'s single-layer walk
    lacks: a coarse top layer holds ~1/64 of the corpus, a middle
    layer ~1/8, the base layer everything; each probe greedily walks
    layer 2, then re-enters layer 1 at the settled node, then layer 0
    — long-range moves happen on the sparse layers, so the base-layer
    walk starts near its optimum and the total hop count drops (the
    planted-corpus pytest pins hierarchical < flat hops).

    Determinism contract: layer membership is md5(vec_id) modulo
    (never randomness — the ``dataset_split_assign`` discipline), the
    per-layer graphs are the SRP-band top-k of :func:`knn_graph`
    restricted to nodes of that layer and above, every walk move
    compares the same fold-ordered dot-product doubles both engines
    compute, and strict improvement (ties stop) makes the DuckDB
    recursive-CTE replay settle on the identical node per layer.

    Scale shape: ONE banded candidate pass (checkpointed) feeds all
    three layer graphs (three shrinking per-src top-k windows, each
    bounded by the band buckets); the three move tables are keyed
    equi-joins against the bounded probe broadcast; the walk state is
    one row per probe and the descent is 3 bounded iterative loops
    (the ``dedup_clusters`` checkpoint discipline). Entry point: the
    min vec_id on the highest occupied layer — one min-of-struct
    aggregate.
    """
    nodes, scored = _hnsw_graph_parts(spark, sf_dir)
    probes = nodes.filter(F.col("vec_id") < GS_N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("nrm").alias("p_nrm"),
    )
    nbr_vec = nodes.select(
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    probe_cs = dot(F.col("p_emb"), F.col("n_emb")) / (
        F.col("p_nrm") * F.col("n_nrm")
    )
    # entry: highest occupied layer, then min vec_id (one struct-min)
    entry = (
        nodes.filter(F.col("vec_id") >= GS_N_PROBES)
        .agg(
            F.min(
                F.struct(
                    (-F.col("lvl")).alias("nl"), F.col("vec_id").alias("vid")
                )
            ).alias("e")
        )
        .select(F.col("e.vid").alias("entry_id"))
    )
    e_vec = nodes.select(
        F.col("vec_id").alias("entry_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    state = (
        probes.join(F.broadcast(entry))
        .join(e_vec, "entry_id")
        .select(
            "probe_id",
            "entry_id",
            F.col("entry_id").alias("cur"),
            probe_cs.alias("cs"),
            F.lit(0).alias("n_hops_l2"),
            F.lit(0).alias("n_hops_l1"),
            F.lit(0).alias("n_hops_l0"),
        )
        .localCheckpoint(eager=True)
    )
    wbest = Window.partitionBy("probe_id", "src").orderBy(
        F.col("cs").desc(), F.col("nbr").asc()
    )
    wrank = Window.partitionBy("src").orderBy(
        F.col("ecs").desc(), F.col("nbr").asc()
    )
    for lv in (2, 1, 0):
        edges_l = (
            scored.filter((F.col("s_lvl") >= lv) & (F.col("n_lvl") >= lv))
            .select("src", "nbr", "ecs")
            .withColumn("rank", F.row_number().over(wrank))
            .filter(F.col("rank") <= KNN_K)
            .select("src", "nbr")
        )
        best = (
            edges_l.join(nbr_vec, "nbr")
            .join(F.broadcast(probes))
            .select("probe_id", "src", "nbr", probe_cs.alias("cs"))
            .withColumn("rn", F.row_number().over(wbest))
            .filter(F.col("rn") == 1)
            .select(
                "probe_id",
                F.col("src").alias("cur"),
                F.col("nbr").alias("best_nbr"),
                F.col("cs").alias("best_cs"),
            )
            .localCheckpoint(eager=True)
        )
        hop_col = f"n_hops_l{lv}"
        for _ in range(GS_MAX_HOPS):
            moved_cond = F.col("best_cs") > F.col("cs")
            keep = [
                c
                for c in state.columns
                if c not in ("cur", "cs", hop_col)
            ]
            stepped = (
                state.join(best, ["probe_id", "cur"], "left")
                .select(
                    *keep,
                    F.when(moved_cond, F.col("best_nbr"))
                    .otherwise(F.col("cur"))
                    .alias("cur"),
                    F.when(moved_cond, F.col("best_cs"))
                    .otherwise(F.col("cs"))
                    .alias("cs"),
                    (
                        F.col(hop_col)
                        + F.when(moved_cond, 1).otherwise(0)
                    ).alias(hop_col),
                    moved_cond.alias("_moved"),
                )
                .localCheckpoint(eager=True)
            )
            release_checkpoint(state)
            moved = not stepped.filter(F.col("_moved")).isEmpty()
            state = stepped.drop("_moved")
            if not moved:
                break
        release_checkpoint(best)
    release_checkpoint(scored)
    return state.select(
        "probe_id",
        "entry_id",
        F.col("cur").alias("neighbor_id"),
        pround(F.col("cs")).alias("cos_sim"),
        F.col("n_hops_l2").cast("int").alias("n_hops_l2"),
        F.col("n_hops_l1").cast("int").alias("n_hops_l1"),
        F.col("n_hops_l0").cast("int").alias("n_hops_l0"),
    )


QUERIES["ann_hnsw_search"] = ann_hnsw_search

_HNSW_LVL_SQL = (
    f"CASE WHEN {md5_long_sql('CAST(vec_id AS VARCHAR)')} % {HNSW_LVL2_MOD} = 0"
    f" THEN 2 WHEN {md5_long_sql('CAST(vec_id AS VARCHAR)')} % {HNSW_LVL1_MOD} = 0"
    f" THEN 1 ELSE 0 END"
)


def _hnsw_edges_sql(lv: int) -> str:
    """The per-layer top-k edge subquery — the ONE spelling shared by
    the search oracle (walks it) and the stats oracle (describes it)."""
    return f"""SELECT src, nbr FROM (
            SELECT c.src, c.nbr, ROW_NUMBER() OVER (
                PARTITION BY c.src
                ORDER BY {dot_sql('sa.embedding', 'sb.embedding')}
                         / (sa.nrm * sb.nrm) DESC, c.nbr ASC) AS rank
            FROM cand c
            JOIN sig sa ON c.src = sa.vec_id
            JOIN sig sb ON c.nbr = sb.vec_id
            WHERE sa.lvl >= {lv} AND sb.lvl >= {lv}
        ) WHERE rank <= {KNN_K}"""


def _hnsw_layer_sql(lv: int) -> str:
    return f"""
    edges{lv} AS (
        {_hnsw_edges_sql(lv)}
    ),
    best{lv} AS (
        SELECT probe_id, src AS cur, nbr AS best_nbr, cs AS best_cs
        FROM (
            SELECT p.probe_id, e.src, e.nbr,
                   {dot_sql('p.p_emb', 'nv.embedding')} / (p.p_nrm * nv.nrm)
                       AS cs,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probe_id, e.src
                       ORDER BY {dot_sql('p.p_emb', 'nv.embedding')}
                                / (p.p_nrm * nv.nrm) DESC, e.nbr ASC
                   ) AS rn
            FROM edges{lv} e
            JOIN sig nv ON e.nbr = nv.vec_id
            CROSS JOIN probes p
        ) WHERE rn = 1
    )"""


ORACLES["ann_hnsw_search"] = f"""
    WITH RECURSIVE sig AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
               {_HNSW_LVL_SQL} AS lvl,
               {_SRP_SIG_SQL} AS s
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
        FROM sig
    ),
    cand AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band1 = b.band1 AND a.vec_id <> b.vec_id
    ),
    probes AS (
        SELECT vec_id AS probe_id, embedding AS p_emb, nrm AS p_nrm
        FROM sig WHERE vec_id < {GS_N_PROBES}
    ),
    entry AS (
        SELECT vec_id AS entry_id FROM sig
        WHERE vec_id >= {GS_N_PROBES}
        ORDER BY lvl DESC, vec_id ASC LIMIT 1
    ),{_hnsw_layer_sql(2)},{_hnsw_layer_sql(1)},{_hnsw_layer_sql(0)},
    walk2(probe_id, entry_id, cur, cs, h) AS (
        SELECT p.probe_id, e.entry_id, e.entry_id,
               {dot_sql('p.p_emb', 'ev.embedding')} / (p.p_nrm * ev.nrm), 0
        FROM probes p, entry e
        JOIN sig ev ON e.entry_id = ev.vec_id
        UNION ALL
        SELECT w.probe_id, w.entry_id, b.best_nbr, b.best_cs, w.h + 1
        FROM walk2 w JOIN best2 b
          ON b.probe_id = w.probe_id AND b.cur = w.cur
        WHERE b.best_cs > w.cs AND w.h < {GS_MAX_HOPS}
    ),
    settle2 AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY h DESC) AS rn
            FROM walk2
        ) WHERE rn = 1
    ),
    walk1(probe_id, entry_id, cur, cs, h) AS (
        SELECT probe_id, entry_id, cur, cs, 0 FROM settle2
        UNION ALL
        SELECT w.probe_id, w.entry_id, b.best_nbr, b.best_cs, w.h + 1
        FROM walk1 w JOIN best1 b
          ON b.probe_id = w.probe_id AND b.cur = w.cur
        WHERE b.best_cs > w.cs AND w.h < {GS_MAX_HOPS}
    ),
    settle1 AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY h DESC) AS rn
            FROM walk1
        ) WHERE rn = 1
    ),
    walk0(probe_id, entry_id, cur, cs, h) AS (
        SELECT probe_id, entry_id, cur, cs, 0 FROM settle1
        UNION ALL
        SELECT w.probe_id, w.entry_id, b.best_nbr, b.best_cs, w.h + 1
        FROM walk0 w JOIN best0 b
          ON b.probe_id = w.probe_id AND b.cur = w.cur
        WHERE b.best_cs > w.cs AND w.h < {GS_MAX_HOPS}
    ),
    settle0 AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY h DESC) AS rn
            FROM walk0
        ) WHERE rn = 1
    )
    SELECT s0.probe_id, s0.entry_id, s0.cur AS neighbor_id,
           {pround_sql('s0.cs')} AS cos_sim,
           CAST(s2.h AS INTEGER) AS n_hops_l2,
           CAST(s1.h AS INTEGER) AS n_hops_l1,
           CAST(s0.h AS INTEGER) AS n_hops_l0
    FROM settle0 s0
    JOIN settle1 s1 ON s0.probe_id = s1.probe_id
    JOIN settle2 s2 ON s0.probe_id = s2.probe_id
"""


def self_repetition_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition truncation — the self-repetition
    companion to :func:`dedup_span_rewrite` (which only cuts CROSS-doc
    duplication): generated/boilerplated text that starts looping is
    cut at the first position whose 8-token window already occurred
    earlier in the SAME document (the "stop at first repeated n-gram"
    rule degeneration filters apply to model output and crawl spam
    alike). Everything before the first repeat survives; untruncated
    docs pass through whole. The kept text is md5-certified next to
    exact before/after token counts.

    Shape: positional shingle explode → per-(doc, shingle) min-pos +
    count aggregate (map-side combine) → second-occurrence positions
    by one join back (pos > first_pos) → per-doc min — three keyed
    shuffles, all linear. Reassembly is a pure ``slice`` on the token
    array (no re-explode): the truncation point IS the kept-token
    count, so both engines slice and join the identical prefix.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", _ws_tokens(F.col("text")).alias("tk"))
    occ = (
        docs.select(
            "doc_id",
            F.posexplode_outer(_kgram_hashes(F.col("text"), SPAN_K)).alias(
                "pos", "hs"
            ),
        )
        .filter(F.col("hs").isNotNull())
        # occ feeds the per-(doc, shingle) aggregate AND the join back;
        # both consumers hash-partition on the same key, so runtime
        # exchange reuse already shares the shuffle — an explicit
        # localCheckpoint A/B-measured ~0.25 s slower (guide §5),
        # left lazy on purpose.
    )
    return _selfrep_from(toked, occ)


def _selfrep_from(toked: DataFrame, occ: DataFrame) -> DataFrame:
    """Core of :func:`self_repetition_truncate` over pre-built
    (doc_id, tk) / (doc_id, pos, hs) inputs — shared-input twin of
    :func:`_span_rewrite_from` (see there). Standalone the occ input
    stays lazy (its two consumers share one exchange via runtime
    reuse); composite callers pass an already-materialized occ."""
    firsts = (
        occ.groupBy("doc_id", "hs")
        .agg(F.min("pos").alias("first_pos"), F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
    )
    trunc = (
        occ.join(firsts, ["doc_id", "hs"])
        .filter(F.col("pos") > F.col("first_pos"))
        .groupBy("doc_id")
        # 0-based position of the first repeated window == kept count
        .agg(F.min("pos").cast("long").alias("n_keep"))
    )
    kept = toked.join(trunc, "doc_id", "left").select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.col("n_keep").isNotNull().alias("truncated"),
        F.coalesce(F.col("n_keep"), F.size("tk").cast("long")).alias(
            "n_tokens_after"
        ),
        F.array_join(
            F.slice(
                F.col("tk"),
                F.lit(1),
                F.coalesce(F.col("n_keep"), F.size("tk").cast("long")).cast(
                    "int"
                ),
            ),
            " ",
        ).alias("ktext"),
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        "truncated",
        "n_tokens_after",
        F.md5(F.col("ktext")).alias("trunc_sig"),
    )


QUERIES["self_repetition_truncate"] = self_repetition_truncate

ORACLES["self_repetition_truncate"] = f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    occ AS (
        SELECT doc_id, i, {md5_long_sql('g')} AS hs
        FROM (
            SELECT doc_id, i, {_KGRAM_SQL} AS g
            FROM (SELECT doc_id, tk,
                         unnest(range(1, len(tk) - {SPAN_K - 2})) AS i
                  FROM toks)
        )
    ),
    firsts AS (
        SELECT doc_id, hs, MIN(i) AS first_i
        FROM occ GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    trunc AS (
        -- 1-based position of the first repeated window; kept-token
        -- count is that position minus 1 (== the Spark 0-based pos)
        SELECT o.doc_id, CAST(MIN(o.i) - 1 AS BIGINT) AS n_keep
        FROM occ o JOIN firsts f
          ON o.doc_id = f.doc_id AND o.hs = f.hs AND o.i > f.first_i
        GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           tr.n_keep IS NOT NULL AS truncated,
           COALESCE(tr.n_keep, CAST(len(t.tk) AS BIGINT)) AS n_tokens_after,
           md5(array_to_string(
               t.tk[1:CAST(COALESCE(tr.n_keep, len(t.tk)) AS INTEGER)], ' '
           )) AS trunc_sig
    FROM toks t LEFT JOIN trunc tr USING (doc_id)
"""


def hnsw_layer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-structure report for :func:`ann_hnsw_search` — the
    planner/observability readout an index build ships next to the
    index (the ``lsh_banding_planner`` convention): per layer, how many
    nodes the md5 assignment promoted, how many top-k edges the
    restricted SRP-band graph kept, how many sources have any edge, and
    the mean out-degree. A layer whose node count or degree collapses
    flags a descent that will settle early (too sparse) or walk long
    (too dense) BEFORE the search runs.

    Shape: the candidate pass is computed once (same banded join as
    the search); each layer is one filter + per-src top-k window + one
    single-row aggregate — exact integers, one pround'd division.
    """
    nodes, scored = _hnsw_graph_parts(spark, sf_dir)
    wrank = Window.partitionBy("src").orderBy(
        F.col("ecs").desc(), F.col("nbr").asc()
    )
    per_layer = []
    for lv in (0, 1, 2):
        n_nodes = nodes.filter(F.col("lvl") >= lv).agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        )
        edges_l = (
            scored.filter((F.col("s_lvl") >= lv) & (F.col("n_lvl") >= lv))
            .withColumn("rank", F.row_number().over(wrank))
            .filter(F.col("rank") <= KNN_K)
        )
        e_agg = edges_l.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.countDistinct("src").cast("long").alias("n_srcs"),
        )
        per_layer.append(
            n_nodes.join(e_agg)
            .select(
                F.lit(lv).cast("int").alias("lvl"),
                "n_nodes",
                "n_edges",
                "n_srcs",
                F.when(
                    F.col("n_nodes") > 0,
                    pround(
                        F.col("n_edges").cast("double")
                        / F.col("n_nodes").cast("double")
                    ),
                ).alias("avg_out_degree"),
            )
        )
    out = per_layer[0]
    for df in per_layer[1:]:
        out = out.unionByName(df)
    return out


QUERIES["hnsw_layer_stats"] = hnsw_layer_stats


def _hnsw_stats_layer_sql(lv: int) -> str:
    return f"""
    SELECT CAST({lv} AS INTEGER) AS lvl,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sig WHERE lvl >= {lv})
               AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_srcs,
           CASE WHEN (SELECT COUNT(*) FROM sig WHERE lvl >= {lv}) > 0 THEN
               {pround_sql(
                   "CAST(COUNT(*) AS DOUBLE) / "
                   f"(SELECT CAST(COUNT(*) AS DOUBLE) FROM sig WHERE lvl >= {lv})"
               )}
           END AS avg_out_degree
    FROM (
        {_hnsw_edges_sql(lv)}
    )"""


ORACLES["hnsw_layer_stats"] = f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               sqrt({dot_sql('embedding', 'embedding')}) AS nrm,
               {_HNSW_LVL_SQL} AS lvl,
               {_SRP_SIG_SQL} AS s
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1
        FROM sig
    ),
    cand AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id AS src, b.vec_id AS nbr
        FROM bands a JOIN bands b
          ON a.band1 = b.band1 AND a.vec_id <> b.vec_id
    )
    {_hnsw_stats_layer_sql(0)}
    UNION ALL
    {_hnsw_stats_layer_sql(1)}
    UNION ALL
    {_hnsw_stats_layer_sql(2)}
"""


def dedup_remediation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source remediation funnel — the one-table answer to "where
    would our tokens go if we ran the dedup stack?": exact-duplicate
    docs drop whole (stage 1), then the exact-dedup SURVIVORS are
    measured for cross-doc span-cut tokens (:func:`dedup_span_rewrite`)
    and within-doc self-repetition tokens
    (:func:`self_repetition_truncate`). The two survivor signals are
    each reported per their OWN operator's semantics — positions can
    overlap between them, so the closing share is explicitly an UPPER
    BOUND diagnostic (`remediated_share_ub`), not a byte-exact replay
    of a staged pipeline.

    Shape: the three per-doc remediation outputs (each linear, see
    their own docstrings) joined doc-keyed to the source column, one
    grouped aggregate of exact integers, one pround'd division.
    """
    docs_full = spread(table(spark, sf_dir, "documents"), "doc_id")
    docs = docs_full.select("doc_id", "source")
    # The span-cut and self-repetition legs consume the IDENTICAL
    # tokenize + positional-shingle pipelines; build each once and feed
    # both cores (guide §7.2 — the legs otherwise re-run the corpus
    # scan + explode + hash per consumer; A/B 12.16 → 5.14 s). occ is
    # materialized (five consumers across the two legs, ending in
    # different exchanges); toked stays LAZY: its three consumers are
    # plain scan+split projections, and checkpointing it A/B-measured
    # slower on matched runs (materializing every token array costs
    # more than the two extra column-pruned scans — guide §5
    # cache-vs-recompute).
    toked = docs_full.select("doc_id", _ws_tokens(F.col("text")).alias("tk"))
    occ = (
        docs_full.select(
            "doc_id",
            F.posexplode_outer(_kgram_hashes(F.col("text"), SPAN_K)).alias(
                "pos", "hs"
            ),
        )
        .filter(F.col("hs").isNotNull())
        .localCheckpoint(eager=True)
    )
    ex = dedup_exact(spark, sf_dir).select("doc_id", "is_duplicate")
    sp = _span_rewrite_from(toked, occ).select(
        "doc_id", "n_tokens", "n_tokens_cut"
    )
    sr = _selfrep_from(toked, occ).select(
        "doc_id",
        (F.col("n_tokens") - F.col("n_tokens_after")).alias("tok_self"),
    )
    dup = F.col("is_duplicate")
    joined = (
        docs.join(ex, "doc_id").join(sp, "doc_id").join(sr, "doc_id")
    )
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("docs_exact_dup"),
        F.sum(F.when(dup, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tok_exact_dup"),
        F.sum(F.when(~dup, F.col("n_tokens_cut")).otherwise(0))
        .cast("long")
        .alias("tok_span_cut"),
        F.sum(F.when(~dup, F.col("tok_self")).otherwise(0))
        .cast("long")
        .alias("tok_self_repeat"),
    )
    total_cut = (
        F.col("tok_exact_dup") + F.col("tok_span_cut") + F.col("tok_self_repeat")
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "docs_exact_dup",
        "tok_exact_dup",
        "tok_span_cut",
        "tok_self_repeat",
        F.when(
            F.col("n_tokens") > 0,
            pround(total_cut.cast("double") / F.col("n_tokens").cast("double")),
        ).alias("remediated_share_ub"),
    )


QUERIES["dedup_remediation_funnel"] = dedup_remediation_funnel

ORACLES["dedup_remediation_funnel"] = f"""
    WITH ex AS ({{exact_sql}}),
    sp AS ({{span_sql}}),
    sr AS ({{selfrep_sql}}),
    j AS (
        SELECT d.source, ex.is_duplicate, sp.n_tokens, sp.n_tokens_cut,
               sr.n_tokens - sr.n_tokens_after AS tok_self
        FROM documents d
        JOIN ex ON d.doc_id = ex.doc_id
        JOIN sp ON d.doc_id = sp.doc_id
        JOIN sr ON d.doc_id = sr.doc_id
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_exact_dup,
               CAST(SUM(CASE WHEN is_duplicate THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS tok_exact_dup,
               CAST(SUM(CASE WHEN NOT is_duplicate THEN n_tokens_cut
                             ELSE 0 END) AS BIGINT) AS tok_span_cut,
               CAST(SUM(CASE WHEN NOT is_duplicate THEN tok_self
                             ELSE 0 END) AS BIGINT) AS tok_self_repeat
        FROM j GROUP BY 1
    )
    SELECT source, n_docs, n_tokens, docs_exact_dup, tok_exact_dup,
           tok_span_cut, tok_self_repeat,
           CASE WHEN n_tokens > 0 THEN
               {pround_sql(
                   'CAST(tok_exact_dup + tok_span_cut + tok_self_repeat'
                   ' AS DOUBLE) / CAST(n_tokens AS DOUBLE)'
               )}
           END AS remediated_share_ub
    FROM agg
"""
ORACLES["dedup_remediation_funnel"] = ORACLES["dedup_remediation_funnel"].format(
    exact_sql=ORACLES["dedup_exact"],
    span_sql=ORACLES["dedup_span_rewrite"],
    selfrep_sql=ORACLES["self_repetition_truncate"],
)
