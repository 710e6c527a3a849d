"""Similarity search over the ``embeddings`` table.

- ``ann_topk_cosine``: brute-force cosine top-k for a small probe set —
  the correctness baseline. The probe side is broadcast, so the big
  side streams once with no shuffle; ranking is a per-probe window.
- ``ann_ivf_topk``: the scale path — IVF-style pruning using the
  ``label`` column as the coarse quantizer cell: probes only scan
  their own cell instead of the full corpus (at 100 TB the cells are
  the partition key, so each probe touches 1/n_cells of the data).

Vector math is JVM-side (``zip_with``/``aggregate``) — see
:mod:`functions.vector`.
"""

from __future__ import annotations

import collections

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import release_checkpoint, spread, table
from smart_city_data_pipeline_spark.functions.rounding import pround, pround_sql
from smart_city_data_pipeline_spark.functions.vector import (
    cosine,
    cosine_sql,
    dot,
    dot_sql,
    norm,
)
from smart_city_data_pipeline_spark.operators.dedup import (
    _SRP_PLANES,
    COSINE_NEARDUP_THRESHOLD,
    NEARDUP_CELL_CAP,
    SRP_DIM,
)

N_PROBES = 5  # vec_id < 5 are the query vectors
TOP_K = 5


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors for each probe (full-scan baseline)."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    scored = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            F.col("probe_id"),
            F.col("vec_id").alias("neighbor_id"),
            pround(cos).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "neighbor_id", "cos_sim")
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardest negatives per probe: the top-k most similar vectors
    with a DIFFERENT label — the contrastive-training mining pass
    (triplet/InfoNCE batches want near-miss negatives, not random
    ones). The complement of :func:`ann_ivf_topk`'s same-cell search:
    the join predicate keeps only cross-label pairs, so at scale this
    rides the same bounded-probe broadcast and the per-probe heap is
    the only state. Ties break on neighbor_id."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("probe_emb"),
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    scored = emb.join(
        F.broadcast(probes), F.col("label") != F.col("probe_label")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        pround(cos).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "neighbor_id", "neg_label", "cos_sim")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned top-k: probes only scan their own label cell."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("probe_emb"),
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    scored = (
        emb.join(
            F.broadcast(probes),
            (F.col("label") == F.col("probe_label")) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            F.col("probe_id"),
            F.col("vec_id").alias("neighbor_id"),
            pround(cos).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "neighbor_id", "cos_sim")
    )


# Fixed-round definitions, not fixpoint caps: ANN_KMEANS_ITERS,
# PCA_ITERS, BFS_MAX_LEVEL, LP_ROUNDS, PR_ROUNDS, HITS_ROUNDS and the
# tokenizer trainers' BPE_TRAIN_ITERS, WP_TRAIN_ITERS and ULM_EM_ITERS
# (textops) each define their algorithm by a round count that both
# engines replay, so stopping there is the result, not a loop cut
# short.
ANN_KMEANS_K = 16
ANN_KMEANS_ITERS = 2
ANN_KMEANS_NPROBE = 2
KMEANS_SCALE = 65536.0  # 2^16 integer grid — see _qvec

# k-means training is a bounded driver loop (collects only k×dim sums
# per round) and runs on EVERY invocation: an earlier per-process memo
# keyed on the dataset fingerprint excluded training from the bench's
# steady-state min (clearCache could not evict it) — removed in r12 so
# every timed run pays the real cost (the r11 gaming-check finding).


def _qvec(col) -> "F.Column":
    """Embedding quantized onto the 2¹⁶ integer grid as integer-valued
    DOUBLES: floor(x·2¹⁶ + 0.5) per component. Every downstream
    training quantity (dot products, squared norms, per-cell sums) is
    then an exact integer far below 2⁵³, where IEEE double arithmetic
    is EXACT and summation-order-independent — the property that makes
    the LEARNED quantizer bit-identical across Spark partial-agg
    orders AND across engines, i.e. oracle-checkable. Quantization
    bias (≤ 2⁻¹⁷/component) is orders below the inter-centroid
    distances that matter for IVF routing."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * KMEANS_SCALE + 0.5).cast("double"),
    )


def _cents_col(cents: list) -> "F.Column":
    """Centroid matrix as ONE ``array(array(<v>D, …), …)`` SQL literal
    of finite doubles: same value, type and nullability as the nested
    ``F.lit``, which makes one py4j call per element (~0.4 s for a
    16×64 matrix against ~2 ms for the parsed expression)."""
    rows = ("array(" + ", ".join(f"{float(v)!r}D" for v in c) + ")" for c in cents)
    return F.expr("array(" + ", ".join(rows) + ")")


def _l2_dists(q_col, cents: list) -> "F.Column":
    """array<double> of |c|² − 2·q·c per centroid — the L2 distance
    ||q − c||² minus the |q|² term, which is constant across cells and
    cannot change the argmin. All values are exact integers (see
    :func:`_qvec`), so the argmin and its ties are deterministic."""
    cc = _cents_col(cents)
    c2 = F.lit([float(sum(v * v for v in c)) for c in cents])
    dots = F.transform(cc, lambda c: dot(q_col, c))
    return F.zip_with(c2, dots, lambda a, b: a - 2.0 * b)


def _train_kmeans(emb: DataFrame, k: int, iters: int):
    """L2 (Euclidean) Lloyd k-means as ``iters`` DataFrame rounds (no
    MLlib) — the FAISS ``IndexIVFFlat`` coarse-quantizer form, run on
    the 2¹⁶ integer grid so the whole loop is ENGINE-EXACT: the
    ``ann_ivf_kmeans`` oracle re-trains the identical quantizer in
    DuckDB by unrolling these rounds as CTEs.

    Init is deterministic and public: the k vectors with the smallest
    md5(vec_id). Assignment is argmin over |c|² − 2·q·c (exact
    integer-valued doubles; ties → lowest cell id via
    first-occurrence array_position — the SQL twin's
    ``ORDER BY dist, cell`` row_number). Update: per-cell integer
    component sums as one wide k-row aggregate (a count plus one sum
    column per dimension) — keyed and map-side-combinable; only k×dim
    sums reach the driver, where the new component is
    floor(s/n + 0.5) — the same IEEE double division both engines
    evaluate on the same exact integers. Empty cells keep their
    centroid. A NULL embedding takes no part in training (no seed, no
    sums), as in the oracle. At 100 TB you would train on a stratified
    sample (:func:`textops.stratified_sample` is the template) — the
    index ASSIGNMENT pass is the full-scan part, and it is one
    projection.
    """
    import math

    q = emb.select("vec_id", _qvec(F.col("embedding")).alias("q")).filter(
        F.col("q").isNotNull()
    )
    seeds = q.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(k).collect()
    cents = [[float(x) for x in r["q"]] for r in seeds]
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        dists = _l2_dists(F.col("q"), cents)
        cell = F.array_position(dists, F.array_min(dists)) - 1
        # Per-cell component sums as ONE wide k-row aggregate (dim sum
        # columns + count) instead of posexplode to (cell, pos) rows:
        # the explode pushed dim× the row count through the partial
        # aggregate for the same k×dim totals. Integer sums — result
        # identical, and the oracle's unrolled-CTE twin unchanged.
        stats = (
            q.select(cell.alias("cell"), "q")
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep theirs
        for r in stats:
            c, n = int(r["cell"]), int(r["n"])
            new_cents[c] = [
                float(math.floor(r[f"s{i}"] / n + 0.5)) for i in range(dim)
            ]
        cents = new_cents
    return cents


def kmeans_ivf_topk(emb: DataFrame, cents: list, n_probe: int) -> DataFrame:
    """Query an embeddings DataFrame through trained integer-grid
    centroids: assign cells by exact L2 argmin, explode each probe to
    its ``n_probe`` nearest cells, candidate-join on cell id,
    exact-cosine rank on the ORIGINAL float vectors."""
    qe = emb.select(
        "vec_id", "embedding", _qvec(F.col("embedding")).alias("q")
    )
    dists = _l2_dists(F.col("q"), cents)
    first = F.array_position(dists, F.array_min(dists)) - 1
    assigned = qe.select("vec_id", "embedding", first.alias("cell"))
    # Probe's second cell: mask the winner with +inf and re-argmin.
    # With exact integer distances this is precisely the SQL twin's
    # row_number() OVER (ORDER BY dist, cell) ≤ 2: ties resolve to the
    # lowest unmasked index in both forms.
    masked = F.transform(
        dists, lambda v, i: F.when(i == first, F.lit(float("inf"))).otherwise(v)
    )
    second = F.array_position(masked, F.array_min(masked)) - 1
    cells = F.array_distinct(F.slice(F.array(first, second), 1, n_probe))
    probes = qe.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
        F.explode(cells).alias("cell"),
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    scored = assigned.join(
        F.broadcast(probes), assigned.cell == probes.cell
    ).filter(F.col("vec_id") != F.col("probe_id")).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        pround(cos).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "neighbor_id", "cos_sim")
    )


def ann_ivf_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = ANN_KMEANS_K,
    iters: int = ANN_KMEANS_ITERS,
    n_probe: int = ANN_KMEANS_NPROBE,
) -> DataFrame:
    """True-IVF ANN: a LEARNED coarse quantizer (L2 k-means centroids)
    replaces the label column, and each probe scans only its
    ``n_probe`` nearest cells — the FAISS-IVF shape for a corpus with
    no natural partition. Candidates are an equi-join on cell id
    (bounded buckets, no O(n²)); the centroid table is a broadcast
    literal.

    Checks: FULL oracle — training runs on the 2¹⁶ integer grid
    (:func:`_qvec`), so every Lloyd round is engine-exact and the
    DuckDB twin re-learns the IDENTICAL quantizer by unrolling the
    rounds as CTEs; the one float leg (the final exact-cosine rank) is
    guarded by ``pround`` like every ANN entry here. The recall ≥ 0.9
    bound vs the exact scan is pytest-asserted on a CLUSTERED corpus
    (tests/test_ann_kmeans.py): cell pruning is only meaningful where
    cluster structure exists — on this repo's synthetic ``embeddings``
    table the vectors are near-uniform (the true top-5 of a probe
    share its label only ~12 % of the time), a regime where NO
    partition-pruned index can reach high recall and a full-scan
    (:func:`ann_topk_cosine`) is the honest answer.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    return kmeans_ivf_topk(emb, _train_kmeans(emb, k, iters), n_probe)


SEMDEDUP_T = 0.3  # cosine threshold (= dedup.COSINE_NEARDUP_THRESHOLD)


def semantic_dedup_frame(
    emb: DataFrame, cents: list, threshold: float = SEMDEDUP_T
) -> DataFrame:
    """SemDeDup core over an embeddings frame (``vec_id``,
    ``embedding``) with trained integer-grid centroids: assign each
    vector to its exact-L2 cell, form within-cell pairs, and drop
    every vector that has a HIGHER-PRIORITY (lower ``vec_id``)
    neighbor at ``pround``-cosine ≥ threshold. One representative per
    near-dup neighborhood survives — the greedy canonical pick of
    ``priority_dedup``, keyed here by semantic distance instead of
    content hash."""
    qe = emb.select("vec_id", "embedding", _qvec(F.col("embedding")).alias("q"))
    dists = _l2_dists(F.col("q"), cents)
    cell = F.array_position(dists, F.array_min(dists)) - 1
    assigned = qe.select("vec_id", "embedding", cell.cast("int").alias("cell"))
    a = assigned.select("vec_id", "cell", F.col("embedding").alias("va"))
    b = assigned.select(
        F.col("vec_id").alias("dup_id"), "cell", F.col("embedding").alias("vb")
    )
    sim = pround(cosine(F.col("va"), F.col("vb")))
    dom = (
        a.join(b, "cell")
        .filter(F.col("dup_id") < F.col("vec_id"))
        .select("vec_id", "dup_id", sim.alias("s"))
        .filter(F.col("s") >= F.lit(threshold))
        .groupBy("vec_id")
        .agg(
            F.min("dup_id").alias("dominated_by"),
            F.count(F.lit(1)).alias("n_near"),
            F.max("s").alias("max_sim"),
        )
    )
    # sentinels instead of NULLs (-1 / 0.0) keep every column sortable
    # and hash-stable in the gate's order-insensitive compare
    return assigned.join(dom, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("dominated_by").isNull().alias("kept"),
        F.coalesce(F.col("dominated_by"), F.lit(-1).cast("long")).alias(
            "dominated_by"
        ),
        F.coalesce(F.col("n_near"), F.lit(0).cast("long")).alias("n_near"),
        F.coalesce(F.col("max_sim"), F.lit(0.0)).alias("max_sim"),
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = ANN_KMEANS_K,
    iters: int = ANN_KMEANS_ITERS,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): near-duplicate MEANINGS (paraphrases, re-renders)
    rather than near-duplicate tokens — the one major LLM-pipeline
    dedup family the token-level operators (minhash/simhash/n-gram)
    cannot see. Cluster with the learned coarse quantizer, then keep
    one representative per within-cluster cosine neighborhood.

    Scale shape (the paper's own): the candidate-pair join is keyed on
    the k-means cell, so pair cost is Σ|cell|² ≈ N²/k. That is only
    sub-quadratic if k GROWS with the corpus: the ``k`` default here
    (``ANN_KMEANS_K`` = 16) is a TEST-SCALE constant chosen so the
    DuckDB oracle can re-learn the quantizer in unrolled Lloyd CTEs —
    at production scale the caller MUST set ``k ≈ rows /
    target_cell_size`` (SemDeDup used 11k clusters for LAION-440M,
    i.e. ~40k vectors per cell; k ~ √N is a sane default), and the
    quantizer trains on a stratified sample exactly like
    ``ann_ivf_kmeans``. With that contract the pair join stays
    cell-keyed and per-cell-bounded at any N.
    Checks: FULL oracle — the DuckDB twin re-learns the identical
    integer-grid quantizer (unrolled Lloyd CTEs) and replays the same
    pround-guarded cosine threshold, so kept/dropped is hash-checked;
    pytest plants paraphrase clusters and asserts exactly one
    survivor per cluster (tests/test_semantic_dedup.py).
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    return semantic_dedup_frame(emb, _train_kmeans(emb, k, iters))


CENTROID_Q = 1 << 16  # quantization scale — see embedding_centroids


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus — the IVF coarse-
    quantizer training artifact (what :func:`ann_ivf_topk` probes) as a
    hash-checkable entry.

    Float summation is order-dependent, so components are QUANTIZED to
    1/2¹⁶ (a power of two — the scaling itself is exact in binary)
    before the integer sum; the centroid is one double division of two
    exact integers, bit-identical across engines and partial-agg
    orders. Components are |x| < 1, so int64 holds the per-cell sum up
    to ~10¹⁴ corpus rows per label — quantization bias (≤ 2⁻¹⁷ per
    component) is orders below the inter-centroid distances that matter
    for IVF routing. ``pos`` is 1-based to match SQL subscripts.

    Shape: posexplode → one (label, pos) hash aggregate with map-side
    combine — 64·#labels output rows, a single keyed shuffle at any
    scale.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x").cast("double") * CENTROID_Q + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    return comp.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        pround(
            F.sum("q").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(CENTROID_Q)))
        ).alias("centroid"),
    )


MAHA_FLAG = 70.0  # ≈ corpus p99 (d² concentrates near dim=64); tune per corpus


def doc_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding DIAGONAL Mahalanobis outlier score against its
    label's distribution — the embedding-space QC sweep that catches
    mis-encoded / off-manifold vectors BEFORE they enter dedup or ANN
    indexes (the multivariate sibling of ``embedding_qc``'s norm
    profile).

    Engine-exact construction: components quantize to the 2¹⁶ grid,
    per-(label, pos) moments are exact BIGINTs, and each position's
    term is the integer ratio ``(q·n − s)² / (n·ssq − s²)`` (the
    algebraic form of ``(q−μ)²/σ²`` cleared of divisions) — evaluated
    as one double division of two exact integers. The per-vector sum
    folds the 64 terms IN POSITION ORDER (sorted bounded array), so
    partial-agg order can't perturb the double sum. Integer headroom:
    the raw moments (``s``, ``ssq``) are exact BIGINTs to ~2³¹ rows
    per label, but the PRODUCTS ``n·ssq − s²`` and ``(q·n − s)²``
    grow like n²·2³² — past ~4·10⁴ rows per label they exceed 2⁶³,
    so both are evaluated in 128-bit exact integer arithmetic
    (``decimal(38,0)`` on Spark, ``HUGEINT`` in the oracle), which
    holds to ~10⁹ rows per label; past that the grid would quantize
    coarser (documented knob), the shape is unchanged. Zero-variance
    positions contribute 0 by definition.

    Shape: posexplode → keyed moment aggregate (64·labels rows,
    broadcast back) → one keyed fold per vector. No window over facts.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x").cast("double") * CENTROID_Q + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    stats = comp.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ssq"),
    )
    # 128-bit exact products: BIGINT would wrap silently past ~4e4
    # rows per label (n²·2³² > 2⁶³); decimal(38,0) is exact to ~1e9.
    qD = F.col("q").cast("decimal(38,0)")
    nD = F.col("n").cast("decimal(38,0)")
    sD = F.col("s").cast("decimal(38,0)")
    ssqD = F.col("ssq").cast("decimal(38,0)")
    num = (qD * nD - sD) * (qD * nD - sD)
    den = nD * ssqD - sD * sD
    term = F.when(
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    per = (
        # No broadcast hint: `stats` is bounded (labels × dims rows)
        # but derives from the sf-scaled embeddings table, so the
        # broadcast-policy checker can't prove boundedness through
        # lineage. AQE broadcasts the tiny post-agg side at runtime.
        comp.join(stats, ["label", "pos"])
        .select("vec_id", "label", F.struct("pos", term.alias("t")).alias("pt"))
        .groupBy("vec_id", "label")
        .agg(F.sort_array(F.collect_list("pt")).alias("pts"))
    )
    d2 = F.aggregate(
        F.transform(F.col("pts"), lambda s: s["t"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return per.select(
        "vec_id",
        "label",
        pround(d2).alias("maha_d2"),
        (d2 > F.lit(MAHA_FLAG)).alias("outlier"),
    )


PQ_S = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (corpus embeddings are 64-dim)
PQ_K = 16  # codes per subspace


def _pq_codebook(emb: DataFrame) -> list[list[float]]:
    """Deterministic PQ codebook: the PQ_K vectors with the smallest
    md5('pq:'+vec_id) — the same public seed-free shuffle the k-means
    init uses (decorrelated by the 'pq:' prefix). Bounded collect:
    PQ_K × dim floats reach the driver, nothing corpus-scaled."""
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))))
        .limit(PQ_K)
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment — the memory-compression
    leg of ANN at 100 TB (IVF routes, PQ compresses residuals): each
    embedding becomes PQ_S small codes, one per subspace, by nearest
    codebook entry in L2.

    Shape: each vector explodes into its PQ_S subvectors, which
    broadcast-join the PQ_S·PQ_K-row codebook; the per-(vector,
    subspace) argmin is a lexicographic struct MIN — a true aggregate
    with map-side combine, so the shuffle carries one tiny row per
    (vector, subspace). (A projection that unrolls all PQ_K·PQ_SUBDIM
    distance terms per subspace was 2.2× slower — the expression tree
    overflows whole-stage codegen into interpreted evaluation.) The
    distance fold is the identical left-associated double chain in
    both engines (the 0.0 fold seed is exact: every term is ≥ 0);
    ties break on the lower code id. At 100 TB the codebook trains on
    a stratified sample (``textops.stratified_sample`` is the
    template); this deterministic seed-codebook IS that sample's
    degenerate 0-iterations case, keeping the oracle exact.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    cb = _pq_codebook(emb)
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice(
                            F.col("embedding").cast("array<double>"),
                            s * PQ_SUBDIM + 1,
                            PQ_SUBDIM,
                        ).alias("sv"),
                    )
                    for s in range(PQ_S)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.subspace", "e.sv")
    cb_rows = [
        (s, k, [float(cb[k][s * PQ_SUBDIM + i]) for i in range(PQ_SUBDIM)])
        for s in range(PQ_S)
        for k in range(PQ_K)
    ]
    cbdf = spark.createDataFrame(cb_rows, "subspace int, k int, cv array<double>")
    d = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        subs.join(F.broadcast(cbdf), "subspace")
        .select(
            "vec_id",
            "subspace",
            F.struct(d.alias("d"), F.col("k")).alias("dk"),
        )
        .groupBy("vec_id", "subspace")
        .agg(F.min("dk").alias("m"))
        .select(
            "vec_id",
            F.col("subspace").cast("int").alias("subspace"),
            F.col("m.k").cast("int").alias("code"),
        )
    )


def _pq_dist_sql(
    s_expr: str, left: str = "e.embedding", right: str = "c.embedding"
) -> str:
    terms = []
    for i in range(PQ_SUBDIM):
        a = f"CAST({left}[{s_expr} * {PQ_SUBDIM} + {i + 1}] AS DOUBLE)"
        b = f"CAST({right}[{s_expr} * {PQ_SUBDIM} + {i + 1}] AS DOUBLE)"
        terms.append(f"(({a}) - ({b})) * (({a}) - ({b}))")
    return " + ".join(terms)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance top-k — the standard billion-scale
    retrieval composition (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): IVF routes each probe to its cell,
    PQ codes stand in for the database vectors, and the probe stays
    EXACT — distance is the ADC sum of per-subspace lookup-table
    entries ``Σ_s ‖q_s − c_{s, code_s(x)}‖²``.

    Shape: the LUT is probes × PQ_S × PQ_K rows (hundreds — built
    from the bounded probe set and the driver codebook, broadcast);
    each database vector contributes its PQ_S code rows, which
    equi-join the LUT on (cell label, subspace, code) — a broadcast
    hash join keyed by the compressed representation, never touching
    the raw vectors of the scanned side. That is the 100 TB point of
    PQ: the scan reads 1-byte codes, not float arrays. The per-pair
    ADC folds its PQ_S terms in subspace order (sorted bounded array,
    identical left-associated chain in both engines), so ranking is
    deterministic and the oracle hash-matches; ties break on
    neighbor_id.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    codes = embedding_pq_codes(spark, sf_dir)
    cb = _pq_codebook(emb)
    cb_rows = [
        (s, k, [float(cb[k][s * PQ_SUBDIM + i]) for i in range(PQ_SUBDIM)])
        for s in range(PQ_S)
        for k in range(PQ_K)
    ]
    cbdf = spark.createDataFrame(cb_rows, "subspace int, k int, cv array<double>")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("probe_emb"),
    )
    qsubs = probes.select(
        "probe_id",
        "probe_label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice(
                            F.col("probe_emb").cast("array<double>"),
                            s * PQ_SUBDIM + 1,
                            PQ_SUBDIM,
                        ).alias("qv"),
                    )
                    for s in range(PQ_S)
                ]
            )
        ).alias("e"),
    ).select("probe_id", "probe_label", "e.subspace", "e.qv")
    t = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = qsubs.join(F.broadcast(cbdf), "subspace").select(
        "probe_id", "probe_label", "subspace", "k", t.alias("t")
    )
    cand = codes.join(emb.select("vec_id", "label"), "vec_id")
    joined = cand.join(
        F.broadcast(lut),
        (F.col("label") == F.col("probe_label"))
        & (cand["subspace"] == lut["subspace"])
        & (F.col("code") == F.col("k"))
        & (F.col("vec_id") != F.col("probe_id")),
    )
    per = joined.groupBy("probe_id", "vec_id").agg(
        F.sort_array(
            F.collect_list(F.struct(cand["subspace"].alias("s"), F.col("t")))
        ).alias("ts")
    )
    adc = F.aggregate(
        F.transform(F.col("ts"), lambda s: s["t"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sel = per.select(
        "probe_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        sel.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "neighbor_id", pround(F.col("adc")).alias("adc_dist"))
    )


def embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of the embedding store — the
    compression leg every vector database ships next to PQ: per-DIM
    affine codes ``round((x − min_d)·255 / (max_d − min_d))`` against
    corpus min/max, with a per-vector quality audit (max absolute
    reconstruction error + saturated-code count).

    Determinism: min/max of doubles and MAX of per-component errors
    are order-independent aggregates (no float SUM anywhere), and the
    code/recon expressions are the same IEEE double chain in both
    engines, so the audit hash-matches exactly. Shape: posexplode →
    64-row per-dim stats (AQE broadcasts back) → one keyed max/count
    aggregate per vector; constant dims quantize to code 0 by guard."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "x")
    stats = comp.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    j = comp.join(stats, "pos")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor(
            (F.col("x") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))
            + 0.5
        ),
    ).otherwise(F.lit(0)).cast("long")
    recon = F.col("mn") + code.cast("double") * (
        (F.col("mx") - F.col("mn")) / 255.0
    )
    err = F.abs(recon - F.col("x"))
    sat = ((code == 0) | (code == 255)).cast("long")
    return (
        j.select("vec_id", "label", err.alias("err"), sat.alias("sat"))
        .groupBy("vec_id", "label")
        .agg(
            pround(F.max("err")).alias("max_abs_err"),
            F.sum("sat").alias("n_saturated"),
        )
    )


RANGE_SEARCH_T = 0.25  # cosine threshold (≈P98 of the clustered-corpus pair distribution)


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query: ALL neighbors within the cosine threshold of each probe —
    the 'everything semantically this close' retrieval mode (dedup
    sweeps, recall-first retrieval) where top-k's fixed k is wrong
    because neighborhood sizes vary per probe.

    Same scale shape as ``ann_topk_cosine``: the bounded probe set
    broadcasts, the corpus streams once, and — unlike top-k — there is
    no window at all: the threshold is a pure filter, so the operator
    is one scan with map-side selectivity (at 100 TB the scan is
    partition-pruned by the IVF cell variant; this is the exact
    baseline).
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    return (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            F.col("probe_id"),
            F.col("vec_id").alias("neighbor_id"),
            pround(cos).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= RANGE_SEARCH_T)
    )


NORM_QUANT = 10_000        # norms quantized to 1e-4 before the moments
NONUNIT_TOL = 10           # |q - NORM_QUANT| above this = not unit-norm


def embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality control: per-label norm profile + defect
    counts — the pre-index sanity sweep that catches truncated, zero,
    or un-normalized vectors before they poison an ANN index or make a
    cosine threshold incomparable across shards.

    Per label: vector count, distinct dimensionality count (a healthy
    export has exactly 1), min/mean/max L2 norm, and how many vectors
    deviate from unit norm by more than 1e-3. Determinism at any
    scale: norms quantize to integers (1e-4 resolution) BEFORE the
    aggregate, so the sums are exact BIGINTs regardless of
    partial-aggregation order (double moments would be
    summation-order-dependent across engines). One keyed aggregate,
    output bounded by label cardinality.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    q = F.floor(
        norm(F.col("embedding")) * NORM_QUANT + F.lit(0.5)
    ).cast("long")
    base = emb.select(
        "label",
        q.alias("q"),
        F.size("embedding").alias("dim"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        base.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("dim").alias("n_dims"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
            F.sum("q").alias("q_sum"),
            F.sum(
                (F.abs(F.col("q") - NORM_QUANT) > NONUNIT_TOL).cast("long")
            ).alias("n_nonunit"),
        )
        .select(
            "label",
            "n_vecs",
            "n_dims",
            pround(d("q_min") / NORM_QUANT).alias("min_norm"),
            pround(d("q_sum") / d("n_vecs") / NORM_QUANT).alias("mean_norm"),
            pround(d("q_max") / NORM_QUANT).alias("max_norm"),
            "n_nonunit",
        )
    )


RECALL_NPROBES = (1, 2, 4)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the learned-quantizer IVF index: for each
    probe and each ``nprobe`` ∈ {1, 2, 4}, how many of the exact
    full-scan top-k survive cell pruning, and how many candidates the
    pruned search actually scanned — the recall/cost curve that picks
    the production ``nprobe`` (the FAISS tuning loop, run as a query).
    The LSH twin of this audit is ``lsh_quality_report``; this one
    grades the IVF dial instead of the band geometry.

    Shares the trained integer-grid quantizer (and its cache) with
    :func:`ann_ivf_kmeans`, so training cost is paid once per
    process/dataset. Scale shape: probes are a literal-bounded filter
    (broadcast); the exact leg is the probe×corpus scan every recall
    measurement needs ONCE (the ground truth, amortized across
    nprobe levels); the IVF leg joins probes to cells on cell id —
    bounded buckets. Recall and candidate counts are exact integers;
    the one float leg (cosine ranking) is pround-guarded like every
    ANN entry here.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    cents = _train_kmeans(emb, ANN_KMEANS_K, ANN_KMEANS_ITERS)

    qe = emb.select(
        "vec_id", "embedding", _qvec(F.col("embedding")).alias("q")
    )
    dists = _l2_dists(F.col("q"), cents)
    first = F.array_position(dists, F.array_min(dists)) - 1
    assigned = qe.select("vec_id", "embedding", first.alias("cell"))

    # probe -> ranked cell list via (dist, cell) row_number — the
    # generic-nprobe form of kmeans_ivf_topk's mask-and-re-argmin
    max_np = max(RECALL_NPROBES)
    wp = Window.partitionBy("probe_id").orderBy("dist", "cell")
    pcells = (
        qe.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_emb"),
            F.posexplode(dists).alias("cell", "dist"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= max_np)
        .drop("dist")
    )

    # exact ground truth: full-scan top-k per probe (= ann_topk_cosine)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    wk = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    exact = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            pround(cos).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )

    # IVF candidates per nprobe level: same pcells rows reused for
    # every level that admits them (rn <= np)
    levels = F.explode(
        F.array(*[F.lit(n) for n in RECALL_NPROBES])
    ).alias("nprobe")
    plevel = pcells.select("probe_id", "probe_emb", "cell", "rn", levels).filter(
        F.col("rn") <= F.col("nprobe")
    )
    cand = (
        assigned.join(
            F.broadcast(plevel), assigned.cell == plevel.cell
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "nprobe",
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            pround(cosine(F.col("probe_emb"), F.col("embedding"))).alias(
                "cos_sim"
            ),
        )
    )
    wkl = Window.partitionBy("nprobe", "probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    approx = cand.withColumn("rank", F.row_number().over(wkl))
    n_cand = approx.groupBy("nprobe", "probe_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    hits = (
        approx.filter(F.col("rank") <= TOP_K)
        .join(exact, ["probe_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n_cand.join(hits, ["nprobe", "probe_id"], "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "probe_id",
            "n_candidates",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            pround(
                F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.lit(float(TOP_K))
            ).alias("recall_at_k"),
        )
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the cosine near-dup graph —
    per label: nodes, edges, wedges, triangles, and transitivity
    (3·triangles / wedges), the cluster-cohesion signal that tells a
    dedup pipeline whether a near-dup neighborhood is one tight clique
    (safe to keep a single canonical doc) or a loose chain of pairwise
    matches (transitive dedup would over-delete).

    Spark-first shape — the compact-forward algorithm as three keyed
    equi-joins, no driver state:

    1. Edges are the within-label cosine pairs from
       :func:`dedup.embedding_neardup` (which carries its own skew
       guard: oversized cells fall back to SRP bands, so the edge
       builder is never all-pairs-unbounded).
    2. Each undirected edge is ORIENTED from its lower-(degree, id)
       endpoint to the higher — the classic trick that caps every
       node's out-degree at O(√m), so the wedge join below never
       explodes on a hub node (a popularity-skewed near-dup cluster).
    3. Wedges: out-edges self-joined on their source; the closing
       third edge is a keyed equi-join on (v, w). Every join is an
       equi-join on graph keys — shuffle volume is O(Σ out-deg²) ≤
       O(m^1.5), the provably-optimal bound for triangle enumeration.

    Counts are integers end-to-end; the only float is the final
    transitivity ratio (two exact integers divided — IEEE-deterministic
    in both engines, then ``pround``). The DuckDB oracle re-runs the
    identical orientation, so engines agree exactly.
    """
    from smart_city_data_pipeline_spark.operators.dedup import (
        embedding_neardup,
    )

    # The edge list feeds FOUR consumers (degrees, orientation, edge
    # count) and the oriented list three more (both wedge sides + the
    # closing semi-join) — without materialization Spark re-derives
    # the whole near-dup pair join per consumer (72 scans in the
    # un-checkpointed plan). localCheckpoint truncates the lineage so
    # each relation is computed ONCE (the dedup_clusters precedent,
    # incl. its durability note: on a real cluster use a reliable
    # checkpoint dir).
    edges = (
        embedding_neardup(spark, sf_dir)
        .select("label", F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
        .localCheckpoint(eager=False)
    )
    ends = edges.select("label", F.col("u").alias("node")).unionAll(
        edges.select("label", F.col("v").alias("node"))
    )
    deg = ends.groupBy("label", "node").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # attach endpoint degrees, orient low-(d, id) -> high-(d, id)
    e = (
        edges.join(
            deg.select(
                "label", F.col("node").alias("u"), F.col("d").alias("du")
            ),
            ["label", "u"],
        )
        .join(
            deg.select(
                "label", F.col("node").alias("v"), F.col("d").alias("dv")
            ),
            ["label", "v"],
        )
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    out = e.select(
        "label",
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    ).localCheckpoint(eager=False)
    e1, e2 = out.alias("e1"), out.alias("e2")
    # wedge (src; dst1 < dst2 in the same (deg, id) rank order), then
    # close with the oriented third edge dst1 -> dst2
    wedge = e1.join(
        e2,
        (F.col("e1.label") == F.col("e2.label"))
        & (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.dd") < F.col("e2.dd"))
            | (
                (F.col("e1.dd") == F.col("e2.dd"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(
        F.col("e1.label").alias("label"),
        F.col("e1.dst").alias("w_src"),
        F.col("e2.dst").alias("w_dst"),
    )
    tri = (
        wedge.join(
            out.select(
                "label",
                F.col("src").alias("w_src"),
                F.col("dst").alias("w_dst"),
            ),
            ["label", "w_src", "w_dst"],
            "left_semi",
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    base = (
        deg.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2))
            .cast("long")
            .alias("n_wedges"),
        )
        .join(
            edges.groupBy("label").agg(
                F.count(F.lit(1)).cast("long").alias("n_edges")
            ),
            ["label"],
        )
    )
    return (
        base.join(tri, ["label"], "left")
        .select(
            "label",
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            pround(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0)
                    * F.coalesce(F.col("n_triangles"), F.lit(0)).cast(
                        "double"
                    )
                    / F.col("n_wedges").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("transitivity"),
        )
    )


PCA_Q = 256.0  # 2^8 per-component grid for the covariance pass
PCA_XQ = 4096  # 2^12 eigenvector grid inside the power iteration
PCA_ITERS = 64  # the corpus spectrum is nearly flat; 0.94^64 ~ convergence


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus — the
    standard embedding-QC projection (anisotropy check / "all vectors
    share one rogue direction" detection, and the first step of
    mean-centering + dominant-direction removal à la
    all-but-the-top).

    Engine-exact learned linear algebra, the ``ann_ivf_kmeans``
    discipline applied to PCA: components quantize to the 2⁸ integer
    grid, the mean is the INTEGER floor mean, the 64×64 scatter matrix
    ``C = Σ c·cᵀ`` accumulates in int64 (exact), and the 64 power
    iterations renormalize onto a 2¹² integer grid — every number both
    engines touch is an exact integer or an IEEE-deterministic
    division of two, so the DuckDB oracle re-learns the identical
    eigenvector by unrolling the same iterations as CTEs.

    Plan shape: one positional-aggregate pass for the mean (map-side
    combinable), one ``mapInPandas`` pass accumulating per-partition
    int64 outer products (64×64 numpy matmul per Arrow batch — the
    only Python in the operator, and it reduces each partition to ONE
    4096-cell row), a bounded driver fold of the ≤|partitions|
    partials, and a driver-side 64×64 iteration loop (Lloyd-loop
    precedent). The fact scans twice, shuffles never. Exactness bound:
    |y|∞ ≤ dim·max|C|·2¹² must stay under 2⁵³ — holds to ~10⁵ vectors
    per corpus at these grids; past that the moment products need
    decimal(38,0)/HUGEINT (the ``doc_outlier_mahalanobis`` treatment)
    or a sampled training set (the documented IVF posture at 100 TB).
    """
    dim, n_vecs, _m, C = _train_pca(spark, sf_dir)
    return pca_finish(spark, C, n_vecs, dim)


# PCA training (two bounded embedding passes) runs on EVERY invocation
# of embedding_pca_power / embedding_abtt_qc: the earlier per-process
# memo excluded it from the bench's steady-state min — removed in r12
# (the r11 gaming-check finding).


def _train_pca(spark: SparkSession, sf_dir: str):
    """(dim, n_vecs, integer mean, exact int scatter C) for the corpus."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(PCA_Q) + F.lit(0.5)).cast("long"),
    )
    qdf = emb.select(q.alias("q"))
    dim = qdf.select(F.size("q")).first()[0]
    # Component sums as ONE wide 1-row aggregate (dim sum columns +
    # count) instead of posexplode to (pos, v) rows — same exact
    # integer sums, dim× fewer rows through the partial aggregate.
    means = qdf.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("q", i + 1)).alias(f"s{i}") for i in range(dim)],
    ).first()
    n_vecs = means["n"]
    m = [
        int(__import__("math").floor(means[f"s{i}"] / n_vecs))
        for i in range(dim)
    ]

    def partials(it):
        import numpy as np
        import pandas as pd

        tot = np.zeros((dim, dim), dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            a = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            c = a - np.array(m, dtype=np.int64)
            tot += c.T @ c
        yield pd.DataFrame({"c": [tot.flatten().tolist()]})

    parts = qdf.mapInPandas(partials, "c array<long>").collect()
    C = [[0] * dim for _ in range(dim)]
    for row in parts:
        flat = row["c"]
        for j in range(dim):
            for k in range(dim):
                C[j][k] += flat[j * dim + k]
    return (dim, n_vecs, m, C)


def pca_top_vector(C, dim: int) -> list[int]:
    """The 2¹²-grid dominant eigenvector alone (the power-iteration
    core of :func:`pca_finish`, shared with the ABTT applier)."""
    import math

    x = [PCA_XQ] * dim
    for _ in range(PCA_ITERS):
        y = [sum(C[j][k] * x[k] for k in range(dim)) for j in range(dim)]
        mx = max(abs(v) for v in y)
        denom = mx if mx > 0 else 1
        x = [int(math.floor(v / denom * PCA_XQ + 0.5)) for v in y]
    return x


def pca_finish(spark, C, n_vecs: int, dim: int) -> DataFrame:
    """Driver-side power iteration + result assembly over an exact
    integer scatter matrix — the shared finisher of the batch operator
    and the streaming incremental-moments twin
    (streaming/incremental_pca.py), so the two paths can never drift:
    identical C ⟹ identical rows."""
    import math

    x = [PCA_XQ] * dim
    mx = 0
    for _ in range(PCA_ITERS):
        y = [sum(C[j][k] * x[k] for k in range(dim)) for j in range(dim)]
        mx = max(abs(v) for v in y)
        denom = mx if mx > 0 else 1
        x = [int(math.floor(v / denom * PCA_XQ + 0.5)) for v in y]
    trace = sum(C[j][j] for j in range(dim))
    lam = mx / PCA_XQ  # |y|inf / |x|inf — C-unit eigenvalue estimate
    var_top = lam / n_vecs / (PCA_Q * PCA_Q)
    var_share = lam / trace if trace > 0 else 0.0

    def p4(v: float) -> float:
        return math.floor(v * 10000.0 + 0.5) / 10000.0

    rows = [
        (
            j + 1,
            int(x[j]),
            p4(x[j] / PCA_XQ),
            p4(var_top),
            p4(var_share),
        )
        for j in range(dim)
    ]
    return spark.createDataFrame(
        rows,
        "dim int, loading_q long, loading double, "
        "var_top double, var_share double",
    )


ABTT_NQ = 65536.0  # per-vector norm quantization grid


def embedding_abtt_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top applied, with exact accounting — the standard
    embedding post-process (Mu & Viswanath 2018: subtract the mean,
    remove the dominant principal direction) as a QC report: per
    label, how much vector norm lives in the rogue common direction?
    A high reduction share means the raw embeddings are anisotropic
    and cosine similarities are inflated by the shared component.

    Exactness: reuses the cached integer-grid PCA training
    (:func:`_train_pca` — mean m and top direction x are exact-integer
    literals embedded in the plan). Per vector the residual norm uses
    the identity |c − (c·x̂)x̂|²·|x|² = |c|²|x|² − (c·x)² — every term
    an exact int64 (bounds in the PCA docstring), and the only
    non-integer steps are one int64→double cast (IEEE-defined) and
    ``sqrt`` (correctly rounded by IEEE 754 in BOTH engines — safe
    where exp/log are not). Norms quantize to a 2¹⁶ grid before the
    order-free integer sum. The oracle re-learns m and x through the
    same unrolled CTEs and replays the identity.
    """
    dim, _n, m, C = _train_pca(spark, sf_dir)
    x = pca_top_vector(C, dim)
    n2x = sum(v * v for v in x)
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda v: F.floor(v * F.lit(PCA_Q) + F.lit(0.5)).cast("long"),
    )
    c = F.zip_with(qv, F.lit(m), lambda a, b: a - b)
    zero = F.lit(0).cast("long")
    d = F.aggregate(
        F.zip_with(c, F.lit(x), lambda a, b: a * b), zero, lambda acc, v: acc + v
    )
    n2v = F.aggregate(
        F.transform(c, lambda v: v * v), zero, lambda acc, v: acc + v
    )
    per = emb.select(
        "label",
        d.alias("d"),
        n2v.alias("n2v"),
    ).select(
        "label",
        F.floor(
            F.sqrt(F.col("n2v").cast("double")) / F.lit(PCA_Q) * F.lit(ABTT_NQ)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nb_q"),
        F.floor(
            F.sqrt(
                (
                    F.col("n2v") * F.lit(n2x) - F.col("d") * F.col("d")
                ).cast("double")
                / F.lit(float(n2x))
            )
            / F.lit(PCA_Q)
            * F.lit(ABTT_NQ)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("na_q"),
    )
    g = per.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("nb_q").cast("long").alias("snb"),
        F.sum("na_q").cast("long").alias("sna"),
    )
    return g.select(
        "label",
        "n_vecs",
        pround(
            F.col("snb").cast("double")
            / F.col("n_vecs").cast("double")
            / F.lit(ABTT_NQ)
        ).alias("mean_norm_before"),
        pround(
            F.col("sna").cast("double")
            / F.col("n_vecs").cast("double")
            / F.lit(ABTT_NQ)
        ).alias("mean_norm_after"),
        pround(
            F.lit(1.0)
            - F.col("sna").cast("double") / F.col("snb").cast("double")
        ).alias("norm_reduction_share"),
    )


QUERIES = {
    "ann_topk_cosine": ann_topk_cosine,
    "embedding_abtt_qc": embedding_abtt_qc,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_kmeans": ann_ivf_kmeans,
    "embedding_centroids": embedding_centroids,
    "embedding_pq_codes": embedding_pq_codes,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "hard_negative_mining": hard_negative_mining,
    "embedding_sq8": embedding_sq8,
    "ann_range_search": ann_range_search,
    "embedding_qc": embedding_qc,
    "semantic_dedup": semantic_dedup,
    "doc_outlier_mahalanobis": doc_outlier_mahalanobis,
    "ann_recall_report": ann_recall_report,
    "triangle_count": triangle_count,
    "embedding_pca_power": embedding_pca_power,
}

_COS = cosine_sql("p.probe_emb", "e.embedding")

ORACLES = {
    "embedding_qc": f"""
        WITH base AS (
            SELECT label,
                   CAST(FLOOR(sqrt({dot_sql('embedding', 'embedding')})
                        * {NORM_QUANT} + 0.5) AS BIGINT) AS q,
                   len(embedding) AS dim
            FROM embeddings
        ),
        g AS (
            SELECT label,
                   CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_dims,
                   CAST(MIN(q) AS BIGINT) AS q_min,
                   CAST(MAX(q) AS BIGINT) AS q_max,
                   CAST(SUM(q) AS BIGINT) AS q_sum,
                   CAST(SUM(CASE WHEN ABS(q - {NORM_QUANT}) > {NONUNIT_TOL}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_nonunit
            FROM base GROUP BY 1
        )
        SELECT label, n_vecs, n_dims,
               {pround_sql(f"CAST(q_min AS DOUBLE) / {NORM_QUANT}")} AS min_norm,
               {pround_sql(f"CAST(q_sum AS DOUBLE) / CAST(n_vecs AS DOUBLE) / {NORM_QUANT}")} AS mean_norm,
               {pround_sql(f"CAST(q_max AS DOUBLE) / {NORM_QUANT}")} AS max_norm,
               n_nonunit
        FROM g
    """,
    "ann_range_search": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS probe_emb
            FROM embeddings WHERE vec_id < {N_PROBES}
        )
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               (FLOOR(CAST(({_COS}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
        FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id
        WHERE (FLOOR(CAST(({_COS}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) >= {RANGE_SEARCH_T}
    """,
    "embedding_pq_codes": f"""
        WITH seeds AS (
            SELECT embedding,
                   ROW_NUMBER() OVER (
                       ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS k
            FROM embeddings
            ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))
            LIMIT {PQ_K}
        ),
        grid AS (SELECT unnest(range(0, {PQ_S})) AS s),
        dists AS (
            SELECT e.vec_id, g.s AS subspace, c.k,
                   {_pq_dist_sql('g.s')} AS d
            FROM embeddings e CROSS JOIN grid g CROSS JOIN seeds c
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id, subspace ORDER BY d, k) AS rn
            FROM dists
        )
        SELECT vec_id, CAST(subspace AS INTEGER) AS subspace,
               CAST(k AS INTEGER) AS code
        FROM r WHERE rn = 1
    """,
    "ann_ivfpq_topk": f"""
        WITH seeds AS (
            SELECT embedding,
                   ROW_NUMBER() OVER (
                       ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS k
            FROM embeddings
            ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))
            LIMIT {PQ_K}
        ),
        grid AS (SELECT unnest(range(0, {PQ_S})) AS s),
        dists AS (
            SELECT e.vec_id, g.s AS subspace, c.k,
                   {_pq_dist_sql('g.s')} AS d
            FROM embeddings e CROSS JOIN grid g CROSS JOIN seeds c
        ),
        codes AS (
            SELECT vec_id, subspace, k AS code FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, subspace ORDER BY d, k) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS probe_id, label AS probe_label,
                   embedding AS probe_emb
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        lut AS (
            SELECT p.probe_id, p.probe_label, g.s AS subspace, c.k,
                   {_pq_dist_sql('g.s', left='p.probe_emb')} AS t
            FROM probes p CROSS JOIN grid g CROSS JOIN seeds c
        ),
        cand AS (
            SELECT c.vec_id, e.label, c.subspace, c.code
            FROM codes c JOIN embeddings e USING (vec_id)
        ),
        terms AS (
            SELECT l.probe_id, c.vec_id AS neighbor_id, c.subspace, l.t
            FROM cand c JOIN lut l
              ON c.label = l.probe_label AND c.subspace = l.subspace
                 AND c.code = l.k AND c.vec_id <> l.probe_id
        ),
        adc AS (
            SELECT probe_id, neighbor_id,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(t ORDER BY subspace)),
                       (a, x) -> a + x) AS adc
            FROM terms GROUP BY 1, 2
        )
        SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
               {pround_sql('adc')} AS adc_dist
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY adc, neighbor_id) AS rank
            FROM adc
        ) WHERE rank <= {TOP_K}
    """,
    "embedding_centroids": f"""
        WITH comp AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {CENTROID_Q} + 0.5) AS BIGINT) AS q
            FROM embeddings
        )
        SELECT label, pos,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               (FLOOR(CAST((CAST(SUM(q) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * {float(CENTROID_Q)})) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS centroid
        FROM comp
        GROUP BY 1, 2
    """,
    "doc_outlier_mahalanobis": f"""
        WITH comp AS (
            SELECT vec_id, label,
                   CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {CENTROID_Q} + 0.5) AS BIGINT) AS q
            FROM embeddings
        ),
        stats AS (
            SELECT label, pos,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(q) AS BIGINT) AS s,
                   CAST(SUM(q * q) AS BIGINT) AS ssq
            FROM comp GROUP BY 1, 2
        ),
        terms AS (
            -- HUGEINT products: BIGINT n*ssq - s*s wraps/raises past
            -- ~4e4 rows per label; int128 is exact to ~1e9 (matches
            -- the Spark side's decimal(38,0)).
            SELECT c.vec_id, c.label, c.pos,
                   CASE WHEN CAST(t.n AS HUGEINT) * t.ssq
                             - CAST(t.s AS HUGEINT) * t.s > 0 THEN
                       CAST((CAST(c.q AS HUGEINT) * t.n - t.s)
                            * (CAST(c.q AS HUGEINT) * t.n - t.s) AS DOUBLE)
                       / CAST(CAST(t.n AS HUGEINT) * t.ssq
                              - CAST(t.s AS HUGEINT) * t.s AS DOUBLE)
                   ELSE 0.0 END AS t
            FROM comp c JOIN stats t USING (label, pos)
        ),
        per AS (
            SELECT vec_id, label,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY pos)),
                       (acc, x) -> acc + x) AS d2
            FROM terms GROUP BY 1, 2
        )
        SELECT vec_id, label,
               {pround_sql('d2')} AS maha_d2,
               d2 > {MAHA_FLAG} AS outlier
        FROM per
    """,
    "ann_topk_cosine": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS probe_emb
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id AS neighbor_id,
                   (FLOOR(CAST(({_COS}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
            FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id
        )
        SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "embedding_sq8": f"""
        WITH comp AS (
            SELECT vec_id, label,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        stats AS (
            SELECT pos, MIN(x) AS mn, MAX(x) AS mx
            FROM comp GROUP BY 1
        ),
        j AS (
            SELECT c.vec_id, c.label, c.x, s.mn, s.mx,
                   CASE WHEN s.mx > s.mn THEN
                       CAST(FLOOR((c.x - s.mn) * 255.0 / (s.mx - s.mn) + 0.5) AS BIGINT)
                   ELSE 0 END AS code
            FROM comp c JOIN stats s USING (pos)
        ),
        e AS (
            SELECT vec_id, label,
                   abs(mn + CAST(code AS DOUBLE) * ((mx - mn) / 255.0) - x) AS err,
                   CASE WHEN code = 0 OR code = 255 THEN 1 ELSE 0 END AS sat
            FROM j
        )
        SELECT vec_id, label,
               {pround_sql('MAX(err)')} AS max_abs_err,
               CAST(SUM(sat) AS BIGINT) AS n_saturated
        FROM e GROUP BY 1, 2
    """,
    "hard_negative_mining": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, label AS probe_label,
                   embedding AS probe_emb
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id AS neighbor_id,
                   e.label AS neg_label,
                   (FLOOR(CAST(({_COS}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
            FROM embeddings e JOIN probes p ON e.label <> p.probe_label
        )
        SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
               neg_label, cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "ann_ivf_topk": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, label AS probe_label, embedding AS probe_emb
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id AS neighbor_id,
                   (FLOOR(CAST(({_COS}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
            FROM embeddings e
            JOIN probes p ON e.label = p.probe_label AND e.vec_id <> p.probe_id
        )
        SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
}


def _kmeans_asn_sql(out: str, cents: str, cols: str) -> str:
    """One exact L2 assignment pass against centroid table ``cents``:
    row_number over (|c|² − 2·q·c, cell) — first place ties with the
    Spark side's first-occurrence array_position argmin."""
    return f"""
        {out} AS (
            SELECT {cols}, cell FROM (
                SELECT v.*, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY c.c2 - 2 * list_dot_product(v.q, c.cvec),
                                    c.cell
                       ) AS rn
                FROM qv v CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""


def _kmeans_round_sql(i: int, prev: str) -> str:
    """One unrolled Lloyd round: assignment against ``prev``, then the
    centroid update floor(sum/count + 0.5) per (cell, pos) — the same
    IEEE division the Spark driver loop performs on the same exact
    integers. Empty cells keep the previous centroid (LEFT JOIN)."""
    return f"""{_kmeans_asn_sql(f"asn{i}", prev, "vec_id, q")},
        upd{i} AS (
            SELECT cell,
                   list(CAST(FLOOR(s / CAST(n AS DOUBLE) + 0.5) AS DOUBLE)
                        ORDER BY pos) AS cvec
            FROM (
                SELECT cell, pos, SUM(x) AS s, CAST(COUNT(*) AS BIGINT) AS n
                FROM (
                    SELECT cell,
                           unnest(range(1, len(q) + 1)) AS pos,
                           unnest(q) AS x
                    FROM asn{i}
                ) GROUP BY 1, 2
            ) GROUP BY cell
        ),
        cent{i} AS (
            SELECT p.cell,
                   COALESCE(u.cvec, p.cvec) AS cvec,
                   list_dot_product(COALESCE(u.cvec, p.cvec),
                                    COALESCE(u.cvec, p.cvec)) AS c2
            FROM {prev} p LEFT JOIN upd{i} u USING (cell)
        )"""


def _kmeans_oracle_sql() -> str:
    """DuckDB twin of the FULL learned-quantizer path: re-trains the
    identical integer-grid k-means (init + unrolled Lloyd rounds),
    re-assigns the corpus, probes n_probe cells, exact-cosine ranks.
    Engine-exact end to end except the final cosine, which is pround-
    guarded exactly like the other ANN oracles."""
    rounds = ",".join(
        _kmeans_round_sql(i + 1, f"cent{i}") for i in range(ANN_KMEANS_ITERS)
    )
    final = f"cent{ANN_KMEANS_ITERS}"
    cos = cosine_sql("p.probe_emb", "a.e")
    return f"""
        WITH qv AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS e,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE)
                   ) AS q
            FROM embeddings
        ),
        cent0 AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
                   q AS cvec,
                   list_dot_product(q, q) AS c2
            FROM (SELECT vec_id, q FROM qv WHERE q IS NOT NULL
                  ORDER BY md5(CAST(vec_id AS VARCHAR))
                  LIMIT {ANN_KMEANS_K})
        ),
        {rounds},
        {_kmeans_asn_sql("asnf", final, "vec_id, e")},
        pcells AS (
            SELECT probe_id, probe_emb, cell FROM (
                SELECT p.vec_id AS probe_id, p.e AS probe_emb, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY c.c2 - 2 * list_dot_product(p.q, c.cvec),
                                    c.cell
                       ) AS rn
                FROM (SELECT * FROM qv WHERE vec_id < {N_PROBES}) p
                CROSS JOIN {final} c
            ) WHERE rn <= {ANN_KMEANS_NPROBE}
        ),
        scored AS (
            SELECT p.probe_id, a.vec_id AS neighbor_id,
                   (FLOOR(CAST(({cos}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cos_sim
            FROM pcells p JOIN asnf a USING (cell)
            WHERE a.vec_id <> p.probe_id
        )
        SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """


ORACLES["ann_ivf_kmeans"] = _kmeans_oracle_sql()


def _semantic_dedup_oracle_sql() -> str:
    """DuckDB twin of :func:`semantic_dedup`: re-learns the identical
    integer-grid quantizer (same unrolled Lloyd CTEs as the
    ``ann_ivf_kmeans`` oracle), re-assigns the corpus, then replays
    the within-cell pround-cosine threshold and the lowest-id
    canonical pick."""
    rounds = ",".join(
        _kmeans_round_sql(i + 1, f"cent{i}") for i in range(ANN_KMEANS_ITERS)
    )
    final = f"cent{ANN_KMEANS_ITERS}"
    cos = cosine_sql("a.e", "b.e")
    return f"""
        WITH qv AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS e,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE)
                   ) AS q
            FROM embeddings
        ),
        cent0 AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
                   q AS cvec,
                   list_dot_product(q, q) AS c2
            FROM (SELECT vec_id, q FROM qv WHERE q IS NOT NULL
                  ORDER BY md5(CAST(vec_id AS VARCHAR))
                  LIMIT {ANN_KMEANS_K})
        ),
        {rounds},
        {_kmeans_asn_sql("asnf", final, "vec_id, e")},
        dom AS (
            SELECT vec_id, MIN(dup_id) AS dominated_by,
                   CAST(COUNT(*) AS BIGINT) AS n_near,
                   MAX(s) AS max_sim
            FROM (
                SELECT a.vec_id, b.vec_id AS dup_id,
                       (FLOOR(CAST(({cos}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS s
                FROM asnf a JOIN asnf b USING (cell)
                WHERE b.vec_id < a.vec_id
            )
            WHERE s >= {SEMDEDUP_T}
            GROUP BY 1
        )
        SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
               d.dominated_by IS NULL AS kept,
               CAST(COALESCE(d.dominated_by, -1) AS BIGINT) AS dominated_by,
               CAST(COALESCE(d.n_near, 0) AS BIGINT) AS n_near,
               COALESCE(d.max_sim, 0.0) AS max_sim
        FROM asnf a LEFT JOIN dom d USING (vec_id)
    """


ORACLES["semantic_dedup"] = _semantic_dedup_oracle_sql()


def _ann_recall_oracle_sql() -> str:
    """DuckDB twin of :func:`ann_recall_report`: re-learns the
    identical quantizer (shared unrolled-Lloyd CTEs), replays the
    exact full-scan top-k and the per-nprobe pruned search, and
    counts the overlap."""
    rounds = ",".join(
        _kmeans_round_sql(i + 1, f"cent{i}") for i in range(ANN_KMEANS_ITERS)
    )
    final = f"cent{ANN_KMEANS_ITERS}"
    cos_exact = cosine_sql("p.e", "e.e")
    cos_cand = cosine_sql("p.probe_emb", "a.e")
    levels = ", ".join(str(n) for n in RECALL_NPROBES)
    return f"""
        WITH qv AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS e,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE)
                   ) AS q
            FROM embeddings
        ),
        cent0 AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
                   q AS cvec,
                   list_dot_product(q, q) AS c2
            FROM (SELECT vec_id, q FROM qv WHERE q IS NOT NULL
                  ORDER BY md5(CAST(vec_id AS VARCHAR))
                  LIMIT {ANN_KMEANS_K})
        ),
        {rounds},
        {_kmeans_asn_sql("asnf", final, "vec_id, e")},
        exact AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY (FLOOR(CAST(({cos_exact}) AS DOUBLE)
                                     * 10000.0 + 0.5) / 10000.0) DESC,
                                    e.vec_id ASC) AS rank
                FROM (SELECT * FROM qv WHERE vec_id < {N_PROBES}) p
                JOIN qv e ON e.vec_id <> p.vec_id
            ) WHERE rank <= {TOP_K}
        ),
        pcells AS (
            SELECT probe_id, probe_emb, cell, rn FROM (
                SELECT p.vec_id AS probe_id, p.e AS probe_emb, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY c.c2 - 2 * list_dot_product(p.q, c.cvec),
                                    c.cell
                       ) AS rn
                FROM (SELECT * FROM qv WHERE vec_id < {N_PROBES}) p
                CROSS JOIN {final} c
            ) WHERE rn <= {max(RECALL_NPROBES)}
        ),
        cand AS (
            SELECT l.np AS nprobe, p.probe_id, a.vec_id AS neighbor_id,
                   (FLOOR(CAST(({cos_cand}) AS DOUBLE) * 10000.0 + 0.5)
                        / 10000.0) AS cos_sim
            FROM (SELECT unnest([{levels}]) AS np) l
            JOIN pcells p ON p.rn <= l.np
            JOIN asnf a USING (cell)
            WHERE a.vec_id <> p.probe_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY nprobe, probe_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM cand
        ),
        n_cand AS (
            SELECT nprobe, probe_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
            FROM cand GROUP BY 1, 2
        ),
        hits AS (
            SELECT r.nprobe, r.probe_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM ranked r JOIN exact x
              ON r.probe_id = x.probe_id AND r.neighbor_id = x.neighbor_id
            WHERE r.rank <= {TOP_K}
            GROUP BY 1, 2
        )
        SELECT CAST(c.nprobe AS INT) AS nprobe, c.probe_id, c.n_candidates,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               {pround_sql(f'CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(TOP_K)}')}
                   AS recall_at_k
        FROM n_cand c LEFT JOIN hits h
          ON c.nprobe = h.nprobe AND c.probe_id = h.probe_id
    """


ORACLES["ann_recall_report"] = _ann_recall_oracle_sql()


def _triangle_count_oracle_sql() -> str:
    return f"""
        WITH emb AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        edges AS (
            SELECT a.label, a.vec_id AS u, b.vec_id AS v
            FROM emb a
            JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
                  >= {COSINE_NEARDUP_THRESHOLD}
        ),
        deg AS (
            SELECT label, node, COUNT(*) AS d
            FROM (
                SELECT label, u AS node FROM edges
                UNION ALL
                SELECT label, v AS node FROM edges
            ) GROUP BY 1, 2
        ),
        oriented AS (
            SELECT e.label,
                   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                        THEN e.u ELSE e.v END AS src,
                   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                        THEN e.v ELSE e.u END AS dst,
                   CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                        THEN dv.d ELSE du.d END AS dd
            FROM edges e
            JOIN deg du ON du.label = e.label AND du.node = e.u
            JOIN deg dv ON dv.label = e.label AND dv.node = e.v
        ),
        tri AS (
            SELECT e1.label, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM oriented e1
            JOIN oriented e2
              ON e1.label = e2.label AND e1.src = e2.src
             AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
            JOIN oriented e3
              ON e3.label = e1.label AND e3.src = e1.dst AND e3.dst = e2.dst
            GROUP BY 1
        ),
        base AS (
            SELECT d.label,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d.d * (d.d - 1)) / 2 AS BIGINT) AS n_wedges
            FROM deg d GROUP BY 1
        ),
        ec AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_edges
            FROM edges GROUP BY 1
        )
        SELECT base.label, n_nodes, n_edges, n_wedges,
               CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
               {pround_sql(
                   "CASE WHEN n_wedges > 0 THEN 3.0 * "
                   "CAST(COALESCE(tri.n_triangles, 0) AS DOUBLE) "
                   "/ CAST(n_wedges AS DOUBLE) ELSE 0.0 END"
               )} AS transitivity
        FROM base
        JOIN ec ON ec.label = base.label
        LEFT JOIN tri ON tri.label = base.label
    """


ORACLES["triangle_count"] = _triangle_count_oracle_sql()


def _pca_oracle_sql() -> str:
    iters = []
    for i in range(1, PCA_ITERS + 1):
        iters.append(f"""
        y{i} AS MATERIALIZED (
            SELECT c.j, CAST(SUM(c.cv * x.xv) AS BIGINT) AS yv
            FROM cmat c JOIN x{i - 1} x ON c.k = x.j
            GROUP BY c.j
        ),
        mx{i} AS MATERIALIZED (
            SELECT CASE WHEN MAX(ABS(yv)) > 0 THEN MAX(ABS(yv))
                   ELSE 1 END AS m
            FROM y{i}
        ),
        x{i} AS MATERIALIZED (
            SELECT j, CAST(FLOOR(CAST(yv AS DOUBLE) / CAST(m AS DOUBLE)
                        * {PCA_XQ} + 0.5) AS BIGINT) AS xv
            FROM y{i}, mx{i}
        )""")
    return f"""
        WITH comp AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                        * {PCA_Q} + 0.5) AS BIGINT) AS q
            FROM embeddings
        ),
        means AS (
            SELECT pos,
                   CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                       AS m,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM comp GROUP BY pos
        ),
        cent AS (
            SELECT c.vec_id, c.pos, c.q - m.m AS c
            FROM comp c JOIN means m USING (pos)
        ),
        cmat AS MATERIALIZED (
            SELECT a.pos AS j, b.pos AS k,
                   CAST(SUM(a.c * b.c) AS BIGINT) AS cv
            FROM cent a JOIN cent b USING (vec_id)
            GROUP BY 1, 2
        ),
        x0 AS (
            SELECT DISTINCT pos AS j, CAST({PCA_XQ} AS BIGINT) AS xv
            FROM comp
        ),{",".join(iters)},
        scalars AS (
            SELECT (SELECT CAST(m AS DOUBLE) FROM mx{PCA_ITERS})
                       / {PCA_XQ} AS lam,
                   (SELECT CAST(SUM(cv) AS DOUBLE) FROM cmat WHERE j = k)
                       AS trace,
                   (SELECT MAX(n) FROM means) AS n_vecs
        )
        SELECT CAST(x.j AS INTEGER) AS dim,
               x.xv AS loading_q,
               {pround_sql(f'CAST(x.xv AS DOUBLE) / {PCA_XQ}')} AS loading,
               {pround_sql(
                   f'lam / n_vecs / ({PCA_Q} * {PCA_Q})'
               )} AS var_top,
               {pround_sql(
                   'CASE WHEN trace > 0 THEN lam / trace ELSE 0.0 END'
               )} AS var_share
        FROM x{PCA_ITERS} x, scalars
    """


ORACLES["embedding_pca_power"] = _pca_oracle_sql()


def _abtt_oracle_sql() -> str:
    # reuse the PCA CTE chain (comp/means/cent/cmat/x0..xN), then apply
    # the residual-norm identity per vector
    pca = _pca_oracle_sql()
    chain = pca[pca.index("WITH") + 4 : pca.index(",\n        scalars AS")]
    return f"""
        WITH {chain},
        n2x AS (
            SELECT CAST(SUM(xv * xv) AS BIGINT) AS v FROM x{PCA_ITERS}
        ),
        per AS (
            SELECT c.vec_id,
                   CAST(SUM(c.c * x.xv) AS BIGINT) AS d,
                   CAST(SUM(c.c * c.c) AS BIGINT) AS n2v
            FROM cent c JOIN x{PCA_ITERS} x ON x.j = c.pos
            GROUP BY 1
        ),
        qn AS (
            SELECT e.label,
                   CAST(FLOOR(sqrt(CAST(p.n2v AS DOUBLE)) / {PCA_Q}
                        * {ABTT_NQ} + 0.5) AS BIGINT) AS nb_q,
                   CAST(FLOOR(sqrt(
                        CAST(p.n2v * n2x.v - p.d * p.d AS DOUBLE)
                        / CAST(n2x.v AS DOUBLE)
                   ) / {PCA_Q} * {ABTT_NQ} + 0.5) AS BIGINT) AS na_q
            FROM per p
            JOIN embeddings e ON e.vec_id = p.vec_id, n2x
        ),
        g AS (
            SELECT label,
                   CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(SUM(nb_q) AS BIGINT) AS snb,
                   CAST(SUM(na_q) AS BIGINT) AS sna
            FROM qn GROUP BY 1
        )
        SELECT label, n_vecs,
               {pround_sql(
                   f'CAST(snb AS DOUBLE) / CAST(n_vecs AS DOUBLE) / {ABTT_NQ}'
               )} AS mean_norm_before,
               {pround_sql(
                   f'CAST(sna AS DOUBLE) / CAST(n_vecs AS DOUBLE) / {ABTT_NQ}'
               )} AS mean_norm_after,
               {pround_sql(
                   '1.0 - CAST(sna AS DOUBLE) / CAST(snb AS DOUBLE)'
               )} AS norm_reduction_share
        FROM g
    """


ORACLES["embedding_abtt_qc"] = _abtt_oracle_sql()


KCENTER_K = 6  # coreset size (unrolled in the oracle — keep small)


def kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal — the 2-approximation every coreset/diversity-sampling
    pipeline uses): seed with the lowest vec_id, then repeatedly add
    the vector FARTHEST from the selected set, reporting each pick
    with the coverage radius (max over the corpus of distance-to-
    nearest-center) after it joins. Training-data curation uses the
    picks as a diversity sample and the radius curve to choose k (the
    knee where coverage stops improving).

    Scale shape: k−1 rounds, each ONE corpus scan computing
    d²(v, new_center) from the precomputed |v|² and a dot against the
    center literal (dim-bounded), one running LEAST against the
    carried min-distance column, and a 1-row argmax aggregate — the
    driver holds only k centers (k × dim doubles, the Lloyd-loop
    collect bound). The scan-per-round cost is the greedy algorithm's
    inherent k passes; production posture at 100 TB is the documented
    ``ann_ivf_kmeans`` sample-training stance.

    Exactness: vectors snap to the 2^16 integer grid (``_qvec``), so
    every d² is an exact integer below 2^53 — selection compares and
    the radius reports exact integers; ties on distance break to the
    lower vec_id in both engines.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    qv = emb.select(
        "vec_id", _qvec(F.col("embedding")).alias("q")
    ).withColumn("v2", dot(F.col("q"), F.col("q")))
    qv = qv.localCheckpoint(eager=True)

    seed = qv.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, int(seed["vec_id"]), list(seed["q"]), float(seed["v2"]))]

    def d2_to(c_q: list, c_v2: float) -> "F.Column":
        c_lit = F.lit(c_q).cast("array<double>")
        return (
            F.col("v2")
            + F.lit(c_v2)
            - F.lit(2.0) * dot(F.col("q"), c_lit)
        )

    state = qv.select(
        "vec_id", "q", "v2", d2_to(centers[0][2], centers[0][3]).alias("md")
    ).localCheckpoint(eager=True)
    release_checkpoint(qv)
    radii = []
    for i in range(2, KCENTER_K + 1):
        # ONE TakeOrdered job per round: the argmax row (ties to the
        # lower vec_id) carries the pick, its vector, AND the radius
        # (its md IS max(md) by construction)
        crow = (
            state.orderBy(F.col("md").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        radii.append(float(crow["md"]))
        centers.append(
            (i, int(crow["vec_id"]), list(crow["q"]), float(crow["v2"]))
        )
        nxt = state.select(
            "vec_id",
            "q",
            "v2",
            F.least(
                F.col("md"), d2_to(list(crow["q"]), float(crow["v2"]))
            ).alias("md"),
        ).localCheckpoint(eager=True)
        release_checkpoint(state)
        state = nxt
    radii.append(float(state.agg(F.max("md")).collect()[0][0]))
    release_checkpoint(state)
    rows = [
        (order, vid, int(radii[order - 1]))
        for order, vid, _, _ in centers
    ]
    return spark.createDataFrame(
        rows, "sel_order int, vec_id long, radius_d2 long"
    )


QUERIES["kcenter_sample"] = kcenter_sample


def _kcenter_oracle_sql() -> str:
    """Unrolled farthest-point traversal: m_i carries each vector's
    min-d² to the first i centers; c_i picks the argmax (ties to the
    lower vec_id); radius_i = max(md) AFTER center i joins."""
    steps = []
    sel = [
        "SELECT 1 AS sel_order, vec_id,"
        " CAST((SELECT MAX(md) FROM m1) AS BIGINT) AS radius_d2 FROM c1"
    ]
    steps.append(
        "c1 AS (SELECT vec_id, q, v2 FROM qv ORDER BY vec_id LIMIT 1)"
    )
    steps.append(
        "m1 AS (SELECT v.vec_id, v.q, v.v2,"
        " v.v2 + c.v2 - 2 * list_dot_product(v.q, c.q) AS md"
        " FROM qv v, c1 c)"
    )
    for i in range(2, KCENTER_K + 1):
        steps.append(
            f"c{i} AS (SELECT vec_id, q, v2 FROM m{i-1}"
            f" ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        steps.append(
            f"m{i} AS (SELECT v.vec_id, v.q, v.v2,"
            f" LEAST(v.md, v.v2 + c.v2"
            f" - 2 * list_dot_product(v.q, c.q)) AS md"
            f" FROM m{i-1} v, c{i} c)"
        )
        sel.append(
            f"SELECT {i} AS sel_order, vec_id,"
            f" CAST((SELECT MAX(md) FROM m{i}) AS BIGINT) AS radius_d2"
            f" FROM c{i}"
        )
    qv = (
        "qv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        f" x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE)) AS q,"
        " list_dot_product(list_transform(CAST(embedding AS DOUBLE[]),"
        f" x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE)),"
        " list_transform(CAST(embedding AS DOUBLE[]),"
        f" x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE))) AS v2"
        " FROM embeddings)"
    )
    return (
        "WITH " + ",\n".join([qv] + steps) + "\n"
        + " UNION ALL ".join(sel)
    )


ORACLES["kcenter_sample"] = _kcenter_oracle_sql()


NMI_Q = 1048576.0  # 2^20 entropy/MI contribution grid


def cluster_label_nmi(
    spark: SparkSession,
    sf_dir: str,
    k: int = ANN_KMEANS_K,
    iters: int = ANN_KMEANS_ITERS,
) -> DataFrame:
    """Clustering-quality audit: normalized mutual information between
    the LEARNED k-means cell and the ground-truth label — the
    standard external clustering metric (NMI, arithmetic-mean
    normalization). The ANN family trains the quantizer and measures
    recall; this measures whether the cells mean anything: NMI ≈ 0
    says the index partitions geometry orthogonal to labels (the
    documented regime of this near-uniform corpus), NMI → 1 says
    cells recover the labeling. One row per (cell, label) with the
    contingency count, plus the corpus MI/H/NMI replicated per row
    (the ``benford_digit_test`` report shape).

    Scale shape: the trained centroids are the cached driver-side
    quantizer (k×dim, the Lloyd collect bound); assignment is a pure
    projection; everything after is windows over the (k × labels)-
    BOUNDED contingency table — entropy terms attach to the first
    row of each cell/label group (row_number flag) so no extra join
    or 1-row broadcast appears. Exactness: counts exact; each
    ln-term snaps to the 2^20 grid and sums exactly
    (quantize-then-sum); divisions/normalization are the identical
    expression tree in both engines.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    cents = _train_kmeans(emb, k, iters)
    qe = emb.select("vec_id", "label", _qvec(F.col("embedding")).alias("q"))
    dists = _l2_dists(F.col("q"), cents)
    cell = F.array_position(dists, F.array_min(dists)) - 1
    cont = (
        qe.select(cell.cast("int").alias("cell"), "label")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    wall = Window.partitionBy()
    wc = Window.partitionBy("cell")
    wl = Window.partitionBy("label")
    rn_c = F.row_number().over(Window.partitionBy("cell").orderBy("label"))
    rn_l = F.row_number().over(Window.partitionBy("label").orderBy("cell"))
    m = cont.select(
        "cell",
        "label",
        "n_obs",
        F.sum("n_obs").over(wc).alias("n_c"),
        F.sum("n_obs").over(wl).alias("n_l"),
        F.sum("n_obs").over(wall).alias("n"),
        (rn_c == 1).alias("first_c"),
        (rn_l == 1).alias("first_l"),
    )
    nd = F.col("n").cast("double")
    mi_term = F.col("n_obs").cast("double") * F.log(
        (F.col("n_obs").cast("double") * nd)
        / (F.col("n_c").cast("double") * F.col("n_l").cast("double"))
    )
    hc_term = F.col("n_c").cast("double") * F.log(
        F.col("n_c").cast("double") / nd
    )
    hl_term = F.col("n_l").cast("double") * F.log(
        F.col("n_l").cast("double") / nd
    )
    qz = lambda c: F.floor(c * F.lit(NMI_Q) + F.lit(0.5)).cast("long")
    scored = m.select(
        "cell",
        "label",
        "n_obs",
        "n",
        qz(mi_term).alias("mi_q"),
        F.when(F.col("first_c"), qz(hc_term)).otherwise(F.lit(0)).alias("hc_q"),
        F.when(F.col("first_l"), qz(hl_term)).otherwise(F.lit(0)).alias("hl_q"),
    )
    mi = F.sum("mi_q").over(wall).cast("double") / F.lit(NMI_Q) / nd
    hc = -(F.sum("hc_q").over(wall).cast("double") / F.lit(NMI_Q) / nd)
    hl = -(F.sum("hl_q").over(wall).cast("double") / F.lit(NMI_Q) / nd)
    nmi = (F.lit(2.0) * mi) / (hc + hl)
    return scored.select(
        "cell",
        "label",
        "n_obs",
        pround(mi).alias("mi_nats"),
        pround(hc).alias("h_cell"),
        pround(hl).alias("h_label"),
        pround(nmi).alias("nmi"),
    )


QUERIES["cluster_label_nmi"] = cluster_label_nmi


def _cluster_label_nmi_oracle_sql() -> str:
    """Re-learns the identical quantizer (shared unrolled-Lloyd CTEs),
    re-assigns, then replays the windowed contingency arithmetic."""
    rounds = ",".join(
        _kmeans_round_sql(i + 1, f"cent{i}") for i in range(ANN_KMEANS_ITERS)
    )
    final = f"cent{ANN_KMEANS_ITERS}"
    return f"""
        WITH qv AS (
            SELECT vec_id, label,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE)
                   ) AS q
            FROM embeddings
        ),
        cent0 AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell,
                   q AS cvec,
                   list_dot_product(q, q) AS c2
            FROM (SELECT vec_id, q FROM qv WHERE q IS NOT NULL
                  ORDER BY md5(CAST(vec_id AS VARCHAR))
                  LIMIT {ANN_KMEANS_K})
        ),
        {rounds},
        {_kmeans_asn_sql("asnf", final, "vec_id, label")},
        cont AS (
            SELECT CAST(cell AS INTEGER) AS cell, label,
                   CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM asnf GROUP BY 1, 2
        ),
        m AS (
            SELECT cell, label, n_obs,
                   CAST(SUM(n_obs) OVER (PARTITION BY cell) AS BIGINT) AS n_c,
                   CAST(SUM(n_obs) OVER (PARTITION BY label) AS BIGINT) AS n_l,
                   CAST(SUM(n_obs) OVER () AS BIGINT) AS n,
                   ROW_NUMBER() OVER (
                       PARTITION BY cell ORDER BY label) = 1 AS first_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY label ORDER BY cell) = 1 AS first_l
            FROM cont
        ),
        scored AS (
            SELECT cell, label, n_obs, n,
                   CAST(FLOOR(CAST(n_obs AS DOUBLE)
                       * ln((CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE))
                            / (CAST(n_c AS DOUBLE) * CAST(n_l AS DOUBLE)))
                       * {NMI_Q} + 0.5) AS BIGINT) AS mi_q,
                   CASE WHEN first_c THEN CAST(FLOOR(CAST(n_c AS DOUBLE)
                       * ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
                       * {NMI_Q} + 0.5) AS BIGINT) ELSE 0 END AS hc_q,
                   CASE WHEN first_l THEN CAST(FLOOR(CAST(n_l AS DOUBLE)
                       * ln(CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE))
                       * {NMI_Q} + 0.5) AS BIGINT) ELSE 0 END AS hl_q
            FROM m
        )
        SELECT cell, label, n_obs,
               {pround_sql(
                   f'CAST(SUM(mi_q) OVER () AS DOUBLE) / {NMI_Q}'
                   ' / CAST(n AS DOUBLE)'
               )} AS mi_nats,
               {pround_sql(
                   f'-(CAST(SUM(hc_q) OVER () AS DOUBLE) / {NMI_Q}'
                   ' / CAST(n AS DOUBLE))'
               )} AS h_cell,
               {pround_sql(
                   f'-(CAST(SUM(hl_q) OVER () AS DOUBLE) / {NMI_Q}'
                   ' / CAST(n AS DOUBLE))'
               )} AS h_label,
               {pround_sql(
                   f'(2.0 * (CAST(SUM(mi_q) OVER () AS DOUBLE) / {NMI_Q}'
                   ' / CAST(n AS DOUBLE)))'
                   f' / ((-(CAST(SUM(hc_q) OVER () AS DOUBLE) / {NMI_Q}'
                   ' / CAST(n AS DOUBLE)))'
                   f' + (-(CAST(SUM(hl_q) OVER () AS DOUBLE) / {NMI_Q}'
                   ' / CAST(n AS DOUBLE))))'
               )} AS nmi
        FROM scored
    """


ORACLES["cluster_label_nmi"] = _cluster_label_nmi_oracle_sql()


# The near-dup graph's per-label queries (k-core, BFS levels, label
# propagation) run one pandas kernel per label over that label's
# embeddings: :func:`_label_edges` computes the label's near-dup edges,
# the same edges ``dedup.embedding_neardup`` emits, and a graph kernel
# runs on them. The blocks are labels, a fixed vocabulary, so the groups
# do not multiply with the data: at sf0.1 the largest of the 10 labels
# holds 218 embeddings and 183 edges, which a Spark self-join and round
# loop would spend in driver overhead. Bound: one label's embeddings fit
# in one Python worker. The kernels are functions of a frame or an edge
# list that tests call without Spark; the DuckDB oracles recompute each
# in SQL.

# Pair cells per row chunk of a pairwise block, so a label's block never
# holds more than this many doubles at once.
_EDGE_BLOCK = 1 << 18


def _fold(a, b):
    """``sum_k a[..., k] * b[..., k]`` over broadcast float64 arrays as
    ``functions.vector.dot`` folds it: ``acc = acc + x_k * y_k`` from
    0.0, left to right, so each value is the IEEE double Spark gets."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for k in range(a.shape[-1]):
        acc += a[..., k] * b[..., k]
    return acc


def _label_edges(pdf) -> list[tuple[int, int]]:
    """One label's near-dup edges ``(u, v)``, exactly the ``(vec_a,
    vec_b)`` pairs ``dedup.embedding_neardup`` emits for that label.

    ``pdf`` holds all of the label's rows: ``vec_id``, ``embedding`` and
    ``pairable``, which Spark computes (label, embedding and every
    element non-NULL: pandas reads a NULL element as NaN). Pairable
    vectors of one length form a block whose dot products and norms use
    :func:`_fold`. A pair is an edge when ``u < v``, its norm product is
    not 0, and its cosine is at least ``COSINE_NEARDUP_THRESHOLD`` or
    NaN (Spark and DuckDB order NaN above every value). A label of more
    than ``NEARDUP_CELL_CAP`` rows compares only the pairs that share
    one of the two SRP bands (a NaN projection is bit 1), each from the
    first band it shares, as the skew guard of ``embedding_neardup``
    does."""
    import numpy as np

    keep = pdf["pairable"].to_numpy(dtype=bool)
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)[keep]
    vecs = [np.asarray(e, dtype=np.float64) for e in pdf["embedding"].to_numpy()[keep]]
    lens = [len(v) for v in vecs]
    if len(pdf) <= NEARDUP_CELL_CAP:
        bands = np.zeros((len(vecs), 1), dtype=np.int64)
    else:
        # A vector of another length has all-NULL projections: bit 0.
        bands = np.zeros((len(vecs), 2), dtype=np.int64)
        full = [i for i, n in enumerate(lens) if n == SRP_DIM]
        if full:
            proj = _fold(np.stack([vecs[i] for i in full])[:, None], np.array(_SRP_PLANES))
            bits = (proj > 0) | np.isnan(proj)
            weights = 1 << np.arange(8)
            bands[full] = np.stack([bits[:, :8] @ weights, bits[:, 8:] @ weights], axis=1)
    edges = []
    for b in range(bands.shape[1]):
        blocks: dict[tuple[int, int], list[int]] = {}
        for i, key in enumerate(zip(lens, bands[:, b].tolist())):
            blocks.setdefault(key, []).append(i)
        for rows in blocks.values():
            if len(rows) < 2:
                continue
            x = np.stack([vecs[i] for i in rows])
            nrm = np.sqrt(_fold(x, x))
            bid, first = ids[rows], bands[rows, 0]
            step = max(1, _EDGE_BLOCK // len(rows))
            for r in range(0, len(rows), step):
                den = nrm[r : r + step, None] * nrm
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _fold(x[r : r + step, None], x) / den
                hit = (
                    (bid[r : r + step, None] < bid)
                    & (den != 0)
                    & ~(cos < COSINE_NEARDUP_THRESHOLD)
                )
                if b:
                    hit &= first[r : r + step, None] != first
                i, j = np.nonzero(hit)
                edges += zip(bid[r + i].tolist(), bid[j].tolist())
    return edges


def _adjacency(edges: list[tuple[int, int]]) -> dict[int, list[int]]:
    """Neighbour lists of an undirected edge list, one entry per edge
    end, as the oracles' joins over the symmetric edge table count."""
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    return adj


def _label_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings with the ``pairable`` flag :func:`_label_edges`
    reads: label, embedding and every element non-NULL."""
    pairable = (
        F.col("label").isNotNull()
        & F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    return table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", "embedding", pairable.alias("pairable")
    )


def _per_label(spark: SparkSession, sf_dir: str, kernel, schema: str) -> DataFrame:
    """``kernel(edges)`` over each label's near-dup edges
    (:func:`_label_edges`) through one ``groupBy("label").applyInPandas``
    over the embeddings, read once: the label leads each output row, and
    a label with no edges emits none. The skew guard is decided per
    label in the kernel, from the group's size. Bound: one label's
    embeddings fit in one Python worker."""

    def run(key, pdf):
        import pandas as pd

        edges = _label_edges(pdf)
        return pd.DataFrame([(*key, *row) for row in kernel(edges)] if edges else [])

    return _label_embeddings(spark, sf_dir).groupBy("label").applyInPandas(run, schema)


# k-core peeling: drop every node of degree < k until none is left. The
# DuckDB oracle runs each label's recursive CTE until a round removes
# nothing. Neither side has a round cap: a pendant chain of any length
# peels to the true fixpoint.


def _core_nodes(edges: list[tuple[int, int]], k: int) -> set[int]:
    """Nodes of the k-core of an undirected edge list, by the queue
    peel of Batagelj & Zaversnik (2003): a node whose degree falls
    below k leaves and lowers each neighbour's degree, in O(m). Degree
    counts edge ends, as the oracle's ``COUNT(*)`` does."""
    adj = _adjacency(edges)
    deg = {n: len(ns) for n, ns in adj.items()}
    queue = [n for n, d in deg.items() if d < k]
    gone = set(queue)
    while queue:
        for m in adj[queue.pop()]:
            if m not in gone:
                deg[m] -= 1
                if deg[m] < k:
                    gone.add(m)
                    queue.append(m)
    return adj.keys() - gone


def kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the cosine near-dup graph: per label,
    how many nodes survive the 2-core and 3-core peels — the
    cohesion census that separates tightly-knit duplicate cliques
    (high-core nodes: safe to collapse to one canonical doc) from
    pendant chains of borderline pairwise matches (coreness-1 nodes:
    transitive dedup over-deletes exactly these). Completes the graph
    family next to triangle transitivity (local cohesion) and
    modularity (partition quality) with the classic GLOBAL density
    hierarchy (Seidman 1983).

    One lazy plan through :func:`_per_label`: each label's kernel
    builds its near-dup edges from its embeddings (:func:`_label_edges`),
    peels its 2-core and 3-core with :func:`_core_nodes` to the true
    fixpoint and returns that label's census row. Counts are ``bigint
    not null``: a label whose core is empty reads 0; a label with no
    edges has no row.

    Bound: one label's embeddings must fit in one Python worker. A
    vertex-centric Spark peel (Montresor et al., TPDS 2013) pays off
    only for a single graph larger than one task, and costs one driver
    round trip per peel round.

    The DuckDB oracle peels each label with a recursive CTE that stops
    once a round removes nothing, and peels the 3-core from the 2-core.
    The two agree: k-cores are unique and nested, so the 3-core of G
    is the 3-core of its 2-core.
    """

    def census(edges):
        return [
            (
                len(_adjacency(edges)),
                len(edges),
                len(_core_nodes(edges, 2)),
                len(_core_nodes(edges, 3)),
            )
        ]

    return _per_label(
        spark,
        sf_dir,
        census,
        "label int, n_nodes bigint not null, n_edges bigint not null,"
        " core2_nodes bigint not null, core3_nodes bigint not null",
    )


QUERIES["kcore_decompose"] = kcore_decompose


def _kcore_core_sql(name: str, src: str, k: int) -> str:
    """Two CTEs: ``{name}_peel`` peels the ``(label, u, v)`` edges of
    ``src`` round by round, and ``{name}`` holds each label's k-core.
    A round keeps the edges whose two endpoints have degree >= k and
    marks them ``done`` when it removed nothing; a label recurses only
    while its last round is not done, so an empty or stable label
    stops. The core is the ``done`` copy of the stable round: a label
    whose core is empty has no rows."""
    deg = f"""(
                SELECT label, node, COUNT(*) AS d FROM (
                    SELECT label, u AS node FROM {name}_peel
                    UNION ALL
                    SELECT label, v AS node FROM {name}_peel
                ) GROUP BY 1, 2
            )"""
    return f"""
        {name}_peel(label, u, v, done) AS (
            SELECT label, u, v, FALSE FROM {src}
            UNION ALL
            SELECT label, u, v, dmin >= {k} FROM (
                SELECT p.label, p.u, p.v, du.d AS du, dv.d AS dv,
                       MIN(LEAST(du.d, dv.d))
                           OVER (PARTITION BY p.label) AS dmin
                FROM {name}_peel p
                JOIN {deg} du ON du.label = p.label AND du.node = p.u
                JOIN {deg} dv ON dv.label = p.label AND dv.node = p.v
                WHERE NOT p.done
            )
            WHERE du >= {k} AND dv >= {k}
        ),
        {name} AS MATERIALIZED (
            SELECT label, u, v FROM {name}_peel WHERE done
        )"""


def _kcore_oracle_sql() -> str:
    return f"""
        WITH RECURSIVE emb AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        edges AS MATERIALIZED (
            SELECT a.label, a.vec_id AS u, b.vec_id AS v
            FROM emb a
            JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
                  >= {COSINE_NEARDUP_THRESHOLD}
        ),
        {_kcore_core_sql('core2', 'edges', 2)},
        {_kcore_core_sql('core3', 'core2', 3)},
        n0 AS (
            SELECT label, COUNT(DISTINCT node) AS n_nodes FROM (
                SELECT label, u AS node FROM edges
                UNION ALL SELECT label, v FROM edges
            ) GROUP BY 1
        ),
        ne AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_edges
               FROM edges GROUP BY 1),
        n2 AS (
            SELECT label, COUNT(DISTINCT node) AS core2_nodes FROM (
                SELECT label, u AS node FROM core2
                UNION ALL SELECT label, v FROM core2
            ) GROUP BY 1
        ),
        n3 AS (
            SELECT label, COUNT(DISTINCT node) AS core3_nodes FROM (
                SELECT label, u AS node FROM core3
                UNION ALL SELECT label, v FROM core3
            ) GROUP BY 1
        )
        SELECT n0.label,
               CAST(n_nodes AS BIGINT) AS n_nodes,
               n_edges,
               CAST(COALESCE(core2_nodes, 0) AS BIGINT) AS core2_nodes,
               CAST(COALESCE(core3_nodes, 0) AS BIGINT) AS core3_nodes
        FROM n0
        JOIN ne ON ne.label = n0.label
        LEFT JOIN n2 ON n2.label = n0.label
        LEFT JOIN n3 ON n3.label = n0.label
    """


ORACLES["kcore_decompose"] = _kcore_oracle_sql()


def embedding_bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization recall audit: collapse each embedding to its
    64 SIGN BITS (1-bit-per-dim binary quantization — the cheapest
    vector compression tier below SQ8/PQ), search by Hamming distance,
    and score recall@k against the exact cosine top-k — the standard
    go/no-go check before switching an ANN tier to binary codes
    (32x smaller index, bitwise distance).

    Engine-exact: bits pack into two BIGINT halves (bit 63 of a single
    word would overflow signed arithmetic) via one keyed aggregate over
    posexploded dims; Hamming is bit_count(xor) per half — pure integer
    codegen; both top-k ranks tie-break on neighbor_id; recall is an
    integer overlap count divided once.

    100 TB story: packing is one map-side-combinable aggregate; the
    probe side is a broadcast (bounded probe set); the scan side reads
    two BIGINTs per vector instead of 64 floats — the actual win
    binary quantization buys at scale."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    comp = emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
    one = "CAST(1 AS BIGINT)"
    packed = comp.groupBy("vec_id").agg(
        F.sum(
            F.when(
                (F.col("x") > 0) & (F.col("pos") < 32),
                F.expr(f"shiftleft({one}, CAST(pos AS INT))"),
            ).otherwise(F.lit(0))
        ).alias("lo"),
        F.sum(
            F.when(
                (F.col("x") > 0) & (F.col("pos") >= 32),
                F.expr(f"shiftleft({one}, CAST(pos AS INT) - 32)"),
            ).otherwise(F.lit(0))
        ).alias("hi"),
    )
    probes_b = packed.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("plo"),
        F.col("hi").alias("phi"),
    )
    ham = (
        packed.join(F.broadcast(probes_b), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("plo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("phi")))
            ).cast("long").alias("hamming"),
        )
    )
    wb = Window.partitionBy("probe_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    bq_top = ham.withColumn("rank", F.row_number().over(wb)).filter(
        F.col("rank") <= TOP_K
    )
    # exact cosine reference (the ann_topk_cosine construction)
    probes_e = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    cos = cosine(F.col("probe_emb"), F.col("embedding"))
    wc = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    cos_top = (
        emb.join(F.broadcast(probes_e), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            pround(cos).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= TOP_K)
    )
    hit = bq_top.join(
        cos_top.select("probe_id", "neighbor_id", F.lit(1).alias("in_cos")),
        ["probe_id", "neighbor_id"],
        "left",
    )
    agg = hit.groupBy("probe_id").agg(
        F.sum(F.coalesce(F.col("in_cos"), F.lit(0))).alias("n_overlap"),
        F.min("hamming").alias("min_hamming"),
        F.min(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias("bq_top1"),
    )
    cos1 = cos_top.filter(F.col("rank") == 1).select(
        "probe_id", F.col("neighbor_id").alias("cos_top1")
    )
    return agg.join(cos1, "probe_id").select(
        "probe_id",
        "n_overlap",
        pround(F.col("n_overlap").cast("double") / F.lit(float(TOP_K))).alias(
            "recall_at_k"
        ),
        "min_hamming",
        (F.col("bq_top1") == F.col("cos_top1")).alias("top1_match"),
    )


QUERIES["embedding_bq_hamming"] = embedding_bq_hamming


def _bq_hamming_oracle_sql() -> str:
    return f"""
        WITH comp AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) AS INTEGER) - 1
                       AS pos,
                   unnest(embedding) AS x
            FROM embeddings
        ),
        packed AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN x > 0 AND pos < 32
                        THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT)
                       AS lo,
                   CAST(SUM(CASE WHEN x > 0 AND pos >= 32
                        THEN CAST(1 AS BIGINT) << (pos - 32) ELSE 0 END)
                        AS BIGINT) AS hi
            FROM comp GROUP BY 1
        ),
        ham AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   bit_count(xor(c.lo, p.lo)) + bit_count(xor(c.hi, p.hi))
                       AS hamming
            FROM packed c
            JOIN packed p ON p.vec_id < {N_PROBES}
                          AND c.vec_id <> p.vec_id
        ),
        bq_top AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id
                ORDER BY hamming ASC, neighbor_id ASC) AS rank
            FROM ham QUALIFY rank <= {TOP_K}
        ),
        emb AS (
            SELECT vec_id, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        cos_top AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM (
                SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                       {pround_sql(
                           dot_sql('c.embedding', 'p.embedding')
                           + ' / (c.nrm * p.nrm)'
                       )} AS cos_sim
                FROM emb c
                JOIN emb p ON p.vec_id < {N_PROBES}
                           AND c.vec_id <> p.vec_id
            ) QUALIFY rank <= {TOP_K}
        ),
        agg AS (
            SELECT b.probe_id,
                   CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
                   CAST(MIN(b.hamming) AS BIGINT) AS min_hamming,
                   MIN(CASE WHEN b.rank = 1 THEN b.neighbor_id END)
                       AS bq_top1
            FROM bq_top b
            LEFT JOIN cos_top c ON c.probe_id = b.probe_id
                                AND c.neighbor_id = b.neighbor_id
            GROUP BY 1
        )
        SELECT a.probe_id, a.n_overlap,
               {pround_sql(
                   f'CAST(a.n_overlap AS DOUBLE) / {float(TOP_K)}'
               )} AS recall_at_k,
               a.min_hamming,
               (a.bq_top1 = c1.cos_top1) AS top1_match
        FROM agg a
        JOIN (SELECT probe_id, neighbor_id AS cos_top1 FROM cos_top
              WHERE rank = 1) c1 ON c1.probe_id = a.probe_id
    """


ORACLES["embedding_bq_hamming"] = _bq_hamming_oracle_sql()


# Matryoshka truncation tiers: recall of prefix-dim cosine search vs
# the full 64-dim exact top-k (MRL, Kusupati et al. 2022 — the check
# that decides which truncation tier a serving stack can ship).
MRL_DIMS = (8, 16, 32)


def mrl_truncation_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation QC: for each prefix length d in
    {8, 16, 32}, run the cosine top-k with only the FIRST d dims and
    measure neighbor overlap against the full-dimension exact top-k —
    per (trunc_dim, probe). A representation trained matryoshka-style
    keeps recall high at small d (cheap first-stage retrieval); a
    non-MRL embedding craters — this report is how you tell before
    shipping a truncated index.

    Engine exactness: prefix slices are ``slice()``/list-slice of the
    same array in both engines; every cosine folds left-to-right over
    DOUBLE (the shared vector-helper contract), ranks tie-break on
    neighbor_id, overlap is an integer count.

    Shape: per tier, the probe side is a broadcast and the candidate
    scan reads d dims; ranks are one bounded window per (tier, probe).
    At 100 TB the d=8 tier reads 1/8th of the vector bytes — the
    actual matryoshka serving win, visible in the scan columns."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    pairs = emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))

    def topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("trunc_dim", "probe_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= TOP_K
        )

    full = topk(
        pairs.select(
            F.lit(64).alias("trunc_dim"),
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            pround(cosine(F.col("probe_emb"), F.col("embedding"))).alias(
                "cos_sim"
            ),
        )
    ).select("probe_id", "neighbor_id")

    tiers = []
    for d in MRL_DIMS:
        pe = F.slice(F.col("probe_emb"), 1, d)
        ce = F.slice(F.col("embedding"), 1, d)
        tiers.append(
            pairs.select(
                F.lit(d).alias("trunc_dim"),
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                pround(cosine(pe, ce)).alias("cos_sim"),
            )
        )
    trunc = topk(tiers[0].unionAll(tiers[1]).unionAll(tiers[2]))
    hit = trunc.join(
        full.select(
            "probe_id", "neighbor_id", F.lit(1).alias("in_full")
        ),
        ["probe_id", "neighbor_id"],
        "left",
    )
    return (
        hit.groupBy("trunc_dim", "probe_id")
        .agg(F.sum(F.coalesce(F.col("in_full"), F.lit(0))).alias("n_overlap"))
        .select(
            "trunc_dim",
            "probe_id",
            "n_overlap",
            pround(
                F.col("n_overlap").cast("double") / F.lit(float(TOP_K))
            ).alias("recall_at_k"),
        )
    )


QUERIES["mrl_truncation_qc"] = mrl_truncation_qc


def _mrl_oracle_sql() -> str:
    def scored(d: int | None) -> str:
        sl = f"[1:{d}]" if d else ""
        dim = d if d else 64
        return f"""
            SELECT {dim} AS trunc_dim, p.vec_id AS probe_id,
                   c.vec_id AS neighbor_id,
                   {pround_sql(
                       f"{dot_sql(f'c.embedding{sl}', f'p.embedding{sl}')}"
                       f" / (sqrt({dot_sql(f'c.embedding{sl}', f'c.embedding{sl}')})"
                       f" * sqrt({dot_sql(f'p.embedding{sl}', f'p.embedding{sl}')}))"
                   )} AS cos_sim
            FROM embeddings c
            JOIN embeddings p ON p.vec_id < {N_PROBES}
                              AND c.vec_id <> p.vec_id"""

    union = " UNION ALL ".join(scored(d) for d in MRL_DIMS)
    return f"""
        WITH ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY trunc_dim, probe_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM ({union}) QUALIFY rank <= {TOP_K}
        ),
        full_k AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY probe_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM ({scored(None)})
            ) WHERE rank <= {TOP_K}
        )
        SELECT r.trunc_dim, r.probe_id,
               CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               {pround_sql(
                   'CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL'
                   f' THEN 1 ELSE 0 END) AS DOUBLE) / {float(TOP_K)}'
               )} AS recall_at_k
        FROM ranked r
        LEFT JOIN full_k f ON f.probe_id = r.probe_id
                           AND f.neighbor_id = r.neighbor_id
        GROUP BY 1, 2
    """


ORACLES["mrl_truncation_qc"] = _mrl_oracle_sql()


# Rank-discount constants for NDCG@5, precomputed in python and
# injected as LITERALS into both engines (libm log2 is not guaranteed
# correctly rounded — a shared literal cannot disagree). Grid 2^20.
import math as _math

RM_K = 5
RM_DCG_Q = {
    r: int(_math.floor(1.0 / _math.log2(r + 1) * 1048576.0 + 0.5))
    for r in range(1, RM_K + 1)
}
RM_IDCG_Q = sum(RM_DCG_Q.values())


def retrieval_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sensitive retrieval evaluation of the matryoshka tiers:
    MRR and NDCG@5 of each prefix-dim ranking against the full-dim
    exact top-5 — the metrics that distinguish "right neighbors,
    wrong order" from genuine recall loss (plain overlap, reported by
    ``mrl_truncation_qc``, cannot). The standard IR eval loop run as
    a query.

    Exactness: binary relevance = membership in the exact top-k; DCG
    discounts are shared integer LITERALS (python-precomputed — libm
    log2 never enters either engine); DCG sums are integers; MRR and
    NDCG are single divisions of exact integers under pround."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    pairs = emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))

    def ranked(dim: int | None) -> DataFrame:
        pe = F.slice(F.col("probe_emb"), 1, dim) if dim else F.col("probe_emb")
        ce = F.slice(F.col("embedding"), 1, dim) if dim else F.col("embedding")
        w = Window.partitionBy("trunc_dim", "probe_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        return (
            pairs.select(
                F.lit(dim if dim else 64).alias("trunc_dim"),
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                pround(cosine(pe, ce)).alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= RM_K)
        )

    tiers = None
    for d in MRL_DIMS:
        t = ranked(d)
        tiers = t if tiers is None else tiers.unionAll(t)
    full = ranked(None).select("probe_id", "neighbor_id")
    dcg_term = F.element_at(
        F.array(*[F.lit(RM_DCG_Q[r]) for r in range(1, RM_K + 1)]),
        F.col("rank"),
    )
    hit = tiers.join(
        full.select("probe_id", "neighbor_id", F.lit(1).alias("rel")),
        ["probe_id", "neighbor_id"],
        "left",
    ).select(
        "trunc_dim",
        "probe_id",
        "rank",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        F.when(F.col("rel").isNotNull(), dcg_term).otherwise(0).alias("dq"),
    )
    agg = hit.groupBy("trunc_dim", "probe_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_hit"),
        F.sum("dq").alias("dcg_q"),
    )
    return agg.select(
        "trunc_dim",
        "probe_id",
        F.coalesce(F.col("first_hit"), F.lit(0)).cast("long").alias(
            "first_hit_rank"
        ),
        pround(
            F.when(
                F.col("first_hit").isNotNull(),
                F.lit(1.0) / F.col("first_hit").cast("double"),
            ).otherwise(F.lit(0.0))
        ).alias("mrr"),
        pround(
            F.col("dcg_q").cast("double") / F.lit(float(RM_IDCG_Q))
        ).alias("ndcg_at_k"),
    )


QUERIES["retrieval_metrics_report"] = retrieval_metrics_report


def _retrieval_metrics_oracle_sql() -> str:
    def scored(d: int | None) -> str:
        sl = f"[1:{d}]" if d else ""
        dim = d if d else 64
        return f"""
            SELECT {dim} AS trunc_dim, p.vec_id AS probe_id,
                   c.vec_id AS neighbor_id,
                   {pround_sql(
                       f"{dot_sql(f'c.embedding{sl}', f'p.embedding{sl}')}"
                       f" / (sqrt({dot_sql(f'c.embedding{sl}', f'c.embedding{sl}')})"
                       f" * sqrt({dot_sql(f'p.embedding{sl}', f'p.embedding{sl}')}))"
                   )} AS cos_sim
            FROM embeddings c
            JOIN embeddings p ON p.vec_id < {N_PROBES}
                              AND c.vec_id <> p.vec_id"""

    union = " UNION ALL ".join(scored(d) for d in MRL_DIMS)
    dcg_case = " ".join(
        f"WHEN rank = {r} THEN {RM_DCG_Q[r]}" for r in range(1, RM_K + 1)
    )
    return f"""
        WITH ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY trunc_dim, probe_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM ({union}) QUALIFY rank <= {RM_K}
        ),
        full_k AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY probe_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM ({scored(None)})
            ) WHERE rank <= {RM_K}
        ),
        hit AS (
            SELECT r.trunc_dim, r.probe_id, r.rank,
                   CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
                       AS rel,
                   CASE WHEN f.neighbor_id IS NOT NULL
                        THEN CASE {dcg_case} ELSE 0 END
                        ELSE 0 END AS dq
            FROM ranked r
            LEFT JOIN full_k f ON f.probe_id = r.probe_id
                               AND f.neighbor_id = r.neighbor_id
        ),
        agg AS (
            SELECT trunc_dim, probe_id,
                   MIN(CASE WHEN rel = 1 THEN rank END) AS first_hit,
                   CAST(SUM(dq) AS BIGINT) AS dcg_q
            FROM hit GROUP BY 1, 2
        )
        SELECT trunc_dim, probe_id,
               CAST(COALESCE(first_hit, 0) AS BIGINT) AS first_hit_rank,
               {pround_sql(
                   'CASE WHEN first_hit IS NOT NULL'
                   ' THEN 1.0 / CAST(first_hit AS DOUBLE) ELSE 0.0 END'
               )} AS mrr,
               {pround_sql(
                   f'CAST(dcg_q AS DOUBLE) / {float(RM_IDCG_Q)}'
               )} AS ndcg_at_k
        FROM agg
    """


ORACLES["retrieval_metrics_report"] = _retrieval_metrics_oracle_sql()


BFS_MAX_LEVEL = 3  # bounded-depth census (the dup-neighborhood radius)


def _bfs_level_counts(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Nodes per hop distance from the smallest node of an undirected
    edge list, out to ``BFS_MAX_LEVEL`` hops: a breadth-first walk that
    stops expanding at that depth."""
    adj = _adjacency(edges)
    dist = {min(adj): 0}
    queue = collections.deque(dist)
    while queue:
        n = queue.popleft()
        if dist[n] < BFS_MAX_LEVEL:
            for m in adj[n]:
                if m not in dist:
                    dist[m] = dist[n] + 1
                    queue.append(m)
    return collections.Counter(dist.values())


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS distance census over the near-dup graph: from each label's
    CANONICAL node (lowest vec_id — the doc a dedup pass would keep),
    how many nodes sit at hop distance 1, 2, 3 — the "how far does
    transitive near-duplication reach from the keeper" question that
    decides whether cluster-collapse dedup is safe (tight star) or
    over-deletes (long chains; compare ``kcore_decompose``'s density
    view and ``dedup_clusters``' full components).

    One lazy plan through :func:`_per_label`: each label's kernel builds
    its near-dup edges from its embeddings (:func:`_label_edges`), walks
    them with :func:`_bfs_level_counts` and returns one row per level
    that holds a node. Bound: one label's embeddings must fit in one
    Python worker, as for ``kcore_decompose``. The DuckDB oracle
    instead enumerates walks with a depth-capped recursive CTE and
    takes MIN(level) per node — the SPEC form (exponential in depth,
    fine at the gate's scale) checking the breadth-first kernel.

    Integer counts end-to-end."""
    return _per_label(
        spark,
        sf_dir,
        lambda edges: _bfs_level_counts(edges).items(),
        "label int, lvl int not null, n_nodes bigint not null",
    )


QUERIES["graph_bfs_levels"] = graph_bfs_levels


def _bfs_census_sql(src: str) -> str:
    """The BFS census over the ``(label, u, v)`` half-edges of ``src``:
    the CTEs that walk each label from its smallest node, then the
    census SELECT."""
    return f"""
        edges AS MATERIALIZED (
            SELECT label, u, v FROM {src}
            UNION ALL
            SELECT label, v, u FROM {src}
        ),
        seeds AS (
            SELECT label, MIN(u) AS node FROM edges GROUP BY 1
        ),
        walk(label, node, lvl) AS (
            SELECT label, node, 0 FROM seeds
            UNION ALL
            SELECT e.label, e.v, w.lvl + 1
            FROM walk w
            JOIN edges e ON e.label = w.label AND e.u = w.node
            WHERE w.lvl < {BFS_MAX_LEVEL}
        ),
        dist AS (
            SELECT label, node, MIN(lvl) AS lvl
            FROM walk GROUP BY 1, 2
        )
        SELECT label, lvl, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM dist GROUP BY 1, 2
    """


def _bfs_oracle_sql() -> str:
    return f"""
        WITH RECURSIVE emb AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        half AS MATERIALIZED (
            SELECT a.label, a.vec_id AS u, b.vec_id AS v
            FROM emb a
            JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
                  >= {COSINE_NEARDUP_THRESHOLD}
        ),
        {_bfs_census_sql('half')}
    """


ORACLES["graph_bfs_levels"] = _bfs_oracle_sql()


LP_ROUNDS = 4  # synchronous label-propagation rounds (deterministic)


def _lp_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Each node's label after ``LP_ROUNDS`` synchronous rounds of label
    propagation over an undirected edge list: every node starts as its
    own label, and each round every node adopts the label most frequent
    among its neighbours' current labels, a tie going to the larger
    label."""
    adj = _adjacency(edges)
    lbl = {n: n for n in adj}
    for _ in range(LP_ROUNDS):
        lbl = {
            n: max(
                (c, m) for m, c in collections.Counter(lbl[x] for x in ns).items()
            )[1]
            for n, ns in adj.items()
        }
    return lbl


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the near-dup graph — the community view between
    connected components (``dedup_clusters``: too coarse, one giant
    component absorbs chains) and k-core density (no membership).
    Deterministic variant (:func:`_lp_labels`): every node starts as
    its own label; each round every node adopts the (count, label)-max
    label among its neighbors' current labels (most frequent, ties to
    the LARGER label id, no randomness); exactly LP_ROUNDS synchronous
    rounds in BOTH engines (LPA has no convergence guarantee —
    oscillation is broken by the fixed round count, identical on both
    sides). Output: per community, size and member span.

    One lazy plan through :func:`_per_label`: each label's kernel builds
    its near-dup edges from its embeddings (:func:`_label_edges`), runs
    the rounds and returns one row per community. Bound: one label's
    embeddings must fit in one Python worker, as for
    ``kcore_decompose``. The oracle replays the identical rounds as a
    recursive CTE carrying (node, label) state."""

    def communities(edges):
        members: dict[int, list[int]] = {}
        for node, lbl in _lp_labels(edges).items():
            members.setdefault(lbl, []).append(node)
        return [(c, len(ns), min(ns), max(ns)) for c, ns in members.items()]

    return _per_label(
        spark,
        sf_dir,
        communities,
        "part int, community bigint, size bigint not null,"
        " min_member bigint, max_member bigint",
    )


QUERIES["label_propagation_communities"] = label_propagation_communities


def _lp_communities_sql(src: str) -> str:
    """Label propagation over the ``(part, u, v)`` half-edges of
    ``src``: the CTEs that replay the ``LP_ROUNDS`` rounds, then the
    per-community SELECT."""
    return f"""
        edges AS MATERIALIZED (
            SELECT part, u, v FROM {src}
            UNION ALL
            SELECT part, v, u FROM {src}
        ),
        lp(t, part, node, lbl) AS (
            SELECT 0, part, u, u FROM (SELECT DISTINCT part, u FROM edges)
            UNION ALL
            SELECT t, part, node,
                   struct_extract(MAX({{'c': cnt, 'lbl': nlbl}}), 'lbl')
            FROM (
                SELECT p.t + 1 AS t, e.part AS part, e.u AS node,
                       p.lbl AS nlbl, COUNT(*) AS cnt
                FROM lp p
                JOIN edges e ON e.part = p.part AND e.v = p.node
                WHERE p.t < {LP_ROUNDS}
                GROUP BY 1, 2, 3, 4
            )
            GROUP BY 1, 2, 3
        )
        SELECT part, lbl AS community,
               CAST(COUNT(*) AS BIGINT) AS size,
               CAST(MIN(node) AS BIGINT) AS min_member,
               CAST(MAX(node) AS BIGINT) AS max_member
        FROM lp WHERE t = {LP_ROUNDS}
        GROUP BY 1, 2
    """


def _lp_oracle_sql() -> str:
    return f"""
        WITH RECURSIVE emb AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        half AS MATERIALIZED (
            SELECT a.label AS part, a.vec_id AS u, b.vec_id AS v
            FROM emb a
            JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
                  >= {COSINE_NEARDUP_THRESHOLD}
        ),
        {_lp_communities_sql('half')}
    """


ORACLES["label_propagation_communities"] = _lp_oracle_sql()


# --------------------------------------------------------------------------
# IVF serving-shard plan (round 9).
# --------------------------------------------------------------------------

IVF_N_SHARDS = 4


def ivf_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How do the IVF cells pack onto serving shards? Cells (the
    ``label`` coarse partitions ``ann_ivf_topk`` probes) are ranked by
    size and dealt onto shards in SNAKE order (rank 1..S left-to-right,
    S+1..2S right-to-left, ...) — the deterministic balanced layout a
    vector-serving fleet deploys; the report shows each shard's
    cell/vector load and its balance ratio vs the ideal 1/S so a skewed
    quantizer is visible BEFORE deployment (``partition_skew_report``'s
    question asked of the ANN index).

    Exactness: ranks, snake positions, and loads are exact integers;
    shares are single divisions. Scale shape: one cell-count aggregate
    (map-side combinable), a rank window over the CELL-BOUNDED table
    (|labels| rows — the zipf_fit allowlist class), one S-row
    re-aggregate with a 1-row total broadcast."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    cells = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    wr = Window.orderBy(F.desc("n_vectors"), F.asc("label"))
    s = IVF_N_SHARDS
    ranked = cells.withColumn("rk", F.row_number().over(wr)).withColumn(
        "pos", (F.col("rk") - 1) % (2 * s)
    )
    shard = F.when(F.col("pos") < s, F.col("pos")).otherwise(
        2 * s - 1 - F.col("pos")
    )
    per = ranked.select(shard.alias("shard"), "n_vectors")
    g = per.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_vectors").alias("n_vectors"),
    )
    tot = cells.agg(F.sum("n_vectors").alias("total"))
    return (
        g.join(F.broadcast(tot))
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_cells",
            "n_vectors",
            pround(
                F.col("n_vectors").cast("double") / F.col("total").cast("double")
            ).alias("vector_share"),
            pround(
                F.col("n_vectors").cast("double")
                / F.col("total").cast("double")
                * float(s)
            ).alias("balance_ratio"),
        )
    )


QUERIES["ivf_shard_plan"] = ivf_shard_plan

ORACLES["ivf_shard_plan"] = f"""
    WITH cells AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM embeddings GROUP BY 1
    ),
    ranked AS (
        SELECT n_vectors,
               (ROW_NUMBER() OVER (ORDER BY n_vectors DESC, label ASC) - 1)
                   % {2 * IVF_N_SHARDS} AS pos
        FROM cells
    ),
    dealt AS (
        SELECT n_vectors,
               CASE WHEN pos < {IVF_N_SHARDS} THEN pos
                    ELSE {2 * IVF_N_SHARDS - 1} - pos END AS shard
        FROM ranked
    ),
    g AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(n_vectors) AS BIGINT) AS n_vectors
        FROM dealt GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM cells)
    SELECT CAST(g.shard AS BIGINT) AS shard, g.n_cells, g.n_vectors,
           {pround_sql(
               'CAST(g.n_vectors AS DOUBLE) / CAST(t.total AS DOUBLE)'
           )} AS vector_share,
           {pround_sql(
               'CAST(g.n_vectors AS DOUBLE) / CAST(t.total AS DOUBLE)'
               f' * {float(IVF_N_SHARDS)}'
           )} AS balance_ratio
    FROM g, tot t
"""


CLIP_PCT_DIV = 100  # clip at the 1st/99th rank-picked percentiles


def embedding_clip_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CALIBRATION read before `embedding_sq8` commits its affine
    grid: per dimension, rank-picked robust clip bounds (1st/99th
    percentile values), how many components fall outside them, and the
    RESOLUTION GAIN ``(max−min)/(hi−lo)`` — how much of the int8 code
    range the corpus min/max grid wastes on outlier tails. A dim with
    gain 5 means sq8 spends 80% of its codes on 2% of the mass; clip
    first, then quantize.

    Determinism: the bounds are rank-PICKED input values (row_number
    over (x, vec_id) — a total order, so the picked doubles are
    bit-identical in both engines; no interpolation, no float sums),
    counts are integers, and the two reported ratios are single
    pround'd divisions of picked/extreme values. Shape: one
    posexplode, one dim-keyed rank window (spillable, corpus-sized per
    dim), two dim-keyed aggregates — 64 rows out."""
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    comp = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "x"
        ),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "x")
    wr = Window.partitionBy("pos").orderBy("x", "vec_id")
    wc = Window.partitionBy("pos")
    ranked = comp.select(
        "pos",
        "x",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    r_lo = F.expr(f"(n - 1) DIV {CLIP_PCT_DIV} + 1")
    r_hi = F.expr(f"n - (n - 1) DIV {CLIP_PCT_DIV}")
    bounds = (
        ranked.filter((F.col("rk") == r_lo) | (F.col("rk") == r_hi))
        .groupBy("pos")
        .agg(
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
            F.max("n").alias("n"),
        )
    )
    stats = comp.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    clipped = (
        comp.join(bounds.select("pos", "lo", "hi"), "pos")
        .groupBy("pos")
        .agg(
            F.sum(
                ((F.col("x") < F.col("lo")) | (F.col("x") > F.col("hi"))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_clipped")
        )
    )
    j = bounds.join(stats, "pos").join(clipped, "pos")
    gain = F.when(
        F.col("hi") > F.col("lo"),
        (F.col("mx") - F.col("mn")) / (F.col("hi") - F.col("lo")),
    )
    return j.select(
        F.col("pos").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n_values"),
        pround(F.col("lo")).alias("clip_lo"),
        pround(F.col("hi")).alias("clip_hi"),
        "n_clipped",
        pround(gain).alias("resolution_gain"),
    )


QUERIES["embedding_clip_plan"] = embedding_clip_plan

ORACLES["embedding_clip_plan"] = f"""
    WITH comp AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    ranked AS (
        SELECT pos, x,
               row_number() OVER (PARTITION BY pos ORDER BY x, vec_id) AS rk,
               COUNT(*) OVER (PARTITION BY pos) AS n
        FROM comp
    ),
    bounds AS (
        SELECT pos, MIN(x) AS lo, MAX(x) AS hi, MAX(n) AS n
        FROM ranked
        WHERE rk = (n - 1) // {CLIP_PCT_DIV} + 1
           OR rk = n - (n - 1) // {CLIP_PCT_DIV}
        GROUP BY 1
    ),
    stats AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY 1
    ),
    clipped AS (
        SELECT c.pos,
               CAST(SUM(CASE WHEN c.x < b.lo OR c.x > b.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        FROM comp c JOIN bounds b USING (pos)
        GROUP BY 1
    )
    SELECT CAST(b.pos AS INT) AS dim,
           CAST(b.n AS BIGINT) AS n_values,
           {pround_sql('b.lo')} AS clip_lo,
           {pround_sql('b.hi')} AS clip_hi,
           cl.n_clipped,
           CASE WHEN b.hi > b.lo THEN {pround_sql(
               '(s.mx - s.mn) / (b.hi - b.lo)'
           )} END AS resolution_gain
    FROM bounds b
    JOIN stats s ON s.pos = b.pos
    JOIN clipped cl ON cl.pos = b.pos
"""


# --------------------------------------------------------------------------
# PageRank over the kNN graph — centrality for curriculum/coreset
# picks ("which documents does the embedding neighborhood keep
# pointing at") and the hub diagnostic for ANN graphs (a few
# super-attractor nodes degrade greedy-walk recall).
# --------------------------------------------------------------------------

PR_ROUNDS = 8  # fixed synchronous power-iteration rounds (both engines)
PR_Q = 1048576  # 2^20 mass grid: every node seeds Q units of mass
PR_BASE = (15 * PR_Q) // 100  # teleport share of the 0.15/0.85 damping


def knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (Page et al. 1998, d=0.85) over the directed
    SRP-band kNN graph of :func:`smart_city_data_pipeline_spark.
    operators.dedup.knn_graph` — exactly ``PR_ROUNDS`` synchronous
    rounds of the ALL-INTEGER recurrence

        r₀(v) = Q;   r_{t+1}(v) = (15·Q)//100 + (85·S_v)//100,
        S_v = Σ_{u→v} r_t(u) // out_deg(u)

    on the 2²⁰ mass grid: every step is integer floor-division and an
    order-independent integer sum, so both engines replay the identical
    trajectory (division remainders and dangling-node mass are BURNED
    by the same rule on both sides — PageRank up to normalization,
    which the pround'd display absorbs). DECIMAL(38,0)/HUGEINT state:
    a node's mass is bounded by ~0.85·N·Q only in the pathological
    all-point-here graph, still inside 38 digits at any corpus.

    Scale shape: the kNN edge set is built ONCE (band-bounded, never
    O(n²)) and checkpointed with its out-degrees; each round is one
    keyed join (mass onto edges) + one keyed integer aggregate + one
    left join back onto the node list. The kNN graph is global, not
    per label, so it keeps its Spark loop: O(PR_ROUNDS) rounds,
    independent of graph shape. Each round's state is an eager
    checkpoint that frees its predecessor once materialized; the
    edges-with-degree checkpoint is freed before returning, so only
    the final state and the edge list the result reads stay.
    """
    from smart_city_data_pipeline_spark.operators.dedup import knn_graph

    d = "decimal(38,0)"
    edges = (
        knn_graph(spark, sf_dir)
        .select(F.col("vec_id").alias("u"), F.col("neighbor_id").alias("v"))
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "u").localCheckpoint(eager=False)
    nodes = spread(
        table(spark, sf_dir, "embeddings"), "vec_id"
    ).select(F.col("vec_id").alias("node"))
    state = nodes.select(
        "node", F.lit(PR_Q).cast(d).alias("r")
    ).localCheckpoint(eager=True)
    for _ in range(PR_ROUNDS):
        prev = state
        contrib = ed.join(
            state.select(F.col("node").alias("u"), "r"), "u"
        ).select(
            "v",
            F.expr(f"CAST(r DIV CAST(deg AS {d}) AS {d})").alias("c"),
        )
        s = contrib.groupBy(F.col("v").alias("node")).agg(
            F.sum("c").alias("s")
        )
        state = (
            nodes.join(s, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST({PR_BASE} AS {d})"
                    f" + CAST(CAST(85 AS {d})"
                    f" * COALESCE(s, CAST(0 AS {d}))"
                    f" DIV CAST(100 AS {d}) AS {d})"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        release_checkpoint(prev)
    release_checkpoint(ed)
    return (
        state.join(deg, state["node"] == deg["u"], "left")
        .select(
            F.col("node").alias("vec_id"),
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("out_deg"),
            pround(F.col("r").cast("double") / F.lit(float(PR_Q))).alias(
                "pagerank"
            ),
        )
    )


QUERIES["knn_pagerank"] = knn_pagerank


def _pr_oracle_sql() -> str:
    from smart_city_data_pipeline_spark.operators.dedup import ORACLES as _DO

    its = []
    for t in range(PR_ROUNDS):
        its.append(
            f"""it{t + 1} AS MATERIALIZED (
        SELECT n.node,
               CAST({PR_BASE} AS HUGEINT)
                   + (85 * COALESCE(s.s, CAST(0 AS HUGEINT))) // 100 AS r
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, SUM(p.r // d.deg) AS s
            FROM edges e
            JOIN deg d ON e.u = d.u
            JOIN it{t} p ON e.u = p.node
            GROUP BY e.v
        ) s ON n.node = s.node
    )"""
        )
    return f"""
    WITH knn AS MATERIALIZED (
        SELECT * FROM ({_DO["knn_graph"]})
    ),
    edges AS MATERIALIZED (SELECT vec_id AS u, neighbor_id AS v FROM knn),
    deg AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS HUGEINT) AS deg FROM edges GROUP BY u
    ),
    nodes AS (SELECT vec_id AS node FROM embeddings),
    it0 AS MATERIALIZED (SELECT node, CAST({PR_Q} AS HUGEINT) AS r FROM nodes),
    {", ".join(its)}
    SELECT i.node AS vec_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS out_deg,
           {pround_sql(f'CAST(i.r AS DOUBLE) / {float(PR_Q)}')} AS pagerank
    FROM it{PR_ROUNDS} i LEFT JOIN deg d ON i.node = d.u
"""


ORACLES["knn_pagerank"] = _pr_oracle_sql()


# --------------------------------------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
# relevance-vs-redundancy selection every RAG / few-shot-example /
# dedup-aware retrieval layer runs after ANN: pure top-k returns near
# duplicates of one good hit; MMR trades λ·relevance against
# (1−λ)·max-similarity-to-already-selected.
# --------------------------------------------------------------------------

MMR_K = 6  # picks (unrolled in the oracle — keep small)
# λ = 0.7 on a ×10 integer grid: score10 = 7·rel − 3·max_sim, so the
# selection argmax compares EXACT integers (no double mixing ever).
MMR_LAM10 = 7


def mmr_diverse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR selection of ``MMR_K`` diverse-but-relevant vectors
    for the lowest-vec_id query (the ANN probe convention): seed with
    the highest-relevance candidate, then repeatedly add
    argmax(7·rel − 3·max_sim_to_selected) — reporting each pick with
    its relevance, its max similarity to the prior picks at selection
    time (0 for the seed, by definition), and the ×10 MMR score.

    Exactness: vectors snap to the 2¹⁶ integer grid (``_qvec``), so
    relevance and every pairwise similarity are exact integer dot
    products below 2⁵³ and the λ-mix is pure integer arithmetic —
    selection ties break to the lower vec_id in both engines; there is
    NO double anywhere in the statistic.

    Scale shape: the ``kcenter_sample`` discipline — k−1 rounds, each
    ONE corpus scan (a dot against the new pick's dim-bounded vector
    literal + a running GREATEST), one TakeOrdered argmax row per
    round; the driver holds only the k picked vectors.
    """
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    qv = emb.select(
        "vec_id", _qvec(F.col("embedding")).alias("q")
    ).localCheckpoint(eager=True)
    qrow = qv.orderBy("vec_id").limit(1).collect()[0]
    q_lit = F.lit(list(qrow["q"])).cast("array<double>")
    cand = qv.filter(F.col("vec_id") != int(qrow["vec_id"])).select(
        "vec_id", "q", dot(F.col("q"), q_lit).cast("long").alias("rel")
    )

    picks = []
    srow = (
        cand.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(1)
        .collect()[0]
    )
    picks.append((1, int(srow["vec_id"]), int(srow["rel"]), 0))
    state = cand.filter(F.col("vec_id") != int(srow["vec_id"])).select(
        "vec_id",
        "q",
        "rel",
        dot(F.col("q"), F.lit(list(srow["q"])).cast("array<double>"))
        .cast("long")
        .alias("ms"),
    ).localCheckpoint(eager=True)
    release_checkpoint(qv)
    for i in range(2, MMR_K + 1):
        score10 = (
            F.lit(MMR_LAM10) * F.col("rel")
            - F.lit(10 - MMR_LAM10) * F.col("ms")
        )
        crow = (
            state.select("*", score10.alias("s10"))
            .orderBy(F.col("s10").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        picks.append((i, int(crow["vec_id"]), int(crow["rel"]), int(crow["ms"])))
        if i == MMR_K:
            break  # the last pick's state is never read again
        nxt = state.filter(F.col("vec_id") != int(crow["vec_id"])).select(
            "vec_id",
            "rel",
            "q",
            F.greatest(
                F.col("ms"),
                dot(F.col("q"), F.lit(list(crow["q"])).cast("array<double>"))
                .cast("long"),
            ).alias("ms"),
        ).localCheckpoint(eager=True)
        release_checkpoint(state)
        state = nxt
    release_checkpoint(state)
    rows = [
        (order, vid, rel, ms, MMR_LAM10 * rel - (10 - MMR_LAM10) * ms)
        for order, vid, rel, ms in picks
    ]
    return spark.createDataFrame(
        rows,
        "sel_order int, vec_id long, rel long, max_sim long, mmr_score10 long",
    )


QUERIES["mmr_diverse_select"] = mmr_diverse_select


def _mmr_oracle_sql() -> str:
    lam, om = MMR_LAM10, 10 - MMR_LAM10
    qexpr = (
        "list_transform(CAST(embedding AS DOUBLE[]),"
        f" x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE))"
    )
    steps = [
        f"qv AS MATERIALIZED (SELECT vec_id, {qexpr} AS q FROM embeddings)",
        "qq AS (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 1)",
        "cand AS MATERIALIZED (SELECT v.vec_id, v.q,"
        " CAST(list_dot_product(v.q, w.q) AS BIGINT) AS rel"
        " FROM qv v, qq w WHERE v.vec_id <> w.vec_id)",
        "s1 AS (SELECT vec_id, q, rel, CAST(0 AS BIGINT) AS ms"
        " FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)",
        "m1 AS MATERIALIZED (SELECT c.vec_id, c.q, c.rel,"
        " CAST(list_dot_product(c.q, s.q) AS BIGINT) AS ms"
        " FROM cand c, s1 s WHERE c.vec_id <> s.vec_id)",
    ]
    sel = [
        f"SELECT 1 AS sel_order, vec_id, rel, ms AS max_sim,"
        f" {lam} * rel - {om} * ms AS mmr_score10 FROM s1"
    ]
    for i in range(2, MMR_K + 1):
        steps.append(
            f"s{i} AS (SELECT vec_id, q, rel, ms FROM m{i-1}"
            f" ORDER BY {lam} * rel - {om} * ms DESC, vec_id ASC LIMIT 1)"
        )
        steps.append(
            f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.q, m.rel,"
            f" GREATEST(m.ms, CAST(list_dot_product(m.q, s.q) AS BIGINT))"
            f" AS ms FROM m{i-1} m, s{i} s WHERE m.vec_id <> s.vec_id)"
        )
        sel.append(
            f"SELECT {i} AS sel_order, vec_id, rel, ms AS max_sim,"
            f" {lam} * rel - {om} * ms AS mmr_score10 FROM s{i}"
        )
    return "WITH " + ",\n".join(steps) + "\n" + " UNION ALL ".join(sel)


ORACLES["mmr_diverse_select"] = _mmr_oracle_sql()


HITS_ROUNDS = 6  # fixed synchronous hub/authority rounds (both engines)


def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the directed
    SRP-band kNN graph — the companion centrality to
    :func:`knn_pagerank`: a good HUB points at many good authorities
    (a probe whose neighbor list covers the corpus's attractors), a
    good AUTHORITY is pointed at by many good hubs (the super-
    attractor diagnostic for greedy-walk ANN). Exactly ``HITS_ROUNDS``
    synchronous rounds of the ALL-INTEGER recurrence on the 2²⁰ grid:

        a'(v) = Σ_{u→v} h(u);  a(v) = a'(v)·Q // max_v a'(v)
        h'(u) = Σ_{u→v} a(v);  h(u) = h'(u)·Q // max_u h'(u)

    (max-normalization instead of the L2 norm — same fixpoint
    direction, but integer floor-division both engines replay exactly;
    sums are order-independent integers in DECIMAL(38,0)/HUGEINT).

    Scale shape: the kNN edge set is built ONCE and checkpointed;
    each half-round is one keyed join + one keyed integer aggregate +
    a 1-row max broadcast (global-aggregate root) — O(HITS_ROUNDS)
    rounds, shape-independent, the ``knn_pagerank`` discipline.
    """
    from smart_city_data_pipeline_spark.operators.dedup import knn_graph

    d = "decimal(38,0)"
    edges = (
        knn_graph(spark, sf_dir)
        .select(F.col("vec_id").alias("u"), F.col("neighbor_id").alias("v"))
        .localCheckpoint(eager=False)
    )
    nodes = spread(
        table(spark, sf_dir, "embeddings"), "vec_id"
    ).select(F.col("vec_id").alias("node"))
    q_lit = f"CAST(1048576 AS {d})"

    def half_round(state: DataFrame, src: str, dst: str) -> DataFrame:
        """ONE spelling for both normalize half-rounds (r11 review:
        the a-step and h-step differ only in edge orientation, so a
        drifted copy could silently normalize them differently):
        push ``state.x`` along src→dst, coalesce no-in-link nodes to
        zero, and max-normalize back onto the 2²⁰ grid.

        The raw sums are checkpointed ONCE per half-round and the
        normalizer max is a 1-row driver scalar read off that
        checkpoint (the star-CC probe discipline): the first spelling
        fed the max through a crossJoin(broadcast(agg)) whose
        broadcast subtree re-executed the whole join+aggregate a
        second time every half-round (guide §7.2 duplicated subtrees —
        measured 104 jobs/221 stages for the query). The max is an
        exact integer, so inlining it as a literal replays the
        identical normalization."""
        raw = (
            nodes.join(
                edges.join(state.select(F.col("node").alias(src), "x"), src)
                .groupBy(F.col(dst).alias("node"))
                .agg(F.sum("x").alias("r")),
                "node",
                "left",
            )
            .select("node", F.expr(f"COALESCE(r, CAST(0 AS {d}))").alias("r"))
            # lazy: the max-collect below is the job that materializes
            # this checkpoint, so each half-round costs exactly ONE job
            .localCheckpoint(eager=False)
        )
        m = raw.agg(F.max("r")).collect()[0][0]
        m_lit = f"CAST('{max(int(m), 1) if m is not None else 1}' AS {d})"
        return raw.select(
            "node",
            F.expr(f"CAST(r * {q_lit} DIV {m_lit} AS {d})").alias("x"),
        )

    h = nodes.select("node", F.expr(q_lit).alias("x")).localCheckpoint(
        eager=False
    )
    a = h
    for _ in range(HITS_ROUNDS):
        nxt = half_round(h, "u", "v")
        # nxt is materialized: the last rounds are done (a is h at first)
        release_checkpoint(h)
        release_checkpoint(a)
        a = nxt
        h = half_round(a, "v", "u")
    release_checkpoint(edges)
    return h.join(
        a.select(F.col("node").alias("anode"), F.col("x").alias("ax")),
        F.col("node") == F.col("anode"),
    ).select(
        F.col("node").alias("vec_id"),
        pround(F.col("x").cast("double") / F.lit(1048576.0)).alias("hub"),
        pround(F.col("ax").cast("double") / F.lit(1048576.0)).alias(
            "authority"
        ),
    )


QUERIES["hits_scores"] = hits_scores


def _hits_oracle_sql() -> str:
    from smart_city_data_pipeline_spark.operators.dedup import ORACLES as _DO

    its = []
    prev_h = "h0"
    for t in range(1, HITS_ROUNDS + 1):
        its.append(
            f"""ar{t} AS MATERIALIZED (
        SELECT n.node, COALESCE(s.ar, CAST(0 AS HUGEINT)) AS ar
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, SUM(p.h) AS ar
            FROM edges e JOIN {prev_h} p ON e.u = p.node GROUP BY e.v
        ) s ON n.node = s.node
    ), a{t} AS MATERIALIZED (
        SELECT node, ar * CAST(1048576 AS HUGEINT)
               // GREATEST((SELECT MAX(ar) FROM ar{t}),
                           CAST(1 AS HUGEINT)) AS a
        FROM ar{t}
    ), hr{t} AS MATERIALIZED (
        SELECT n.node, COALESCE(s.hr, CAST(0 AS HUGEINT)) AS hr
        FROM nodes n LEFT JOIN (
            SELECT e.u AS node, SUM(p.a) AS hr
            FROM edges e JOIN a{t} p ON e.v = p.node GROUP BY e.u
        ) s ON n.node = s.node
    ), h{t} AS MATERIALIZED (
        SELECT node, hr * CAST(1048576 AS HUGEINT)
               // GREATEST((SELECT MAX(hr) FROM hr{t}),
                           CAST(1 AS HUGEINT)) AS h
        FROM hr{t}
    )"""
        )
        prev_h = f"h{t}"
    t = HITS_ROUNDS
    return f"""
    WITH knn AS MATERIALIZED (
        SELECT * FROM ({_DO["knn_graph"]})
    ),
    edges AS (SELECT vec_id AS u, neighbor_id AS v FROM knn),
    nodes AS (SELECT vec_id AS node FROM embeddings),
    h0 AS MATERIALIZED (SELECT node, CAST(1048576 AS HUGEINT) AS h FROM nodes),
    {", ".join(its)}
    SELECT h.node AS vec_id,
           {pround_sql('CAST(h.h AS DOUBLE) / 1048576.0')} AS hub,
           {pround_sql('CAST(a.a AS DOUBLE) / 1048576.0')} AS authority
    FROM h{t} h JOIN a{t} a ON h.node = a.node
"""


ORACLES["hits_scores"] = _hits_oracle_sql()


# --------------------------------------------------------------------------
# Submodular facility-location selection (the CRAIG / submodular data-
# pruning objective): pick the k vectors that together best COVER the
# corpus, where coverage of v is max over picks of sim(pick, v). The
# greedy argmax-of-marginal-gain is the classic (1−1/e)-approximation
# (Nemhauser et al. 1978). kcenter_sample maximizes spread, MMR serves
# one query; facility location picks the corpus's best REPRESENTATIVES.
# --------------------------------------------------------------------------

FL_K = 5  # picks (unrolled in the oracle — keep small)


def _fl_weighted_edges(spark: SparkSession, sf_dir: str):
    """(edges, nodes) for facility location: SRP-band-mate pairs plus
    self-edges, weighted by the exact integer dot of 2¹⁶-quantized
    vectors — exposed so the pytest can replay the greedy over the
    operator's own edge list."""
    from smart_city_data_pipeline_spark.operators.dedup import _srp_sig

    d = "decimal(38,0)"
    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    sig = _srp_sig()
    qv = emb.select(
        "vec_id", _qvec(F.col("embedding")).alias("q"), sig.alias("s")
    )
    bands = qv.select(
        "vec_id",
        F.posexplode(
            F.array(F.substring("s", 1, 8), F.substring("s", 9, 8))
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
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("v"))
        .dropDuplicates(["src", "v"])
        .unionAll(
            qv.select(F.col("vec_id").alias("src"), F.col("vec_id").alias("v"))
        )
    )
    va = qv.select(F.col("vec_id").alias("src"), F.col("q").alias("qa"))
    vb = qv.select(F.col("vec_id").alias("v"), F.col("q").alias("qb"))
    edges = (
        cand.join(va, "src")
        .join(vb, "v")
        .select(
            "src",
            "v",
            dot(F.col("qa"), F.col("qb")).cast(d).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = qv.select(F.col("vec_id").alias("v"))
    return edges, nodes


def facility_location_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location coreset: ``FL_K`` rounds of
    argmax_c Σ_v max(0, w(c,v) − cur(v)), where w is the exact integer
    dot product of 2¹⁶-quantized vectors (``_qvec``), coverage is
    restricted to SRP-band mates plus self (the LSH recall contract of
    ``semantic_dedup`` — similarity below band resolution counts 0),
    and cur(v) is the running best coverage. Each pick reports its
    marginal gain and the corpus coverage Σ_v cur(v) after it joins —
    the knee of that curve prices k.

    Exactness: weights, gains, and coverage are INTEGER sums in
    DECIMAL(38,0)/HUGEINT (no doubles anywhere in the statistic);
    argmax ties break to the lower vec_id on both engines.

    Scale shape: the weighted band-mate edge list is built ONCE
    (band-bounded, never O(n²)) and checkpointed; each round is one
    keyed join + one keyed integer aggregate + a TakeOrdered argmax
    row, then a broadcast of the pick's (dim-bounded) edge slice onto
    the coverage table — the ``kcenter_sample`` driver-pick bound with
    ``dedup_clusters`` checkpoint lineage.
    """
    d = "decimal(38,0)"
    edges, nodes = _fl_weighted_edges(spark, sf_dir)
    cur = nodes.select("v", F.expr(f"CAST(0 AS {d})").alias("cur"))
    picks = []
    # Coverage recurrence: Σ_v max(cur, w(p,v)) = Σ_v cur + gain(p) —
    # exact integer identity, so the running total replaces the
    # separate Σcur aggregation job the first spelling ran after every
    # pick (guide §1.2: one fewer full pass per round; the reported
    # numbers are unchanged by construction).
    coverage = 0
    for order in range(1, FL_K + 1):
        gains = (
            edges.join(cur, "v")
            .select(
                "src",
                F.expr(f"GREATEST(w - cur, CAST(0 AS {d}))").alias("g"),
            )
            .groupBy("src")
            .agg(F.sum("g").alias("gain"))
        )
        if picks:
            gains = gains.join(
                spark.createDataFrame(
                    [(p[1],) for p in picks], "src long"
                ),
                "src",
                "left_anti",
            )
        crow = (
            gains.orderBy(F.col("gain").desc(), F.col("src").asc())
            .limit(1)
            .collect()[0]
        )
        coverage += int(crow["gain"])
        picks.append((order, int(crow["src"]), int(crow["gain"]), coverage))
        if order == FL_K:
            break  # the last pick's coverage table is never read again
        pe = edges.filter(F.col("src") == int(crow["src"])).select(
            "v", F.col("w").alias("pw")
        )
        nxt = (
            cur.join(F.broadcast(pe), "v", "left")
            .select(
                "v",
                F.expr(
                    f"GREATEST(cur, COALESCE(pw, CAST(0 AS {d})))"
                ).alias("cur"),
            )
            .localCheckpoint(eager=True)
        )
        release_checkpoint(cur)  # a no-op on the un-checkpointed first
        cur = nxt
    release_checkpoint(cur)
    release_checkpoint(edges)
    return spark.createDataFrame(
        [(o, vid, g, cov) for o, vid, g, cov in picks],
        "sel_order int, vec_id long, gain long, total_coverage long",
    )


QUERIES["facility_location_select"] = facility_location_select


def _fl_oracle_sql() -> str:
    from smart_city_data_pipeline_spark.operators.dedup import _SRP_SIG_SQL

    qexpr = (
        "list_transform(CAST(embedding AS DOUBLE[]),"
        f" x -> CAST(FLOOR(x * {KMEANS_SCALE} + 0.5) AS DOUBLE))"
    )
    steps = [
        f"qv AS MATERIALIZED (SELECT vec_id, {qexpr} AS q,"
        f" {_SRP_SIG_SQL} AS s FROM embeddings)",
        "bands AS MATERIALIZED (SELECT vec_id, q,"
        " substr(s, 1, 8) AS band0, substr(s, 9, 8) AS band1 FROM qv)",
        "cand AS MATERIALIZED ("
        " SELECT a.vec_id AS src, b.vec_id AS v FROM bands a"
        "  JOIN bands b ON a.band0 = b.band0 AND a.vec_id <> b.vec_id"
        " UNION"
        " SELECT a.vec_id AS src, b.vec_id AS v FROM bands a"
        "  JOIN bands b ON a.band1 = b.band1 AND a.vec_id <> b.vec_id"
        " UNION"
        " SELECT vec_id AS src, vec_id AS v FROM qv)",
        "edges AS MATERIALIZED (SELECT c.src, c.v,"
        " CAST(list_dot_product(sa.q, sb.q) AS HUGEINT) AS w"
        " FROM cand c JOIN qv sa ON c.src = sa.vec_id"
        " JOIN qv sb ON c.v = sb.vec_id)",
        "cur0 AS MATERIALIZED (SELECT vec_id AS v,"
        " CAST(0 AS HUGEINT) AS cur FROM qv)",
    ]
    sel = []
    excl = ""
    for i in range(1, FL_K + 1):
        steps.append(
            f"g{i} AS MATERIALIZED (SELECT e.src,"
            f" SUM(GREATEST(e.w - c.cur, CAST(0 AS HUGEINT))) AS gain"
            f" FROM edges e JOIN cur{i-1} c ON e.v = c.v"
            f" {excl}"
            f" GROUP BY e.src)"
        )
        steps.append(
            f"p{i} AS MATERIALIZED (SELECT src, gain FROM g{i}"
            f" ORDER BY gain DESC, src ASC LIMIT 1)"
        )
        steps.append(
            f"cur{i} AS MATERIALIZED (SELECT c.v,"
            f" GREATEST(c.cur, COALESCE(e.w, CAST(0 AS HUGEINT))) AS cur"
            f" FROM cur{i-1} c LEFT JOIN"
            f" (SELECT e.v, e.w FROM edges e, p{i} p WHERE e.src = p.src) e"
            f" ON c.v = e.v)"
        )
        sel.append(
            f"SELECT {i} AS sel_order, src AS vec_id,"
            f" CAST(gain AS BIGINT) AS gain,"
            f" CAST((SELECT SUM(cur) FROM cur{i}) AS BIGINT)"
            f" AS total_coverage FROM p{i}"
        )
        excl = (
            "WHERE e.src NOT IN ("
            + " UNION ALL ".join(f"SELECT src FROM p{j}" for j in range(1, i + 1))
            + ")"
        )
    return "WITH " + ",\n".join(steps) + "\n" + " UNION ALL ".join(sel)


ORACLES["facility_location_select"] = _fl_oracle_sql()
