"""Text-analysis operators over the ``documents`` table: language ID,
quality scoring, token counting, fingerprinting, token explode.

These are the LLM-training-data-pipeline analogues of the reference's
per-record enrichment (classification + derived columns before the
warehouse write, ``traffic_batch_processing.py:50-69``).

Scale notes: all per-row projections (no shuffle) except the wordcount
explode, which is explode→hash-agg with map-side partial aggregation —
the canonical scalable wordcount. No Python UDFs anywhere.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.catalog import release_checkpoint, table
from smart_city_data_pipeline_spark.functions.rounding import pround, pround_py, pround_sql
from smart_city_data_pipeline_spark.functions import text as T


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        T.lang_id(F.col("text")).alias("lang_pred"),
        pround(T.stopword_ratio(F.col("text"))).alias("stopword_ratio"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        F.col("doc_id"),
        T.ws_token_count(t).alias("n_tokens"),
        pround(T.punct_ratio(t)).alias("punct_ratio"),
        pround(T.mean_word_len(t)).alias("mean_word_len"),
        T.quality_score(t).alias("quality_score"),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        F.col("doc_id"),
        T.ws_token_count(t).alias("ws_tokens"),
        T.regex_token_count(t).alias("regex_tokens"),
        F.length(t).alias("n_chars_computed"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    )


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Rabin-Karp fingerprint (vs. md5 set-style above)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        T.rolling_hash(F.col("text")).alias("roll_hash"),
    )


def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data filter: language == en, quality ≥ 0.5,
    exact-dup removal (keep the min-doc_id canonical copy).

    The composite pipeline an LLM-data run executes before tokenization.
    ONE scan: the regex-heavy scoring runs once, the text collapses to
    its md5 before the shuffle (narrow rows), and canonical selection is
    a rank-1 window over the hash — no second scan, no semi-join (the
    groupBy+semi-join formulation re-evaluated the scoring expressions
    on both branches: 1.6× slower, measured).
    """
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        T.lang_id(t).alias("lang_pred"),
        T.quality_score(t).alias("quality_score"),
        F.md5("text").alias("text_hash"),
    ).filter((F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.5))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_pred", "quality_score")
    )


def token_explode_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens corpus-wide (explode → agg → top-N), the
    nested-array flatten pattern of ``setup_smart_city_hive.hql:7``."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


SAMPLE_BUCKETS = 10_000
# Per-language keep-rate in buckets/10000: downsample the dominant
# language, keep the tail whole — the classic corpus-mix rebalance.
SAMPLE_RATES = {"en": 3_000}
SAMPLE_DEFAULT_RATE = 10_000


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling.

    Every doc lands in a stable bucket via md5(doc_id) mod 10 000 —
    never ``rand()``: at 100 TB a sample must be reproducible across
    retries, partitions, and engines (the md5 bucket is engine-portable
    and oracle-exact), and hash sampling needs NO shuffle, count, or
    sort — it is a pure per-row filter that composes with pushdown.
    Per-stratum rates come from the language-ID heuristic.
    """
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % SAMPLE_BUCKETS
    lang = T.lang_id(F.col("text"))
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lg, r in SAMPLE_RATES.items():
        rate = F.when(lang == lg, r).otherwise(rate)
    return (
        docs.select(
            "doc_id",
            lang.alias("lang_pred"),
            bucket.alias("sample_bucket"),
            rate.alias("keep_rate"),
        )
        .filter(F.col("sample_bucket") < F.col("keep_rate"))
        .select("doc_id", "lang_pred", "sample_bucket")
    )


REBALANCE_BUCKETS = 10_000
REBALANCE_SHARE_NUM = 1  # keep ~1/2 of total corpus tokens…
REBALANCE_SHARE_DEN = 2  # …split equally across sources


def source_token_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing under a TOKEN budget: allocate
    (total·share)/n_sources tokens to every source, keep each source's
    deterministic md5-bucket prefix that fits its allocation — the op a
    training pipeline runs to stop one over-crawled domain from
    dominating the mixture.

    Shapes that survive 100 TB: per-doc token counts are a pure
    projection; per-source totals are ONE map-side-combinable
    aggregate whose output is bounded by the source vocabulary (20
    fixed sources ⇒ broadcast back is policy-exempt); doc selection is
    a per-row bucket filter (md5, never rand() — reproducible across
    retries, partitions, engines). All threshold arithmetic is INTEGER
    (DIV / least), so no double division can flip a boundary doc
    between engines. Output: per-source before/after doc and token
    counts plus the bucket threshold actually applied.
    """
    from smart_city_data_pipeline_spark.catalog import spread
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    d = docs.select(
        "doc_id",
        "source",
        T.ws_token_count(F.col("text")).cast("long").alias("tok"),
        (md5_long(F.col("doc_id").cast("string")) % REBALANCE_BUCKETS).alias("bucket"),
    )
    per_src = d.groupBy("source").agg(F.sum("tok").alias("tokens"))
    totals = per_src.agg(
        F.sum("tokens").alias("tot_tokens"), F.count(F.lit(1)).alias("n_src")
    )
    thr = (
        per_src.join(F.broadcast(totals))
        .select(
            "source",
            F.least(
                F.lit(REBALANCE_BUCKETS),
                F.expr(
                    f"({REBALANCE_BUCKETS} * ((tot_tokens * {REBALANCE_SHARE_NUM}) DIV "
                    f"({REBALANCE_SHARE_DEN} * n_src))) DIV greatest(tokens, 1)"
                ),
            ).alias("keep_thr"),
        )
    )
    kept = F.col("bucket") < F.col("keep_thr")
    return (
        d.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.max("keep_thr").alias("keep_thr"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("tok")).otherwise(0)).alias("tokens_kept"),
        )
    )


def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train token frequencies on
    the corpus itself, score each document by its mean token negative
    log-probability — the classic cheap perplexity proxy used to rank
    training documents (low = natural in-distribution text, high =
    rare-token soup).

    One explode pass feeds BOTH aggregates (per-token corpus counts and
    the per-doc join-back), the vocabulary join is an equi-join on
    token (AQE sizes it; vocabulary grows sublinearly in the corpus),
    and the 1-row total is a broadcast scalar. ln() on an integer
    ratio is engine-portable; the final mean is rounded through pround.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n_total"))
    neg_lp = -F.log(F.col("tf").cast("double") / F.col("n_total"))
    # quantize-then-sum: each token's -ln p snaps once to the 2^20
    # grid; the per-doc mean is exact-integer sum / exact count (a raw
    # double AVG is partial-aggregation-order-dependent)
    lp_q = F.floor(neg_lp * F.lit(1048576.0) + F.lit(0.5)).cast("long")
    return (
        tok.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            pround(
                F.sum(lp_q).cast("double")
                / F.lit(1048576.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_neg_logprob"),
        )
    )


LENGTH_FILTER_LO = 5    # percent
LENGTH_FILTER_HI = 95   # percent


def length_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop length outliers: keep documents whose token count lies in
    the exact [P5, P95] of the corpus length distribution — the
    truncation/duplication guard every corpus build runs first.

    EXACT percentiles without a global sort: token-count HISTOGRAM
    (one hash aggregate over a value domain bounded by max doc length),
    cumulative counts via a window over the tiny distinct-value table
    (hundreds of rows — never the corpus), then the cutoffs broadcast
    back as a 1-row scalar pair and applied as a pure per-row filter.
    DuckDB twin uses the same construction, so the boundary is
    integer-exact in both engines (quantile functions would disagree on
    interpolation).
    """
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", T.ws_token_count(F.col("text")).cast("long").alias("n_tok"))
    hist = d.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("n_tok", F.sum("cnt").over(w).alias("cum"), F.col("cnt"))
    tot = hist.agg(F.sum("cnt").alias("n_docs"))
    # smallest value with cum*100 >= pct*n_docs  (integer arithmetic)
    cuts = (
        cum.join(F.broadcast(tot))
        .agg(
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n_docs") * LENGTH_FILTER_LO, F.col("n_tok"))
            ).alias("lo"),
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n_docs") * LENGTH_FILTER_HI, F.col("n_tok"))
            ).alias("hi"),
        )
    )
    return (
        d.join(F.broadcast(cuts))
        .filter((F.col("n_tok") >= F.col("lo")) & (F.col("n_tok") <= F.col("hi")))
        .select("doc_id", "n_tok")
    )


FUNNEL_MIN_TOKENS = 50
FUNNEL_MAX_TOKENS = 400
FUNNEL_MIN_QUALITY = 0.5
FUNNEL_MIN_DISTINCT_RATIO = 0.45


def filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build FILTERING FUNNEL: for each quality rule, how
    many documents it flags, how many it removes MARGINALLY (among
    survivors of the earlier rules), and how many documents survive
    after it — the report every large-scale data build publishes
    before training.

    Rules in funnel order: non-English → low quality score → high
    repetition → length outside [50, 400] tokens. All per-doc
    signals come from pure Column expressions plus ONE token-explode
    aggregate (the repetition signal); the funnel itself is a single
    global aggregate over the flag columns (conditional counts — one
    row out per rule via an explicit stack, no shuffle beyond the
    per-doc aggregate). Counts are integers, so the oracle is exact.
    """
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    rep = (
        docs.select(
            "doc_id", F.explode_outer(T.ws_tokens(F.lower(t))).alias("token")
        )
        .filter(F.col("token").isNotNull())
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)).cast("double") / F.sum("cnt")).alias("distinct_ratio")
        )
    )
    flags = (
        docs.select(
            "doc_id",
            (T.lang_id(t) != "en").alias("f_lang"),
            (T.quality_score(t) < FUNNEL_MIN_QUALITY).alias("f_quality"),
            T.ws_token_count(t).alias("n_tok"),
        )
        .join(rep, "doc_id")
        .select(
            "f_lang",
            "f_quality",
            (F.col("distinct_ratio") < FUNNEL_MIN_DISTINCT_RATIO).alias("f_rep"),
            (
                (F.col("n_tok") < FUNNEL_MIN_TOKENS)
                | (F.col("n_tok") > FUNNEL_MAX_TOKENS)
            ).alias("f_len"),
        )
    )
    s1 = ~F.col("f_lang")
    s2 = s1 & ~F.col("f_quality")
    s3 = s2 & ~F.col("f_rep")
    s4 = s3 & ~F.col("f_len")
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt(F.col("f_lang")).alias("fl1"),
        cnt(F.col("f_quality")).alias("fl2"),
        cnt(F.col("f_rep")).alias("fl3"),
        cnt(F.col("f_len")).alias("fl4"),
        cnt(s1 & F.col("f_quality")).alias("m2"),
        cnt(s2 & F.col("f_rep")).alias("m3"),
        cnt(s3 & F.col("f_len")).alias("m4"),
        cnt(s1).alias("s1"),
        cnt(s2).alias("s2"),
        cnt(s3).alias("s3"),
        cnt(s4).alias("s4"),
    )
    return agg.selectExpr(
        """stack(4,
            'lang',       fl1, fl1,            s1,
            'quality',    fl2, m2,             s2,
            'repetition', fl3, m3,             s3,
            'length',     fl4, m4,             s4
        ) AS (rule, n_flagged, n_removed_marginal, n_surviving)"""
    )


def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: corpus-trained conditional
    probabilities p(w_t | w_{t-1}) = count(w_{t-1} w_t) / count(w_{t-1}
    as a PREFIX), scored as each document's mean −log p over its
    adjacent token pairs — the next step up from the unigram proxy
    (:func:`unigram_logprob_score`): it punishes unnatural token ORDER,
    not just rare tokens.

    One posexplode pass feeds everything: adjacent pairs come from a
    per-doc lag window (partitioned by doc_id — bounded partitions,
    no global sort); bigram and prefix-unigram counts are two hash
    aggregates over the pair table (so numerator and denominator are
    consistent by construction — trailing tokens never inflate the
    prefix count); the final join back is keyed on the pair. ln() on
    an integer ratio is engine-portable; mean rounds through pround.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prs = (
        tok.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "token")
    )
    big = prs.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c2"))
    pre = prs.groupBy(F.col("prev").alias("p1")).agg(F.count(F.lit(1)).alias("c1"))
    neg_lp = -F.log(F.col("c2").cast("double") / F.col("c1"))
    # quantize-then-sum (see unigram_logprob_score): 2^20 grid per
    # pair term, exact integer sum / exact count
    lp_q = F.floor(neg_lp * F.lit(1048576.0) + F.lit(0.5)).cast("long")
    return (
        prs.join(big, ["prev", "token"])
        .join(pre, prs.prev == F.col("p1"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            pround(
                F.sum(lp_q).cast("double")
                / F.lit(1048576.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_neg_logprob"),
        )
    )


PACK_SEQ_LEN = 512  # tokens per training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-then-chunk): documents are
    concatenated in a deterministic order and cut into fixed
    ``PACK_SEQ_LEN``-token training sequences; each document reports
    the pack range it lands in — the final step of every LLM
    training-data build, and the input manifest a dataloader shards on.

    Deterministic and scalable: packing runs WITHIN each source (a
    window partitioned by source, ordered by md5(doc_id) — per-source
    partitions, never a global sort), the running offset is an integer
    cumulative sum, and pack ids are integer divisions — so both
    engines agree exactly and re-runs are reproducible. Documents
    longer than a sequence span multiple packs (end_pack > start_pack).
    """
    from smart_city_data_pipeline_spark.catalog import spread
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    d = docs.select(
        "doc_id",
        "source",
        T.ws_token_count(F.col("text")).cast("long").alias("tok"),
        md5_long(F.col("doc_id").cast("string")).alias("ord"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = d.select(
        "doc_id", "source", "tok", F.sum("tok").over(w).alias("cum")
    )
    return cum.select(
        "doc_id",
        "source",
        "tok",
        F.expr(f"(cum - tok) DIV {PACK_SEQ_LEN}").alias("start_pack"),
        # greatest(cum,1): a zero-token doc at offset 0 must not go
        # negative (DuckDB // floors, Spark DIV truncates — they
        # disagree below zero).
        F.expr(f"(greatest(cum, 1) - 1) DIV {PACK_SEQ_LEN}").alias("end_pack"),
    )


TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — the keyword/feature extraction
    pass of a training-data pipeline.

    Shapes: one explode → (doc, token) count (single keyed shuffle with
    map-side combine), token document-frequency as a second aggregate of
    THAT result (no re-scan of the corpus), corpus size as a 1-row
    global aggregate (broadcast — bounded by construction). The df side
    is corpus-scaled so it carries no hint. Ranking is a per-doc window
    with a deterministic (score desc, token asc) tiebreak.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .select("doc_id", "token", score.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "token", pround(F.col("tfidf")).alias("tfidf"))
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token
    ratio and top-token share — the dominant junk filters for web-scale
    corpora (templated/boilerplate pages repeat a few tokens).

    One explode → (doc, token) count (keyed shuffle, map-side combine)
    → per-doc aggregate of that result. Ratios divide exact BIGINTs, so
    both engines produce identical doubles.
    """
    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id", F.explode_outer(T.ws_tokens(F.lower(F.col("text")))).alias("token")
        )
        .filter(F.col("token").isNotNull())
    )
    per = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        pround(F.count(F.lit(1)).cast("double") / F.sum("cnt")).alias("distinct_ratio"),
        pround(F.max("cnt").cast("double") / F.sum("cnt")).alias("top_token_share"),
    )


# Portable PII regexes: simple classes + bounded quantifiers only, so
# Java regex (Spark) and RE2 (DuckDB) agree on every match.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — the scrub every training-data corpus runs
    before tokenization: emails, phone numbers, and IPv4 addresses are
    counted and replaced with typed placeholder tokens.

    The synthetic corpus carries no PII, so deterministic PII-shaped
    suffixes are synthesized from doc_id (identically in the oracle,
    the ``detections_explode`` pattern) to exercise real matches, not
    just zero counts. Counts are taken stepwise on the post-previous-
    scrub text so the two engines see the identical byte stream at
    every stage; the scrubbed text itself is certified by an md5
    signature column rather than shipped raw. Pure Column expressions —
    a narrow projection, no shuffle, no Python.
    """
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact agent"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")
            ),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" node 10."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 200).cast("string"),
                F.lit("."),
                (did % 250).cast("string"),
            ),
        ).otherwise(""),
    )
    n_emails = F.size(F.regexp_extract_all(pii, F.lit(PII_EMAIL_RE), 0))
    t1 = F.regexp_replace(pii, PII_EMAIL_RE, "[EMAIL]")
    n_phones = F.size(F.regexp_extract_all(t1, F.lit(PII_PHONE_RE), 0))
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "[PHONE]")
    n_ips = F.size(F.regexp_extract_all(t2, F.lit(PII_IP_RE), 0))
    t3 = F.regexp_replace(t2, PII_IP_RE, "[IP]")
    return docs.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
        F.length(t3).cast("int").alias("clean_len"),
        F.md5(t3).alias("scrub_sig"),
    )


SHUFFLE_SHARDS = 16  # 1024+ in a 100 TB deployment — see docstring


def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: every doc gets a pseudorandom md5 sort key, a shard (key mod
    N), and its position within the shard — the exact layout a data
    loader consumes, reproducible with no ``rand()`` anywhere.

    Scale: position ranking partitions per shard, so each window
    partition holds corpus/N docs — at 100 TB raise SHUFFLE_SHARDS to
    1024+ (shard count IS the parallelism knob; the md5 key spreads
    docs uniformly so partitions are balanced by construction). The
    writer-side counterpart is ``repartitionByRange`` on (shard, key).
    """
    docs = table(spark, sf_dir, "documents")
    hexkey = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(hexkey, 1, 15), 16, 10).cast("long") % SHUFFLE_SHARDS
    )
    keyed = docs.select(
        "doc_id", hexkey.alias("k"), shard.cast("int").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("k")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram with cumulative shares — the
    statistic that picks max_seq_len / packing geometry for a training
    run (companion to ``pack_sequences`` / ``length_outlier_filter``).

    One explode-free scan (token counts are a Column expression), one
    tiny hash aggregate, windows only over the ≤10-row histogram.
    """
    docs = table(spark, sf_dir, "documents")
    tok = T.ws_token_count(F.col("text"))
    bucket = F.when(tok >= 512, 512)
    for b in (256, 128, 64, 32, 16, 8, 4, 2):
        bucket = bucket.when(tok >= b, b)
    bucket = bucket.otherwise(1)
    g = docs.groupBy(bucket.cast("int").alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tok.cast("long")).alias("total_tokens"),
    )
    w_cum = (
        Window.orderBy("bucket_lo").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy()
    return g.select(
        "bucket_lo",
        "n_docs",
        "total_tokens",
        F.sum("n_docs").over(w_cum).alias("cum_docs"),
        pround(
            F.sum("n_docs").over(w_cum).cast("double")
            / F.sum("n_docs").over(w_all).cast("double")
        ).alias("cum_share"),
    )


VOCAB_MIN_FREQS = (2, 10, 100)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage report: for each minimum-frequency
    cutoff, how many distinct tokens survive and what share of all
    token OCCURRENCES they cover — the statistic that sizes a
    vocabulary / estimates the OOV rate before training a tokenizer.

    Deliberately threshold-based rather than top-K: top-K needs a
    global rank over the vocabulary (a single-partition window at
    100 TB), while frequency thresholds are one conditional aggregate
    over the vocab table — explode → hash-agg → 1-row agg → stack.
    """
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode_outer(T.ws_tokens(F.lower(F.col("text")))).alias("token")
        )
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    aggs = [F.sum("n").alias("total_tokens")]
    for t in VOCAB_MIN_FREQS:
        aggs.append(
            F.count(F.when(F.col("n") >= t, 1)).alias(f"v{t}")
        )
        aggs.append(
            F.sum(F.when(F.col("n") >= t, F.col("n")).otherwise(F.lit(0))).alias(
                f"c{t}"
            )
        )
    one = freq.agg(*aggs)
    stack_expr = ", ".join(
        f"{t}, v{t}, c{t}" for t in VOCAB_MIN_FREQS
    )
    n = len(VOCAB_MIN_FREQS)
    return one.select(
        F.expr(
            f"stack({n}, {stack_expr}) AS (min_freq, vocab_size, covered_tokens)"
        ),
        "total_tokens",
    ).select(
        F.col("min_freq").cast("int").alias("min_freq"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("covered_tokens").cast("long").alias("covered_tokens"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        pround(
            F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("coverage"),
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic-evaluation confusion matrix: the stopword language-ID
    heuristic scored against the corpus's labeled ``lang`` column —
    (true, predicted, count, share-of-true) — the eval every
    classifier-driven corpus filter needs before it gates data.

    One narrow projection + one tiny hash aggregate; the per-true-label
    normalization is a window over the ≤ |langs|² aggregate.
    """
    docs = table(spark, sf_dir, "documents")
    g = (
        docs.select(
            F.col("lang").alias("lang_true"),
            T.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang_true")
    return g.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        pround(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("share_of_true"),
    )


# Fixed logistic-regression weights: the stand-in for a trained
# fasttext-style quality classifier (the reference point is a model
# artifact shipped WITH the pipeline, not learned in it). Positive
# signal: English stopword density; negative: punctuation soup, very
# long 'words' (markup), with a mild length prior.
QC_WEIGHTS = {
    "bias": -1.0,
    "stopword_ratio": 8.0,
    "punct_ratio": -6.0,
    "mean_word_len": -0.2,
    "log_tokens": 0.35,
}
QC_KEEP_THRESHOLD = 0.5


def qc_score_col(t: Column) -> Column:
    """The pround'd logistic quality score as ONE Column expression —
    shared by :func:`quality_classifier_score` and the classifier-eval
    operators in ``stats.py`` (calibration / ROC), so the score the
    evals grade is definitionally the score the filter ships.
    """
    z = (
        F.lit(QC_WEIGHTS["bias"])
        + F.lit(QC_WEIGHTS["stopword_ratio"]) * T.stopword_ratio(t)
        + F.lit(QC_WEIGHTS["punct_ratio"]) * T.punct_ratio(t)
        + F.lit(QC_WEIGHTS["mean_word_len"]) * T.mean_word_len(t)
        + F.lit(QC_WEIGHTS["log_tokens"])
        * F.log(F.lit(1.0) + T.ws_token_count(t).cast("double"))
    )
    return pround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a fixed-weight logistic model over
    cheap text features → per-doc keep probability + keep flag — the
    classifier-filter stage of a corpus build (rule filters in
    ``filter_funnel_report`` catch the floor; the classifier ranks the
    middle).

    Pure per-row projection, zero shuffle: every feature and the
    sigmoid are single Column expressions inside whole-stage codegen.
    The keep flag compares the ROUNDED score so the decision is
    engine-portable at the boundary.
    """
    docs = table(spark, sf_dir, "documents")
    score = qc_score_col(F.col("text"))
    return docs.select(
        "doc_id",
        score.alias("qc_score"),
        (score >= QC_KEEP_THRESHOLD).alias("keep"),
    )


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the Gopher-style
    'is this text or noise' signal (base64 blobs and repeated-char
    padding sit far below natural language; random bytes far above).

    Linear keyed work: one char explode → (doc, char) counts →
    per-doc entropy, with the per-doc total as a window over the tiny
    counts table (≤ alphabet size rows per doc), never a second fact
    scan. Map-side combine collapses the explode before the shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.length("ch") > 0)
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("doc_id")
    p = F.col("n").cast("double") / F.sum("n").over(wd).cast("double")
    # each -p·ln p term snaps once to the 2^20 grid so the per-doc
    # total is an exact INTEGER sum (quantize-then-sum rule — raw
    # double sums are partial-aggregation-order-dependent)
    ent_q = 1048576.0
    terms = counts.select(
        "doc_id",
        F.sum("n").over(wd).alias("n_chars"),
        F.floor(-p * F.log(p) * F.lit(ent_q) + F.lit(0.5))
        .cast("long")
        .alias("tq"),
    )
    return terms.groupBy("doc_id").agg(
        F.max("n_chars").alias("n_chars"),
        F.count(F.lit(1)).alias("n_unique_chars"),
        pround(F.sum("tq").cast("double") / F.lit(ent_q)).alias(
            "char_entropy"
        ),
    )


BM25_QUERY = ("spark", "join", "window")  # fixed retrieval query terms
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring of the corpus against a fixed query —
    the ranking leg TF-IDF (``tfidf_top_terms``) doesn't cover:
    document-length normalization + saturating term frequency, the
    lexical half of every retrieval/RAG stack.

    One explode pass filtered to the query terms BEFORE the shuffle
    (the filter is a 3-element isin pushed into the generator output,
    so the keyed aggregate sees only query-term hits); document
    lengths are a narrow projection; the 1-row corpus stats carry an
    explicit broadcast (global aggregate, provably 1 row), while the
    per-term document frequencies (≤ |query| rows, but grouped on an
    unbounded-vocabulary column the policy checker can't prove) carry
    no hint — AQE size-gates that join and broadcasts it at runtime.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    ).filter(F.col("token").isin(*BM25_QUERY))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.ws_token_count(F.col("text")).cast("long")).alias("sum_dl"),
    )
    dl = docs.select("doc_id", T.ws_token_count(F.col("text")).alias("dl"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    avgdl = d("sum_dl") / d("n_docs")
    idf = F.log((d("n_docs") - d("df") + 0.5) / (d("df") + 0.5) + 1.0)
    denom = d("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * d("dl") / avgdl)
    score = idf * d("tf") * (BM25_K1 + 1.0) / denom
    # per-term contributions snap once to the 2^20 grid; the per-doc
    # total is an exact INTEGER sum (quantize-then-sum rule)
    score_q = F.floor(score * F.lit(1048576.0) + F.lit(0.5)).cast("long")
    return (
        tf.join(dl, "doc_id")
        .join(dfreq, "token")
        .join(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_query_terms"),
            pround(F.sum(score_q).cast("double") / F.lit(1048576.0)).alias(
                "bm25"
            ),
        )
    )


# Gopher's "fraction of characters in duplicate 5-grams" junk filter
# (Rae et al. 2021 §A1.1): templated pages repeat whole phrases, which
# the distinct-TOKEN ratio in text_repetition cannot see.
DUP_NGRAM_K = 5
# flag when dup chars exceed 15% of gram chars (Gopher's dup-5-gram bar)
DUP_NGRAM_PCT = 15
# The synthetic corpus has no WITHIN-doc phrase repetition, so (like
# pii_scrub's synthesized PII) a deterministic repeated phrase is
# appended to a doc_id-keyed subset — the duplicate branch is then real
# in the gate, not a never-taken CASE arm. %6 docs get mild repetition
# (stays under the flag bar), %24 docs enough to cross it.
_DUP_PHRASE = "spark shuffle partition spill merge join"
_DUP_SYNTH_2 = " " + _DUP_PHRASE + " " + _DUP_PHRASE
_DUP_SYNTH_4 = _DUP_SYNTH_2 + _DUP_SYNTH_2
_DUP_SYNTH_SQL = (
    "text"
    f" || CASE WHEN doc_id % 6 = 0 THEN '{_DUP_SYNTH_2}' ELSE '' END"
    f" || CASE WHEN doc_id % 24 = 0 THEN '{_DUP_SYNTH_4}' ELSE '' END"
)


def dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document duplicate n-gram character fraction, the Gopher
    repetition rule ``text_repetition`` doesn't cover: each positional
    5-gram is weighted by its character length, and a position counts
    as duplicated when its gram text occurs ≥ 2 times in the SAME doc
    (cross-doc duplication is ``exact_substring_spans``' job).

    Shape: one projection builds the positional gram array (tokens
    materialized as a column first, so the split runs once per row)
    → explode → (doc, gram) count with map-side combine → per-doc
    aggregate. Linear keyed shuffles only; no joins, no pair blowup.
    The flag compares exact BIGINTs (``dup·100 > total·15``) so both
    engines decide it identically with no float boundary.
    """
    docs = table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(_DUP_SYNTH_2)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 24 == 0, F.lit(_DUP_SYNTH_4)).otherwise(F.lit("")),
    )
    toked = docs.select(
        "doc_id", T.ws_tokens(F.lower(synth)).alias("tk")
    )
    occ = (
        toked.select(
            "doc_id",
            F.explode_outer(T.kgram_strings(F.col("tk"), DUP_NGRAM_K)).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    per_gram = occ.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    chars = F.col("cnt") * F.length("g").cast("long")
    agg = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.sum(chars).alias("total_gram_chars"),
        F.sum(F.when(F.col("cnt") >= 2, chars).otherwise(F.lit(0).cast("long")))
        .alias("dup_gram_chars"),
    )
    base = docs.select("doc_id")
    out = base.join(agg, "doc_id", "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0).cast("long"))
    total = F.coalesce(F.col("total_gram_chars"), F.lit(0).cast("long"))
    dup = F.coalesce(F.col("dup_gram_chars"), F.lit(0).cast("long"))
    return out.select(
        "doc_id",
        n_grams.alias("n_grams"),
        total.alias("total_gram_chars"),
        dup.alias("dup_gram_chars"),
        F.when(total > 0, pround(dup.cast("double") / total.cast("double")))
        .alias("dup_char_frac"),
        (dup * 100 > total * DUP_NGRAM_PCT).alias("flagged"),
    )


# The REMAINING Gopher repetition rows (Rae et al. 2021 §A1.1) beyond
# text_repetition (top token) and dup_ngram_chars (dup 5-gram): top
# n-gram character share for n ∈ {2,3,4} and duplicate n-gram character
# fraction for n ∈ {6,8,10}, with the paper's per-n flag thresholds
# (×100 exact-integer compares).
GOPHER_NS = (2, 3, 4, 6, 8, 10)
GOPHER_PCT = {2: 20, 3: 18, 4: 16, 6: 14, 8: 12, 10: 10}
# gram-identity hash families: two independent md5-seeded token hashes
# folded polynomially mod two ~2^31 primes (products stay < 2^52 —
# exact in both engines; DuckDB BIGINT would raise on a 2^61 modulus)
GOPHER_HM1 = 2147483629
GOPHER_HM2 = 2147483587
GOPHER_HB = 1000003


def gopher_repetition_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition panel, completed: per document, the fraction
    of n-gram characters claimed by the single most frequent n-gram
    (n = 2, 3, 4) and by all duplicated n-grams (n = 6, 8, 10), each
    with the Gopher flag threshold, plus the any-rule ``flagged``.

    Same weighting contract as ``dup_ngram_chars``: shares are
    relative to that n's total gram characters (cnt·len sums of exact
    BIGINTs — Gopher's no-double-count span union is approximated by
    occurrence weighting, documented deviation). The top gram is the
    max by (count, gram char length) — the tie rule only has to be
    deterministic, and comparing two BIGINTs needs no string collation
    agreement between engines. Branch coverage: the ``dup_ngram_chars``
    doc_id-keyed synthetic phrase repetitions make the dup-6/8/10 and
    flag branches real (%6 docs repeat a 6-token phrase twice → dup-6
    fires; %24 docs carry 6 copies → dup-8/10 and the flags fire).

    Shape: ONE tokenize + one tagged explode (all six gram streams in
    a single generator) → (doc, n, gram) count with map-side combine →
    per-(doc, n) aggregate → conditional-aggregate pivot to one row
    per doc. Linear keyed shuffles; gram streams are consumed map-side.

    Gram IDENTITY is a pair of independent md5-seeded polynomial
    hashes (two ~2³¹ moduli; joint within-(doc, n) collision ~1e-14),
    never the gram string: the first implementation shuffled ~70-byte
    gram strings and spent its time concatenating them (8 s →
    ~2 s at sf0.1). Char length rides alongside as an incremental
    integer sum, so every downstream number is unchanged; hashes and
    lengths build in ONE shared-prefix zip chain per family.
    """
    docs = table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(_DUP_SYNTH_2)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 24 == 0, F.lit(_DUP_SYNTH_4)).otherwise(F.lit("")),
    )
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    # positional token stream + window LEAD taps, NOT array zip_with
    # chains: Spark's higher-order array lambdas run interpreted per
    # element (the zip-chain form cost 4.5 s of the 8 s total at
    # sf0.1); a posexplode + one window pass keeps every hash fold in
    # whole-stage codegen.
    toked = docs.select("doc_id", T.ws_tokens(F.lower(synth)).alias("tk"))
    base = toked.select(
        "doc_id",
        F.size("tk").alias("ntok"),
        F.posexplode("tk").alias("pos", "tok"),
    ).select(
        "doc_id",
        "ntok",
        "pos",
        (md5_long(F.concat(F.lit("g1:"), F.col("tok"))) % GOPHER_HM1).alias("a1"),
        (md5_long(F.concat(F.lit("g2:"), F.col("tok"))) % GOPHER_HM2).alias("a2"),
        F.length("tok").cast("long").alias("al"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    kmax = max(GOPHER_NS)
    # window pass materializes the lead taps; the generator below may
    # not contain window expressions itself
    leads = base.select(
        "doc_id",
        "ntok",
        "pos",
        "a1",
        "a2",
        "al",
        *[F.lead("a1", j).over(w).alias(f"b1_{j}") for j in range(1, kmax)],
        *[F.lead("a2", j).over(w).alias(f"b2_{j}") for j in range(1, kmax)],
        *[F.lead("al", j).over(w).alias(f"bl_{j}") for j in range(1, kmax)],
    )
    # Fold the hash chains into PLAIN projection columns BEFORE the
    # generator: embedded directly in the array-of-structs argument,
    # each entry carried its full cumulative fold-expression tree and
    # the Generate input evaluated the chains without common-
    # subexpression sharing — measured 5.3 s for the explode stage vs
    # 1.3 s with the chains projected first (guide §1.2 per-task work;
    # same integers, so every downstream number is unchanged).
    h1, h2, clen = F.col("a1"), F.col("a2"), F.col("al")
    chain_cols = []
    for k in range(2, kmax + 1):
        h1 = (h1 * GOPHER_HB + F.col(f"b1_{k - 1}")) % GOPHER_HM1
        h2 = (h2 * GOPHER_HB + F.col(f"b2_{k - 1}")) % GOPHER_HM2
        clen = clen + F.col(f"bl_{k - 1}") + 1
        if k in GOPHER_NS:
            chain_cols += [
                h1.alias(f"ch1_{k}"),
                h2.alias(f"ch2_{k}"),
                clen.alias(f"ccl_{k}"),
            ]
    chained = leads.select("doc_id", "ntok", "pos", *chain_cols)
    entries = [
        F.when(
            F.col("pos") <= F.col("ntok") - k,
            F.struct(
                F.lit(k).cast("int").alias("n"),
                F.col(f"ch1_{k}").alias("h1"),
                F.col(f"ch2_{k}").alias("h2"),
                F.col(f"ccl_{k}").alias("clen"),
            ),
        )
        for k in GOPHER_NS
    ]
    occ = (
        chained.select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select(
            "doc_id",
            F.col("e.n").alias("n"),
            F.col("e.h1").alias("h1"),
            F.col("e.h2").alias("h2"),
            F.col("e.clen").alias("clen"),
        )
    )
    per_gram = occ.groupBy("doc_id", "n", "h1", "h2").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("clen").alias("clen")
    )
    # top gram = lexicographic max by (cnt, clen). Spelled as max over a
    # STRUCT this planned a Sort + SortAggregate over the whole per-gram
    # table (struct max is not hash-aggregable); packing the pair into
    # one BIGINT (cnt·2³² + clen — clen is a gram's char length, far
    # below 2³², so the encoded order IS the lexicographic order) keeps
    # the aggregate a HashAggregate pipelined on the window's doc_id
    # partitioning with no extra sort (guide §2.4/§5: hash vs sort
    # aggregate). Decoded cnt·clen is bit-identical to the struct form.
    enc = F.col("cnt") * F.lit(4294967296).cast("long") + F.col("clen")
    per_n = per_gram.groupBy("doc_id", "n").agg(
        F.sum(F.col("cnt") * F.col("clen")).alias("total_chars"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.col("clen")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("dup_chars"),
        F.max(enc).alias("topenc"),
    )
    sel = per_n.select(
        "doc_id",
        "n",
        "total_chars",
        "dup_chars",
        (
            F.expr("topenc DIV 4294967296") * (F.col("topenc") % 4294967296)
        ).alias("top_chars"),
    )

    def pick(n: int, col: str) -> Column:
        return F.max(F.when(F.col("n") == n, F.col(col)))

    agg = sel.groupBy("doc_id").agg(
        *[pick(n, "total_chars").alias(f"tot{n}") for n in GOPHER_NS],
        *[pick(n, "dup_chars").alias(f"dup{n}") for n in (6, 8, 10)],
        *[pick(n, "top_chars").alias(f"top{n}") for n in (2, 3, 4)],
    )
    out = docs.select("doc_id").join(agg, "doc_id", "left")
    cols = [F.col("doc_id")]
    flag_exprs = []
    for n in (2, 3, 4):
        tot = F.coalesce(F.col(f"tot{n}"), F.lit(0).cast("long"))
        top = F.coalesce(F.col(f"top{n}"), F.lit(0).cast("long"))
        cols.append(
            F.when(tot > 0, pround(top.cast("double") / tot.cast("double")))
            .otherwise(F.lit(0.0))
            .alias(f"top{n}_share")
        )
        flag_exprs.append((top * 100 > tot * GOPHER_PCT[n], f"top{n}_flag"))
    for n in (6, 8, 10):
        tot = F.coalesce(F.col(f"tot{n}"), F.lit(0).cast("long"))
        dup = F.coalesce(F.col(f"dup{n}"), F.lit(0).cast("long"))
        cols.append(
            F.when(tot > 0, pround(dup.cast("double") / tot.cast("double")))
            .otherwise(F.lit(0.0))
            .alias(f"dup{n}_frac")
        )
        flag_exprs.append((dup * 100 > tot * GOPHER_PCT[n], f"dup{n}_flag"))
    any_flag = functools.reduce(lambda a, b: a | b, [e for e, _ in flag_exprs])
    return out.select(
        *cols,
        *[e.alias(name) for e, name in flag_exprs],
        any_flag.alias("flagged"),
    )


# Coarse chunk-level dedup: non-overlapping CHUNK_K-token chunks are
# the cheap first pass before shingle/MinHash machinery — one hash per
# chunk instead of one per token position.
CHUNK_K = 16


def chunk_dedup_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document CHUNK duplication: documents are cut into
    non-overlapping 16-token chunks (tail tokens short of a full chunk
    are ignored, documented contract), each chunk md5-hashed; a chunk
    is duplicated when its hash occurs in ≥ 2 distinct docs. Reports
    per-doc chunk counts and the duplicated share — the coarse, cheap
    pre-pass run before positional-shingle machinery at 100 TB (16×
    fewer hashes than ``exact_substring_spans``' per-position grams).

    Shape: chunk array is built by slicing a MATERIALIZED token column
    (one split per row); explode → per-hash distinct-doc frequency
    (hash aggregate) → occurrences semi-joined back per doc. Linear
    keyed shuffles, no quadratic cell anywhere (a boilerplate chunk
    costs one aggregate row + its occurrence count, never df² rows).
    """
    from smart_city_data_pipeline_spark.catalog import spread
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select(
        "doc_id", T.ws_tokens(F.lower(F.col("text"))).alias("tk")
    )
    # integer DIV (not a double divide + cast) so the count matches the
    # oracle's `len(tk) // CHUNK_K` exactly for ANY future CHUNK_K, not
    # just power-of-two values where the float quotient happens to be
    # exact
    n_chunks = F.expr(f"size(tk) DIV {CHUNK_K}")
    # sequence(0, -1) would yield [0, -1] (Spark infers step -1), so
    # empty docs get an explicit empty index array.
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    chunked = toked.select(
        "doc_id",
        F.col("tk"),
        F.explode_outer(idx).alias("i"),
    )
    occ = chunked.filter(F.col("i").isNotNull()).select(
        "doc_id",
        md5_long(
            F.array_join(
                F.slice(
                    F.col("tk"),
                    (F.col("i") * CHUNK_K + 1).cast("int"),
                    CHUNK_K,
                ),
                " ",
            )
        ).alias("hs"),
    )
    dup_hs = (
        occ.groupBy("hs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("hs")
    )
    dup_counts = (
        occ.join(dup_hs, "hs").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup"))
    )
    per_doc = toked.select("doc_id", n_chunks.alias("n_chunks"))
    dup = F.coalesce(F.col("n_dup"), F.lit(0).cast("long"))
    return per_doc.join(dup_counts, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        dup.alias("dup_chunks"),
        F.when(
            F.col("n_chunks") > 0,
            pround(dup.cast("double") / F.col("n_chunks").cast("double")),
        ).alias("dup_share"),
        (dup > 0).alias("flagged"),
    )


# Gopher word-statistics bounds (Rae et al. 2021 §A1.1): mean word
# length outside [3, 10] marks OCR junk / symbol soup / whitespace-
# mangled text.
WORD_LEN_MIN = 3
WORD_LEN_MAX = 10
# The synthetic corpus's mean word lengths all sit inside [3, 10], so
# (pii_scrub / dup_ngram_chars precedent) doc_id-keyed outliers are
# synthesized: %9 docs get one 3000-char token (OCR-garbage shape,
# mean ≫ 10), %13 docs get 40 single-char tokens (mangled-whitespace
# shape, mean < 3) — both flag branches are then real in the gate.
_WLEN_LONG = " " + "x" * 3000
_WLEN_SHORT = " a" * 40
_WLEN_SYNTH_SQL = (
    "text"
    f" || CASE WHEN doc_id % 9 = 0 THEN '{_WLEN_LONG}' ELSE '' END"
    f" || CASE WHEN doc_id % 13 = 0 THEN '{_WLEN_SHORT}' ELSE '' END"
)


def gopher_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher word-statistics rule: per-document token count, total
    word characters, mean and max word length, and the out-of-bounds
    flag (mean outside [3, 10]) — the length-shape junk filter
    ``text_quality``'s punctuation/stopword score doesn't cover.

    Pure zero-shuffle projection: token lengths come from one
    ``transform`` over the materialized token array, the total from an
    ``aggregate`` fold, the max from ``array_max`` — all JVM-side. The
    flag compares exact BIGINTs (``total < 3·n`` / ``total > 10·n``),
    so both engines decide it identically with no float boundary.
    """
    docs = table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 9 == 0, F.lit(_WLEN_LONG)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(_WLEN_SHORT)).otherwise(F.lit("")),
    )
    toked = docs.select(
        "doc_id", T.ws_tokens(F.lower(synth)).alias("tk")
    )
    lens = F.transform(F.col("tk"), lambda t: F.length(t).cast("long"))
    staged = toked.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_word_chars"),
        F.array_max(lens).alias("max_word_len"),
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "total_word_chars",
        "max_word_len",
        F.when(
            F.col("n_tokens") > 0,
            pround(
                F.col("total_word_chars").cast("double")
                / F.col("n_tokens").cast("double")
            ),
        ).alias("mean_word_len"),
        (
            (F.col("total_word_chars") < WORD_LEN_MIN * F.col("n_tokens"))
            | (F.col("total_word_chars") > WORD_LEN_MAX * F.col("n_tokens"))
        ).alias("flagged"),
    )


BPE_TOP = 50  # merge candidates reported per counting pass


def bpe_pair_counts_frame(symdf: DataFrame) -> DataFrame:
    """Adjacent-symbol-pair counting over a weighted symbol-sequence
    frame (``syms array<string>``, ``wn`` word frequency) — the inner
    loop of BPE/WordPiece training. Pairs come from zipping the
    sequence against itself shifted by one (two slices, no index
    lambda), each occurrence weighted by the word's corpus frequency;
    one map-side-combinable keyed count follows."""
    n1 = F.greatest(F.size("syms") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, n1),
        F.slice(F.col("syms"), 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        symdf.select("wn", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wn").alias("n_pairs"))
    )


def _word_counts(docs: DataFrame) -> DataFrame:
    """Distinct lowercased whitespace words ``w`` with their corpus
    frequencies ``wn``: the working set of every tokenizer trainer.
    Counting over the distinct VOCABULARY (weighted by frequency)
    instead of raw tokens is the classic Sennrich trick: later passes
    are vocab-sized, not corpus-sized."""
    words = docs.select(
        F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("w")
    ).filter(F.col("w") != "")
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))


def _per_vocab(words: DataFrame, kernel, schema: str) -> DataFrame:
    """The distinct-word table ``(w, wn)`` through one
    ``groupBy().applyInPandas`` group: ``kernel(vocab)`` maps the
    ``{word: frequency}`` dict to the output rows. Bound: the
    distinct-word table must fit one Python worker; the generator
    draws every word from a fixed list, so it holds 31 words at every
    scale factor."""

    def run(pdf):
        import pandas as pd

        return pd.DataFrame(kernel(dict(zip(pdf["w"].tolist(), pdf["wn"].tolist()))))

    return words.groupBy().applyInPandas(run, schema)


def bpe_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-TRAINING pair statistics (Sennrich et al. 2016):
    the first counting pass — corpus-frequency-weighted adjacent
    character-pair counts over the distinct word vocabulary, ranked;
    the top row is BPE's first merge. Completes the tokenizer leg next
    to the sizing ops (``vocab_coverage``/``seq_len_histogram``).

    Scale: explode + keyed count over the word VOCABULARY (not the
    corpus — frequencies weight instead). The rank window runs over
    the pair aggregate, bounded by the character-bigram vocabulary
    (≈ charset², hundreds of rows), never row count.
    """
    docs = table(spark, sf_dir, "documents")
    counts = bpe_pair_counts_frame(
        _word_counts(docs).select(F.split("w", "").alias("syms"), "wn")
    )
    w = Window.orderBy(F.col("n_pairs").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BPE_TOP)
        .select("rank", "pair", "n_pairs")
    )


ZIPF_TOP_R = 1000  # vocabulary ranks used for the fit
ZIPF_Q = 1 << 14  # log grid: keeps n*Sxy < 2^63 at R=1000 ranks


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Zipf-law fit: least-squares slope of ln(freq) vs
    ln(rank) over the top ``ZIPF_TOP_R`` vocabulary ranks — the
    corpus-health check (natural text sits near −1; templated or
    synthetic corpora drift off; this word-soup corpus reads nearly
    flat, which is itself the diagnostic).

    Determinism: both log coordinates quantize to the 2¹⁴ integer
    grid before the regression sums (sized so n·Σxy stays under 2⁶³), so Σx, Σy, Σxy, Σx² are exact
    integers under any partial-agg order and the slope/intercept are
    single double divisions. Shape: one corpus-keyed vocab count, a
    rank window over the VOCABULARY (bounded), then one global
    aggregate of four integer sums."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("t"))
    vocab = tok.filter(F.col("t") != "").groupBy("t").agg(
        F.count(F.lit(1)).alias("tf")
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("t").asc())
    ranked = (
        vocab.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= ZIPF_TOP_R)
    )
    qx = F.floor(F.log(F.col("r").cast("double")) * ZIPF_Q + 0.5).cast("long")
    qy = F.floor(F.log(F.col("tf").cast("double")) * ZIPF_Q + 0.5).cast("long")
    pts = ranked.select(qx.alias("x"), qy.alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    slope = num / den
    intercept = (sy.cast("double") - slope * sx.cast("double")) / (
        n.cast("double") * F.lit(float(ZIPF_Q))
    )
    return agg.select(
        n.cast("long").alias("n_points"),
        pround(slope).alias("slope"),
        pround(intercept).alias("intercept"),
    )


# C4-style blocklist (Raffel et al. 2020 §2.2 "bad words" rule: drop a
# page if ANY listed token appears). Tokens chosen to occur in the
# word-soup corpus so both branches are hash-checked.
C4_BADWORDS = ("slow", "dup")


def c4_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 blocklist filter: per document, occurrences and distinct
    hits from a fixed token blocklist, and the drop verdict (ANY hit
    blocks — the paper's rule, deliberately blunt). Pure
    explode → isin filter → keyed count; the blocklist is a literal
    IN-list the scan evaluates pre-shuffle, so at 100 TB only hit rows
    ever leave the mapper."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    hits = (
        tok.filter(F.col("token").isin(*C4_BADWORDS))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bad_tokens"),
            F.countDistinct("token").alias("n_distinct_bad"),
        )
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bad_tokens", F.lit(0).cast("long")).alias("n_bad_tokens"),
        F.coalesce("n_distinct_bad", F.lit(0).cast("long")).alias(
            "n_distinct_bad"
        ),
        (F.coalesce("n_bad_tokens", F.lit(0).cast("long")) > 0).alias("blocked"),
    )


# train/val/test cut points over the md5 permille bucket (80/10/10)
SPLIT_TRAIN_PM = 800
SPLIT_VAL_PM = 900


def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + stratification audit:
    every doc lands in a stable split via md5(doc_id) permille (never
    ``rand()`` — re-runs, retries, and engines must agree doc-by-doc
    or training data leaks across splits between pipeline versions),
    and the report shows the per-(source, lang) split counts with the
    realized fraction — the check that hash splitting didn't skew any
    stratum. Assignment is a pure per-row projection (composes with
    pushdown, no shuffle); the audit is one keyed count.
    """
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    pm = md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 1000
    split = (
        F.when(pm < SPLIT_TRAIN_PM, "train")
        .when(pm < SPLIT_VAL_PM, "val")
        .otherwise("test")
    )
    assigned = docs.select("doc_id", "source", "lang", split.alias("split"))
    per = assigned.groupBy("source", "lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wt = Window.partitionBy("source", "lang")
    return per.select(
        "source",
        "lang",
        "split",
        "n_docs",
        pround(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(wt)
        ).alias("share"),
    )


BPE_TRAIN_ITERS = 6  # full training iterations for bpe_train_merges


def _learn_merges(vocab: dict, iters: int, pick) -> tuple[list, dict]:
    """``iters`` merge rounds over the distinct-word table ``vocab``
    (``{word: frequency}``), the loop of Sennrich et al. 2016: count
    the frequency-weighted adjacent symbol pairs (``"a b"``) and
    symbols, let ``pick(pairs, units)`` choose a pair and report it as
    a row whose first field is the pair, fuse it in every word
    leftmost-greedy (a fused symbol never chains into a second
    overlapping match in the same round) and repeat. Returns the rows,
    each led by its 1-based round, and each word's final symbols."""
    seqs = {w: list(w) for w in vocab}
    rows = []
    for it in range(1, iters + 1):
        pairs: dict = {}
        units: dict = {}
        for w, seq in seqs.items():
            n = vocab[w]
            for x in seq:
                units[x] = units.get(x, 0) + n
            for x, y in zip(seq, seq[1:]):
                pair = f"{x} {y}"
                pairs[pair] = pairs.get(pair, 0) + n
        row = pick(pairs, units)
        rows.append((it, *row))
        a, b = row[0].split(" ")
        for seq in seqs.values():
            out: list = []
            for x in seq:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            seq[:] = out
    return rows, seqs


def _bpe_pick(pairs: dict, _units: dict) -> tuple:
    """BPE's pick: the most frequent pair, ties to the smaller pair."""
    return min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, end to end for ``BPE_TRAIN_ITERS``
    iterations (Sennrich et al. 2016's actual loop, not just the first
    counting pass): count weighted adjacent pairs over the vocabulary
    → take the argmax pair (ties to the lexicographically smaller) →
    fuse it everywhere (leftmost-greedy) → repeat. Emits the learned
    merge table — the artifact a tokenizer ships.

    Scale shape: one lazy plan, the word count (one keyed count over
    the corpus explode) and :func:`_learn_merges` over the whole
    distinct-word table in one :func:`_per_vocab` group. Bound: the
    distinct-word table fits one Python worker (31 words today); the
    rounds never touch the corpus.
    Oracle: the DuckDB twin unrolls the same six stages; the merge
    rewrite uses a bracket-delimited symbol string (``[a][b]`` →
    ``[ab]``) whose sequential left-to-right ``replace`` provably
    equals the greedy fuse — each symbol owns its brackets, so
    adjacent matches never share characters (the ``|``-separator
    encoding fails exactly there) and a fused symbol can never be the
    left element of a later match in the same pass (fused ≠ left
    unless b were empty).
    """
    return _per_vocab(
        _word_counts(table(spark, sf_dir, "documents")),
        lambda vocab: _learn_merges(vocab, BPE_TRAIN_ITERS, _bpe_pick)[0],
        "iteration int, pair string, n_pairs long",
    )


def _bpe_stages_sql(iters: int) -> tuple[str, list[str]]:
    """Shared CTE chain for the BPE oracles: words -> wc -> w0 ->
    (sy_k, p_k, m_k, w_k) per iteration. Returns (with_prefix,
    per-iteration m_k select list)."""
    stages = []
    outs = []
    for k in range(1, iters + 1):
        prev = f"w{k - 1}"
        stages.append(f"""
        sy{k} AS MATERIALIZED (
            SELECT string_split(substr(s, 2, len(s) - 2), '][') AS syms, wn
            FROM {prev} WHERE len(s) > 0
        ),
        p{k} AS MATERIALIZED (
            SELECT syms[i] || ' ' || syms[i + 1] AS pair,
                   CAST(SUM(wn) AS BIGINT) AS n_pairs
            FROM (SELECT syms, wn, unnest(range(1, len(syms))) AS i FROM sy{k})
            GROUP BY 1
        ),
        m{k} AS MATERIALIZED (SELECT pair, n_pairs FROM p{k}
                 ORDER BY n_pairs DESC, pair ASC LIMIT 1),
        w{k} AS MATERIALIZED (
            SELECT replace(s,
                (SELECT '[' || replace(pair, ' ', '][') || ']' FROM m{k}),
                (SELECT '[' || replace(pair, ' ', '') || ']' FROM m{k})) AS s,
                wn
            FROM {prev}
        )""")
        outs.append(
            f"SELECT CAST({k} AS INTEGER) AS iteration, pair, n_pairs FROM m{k}"
        )
    prefix = f"""
        WITH words AS (
            SELECT token AS w FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
        ),
        wc AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM words GROUP BY 1),
        w0 AS MATERIALIZED (
            SELECT array_to_string(
                       list_transform(string_split(w, ''), c -> '[' || c || ']'),
                       '') AS s,
                   wn
            FROM wc
        ),{",".join(stages)}"""
    return prefix, outs


def _bpe_train_oracle(iters: int) -> str:
    prefix, outs = _bpe_stages_sql(iters)
    return f"""{prefix}
        {" UNION ALL ".join(outs)}
    """


CCNET_Q = 1 << 20  # per-token neg-logprob quantization grid


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every
    document with the cheap LM proxy (mean unigram negative
    log-probability, the ``unigram_logprob_score`` statistic), then
    split EACH LANGUAGE into head/middle/tail terciles by score — the
    curation scheme CCNet used to tier CommonCrawl for LLM training
    (head = most in-distribution text).

    No global sort: scores land on the pround 1e-4 grid, so the
    tercile cutoffs come from a cumulative window over the (lang ×
    distinct score level) table — bounded by the score grid, not the
    corpus — and bucket boundaries compare exact integers
    (``cum·3 ≤ total``), so both engines tier identically.

    Determinism: each token's neg-logprob quantizes to the 2²⁰
    integer grid BEFORE the per-doc aggregate, so the doc score is an
    exact integer sum (order-independent under Spark's partial
    aggregation) divided once — never ``avg`` over raw doubles, whose
    partial-fold order could flip a last ulp at a pround boundary.
    Headroom: neg-logprob ≤ ln(corpus tokens) ≈ 40 ⇒ per-token q ≤
    4·10⁷; the per-doc sum stays < 2⁵³ to ~10⁸ tokens per document.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n_total"))
    neg_lp = -F.log(F.col("tf").cast("double") / F.col("n_total"))
    q_neg_lp = F.floor(neg_lp * F.lit(float(CCNET_Q)) + F.lit(0.5)).cast("long")
    scored = (
        tok.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            pround(
                F.sum(q_neg_lp).cast("double")
                / (F.count(F.lit(1)) * F.lit(CCNET_Q)).cast("double")
            ).alias("score")
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    levels = scored.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("n"))
    wl = Window.partitionBy("lang").orderBy("score")
    cum = F.sum("n").over(wl.rowsBetween(Window.unboundedPreceding, 0))
    tot = F.sum("n").over(Window.partitionBy("lang"))
    lev = levels.select(
        "lang",
        "score",
        F.when(cum * 3 <= tot, F.lit("head"))
        .when(cum * 3 <= tot * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return scored.join(lev, ["lang", "score"]).select(
        "doc_id", "lang", "score", "bucket"
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword (BPE-ish lexer)
    tokens emitted per whitespace word — THE comparative metric for
    how expensive a language is to tokenize (fertility ≈ 1 for
    English-like text with an English-centric vocab, ≫ 1 for
    underrepresented scripts). Exact integer sums per language; one
    keyed aggregate, output bounded by language cardinality."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    per = docs.select(
        "lang",
        T.ws_token_count(t).cast("long").alias("ws"),
        T.regex_token_count(t).cast("long").alias("sub"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("sub").alias("subword_tokens"),
        pround(
            F.sum("sub").cast("double") / F.sum("ws").cast("double")
        ).alias("fertility"),
    )


def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count inequality per source: the Gini coefficient of
    per-document lengths — the mix-balancing diagnostic next to
    ``seq_len_histogram`` (0 = every doc the same length, →1 = a few
    giants hold all the tokens; a high-Gini source needs length-aware
    sampling before packing).

    Exact by the rank formula ``Σ(2i−n−1)·x_(i) / (n·Σx)`` (x sorted
    ascending; tie order cannot change the value — a tied block's
    coefficient sum is order-invariant): the numerator accumulates in
    DECIMAL(38,0) (HUGEINT twin) so it is exact far past BIGINT-scale
    corpora, and the one float step is the final division. Shape: one
    per-doc projection, one rank window per source (a bounded
    vocabulary), one keyed aggregate."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        T.ws_token_count(F.col("text")).cast("long").alias("x"),
    )
    wr = Window.partitionBy("source").orderBy("x", "doc_id")
    wn = Window.partitionBy("source")
    ranked = base.select(
        "source",
        "x",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.sum("x").over(wn).alias("sx"),
    )
    term = (
        (2 * F.col("i") - F.col("n") - 1) * F.col("x")
    ).cast("decimal(38,0)")
    agg = ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max("sx").alias("total_tokens"),
        F.sum(term).alias("num"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        pround(
            F.col("num").cast("double")
            / (F.col("n_docs") * F.col("total_tokens")).cast("double")
        ).alias("gini"),
    )


SRC_DIV_SCALE = 1 << 20


def source_divergence_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix drift per source: the χ² divergence between each
    source's token distribution and the corpus distribution, summed
    over the tokens the source actually uses (documented partial-sum
    contract — the absent-token mass is the complement of covered
    corpus mass and needs no per-token work). The audit that catches
    a crawl slice drifting off-distribution BEFORE a model trains on
    it; χ², unlike KL, needs no ln() — every term is polynomial in
    exact integer counts, so the score is engine-exact under the
    quantize-then-sum rule (each term snaps to the 2²⁰ grid, the
    per-source sum is integer arithmetic in DECIMAL(38,0)).

    Shape: one explode feeds the (source, token) and token aggregates;
    the vocabulary join is an equi-join on token; the corpus total is
    the allowlisted 1-row broadcast; per-source token totals ride a
    window over the (source, token) aggregate, never the raw stream.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_ws"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c_w"))
    total = vocab.agg(F.sum("c_w").alias("n_tot"))
    ws = Window.partitionBy("source")
    joined = (
        st.withColumn("n_s", F.sum("c_ws").over(ws))
        .join(vocab, "token")
        .join(F.broadcast(total))
    )
    p = F.col("c_ws").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_w").cast("double") / F.col("n_tot").cast("double")
    term = (p - q) * (p - q) / q
    tq = F.floor(term * F.lit(float(SRC_DIV_SCALE)) + 0.5).cast(
        "decimal(38,0)"
    )
    agg = joined.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_used"),
        F.sum(tq).alias("sq"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab_used",
        pround(
            F.col("sq").cast("double") / F.lit(float(SRC_DIV_SCALE))
        ).alias("chi2"),
    )


CDC_MOD = 8  # boundary gate: md5(token) % MOD == 0 => ~8-token expected chunks
# (the corpus vocabulary is ~30 words and docs ~100 tokens; mod 16 gates on
# a single vocab word => 3 chunks/doc. mod 8 keeps chunks near the fixed
# grid's 16-token scale while giving boundaries enough density to re-align)


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk duplication under CONTENT-DEFINED chunking
    — the FastCDC/LBFS trick fixed-grid chunking (:func:`chunk_dedup_share`)
    lacks: a chunk boundary falls AFTER any token whose hash gates to
    zero (``md5(token) % CDC_MOD == 0``), so boundaries move WITH the
    content. Insert one token at the head of a document and a fixed
    16-token grid re-cuts every chunk downstream (dup share collapses
    to ~0 against the original); CDC boundaries re-align after the
    edit and the shared chunks keep matching — the property that makes
    CDC the production dedup layout for near-identical documents.

    Per doc: chunk count, duplicated-chunk count (hash seen in ≥ 2
    docs), dup share, mean chunk length (CDC also covers the tail that
    the fixed grid drops).

    Plan shape, all linear keyed operations: posexplode tokens → gate
    flag in codegen → chunk id = per-doc prefix sum of the flag (ONE
    bounded window pass) → per-(doc, chunk) ordered re-assembly →
    chunk-hash frequency aggregate → semi-join back. A boilerplate
    chunk costs one aggregate row however many docs share it — never
    df² rows.
    """
    from smart_city_data_pipeline_spark.catalog import spread
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select(
        "doc_id", T.ws_tokens(F.lower(F.col("text"))).alias("tk")
    )
    pos = toked.select(
        "doc_id", F.posexplode("tk").alias("pos", "tok")
    ).withColumn(
        "bflag",
        F.when((md5_long(F.col("tok")) % CDC_MOD) == 0, 1).otherwise(0),
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = pos.withColumn(
        "chunk_id",
        F.coalesce(F.sum("bflag").over(wprev), F.lit(0)).cast("long"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("clen"),
        md5_long(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("hs"),
    )
    dup_hs = (
        chunks.groupBy("hs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("hs")
    )
    dupc = (
        chunks.join(dup_hs, "hs", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup"))
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("clen").cast("long").alias("n_tokens"),
    )
    j = per_doc.join(dupc, "doc_id", "left")
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0).cast("long"))
    return j.select(
        "doc_id",
        "n_chunks",
        n_dup.alias("dup_chunks"),
        pround(
            n_dup.cast("double") / F.col("n_chunks").cast("double")
        ).alias("dup_share"),
        pround(
            F.col("n_tokens").cast("double")
            / F.col("n_chunks").cast("double")
        ).alias("mean_chunk_len"),
        (n_dup > 0).alias("flagged"),
    )


CODE_KEYWORDS = (
    "def", "return", "import", "class", "function", "var", "const",
    "if", "else", "for", "while", "print",
)
CODE_SYMBOL_CLASS = "[{}();=<>]"


def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose corpus splitting — The-Stack-style routing: a
    pretraining mix wants code shards tokenized/weighted separately
    from prose. Heuristic features per doc: code-symbol density
    (braces/parens/semicolons/operators) and code-keyword token hits;
    the verdict is a transparent threshold rule, not a model.

    The word-soup corpus has no code, so a deterministic code fragment
    is appended for doc_id % 13 == 0 (identically in the oracle — the
    ``pii_scrub`` synthesis pattern), so BOTH branches of the verdict
    are hash-checked. Symbol counting is the portable length-diff
    trick (length − length(strip(symbols))), keyword hits a token-set
    filter — pure Column expressions, one narrow projection, no
    shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" def fn"),
                did.cast("string"),
                F.lit("(x): return {x + 1}; import sys; while (x == 1);"),
            ),
        ).otherwise(""),
    )
    t = synth
    symbol_hits = F.length(t) - F.length(
        F.regexp_replace(t, CODE_SYMBOL_CLASS, "")
    )
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    kw = F.size(
        F.filter(toks, lambda x: x.isin(*CODE_KEYWORDS))
    ).cast("long")
    ratio = symbol_hits.cast("double") / F.length(t).cast("double")
    return docs.select(
        "doc_id",
        symbol_hits.cast("long").alias("symbol_hits"),
        kw.alias("keyword_hits"),
        pround(ratio).alias("symbol_ratio"),
        ((symbol_hits >= 3) & (kw >= 2)).alias("is_code"),
    )


QUERIES = {
    "cdc_chunk_dedup": cdc_chunk_dedup,
    "code_detect": code_detect,
    "lang_id": lang_id,
    "text_quality": text_quality,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
    "rolling_fingerprint": rolling_fingerprint,
    "corpus_filter": corpus_filter,
    "token_explode_count": token_explode_count,
    "stratified_sample": stratified_sample,
    "tfidf_top_terms": tfidf_top_terms,
    "text_repetition": text_repetition,
    "source_token_rebalance": source_token_rebalance,
    "unigram_logprob_score": unigram_logprob_score,
    "length_outlier_filter": length_outlier_filter,
    "pack_sequences": pack_sequences,
    "bigram_logprob_score": bigram_logprob_score,
    "filter_funnel_report": filter_funnel_report,
    "pii_scrub": pii_scrub,
    "global_shuffle_shards": global_shuffle_shards,
    "seq_len_histogram": seq_len_histogram,
    "vocab_coverage": vocab_coverage,
    "langid_confusion": langid_confusion,
    "quality_classifier_score": quality_classifier_score,
    "char_entropy": char_entropy,
    "bm25_scores": bm25_scores,
    "dup_ngram_chars": dup_ngram_chars,
    "gopher_repetition_full": gopher_repetition_full,
    "chunk_dedup_share": chunk_dedup_share,
    "gopher_word_stats": gopher_word_stats,
    "bpe_merge_counts": bpe_merge_counts,
    "bpe_train_merges": bpe_train_merges,
    "dataset_split_assign": dataset_split_assign,
    "c4_badwords_filter": c4_badwords_filter,
    "zipf_fit": zipf_fit,
    "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
    "tokenizer_fertility": tokenizer_fertility,
    "token_gini_by_source": token_gini_by_source,
    "source_divergence_chi2": source_divergence_chi2,
}

_T = "text"

from smart_city_data_pipeline_spark.functions.hashing import md5_long_sql as _md5_long_sql  # noqa: E402

_SAMPLE_BUCKET_SQL = f"{_md5_long_sql('CAST(doc_id AS VARCHAR)')} % {SAMPLE_BUCKETS}"
_md5_split = _md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)") + " % 1000"

def _gram_h_sql(arr: str, m: int, n: int) -> str:
    """Polynomial gram hash over a token-hash array column, positions
    ``i .. i+n-1`` — the DuckDB twin of the Spark zip-chain fold."""
    expr = f"{arr}[i]"
    for j in range(1, n):
        expr = f"(({expr}) * {GOPHER_HB} + {arr}[i + {j}]) % {m}"
    return expr


def _gram_l_sql(n: int) -> str:
    terms = " + ".join(f"tl[i + {j}]" for j in range(n))
    return f"CAST({terms} + {n - 1} AS BIGINT)"


_md5g1 = _md5_long_sql("'g1:' || t")
_md5g2 = _md5_long_sql("'g2:' || t")

_SAMPLE_CASE_SQL = " ".join(
    f"WHEN lang_pred = '{lg}' THEN {r}" for lg, r in SAMPLE_RATES.items()
)

_PII_SYNTH_SQL = (
    "text"
    " || CASE WHEN doc_id % 5 = 0 THEN ' contact agent' || CAST(doc_id AS VARCHAR)"
    " || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END"
)

_SEQ_BUCKET_CASE_SQL = (
    "CASE WHEN tok >= 512 THEN 512 "
    + " ".join(f"WHEN tok >= {b} THEN {b}" for b in (256, 128, 64, 32, 16, 8, 4, 2))
    + " ELSE 1 END"
)

_CUM_DOCS_SQL = (
    "SUM(n_docs) OVER (ORDER BY bucket_lo"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)

_VOCAB_AGG_SQL = ", ".join(
    f"CAST(COUNT(CASE WHEN n >= {t} THEN 1 END) AS BIGINT) AS v{t}, "
    f"CAST(SUM(CASE WHEN n >= {t} THEN n ELSE 0 END) AS BIGINT) AS c{t}"
    for t in VOCAB_MIN_FREQS
)
_VOCAB_ROWS_SQL = " UNION ALL ".join(
    f"SELECT CAST({t} AS INTEGER) AS min_freq, v{t} AS vocab_size,"
    f" c{t} AS covered_tokens, total_tokens,"
    f" (FLOOR(CAST((CAST(c{t} AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS coverage"
    " FROM one"
    for t in VOCAB_MIN_FREQS
)

_QC_Z_SQL = (
    f"{QC_WEIGHTS['bias']}"
    f" + {QC_WEIGHTS['stopword_ratio']} * ({{sw}})"
    f" + {QC_WEIGHTS['punct_ratio']} * ({{pr}})"
    f" + {QC_WEIGHTS['mean_word_len']} * ({{mw}})"
    f" + {QC_WEIGHTS['log_tokens']} * ln(1.0 + CAST({{tc}} AS DOUBLE))"
).format(
    sw=T.stopword_ratio_sql(_T),
    pr=T.punct_ratio_sql(_T),
    mw=T.mean_word_len_sql(_T),
    tc=T.ws_token_count_sql(_T),
)

_ENTROPY_P_SQL = "(CAST(n AS DOUBLE) / CAST(n_chars AS DOUBLE))"

_BM25_IN_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)
_BM25_SCORE_SQL = (
    "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5) + 1.0)"
    f" * CAST(tf AS DOUBLE) * ({BM25_K1} + 1.0)"
    f" / (CAST(tf AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B}"
    f" + {BM25_B} * CAST(dl AS DOUBLE)"
    " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
)

ORACLES = {
    "bm25_scores": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE token IN ({_BM25_IN_SQL})
            GROUP BY 1, 2
        ),
        dfreq AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ),
        corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM({T.ws_token_count_sql(_T)}) AS BIGINT) AS sum_dl
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST({T.ws_token_count_sql(_T)} AS BIGINT) AS dl
            FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_query_terms,
               {pround_sql(
                   "SUM(CAST(FLOOR((" + _BM25_SCORE_SQL + ")"
                   " * 1048576.0 + 0.5) AS BIGINT)) / 1048576.0"
               )} AS bm25
        FROM tf
        JOIN dl USING (doc_id)
        JOIN dfreq USING (token)
        CROSS JOIN corpus
        GROUP BY doc_id
    """,
    "char_entropy": f"""
        WITH counts AS (
            SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                  FROM documents)
            WHERE ch <> ''
            GROUP BY 1, 2
        ),
        t AS (
            SELECT doc_id, n,
                   SUM(n) OVER (PARTITION BY doc_id) AS n_chars
            FROM counts
        )
        SELECT doc_id,
               CAST(MAX(n_chars) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_unique_chars,
               {pround_sql(
                   f"SUM(CAST(FLOOR(-{_ENTROPY_P_SQL} * ln({_ENTROPY_P_SQL})"
                   " * 1048576.0 + 0.5) AS BIGINT)) / 1048576.0"
               )} AS char_entropy
        FROM t GROUP BY doc_id
    """,
    "quality_classifier_score": f"""
        SELECT doc_id, qc_score, qc_score >= {QC_KEEP_THRESHOLD} AS keep
        FROM (
            SELECT doc_id,
                   {pround_sql(f"1.0 / (1.0 + exp(-({_QC_Z_SQL})))")} AS qc_score
            FROM documents
        )
    """,
    "langid_confusion": f"""
        WITH g AS (
            SELECT lang AS lang_true,
                   {T.lang_id_sql(_T)} AS lang_pred,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1, 2
        )
        SELECT lang_true, lang_pred, n_docs,
               (FLOOR(CAST((CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER (PARTITION BY lang_true) AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS share_of_true
        FROM g
    """,
    "vocab_coverage": f"""
        WITH freq AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            )
            WHERE token IS NOT NULL AND token <> ''
            GROUP BY 1
        ),
        one AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total_tokens, {_VOCAB_AGG_SQL}
            FROM freq
        )
        {_VOCAB_ROWS_SQL}
    """,
    "pii_scrub": f"""
        WITH pii AS (
            SELECT doc_id, {_PII_SYNTH_SQL} AS t0 FROM documents
        ),
        s1 AS (SELECT doc_id, t0,
                      regexp_replace(t0, '{PII_EMAIL_RE}', '[EMAIL]', 'g') AS t1
               FROM pii),
        s2 AS (SELECT *, regexp_replace(t1, '{PII_PHONE_RE}', '[PHONE]', 'g') AS t2
               FROM s1),
        s3 AS (SELECT *, regexp_replace(t2, '{PII_IP_RE}', '[IP]', 'g') AS t3
               FROM s2)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t0, '{PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(t1, '{PII_PHONE_RE}')) AS INTEGER) AS n_phones,
               CAST(len(regexp_extract_all(t2, '{PII_IP_RE}')) AS INTEGER) AS n_ips,
               CAST(length(t3) AS INTEGER) AS clean_len,
               md5(t3) AS scrub_sig
        FROM s3
    """,
    "global_shuffle_shards": f"""
        WITH keyed AS (
            SELECT doc_id,
                   md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k,
                   CAST(CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        % {SHUFFLE_SHARDS} AS INTEGER) AS shard
            FROM documents
        )
        SELECT doc_id, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k) AS BIGINT) AS pos
        FROM keyed
    """,
    "seq_len_histogram": f"""
        WITH d AS (SELECT {T.ws_token_count_sql(_T)} AS tok FROM documents),
        b AS (SELECT {_SEQ_BUCKET_CASE_SQL} AS bucket_lo, tok FROM d),
        g AS (
            SELECT CAST(bucket_lo AS INTEGER) AS bucket_lo,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(tok) AS BIGINT) AS total_tokens
            FROM b GROUP BY 1
        )
        SELECT bucket_lo, n_docs, total_tokens,
               CAST({_CUM_DOCS_SQL} AS BIGINT) AS cum_docs,
               (FLOOR(CAST((CAST({_CUM_DOCS_SQL} AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS cum_share
        FROM g
    """,
    "lang_id": f"""
        SELECT doc_id,
               {T.lang_id_sql(_T)} AS lang_pred,
               (FLOOR(CAST(({T.stopword_ratio_sql(_T)}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS stopword_ratio
        FROM documents
    """,
    "text_quality": f"""
        SELECT doc_id,
               CAST({T.ws_token_count_sql(_T)} AS INT) AS n_tokens,
               (FLOOR(CAST(({T.punct_ratio_sql(_T)}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS punct_ratio,
               (FLOOR(CAST(({T.mean_word_len_sql(_T)}) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS mean_word_len,
               {T.quality_score_sql(_T)} AS quality_score
        FROM documents
    """,
    "token_count": f"""
        SELECT doc_id,
               CAST({T.ws_token_count_sql(_T)} AS INT) AS ws_tokens,
               CAST({T.regex_token_count_sql(_T)} AS INT) AS regex_tokens,
               CAST(length({_T}) AS INT) AS n_chars_computed
        FROM documents
    """,
    "doc_fingerprint": f"""
        SELECT doc_id, {T.fingerprint_sql(_T)} AS fingerprint
        FROM documents
    """,
    "rolling_fingerprint": f"""
        SELECT doc_id, {T.rolling_hash_sql(_T)} AS roll_hash
        FROM documents
    """,
    "corpus_filter": f"""
        WITH scored AS (
            SELECT doc_id, text,
                   {T.lang_id_sql(_T)} AS lang_pred,
                   {T.quality_score_sql(_T)} AS quality_score
            FROM documents
        ),
        kept AS (
            SELECT * FROM scored
            WHERE lang_pred = 'en' AND quality_score >= 0.5
        ),
        canon AS (
            SELECT md5(text) AS text_hash, MIN(doc_id) AS doc_id
            FROM kept GROUP BY 1
        )
        SELECT k.doc_id, k.lang_pred, k.quality_score
        FROM kept k
        WHERE k.doc_id IN (SELECT doc_id FROM canon)
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang_pred, sample_bucket
        FROM (
            SELECT doc_id,
                   {T.lang_id_sql(_T)} AS lang_pred,
                   {_SAMPLE_BUCKET_SQL} AS sample_bucket
            FROM documents
        )
        WHERE sample_bucket < CASE {_SAMPLE_CASE_SQL} ELSE {SAMPLE_DEFAULT_RATE} END
    """,
    "tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        ),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, token,
                   tf * ln((n_docs + 1.0) / (df + 1.0)) AS tfidf
            FROM tf JOIN dfreq USING (token), n
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, token,
               (FLOOR(CAST((tfidf) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS tfidf
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
            FROM scored
        )
        WHERE rank <= {TFIDF_TOP_K}
    """,
    "text_repetition": """
        WITH per AS (
            SELECT doc_id, token, COUNT(*) AS cnt
            FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            )
            GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               (FLOOR(CAST((CAST(COUNT(*) AS DOUBLE) / SUM(cnt)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS distinct_ratio,
               (FLOOR(CAST((CAST(MAX(cnt) AS DOUBLE) / SUM(cnt)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS top_token_share
        FROM per
        GROUP BY 1
    """,
    "token_explode_count": """
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        )
        GROUP BY 1
        ORDER BY n DESC, token ASC
        LIMIT 20
    """,
    "source_token_rebalance": f"""
        WITH d AS (
            SELECT doc_id, source,
                   CAST({T.ws_token_count_sql(_T)} AS BIGINT) AS tok,
                   {_SAMPLE_BUCKET_SQL} AS bucket
            FROM documents
        ),
        s AS (SELECT source, SUM(tok) AS tokens FROM d GROUP BY 1),
        t AS (SELECT SUM(tokens) AS tot_tokens, COUNT(*) AS n_src FROM s),
        thr AS (
            SELECT source,
                   LEAST({REBALANCE_BUCKETS},
                         ({REBALANCE_BUCKETS} * ((tot_tokens * {REBALANCE_SHARE_NUM})
                              // ({REBALANCE_SHARE_DEN} * n_src)))
                         // GREATEST(tokens, 1)) AS keep_thr
            FROM s, t
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens,
               CAST(MAX(keep_thr) AS BIGINT) AS keep_thr,
               CAST(SUM(CASE WHEN bucket < keep_thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN bucket < keep_thr THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM d JOIN thr ON d.source = thr.source
        GROUP BY 1
    """,
    "unigram_logprob_score": """
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        ),
        vocab AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        tot AS (SELECT SUM(tf) AS n_total FROM vocab)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               (FLOOR(
                    SUM(CAST(FLOOR(-ln(CAST(tf AS DOUBLE)
                            / CAST(n_total AS DOUBLE))
                        * 1048576.0 + 0.5) AS BIGINT)) / 1048576.0
                    / COUNT(*) * 10000.0 + 0.5) / 10000.0) AS mean_neg_logprob
        FROM tok JOIN vocab USING (token), tot
        GROUP BY 1
    """,
    "length_outlier_filter": f"""
        WITH d AS (
            SELECT doc_id, CAST({T.ws_token_count_sql(_T)} AS BIGINT) AS n_tok
            FROM documents
        ),
        hist AS (SELECT n_tok, COUNT(*) AS cnt FROM d GROUP BY 1),
        cum AS (
            SELECT n_tok,
                   SUM(cnt) OVER (ORDER BY n_tok
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM hist
        ),
        tot AS (SELECT COUNT(*) AS n_docs FROM d),
        cuts AS (
            SELECT MIN(CASE WHEN cum * 100 >= n_docs * {LENGTH_FILTER_LO} THEN n_tok END) AS lo,
                   MIN(CASE WHEN cum * 100 >= n_docs * {LENGTH_FILTER_HI} THEN n_tok END) AS hi
            FROM cum, tot
        )
        SELECT doc_id, n_tok FROM d, cuts
        WHERE n_tok >= lo AND n_tok <= hi
    """,
    "pack_sequences": f"""
        WITH d AS (
            SELECT doc_id, source,
                   CAST({T.ws_token_count_sql(_T)} AS BIGINT) AS tok,
                   {_md5_long_sql('CAST(doc_id AS VARCHAR)')} AS ord
            FROM documents
        ),
        cum AS (
            SELECT doc_id, source, tok,
                   SUM(tok) OVER (PARTITION BY source ORDER BY ord, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM d
        )
        SELECT doc_id, source, tok,
               CAST((cum - tok) // {PACK_SEQ_LEN} AS BIGINT) AS start_pack,
               CAST((GREATEST(cum, 1) - 1) // {PACK_SEQ_LEN} AS BIGINT) AS end_pack
        FROM cum
    """,
    "bigram_logprob_score": """
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token,
                   generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS pos
            FROM documents
        ),
        prs AS (
            SELECT doc_id, prev, token FROM (
                SELECT doc_id, token,
                       LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM tok
            ) WHERE prev IS NOT NULL
        ),
        big AS (SELECT prev, token, COUNT(*) AS c2 FROM prs GROUP BY 1, 2),
        pre AS (SELECT prev AS p1, COUNT(*) AS c1 FROM prs GROUP BY 1)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               (FLOOR(
                    SUM(CAST(FLOOR(-ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
                        * 1048576.0 + 0.5) AS BIGINT)) / 1048576.0
                    / COUNT(*) * 10000.0 + 0.5) / 10000.0) AS mean_neg_logprob
        FROM prs
        JOIN big USING (prev, token)
        JOIN pre ON prs.prev = pre.p1
        GROUP BY 1
    """,
    "filter_funnel_report": f"""
        WITH rep AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS distinct_ratio
            FROM (
                SELECT doc_id, token, COUNT(*) AS cnt
                FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                    FROM documents
                )
                GROUP BY 1, 2
            )
            GROUP BY 1
        ),
        flags AS (
            SELECT ({T.lang_id_sql(_T)}) <> 'en' AS f_lang,
                   ({T.quality_score_sql(_T)}) < {FUNNEL_MIN_QUALITY} AS f_quality,
                   rep.distinct_ratio < {FUNNEL_MIN_DISTINCT_RATIO} AS f_rep,
                   ({T.ws_token_count_sql(_T)} < {FUNNEL_MIN_TOKENS}
                    OR {T.ws_token_count_sql(_T)} > {FUNNEL_MAX_TOKENS}) AS f_len
            FROM documents JOIN rep USING (doc_id)
        ),
        agg AS (
            SELECT
                CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS fl1,
                CAST(SUM(CASE WHEN f_quality THEN 1 ELSE 0 END) AS BIGINT) AS fl2,
                CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS fl3,
                CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS fl4,
                CAST(SUM(CASE WHEN NOT f_lang AND f_quality THEN 1 ELSE 0 END) AS BIGINT) AS m2,
                CAST(SUM(CASE WHEN NOT f_lang AND NOT f_quality AND f_rep THEN 1 ELSE 0 END) AS BIGINT) AS m3,
                CAST(SUM(CASE WHEN NOT f_lang AND NOT f_quality AND NOT f_rep AND f_len THEN 1 ELSE 0 END) AS BIGINT) AS m4,
                CAST(SUM(CASE WHEN NOT f_lang THEN 1 ELSE 0 END) AS BIGINT) AS s1,
                CAST(SUM(CASE WHEN NOT f_lang AND NOT f_quality THEN 1 ELSE 0 END) AS BIGINT) AS s2,
                CAST(SUM(CASE WHEN NOT f_lang AND NOT f_quality AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS s3,
                CAST(SUM(CASE WHEN NOT f_lang AND NOT f_quality AND NOT f_rep AND NOT f_len THEN 1 ELSE 0 END) AS BIGINT) AS s4
            FROM flags
        )
        SELECT 'lang' AS rule, fl1 AS n_flagged, fl1 AS n_removed_marginal, s1 AS n_surviving FROM agg
        UNION ALL SELECT 'quality', fl2, m2, s2 FROM agg
        UNION ALL SELECT 'repetition', fl3, m3, s3 FROM agg
        UNION ALL SELECT 'length', fl4, m4, s4 FROM agg
    """,
    "dup_ngram_chars": f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower({_DUP_SYNTH_SQL})), '\\s+') AS tk
            FROM documents
        ),
        occ AS (
            SELECT doc_id, {T.kgram_strings_sql('tk', DUP_NGRAM_K)} AS g
            FROM (SELECT doc_id, tk,
                         unnest(range(1, len(tk) - {DUP_NGRAM_K - 2})) AS i
                  FROM toks)
        ),
        per_gram AS (
            SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM occ GROUP BY 1, 2
        ),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_grams,
                   CAST(SUM(cnt * length(g)) AS BIGINT) AS total_gram_chars,
                   CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * length(g)
                            ELSE 0 END) AS BIGINT) AS dup_gram_chars
            FROM per_gram GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(a.total_gram_chars, 0) AS BIGINT) AS total_gram_chars,
               CAST(COALESCE(a.dup_gram_chars, 0) AS BIGINT) AS dup_gram_chars,
               CASE WHEN COALESCE(a.total_gram_chars, 0) > 0 THEN
                   {pround_sql('CAST(a.dup_gram_chars AS DOUBLE) / CAST(a.total_gram_chars AS DOUBLE)')}
               END AS dup_char_frac,
               COALESCE(a.dup_gram_chars, 0) * 100
                   > COALESCE(a.total_gram_chars, 0) * {DUP_NGRAM_PCT} AS flagged
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    "gopher_repetition_full": f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower({_DUP_SYNTH_SQL})), '\\s+') AS tk
            FROM documents
        ),
        sy AS (
            SELECT doc_id,
                   list_transform(tk, t -> {_md5g1} % {GOPHER_HM1}) AS t1,
                   list_transform(tk, t -> {_md5g2} % {GOPHER_HM2}) AS t2,
                   list_transform(tk, t -> CAST(length(t) AS BIGINT)) AS tl
            FROM toks
        ),
        occ AS (
            {" UNION ALL ".join(
                f'''SELECT doc_id, {n} AS n,
                       {_gram_h_sql("t1", GOPHER_HM1, n)} AS h1,
                       {_gram_h_sql("t2", GOPHER_HM2, n)} AS h2,
                       {_gram_l_sql(n)} AS clen
                FROM (SELECT doc_id, t1, t2, tl,
                             unnest(range(1, len(t1) - {n - 2})) AS i
                      FROM sy)'''
                for n in GOPHER_NS
            )}
        ),
        per_gram AS (
            SELECT doc_id, n, h1, h2,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(MAX(clen) AS BIGINT) AS clen
            FROM occ GROUP BY 1, 2, 3, 4
        ),
        per_n AS (
            SELECT doc_id, n,
                   CAST(SUM(cnt * clen) AS BIGINT) AS total_chars,
                   CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * clen
                            ELSE 0 END) AS BIGINT) AS dup_chars,
                   max(struct_pack(cnt := cnt, clen := clen)) AS top
            FROM per_gram GROUP BY 1, 2
        ),
        sel AS (
            SELECT doc_id, n, total_chars, dup_chars,
                   CAST(top.cnt * top.clen AS BIGINT) AS top_chars
            FROM per_n
        ),
        agg AS (
            SELECT doc_id,
                   {", ".join(
                       f"MAX(CASE WHEN n = {n} THEN total_chars END) AS tot{n}"
                       for n in GOPHER_NS
                   )},
                   {", ".join(
                       f"MAX(CASE WHEN n = {n} THEN dup_chars END) AS dup{n}"
                       for n in (6, 8, 10)
                   )},
                   {", ".join(
                       f"MAX(CASE WHEN n = {n} THEN top_chars END) AS top{n}"
                       for n in (2, 3, 4)
                   )}
            FROM sel GROUP BY 1
        )
        SELECT d.doc_id,
               {", ".join(
                   f'''CASE WHEN COALESCE(tot{n}, 0) > 0 THEN
                       {pround_sql(f"CAST(top{n} AS DOUBLE) / CAST(tot{n} AS DOUBLE)")}
                   ELSE 0.0 END AS top{n}_share'''
                   for n in (2, 3, 4)
               )},
               {", ".join(
                   f'''CASE WHEN COALESCE(tot{n}, 0) > 0 THEN
                       {pround_sql(f"CAST(dup{n} AS DOUBLE) / CAST(tot{n} AS DOUBLE)")}
                   ELSE 0.0 END AS dup{n}_frac'''
                   for n in (6, 8, 10)
               )},
               {", ".join(
                   f"COALESCE(top{n}, 0) * 100 > COALESCE(tot{n}, 0) * {GOPHER_PCT[n]} AS top{n}_flag"
                   for n in (2, 3, 4)
               )},
               {", ".join(
                   f"COALESCE(dup{n}, 0) * 100 > COALESCE(tot{n}, 0) * {GOPHER_PCT[n]} AS dup{n}_flag"
                   for n in (6, 8, 10)
               )},
               ({" OR ".join(
                   [f"COALESCE(top{n}, 0) * 100 > COALESCE(tot{n}, 0) * {GOPHER_PCT[n]}"
                    for n in (2, 3, 4)]
                   + [f"COALESCE(dup{n}, 0) * 100 > COALESCE(tot{n}, 0) * {GOPHER_PCT[n]}"
                      for n in (6, 8, 10)]
               )}) AS flagged
        FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    "chunk_dedup_share": f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        ),
        occ AS (
            SELECT doc_id,
                   {_md5_long_sql(f"array_to_string(tk[(i * {CHUNK_K} + 1):(i * {CHUNK_K} + {CHUNK_K})], ' ')")} AS hs
            FROM (SELECT doc_id, tk,
                         unnest(range(0, len(tk) // {CHUNK_K})) AS i
                  FROM toks)
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
        SELECT t.doc_id,
               CAST(len(t.tk) // {CHUNK_K} AS BIGINT) AS n_chunks,
               CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS dup_chunks,
               CASE WHEN len(t.tk) // {CHUNK_K} > 0 THEN
                   {pround_sql(f'CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(len(t.tk) // {CHUNK_K} AS DOUBLE)')}
               END AS dup_share,
               COALESCE(d.n_dup, 0) > 0 AS flagged
        FROM toks t LEFT JOIN dupc d USING (doc_id)
    """,
    "gopher_word_stats": f"""
        WITH toked AS (
            SELECT doc_id,
                   list_transform(
                       regexp_split_to_array(trim(lower({_WLEN_SYNTH_SQL})), '\\s+'),
                       t -> CAST(length(t) AS BIGINT)
                   ) AS lens
            FROM documents
        ),
        agg AS (
            SELECT doc_id,
                   CAST(len(lens) AS BIGINT) AS n_tokens,
                   CAST(list_aggregate(lens, 'sum') AS BIGINT) AS total_word_chars,
                   CAST(list_aggregate(lens, 'max') AS BIGINT) AS max_word_len
            FROM toked
        )
        SELECT doc_id, n_tokens, total_word_chars, max_word_len,
               CASE WHEN n_tokens > 0 THEN
                   {pround_sql('CAST(total_word_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)')}
               END AS mean_word_len,
               (total_word_chars < {WORD_LEN_MIN} * n_tokens
                OR total_word_chars > {WORD_LEN_MAX} * n_tokens) AS flagged
        FROM agg
    """,
    "ccnet_perplexity_buckets": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        ),
        vocab AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
        tot AS (SELECT SUM(tf) AS n_total FROM vocab),
        scored AS (
            -- per-token neg-logprob quantized to the 2^20 grid, then
            -- an exact integer sum (order-independent) / one division
            SELECT t.doc_id, d.lang,
                   {pround_sql(
                       'CAST(SUM(CAST(FLOOR(-ln(CAST(tf AS DOUBLE) / n_total)'
                       f' * {float(CCNET_Q)} + 0.5) AS BIGINT)) AS DOUBLE)'
                       f' / CAST(COUNT(*) * {CCNET_Q} AS DOUBLE)'
                   )} AS score
            FROM tok t JOIN vocab USING (token), tot, documents d
            WHERE d.doc_id = t.doc_id
            GROUP BY 1, 2
        ),
        levels AS (
            SELECT lang, score, CAST(COUNT(*) AS BIGINT) AS n
            FROM scored GROUP BY 1, 2
        ),
        lev AS (
            SELECT lang, score,
                   CASE WHEN cum * 3 <= tot THEN 'head'
                        WHEN cum * 3 <= tot * 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM (
                SELECT lang, score,
                       CAST(SUM(n) OVER (PARTITION BY lang ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                       CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS tot
                FROM levels
            )
        )
        SELECT s.doc_id, s.lang, s.score, l.bucket
        FROM scored s JOIN lev l ON s.lang = l.lang AND s.score = l.score
    """,
    "tokenizer_fertility": f"""
        WITH per AS (
            SELECT lang,
                   CAST({T.ws_token_count_sql(_T)} AS BIGINT) AS ws,
                   CAST({T.regex_token_count_sql(_T)} AS BIGINT) AS sub
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ws) AS BIGINT) AS ws_tokens,
               CAST(SUM(sub) AS BIGINT) AS subword_tokens,
               {pround_sql('CAST(SUM(sub) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE)')} AS fertility
        FROM per GROUP BY 1
    """,
    "bpe_train_merges": _bpe_train_oracle(BPE_TRAIN_ITERS),
    "zipf_fit": f"""
        WITH vocab AS (
            SELECT token AS t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            ) WHERE token <> '' GROUP BY 1
        ),
        ranked AS (
            SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, t ASC) AS r
            FROM vocab QUALIFY r <= {ZIPF_TOP_R}
        ),
        pts AS (
            SELECT CAST(FLOOR(ln(CAST(r AS DOUBLE)) * {ZIPF_Q} + 0.5) AS BIGINT) AS x,
                   CAST(FLOOR(ln(CAST(tf AS DOUBLE)) * {ZIPF_Q} + 0.5) AS BIGINT) AS y
            FROM ranked
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM pts
        )
        SELECT n AS n_points,
               {pround_sql(
                   'CAST(n * sxy - sx * sy AS DOUBLE)'
                   ' / CAST(n * sxx - sx * sx AS DOUBLE)'
               )} AS slope,
               {pround_sql(
                   '(CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)'
                   ' / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))'
                   f' / (CAST(n AS DOUBLE) * {float(ZIPF_Q)})'
               )} AS intercept
        FROM agg
    """,
    "c4_badwords_filter": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        ),
        hits AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bad_tokens,
                   CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_bad
            FROM tok
            WHERE token IN ({", ".join("'" + w + "'" for w in C4_BADWORDS)})
            GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(h.n_bad_tokens, 0) AS n_bad_tokens,
               COALESCE(h.n_distinct_bad, 0) AS n_distinct_bad,
               COALESCE(h.n_bad_tokens, 0) > 0 AS blocked
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    "dataset_split_assign": f"""
        WITH a AS (
            SELECT source, lang,
                   CASE WHEN {_md5_split} < {SPLIT_TRAIN_PM} THEN 'train'
                        WHEN {_md5_split} < {SPLIT_VAL_PM} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        per AS (
            SELECT source, lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM a GROUP BY 1, 2, 3
        )
        SELECT source, lang, split, n_docs,
               {pround_sql(
                   'CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER '
                   '(PARTITION BY source, lang) AS DOUBLE)'
               )} AS share
        FROM per
    """,
    "bpe_merge_counts": f"""
        WITH words AS (
            SELECT token AS w FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
        ),
        wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM words GROUP BY 1),
        sy AS (SELECT string_split(w, '') AS syms, wn FROM wc),
        pairs AS (
            SELECT syms[i] || ' ' || syms[i + 1] AS pair, wn
            FROM (SELECT syms, wn, unnest(range(1, len(syms))) AS i FROM sy)
        ),
        agg AS (
            SELECT pair, CAST(SUM(wn) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1
        )
        SELECT rank, pair, n_pairs FROM (
            SELECT CAST(ROW_NUMBER() OVER (
                       ORDER BY n_pairs DESC, pair ASC) AS INTEGER) AS rank,
                   pair, n_pairs
            FROM agg
        ) WHERE rank <= {BPE_TOP}
    """,
}


ORACLES["token_gini_by_source"] = f"""
    WITH base AS (
        SELECT doc_id, source,
               CAST({T.ws_token_count_sql('text')} AS BIGINT) AS x
        FROM documents
    ),
    ranked AS (
        SELECT source, x,
               row_number() OVER (
                   PARTITION BY source ORDER BY x, doc_id) AS i,
               COUNT(*) OVER (PARTITION BY source) AS n,
               SUM(x) OVER (PARTITION BY source) AS sx
        FROM base
    ),
    agg AS (
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MAX(sx) AS BIGINT) AS total_tokens,
               SUM(CAST((2 * i - n - 1) * x AS HUGEINT)) AS num
        FROM ranked GROUP BY 1
    )
    SELECT source, n_docs, total_tokens,
           {pround_sql(
               'CAST(num AS DOUBLE)'
               ' / CAST(n_docs * total_tokens AS DOUBLE)'
           )} AS gini
    FROM agg
"""

ORACLES["source_divergence_chi2"] = f"""
    WITH tok AS (
        SELECT source, unnest(
            regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    st AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_ws
        FROM tok GROUP BY 1, 2
    ),
    vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c_w
        FROM tok GROUP BY 1
    ),
    total AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tot FROM vocab),
    joined AS (
        SELECT st.source, st.c_ws,
               SUM(st.c_ws) OVER (PARTITION BY st.source) AS n_s,
               v.c_w, t.n_tot
        FROM st JOIN vocab v USING (token) CROSS JOIN total t
    ),
    terms AS (
        SELECT source, n_s,
               CAST(FLOOR(
                   (CAST(c_ws AS DOUBLE) / CAST(n_s AS DOUBLE)
                    - CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))
                   * (CAST(c_ws AS DOUBLE) / CAST(n_s AS DOUBLE)
                      - CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))
                   / (CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))
                   * {float(SRC_DIV_SCALE)} + 0.5) AS HUGEINT) AS tq
        FROM joined
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_used,
           {pround_sql(
               f'CAST(SUM(tq) AS DOUBLE) / {float(SRC_DIV_SCALE)}'
           )} AS chi2
    FROM terms GROUP BY 1
"""


ORACLES["cdc_chunk_dedup"] = f"""
    WITH pos AS (
        SELECT doc_id,
               CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
               unnest(tk) AS tok
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        )
    ),
    flagged AS (
        SELECT doc_id, pos, tok,
               CASE WHEN {_md5_long_sql('tok')} % {CDC_MOD} = 0
                    THEN 1 ELSE 0 END AS bflag
        FROM pos
    ),
    chunked AS (
        SELECT doc_id, pos, tok,
               CAST(COALESCE(SUM(bflag) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS chunk_id
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, chunk_id,
               CAST(COUNT(*) AS BIGINT) AS clen,
               {_md5_long_sql("string_agg(tok, ' ' ORDER BY pos)")} AS hs
        FROM chunked
        GROUP BY 1, 2
    ),
    duph AS (
        SELECT hs FROM (
            SELECT hs, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
        ) WHERE df >= 2
    ),
    dupc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        FROM chunks JOIN duph USING (hs) GROUP BY 1
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(clen) AS BIGINT) AS n_tokens
        FROM chunks GROUP BY 1
    )
    SELECT p.doc_id, p.n_chunks,
           CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS dup_chunks,
           {pround_sql('CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(p.n_chunks AS DOUBLE)')} AS dup_share,
           {pround_sql('CAST(p.n_tokens AS DOUBLE) / CAST(p.n_chunks AS DOUBLE)')} AS mean_chunk_len,
           COALESCE(d.n_dup, 0) > 0 AS flagged
    FROM per_doc p LEFT JOIN dupc d USING (doc_id)
"""


_CODE_KW_SQL = "(" + ", ".join(f"'{w}'" for w in CODE_KEYWORDS) + ")"

ORACLES["code_detect"] = f"""
    WITH synth AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 13 = 0 THEN
                   ' def fn' || CAST(doc_id AS VARCHAR)
                   || '(x): return {{x + 1}}; import sys; while (x == 1);'
               ELSE '' END AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(length(t) - length(regexp_replace(t,
                    '{CODE_SYMBOL_CLASS}', '', 'g')) AS BIGINT)
                   AS symbol_hits,
               CAST(len(list_filter(
                    regexp_split_to_array(trim(lower(t)), '\\s+'),
                    x -> x IN {_CODE_KW_SQL})) AS BIGINT) AS keyword_hits,
               CAST(length(t) AS BIGINT) AS n
        FROM synth
    )
    SELECT doc_id, symbol_hits, keyword_hits,
           {pround_sql('CAST(symbol_hits AS DOUBLE) / CAST(n AS DOUBLE)')}
               AS symbol_ratio,
           (symbol_hits >= 3 AND keyword_hits >= 2) AS is_code
    FROM feats
"""


RAKE_STOPWORDS = ("a", "the")  # the corpus's function words
RAKE_MAX_WORDS = 4  # discard longer candidate runs (standard RAKE cap)
RAKE_TOP_K = 5  # phrases reported per source
RAKE_Q = 1048576.0  # 2^20 word-score grid (degree/freq in [1, cap])


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) adapted to the
    corpus level: candidate phrases are maximal stopword-free token
    runs (capped at ``RAKE_MAX_WORDS`` words, the standard
    implementation cap), each word scores degree/frequency over the
    kept candidates, a phrase scores the sum of its word scores, and
    the top ``RAKE_TOP_K`` phrases per source are reported with their
    occurrence counts. Word statistics are corpus-global (the
    pipeline-flavored adaptation — RAKE per 150-word synthetic doc
    would rank phrases by length alone).

    Scale shape: posexplode → per-doc cumulative-stopword window
    (keyed by doc_id, spillable) → phrase assembly as ONE keyed
    aggregate (sorted collect over ≤ doc-length structs) → word
    explode of kept phrases → two corpus aggregates (freq/degree,
    vocabulary-bounded) → join back and a per-source top-k window.
    The only corpus-wide exchanges are keyed on doc_id, word, and
    phrase text; no self-joins.

    Exactness: freq/degree are exact BIGINTs; each word score is ONE
    IEEE division quantized to the 2^20 grid, phrase scores are exact
    integer sums of those grid values; the top-k window orders by
    (grid score, phrase text) — a total order both engines resolve
    identically.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), "\\s+")).alias(
            "pos", "tok"
        ),
    )
    is_stop = F.col("tok").isin(*RAKE_STOPWORDS)
    wd = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn(
        "run_id", F.sum(F.when(is_stop, 1).otherwise(0)).over(wd)
    ).filter(~is_stop)
    phrases = (
        marked.groupBy("doc_id", "source", "run_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("phrase_len"),
        )
        .filter(F.col("phrase_len") <= RAKE_MAX_WORDS)
    )
    words = phrases.select(
        "source",
        "phrase",
        "phrase_len",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("phrase_len").cast("long").alias("degree"),
    )
    # wstats is vocabulary-bounded but derived from the sf-scaled docs
    # — no forced broadcast; AQE size-gates the join at runtime.
    wscore_q = F.floor(
        F.col("degree").cast("double")
        / F.col("freq").cast("double")
        * F.lit(RAKE_Q)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        words.join(wstats, "w")
        .groupBy("source", "phrase")
        .agg(
            F.sum(wscore_q).cast("long").alias("score_q"),
            # every occurrence of the phrase contributes phrase_len
            # word rows; dividing restores the occurrence count
            (F.count(F.lit(1)) / F.first(F.col("phrase_len")))
            .cast("long")
            .alias("n_occ"),
        )
    )
    wtop = Window.partitionBy("source").orderBy(
        F.col("score_q").desc(), F.col("phrase")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= RAKE_TOP_K)
        .select(
            "source",
            F.col("rank").cast("int").alias("rank"),
            "phrase",
            "n_occ",
            pround(F.col("score_q").cast("double") / F.lit(RAKE_Q)).alias(
                "rake_score"
            ),
        )
    )


QUERIES["rake_keywords"] = rake_keywords

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)

ORACLES["rake_keywords"] = f"""
    WITH toks AS (
        SELECT doc_id, source, i AS pos, tk[i] AS tok
        FROM (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        ), unnest(range(1, len(tk) + 1)) t(i)
    ),
    marked AS (
        SELECT doc_id, source, pos, tok,
               SUM(CASE WHEN tok IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM toks
    ),
    phrases AS (
        SELECT doc_id, source, run_id,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS phrase_len
        FROM marked
        WHERE tok NOT IN ({_RAKE_STOP_SQL})
        GROUP BY 1, 2, 3
        HAVING COUNT(*) <= {RAKE_MAX_WORDS}
    ),
    words AS (
        SELECT source, phrase, phrase_len,
               unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    wstats AS (
        SELECT w,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(phrase_len) AS BIGINT) AS degree
        FROM words GROUP BY 1
    ),
    scored AS (
        SELECT source, phrase,
               CAST(SUM(CAST(FLOOR(
                   CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE)
                   * {RAKE_Q} + 0.5) AS BIGINT)) AS BIGINT) AS score_q,
               CAST(COUNT(*) // MIN(phrase_len) AS BIGINT) AS n_occ
        FROM words JOIN wstats USING (w)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(rank AS INTEGER) AS rank,
           phrase,
           n_occ,
           {pround_sql(f'CAST(score_q AS DOUBLE) / {RAKE_Q}')} AS rake_score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY score_q DESC, phrase
        ) AS rank
        FROM scored
    )
    WHERE rank <= {RAKE_TOP_K}
"""


def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datasheet in one pass — the 'datasheets for
    datasets' headline numbers (Gebru et al. 2021) every training-set
    release publishes: document/source/language counts, token and
    character volume, mean document length, and the exact-duplicate
    rate. The documents twin of ``dataset_summary`` (events).

    Scale shape: ONE aggregate over one scan — every metric is a
    conditional/distinct aggregate column (count-distincts included),
    and the single result row explodes into the (metric, value)
    report. Adding a metric adds a column, not a scan (the
    ``dq_expectations`` discipline). Exactness: counts are exact
    BIGINTs; the two ratios are single divisions.
    """
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    agg = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.sum(F.length(t)).cast("double").alias("total_chars"),
        F.sum(T.ws_token_count(t)).cast("double").alias("total_tokens"),
        F.countDistinct(F.md5(t)).cast("double").alias("n_distinct_texts"),
    )
    rows = F.array(
        *[
            F.struct(F.lit(name).alias("metric"), expr.alias("value"))
            for name, expr in [
                ("n_docs", F.col("n_docs")),
                ("n_sources", F.col("n_sources")),
                ("n_langs", F.col("n_langs")),
                ("total_chars", F.col("total_chars")),
                ("total_tokens", F.col("total_tokens")),
                ("n_distinct_texts", F.col("n_distinct_texts")),
                (
                    "mean_doc_tokens",
                    pround(F.col("total_tokens") / F.col("n_docs")),
                ),
                (
                    "exact_dup_rate",
                    pround(
                        (F.col("n_docs") - F.col("n_distinct_texts"))
                        / F.col("n_docs")
                    ),
                ),
            ]
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select(
        F.col("r.metric").alias("metric"), F.col("r.value").alias("value")
    )


QUERIES["corpus_datasheet"] = corpus_datasheet

ORACLES["corpus_datasheet"] = f"""
    WITH a AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS DOUBLE) AS n_langs,
               CAST(SUM(length(text)) AS DOUBLE) AS total_chars,
               CAST(SUM({T.ws_token_count_sql('text')}) AS DOUBLE)
                   AS total_tokens,
               CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                   AS n_distinct_texts
        FROM documents
    )
    SELECT 'n_docs' AS metric, n_docs AS value FROM a
    UNION ALL SELECT 'n_sources', n_sources FROM a
    UNION ALL SELECT 'n_langs', n_langs FROM a
    UNION ALL SELECT 'total_chars', total_chars FROM a
    UNION ALL SELECT 'total_tokens', total_tokens FROM a
    UNION ALL SELECT 'n_distinct_texts', n_distinct_texts FROM a
    UNION ALL SELECT 'mean_doc_tokens',
        {pround_sql('total_tokens / n_docs')} FROM a
    UNION ALL SELECT 'exact_dup_rate',
        {pround_sql('(n_docs - n_distinct_texts) / n_docs')} FROM a
"""


# DSIR: Data Selection via Importance Resampling (Xie et al., NeurIPS
# 2023). Hashed-feature importance weights log(p_target/p_raw) rank raw
# documents by how target-like they are — the cheap pre-training data
# selector between random sampling and a trained classifier.
DSIR_BUCKETS = 256  # hashed unigram feature space
DSIR_TARGET_LANG = "en"  # the "target domain" slice
DSIR_Q = 1048576.0  # 2^20 per-token quantization grid


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: learn bag-of-hashed-unigram models for
    the TARGET slice (``lang = 'en'``) and the RAW corpus, then score
    every document by the summed per-token log-likelihood ratio
    ``log p_tgt(f) - log p_raw(f)`` (Laplace +1 smoothing) — positive
    means "resample me toward the target mix". The published
    recipe (Xie et al. 2023 §2) with the n-gram order at 1 and the
    feature hash at 256 buckets.

    Engine exactness: the ratio is evaluated ONCE PER BUCKET (a
    256-row table) as ``ln(((ct+1)·(nr+B)) / ((cr+1)·(nt+B)))`` with
    counts cast to double BEFORE the products (BIGINT products wrap at
    100 TB token counts), quantized to the 2^20 grid, and the per-doc
    score is an INTEGER sum over tokens — order-independent under
    partial aggregation.

    Shape: one explode feeds both bucket aggregates; the bucket model
    is a 256-row join (AQE broadcasts it); totals ride the allowlisted
    1-row broadcast. Per-doc work is one keyed integer aggregate.
    """
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token"),
    ).select(
        "doc_id", "lang", (md5_long(F.col("token")) % DSIR_BUCKETS).alias("bucket")
    )
    raw = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = tok.agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("nt"),
    )
    model = (
        raw.join(tgt, "bucket", "left")
        .select(
            "bucket", "cr", F.coalesce(F.col("ct"), F.lit(0)).alias("ct")
        )
        .join(F.broadcast(totals))
    )
    ratio = (
        (F.col("ct") + 1).cast("double")
        * (F.col("nr") + DSIR_BUCKETS).cast("double")
    ) / (
        (F.col("cr") + 1).cast("double")
        * (F.col("nt") + DSIR_BUCKETS).cast("double")
    )
    lq = model.select(
        "bucket",
        F.floor(F.log(ratio) * F.lit(DSIR_Q) + 0.5).cast("long").alias("lq"),
    )
    scored = (
        tok.join(lq, "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lq").alias("wq"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        pround(F.col("wq").cast("double") / F.lit(DSIR_Q)).alias("log_weight"),
        (F.col("wq") > 0).alias("selected"),
    )


QUERIES["dsir_importance_weights"] = dsir_importance_weights

ORACLES["dsir_importance_weights"] = f"""
    WITH tok AS (
        SELECT doc_id, lang,
               {_md5_long_sql('t.token')} % {DSIR_BUCKETS} AS bucket
        FROM (
            SELECT doc_id, lang, unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
            FROM documents
        ) t
    ),
    raw AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr
        FROM tok GROUP BY 1
    ),
    tgt AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
        FROM tok WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
    ),
    totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nr,
               CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                        THEN 1 ELSE 0 END) AS BIGINT) AS nt
        FROM tok
    ),
    model AS (
        SELECT r.bucket,
               CAST(FLOOR(LN(
                   (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                    * CAST(tt.nr + {DSIR_BUCKETS} AS DOUBLE))
                   / (CAST(r.cr + 1 AS DOUBLE)
                      * CAST(tt.nt + {DSIR_BUCKETS} AS DOUBLE))
               ) * {DSIR_Q} + 0.5) AS BIGINT) AS lq
        FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket
        CROSS JOIN totals tt
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {pround_sql(f'CAST(SUM(m.lq) AS DOUBLE) / {DSIR_Q}')}
               AS log_weight,
           (SUM(m.lq) > 0) AS selected
    FROM tok JOIN model m ON tok.bucket = m.bucket
    GROUP BY 1
"""


# PMI collocation mining: pointwise mutual information over adjacent
# token pairs, minimum-support filtered (sparse pairs make PMI
# degenerate — the classic Church & Hanks caveat).
PMI_MIN_COUNT = 5
PMI_Q = 1048576.0  # 2^20 quantization grid for the ln() score


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (Church & Hanks 1990): rank adjacent token
    pairs by pointwise mutual information ``ln(c_ab*N / (c_a*c_b))``
    — the corpus-linguistics primitive behind phrase detection and
    tokenizer-merge candidates (a high-PMI pair is what BPE would
    merge next; compare ``bpe_merge_counts``, which ranks by raw
    frequency).

    Engine exactness: PMI's ln() is evaluated on a ratio of exact
    integer counts (cast to double before the products — BIGINT
    c_ab*N wraps at 100 TB), quantized once per PAIR row (the
    (a,b)-keyed aggregate is already unique — no summation of floats
    anywhere). Min-support >= PMI_MIN_COUNT keeps the report to
    genuinely attested pairs.

    Shape: one posexplode feeds adjacent pairs via a per-doc lead
    window; unigram counts come from the same stream; two equi-joins
    on token against the vocabulary aggregate; the pair total is the
    allowlisted 1-row broadcast."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "tk"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.withColumn("nxt", F.lead("tk").over(wd))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tk").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    uni = tok.groupBy(F.col("tk").alias("token")).agg(
        F.count(F.lit(1)).alias("c")
    )
    total = pairs.agg(F.sum("c_ab").alias("n_pairs"))
    joined = (
        pairs.join(uni.select(F.col("token").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("token").alias("b"), F.col("c").alias("c_b")), "b")
        .join(F.broadcast(total))
    )
    pmi_raw = F.log(
        (F.col("c_ab").cast("double") * F.col("n_pairs").cast("double"))
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    pmi_q = F.floor(pmi_raw * F.lit(PMI_Q) + 0.5).cast("long")
    return joined.select(
        "a",
        "b",
        "c_ab",
        "c_a",
        "c_b",
        pround(pmi_q.cast("double") / F.lit(PMI_Q)).alias("pmi"),
        (pmi_q > 0).alias("attracted"),
    )


QUERIES["pmi_collocations"] = pmi_collocations

ORACLES["pmi_collocations"] = f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
               unnest(tk) AS tk
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        )
    ),
    pairs AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM (
            SELECT tk AS a,
                   LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS b
            FROM tok
        ) WHERE b IS NOT NULL
        GROUP BY 1, 2
        HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ),
    uni AS (
        SELECT tk AS token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1
    ),
    total AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pairs FROM pairs),
    scored AS (
        SELECT p.a, p.b, p.c_ab, ua.c AS c_a, ub.c AS c_b,
               CAST(FLOOR(LN(
                   (CAST(p.c_ab AS DOUBLE) * CAST(t.n_pairs AS DOUBLE))
                   / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))
               ) * {PMI_Q} + 0.5) AS BIGINT) AS pmi_q
        FROM pairs p
        JOIN uni ua ON ua.token = p.a
        JOIN uni ub ON ub.token = p.b
        CROSS JOIN total t
    )
    SELECT a, b, c_ab, c_a, c_b,
           {pround_sql(f'CAST(pmi_q AS DOUBLE) / {PMI_Q}')} AS pmi,
           (pmi_q > 0) AS attracted
    FROM scored
"""


# Stupid Backoff (Brants et al. 2007 "Large Language Models in Machine
# Translation"): the full recursive chain S(c|ab) = c(abc)/c(ab.) if
# the TRAIN trigram was seen, else 0.4*S(c|b); S(c|b) = c(bc)/c(b.)
# if seen, else 0.4*c(c)/N (OOV floors at c=1). An 80/20 md5 split
# keeps train and eval disjoint — scoring the training corpus with
# itself never exercises a backoff branch; with the split, the
# trigram->bigram backoff fires constantly (trigram space >> corpus).
SBO_ALPHA_NUM = 4  # backoff factor 0.4 carried as the exact ratio 4/10
SBO_ALPHA_DEN = 10
SBO_Q = 1048576.0


def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram LM scoring with the Stupid Backoff chain — the
    web-scale LM scoring rule (no discount mass to tune, trivially
    distributed: every level is a count table) and the honest version
    of corpus perplexity: the model trains on an 80% md5 split and
    scores the OTHER 20%, so unseen trigrams actually occur and every
    backoff level is load-bearing (``n_bigram_backoff`` /
    ``n_unigram_backoff`` are hash-checked live columns).

    Exactness: every score is -ln of a ratio of exact TRAIN counts
    (backoff factors ride as exact x4/10, x16/100 inside the ln
    argument), quantized per position to the 2^20 grid and summed as
    integers per doc. Five LEFT equi-joins against count tables that
    shrink with the n-gram order; the 1-row train total is the
    allowlisted broadcast."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents").withColumn(
        "is_train",
        md5_long(F.concat(F.lit("sbo:"), F.col("doc_id").cast("string"))) % 10
        < 8,
    )
    # tok feeds the trigram-context window, the bigram window and the
    # unigram rollup; ctx feeds two train aggregates + the eval leg;
    # prs feeds two train aggregates — all divergent exchanges that
    # re-ran the scan+explode(+window) per consumer (guide §7.2/§5).
    # Materialize each once.
    tok = docs.select(
        "doc_id",
        "is_train",
        F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "token"),
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("doc_id").orderBy("pos")
    ctx = (
        tok.withColumn("p1", F.lag("token", 1).over(w))
        .withColumn("p2", F.lag("token", 2).over(w))
        .filter(F.col("p2").isNotNull())
        .select("doc_id", "is_train", "p2", "p1", "token")
        .localCheckpoint(eager=True)
    )
    train = ctx.filter("is_train")
    tri = train.groupBy("p2", "p1", "token").agg(
        F.count(F.lit(1)).alias("c3")
    )
    tripre = train.groupBy(
        F.col("p2").alias("t2"), F.col("p1").alias("t1")
    ).agg(F.count(F.lit(1)).alias("c3p"))
    # bigram level counts over ALL adjacent train pairs (not just
    # trigram-context pairs) — the level trains on its own stream.
    prs = (
        tok.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "is_train", "prev", "token")
        .localCheckpoint(eager=True)
    )
    big = (
        prs.filter("is_train")
        .groupBy("prev", "token")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    bigpre = (
        prs.filter("is_train")
        .groupBy(F.col("prev").alias("b1"))
        .agg(F.count(F.lit(1)).alias("c2p"))
    )
    uni = (
        tok.filter("is_train")
        .groupBy(F.col("token").alias("u"))
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    total = uni.agg(F.sum("cu").alias("n_tok"))
    ev = (
        ctx.filter(~F.col("is_train"))
        .join(tri, ["p2", "p1", "token"], "left")
        .join(
            tripre,
            (F.col("p2") == F.col("t2")) & (F.col("p1") == F.col("t1")),
            "left",
        )
        .join(
            big,
            (F.col("p1") == big["prev"]) & (ctx["token"] == big["token"]),
            "left",
        )
        .join(bigpre, F.col("p1") == F.col("b1"), "left")
        .join(uni, ctx["token"] == F.col("u"), "left")
        .join(F.broadcast(total))
    )
    a = F.lit(SBO_ALPHA_NUM)
    d = F.lit(SBO_ALPHA_DEN)
    tri_seen = F.col("c3").isNotNull()
    big_seen = F.col("c2").isNotNull()
    s = (
        F.when(tri_seen, F.col("c3").cast("double") / F.col("c3p").cast("double"))
        .when(
            big_seen,
            (a * F.col("c2")).cast("double") / (d * F.col("c2p")).cast("double"),
        )
        .otherwise(
            (a * a * F.coalesce(F.col("cu"), F.lit(1))).cast("double")
            / (d * d * F.col("n_tok")).cast("double")
        )
    )
    q = F.floor(-F.log(s) * F.lit(SBO_Q) + 0.5).cast("long")
    level = F.when(tri_seen, 0).when(big_seen, 1).otherwise(2)
    return (
        ev.select("doc_id", q.alias("q"), level.alias("lv"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.when(F.col("lv") == 1, 1).otherwise(0)).alias(
                "n_bigram_backoff"
            ),
            F.sum(F.when(F.col("lv") == 2, 1).otherwise(0)).alias(
                "n_unigram_backoff"
            ),
            F.sum("q").alias("sq"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_bigram_backoff",
            "n_unigram_backoff",
            pround(
                F.col("sq").cast("double")
                / F.col("n_trigrams")
                / F.lit(SBO_Q)
            ).alias("mean_neg_logscore"),
        )
    )


QUERIES["stupid_backoff_score"] = stupid_backoff_score

ORACLES["stupid_backoff_score"] = f"""
    WITH d AS (
        SELECT doc_id, text,
               ({_md5_long_sql("'sbo:' || CAST(doc_id AS VARCHAR)")} % 10) < 8
                   AS is_train
        FROM documents
    ),
    tok AS (
        SELECT doc_id, is_train,
               CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
               unnest(tk) AS token
        FROM (
            SELECT doc_id, is_train,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM d
        )
    ),
    ctx AS (
        SELECT doc_id, is_train, p2, p1, token FROM (
            SELECT doc_id, is_train, token,
                   LAG(token, 1) OVER dw AS p1,
                   LAG(token, 2) OVER dw AS p2
            FROM tok
            WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE p2 IS NOT NULL
    ),
    tri AS (
        SELECT p2, p1, token, CAST(COUNT(*) AS BIGINT) AS c3
        FROM ctx WHERE is_train GROUP BY 1, 2, 3
    ),
    tripre AS (
        SELECT p2 AS t2, p1 AS t1, CAST(COUNT(*) AS BIGINT) AS c3p
        FROM ctx WHERE is_train GROUP BY 1, 2
    ),
    prs AS (
        SELECT doc_id, is_train, prev, token FROM (
            SELECT doc_id, is_train, token,
                   LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM tok
        ) WHERE prev IS NOT NULL
    ),
    big AS (
        SELECT prev, token, CAST(COUNT(*) AS BIGINT) AS c2
        FROM prs WHERE is_train GROUP BY 1, 2
    ),
    bigpre AS (
        SELECT prev AS b1, CAST(COUNT(*) AS BIGINT) AS c2p
        FROM prs WHERE is_train GROUP BY 1
    ),
    uni AS (
        SELECT token AS u, CAST(COUNT(*) AS BIGINT) AS cu
        FROM tok WHERE is_train GROUP BY 1
    ),
    total AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_tok FROM uni),
    ev AS (
        SELECT c.doc_id,
               CASE WHEN t.c3 IS NOT NULL THEN 0
                    WHEN b.c2 IS NOT NULL THEN 1 ELSE 2 END AS lv,
               CAST(FLOOR(-LN(
                   CASE WHEN t.c3 IS NOT NULL
                        THEN CAST(t.c3 AS DOUBLE) / CAST(tp.c3p AS DOUBLE)
                        WHEN b.c2 IS NOT NULL
                        THEN CAST({SBO_ALPHA_NUM} * b.c2 AS DOUBLE)
                             / CAST({SBO_ALPHA_DEN} * bp.c2p AS DOUBLE)
                        ELSE CAST({SBO_ALPHA_NUM * SBO_ALPHA_NUM}
                                  * COALESCE(un.cu, 1) AS DOUBLE)
                             / CAST({SBO_ALPHA_DEN * SBO_ALPHA_DEN}
                                    * tt.n_tok AS DOUBLE)
                   END) * {SBO_Q} + 0.5) AS BIGINT) AS q
        FROM ctx c
        LEFT JOIN tri t ON t.p2 = c.p2 AND t.p1 = c.p1
                        AND t.token = c.token
        LEFT JOIN tripre tp ON tp.t2 = c.p2 AND tp.t1 = c.p1
        LEFT JOIN big b ON b.prev = c.p1 AND b.token = c.token
        LEFT JOIN bigpre bp ON bp.b1 = c.p1
        LEFT JOIN uni un ON un.u = c.token
        CROSS JOIN total tt
        WHERE NOT c.is_train
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN lv = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bigram_backoff,
           CAST(SUM(CASE WHEN lv = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unigram_backoff,
           {pround_sql(
               f'CAST(SUM(q) AS DOUBLE) / COUNT(*) / {SBO_Q}'
           )} AS mean_neg_logscore
    FROM ev GROUP BY 1
"""


# Multinomial naive Bayes language ID: trained on the 80% md5 split,
# evaluated on the held-out 20% — the LEARNED upgrade of the stopword
# heuristic scored by langid_confusion. Laplace +1 smoothing; every
# log term is quantized per (token, lang) MODEL CELL (vocab x langs —
# bounded), per-doc scores are integer sums, and the argmax tie-breaks
# on the lang string, so train/score/eval are engine-exact end to end.
NB_Q = 1048576.0


def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-evaluate a multinomial naive Bayes language
    classifier inside the engine: token likelihoods p(w|lang) with
    Laplace smoothing learned from the 80% train split, docs of the
    20% eval split scored by integer-summed quantized log
    probabilities (prior + per-token), prediction = struct-min argmax
    — returning the eval confusion matrix. The simplest end-to-end
    proof that the engine can TRAIN a model, not just apply one
    (compare ``quality_classifier_score``'s fixed weights and the
    ``langid_confusion`` heuristic eval).

    Scale shape: training is two keyed aggregates (lang-token counts,
    lang totals); the model is a (vocab x langs) dense table built by
    a broadcast cross join (vocabulary grows sublinearly; langs is a
    closed enum); scoring joins eval tokens against the model on
    (token, lang) — OOV tokens coalesce to the per-lang smoothing
    floor, so the join stays an equi-join. No driver-side state."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents").withColumn(
        "is_train",
        md5_long(F.concat(F.lit("nb:"), F.col("doc_id").cast("string"))) % 10
        < 8,
    )
    # tok feeds the three train aggregates (lang-token counts, lang
    # totals, vocab distinct) AND the eval scoring leg — four
    # divergent exchanges re-running the scan+explode per consumer
    # (guide §7.2/§5). Materialize once.
    tok = docs.select(
        "doc_id",
        "lang",
        "is_train",
        F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token"),
    ).localCheckpoint(eager=True)
    train = tok.filter("is_train")
    lt = train.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    lang_tot = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    vocab = train.select("token").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    # dense (token, lang) model: lq = qlog((c+1) / (n_l + V))
    dense = (
        vocab.crossJoin(F.broadcast(lang_tot))
        .join(lt, ["lang", "token"], "left")
        .join(F.broadcast(vsize))
        .select(
            "token",
            "lang",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_l") + F.col("v")).cast("double")
                )
                * F.lit(NB_Q)
                + 0.5
            )
            .cast("long")
            .alias("lq"),
        )
    )
    # per-lang OOV floor qlog(1 / (n_l + V)) and prior qlog(docs_l/docs)
    train_docs = docs.filter("is_train")
    prior = (
        train_docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d_l"))
        .join(F.broadcast(train_docs.agg(F.count(F.lit(1)).alias("d"))))
        .join(lang_tot, "lang")
        .join(F.broadcast(vsize))
        .select(
            "lang",
            F.floor(
                F.log(F.col("d_l").cast("double") / F.col("d").cast("double"))
                * F.lit(NB_Q)
                + 0.5
            )
            .cast("long")
            .alias("prior_lq"),
            F.floor(
                F.log(
                    F.lit(1.0) / (F.col("n_l") + F.col("v")).cast("double")
                )
                * F.lit(NB_Q)
                + 0.5
            )
            .cast("long")
            .alias("oov_lq"),
        )
    )
    ev = (
        tok.filter(~F.col("is_train"))
        .select(
            "doc_id",
            F.col("lang").alias("lang_true"),
            F.col("token").alias("etok"),
        )
        .crossJoin(F.broadcast(prior.select(F.col("lang").alias("cand"))))
        .join(
            dense,
            (F.col("etok") == dense["token"])
            & (F.col("cand") == dense["lang"]),
            "left",
        )
        .select(
            "doc_id",
            "lang_true",
            "cand",
            F.col("lq").alias("lq"),
        )
        .join(prior.withColumnRenamed("lang", "cand"), "cand")
        .select(
            "doc_id",
            "lang_true",
            "cand",
            F.coalesce(F.col("lq"), F.col("oov_lq")).alias("tok_lq"),
            "prior_lq",
        )
    )
    scores = ev.groupBy("doc_id", "lang_true", "cand").agg(
        (F.max("prior_lq") + F.sum("tok_lq")).alias("score_q")
    )
    pred = scores.groupBy("doc_id", "lang_true").agg(
        F.min(
            F.struct((-F.col("score_q")).alias("ns"), F.col("cand").alias("lang"))
        )["lang"].alias("lang_pred")
    )
    g = pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang_true")
    return g.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        pround(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("share_of_true"),
    )


QUERIES["naive_bayes_langid"] = naive_bayes_langid

ORACLES["naive_bayes_langid"] = f"""
    WITH d AS (
        SELECT doc_id, lang, text,
               ({_md5_long_sql("'nb:' || CAST(doc_id AS VARCHAR)")} % 10) < 8
                   AS is_train
        FROM documents
    ),
    tok AS (
        SELECT doc_id, lang, is_train, unnest(
            regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM d
    ),
    lt AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE is_train GROUP BY 1, 2
    ),
    lang_tot AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
        FROM tok WHERE is_train GROUP BY 1
    ),
    vocab AS (SELECT DISTINCT token FROM tok WHERE is_train),
    vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    dense AS (
        SELECT vo.token, l.lang,
               CAST(FLOOR(LN(
                   CAST(COALESCE(lt.c, 0) + 1 AS DOUBLE)
                   / CAST(l.n_l + vs.v AS DOUBLE)
               ) * {NB_Q} + 0.5) AS BIGINT) AS lq
        FROM vocab vo
        CROSS JOIN lang_tot l
        LEFT JOIN lt ON lt.lang = l.lang AND lt.token = vo.token
        CROSS JOIN vsize vs
    ),
    prior AS (
        SELECT dl.lang,
               CAST(FLOOR(LN(CAST(dl.d_l AS DOUBLE)
                             / CAST(dt.d AS DOUBLE))
                    * {NB_Q} + 0.5) AS BIGINT) AS prior_lq,
               CAST(FLOOR(LN(1.0 / CAST(l.n_l + vs.v AS DOUBLE))
                    * {NB_Q} + 0.5) AS BIGINT) AS oov_lq
        FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_l
              FROM d WHERE is_train GROUP BY 1) dl
        CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS d
                    FROM d WHERE is_train) dt
        JOIN lang_tot l ON l.lang = dl.lang
        CROSS JOIN vsize vs
    ),
    ev AS (
        SELECT t.doc_id, t.lang AS lang_true, p.lang AS cand,
               COALESCE(de.lq, p.oov_lq) AS tok_lq, p.prior_lq
        FROM tok t
        CROSS JOIN prior p
        LEFT JOIN dense de ON de.token = t.token AND de.lang = p.lang
        WHERE NOT t.is_train
    ),
    scores AS (
        SELECT doc_id, lang_true, cand,
               MAX(prior_lq) + SUM(tok_lq) AS score_q
        FROM ev GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT doc_id, lang_true,
               struct_extract(MIN({{'ns': -score_q, 'lang': cand}}), 'lang')
                   AS lang_pred
        FROM scores GROUP BY 1, 2
    ),
    g AS (
        SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2
    )
    SELECT lang_true, lang_pred, n_docs,
           {pround_sql(
               'CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs)'
               ' OVER (PARTITION BY lang_true) AS DOUBLE)'
           )} AS share_of_true
    FROM g
"""


HEAPS_Q = 1 << 14  # zipf_fit's log grid (n·Σxy < 2^63 at |docs| points)
HEAPS_BUCKET_SHIFT = 20  # 2^20 docs per prefix-sum bucket


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β measured at one
    checkpoint per document in doc_id ingest order — the corpus-health
    twin of ``zipf_fit`` (natural text sits near β≈0.5; a bounded
    synthetic vocabulary saturates toward β≈0, which on this corpus is
    itself the diagnostic). β tells a corpus build how much NEW
    vocabulary the next 10× of data will buy.

    Distributed without a global token sort OR a global prefix-sum
    window: cumulative token count and cumulative vocabulary both
    derive from PER-DOC aggregates — n_cum is a running sum of doc
    token counts, V_cum a running sum of "tokens whose FIRST document
    is this doc" (min(doc_id) per token, one keyed aggregate) — and
    the running sums are a TWO-LEVEL prefix sum: per-bucket partials
    (bucket = doc_id >> 20, a keyed aggregate), an exclusive
    cumulative over the BOUNDED bucket table (|buckets| =
    max_doc_id/2²⁰ — thousands at 10⁹ docs, never row-proportional),
    broadcast back as offsets, and a PARTITIONED within-bucket window
    — so no window ever moves data-proportional input to one task.
    Log coordinates quantize to the 2¹⁴ grid before the exact-integer
    regression sums (the zipf_fit discipline)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("t")
    ).filter(F.col("t") != "")
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    first_doc = tok.groupBy("t").agg(F.min("doc_id").alias("fd"))
    new_vocab = first_doc.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    per = per_doc.join(new_vocab, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        F.shiftright(F.col("doc_id"), HEAPS_BUCKET_SHIFT).alias("bk"),
    )
    buckets = per.groupBy("bk").agg(
        F.sum("n_tok").alias("bn"), F.sum("n_new").alias("bv")
    )
    # exclusive prefix over the bounded bucket table only
    wb = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = buckets.select(
        "bk",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off_n"),
        F.coalesce(F.sum("bv").over(wb), F.lit(0)).alias("off_v"),
    )
    wd = (
        Window.partitionBy("bk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # no forced broadcast hint: the bucket table is bounded (see
    # docstring) but derived from fact keys, so the broadcast-policy
    # checker can't bound it statically — AQE broadcasts it at runtime
    # from its actual (tiny) size instead.
    pts = per.join(offsets, "bk").select(
        "doc_id",
        (F.col("off_n") + F.sum("n_tok").over(wd)).alias("n_cum"),
        (F.col("off_v") + F.sum("n_new").over(wd)).alias("v_cum"),
    )
    qx = F.floor(F.log(F.col("n_cum").cast("double")) * HEAPS_Q + 0.5).cast(
        "long"
    )
    qy = F.floor(F.log(F.col("v_cum").cast("double")) * HEAPS_Q + 0.5).cast(
        "long"
    )
    agg = pts.select(qx.alias("x"), qy.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    beta = num / den
    logk = (sy.cast("double") - beta * sx.cast("double")) / (
        n.cast("double") * F.lit(float(HEAPS_Q))
    )
    totals = pts.agg(
        F.max("n_cum").alias("total_tokens"), F.max("v_cum").alias("vocab_size")
    )
    return agg.join(F.broadcast(totals)).select(
        n.cast("long").alias("n_points"),
        "total_tokens",
        "vocab_size",
        pround(beta).alias("beta"),
        pround(logk).alias("ln_k"),
    )


QUERIES["heaps_law_fit"] = heaps_law_fit

ORACLES["heaps_law_fit"] = f"""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id, unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY 1
    ),
    new_vocab AS (
        SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM (SELECT t, MIN(doc_id) AS fd FROM tok GROUP BY 1)
        GROUP BY 1
    ),
    pts AS (
        SELECT p.doc_id,
               CAST(SUM(p.n_tok) OVER w AS BIGINT) AS n_cum,
               CAST(SUM(COALESCE(v.n_new, 0)) OVER w AS BIGINT) AS v_cum
        FROM per_doc p LEFT JOIN new_vocab v ON v.doc_id = p.doc_id
        WINDOW w AS (ORDER BY p.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    q AS (
        SELECT CAST(FLOOR(LN(CAST(n_cum AS DOUBLE)) * {HEAPS_Q} + 0.5)
                    AS BIGINT) AS x,
               CAST(FLOOR(LN(CAST(v_cum AS DOUBLE)) * {HEAPS_Q} + 0.5)
                    AS BIGINT) AS y
        FROM pts
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM q
    ),
    totals AS (
        SELECT MAX(n_cum) AS total_tokens, MAX(v_cum) AS vocab_size
        FROM pts
    )
    SELECT n AS n_points, total_tokens, vocab_size,
           {pround_sql(
               'CAST(n * sxy - sx * sy AS DOUBLE)'
               ' / CAST(n * sxx - sx * sx AS DOUBLE)'
           )} AS beta,
           {pround_sql(
               '(CAST(sy AS DOUBLE)'
               ' - CAST(n * sxy - sx * sy AS DOUBLE)'
               '   / CAST(n * sxx - sx * sx AS DOUBLE)'
               f'   * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * {float(HEAPS_Q)})'
           )} AS ln_k
    FROM agg, totals
"""


# Green-list watermark detection (Kirchenbauer et al. 2023): a
# watermarking LLM boosts tokens whose hash (seeded by the previous
# token) lands in the gamma-fraction green list; a detector recomputes
# the partition and z-tests the green fraction. gamma = 1/4 keeps the
# z-test in pure integers: z^2 = (4g - T)^2 / (3T), detect at z > 4
# <=> (4g - T)^2 > 48 T with 4g > T.
WM_GAMMA_DEN = 4
WM_Z_THRESH = 4


def watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect green-list LLM watermarks in the corpus — the filter a
    training-data pipeline will need as generated text floods the
    crawl: per document, recompute the previous-token-seeded green
    partition (md5, γ=1/4), count green tokens, and z-test the excess
    over the human-text expectation γT. Human text scores z ≈ 0;
    watermarked text (γ boosted at generation) scores z >> 4. On this
    un-watermarked corpus the verdict column is honest-false with the
    z distribution centered at 0 — the calibration leg; the detection
    threshold is the paper's z > 4, decided ENTIRELY in integers
    ((4g−T)² > 48T with 4g > T).

    One explode + one lag window (the bigram machinery), a codegen md5
    partition test, one keyed aggregate; z's sqrt is the single float
    (IEEE-correctly-rounded, engine-portable)."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prs = (
        tok.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
    )
    green = (
        md5_long(F.concat(F.lit("wm:"), F.col("prev"), F.lit(":"), F.col("token")))
        % WM_GAMMA_DEN
        == 0
    )
    agg = prs.select("doc_id", green.cast("int").alias("g")).groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n_scored"), F.sum("g").alias("n_green"))
    dev = 4 * F.col("n_green") - F.col("n_scored")
    z = dev.cast("double") / F.sqrt(
        F.lit(3.0) * F.col("n_scored").cast("double")
    )
    return agg.select(
        "doc_id",
        "n_scored",
        "n_green",
        pround(
            F.col("n_green").cast("double") / F.col("n_scored").cast("double")
        ).alias("green_frac"),
        pround(z).alias("z_score"),
        ((dev > 0) & (dev * dev > 48 * F.col("n_scored"))).alias(
            "watermark_detected"
        ),
    )


QUERIES["watermark_detect"] = watermark_detect

ORACLES["watermark_detect"] = f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
               unnest(tk) AS token
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM documents
        )
    ),
    prs AS (
        SELECT doc_id, prev, token FROM (
            SELECT doc_id, token,
                   LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM tok
        ) WHERE prev IS NOT NULL
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_scored,
               CAST(SUM(CASE WHEN
                   {_md5_long_sql("'wm:' || prev || ':' || token")}
                   % {WM_GAMMA_DEN} = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_green
        FROM prs GROUP BY 1
    )
    SELECT doc_id, n_scored, n_green,
           {pround_sql(
               'CAST(n_green AS DOUBLE) / CAST(n_scored AS DOUBLE)'
           )} AS green_frac,
           {pround_sql(
               'CAST(4 * n_green - n_scored AS DOUBLE)'
               ' / sqrt(3.0 * CAST(n_scored AS DOUBLE))'
           )} AS z_score,
           (4 * n_green - n_scored > 0
            AND (4 * n_green - n_scored) * (4 * n_green - n_scored)
                > 48 * n_scored) AS watermark_detected
    FROM agg
"""


# Reciprocal-rank fusion (Cormack et al. 2009): the hybrid-search
# combiner — rrf(d) = sum over legs of 1/(K + rank_leg(d)), K = 60.
RRF_K = 60
RRF_TOP = 20
RRF_QUERY_VEC = 0  # the semantic leg's query = embedding of vec 0
RRF_DEPTH = 1000  # per-leg rank-list cap (production RRF semantics)


def rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the combiner
    every modern search/RAG stack runs between its lexical and vector
    legs: BM25 ranks documents against the fixed term query, cosine
    ranks them against the query embedding, and RRF fuses the two
    rank lists (score = Σ 1/(60+rank); a doc missing from a leg
    contributes nothing). Rank fusion needs NO score calibration
    between legs — exactly why it won out in production.

    Rank-depth-``RRF_DEPTH`` semantics (the production contract):
    each leg contributes its TOP-1000 rank list only — exactly how
    deployed RRF runs (Elasticsearch/Vespa rank_window_size), because
    a doc below rank 1000 contributes < 1/(60+1000) per leg and never
    reaches the fused top-20 in practice. The oracle caps both legs
    identically, so the comparison is exact under the same contract.

    Determinism: both legs rank on engine-identical doubles (BM25 is
    already oracle-paired; the cosine leg folds left-to-right over
    DOUBLE) with doc_id tie-breaks; the RRF score is a two-term sum
    of 1/(60+r) on identical integer ranks — same IEEE ops both
    sides; the fused order ties on doc_id.

    Shape: the lexical leg is the existing BM25 plan; the vector leg
    is a broadcast 1-row query vector against the embedding scan;
    each leg caps to RRF_DEPTH rows via orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, never a global
    sort) BEFORE ranking, so every row_number window runs over a
    ≤1000-row constant-bounded table; the fusion is a full-outer
    join of the two capped lists (≤2·RRF_DEPTH rows)."""
    from smart_city_data_pipeline_spark.functions.vector import cosine

    lex = bm25_scores(spark, sf_dir)
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex_r = (
        lex.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(RRF_DEPTH)
        .select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    )
    emb = table(spark, sf_dir, "embeddings")
    # GLOBAL aggregate root over the single query row, so the broadcast
    # side is policy-provably 1 row (max over one array = identity).
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).agg(
        F.max("embedding").alias("q_emb")
    )
    sem = emb.filter(F.col("vec_id") != RRF_QUERY_VEC).join(
        F.broadcast(q)
    ).select(
        F.col("vec_id").alias("doc_id"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cs"),
    )
    ws = Window.orderBy(F.col("cs").desc(), F.col("doc_id").asc())
    sem_r = (
        sem.orderBy(F.col("cs").desc(), F.col("doc_id").asc())
        .limit(RRF_DEPTH)
        .select("doc_id", F.row_number().over(ws).alias("sem_rank"))
    )
    fused = lex_r.join(sem_r, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")).cast("double"),
                F.lit(0.0),
            )
        ).alias("rrf_raw"),
    )
    wf = Window.orderBy(F.col("rrf_raw").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "fused_rank",
            "doc_id",
            "lex_rank",
            "sem_rank",
            pround(F.col("rrf_raw")).alias("rrf_score"),
        )
    )


QUERIES["rrf_hybrid_fusion"] = rrf_hybrid_fusion

from smart_city_data_pipeline_spark.functions.vector import (  # noqa: E402
    dot_sql as _dot_sql,
)

ORACLES["rrf_hybrid_fusion"] = f"""
    WITH lex AS (
        SELECT * FROM ({ORACLES["bm25_scores"]})
    ),
    lex_r AS (
        SELECT doc_id, lex_rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
            FROM lex
        ) WHERE lex_rank <= {RRF_DEPTH}
    ),
    q AS (
        SELECT embedding AS q_emb FROM embeddings
        WHERE vec_id = {RRF_QUERY_VEC}
    ),
    sem_r AS (
        SELECT doc_id, sem_rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY cs DESC, doc_id ASC) AS sem_rank
            FROM (
                SELECT e.vec_id AS doc_id,
                       {_dot_sql('q.q_emb', 'e.embedding')}
                       / (sqrt({_dot_sql('q.q_emb', 'q.q_emb')})
                          * sqrt({_dot_sql('e.embedding', 'e.embedding')}))
                           AS cs
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> {RRF_QUERY_VEC}
            )
        ) WHERE sem_rank <= {RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + s.sem_rank), 0.0) AS rrf_raw
        FROM lex_r l FULL OUTER JOIN sem_r s ON s.doc_id = l.doc_id
    )
    SELECT CAST(fused_rank AS INTEGER) AS fused_rank, doc_id,
           lex_rank, sem_rank,
           {pround_sql('rrf_raw')} AS rrf_score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY rrf_raw DESC, doc_id ASC) AS fused_rank
        FROM fused
    ) WHERE fused_rank <= {RRF_TOP}
"""


# PPMI word-embedding axis (Levy & Goldberg 2014: SVD of the PPMI
# cooccurrence matrix recovers word2vec-class embeddings): the
# dominant singular direction of the symmetric PPMI matrix via the
# integer-grid power iteration (the embedding_pca_power discipline).
PPMI_Q = 1 << 20  # PPMI cell grid
PPMI_XQ = 1 << 12  # iteration vector grid
PPMI_ITERS = 32
PPMI_MIN_CO = 2  # min cooccurrence count per cell


def ppmi_svd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train count-based word embeddings IN the engine: build the
    symmetric PPMI cooccurrence matrix (adjacent tokens, both
    directions) and extract its dominant axis by power iteration —
    Levy & Goldberg's result that SVD over PPMI matches word2vec
    makes this the classical, fully-deterministic way an analytics
    engine can learn distributional word vectors. Output: every
    vocabulary token's 1-D loading on the dominant semantic axis
    (the corpus's strongest distributional contrast).

    Engine-exact: PPMI cells quantize once to the 2²⁰ grid (counts →
    double before products, the pmi_collocations rule); the iteration
    is the embedding_pca_power integer recurrence (matvec in exact
    int64 — |cells| ≤ vocab², entries ≤ 2²⁰·2¹² — then max-abs
    renormalization to the 2¹² grid); the oracle unrolls the IDENTICAL
    32 matvecs as MATERIALIZED CTEs. The heavy leg is ONE explode +
    keyed aggregate; the driver collects only the vocab²-bounded
    matrix (Lloyd-collect discipline)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "tk"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        tok.withColumn("nxt", F.lead("tk").over(wd))
        .filter(F.col("nxt").isNotNull())
    )
    # co (vocab²-bounded after the min-co filter) feeds the marginal
    # rollup AND the cell join — divergent exchanges re-running the
    # explode→window→union→count per consumer (guide §7.2/§5).
    # Materialize once.
    co = (
        adj.select(F.col("tk").alias("a"), F.col("nxt").alias("b"))
        .unionAll(adj.select(F.col("nxt").alias("a"), F.col("tk").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PPMI_MIN_CO)
        .localCheckpoint(eager=True)
    )
    marg = co.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    total = marg.agg(F.sum("c_a").alias("n"))
    cells = (
        co.join(marg, "a")
        .join(
            marg.select(F.col("a").alias("b"), F.col("c_a").alias("c_b")),
            "b",
        )
        .join(F.broadcast(total))
        .select(
            "a",
            "b",
            F.greatest(
                F.lit(0),
                F.floor(
                    F.log(
                        (F.col("c_ab").cast("double") * F.col("n").cast("double"))
                        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                    )
                    * F.lit(float(PPMI_Q))
                    + 0.5
                ).cast("long"),
            ).alias("m_q"),
        )
        .filter(F.col("m_q") > 0)
        .collect()  # bounded: vocab^2 cells
    )
    release_checkpoint(co)
    import math

    vocab = sorted({r["a"] for r in cells} | {r["b"] for r in cells})
    idx = {t: i for i, t in enumerate(vocab)}
    mat: dict[tuple[int, int], int] = {}
    for r in cells:
        mat[(idx[r["a"]], idx[r["b"]])] = r["m_q"]
    x = [PPMI_XQ] * len(vocab)
    for _ in range(PPMI_ITERS):
        y = [0] * len(vocab)
        for (i, j), m in mat.items():
            y[i] += m * x[j]
        denom = max(max(abs(v) for v in y), 1)
        x = [int(math.floor(v / denom * PPMI_XQ + 0.5)) for v in y]
    rows = [(t, int(x[idx[t]])) for t in vocab]
    df = spark.createDataFrame(rows, "token string, loading_q long")
    return df.select(
        "token",
        "loading_q",
        pround(F.col("loading_q").cast("double") / F.lit(float(PPMI_XQ))).alias(
            "loading"
        ),
    )


QUERIES["ppmi_svd_embeddings"] = ppmi_svd_embeddings


def _ppmi_oracle_sql() -> str:
    iters = []
    for i in range(1, PPMI_ITERS + 1):
        iters.append(f"""
        y{i} AS MATERIALIZED (
            SELECT m.a AS t, CAST(SUM(m.m_q * x.xv) AS BIGINT) AS yv
            FROM cells m JOIN x{i - 1} x ON x.t = m.b
            GROUP BY 1
        ),
        mx{i} AS MATERIALIZED (
            SELECT CASE WHEN MAX(ABS(yv)) > 0 THEN MAX(ABS(yv))
                   ELSE 1 END AS mx FROM y{i}
        ),
        x{i} AS MATERIALIZED (
            SELECT t, CAST(FLOOR(CAST(yv AS DOUBLE) / CAST(mx AS DOUBLE)
                        * {PPMI_XQ} + 0.5) AS BIGINT) AS xv
            FROM y{i}, mx{i}
        )""")
    return f"""
        WITH adj AS (
            SELECT tk AS a, nxt AS b FROM (
                SELECT tk,
                       LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS nxt
                FROM (
                    SELECT doc_id,
                           CAST(generate_subscripts(tks, 1) AS BIGINT)
                               AS pos,
                           unnest(tks) AS tk
                    FROM (
                        SELECT doc_id,
                               regexp_split_to_array(
                                   trim(lower(text)), '\\s+') AS tks
                        FROM documents
                    )
                )
            ) WHERE nxt IS NOT NULL
        ),
        co AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM (
                SELECT a, b FROM adj
                UNION ALL
                SELECT b, a FROM adj
            ) GROUP BY 1, 2
            HAVING COUNT(*) >= {PPMI_MIN_CO}
        ),
        marg AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a
                 FROM co GROUP BY 1),
        total AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n FROM marg),
        cells AS MATERIALIZED (
            SELECT co.a, co.b,
                   GREATEST(0, CAST(FLOOR(LN(
                       (CAST(co.c_ab AS DOUBLE) * CAST(t.n AS DOUBLE))
                       / (CAST(ma.c_a AS DOUBLE)
                          * CAST(mb.c_a AS DOUBLE))
                   ) * {float(PPMI_Q)} + 0.5) AS BIGINT)) AS m_q
            FROM co
            JOIN marg ma ON ma.a = co.a
            JOIN marg mb ON mb.a = co.b
            CROSS JOIN total t
        ),
        x0 AS (
            SELECT DISTINCT a AS t, CAST({PPMI_XQ} AS BIGINT) AS xv
            FROM cells WHERE m_q > 0
        ),{",".join(iters)}
        SELECT v.t AS token, x.xv AS loading_q,
               {pround_sql(f'CAST(x.xv AS DOUBLE) / {float(PPMI_XQ)}')}
                   AS loading
        FROM (SELECT DISTINCT a AS t FROM cells WHERE m_q > 0
              UNION SELECT DISTINCT b FROM cells WHERE m_q > 0) v
        JOIN x{PPMI_ITERS} x ON x.t = v.t
    """


ORACLES["ppmi_svd_embeddings"] = _ppmi_oracle_sql()


# Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; Chen &
# Goodman 1999's interpolated form): the ln-count smoothing that every
# production n-gram LM shipped before neural LMs, and the standard
# quality probe a corpus build runs next to stupid_backoff. Discount
# D = 0.75 carried as the exact ratio 3/4 so every probability is an
# exact integer rational:
#   P(w2|w1) = (4·c12 − 3)/(4·c1) + (3·N1+(w1,·))/(4·c1) · N1+(·,w2)/N1+(·,·)
#            = [(4·c12 − 3)·Ncc + 3·N1fw·N1bw] / (4·c1·Ncc)
KN_D_NUM = 3  # discount 0.75 as the exact ratio 3/4
KN_D_DEN = 4
KN_Q = 1048576.0  # 2^20 quantization grid (the SBO discipline)


def kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out interpolated Kneser-Ney bigram scoring per language —
    the absolute-discounting LM with CONTINUATION counts (how many
    distinct contexts a word follows), the distributional insight that
    made KN the strongest count-based smoother. Trains on the md5 80%
    split, scores the other 20%, reports per-language mean negative
    log-probability plus honest backoff telemetry (unseen-bigram /
    OOV-context / continuation-floor counts are live hash-checked
    columns).

    Exactness: with D = 3/4 every probability is the exact integer
    rational [(4·c12−3)·Ncc + 3·N1fw·N1bw] / (4·c1·Ncc) (bigram seen),
    3·N1fw·N1bw / (4·c1·Ncc) (context seen, bigram unseen), or the
    documented fallbacks max(N1bw,1)/Ncc (context OOV) — products in
    DECIMAL(38,0)/HUGEINT (c12·Ncc overflows BIGINT past ~1e9·1e9),
    one double division, -ln quantized per position to the 2^20 grid,
    INTEGER sums per language.

    Shape: one posexplode + lag for the bigram stream, four count
    aggregates that shrink with n-gram order, four LEFT equi-joins on
    the eval stream, one 1-row continuation-total broadcast, one final
    keyed aggregate. Linear keyed shuffles only — the stupid_backoff
    plan with KN's continuation tables."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents").withColumn(
        "is_train",
        md5_long(F.concat(F.lit("kn:"), F.col("doc_id").cast("string"))) % 10
        < 8,
    )
    tok = docs.select(
        "doc_id",
        "lang",
        "is_train",
        F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prs = (
        tok.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "lang", "is_train", "prev", "token")
    )
    trn = prs.filter("is_train")
    big = trn.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c12"))
    ctx = big.groupBy("prev").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1fw"),  # N1+(w1,*): distinct continuations
    )
    cont = big.groupBy("token").agg(
        F.count(F.lit(1)).alias("n1bw")  # N1+(*,w2): distinct left contexts
    )
    ncc = big.agg(F.count(F.lit(1)).alias("ncc"))  # N1+(*,*), 1-row broadcast

    ev = (
        prs.filter(~F.col("is_train"))
        .join(big, ["prev", "token"], "left")
        .join(ctx, "prev", "left")
        .join(cont, "token", "left")
        .join(F.broadcast(ncc))
    )

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    ctx_seen = F.col("c1").isNotNull()
    big_seen = F.col("c12").isNotNull()
    n1bw_f = F.greatest(F.coalesce(F.col("n1bw"), F.lit(0)), F.lit(1))
    num = F.when(
        ctx_seen & big_seen,
        (
            dec(F.lit(KN_D_DEN) * F.col("c12") - F.lit(KN_D_NUM))
            * dec(F.col("ncc"))
            + dec(F.lit(KN_D_NUM)) * dec(F.col("n1fw")) * dec(n1bw_f)
        ),
    ).when(
        ctx_seen,
        dec(F.lit(KN_D_NUM)) * dec(F.col("n1fw")) * dec(n1bw_f),
    ).otherwise(dec(n1bw_f))
    den = F.when(
        ctx_seen, dec(F.lit(KN_D_DEN)) * dec(F.col("c1")) * dec(F.col("ncc"))
    ).otherwise(dec(F.col("ncc")))
    p = num.cast("double") / den.cast("double")
    lq = F.floor(-F.log(p) * F.lit(KN_Q) + 0.5).cast("long")
    bucket = (
        F.when(~ctx_seen, 2)  # OOV context: continuation-only fallback
        .when(~big_seen, 1)  # unseen bigram: continuation interpolation
        .otherwise(0)
    )
    floor_hit = (F.col("n1bw").isNull()).cast("long")
    return (
        ev.select("lang", lq.alias("lq"), bucket.alias("b"), floor_hit.alias("fl"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("b") == 1, 1).otherwise(0)).alias(
                "n_unseen_bigram"
            ),
            F.sum(F.when(F.col("b") == 2, 1).otherwise(0)).alias(
                "n_ctx_oov"
            ),
            F.sum("fl").alias("n_cont_floor"),
            F.sum("lq").alias("slq"),
        )
        .select(
            "lang",
            "n_bigrams",
            "n_unseen_bigram",
            "n_ctx_oov",
            "n_cont_floor",
            pround(
                F.col("slq").cast("double")
                / F.col("n_bigrams").cast("double")
                / F.lit(KN_Q)
            ).alias("mean_neg_logprob"),
        )
    )


QUERIES["kneser_ney_score"] = kneser_ney_score

ORACLES["kneser_ney_score"] = f"""
    WITH d AS (
        SELECT doc_id, lang, text,
               ({_md5_long_sql("'kn:' || CAST(doc_id AS VARCHAR)")} % 10) < 8
                   AS is_train
        FROM documents
    ),
    tok AS (
        SELECT doc_id, lang, is_train,
               CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
               unnest(tk) AS token
        FROM (
            SELECT doc_id, lang, is_train,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
            FROM d
        )
    ),
    prs AS (
        SELECT doc_id, lang, is_train, prev, token FROM (
            SELECT doc_id, lang, is_train, token,
                   LAG(token) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS prev
            FROM tok
        ) WHERE prev IS NOT NULL
    ),
    big AS (
        SELECT prev, token, CAST(COUNT(*) AS BIGINT) AS c12
        FROM prs WHERE is_train GROUP BY 1, 2
    ),
    ctx AS (
        SELECT prev, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1fw
        FROM big GROUP BY 1
    ),
    cont AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n1bw
        FROM big GROUP BY 1
    ),
    ncc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncc FROM big),
    ev AS (
        SELECT p.lang,
               b.c12, x.c1, x.n1fw, co.n1bw, n.ncc,
               GREATEST(COALESCE(co.n1bw, 0), 1) AS n1bw_f,
               x.c1 IS NOT NULL AS ctx_seen,
               b.c12 IS NOT NULL AS big_seen
        FROM prs p
        LEFT JOIN big b ON b.prev = p.prev AND b.token = p.token
        LEFT JOIN ctx x ON x.prev = p.prev
        LEFT JOIN cont co ON co.token = p.token
        CROSS JOIN ncc n
        WHERE NOT p.is_train
    ),
    scored AS (
        SELECT lang,
               CAST(FLOOR(-LN(
                   CAST(CASE
                       WHEN ctx_seen AND big_seen THEN
                           CAST({KN_D_DEN} * c12 - {KN_D_NUM} AS HUGEINT)
                               * ncc
                           + CAST({KN_D_NUM} AS HUGEINT) * n1fw * n1bw_f
                       WHEN ctx_seen THEN
                           CAST({KN_D_NUM} AS HUGEINT) * n1fw * n1bw_f
                       ELSE CAST(n1bw_f AS HUGEINT)
                   END AS DOUBLE)
                   / CAST(CASE
                       WHEN ctx_seen THEN
                           CAST({KN_D_DEN} AS HUGEINT) * c1 * ncc
                       ELSE CAST(ncc AS HUGEINT)
                   END AS DOUBLE)
               ) * {KN_Q} + 0.5) AS BIGINT) AS lq,
               CASE WHEN NOT ctx_seen THEN 2
                    WHEN NOT big_seen THEN 1 ELSE 0 END AS b,
               CASE WHEN n1bw IS NULL THEN 1 ELSE 0 END AS fl
        FROM ev
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen_bigram,
           CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ctx_oov,
           CAST(SUM(fl) AS BIGINT) AS n_cont_floor,
           {pround_sql(
               'CAST(SUM(lq) AS DOUBLE) / COUNT(*) / ' + str(KN_Q)
           )} AS mean_neg_logprob
    FROM scored
    GROUP BY 1
"""


def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training loop CLOSED: retrain the ``BPE_TRAIN_ITERS``
    merges (the bpe_train_merges kernel) and then ENCODE the corpus
    with them, reporting what the tokenizer actually bought — symbols
    per word after merging vs characters per word before, and the
    share of symbol positions the merge table eliminated. This is the
    fertility/compression readout a tokenizer team checks before
    shipping a vocab (tokenizer_fertility measures a fixed external
    vocab; this measures the one WE just trained).

    Exactness: the training rounds already leave every DISTINCT word
    (the Sennrich working set — never the corpus) encoded by the
    learned merges, so the per-word symbol counts are integers
    weighted by exact corpus frequencies; the three ratios are single
    final divisions. The DuckDB oracle re-learns the identical merges
    (the unrolled bpe_train_merges CTE chain) and re-encodes with the
    same bracket-replace identity.

    Shape: one lazy plan, the word count and one :func:`_per_vocab`
    group that trains with :func:`_learn_merges` and reads the ratios
    off its final symbols. Bound: the distinct-word table fits one
    Python worker (31 words today)."""

    def fertility(vocab):
        _, seqs = _learn_merges(vocab, BPE_TRAIN_ITERS, _bpe_pick)
        tw = sum(vocab.values())
        ca = sum(n * len(w) for w, n in vocab.items())
        sa = sum(vocab[w] * len(seq) for w, seq in seqs.items())
        return [
            (
                BPE_TRAIN_ITERS,
                len(vocab),
                tw,
                pround_py(ca / tw),
                pround_py(sa / tw),
                pround_py((ca - sa) / ca),
            )
        ]

    return _per_vocab(
        _word_counts(table(spark, sf_dir, "documents")),
        fertility,
        "n_merges int, vocab_words long, total_words long, "
        "chars_per_word double, symbols_per_word double, "
        "saved_share double",
    )


QUERIES["bpe_encode_fertility"] = bpe_encode_fertility


def _bpe_fertility_oracle(iters: int) -> str:
    prefix, _ = _bpe_stages_sql(iters)
    return f"""{prefix},
        enc AS (
            SELECT len(string_split(substr(s, 2, len(s) - 2), '][')) AS k,
                   wn
            FROM w{iters} WHERE len(s) > 0
        ),
        aft AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS vocab_words,
                   CAST(SUM(wn) AS BIGINT) AS total_words,
                   CAST(SUM(wn * k) AS BIGINT) AS syms_after
            FROM enc
        ),
        bef AS (
            SELECT CAST(SUM(wn * len(w)) AS BIGINT) AS chars_before
            FROM wc
        )
        SELECT CAST({iters} AS INTEGER) AS n_merges,
               vocab_words, total_words,
               {pround_sql('CAST(chars_before AS DOUBLE) / total_words')}
                   AS chars_per_word,
               {pround_sql('CAST(syms_after AS DOUBLE) / total_words')}
                   AS symbols_per_word,
               {pround_sql(
                   'CAST(chars_before - syms_after AS DOUBLE)'
                   ' / chars_before'
               )} AS saved_share
        FROM aft CROSS JOIN bef
    """


ORACLES["bpe_encode_fertility"] = _bpe_fertility_oracle(BPE_TRAIN_ITERS)


# --------------------------------------------------------------------------
# CCNet-style perplexity threshold sweep (round 9).
# --------------------------------------------------------------------------

# Mean neg-logprob (nats/token) cutoffs, in milli-nats so the keep
# comparison is pure integers.
PPLX_THRESHOLDS_MILLI = (5000, 6000, 7000, 8000, 9000, 10000)


def perplexity_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each perplexity cutoff cost? For a grid of
    mean-neg-logprob thresholds, the kept document/token counts and
    shares per language — the sensitivity curve a corpus team reads
    BEFORE committing a CCNet-style quality filter to a 100 TB run
    (the ``dedup_threshold_sweep`` discipline applied to the
    ``ccnet_perplexity_buckets`` score).

    Exactness: the per-doc score is the SAME 2²⁰-quantized integer
    sum the CCNet bucketer uses (order-independent under partial
    aggregation); the keep test is the integer cross-multiply
    ``1000·Σq ≤ thr_milli·n_tok·Q`` — no float threshold compare
    anywhere, so a last-ulp cannot flip a document across engines.
    Headroom: 1000·Σq ≤ n_tok·4·10¹⁰ — BIGINT to ~10⁸ tokens/doc.

    Scale shape: one explode → vocab aggregate (the shared unigram
    table), one per-doc integer aggregate, then a |thresholds|-literal
    explode over the per-doc table and a (lang, threshold) keyed
    re-aggregate. Output bounded by |langs| × |grid|."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n_total"))
    neg_lp = -F.log(F.col("tf").cast("double") / F.col("n_total"))
    q_neg_lp = F.floor(neg_lp * F.lit(float(CCNET_Q)) + F.lit(0.5)).cast("long")
    per_doc = (
        tok.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum(q_neg_lp).alias("sum_q"),
            F.count(F.lit(1)).alias("n_tok"),
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in PPLX_THRESHOLDS_MILLI])
    ).alias("thr_milli")
    sweep = per_doc.select("lang", "sum_q", "n_tok", thr)
    keep = (
        F.col("sum_q") * 1000
        <= F.col("thr_milli").cast("long") * F.col("n_tok") * CCNET_Q
    ).cast("long")
    g = sweep.groupBy("lang", "thr_milli").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).alias("kept_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(F.col("n_tok") * keep).alias("kept_tokens"),
    )
    return g.select(
        "lang",
        F.col("thr_milli").cast("long").alias("thr_milli_nats"),
        "n_docs",
        "kept_docs",
        pround(
            F.col("kept_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("kept_doc_share"),
        "total_tokens",
        "kept_tokens",
        pround(
            F.col("kept_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("kept_token_share"),
    )


QUERIES["perplexity_threshold_sweep"] = perplexity_threshold_sweep

_PPLX_GRID_SQL = ", ".join(str(t) for t in PPLX_THRESHOLDS_MILLI)

ORACLES["perplexity_threshold_sweep"] = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS token
        FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
    tot AS (SELECT SUM(tf) AS n_total FROM vocab),
    per_doc AS (
        SELECT t.doc_id, d.lang,
               SUM(CAST(FLOOR(-ln(CAST(tf AS DOUBLE) / n_total)
                   * {float(CCNET_Q)} + 0.5) AS BIGINT)) AS sum_q,
               CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tok t JOIN vocab USING (token), tot, documents d
        WHERE d.doc_id = t.doc_id
        GROUP BY 1, 2
    ),
    sweep AS (
        SELECT p.lang, p.sum_q, p.n_tok, g.thr_milli
        FROM per_doc p
        CROSS JOIN (SELECT UNNEST([{_PPLX_GRID_SQL}]) AS thr_milli) g
    ),
    agg AS (
        SELECT lang, thr_milli,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN sum_q * 1000
                        <= thr_milli * n_tok * {CCNET_Q}
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN sum_q * 1000
                        <= thr_milli * n_tok * {CCNET_Q}
                    THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
        FROM sweep GROUP BY 1, 2
    )
    SELECT lang, CAST(thr_milli AS BIGINT) AS thr_milli_nats,
           n_docs, kept_docs,
           {pround_sql(
               'CAST(kept_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)'
           )} AS kept_doc_share,
           total_tokens, kept_tokens,
           {pround_sql(
               'CAST(kept_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)'
           )} AS kept_token_share
    FROM agg
"""


# --------------------------------------------------------------------------
# Vocabulary-size coverage curve (round 9).
# --------------------------------------------------------------------------

VOCAB_CURVE_SIZES = (1000, 2000, 4000, 8000, 16000, 32000)


def vocab_size_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token coverage as a function of vocabulary size — "how big a
    vocab do we need?": for each candidate size, the share of corpus
    tokens covered by the top-N terms (frequency-ranked, token
    lexicographic tiebreak) and the OOV rate a tokenizer of that size
    would eat. The sizing curve read before ``bpe_train_merges``
    commits to a merge budget (``vocab_coverage`` audits FIXED
    min-frequency vocabs; this sweeps SIZE).

    Exactness: ranks and cumulative token counts are exact integers
    over the vocab table; coverage is one division per output row.
    Scale shape: one explode → vocab aggregate; the rank/cumulative
    window runs over the VOCAB-BOUNDED table (the ``zipf_fit``
    allowlist class — value-domain bounded, never row-proportional),
    and the size grid joins on ``rank == least(size, |vocab|)`` —
    |grid| output rows."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    wr = Window.orderBy(F.desc("tf"), F.asc("token"))
    ranked = vocab.select(
        "tf",
        F.row_number().over(wr).alias("rn"),
        F.sum("tf").over(
            wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    tots = vocab.agg(
        F.sum("tf").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    sizes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(s) for s in VOCAB_CURVE_SIZES])
        ).alias("vocab_size")
    )
    pick = sizes.join(F.broadcast(tots)).withColumn(
        "rn_pick", F.least(F.col("vocab_size"), F.col("n_terms"))
    )
    j = pick.join(ranked, F.col("rn") == F.col("rn_pick"))
    return j.select(
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("rn_pick").cast("long").alias("n_terms_used"),
        F.col("cum").alias("covered_tokens"),
        F.col("total_tokens"),
        pround(
            F.col("cum").cast("double") / F.col("total_tokens").cast("double")
        ).alias("coverage"),
        pround(
            1.0
            - F.col("cum").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("oov_rate"),
    )


QUERIES["vocab_size_curve"] = vocab_size_curve

_VOCAB_GRID_SQL = ", ".join(str(s) for s in VOCAB_CURVE_SIZES)

ORACLES["vocab_size_curve"] = f"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS token
        FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
    ranked AS (
        SELECT tf,
               ROW_NUMBER() OVER (ORDER BY tf DESC, token ASC) AS rn,
               CAST(SUM(tf) OVER (ORDER BY tf DESC, token ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM vocab
    ),
    tots AS (
        SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM vocab
    ),
    pick AS (
        SELECT g.vocab_size, t.total_tokens,
               LEAST(g.vocab_size, t.n_terms) AS rn_pick
        FROM (SELECT UNNEST([{_VOCAB_GRID_SQL}]) AS vocab_size) g, tots t
    )
    SELECT CAST(p.vocab_size AS BIGINT) AS vocab_size,
           CAST(p.rn_pick AS BIGINT) AS n_terms_used,
           r.cum AS covered_tokens,
           p.total_tokens,
           {pround_sql(
               'CAST(r.cum AS DOUBLE) / CAST(p.total_tokens AS DOUBLE)'
           )} AS coverage,
           {pround_sql(
               '1.0 - CAST(r.cum AS DOUBLE) / CAST(p.total_tokens AS DOUBLE)'
           )} AS oov_rate
    FROM pick p JOIN ranked r ON r.rn = p.rn_pick
"""


# --------------------------------------------------------------------------
# Per-source document-cap sweep (round 9).
# --------------------------------------------------------------------------

SOURCE_CAPS = (50, 100, 200, 400, 800)


def source_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does a per-domain document cap cost? For a grid of cap
    values, the kept documents/tokens per source under the
    keep-the-longest priority (n_chars desc, doc_id asc — each
    source's best content survives the cap) — the domain-capping knob
    C4/RefinedWeb-style corpus builds apply against boilerplate-heavy
    domains, as a sensitivity curve (the ``dedup_threshold_sweep`` /
    ``perplexity_threshold_sweep`` discipline applied to source
    caps).

    Exactness: ranks are a partitioned row_number over exact integers
    with a total tiebreak; token counts are exact whitespace counts;
    keep tests compare integers. Scale shape: ONE window partitioned
    by source (high cardinality), a |caps|-literal explode, one
    (source, cap) keyed re-aggregate. Output bounded by |sources| ×
    |grid|."""
    docs = table(spark, sf_dir, "documents")
    ranked = docs.select(
        "source",
        F.col("n_chars"),
        T.ws_token_count(F.col("text")).cast("long").alias("n_tok"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        )
        .alias("rk"),
    )
    sweep = ranked.select(
        "source",
        "rk",
        "n_tok",
        F.explode(F.array(*[F.lit(c) for c in SOURCE_CAPS])).alias("cap"),
    )
    keep = (F.col("rk") <= F.col("cap")).cast("long")
    g = sweep.groupBy("source", "cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).alias("kept_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(F.col("n_tok") * keep).alias("kept_tokens"),
    )
    return g.select(
        "source",
        F.col("cap").cast("long").alias("cap"),
        "n_docs",
        "kept_docs",
        "total_tokens",
        "kept_tokens",
        pround(
            F.col("kept_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("kept_token_share"),
    )


QUERIES["source_cap_sweep"] = source_cap_sweep

_CAPS_SQL = ", ".join(str(c) for c in SOURCE_CAPS)

ORACLES["source_cap_sweep"] = f"""
    WITH ranked AS (
        SELECT source,
               CAST({T.ws_token_count_sql("text")} AS BIGINT) AS n_tok,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM documents
    ),
    sweep AS (
        SELECT r.source, r.rk, r.n_tok, g.cap
        FROM ranked r
        CROSS JOIN (SELECT UNNEST([{_CAPS_SQL}]) AS cap) g
    ),
    agg AS (
        SELECT source, cap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rk <= cap THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN rk <= cap THEN n_tok ELSE 0 END)
                    AS BIGINT) AS kept_tokens
        FROM sweep GROUP BY 1, 2
    )
    SELECT source, CAST(cap AS BIGINT) AS cap, n_docs, kept_docs,
           total_tokens, kept_tokens,
           {pround_sql(
               'CAST(kept_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)'
           )} AS kept_token_share
    FROM agg
"""


# --------------------------------------------------------------------------
# Context-length truncation loss sweep (round 9).
# --------------------------------------------------------------------------

TRUNC_MAX_LENS = (64, 128, 256, 512, 1024)


def truncation_loss_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each context length throw away? For a grid of
    max-sequence lengths, the share of documents that would be
    truncated and the share of tokens lost past the cutoff — the
    sizing read before committing a context length for tokenization
    (``pack_sequences`` packs AT a length; this chooses one).

    Exactness: per-doc whitespace token counts and per-cap losses
    max(n_tok − L, 0) are exact integers; shares are single
    divisions. Scale shape: one per-doc projection, a |grid| literal
    explode, one (cap) keyed aggregate — map-side combinable, output
    = |grid| rows."""
    docs = table(spark, sf_dir, "documents")
    per = docs.select(
        T.ws_token_count(F.col("text")).cast("long").alias("n_tok")
    )
    sweep = per.select(
        "n_tok",
        F.explode(F.array(*[F.lit(c) for c in TRUNC_MAX_LENS])).alias(
            "max_len"
        ),
    )
    lost = F.greatest(F.col("n_tok") - F.col("max_len"), F.lit(0))
    g = sweep.groupBy("max_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_tok") > F.col("max_len")).cast("long")).alias(
            "truncated_docs"
        ),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(lost).alias("lost_tokens"),
    )
    return g.select(
        F.col("max_len").cast("long").alias("max_len"),
        "n_docs",
        "truncated_docs",
        pround(
            F.col("truncated_docs").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("truncated_doc_share"),
        "total_tokens",
        "lost_tokens",
        pround(
            F.col("lost_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("lost_token_share"),
    )


QUERIES["truncation_loss_sweep"] = truncation_loss_sweep

_TRUNC_GRID_SQL = ", ".join(str(c) for c in TRUNC_MAX_LENS)

ORACLES["truncation_loss_sweep"] = f"""
    WITH per AS (
        SELECT CAST({T.ws_token_count_sql("text")} AS BIGINT) AS n_tok
        FROM documents
    ),
    sweep AS (
        SELECT p.n_tok, g.max_len
        FROM per p
        CROSS JOIN (SELECT UNNEST([{_TRUNC_GRID_SQL}]) AS max_len) g
    ),
    agg AS (
        SELECT max_len,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END)
                    AS BIGINT) AS truncated_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(GREATEST(n_tok - max_len, 0)) AS BIGINT)
                   AS lost_tokens
        FROM sweep GROUP BY 1
    )
    SELECT CAST(max_len AS BIGINT) AS max_len, n_docs, truncated_docs,
           {pround_sql(
               'CAST(truncated_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)'
           )} AS truncated_doc_share,
           total_tokens, lost_tokens,
           {pround_sql(
               'CAST(lost_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)'
           )} AS lost_token_share
    FROM agg
"""


# --------------------------------------------------------------------------
# Grouped k-fold assignment (round 9).
# --------------------------------------------------------------------------

KFOLD_K = 5


def grouped_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe cross-validation folds: every document of a SOURCE
    lands in the same fold (fold = md5 of the source, mod K — near-dup
    and boilerplate text clusters within a domain, so a doc-level
    split leaks train content into eval; grouping by source is the
    standard guard), deterministic like ``dataset_split_assign``
    (never rand(): engines and re-runs must agree doc-by-doc). The
    report is the balance audit: per-fold doc/token/source counts and
    each fold's token share vs the ideal 1/K.

    Exactness: md5 fold ids and counts are exact integers; shares are
    single divisions. Scale shape: a pure per-row fold projection
    (composes with pushdown), one keyed aggregate, one 1-row total
    broadcast onto K rows."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    fold = (
        md5_long(F.concat(F.lit("fold:"), F.col("source"))) % KFOLD_K
    ).alias("fold")
    per = docs.select(
        fold,
        "source",
        T.ws_token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    g = per.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tok").alias("total_tokens"))
    return (
        g.join(F.broadcast(tot))
        .select(
            F.col("fold").cast("long").alias("fold"),
            "n_docs",
            "n_sources",
            "n_tokens",
            pround(
                F.col("n_tokens").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("token_share"),
            pround(
                F.col("n_tokens").cast("double")
                / F.col("total_tokens").cast("double")
                * float(KFOLD_K)
            ).alias("balance_ratio"),
        )
    )


QUERIES["grouped_kfold_assign"] = grouped_kfold_assign

from smart_city_data_pipeline_spark.functions.hashing import (  # noqa: E402
    md5_long_sql as _md5_sql_r9,
)

ORACLES["grouped_kfold_assign"] = f"""
    WITH per AS (
        SELECT {_md5_sql_r9("'fold:' || source")} % {KFOLD_K} AS fold,
               source,
               CAST({T.ws_token_count_sql("text")} AS BIGINT) AS n_tok
        FROM documents
    ),
    g AS (
        SELECT fold,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM per GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM per)
    SELECT CAST(g.fold AS BIGINT) AS fold, g.n_docs, g.n_sources,
           g.n_tokens,
           {pround_sql(
               'CAST(g.n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)'
           )} AS token_share,
           {pround_sql(
               'CAST(g.n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)'
               f' * {float(KFOLD_K)}'
           )} AS balance_ratio
    FROM g, tot t
"""


def filter_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise AGREEMENT between the four corpus quality rules — for
    every rule pair, how many documents both flag, how many each flags
    alone, and the Jaccard of the two reject sets. The question a
    corpus team asks before simplifying its filter stack: a pair with
    Jaccard near 1 is a redundant rule (drop one and save a pass); a
    pair near 0 removes disjoint slices (both earn their keep). The
    funnel report (``filter_funnel_report``) hides this: marginal
    counts depend on rule ORDER, agreement does not.

    Rules and thresholds are shared verbatim with the funnel
    (reference quality gates re-expressed: language, classifier score,
    token repetition, token-length band). All four per-doc flags come
    from pure Column expressions plus the ONE token-explode aggregate
    (the repetition signal); the 6 pairwise intersection counts are
    conditional sums inside a SINGLE global aggregate (map-side
    partial), unpivoted to one row per pair with ``stack`` — no pair
    join, no second shuffle, scale-invariant by construction.
    """
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    rep = (
        docs.select(
            "doc_id", F.explode_outer(T.ws_tokens(F.lower(t))).alias("token")
        )
        .filter(F.col("token").isNotNull())
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)).cast("double") / F.sum("cnt")).alias("distinct_ratio")
        )
    )
    flags = (
        docs.select(
            "doc_id",
            (T.lang_id(t) != "en").alias("f_lang"),
            (T.quality_score(t) < FUNNEL_MIN_QUALITY).alias("f_quality"),
            T.ws_token_count(t).alias("n_tok"),
        )
        .join(rep, "doc_id")
        .select(
            "f_lang",
            "f_quality",
            (F.col("distinct_ratio") < FUNNEL_MIN_DISTINCT_RATIO).alias("f_rep"),
            (
                (F.col("n_tok") < FUNNEL_MIN_TOKENS)
                | (F.col("n_tok") > FUNNEL_MAX_TOKENS)
            ).alias("f_len"),
        )
    )
    names = ["lang", "quality", "rep", "len"]
    cols = {n: F.col(f"f_{n}") for n in names}
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    aggs = [cnt(cols[n]).alias(f"n_{n}") for n in names]
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    aggs += [
        cnt(cols[a] & cols[b]).alias(f"b_{a}_{b}") for a, b in pairs
    ]
    agg = flags.agg(*aggs)
    stack_args = []
    for a, b in pairs:
        both = F.col(f"b_{a}_{b}")
        na, nb = F.col(f"n_{a}"), F.col(f"n_{b}")
        either = na + nb - both
        stack_args.append(
            f"'{a}', '{b}', n_{a}, n_{b}, b_{a}_{b}"
        )
    stacked = agg.selectExpr(
        "stack(6, "
        + ", ".join(stack_args)
        + ") AS (rule_a, rule_b, n_a, n_b, n_both)"
    )
    either = F.col("n_a") + F.col("n_b") - F.col("n_both")
    jac = F.when(
        either > 0, F.col("n_both").cast("double") / either.cast("double")
    ).otherwise(F.lit(0.0))
    return stacked.select(
        "rule_a",
        "rule_b",
        "n_a",
        "n_b",
        "n_both",
        (F.col("n_a") - F.col("n_both")).alias("n_only_a"),
        (F.col("n_b") - F.col("n_both")).alias("n_only_b"),
        either.alias("n_either"),
        pround(jac).alias("jaccard"),
    )


QUERIES["filter_agreement_matrix"] = filter_agreement_matrix

ORACLES["filter_agreement_matrix"] = f"""
    WITH rep AS (
        SELECT doc_id,
               CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS distinct_ratio
        FROM (
            SELECT doc_id, token, COUNT(*) AS cnt
            FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            )
            GROUP BY 1, 2
        )
        GROUP BY 1
    ),
    flags AS (
        SELECT ({T.lang_id_sql(_T)}) <> 'en' AS f_lang,
               ({T.quality_score_sql(_T)}) < {FUNNEL_MIN_QUALITY} AS f_quality,
               rep.distinct_ratio < {FUNNEL_MIN_DISTINCT_RATIO} AS f_rep,
               ({T.ws_token_count_sql(_T)} < {FUNNEL_MIN_TOKENS}
                OR {T.ws_token_count_sql(_T)} > {FUNNEL_MAX_TOKENS}) AS f_len
        FROM documents JOIN rep USING (doc_id)
    ),
    agg AS (
        SELECT
            CAST(SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
            CAST(SUM(CASE WHEN f_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
            CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
            CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
            CAST(SUM(CASE WHEN f_lang AND f_quality THEN 1 ELSE 0 END) AS BIGINT) AS b_lang_quality,
            CAST(SUM(CASE WHEN f_lang AND f_rep THEN 1 ELSE 0 END) AS BIGINT) AS b_lang_rep,
            CAST(SUM(CASE WHEN f_lang AND f_len THEN 1 ELSE 0 END) AS BIGINT) AS b_lang_len,
            CAST(SUM(CASE WHEN f_quality AND f_rep THEN 1 ELSE 0 END) AS BIGINT) AS b_quality_rep,
            CAST(SUM(CASE WHEN f_quality AND f_len THEN 1 ELSE 0 END) AS BIGINT) AS b_quality_len,
            CAST(SUM(CASE WHEN f_rep AND f_len THEN 1 ELSE 0 END) AS BIGINT) AS b_rep_len
        FROM flags
    ),
    pairs AS (
        SELECT 'lang' AS rule_a, 'quality' AS rule_b, n_lang AS n_a, n_quality AS n_b, b_lang_quality AS n_both FROM agg
        UNION ALL SELECT 'lang', 'rep', n_lang, n_rep, b_lang_rep FROM agg
        UNION ALL SELECT 'lang', 'len', n_lang, n_len, b_lang_len FROM agg
        UNION ALL SELECT 'quality', 'rep', n_quality, n_rep, b_quality_rep FROM agg
        UNION ALL SELECT 'quality', 'len', n_quality, n_len, b_quality_len FROM agg
        UNION ALL SELECT 'rep', 'len', n_rep, n_len, b_rep_len FROM agg
    )
    SELECT rule_a, rule_b, n_a, n_b, n_both,
           n_a - n_both AS n_only_a,
           n_b - n_both AS n_only_b,
           n_a + n_b - n_both AS n_either,
           CASE WHEN n_a + n_b - n_both > 0 THEN {pround_sql(
               'CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)'
           )} ELSE 0.0 END AS jaccard
    FROM pairs
"""


FEATHASH_DIMS = (256, 1024)  # candidate hashed-feature table sizes


def feature_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit — before committing a fastText /
    VW-style hashed bag-of-words featurizer (features = md5(term) mod
    dim, no vocab table), measure what each candidate table size
    DESTROYS: for each dim and collision depth d (distinct terms
    sharing one slot), how many slots, how many terms, and how much
    occurrence mass rides on them. The depth-0 row is the free
    headroom; mass at depth ≥ 2 is signal the model can never
    separate. The dim column turns the classic "just use 2^20" advice
    into a measured curve.

    Exactness: all counts are integers (distinct terms from one
    explode + term aggregate; md5 slot assignment is the engine's
    shared deterministic hash). No floats at all.

    Shape: one token explode → term aggregate (the shuffle), a
    2-literal dim explode on the TERM table (vocab-bounded), two
    keyed aggregates. Output ≤ dims × max-depth rows."""
    from smart_city_data_pipeline_spark.functions.hashing import md5_long

    docs = table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            F.explode_outer(T.ws_tokens(F.lower(F.col("text")))).alias("term")
        )
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dims = F.explode(
        F.array(*[F.lit(d) for d in FEATHASH_DIMS])
    ).alias("dim")
    slotted = terms.select(
        "term", "cnt", dims
    ).select(
        "dim",
        (md5_long(F.col("term")) % F.col("dim")).alias("slot"),
        "cnt",
    )
    slots = slotted.groupBy("dim", "slot").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cnt").alias("n_occ"),
    )
    occupied = slots.groupBy("dim", F.col("n_terms").alias("depth")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_slots"),
        F.sum("n_terms").cast("bigint").alias("n_terms"),
        F.sum("n_occ").cast("bigint").alias("n_occurrences"),
    )
    empty = slots.groupBy("dim").agg(
        (F.first("dim") - F.count(F.lit(1))).cast("bigint").alias("n_slots")
    ).select(
        "dim",
        F.lit(0).cast("bigint").alias("depth"),
        "n_slots",
        F.lit(0).cast("bigint").alias("n_terms"),
        F.lit(0).cast("bigint").alias("n_occurrences"),
    ).filter(F.col("n_slots") > 0)
    return occupied.unionByName(empty).select(
        F.col("dim").cast("int").alias("dim"),
        F.col("depth").cast("long").alias("depth"),
        "n_slots",
        "n_terms",
        "n_occurrences",
    )


QUERIES["feature_hashing_audit"] = feature_hashing_audit

from smart_city_data_pipeline_spark.functions.hashing import (  # noqa: E402
    md5_long_sql as _md5_sql_fh,
)

ORACLES["feature_hashing_audit"] = f"""
    WITH terms AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS term
            FROM documents
        )
        WHERE term IS NOT NULL AND term <> ''
        GROUP BY 1
    ),
    dims AS (SELECT * FROM (VALUES {", ".join(f"({d})" for d in FEATHASH_DIMS)}) d(dim)),
    slots AS (
        SELECT d.dim,
               {_md5_sql_fh("t.term")} % d.dim AS slot,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(t.cnt) AS BIGINT) AS n_occ
        FROM terms t CROSS JOIN dims d
        GROUP BY 1, 2
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(n_terms AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_slots,
           CAST(SUM(n_terms) AS BIGINT) AS n_terms,
           CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
    FROM slots
    GROUP BY 1, 2
    UNION ALL
    SELECT CAST(dim AS INT), 0,
           CAST(dim - COUNT(*) AS BIGINT), 0, 0
    FROM slots
    GROUP BY dim
    HAVING dim - COUNT(*) > 0
"""


# --- Unigram-LM (SentencePiece-style) tokenizer training ------------
#
# The EM counterpart to `bpe_train_merges` (Kudo 2018): seed a piece
# vocabulary from weighted substring counts, then iterate hard-EM —
# E-step: Viterbi-segment every distinct word under the current piece
# scores; M-step: re-estimate scores from the weighted piece counts —
# and prune to a target vocabulary. Everything runs on an INTEGER
# grid so both engines agree bit for bit: piece scores are quantized
# to q = max(1, count*GRID // total) and the Viterbi objective is the
# exact integer product(q_i) * GRID^(max_pieces - k), carried as
# dp[j] = dp[i] * q * GRID^(len-1) (Python bigint / DuckDB HUGEINT;
# bounded by GRID^MAX_WORD = 128^16 = 2^112 < 2^127). Ties break to
# the lexicographically smallest bracket-encoded segmentation — a
# DP-consistent order because one segmentation's encoding is never a
# string prefix of another's for the same word.
ULM_MAX_WORD = 16  # words longer than this are excluded from training
ULM_MAX_PIECE = 4
ULM_GRID = 128  # score quantization grid; keeps the DP in 128 bits
ULM_SEED_N = 48  # multi-char seed pieces (all single chars always kept)
ULM_EM_ITERS = 3
ULM_VOCAB_TARGET = 32  # multi-char pieces kept after the final prune

_ULM_POW = tuple(ULM_GRID ** k for k in range(ULM_MAX_PIECE))


def _ulm_viterbi(w: str, vocab: dict) -> list:
    """Best segmentation of ``w`` under integer piece scores ``vocab``:
    maximize product(q_i)*GRID^(len(w)-k); ties to the smallest
    bracket-encoded segmentation. Single characters are always in the
    vocabulary, so every word is segmentable."""
    n = len(w)
    dp: list = [None] * (n + 1)
    dp[0] = (1, "")
    for j in range(1, n + 1):
        best = None
        for plen in range(1, min(ULM_MAX_PIECE, j) + 1):
            prev = dp[j - plen]
            if prev is None:
                continue
            q = vocab.get(w[j - plen:j])
            if q is None:
                continue
            s = prev[0] * q * _ULM_POW[plen - 1]
            seg = prev[1] + "[" + w[j - plen:j] + "]"
            if best is None or s > best[0] or (s == best[0] and seg < best[1]):
                best = (s, seg)
        dp[j] = best
    return dp[n][1][1:-1].split("][")


def _ulm_counts(words: dict, vocab: dict) -> dict:
    """One hard E-step: Viterbi-segment every word of ``words``
    (``{word: frequency}``) under ``vocab`` and count the pieces,
    weighted by frequency."""
    counts: dict = {}
    for w, wn in words.items():
        for piece in _ulm_viterbi(w, vocab):
            counts[piece] = counts.get(piece, 0) + wn
    return counts


def _ulm_quantize(counts: dict) -> dict:
    """Piece scores on the integer grid: max(1, count*GRID // total)."""
    total = sum(counts.values())
    return {p: max(1, c * ULM_GRID // total) for p, c in counts.items()}


def _ulm_top_multis(counts: dict, n: int) -> list:
    """The ``n`` most frequent multi-char pieces as ``(piece, count)``,
    ties to the smaller piece."""
    return sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:n]


def _ulm_fit(words: dict) -> tuple[list, dict, dict]:
    """Substring seed + ULM_EM_ITERS hard-EM rounds + the final prune
    over the distinct-word table ``words`` (``{word: frequency}``,
    words of at most ULM_MAX_WORD characters): returns (the kept
    pieces, sorted single chars first, then the ULM_VOCAB_TARGET top
    multi-char pieces; final E-step counts; final quantized vocab)."""
    sub: dict = {}
    for w, wn in words.items():
        for s in range(len(w)):
            for plen in range(1, min(ULM_MAX_PIECE, len(w) - s) + 1):
                piece = w[s:s + plen]
                sub[piece] = sub.get(piece, 0) + wn
    single_chars = sorted(p for p in sub if len(p) == 1)
    seed = dict(_ulm_top_multis(sub, ULM_SEED_N))
    seed.update((ch, sub[ch]) for ch in single_chars)
    vocab = _ulm_quantize(seed)
    counts: dict = {}
    for _ in range(ULM_EM_ITERS):
        counts = _ulm_counts(words, vocab)
        vocab = _ulm_quantize(counts)
        for ch in single_chars:
            vocab.setdefault(ch, 1)  # unused singles survive at q=1
    kept = single_chars + [p for p, _ in _ulm_top_multis(counts, ULM_VOCAB_TARGET)]
    return kept, counts, vocab


def _ulm_per_vocab(spark: SparkSession, sf_dir: str, kernel, schema: str) -> DataFrame:
    """:func:`_per_vocab` over the words ULM trains on: those of at
    most ULM_MAX_WORD characters."""
    words = _word_counts(table(spark, sf_dir, "documents"))
    return _per_vocab(words.filter(F.length("w") <= ULM_MAX_WORD), kernel, schema)


def ulm_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (the SentencePiece counterpart to
    ``bpe_train_merges``): substring seed → ULM_EM_ITERS hard-EM
    rounds over the bounded word-frequency table → prune to
    ULM_VOCAB_TARGET multi-char pieces (single characters are never
    pruned — they guarantee segmentability). Emits the learned vocab
    with its final Viterbi counts and quantized scores — the artifact
    a tokenizer ships.

    Scale shape: one lazy plan, the word count and :func:`_ulm_fit`
    (seed and EM rounds) over the whole distinct-word table in one
    :func:`_per_vocab` group. Bound: the distinct-word table fits one
    Python worker (31 words today); the rounds never touch the
    corpus.
    Oracle: the DuckDB twin unrolls the SAME integer-grid EM — the
    Viterbi DP is ULM_MAX_WORD chained argmax CTEs per round (HUGEINT
    scores, identical (score DESC, seg ASC) tie-break), so both
    engines learn the identical vocabulary.
    """

    def learned(words):
        kept, counts, vocab = _ulm_fit(words)
        return [(p, counts.get(p, 0), vocab[p]) for p in kept]

    return _ulm_per_vocab(
        spark, sf_dir, learned, "piece string, n_viterbi long, score_q long"
    )


def _ulm_em_ctes() -> list:
    """Shared CTE chain for the ULM oracles: words → wc → substring
    seed → v0, then per EM round the unrolled HUGEINT Viterbi DP
    (``_ulm_dp_ctes``) + piece counts + the quantized M-step.
    Everything MATERIALIZED — DuckDB would otherwise inline the dp
    chain exponentially (each dp_j is referenced by up to four later
    CTEs)."""
    g = ULM_GRID
    ctes = [f"""
    words AS MATERIALIZED (
        SELECT token AS w FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS token
            FROM documents
        ) WHERE token <> ''
    ),
    wc AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM words
        WHERE len(w) <= {ULM_MAX_WORD}
        GROUP BY 1
    ),
    subs AS MATERIALIZED (
        SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM (
            SELECT substr(w, s, l) AS piece, wn FROM (
                SELECT w, wn, s, unnest(range(1, {ULM_MAX_PIECE} + 1)) AS l
                FROM (SELECT w, wn, unnest(range(1, len(w) + 1)) AS s FROM wc)
            ) WHERE s + l - 1 <= len(w)
        ) GROUP BY 1
    ),
    vc0 AS MATERIALIZED (
        SELECT piece, c FROM (
            SELECT piece, c FROM subs WHERE len(piece) >= 2
            ORDER BY c DESC, piece ASC LIMIT {ULM_SEED_N}
        )
        UNION ALL
        SELECT piece, c FROM subs WHERE len(piece) = 1
    ),
    v0 AS MATERIALIZED (
        SELECT piece,
               GREATEST(1, (c * {g}) // (SELECT SUM(c) FROM vc0)) AS q
        FROM vc0
    )"""]
    for k in range(1, ULM_EM_ITERS + 1):
        dp, fins = _ulm_dp_ctes(str(k), f"v{k - 1}")
        ctes += dp
        ctes.append(f"""
    cnt{k} AS MATERIALIZED (
        SELECT piece, CAST(SUM(wn) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(substr(seg, 2, len(seg) - 2), \'][\'))
                       AS piece,
                   wn
            FROM ({fins})
        ) GROUP BY 1
    ),
    vc{k} AS MATERIALIZED (
        SELECT piece, c FROM cnt{k}
        UNION ALL
        SELECT v.piece, CAST(0 AS BIGINT) AS c FROM v{k - 1} v
        WHERE len(v.piece) = 1
          AND v.piece NOT IN (SELECT piece FROM cnt{k})
    ),
    v{k} AS MATERIALIZED (
        SELECT piece,
               GREATEST(1, (c * {g}) // (SELECT SUM(c) FROM vc{k})) AS q
        FROM vc{k}
    )""")
    return ctes


def _ulm_dp_ctes(tag: str, vname: str) -> tuple:
    """One unrolled Viterbi pass over ``wc`` under vocabulary CTE
    ``vname``: ULM_MAX_WORD chained argmax DP CTEs (HUGEINT scores,
    \'(score DESC, seg ASC)\' tie-break). Returns (ctes, fins) where
    ``fins`` unions each word\'s final dp row."""
    g = ULM_GRID
    ctes = [f"""
    dp{tag}_0 AS MATERIALIZED (
        SELECT w, wn, CAST(1 AS HUGEINT) AS score, \'\' AS seg FROM wc
    )"""]
    for j in range(1, ULM_MAX_WORD + 1):
        cands = " UNION ALL ".join(
            f"""
            SELECT d.w, d.wn,
                   d.score * v.q * CAST({g ** (plen - 1)} AS HUGEINT)
                       AS score,
                   d.seg || \'[\' || substr(d.w, {j - plen + 1}, {plen})
                       || \']\' AS seg
            FROM dp{tag}_{j - plen} d JOIN {vname} v
              ON v.piece = substr(d.w, {j - plen + 1}, {plen})
            WHERE len(d.w) >= {j}"""
            for plen in range(1, min(ULM_MAX_PIECE, j) + 1)
        )
        ctes.append(f"""
    dp{tag}_{j} AS MATERIALIZED (
        SELECT w, wn, score, seg FROM (
            SELECT w, wn, score, seg,
                   ROW_NUMBER() OVER (PARTITION BY w
                                      ORDER BY score DESC, seg ASC) AS rn
            FROM ({cands})
        ) WHERE rn = 1
    )""")
    fins = " UNION ALL ".join(
        f"SELECT w, wn, seg FROM dp{tag}_{j} WHERE len(w) = {j}"
        for j in range(1, ULM_MAX_WORD + 1)
    )
    return ctes, fins


def _ulm_oracle() -> str:
    g = ULM_GRID
    kk = ULM_EM_ITERS
    return f"""
    WITH {",".join(_ulm_em_ctes())}
    SELECT piece,
           c AS n_viterbi,
           CAST(GREATEST(1, (c * {g}) // (SELECT SUM(c) FROM vc{kk}))
                AS BIGINT) AS score_q
    FROM (
        SELECT piece, c FROM vc{kk} WHERE len(piece) = 1
        UNION ALL
        SELECT piece, c FROM (
            SELECT piece, c FROM vc{kk} WHERE len(piece) >= 2
            ORDER BY c DESC, piece ASC LIMIT {ULM_VOCAB_TARGET}
        )
    )
"""


QUERIES["ulm_train_vocab"] = ulm_train_vocab
ORACLES["ulm_train_vocab"] = _ulm_oracle()


# --- WordPiece tokenizer training ------------------------------------
#
# Third tokenizer family (Schuster & Nakajima 2012; the BERT
# tokenizer): like BPE it fuses one adjacent symbol pair per round,
# but the pick maximizes the LIKELIHOOD GAIN count(ab) /
# (count(a)*count(b)) instead of the raw pair count. The score is
# quantized to the integer grid (c_ab << 20) // (c_a * c_b), computed
# in Python integers / HUGEINT on the two engines (both floor-divide
# exactly; operands bounded far below 38 digits for any real corpus),
# with the DEFINED deterministic tie-break (score_q DESC, n_pairs
# DESC, pair ASC) — quantization + tie order are part of the spec, so
# the kernel and the oracle learn identical merge tables.
WP_TRAIN_ITERS = 6
WP_SCORE_SHIFT = 1 << 20


def _wp_pick(pairs: dict, units: dict) -> tuple:
    """WordPiece's pick: the largest quantized likelihood gain
    ``(n_ab << 20) // (c_a * c_b)``, then the larger pair count, then
    the smaller pair; reported as ``(pair, n_pairs, score_q)``."""

    def scored(pair, n):
        a, b = pair.split(" ")
        return pair, n, n * WP_SCORE_SHIFT // (units[a] * units[b])

    return min(
        (scored(p, n) for p, n in pairs.items()),
        key=lambda r: (-r[2], -r[1], r[0]),
    )


def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer TRAINING for ``WP_TRAIN_ITERS`` rounds:
    count weighted adjacent pairs AND weighted symbol occurrences over
    the distinct-word vocabulary → argmax of the quantized likelihood
    gain (c_ab << 20) // (c_a*c_b) → fuse leftmost-greedy → repeat:
    :func:`_learn_merges` with :func:`_wp_pick`. Emits the learned
    merge table with its pair count and quantized score. Completes the
    tokenizer-training triple next to :func:`bpe_train_merges` (count
    argmax) and :func:`ulm_train_vocab` (EM).

    Scale shape: one lazy plan, the word count and the merge rounds
    over the whole distinct-word table in one :func:`_per_vocab`
    group. Bound: the distinct-word table fits one Python worker (31
    words today); the rounds never touch the corpus.
    Oracle: the DuckDB twin unrolls the same rounds over the shared
    bracket-string representation, scoring with HUGEINT floor division
    (equal to Python's exact integer floor division)."""
    return _per_vocab(
        _word_counts(table(spark, sf_dir, "documents")),
        lambda vocab: _learn_merges(vocab, WP_TRAIN_ITERS, _wp_pick)[0],
        "iteration int, pair string, n_pairs long, score_q long",
    )


def _wp_train_oracle(iters: int) -> str:
    """Unrolled WordPiece rounds over the shared bracket-string
    representation (the `_bpe_stages_sql` discipline plus a symbol-
    count CTE and the quantized-likelihood argmax per round)."""
    stages = []
    outs = []
    for k in range(1, iters + 1):
        prev = f"ww{k - 1}"
        stages.append(f"""
        wsy{k} AS MATERIALIZED (
            SELECT string_split(substr(s, 2, len(s) - 2), '][') AS syms, wn
            FROM {prev} WHERE len(s) > 0
        ),
        wp{k} AS MATERIALIZED (
            SELECT syms[i] || ' ' || syms[i + 1] AS pair,
                   syms[i] AS a, syms[i + 1] AS b,
                   CAST(SUM(wn) AS BIGINT) AS n_pairs
            FROM (SELECT syms, wn, unnest(range(1, len(syms))) AS i FROM wsy{k})
            GROUP BY 1, 2, 3
        ),
        ws{k} AS MATERIALIZED (
            SELECT s, CAST(SUM(wn) AS BIGINT) AS c
            FROM (SELECT unnest(syms) AS s, wn FROM wsy{k})
            GROUP BY 1
        ),
        wm{k} AS MATERIALIZED (
            SELECT pair, n_pairs,
                   CAST((CAST(n_pairs AS HUGEINT) * {WP_SCORE_SHIFT})
                        // (CAST(sa.c AS HUGEINT) * CAST(sb.c AS HUGEINT))
                        AS BIGINT) AS score_q
            FROM wp{k}
            JOIN ws{k} sa ON sa.s = wp{k}.a
            JOIN ws{k} sb ON sb.s = wp{k}.b
            ORDER BY score_q DESC, n_pairs DESC, pair ASC LIMIT 1
        ),
        ww{k} AS MATERIALIZED (
            SELECT replace(s,
                (SELECT '[' || replace(pair, ' ', '][') || ']' FROM wm{k}),
                (SELECT '[' || replace(pair, ' ', '') || ']' FROM wm{k})) AS s,
                wn
            FROM {prev}
        )""")
        outs.append(
            f"SELECT CAST({k} AS INTEGER) AS iteration, pair, n_pairs,"
            f" score_q FROM wm{k}"
        )
    prefix = f"""
        WITH words AS (
            SELECT token AS w FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
        ),
        wwc AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM words GROUP BY 1),
        ww0 AS MATERIALIZED (
            SELECT array_to_string(
                       list_transform(string_split(w, ''), c -> '[' || c || ']'),
                       '') AS s,
                   wn
            FROM wwc
        ),{",".join(stages)}"""
    return f"""{prefix}
        {" UNION ALL ".join(outs)}
    """


QUERIES["wordpiece_train_merges"] = wordpiece_train_merges
ORACLES["wordpiece_train_merges"] = _wp_train_oracle(WP_TRAIN_ITERS)


def ulm_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULM tokenizer loop CLOSED (the `bpe_encode_fertility` readout
    for the EM-trained vocab): retrain the ULM_EM_ITERS rounds, prune
    to the shipped vocabulary, then ENCODE the corpus with it — pieces
    per word after vs characters per word before and the share of
    positions the vocab eliminated, exact corpus-frequency-weighted
    integers with single final divisions.

    The encode pass is one more Viterbi E-step over the distinct-word
    table under the PRUNED vocab (pruned multi-char pieces fall back
    to singles, which are never pruned), in the same :func:`_per_vocab`
    group as the training. Bound: the distinct-word table fits one
    Python worker (31 words today). Oracle: the shared unrolled EM CTE
    chain + a final pruned-vocab DP pass (`_ulm_dp_ctes('f', 'vfin')`)."""

    def fertility(words):
        kept, _, vocab = _ulm_fit(words)
        pruned = {p: vocab[p] for p in kept}
        pieces_after = sum(_ulm_counts(words, pruned).values())
        tw = sum(words.values())
        cb = sum(wn * len(w) for w, wn in words.items())
        return [
            (
                ULM_EM_ITERS,
                len(pruned),
                len(words),
                tw,
                pround_py(cb / tw),
                pround_py(pieces_after / tw),
                pround_py((cb - pieces_after) / cb),
            )
        ]

    return _ulm_per_vocab(
        spark,
        sf_dir,
        fertility,
        "em_iters int, vocab_pieces long, vocab_words long, "
        "total_words long, chars_per_word double, pieces_per_word double, "
        "saved_share double",
    )


def _ulm_fertility_oracle() -> str:
    g = ULM_GRID
    kk = ULM_EM_ITERS
    ctes = _ulm_em_ctes()
    ctes.append(f"""
    vfin AS MATERIALIZED (
        SELECT piece,
               GREATEST(1, (c * {g}) // (SELECT SUM(c) FROM vc{kk})) AS q
        FROM (
            SELECT piece, c FROM vc{kk} WHERE len(piece) = 1
            UNION ALL
            SELECT piece, c FROM (
                SELECT piece, c FROM vc{kk} WHERE len(piece) >= 2
                ORDER BY c DESC, piece ASC LIMIT {ULM_VOCAB_TARGET}
            )
        )
    )""")
    dp, fins = _ulm_dp_ctes("f", "vfin")
    ctes += dp
    return f"""
    WITH {",".join(ctes)},
    enc AS (
        SELECT wn, len(string_split(substr(seg, 2, len(seg) - 2), '][')) AS k
        FROM ({fins})
    ),
    aft AS (SELECT CAST(SUM(wn * k) AS BIGINT) AS pieces_after FROM enc),
    bef AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab_words,
               CAST(SUM(wn) AS BIGINT) AS total_words,
               CAST(SUM(wn * len(w)) AS BIGINT) AS chars_before
        FROM wc
    )
    SELECT CAST({kk} AS INTEGER) AS em_iters,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM vfin) AS vocab_pieces,
           vocab_words, total_words,
           {pround_sql('CAST(chars_before AS DOUBLE) / total_words')}
               AS chars_per_word,
           {pround_sql('CAST(pieces_after AS DOUBLE) / total_words')}
               AS pieces_per_word,
           {pround_sql(
               'CAST(chars_before - pieces_after AS DOUBLE) / chars_before'
           )} AS saved_share
    FROM aft CROSS JOIN bef
"""


QUERIES["ulm_encode_fertility"] = ulm_encode_fertility
ORACLES["ulm_encode_fertility"] = _ulm_fertility_oracle()


# --- held-out LM interpolation sweep ---------------------------------
#
# lambda grid k/8 for k = 0..7: pure-bigram (k=8) is EXCLUDED by
# design — a held-out unseen bigram has p2 = 0 and infinite penalty,
# which is precisely why interpolation exists. Per-pair neg-logprobs
# are quantized to the CCNet integer grid before summing, so the
# per-lambda totals are order-independent integers (the repo's
# float-aggregation rule) and both engines agree exactly.
LM_INTERP_Q = 1 << 20
LM_INTERP_DEN = 8


def lm_interpolation_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek–Mercer interpolation weight sweep on a HELD-OUT split:
    train bigram/unigram counts on even doc_ids, score odd doc_ids
    under mix_λ = λ·p2(w|u) + (1−λ)·p1(w) for λ = k/8 (k = 0..7), with
    add-one unigram smoothing (OOV bucket) so every mix is positive.
    The argmin row is the tuned weight an n-gram rescorer ships — the
    sweep that turns `bigram_logprob_score`'s fixed model into a
    calibrated one (the threshold-sweep discipline of
    `perplexity_threshold_sweep`).

    Shape: ONE pair explode feeds train counts and eval pairs; two
    keyed train aggregates + one bounded (1-row, broadcast-exempt)
    N/V aggregate; the eight λ totals are conditional aggregate
    expressions over the scored pair table — no λ explode, no extra
    shuffle, one global aggregate row unpivoted via stack.

    Exactness: every per-pair −ln(mix) is quantized to the 2^20 grid
    BEFORE summation (integer, order-independent); the mean is one
    pround'd division. All probability ratios are the same
    integer-derived doubles on both engines; λ and 1−λ are exact
    dyadics."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(T.ws_tokens(F.lower(F.col("text")))).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prs = (
        tok.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "token")
    )
    train = prs.filter(F.col("doc_id") % 2 == 0)
    ev = prs.filter(F.col("doc_id") % 2 == 1)
    big = train.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c2"))
    pre = train.groupBy(F.col("prev").alias("p1w")).agg(
        F.count(F.lit(1)).alias("cp")
    )
    tok_train = tok.filter(F.col("doc_id") % 2 == 0)
    uni = tok_train.groupBy(F.col("token").alias("u1w")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    # 1-row global aggregate: bounded, broadcast is policy-exempt.
    nv = tok_train.agg(
        F.count(F.lit(1)).alias("nn"),
        F.countDistinct("token").alias("vv"),
    )
    scored = (
        ev.join(big, ["prev", "token"], "left")
        .join(pre, ev.prev == F.col("p1w"), "left")
        .join(uni, ev.token == F.col("u1w"), "left")
        .join(F.broadcast(nv))
    )
    p1 = (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(1)).cast("double") / (
        F.col("nn") + F.col("vv") + F.lit(1)
    ).cast("double")
    p2 = F.when(
        F.col("cp").isNotNull(),
        F.coalesce(F.col("c2"), F.lit(0)).cast("double")
        / F.col("cp").cast("double"),
    ).otherwise(F.lit(0.0))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_pairs")]
    for k in range(LM_INTERP_DEN):
        lam = k / LM_INTERP_DEN
        mix = F.lit(lam) * p2 + F.lit(1.0 - lam) * p1
        q = F.floor(-F.log(mix) * F.lit(float(LM_INTERP_Q)) + F.lit(0.5)).cast(
            "long"
        )
        aggs.append(F.sum(q).alias(f"s{k}"))
    row = scored.agg(*aggs)
    stack = ", ".join(f"{k}, s{k}" for k in range(LM_INTERP_DEN))
    return (
        row.selectExpr(
            "n_pairs", f"stack({LM_INTERP_DEN}, {stack}) AS (lam_num, sq)"
        )
        .select(
            F.col("lam_num").cast("int").alias("lam_num"),
            "n_pairs",
            pround(
                F.col("sq").cast("double")
                / (F.col("n_pairs") * F.lit(LM_INTERP_Q)).cast("double")
            ).alias("mean_neg_logprob"),
        )
    )


QUERIES["lm_interpolation_sweep"] = lm_interpolation_sweep


def _lm_interp_oracle() -> str:
    per_k = []
    for k in range(LM_INTERP_DEN):
        lam = k / LM_INTERP_DEN
        mix = f"({lam!r}) * p2 + ({1.0 - lam!r}) * p1"
        per_k.append(
            f"SUM(CAST(FLOOR(-LN({mix}) * {float(LM_INTERP_Q)!r} + 0.5)"
            f" AS BIGINT)) AS s{k}"
        )
    rows = " UNION ALL ".join(
        f"SELECT {k} AS lam_num, n_pairs, s{k} AS sq FROM g"
        for k in range(LM_INTERP_DEN)
    )
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    prs AS MATERIALIZED (
        SELECT doc_id, tk[i] AS prev, tk[i + 1] AS token
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
    ),
    big AS MATERIALIZED (
        SELECT prev, token, CAST(COUNT(*) AS BIGINT) AS c2
        FROM prs WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    pre AS MATERIALIZED (
        SELECT prev AS p1w, CAST(COUNT(*) AS BIGINT) AS cp
        FROM prs WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    uni AS MATERIALIZED (
        SELECT token AS u1w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
            SELECT doc_id, unnest(tk) AS token FROM toks WHERE doc_id % 2 = 0
        ) GROUP BY 1
    ),
    nv AS MATERIALIZED (
        -- nn from the UN-exploded table (summing len(tk) after unnest
        -- would count each doc len(tk) times)
        SELECT (SELECT CAST(SUM(len(tk)) AS BIGINT)
                FROM toks WHERE doc_id % 2 = 0) AS nn,
               (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) FROM (
                    SELECT unnest(tk) AS token FROM toks WHERE doc_id % 2 = 0
                )) AS vv
    ),
    scored AS MATERIALIZED (
        SELECT CAST(COALESCE(c1, 0) + 1 AS DOUBLE)
                   / CAST(nn + vv + 1 AS DOUBLE) AS p1,
               CASE WHEN cp IS NOT NULL THEN
                   CAST(COALESCE(c2, 0) AS DOUBLE) / CAST(cp AS DOUBLE)
               ELSE 0.0 END AS p2
        FROM (SELECT * FROM prs WHERE doc_id % 2 = 1) e
        LEFT JOIN big USING (prev, token)
        LEFT JOIN pre ON e.prev = pre.p1w
        LEFT JOIN uni ON e.token = uni.u1w
        CROSS JOIN nv
    ),
    g AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, {", ".join(per_k)}
        FROM scored
    )
    SELECT CAST(lam_num AS INTEGER) AS lam_num, n_pairs,
           {pround_sql(
               'CAST(sq AS DOUBLE)'
               ' / CAST(n_pairs * ' + str(LM_INTERP_Q) + ' AS DOUBLE)'
           )} AS mean_neg_logprob
    FROM ({rows})
"""


ORACLES["lm_interpolation_sweep"] = _lm_interp_oracle()


NEYMAN_BUDGET = 10_000  # total sample size the allocation distributes


def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sampling allocation per source: the
    DESIGN step before `stratified_sample` draws anything — for a
    fixed total budget, sample each stratum proportional to N_h·S_h
    (its size × token-length standard deviation), which minimizes the
    variance of the corpus-mean estimator (Neyman 1934). Uniform and
    proportional allocation under/over-sample exactly the strata whose
    length spread makes them informative.

    Exactness: per-stratum moments (n, Σlen, Σlen²) are exact integer
    aggregates (DECIMAL(38,0)/HUGEINT — len² sums exact past 1e9 docs
    per source); S_h = sqrt((n·Σx² − (Σx)²) / (n·(n−1))) and the
    allocation shares are the same IEEE ops over the same integers on
    both engines, pround'd. The n_h rounding is FLOOR (never banker's)
    so both engines agree row for row; the floors may undershoot the
    budget by < |strata| — the remainder column makes that honest.

    Shape: ONE map-side-combinable keyed aggregate over the corpus +
    a |sources|-bounded cross join against the 1-row total (broadcast
    policy-exempt). No window, no sort."""
    docs = table(spark, sf_dir, "documents")
    d = "decimal(38,0)"
    ln = F.size(T.ws_tokens(F.lower(F.col("text")))).cast("long")
    per = docs.select("source", ln.alias("x")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("x").cast(d)).alias("sx"),
        F.sum((F.col("x").cast(d) * F.col("x").cast(d))).alias("sxx"),
    )
    n = F.col("n_docs").cast("double")
    var = (
        (n * F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx").cast("double"))
        / (n * (n - F.lit(1.0)))
    )
    sh = F.when(F.col("n_docs") > 1, F.sqrt(var)).otherwise(F.lit(0.0))
    # Quantize each stratum's S_h ONCE to the 2^20 grid, then build the
    # Neyman weight as the EXACT integer product n_docs × S_h_q in
    # DECIMAL(38,0); the total is then an exact INTEGER sum
    # (order-independent across Spark partial aggregation and DuckDB's
    # scan) and the FLOOR'd allocation is pure integer arithmetic — a
    # raw-double tw could differ by 1 ulp between engines and flip the
    # floor (ADVICE r10). Quantizing S_h (not n·S_h) keeps the floor'd
    # double inside LongType at ANY corpus size: Spark's floor(double)
    # returns LONG and saturates at 2⁶³−1 where DuckDB's HUGEINT does
    # not, so the floor operand must stay small — S_h is bounded by the
    # token count of one document (S_h·2²⁰ < 2⁶³ until a single doc
    # holds ~2⁴³ tokens, i.e. ~30 TB of text in one row), while n·S_h
    # crosses 2⁶³ at ~10⁹ heavy docs per source (r11 review finding).
    ney_q = F.lit(1048576.0)  # 2^20 S_h grid
    shq = F.floor(sh * ney_q + F.lit(0.5)).cast(d)
    wq = (F.col("n_docs").cast(d) * shq).cast(d)
    wgt = per.select(
        "source", "n_docs", "sx", sh.alias("s_h"), wq.alias("wq")
    )
    tot = wgt.agg(F.sum("wq").alias("twq"))
    alloc = F.when(
        F.col("twq") > 0,
        F.expr(
            f"CAST({NEYMAN_BUDGET} AS DECIMAL(38,0)) * wq DIV twq"
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    # 1-row global total: bounded, broadcast policy-exempt.
    return wgt.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        pround(F.col("sx").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_tokens"
        ),
        pround(F.col("s_h")).alias("stddev_tokens"),
        pround(
            F.when(
                F.col("twq") > 0,
                F.col("wq").cast("double") / F.col("twq").cast("double"),
            )
        ).alias("alloc_share"),
        alloc.alias("n_sample"),
    )


QUERIES["neyman_allocation_plan"] = neyman_allocation_plan

ORACLES["neyman_allocation_plan"] = f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        FROM (
            SELECT source,
                   CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                        AS BIGINT) AS x
            FROM documents
        ) GROUP BY 1
    ),
    wgt AS (
        SELECT source, n_docs, sx,
               CASE WHEN n_docs > 1 THEN
                   SQRT((CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n_docs AS DOUBLE)
                           * (CAST(n_docs AS DOUBLE) - 1.0)))
               ELSE 0.0 END AS s_h
        FROM per
    ),
    w2 AS (
        SELECT source, n_docs, sx, s_h,
               CAST(n_docs AS HUGEINT)
                   * CAST(FLOOR(s_h * 1048576.0 + 0.5) AS HUGEINT) AS wq
        FROM wgt
    ),
    tot AS (SELECT SUM(wq) AS twq FROM w2)
    SELECT source, n_docs,
           {pround_sql('CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)')}
               AS mean_tokens,
           {pround_sql('s_h')} AS stddev_tokens,
           CASE WHEN twq > 0 THEN
               {pround_sql('CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE)')}
           END AS alloc_share,
           CASE WHEN twq > 0 THEN
               CAST((CAST({NEYMAN_BUDGET} AS HUGEINT) * wq) // twq AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS n_sample
    FROM w2 CROSS JOIN tot
"""


# Temperature-based source sampling (Conneau & Lample 2019; mT5/XLM-R):
# p_s(tau) ∝ c_s^tau flattens the source distribution as tau → 0 —
# THE standard knob for up-sampling low-resource sources in a
# multilingual/multi-source pretraining mix. The sweep prices several
# temperatures side by side before any data is drawn (the
# `lsh_banding_planner` posture: plan first, move bytes later).
# The tau grid is deliberately {k/4}: x^tau is then a COMPOSITION OF
# IEEE-EXACT ops — sqrt is correctly rounded (IEEE 754 requirement,
# honored by both the JVM and libm) and multiplication is a single
# rounding, so x^0.25 = sqrt(sqrt(x)), x^0.5 = sqrt(x), and
# x^0.75 = sqrt(x)·sqrt(sqrt(x)) produce the bit-identical double on
# both engines. pow() carries NO such guarantee (JVM Math.pow is
# specified only to ≤1 ulp, DuckDB uses libm pow) and a 1-ulp
# disagreement under the 2^20 floor flips a weight (r11 review
# finding) — so pow never appears in this operator.
SAMPLING_TEMPS = (0.25, 0.5, 0.75, 1.0)
TEMP_Q = 1048576.0  # 2^20 weight grid (quantize-then-sum rule)


def temperature_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sweep source-mixing plan: per (tau, source), the
    sampling share p_s ∝ c_s^tau over whitespace-token counts c_s, and
    the implied per-source epoch factor (how many times the source is
    re-seen in one corpus-sized draw — the over-sampling diagnostic
    that catches low-resource sources being memorized at small tau).

    Exactness: token counts are exact integer sums; each weight
    normalizes by the LARGEST source first (x = c/max ≤ 1) so the
    2^20-grid quantized x^tau stays inside a 64-bit floor at ANY corpus
    size (the ``neyman_allocation_plan`` overflow discipline), and the
    per-tau totals are integer sums. x^tau itself is a sqrt
    COMPOSITION per the quarter-grid tau (see ``SAMPLING_TEMPS``) —
    every double op in the statistic is correctly rounded, so both
    engines quantize the bit-identical value; the only remaining
    doubles are the pround'd display divisions.

    Scale shape: one full-scan keyed aggregate (map-side combine),
    then everything runs on the |sources| × |temps| bounded plan table
    — two 1-row broadcasts (corpus totals) and one tiny equi-join on
    tau. Nothing row-proportional past the first groupBy.
    """
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.ws_token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("corpus_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    x = F.col("n_tokens").cast("double") / F.col("max_tokens").cast("double")
    r4 = F.sqrt(F.sqrt(F.col("x")))  # x^0.25 — two exact roundings
    r2 = F.sqrt(F.col("x"))  # x^0.5
    pairs = F.array(
        F.struct(F.lit(0.25).alias("tau"), r4.alias("xt")),
        F.struct(F.lit(0.5).alias("tau"), r2.alias("xt")),
        F.struct(F.lit(0.75).alias("tau"), (r2 * r4).alias("xt")),
        F.struct(F.lit(1.0).alias("tau"), F.col("x").alias("xt")),
    )
    base = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens", "corpus_tokens", x.alias("x")
        )
        .select("*", F.explode(pairs).alias("p"))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "corpus_tokens",
            F.col("p.tau").alias("tau"),
            F.col("p.xt").alias("xt"),
        )
    )
    wq = F.floor(F.col("xt") * F.lit(TEMP_Q) + F.lit(0.5)).cast("long")
    w = base.select(
        "tau", "source", "n_docs", "n_tokens", "corpus_tokens",
        wq.alias("wq"),
    )
    # |temps|-row totals table — no broadcast HINT (the grouped-on-tau
    # aggregate isn't provably bounded to the policy checker; AQE
    # size-gates the join and will broadcast 4 rows at runtime anyway)
    twq = w.groupBy("tau").agg(F.sum("wq").alias("twq"))
    j = w.join(twq, "tau")
    share = pround(F.col("wq").cast("double") / F.col("twq").cast("double"))
    epochs = F.when(
        F.col("n_tokens") > 0,
        pround(
            F.col("wq").cast("double")
            * F.col("corpus_tokens").cast("double")
            / (F.col("twq").cast("double") * F.col("n_tokens").cast("double"))
        ),
    ).otherwise(F.lit(0.0))
    return j.select(
        "tau",
        "source",
        "n_docs",
        "n_tokens",
        share.alias("sample_share"),
        epochs.alias("epochs"),
    )


QUERIES["temperature_sampling_plan"] = temperature_sampling_plan

_TEMP_LIST_SQL = ", ".join(f"CAST({t} AS DOUBLE)" for t in SAMPLING_TEMPS)

ORACLES["temperature_sampling_plan"] = f"""
    WITH per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM({T.ws_token_count_sql(_T)}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
               CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
        FROM per
    ),
    xs AS (
        SELECT source, n_docs, n_tokens, corpus_tokens,
               CAST(n_tokens AS DOUBLE) / CAST(max_tokens AS DOUBLE) AS x
        FROM per CROSS JOIN tot
    ),
    w AS (
        -- the sqrt compositions mirror the Spark side exactly: sqrt
        -- is correctly rounded on both engines, pow is not
        SELECT tau, source, n_docs, n_tokens, corpus_tokens,
               CAST(FLOOR(CASE tau
                              WHEN 0.25 THEN SQRT(SQRT(x))
                              WHEN 0.5 THEN SQRT(x)
                              WHEN 0.75 THEN SQRT(x) * SQRT(SQRT(x))
                              ELSE x END
                          * {TEMP_Q} + 0.5) AS BIGINT) AS wq
        FROM xs
        CROSS JOIN (SELECT UNNEST([{_TEMP_LIST_SQL}]) AS tau) taus
    ),
    tw AS (SELECT tau, SUM(CAST(wq AS HUGEINT)) AS twq FROM w GROUP BY tau)
    SELECT w.tau, source, n_docs, n_tokens,
           {pround_sql('CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE)')}
               AS sample_share,
           CASE WHEN n_tokens > 0 THEN
               {pround_sql(
                   'CAST(wq AS DOUBLE) * CAST(corpus_tokens AS DOUBLE)'
                   ' / (CAST(twq AS DOUBLE) * CAST(n_tokens AS DOUBLE))'
               )}
           ELSE 0.0 END AS epochs
    FROM w JOIN tw USING (tau)
"""
