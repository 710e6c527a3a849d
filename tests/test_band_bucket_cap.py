"""Hot-bucket guard on the MinHash band self-join (`_band_pairs`):
must be a no-op on this corpus at the default cap, and must actually
subdivide flooded buckets — with measured recall — when forced low."""

from __future__ import annotations

from smart_city_data_pipeline_spark.operators.dedup import (
    BAND_SIZE,
    N_MINHASH,
    _band_pairs,
    _minhash_sig_wide,
    dedup_minhash_lsh,
)


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())


def test_bucket_cap_noop_on_corpus(spark, sf_dir):
    """The DEFAULT cap (the registered query's production path) must
    return exactly the unguarded candidate set on this corpus — every
    band bucket here is far below BAND_BUCKET_CAP."""
    sig = _minhash_sig_wide(spark, sf_dir)
    capped = _pairs(_band_pairs(sig))
    uncapped = _pairs(_band_pairs(sig, bucket_cap=None))
    assert capped == uncapped
    assert len(capped) > 0  # the corpus has planted near-dups


def _planted_sig(spark):
    """docs 1,2: identical signatures (flood survivors). docs 3,4:
    agree on band 0 ONLY (m0..m3), differ everywhere else."""
    n_bands = N_MINHASH // BAND_SIZE
    assert n_bands >= 2
    rows = []
    for doc_id, slots in (
        (1, [100 + i for i in range(N_MINHASH)]),
        (2, [100 + i for i in range(N_MINHASH)]),
        (3, [300 + i if i < BAND_SIZE else 3000 + i for i in range(N_MINHASH)]),
        (4, [300 + i if i < BAND_SIZE else 4000 + i for i in range(N_MINHASH)]),
    ):
        rows.append((doc_id, *slots))
    cols = "doc_id long, " + ", ".join(f"m{i} long" for i in range(N_MINHASH))
    return spark.createDataFrame(rows, cols)


def test_bucket_cap_splits_flooded_buckets(spark):
    """With cap=1 every shared bucket is 'flooded': the identical-
    signature pair survives (it also agrees on the refinement band);
    the band-0-only pair is dropped — the documented recall cost.
    Both guard plans (plan-time InSet embed AND the in-plan marker
    join fallback for floods wider than the embed budget) must give
    the same answer."""
    sig = _planted_sig(spark)
    assert _pairs(_band_pairs(sig, bucket_cap=None)) == [(1, 2), (3, 4)]
    assert _pairs(_band_pairs(sig, bucket_cap=1)) == [(1, 2)]
    assert _pairs(_band_pairs(sig, bucket_cap=1, embed_max=0)) == [(1, 2)]


def test_guard_aggregate_runs_on_every_call(spark, count_jobs):
    """The oversized-bucket set is not memoized: a second construction
    over the same signatures runs the guard aggregate again."""
    sig = _planted_sig(spark)
    first = count_jobs(lambda: _band_pairs(sig, bucket_cap=1))
    second = count_jobs(lambda: _band_pairs(sig, bucket_cap=1))
    assert first >= 1
    assert second == first


def test_empty_over_set_plans_the_plain_join(spark, sf_dir):
    """On a healthy corpus the guard must cost ZERO plan nodes: the
    default-cap plan is byte-identical to the uncapped plan (no sub
    key, no counts subplan, no marker join)."""
    sig = _minhash_sig_wide(spark, sf_dir)
    capped = _band_pairs(sig)._jdf.queryExecution().optimizedPlan().toString()
    uncapped = _band_pairs(
        sig, bucket_cap=None
    )._jdf.queryExecution().optimizedPlan().toString()
    import re

    strip = lambda s: re.sub(r"#\d+L?", "#x", s)  # noqa: E731
    assert strip(capped) == strip(uncapped)
    assert "sub#" not in capped  # no guard key column anywhere


def test_forced_cap_candidates_are_subset_with_recall(spark, sf_dir):
    """Forced tiny cap on the real corpus: candidates must be a strict
    subset of the unguarded set, and the recall of the guard against
    the VERIFIED pair list (post signature check) is measured — exact
    duplicates agree on consecutive bands, so they all survive."""
    sig = _minhash_sig_wide(spark, sf_dir)
    uncapped = set(_pairs(_band_pairs(sig, bucket_cap=None)))
    capped = set(_pairs(_band_pairs(sig, bucket_cap=1)))
    assert capped <= uncapped
    # verified pairs (sig_sim >= threshold) that the guard retains
    verified = set(
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    )
    assert verified  # corpus has verified near-dups
    kept = verified & capped
    recall = len(kept) / len(verified)
    # near-identical docs share >= 2 consecutive bands with high
    # probability; anything below this floor means the refinement key
    # is broken, not that the corpus shifted
    assert recall >= 0.5, f"guard recall collapsed: {recall:.2f}"
