"""BPE training loop vs a tiny python-reference implementation
(VERDICT r5 item 5): three REAL merge iterations — count pairs, pick
the winner, rewrite the symbol table — must match Sennrich-style
reference BPE exactly, including the leftmost-greedy overlap rule.
The merge kernel is plain Python, so those checks run without Spark.
"""

from __future__ import annotations

from collections import Counter

import pytest

from smart_city_data_pipeline_spark.operators import textops
from smart_city_data_pipeline_spark.operators.textops import (
    _bpe_pick,
    _learn_merges,
    bpe_merge_counts,
)

TOKENIZER_KEYS = (
    "bpe_train_merges",
    "bpe_encode_fertility",
    "wordpiece_train_merges",
    "ulm_train_vocab",
    "ulm_encode_fertility",
)
# Spark jobs of one tokenizer key's construct plus noop execute on the
# test lake with the one-group vocabulary kernel: the documents
# table's parquet schema read, then 3 to execute. The Spark round
# loops took 12-28.
TOKENIZER_JOBS_MAX = 4

CORPUS = [
    "low low low lower lower newest newest newest newest widest",
    "widest widest newest low lowest aaab aaab banana",
]


def _ref_vocab(lines):
    c = Counter(w for ln in lines for w in ln.lower().split())
    return {tuple(w): n for w, n in c.items()}


def _ref_pairs(vocab):
    pc = Counter()
    for syms, n in vocab.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += n
    return pc


def _ref_merge(vocab, a, b):
    out = {}
    for syms, n in vocab.items():
        new, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                new.append(a + b)
                i += 2
            else:
                new.append(syms[i])
                i += 1
        out[tuple(new)] = out.get(tuple(new), 0) + n
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )


def test_three_merge_iterations_match_reference():
    vocab = _ref_vocab(CORPUS)
    counts = {"".join(syms): n for syms, n in vocab.items()}
    seen = []

    def pick(pairs, units):
        seen.append(dict(pairs))
        return _bpe_pick(pairs, units)

    rows, seqs = _learn_merges(counts, 3, pick)
    for it, (got, (_, pair, n)) in enumerate(zip(seen, rows)):
        want = _ref_pairs(vocab)
        assert got == {f"{a} {b}": c for (a, b), c in want.items()}, f"iteration {it}"
        # winner: max count, then lexicographically smallest pair
        (a, b), c = min(want.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (pair, n) == (f"{a} {b}", c), f"iteration {it}"
        vocab = _ref_merge(vocab, a, b)
    assert len(rows) == 3
    # post-merge symbol tables agree too (vocabulary as weighted set)
    got_syms = Counter()
    for w, seq in seqs.items():
        got_syms[tuple(seq)] += counts[w]
    assert got_syms == Counter(vocab)


def test_overlap_merges_leftmost_first():
    """'aaab' under merge (a,a) → [aa, a, b] — the fused symbol must
    not chain into a second overlapping merge."""
    rows, seqs = _learn_merges({"aaab": 1}, 1, _bpe_pick)
    assert rows == [(1, "a a", 2)]
    assert seqs["aaab"] == ["aa", "a", "b"]


def test_graded_entry_rank_contract(spark, sf_dir):
    rows = bpe_merge_counts(spark, sf_dir).collect()
    assert len(rows) == 50
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, 51)
    )
    ordered = sorted(rows, key=lambda r: r["rank"])
    for prev, cur in zip(ordered, ordered[1:]):
        assert (prev["n_pairs"], cur["pair"]) >= (cur["n_pairs"], prev["pair"])


def test_full_training_loop_matches_reference(docs_df):
    """bpe_train_merges' end-to-end loop (count → argmax → fuse ×6)
    emits the same merge table as the python reference trainer."""
    from smart_city_data_pipeline_spark.operators.textops import (
        BPE_TRAIN_ITERS,
        bpe_train_merges,
    )

    vocab = _ref_vocab(CORPUS)
    want = []
    for it in range(1, BPE_TRAIN_ITERS + 1):
        pairs = _ref_pairs(vocab)
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((it, f"{a} {b}", n))
        vocab = _ref_merge(vocab, a, b)

    spark = docs_df.sparkSession
    import smart_city_data_pipeline_spark.operators.textops as tx

    real_table = tx.table
    tx.table = lambda _s, _d, _n: docs_df  # train on the tiny corpus
    try:
        got = sorted(
            (r["iteration"], r["pair"], r["n_pairs"])
            for r in bpe_train_merges(spark, "ignored").collect()
        )
    finally:
        tx.table = real_table
    assert got == want


@pytest.mark.parametrize("key", TOKENIZER_KEYS)
def test_tokenizer_job_count(spark, sf_dir, count_jobs, key):
    """Construct starts no Spark job beyond reading the documents
    table's schema, and construct plus execute stays within the
    recorded job count: a driver-side round loop exceeds both."""
    schema_read = count_jobs(lambda: textops.table(spark, sf_dir, "documents"))
    built = []
    construct = count_jobs(lambda: built.append(textops.QUERIES[key](spark, sf_dir)))
    assert construct == schema_read
    jobs = construct + count_jobs(
        lambda: built[0].write.format("noop").mode("overwrite").save()
    )
    assert 0 < jobs <= TOKENIZER_JOBS_MAX, f"{jobs} jobs, recorded {TOKENIZER_JOBS_MAX}"
