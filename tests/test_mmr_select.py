"""mmr_diverse_select vs an independent Python greedy replay, plus
the defining MMR property: pure relevance ranking would take BOTH
near-duplicates of the best hit back to back; MMR takes one, jumps to
the orthogonal-but-relevant cluster, and only then returns."""

from __future__ import annotations

import math

from smart_city_data_pipeline_spark.operators.similarity import (
    KMEANS_SCALE,
    MMR_K,
    MMR_LAM10,
    mmr_diverse_select,
)

DIM = 64

# Spark jobs of one mmr_diverse_select construct plus noop execute on
# the test lake: one corpus-scan checkpoint per pick except the last,
# whose state nothing reads (building it took 17).
MMR_JOBS_MAX = 16


def _q(v):
    return [math.floor(x * KMEANS_SCALE + 0.5) for x in v]


def _dot(a, b):
    return sum(int(x) * int(y) for x, y in zip(a, b))


def _mk(parts):
    v = [0.0] * DIM
    for axis, x in parts:
        v[axis] = x
    return v


# vec 0 is the query (lowest id), relevant to BOTH axis 0 and axis 20.
# vecs 1/2: near-duplicates on axis 0 (top relevance). vecs 4/5: the
# orthogonal axis-20 cluster, almost as relevant but dissimilar to
# 1/2. vec 3 is a weak mixed match; vecs 6/7 are near-noise.
_PLANT = [
    (0, _mk([(0, 0.7), (20, 0.7)])),
    (1, _mk([(0, 0.95), (5, 0.02)])),
    (2, _mk([(0, 0.93), (6, 0.02)])),
    (3, _mk([(0, 0.5), (10, 0.3)])),
    (4, _mk([(20, 0.9), (7, 0.01)])),
    (5, _mk([(20, 0.85), (8, 0.01)])),
    (6, _mk([(30, 0.9), (0, 0.05)])),
    (7, _mk([(30, 0.85), (0, 0.04)])),
]


def _ref():
    q = _q(_PLANT[0][1])
    cand = {vid: _q(v) for vid, v in _PLANT[1:]}
    rel = {vid: _dot(v, q) for vid, v in cand.items()}
    first = max(cand, key=lambda i: (rel[i], -i))
    picks = [(1, first, rel[first], 0)]
    ms = {i: _dot(cand[i], cand[first]) for i in cand if i != first}
    for order in range(2, MMR_K + 1):
        if not ms:
            break
        pick = max(
            ms,
            key=lambda i: (MMR_LAM10 * rel[i] - (10 - MMR_LAM10) * ms[i], -i),
        )
        picks.append((order, pick, rel[pick], ms[pick]))
        del ms[pick]
        for i in ms:
            ms[i] = max(ms[i], _dot(cand[i], cand[pick]))
    return [
        (o, vid, r, m, MMR_LAM10 * r - (10 - MMR_LAM10) * m)
        for o, vid, r, m in picks
    ]


def test_mmr_matches_replay_and_skips_the_near_duplicate(spark, tmp_path):
    d = str(tmp_path / "emb")
    spark.createDataFrame(
        [(vid, v, 0) for vid, v in _PLANT],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(d + "/embeddings.parquet")
    got = [
        (r["sel_order"], r["vec_id"], r["rel"], r["max_sim"], r["mmr_score10"])
        for r in mmr_diverse_select(spark, d).collect()
    ]
    got.sort()
    want = _ref()
    assert got == want
    order = [vid for _, vid, _, _, _ in got]
    # pure relevance ranks the duplicates 1, 2 back to back...
    q = _q(_PLANT[0][1])
    rel_rank = sorted(
        (vid for vid, _ in _PLANT[1:]),
        key=lambda vid: -_dot(_q(dict(_PLANT)[vid]), q),
    )
    assert rel_rank[:2] == [1, 2]
    # ...but MMR seeds with 1, jumps to the orthogonal cluster (4),
    # and only then admits the near-duplicate 2
    assert order[0] == 1
    assert order[1] == 4
    assert 2 in order[2:]


def test_mmr_job_count(spark, sf_dir, count_jobs):
    """No state is built after the last pick."""
    jobs = count_jobs(
        lambda: mmr_diverse_select(spark, sf_dir)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    assert 0 < jobs <= MMR_JOBS_MAX, f"{jobs} jobs, recorded {MMR_JOBS_MAX}"
