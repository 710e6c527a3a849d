"""Nx scale replay (SPARK_GRAFT_SCALE_REPLICAS, default 10) for the pair-join families (VERDICT r9 item 4).

Builds a builder-owned 10x-replicated copy of events / documents /
embeddings (never touching the read-only /root/testdata) and measures
the empirical scaling exponent  alpha = log10(t_10x / t_1x)  of the
most expensive keys over those tables plus the capped dedup /
similarity family. alpha ~ 1 is linear; anything > ~1.2 needs a plan
fix or a written justification (ROUND_NOTES_r10.md).

Replication is HONEST about duplicate density — naive row copies would
make every document an exact 10-way duplicate and every pair operator
quadratically MORE work than a real 10x corpus:

- documents: replica k applies a bijective substitution cipher
  (letters rotated k mod 26, digits k mod 10), so each replica is an
  exact isomorph of the original (same token lengths, prefix blocks,
  duplicate structure, edit distances) sharing no shingles with other
  replicas — the planted near-dup structure repeats once per replica
  and the true pair workload scales exactly Nx (linear), like a real
  crawl that grew Nx. (r10 used ``_k`` token suffixes; those extra
  chars blunted prefix blocks and inflated length-sensitive keys —
  ROUND_NOTES_r11 quantifies the artifact.)
- embeddings: replica k rolls the float array k positions (norms and
  within-replica geometry preserved exactly, cross-replica cosines
  scrambled) and offsets the label space, so blocked pair counts scale
  10x with constant cell sizes.
- events: replica k offsets event_id and user_id — 10x the key space
  with each series preserved, the horizontal-growth shape.

Usage:  python tools/scale_replay.py [out.json] [key ...]
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF1 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
# alpha = log(t_N/t_1)/log(N) needs N >= 2, and the substitution
# cipher has exactly 52 distinct letter bijections (26 rotations + 26
# reversed rotations): beyond that, digit-free replicas would silently
# coincide and corrupt the duplicate density the tool exists to hold
# constant (r11 review finding).
if not 2 <= REPLICAS <= 52:
    raise SystemExit(
        f"SPARK_GRAFT_SCALE_REPLICAS={REPLICAS} out of range [2, 52]"
    )
SCALE_DIR = os.path.join(HERE, f".scale{REPLICAS}")

# The most expensive budgeted keys whose inputs are events/documents/
# embeddings (BASELINE_BUDGET.json, r10 freeze) + the capped
# dedup/similarity pair family.
DEFAULT_KEYS = [
    "gopher_repetition_full",
    "dbscan_grid",
    "kcore_decompose",
    "dedup_cluster_modularity",
    "cdc_chunk_dedup",
    "label_propagation_communities",
    "winnowing_fingerprints",
    "minhash_estimate_audit",
    "dedup_survivor_bias",
    "ulm_train_vocab",
    "lof_outliers",
    "text_embedding_agreement",
    "bpe_train_merges",
    "dedup_overmerge_audit",
    "median_polish_grid",
    # capped pair family
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_levenshtein",
    "embedding_neardup",
    "embedding_srp_lsh",
    "knn_graph",
    "graph_bfs_levels",
]

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem".split()
)


def build_scale_dir() -> str:
    import duckdb

    os.makedirs(SCALE_DIR, exist_ok=True)
    marker = os.path.join(SCALE_DIR, ".built_from")
    stamp = f"{SF1}:{REPLICAS}:cipher2"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return SCALE_DIR
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    # Replica k applies a bijective per-replica substitution cipher
    # (letters rotated k mod 26, digits k mod 10; unique pair for every
    # k < 130): each replica is an exact ISOMORPH of the original —
    # same token lengths, same prefix-block sizes, same within-replica
    # duplicate/shingle structure, same per-pair edit distances — while
    # replicas share no tokens/shingles with each other or the original
    # (up to the vanishing chance of whole token SEQUENCES being mutual
    # rotations). This replaces the r10 `_k`-suffix transform, whose
    # extra characters lengthened strings and blunted 12-char prefix
    # blocks, inflating length-sensitive keys superlinearly (the
    # dedup_levenshtein 30x artifact quantified in ROUND_NOTES_r11).
    import string

    max_doc = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM read_parquet('{SF1}/documents.parquet')"
    ).fetchone()[0]
    src_chars = string.ascii_lowercase + string.digits

    def _dst_chars(k: int) -> str:
        # k < 26: rotations; k >= 26: rotations of the REVERSED
        # alphabet (a reversal is never a rotation), so every replica
        # up to 52 gets a distinct letter bijection even for corpora
        # with no digits (rotation alone repeats at k = 26).
        lt = string.ascii_lowercase if k < 26 else string.ascii_lowercase[::-1]
        dg = string.digits if k < 10 else string.digits[::-1]
        r, q = k % 26, k % 10
        return lt[r:] + lt[:r] + dg[q:] + dg[:q]

    arms = "\n            UNION ALL\n            ".join(
        f"""SELECT doc_id + {k} * {max_doc} AS doc_id,
                   translate(text, '{src_chars}', '{_dst_chars(k)}') AS text,
                   lang, source, n_chars
            FROM read_parquet('{SF1}/documents.parquet')"""
        for k in range(REPLICAS)
    )
    con.execute(
        f"""
        COPY (
            {arms}
        ) TO '{SCALE_DIR}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT vec_id + k * (SELECT MAX(vec_id) + 1 FROM
                       read_parquet('{SF1}/embeddings.parquet')) AS vec_id,
                   CASE WHEN k = 0 THEN embedding
                        ELSE CAST(
                            embedding[(k + 1):len(embedding)]
                            || embedding[1:k] AS FLOAT[])
                   END AS embedding,
                   label + k * 1000 AS label
            FROM read_parquet('{SF1}/embeddings.parquet'),
                 range({REPLICAS}) t(k)
        ) TO '{SCALE_DIR}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT event_id + k * (SELECT MAX(event_id) + 1 FROM
                       read_parquet('{SF1}/events.parquet')) AS event_id,
                   ts,
                   user_id + k * (SELECT MAX(user_id) + 1 FROM
                       read_parquet('{SF1}/events.parquet')) AS user_id,
                   event_type, value, props
            FROM read_parquet('{SF1}/events.parquet'),
                 range({REPLICAS}) t(k)
        ) TO '{SCALE_DIR}/events.parquet' (FORMAT PARQUET)
        """
    )
    for t in TPCH_TABLES:
        dst = os.path.join(SCALE_DIR, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF1, f"{t}.parquet"), dst)
    with open(marker, "w") as f:
        f.write(stamp)
    return SCALE_DIR


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    keys = sys.argv[2:] or DEFAULT_KEYS
    build_scale_dir()

    from bench import run_key, warm_up
    from smart_city_data_pipeline_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("scale-replay")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    warm_up(spark, qs, SF1)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    import math

    table = {}
    for k in keys:
        t1 = run_key(spark, qs[k], SF1, runs)[0]
        t10 = run_key(spark, qs[k], SCALE_DIR, runs)[0]
        alpha = math.log(t10 / t1) / math.log(REPLICAS)
        table[k] = {
            "t_1x_sec": round(t1, 3),
            "t_nx_sec": round(t10, 3),
            "alpha": round(alpha, 3),
        }
        print(json.dumps({k: table[k]}), flush=True)
    if out_path:
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_1x": SF1,
                    "replicas": REPLICAS,
                    "runs_per_point": runs,
                    "keys": table,
                },
                f,
                indent=1,
            )
    spark.stop()


if __name__ == "__main__":
    main()
