"""Production guard knobs on the dedup operators (Jaccard df_cap,
levenshtein block_cap, neardup cell_cap) must be no-ops on this corpus
— and must actually bite when forced low."""

from __future__ import annotations

from pyspark.sql import functions as F

from smart_city_data_pipeline_spark.operators.dedup import (
    _hashed_shingles,
    dedup_containment,
    dedup_levenshtein,
    dedup_ngram_jaccard,
    embedding_neardup,
)


def test_df_cap_noop_on_rare_shingles(spark, sf_dir):
    max_df = (
        _hashed_shingles(spark, sf_dir)
        .groupBy("hs")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    uncapped = sorted(map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect()))
    capped = sorted(map(tuple, dedup_ngram_jaccard(spark, sf_dir, df_cap=max_df).collect()))
    assert capped == uncapped


def test_df_cap_drops_frequent_shingles(spark, sf_dir):
    # A cap of 1 keeps only unique shingles — candidate pairs (which need
    # a SHARED shingle, df >= 2) must vanish.
    assert dedup_ngram_jaccard(spark, sf_dir, df_cap=1).count() == 0


def test_containment_df_cap_default_noop(spark, sf_dir):
    """The DEFAULT cap (the registered query's production path) must
    return exactly the uncapped result on this corpus — max shingle df
    here is far below CONTAINMENT_DF_CAP."""
    capped = sorted(map(tuple, dedup_containment(spark, sf_dir).collect()))
    uncapped = sorted(
        map(tuple, dedup_containment(spark, sf_dir, df_cap=None).collect())
    )
    assert capped == uncapped
    assert len(capped) > 0  # the corpus has planted containment pairs


def test_containment_df_cap_bites(spark, sf_dir):
    # Intersections need a shingle SHARED by >= 2 docs (df >= 2); a cap
    # of 1 keeps only unique shingles, so every pair must vanish.
    assert dedup_containment(spark, sf_dir, df_cap=1).count() == 0


def test_levenshtein_block_cap_noop(spark, sf_dir):
    """The DEFAULT cap (the registered query's production path) must
    return exactly the uncapped result on this corpus."""
    capped = sorted(map(tuple, dedup_levenshtein(spark, sf_dir).collect()))
    uncapped = sorted(
        map(tuple, dedup_levenshtein(spark, sf_dir, block_cap=None).collect())
    )
    assert capped == uncapped
    assert len(capped) > 0  # the corpus has planted near-dups


def test_levenshtein_block_cap_bites(spark, sf_dir):
    # Pairs need >= 2 docs sharing a block; cap 1 drops every such block.
    assert dedup_levenshtein(spark, sf_dir, block_cap=1).count() == 0


def test_neardup_cell_cap_noop_and_banded_subset(spark, sf_dir):
    """Default cap: identical to plain within-label all-pairs (cells are
    small here). Forced cap 1: every cell goes through SRP banding — the
    result must be a subset with identical cosine values (LSH recall)."""
    base = sorted(map(tuple, embedding_neardup(spark, sf_dir).collect()))
    assert len(base) > 0
    banded = sorted(map(tuple, embedding_neardup(spark, sf_dir, cell_cap=1).collect()))
    assert set(banded) <= set(base)
    # plan shows the band equi-join (the scale guard is in the key)
    plan = embedding_neardup(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    assert "band" in plan


def test_neardup_zero_norm_vector_has_no_edges(spark, embeddings_lake):
    """A zero embedding's cosine is NULL, as DuckDB's division by zero
    gives, so it has no edge; an ANSI division by its zero norm raised.
    ``triangle_count`` builds its graph from the same pairs."""
    from smart_city_data_pipeline_spark.operators.similarity import triangle_count

    lake = embeddings_lake([(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.1]), (3, 0, [0.0, 0.0])])
    pairs = [(r["vec_a"], r["vec_b"]) for r in embedding_neardup(spark, lake).collect()]
    assert pairs == [(1, 2)]
    row = triangle_count(spark, lake).collect()
    assert [(r["label"], r["n_edges"]) for r in row] == [(0, 1)]


def test_neardup_reads_embeddings_schema_once(spark, sf_dir, count_jobs):
    """Construct runs one schema read of the embeddings and the label
    count collect, nothing more."""
    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.operators.dedup import _label_counts

    emb = []
    schema_read = count_jobs(lambda: emb.append(table(spark, sf_dir, "embeddings")))
    label_counts = count_jobs(lambda: _label_counts(emb[0]))
    construct = count_jobs(lambda: embedding_neardup(spark, sf_dir))
    assert construct == schema_read + label_counts


def test_incremental_matches_offline_restriction(spark, sf_dir):
    """dedup_incremental(new batch vs corpus) must equal the offline
    pair list restricted to (new, existing) pairs — the two paths may
    never disagree on the overlap."""
    import math

    from pyspark.sql import functions as F

    from smart_city_data_pipeline_spark.catalog import table
    from smart_city_data_pipeline_spark.operators.dedup import (
        INGEST_SPLIT_FRACTION,
        dedup_incremental,
        dedup_minhash_lsh,
    )

    split = math.ceil(
        table(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]
        * INGEST_SPLIT_FRACTION
    )
    offline = dedup_minhash_lsh(spark, sf_dir).collect()
    want = {}
    for r in offline:
        a, b = r["doc_a"], r["doc_b"]  # a < b by construction
        if b >= split and a < split:
            n, first = want.get(b, (0, None))
            want[b] = (n + 1, a if first is None else min(first, a))
    got = {
        r["new_doc_id"]: (r["n_dups"], r["first_dup"])
        for r in dedup_incremental(spark, sf_dir).collect()
    }
    assert got == want


def test_clusters_reliable_checkpoint_matches_local(spark, sf_dir, tmp_path):
    """dedup_clusters with a reliable checkpoint dir (the 1000-executor
    durability path) must produce exactly the localCheckpoint answer,
    and must actually write checkpoint data into the directory."""
    from smart_city_data_pipeline_spark.operators.dedup import dedup_clusters

    ckdir = str(tmp_path / "cc_ckpt")
    local = sorted(map(tuple, dedup_clusters(spark, sf_dir).collect()))
    reliable = sorted(
        map(tuple, dedup_clusters(spark, sf_dir, checkpoint_dir=ckdir).collect())
    )
    assert reliable == local
    import os

    found = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckdir) for f in fs
    ]
    assert found, "no reliable checkpoint files were written"
