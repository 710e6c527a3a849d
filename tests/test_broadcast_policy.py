"""Broadcast-hint policy: forced ``F.broadcast()`` is allowed ONLY on
provably bounded sides —

- region (5 rows) / nation (25 rows) dims,
- GLOBAL aggregates (no grouping keys → exactly one row),
- aggregates grouped ONLY on bounded dims (nation/region keys, the
  fixed event_type vocabulary, the fixed embeddings label vocabulary),
- the fixed ANN probe set (a literal-bounded ``vec_id < 5`` filter).

Everything that grows with scale factor (customer, supplier, part,
fact tables, per-fact-key aggregates — even post-HAVING ones, since the
number of qualifying orders grows linearly with the corpus) must carry
NO hint so AQE can size-gate the join: a hard hint that is fine at
sf0.1 is an executor OOM at 100 TB.

Relations are identified by their schema columns (``c_custkey`` ⇒
customer, …): analyzed-plan ``Relation`` nodes print column lists, not
file paths, so path matching would be vacuous. A mutation test proves
the checker actually fires on a forced broadcast of customer and on a
grouped-on-fact-key aggregate.

The assertion is on the ANALYZED LOGICAL plan's ResolvedHint nodes —
AQE may (and at test scale will) still choose a physical broadcast
join, which is exactly the intent.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F


def _hint_subtrees(df) -> list[str]:
    """Text of the subtree under each broadcast ResolvedHint node."""
    s = df._jdf.queryExecution().analyzed().toString()
    lines = s.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint" in line:
            d = depth(line)
            sub = []
            for nxt in lines[i + 1 :]:
                if nxt.strip() and depth(nxt) <= d:
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


# sf-scaled table → a column that appears in the plan text iff that
# table's relation (or a projection of it) is in the subtree.
SF_SCALED_ID_COLS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Grouping keys whose cardinality is a fixed vocabulary, NOT a function
# of corpus size: nation/region dims, the closed event_type enum, the
# embeddings class-label vocabulary (10 fixed classes), and the
# documents source catalog (20 fixed sources) — a per-class/source
# aggregate is one row per vocabulary entry regardless of corpus size.
BOUNDED_GROUP_COLS = {
    "n_nationkey",
    "n_name",
    "n_regionkey",
    "r_regionkey",
    "r_name",
    "event_type",
    "label",
    "source",
    "lang",  # documents language vocabulary: closed 5-entry enum
}

# The ANN probe set: a literal range filter caps it at 5 rows.
_PROBE_FILTER_RE = re.compile(r"vec_id#\d+L? < cast\(5 as bigint\)")

_COL_REF_RE = re.compile(r"(\w+)#\d+")
_AGG_LINE_RE = re.compile(r"^[\s:+-]*(Aggregate \[)")


def _bounded_grouping(group_exprs: str) -> bool:
    cols = set(_COL_REF_RE.findall(group_exprs))
    return bool(cols) and cols <= BOUNDED_GROUP_COLS


def _parse_aggregate_line(line: str):
    """Split an ``Aggregate [...]...`` plan line at its first BALANCED
    bracket group. Returns ``(group_list_str, has_second_list)`` or
    None. A naive ``\\[[^\\]]*\\]`` regex breaks on grouping
    expressions that contain ']' (array indexing, lambdas), misreading
    a grouped aggregate as global/1-row."""
    m = _AGG_LINE_RE.search(line)
    if m is None:
        return None
    i = m.end(1) - 1  # index of the opening '['
    depth = 0
    for j in range(i, len(line)):
        if line[j] == "[":
            depth += 1
        elif line[j] == "]":
            depth -= 1
            if depth == 0:
                return line[i + 1 : j], line[j + 1 :].startswith(", [")
    return None  # unbalanced — treat as unparseable, never as global


def _aggregate_group_lists(sub: str) -> list[str]:
    """Group lists of every grouped Aggregate in the subtree (bracket-
    balanced parse)."""
    out = []
    for line in sub.splitlines():
        parsed = _parse_aggregate_line(line)
        if parsed is not None and parsed[1]:
            out.append(parsed[0])
    return out


def _root_is_global_aggregate(sub: str) -> bool:
    """The broadcast side's OUTPUT cardinality is set by the subtree's
    root operator: a root ``Aggregate []`` emits exactly one row no
    matter how unbounded the plan beneath it is (corpus totals,
    percentile cutoffs). Interior aggregates don't qualify — a grouped
    aggregate root still scales with its keys."""
    for line in sub.splitlines():
        if not line.strip():
            continue
        parsed = _parse_aggregate_line(line)
        if parsed is None:
            return False
        group_list, has_second = parsed
        # Analyzed plans print global aggregates in SINGLE-bracket form
        # ("Aggregate [sum(x) AS y]"); grouped ones as two lists
        # ("Aggregate [k], [k, count(1)]"). Treat as global: explicit
        # empty group list, or a root Aggregate with no second list.
        return group_list.strip() == "" or not has_second
    return False


def _violations(df) -> list[str]:
    """Hint subtrees that force-broadcast an unbounded side."""
    bad = []
    for sub in _hint_subtrees(df):
        present = [
            t for t, c in SF_SCALED_ID_COLS.items() if re.search(rf"\b{c}#", sub)
        ]
        if not present:
            continue  # bounded dims only (nation/region)
        if _PROBE_FILTER_RE.search(sub):
            continue  # fixed probe set, ≤ 5 rows by literal predicate
        if _root_is_global_aggregate(sub):
            continue  # 1-row scalar side by construction
        if "Aggregate" in sub:
            grouped = _aggregate_group_lists(sub)
            # Global aggregates ([] → every Aggregate is 1-row) and
            # aggregates grouped only on bounded dims are bounded by
            # construction; grouped-on-fact-key aggregates (q17 per-part
            # avg, q18 post-HAVING order set) are NOT — they scale.
            if all(_bounded_grouping(g) for g in grouped):
                continue
        bad.append(f"broadcast of sf-scaled {present}:\n{sub}")
    return bad


def test_aggregate_parse_is_bracket_balanced():
    """Grouping expressions containing ']' (array indexing, lambdas)
    must not be misread as a global/1-row aggregate — that misread
    would let an unbounded forced broadcast pass the policy test."""
    lam = "Aggregate [transform(arr#1, lambdafunction(x#9[1], x#9))], [count(1) AS c#2L]"
    assert _parse_aggregate_line(lam) == (
        "transform(arr#1, lambdafunction(x#9[1], x#9))",
        True,
    )
    assert not _root_is_global_aggregate(lam)
    assert _root_is_global_aggregate("Aggregate [sum(x#3) AS s#4L]")
    assert _root_is_global_aggregate("Aggregate [], [count(1) AS c#5L]")
    assert not _root_is_global_aggregate("Project [a#1]")
    # Unbalanced brackets: unparseable, never 'global'.
    assert not _root_is_global_aggregate("Aggregate [elt(a#1[, b#2], [x#3]")


def _queries():
    import __spark_entry__ as e

    return e.queries()


@pytest.mark.parametrize("key", sorted(_queries()))
def test_no_forced_broadcast_of_sf_scaled_tables(key, spark, sf_dir):
    df = _queries()[key](spark, sf_dir)
    assert not _violations(df), f"{key}: {_violations(df)}"


def test_bounded_dims_still_hinted(spark, sf_dir):
    """The bounded dims keep their explicit hints (don't over-correct:
    nation/region need no statistics or AQE to broadcast). Relations are
    matched by schema columns — plan text never shows file paths."""
    q = _queries()
    for key, n_hints in (("q5_local_supplier", 2), ("q10_returned_items", 1)):
        subs = _hint_subtrees(q[key](spark, sf_dir))
        assert len(subs) == n_hints, (key, subs)
        assert all(
            re.search(r"\bn_nationkey#", s) or re.search(r"\br_regionkey#", s)
            for s in subs
        ), key


def test_forced_broadcast_mutation_is_caught(spark, sf_dir):
    """Negative control: the checker must fire on the exact shapes the
    policy exists to prevent (it was vacuous in round 2)."""
    from smart_city_data_pipeline_spark.catalog import table

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    # 1. plain forced broadcast of an sf-scaled dim
    bad = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert _violations(bad), "checker missed a forced broadcast of customer"

    # 2. grouped-on-fact-key aggregate (the q17/q18 class): post-HAVING
    # output still grows with sf, so the Aggregate exemption must not
    # cover it.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    bad2 = orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
    assert _violations(bad2), "checker missed a grouped-on-fact-key broadcast"

    # 3. sanity: a global aggregate over an sf-scaled table stays exempt
    tot = li.agg(F.sum("l_quantity").alias("t"))
    ok = orders.join(F.broadcast(tot))
    assert not _violations(ok)


def test_no_leaked_cache_after_lsh(spark, sf_dir, persistent_rdd_ids):
    """dedup LSH queries must not ADD session-lifetime cached RDDs
    (self-join reuse comes from ReuseExchange, not persist()).
    Snapshot-diff, not ==0: the iterative dedup_clusters legitimately
    keeps ONE checkpoint alive behind its result until GC."""
    from smart_city_data_pipeline_spark.operators.dedup import (
        cross_source_neardup_matrix,
        dedup_incremental,
        dedup_minhash_lsh,
        embedding_srp_lsh,
    )

    before = persistent_rdd_ids()
    dedup_minhash_lsh(spark, sf_dir).count()
    embedding_srp_lsh(spark, sf_dir).count()
    dedup_incremental(spark, sf_dir).count()
    cross_source_neardup_matrix(spark, sf_dir).count()
    assert persistent_rdd_ids() - before == set()


def test_clusters_free_intermediate_checkpoints(spark, sf_dir, persistent_rdd_ids):
    """dedup_clusters materializes per-round checkpoints; all but the
    final (result-backing) one must be unpersisted before it returns."""
    from smart_city_data_pipeline_spark.operators.dedup import dedup_clusters

    before = persistent_rdd_ids()
    df = dedup_clusters(spark, sf_dir)
    leftover = persistent_rdd_ids() - before
    assert len(leftover) <= 1, leftover  # only the final checkpoint
    assert df.count() > 0
