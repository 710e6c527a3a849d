"""Independent Python ground truth for the session's numeric
operators. The DuckDB oracle proves cross-engine agreement, but both
sides were authored together — a bug mirrored into both SQL dialects
would pass it. These tests recompute char_entropy, bm25_scores,
robust_zscore, and acf_lags from the raw parquet in plain Python
(pyarrow + math, no Spark, no SQL) and compare under the same
``floor(x·1e4 + 0.5)/1e4`` rounding the operators use."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR


def _ascii_tokens(text: str) -> list[str]:
    """Model the PRODUCT tokenizer exactly (ADVICE r5): Spark/DuckDB
    split ``trim(lower(text))`` on the ASCII-only ``\s+`` — Java/RE2
    ``\s`` never matches Unicode whitespace, ``trim`` strips spaces
    only, and a whitespace-only doc yields the single empty token
    (``max_word_len`` 0), unlike ``str.split()`` which is
    Unicode-aware and drops empties."""
    return re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)


def _pround(x: float) -> float:
    return math.floor(x * 10000.0 + 0.5) / 10000.0


@pytest.fixture(scope="module")
def docs():
    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    return {r["doc_id"]: r for r in t}


@pytest.fixture(scope="module")
def events():
    return pq.read_table(f"{SF_DIR}/events.parquet").to_pylist()


def test_char_entropy_matches_python(spark, sf_dir, docs):
    from smart_city_data_pipeline_spark.operators.textops import char_entropy

    out = {r["doc_id"]: r for r in char_entropy(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    for doc_id, row in docs.items():
        counts = Counter(row["text"])  # every char; no empties possible
        n = sum(counts.values())
        # mirrors the operator's quantize-then-sum rule: each -p·ln p
        # term snaps once to the 2^20 grid, the total is an exact
        # integer sum — so the match is EXACT, not tolerance-based
        ent = (
            sum(
                math.floor(-(c / n) * math.log(c / n) * 1048576.0 + 0.5)
                for c in counts.values()
            )
            / 1048576.0
        )
        got = out[doc_id]
        assert got["n_chars"] == n
        assert got["n_unique_chars"] == len(counts)
        assert got["char_entropy"] == _pround(ent), doc_id


def test_bm25_matches_python(spark, sf_dir, docs):
    from smart_city_data_pipeline_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        bm25_scores,
    )

    toks = {d: _ascii_tokens(r["text"]) for d, r in docs.items()}
    dl = {d: len(t) for d, t in toks.items()}
    n_docs = len(docs)
    avgdl = sum(dl.values()) / n_docs
    tf = {d: Counter(t for t in tt if t in BM25_QUERY) for d, tt in toks.items()}
    df = Counter(term for c in tf.values() for term in c)
    expected = {}
    for d, c in tf.items():
        if not c:
            continue
        # mirrors the operator's quantize-then-sum rule: per-term BM25
        # contributions snap once to the 2^20 grid, summed exactly
        sq = 0
        for term, f in c.items():
            idf = math.log((n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
            contrib = idf * f * (BM25_K1 + 1.0) / (
                f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl[d] / avgdl)
            )
            sq += math.floor(contrib * 1048576.0 + 0.5)
        expected[d] = (len(c), sq / 1048576.0)
    out = {r["doc_id"]: r for r in bm25_scores(spark, sf_dir).collect()}
    assert set(out) == set(expected)
    for d, (n_terms, s) in expected.items():
        assert out[d]["n_query_terms"] == n_terms, d
        assert abs(out[d]["bm25"] - _pround(s)) <= 1e-9, d


def _lower_median(values: list[int]) -> int:
    v = sorted(values)
    return v[(len(v) + 1) // 2 - 1]


def test_robust_zscore_matches_python(spark, sf_dir, events):
    from smart_city_data_pipeline_spark.operators.timeseries import (
        ROBUST_Z_CUT,
        ROBUST_Z_K,
        robust_zscore,
    )

    cents = defaultdict(list)
    by_event = {}
    for r in events:
        c = math.floor(r["value"] * 100 + 0.5)
        cents[r["event_type"]].append(c)
        by_event[r["event_id"]] = (r["event_type"], c)
    med = {t: _lower_median(v) for t, v in cents.items()}
    mad = {
        t: _lower_median([abs(c - med[t]) for c in v]) for t, v in cents.items()
    }
    expected = {}
    for eid, (t, c) in by_event.items():
        if mad[t] <= 0:
            continue
        z = _pround(ROBUST_Z_K * (c - med[t]) / mad[t])
        if abs(z) > ROBUST_Z_CUT:
            expected[eid] = z
    out = {r["event_id"]: r["robust_z"] for r in robust_zscore(spark, sf_dir).collect()}
    assert out == expected


def test_acf_lags_matches_python(spark, sf_dir, events):
    from smart_city_data_pipeline_spark.operators.timeseries import (
        ACF_LAGS,
        acf_lags,
    )

    from datetime import timezone

    series = defaultdict(dict)  # type -> hour_index -> (sum_cents, n)
    for r in events:
        # events.ts is naive micros; the engines treat it as UTC-naive,
        # so pin UTC here (a bare .timestamp() would apply local time).
        hr = r["ts"].replace(minute=0, second=0, microsecond=0, tzinfo=timezone.utc)
        he = int(hr.timestamp()) // 3600
        c = math.floor(r["value"] * 100 + 0.5)
        s, n = series[r["event_type"]].get(he, (0, 0))
        series[r["event_type"]][he] = (s + c, n + 1)
    expected = {}
    for t, pts in series.items():
        v = {he: (s * 128) // n for he, (s, n) in pts.items()}
        for lag in ACF_LAGS:
            pairs = [(v[he], v[he + lag]) for he in v if he + lag in v]
            nb = len(pairs)
            sx = sum(a for a, _ in pairs)
            sy = sum(b for _, b in pairs)
            sxy = sum(a * b for a, b in pairs)
            sxx = sum(a * a for a, _ in pairs)
            syy = sum(b * b for _, b in pairs)
            varx = nb * sxx - sx * sx
            vary = nb * syy - sy * sy
            acf = (
                _pround((nb * sxy - sx * sy) / math.sqrt(float(varx) * float(vary)))
                if varx > 0 and vary > 0
                else None
            )
            expected[(t, lag)] = (nb, acf)
    out = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in acf_lags(spark, sf_dir).collect()
    }
    assert out == expected


def test_dup_ngram_chars_matches_python(spark, sf_dir, docs):
    from smart_city_data_pipeline_spark.operators.textops import (
        DUP_NGRAM_K,
        DUP_NGRAM_PCT,
        _DUP_SYNTH_2,
        _DUP_SYNTH_4,
        dup_ngram_chars,
    )

    out = {r["doc_id"]: r for r in dup_ngram_chars(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    flagged_seen = 0
    for doc_id, row in docs.items():
        text = row["text"]
        if doc_id % 6 == 0:
            text += _DUP_SYNTH_2
        if doc_id % 24 == 0:
            text += _DUP_SYNTH_4
        tk = _ascii_tokens(text)
        grams = [
            " ".join(tk[i : i + DUP_NGRAM_K])
            for i in range(len(tk) - DUP_NGRAM_K + 1)
        ]
        counts = Counter(grams)
        total = sum(len(g) for g in grams)
        dup = sum(len(g) for g in grams if counts[g] >= 2)
        got = out[doc_id]
        assert got["n_grams"] == len(grams), doc_id
        assert got["total_gram_chars"] == total, doc_id
        assert got["dup_gram_chars"] == dup, doc_id
        if total:
            assert abs(got["dup_char_frac"] - _pround(dup / total)) <= 1e-4
        assert got["flagged"] == (dup * 100 > total * DUP_NGRAM_PCT), doc_id
        flagged_seen += got["flagged"]
    # the synthesized repetition must make BOTH branches real
    assert flagged_seen > 0
    assert any(
        0 < out[d]["dup_gram_chars"] and not out[d]["flagged"] for d in docs
    )


def test_compaction_plan_invariants(spark, sf_dir):
    from smart_city_data_pipeline_spark.operators.lakehouse import (
        COMPACT_TARGET_BYTES,
        compaction_plan,
    )

    rows = sorted(
        compaction_plan(spark, sf_dir).collect(), key=lambda r: r["bucket"]
    )
    assert rows
    # bins are consecutive in bucket order and monotonically increasing
    bins = [r["bin_id"] for r in rows]
    assert bins == sorted(bins)
    # per-bin aggregates match the member rows
    by_bin = defaultdict(list)
    for r in rows:
        by_bin[r["bin_id"]].append(r)
    for bin_id, members in by_bin.items():
        total = sum(r["est_bytes"] for r in members)
        for r in members:
            assert r["bin_bytes"] == total
            assert r["bin_parts"] == len(members)
        # a multi-partition bin only forms while under the target:
        # every member but the last starts below the next boundary, so
        # removing the last member must leave the bin under target
        if len(members) > 1:
            assert total - members[-1]["est_bytes"] < COMPACT_TARGET_BYTES


def test_gopher_word_stats_matches_python(spark, sf_dir, docs):
    from smart_city_data_pipeline_spark.operators.textops import (
        WORD_LEN_MAX,
        WORD_LEN_MIN,
        _WLEN_LONG,
        _WLEN_SHORT,
        gopher_word_stats,
    )

    out = {r["doc_id"]: r for r in gopher_word_stats(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    hi = lo = 0
    for doc_id, row in docs.items():
        text = row["text"]
        if doc_id % 9 == 0:
            text += _WLEN_LONG
        if doc_id % 13 == 0:
            text += _WLEN_SHORT
        lens = [len(t) for t in _ascii_tokens(text)]
        total = sum(lens)
        got = out[doc_id]
        assert got["n_tokens"] == len(lens)
        assert got["total_word_chars"] == total
        assert got["max_word_len"] == max(lens)
        assert abs(got["mean_word_len"] - _pround(total / len(lens))) <= 1e-4
        want_flag = (
            total < WORD_LEN_MIN * len(lens) or total > WORD_LEN_MAX * len(lens)
        )
        assert got["flagged"] == want_flag, doc_id
        hi += total > WORD_LEN_MAX * len(lens)
        lo += total < WORD_LEN_MIN * len(lens)
    # the synthesized outliers must make BOTH flag branches real
    assert hi > 0 and lo > 0


def test_holt_linear_matches_python(spark, sf_dir, events):
    from smart_city_data_pipeline_spark.operators.timeseries import (
        HOLT_ALPHA,
        HOLT_BETA,
        HOLT_N,
        holt_linear,
    )

    got = {r["sensor_id"]: r for r in holt_linear(spark, sf_dir).collect()}
    series = defaultdict(list)
    for e in events:
        series[e["user_id"]].append((e["ts"], e["value"]))
    assert set(got) == set(series)
    for uid, pts in series.items():
        pts.sort()
        pts = pts[-HOLT_N:]
        l, b = float(pts[0][1]), 0.0
        for _, x in pts[1:]:
            ln = HOLT_ALPHA * float(x) + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (ln - l) + (1 - HOLT_BETA) * b
            l = ln
        g = got[uid]
        assert g["n_used"] == len(pts)
        assert abs(g["level"] - _pround(l)) <= 1e-9, uid
        assert abs(g["trend"] - _pround(b)) <= 1e-9, uid
        assert abs(g["forecast_1"] - _pround(l + b)) <= 1e-9, uid


def test_rolling_quantile_matches_python(spark, sf_dir, events):
    from smart_city_data_pipeline_spark.operators.timeseries import (
        ROLL_Q_K,
        rolling_quantile,
    )

    out = rolling_quantile(spark, sf_dir).collect()
    series = defaultdict(list)
    for e in events:
        series[e["user_id"]].append((e["ts"], e["value"]))
    want = defaultdict(list)  # sensor -> multiset of (median, n) per row
    for uid, pts in series.items():
        pts.sort()
        vals = [float(v) for _, v in pts]
        for i in range(len(vals)):
            win = sorted(vals[max(0, i - ROLL_Q_K + 1) : i + 1])
            want[uid].append((win[(len(win) + 1) // 2 - 1], len(win)))
    got = defaultdict(list)
    for r in out:
        got[r["sensor_id"]].append((r["roll_median"], r["n_window"]))
    for uid in want:
        assert sorted(got[uid]) == sorted(want[uid]), uid


def _epoch_us(ts) -> int:
    from datetime import datetime

    td = ts - datetime(1970, 1, 1)
    return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds


def test_theil_sen_matches_python(spark, sf_dir, events):
    from smart_city_data_pipeline_spark.operators.timeseries import (
        THEIL_K,
        theil_sen_slope,
    )

    series = defaultdict(list)
    for e in events:
        c = math.floor(e["value"] * 100 + 0.5)
        series[e["user_id"]].append((_epoch_us(e["ts"]), e["event_id"], c))
    expected = {}
    for uid, pts in series.items():
        pts.sort(key=lambda p: (p[0], p[1]), reverse=True)
        trail = pts[:THEIL_K]
        slopes = []
        for i in range(len(trail)):
            for j in range(i + 1, len(trail)):
                ti, _, ci = trail[i]
                tj, _, cj = trail[j]
                if ti == tj:
                    continue
                slopes.append(((ci - cj) * 1000000.0 / (ti - tj), i + 1, j + 1))
        if not slopes:
            continue
        slopes.sort()
        med = slopes[(len(slopes) + 1) // 2 - 1][0]
        expected[uid] = (len(slopes), _pround(med))
    out = {
        r["sensor_id"]: (r["n_pairs"], r["slope_cents_per_s"])
        for r in theil_sen_slope(spark, sf_dir).collect()
    }
    assert out == expected


def test_hampel_matches_python(spark, sf_dir, events):
    from smart_city_data_pipeline_spark.operators.timeseries import (
        HAMPEL_NSIG,
        HAMPEL_W,
        hampel_filter,
    )

    series = defaultdict(list)
    for e in events:
        c = math.floor(e["value"] * 100 + 0.5)
        series[e["user_id"]].append((_epoch_us(e["ts"]), e["event_id"], c))
    expected = {}
    n_outliers = 0
    for uid, pts in series.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        cs = [c for _, _, c in pts]
        for k, (_, eid, c) in enumerate(pts):
            win = sorted(cs[max(0, k - HAMPEL_W) : k + HAMPEL_W + 1])
            med = win[(len(win) + 1) // 2 - 1]
            devs = sorted(abs(v - med) for v in win)
            mad = devs[(len(devs) + 1) // 2 - 1]
            out = abs(c - med) * 10000 > int(HAMPEL_NSIG * 14826) * mad
            n_outliers += out
            rep = med if out else c
            expected[eid] = (
                _pround(c / 100.0),
                _pround(med / 100.0),
                out,
                _pround(rep / 100.0),
            )
    assert n_outliers > 0, "hampel outlier branch must fire on this corpus"
    got = {
        r["event_id"]: (
            r["value"],
            r["window_median"],
            r["is_outlier"],
            r["repaired"],
        )
        for r in hampel_filter(spark, sf_dir).collect()
    }
    assert got == expected


def test_pagerank_types_matches_python(spark, sf_dir, events):
    from collections import Counter

    from smart_city_data_pipeline_spark.operators.timeseries import (
        PAGERANK_ITERS,
        PAGERANK_R0,
        PAGERANK_SCALE,
        pagerank_types,
    )

    series = defaultdict(list)
    for e in events:
        series[e["user_id"]].append((e["ts"], e["event_type"]))
    # the lag window orders by ts alone — require unique (user, ts)
    for uid, pts in series.items():
        assert len({t for t, _ in pts}) == len(pts), uid
    trans = Counter()
    for uid, pts in series.items():
        pts.sort()
        for (_, a), (_, b) in zip(pts, pts[1:]):
            trans[(a, b)] += 1
    out_tot = Counter()
    for (a, _), n in trans.items():
        out_tot[a] += n
    p_q = {e: n * PAGERANK_SCALE // out_tot[e[0]] for e, n in trans.items()}
    nodes = sorted({e["event_type"] for e in events})
    n_nodes = len(nodes)
    tele = (15 * PAGERANK_R0 // 100) // n_nodes
    r = {v: PAGERANK_R0 // n_nodes for v in nodes}
    for _ in range(PAGERANK_ITERS):
        inflow = Counter()
        for (a, b), pq_ in p_q.items():
            inflow[b] += r[a] * pq_ // PAGERANK_SCALE
        r = {v: tele + 85 * inflow[v] // 100 for v in nodes}
    got = {row["event_type"]: row for row in pagerank_types(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v]["rank_q"] == r[v], v
        assert got[v]["n_out"] == out_tot[v]
        assert got[v]["rank"] == _pround(r[v] / float(PAGERANK_R0))


def test_dq_expectations_matches_python(spark, sf_dir, events):
    import json

    from smart_city_data_pipeline_spark.operators.quality import (
        DQ_RULES,
        dq_expectations,
    )

    sup = {
        r["s_suppkey"]
        for r in pq.read_table(f"{SF_DIR}/supplier.parquet").to_pylist()
    }
    allowed = {"click", "view", "purchase", "signup"}
    n = len(events)
    viols = Counter()
    seen_ids = set()
    for e in events:
        if e["event_id"] is None:
            viols["event_id_not_null"] += 1
        elif e["event_id"] in seen_ids:
            viols["event_id_unique"] += 1
        else:
            seen_ids.add(e["event_id"])
        ts = e["ts"]
        if ts is None or not ("2024-01-01" <= ts.isoformat() <= "2026-01-01"):
            viols["ts_in_range"] += 1
        if e["value"] < 0:
            viols["value_non_negative"] += 1
        if e["value"] > 250:
            viols["value_below_250"] += 1
        if e["event_type"] not in allowed:
            viols["event_type_allowed"] += 1
        if e["user_id"] not in sup:
            viols["sensor_registered"] += 1
        try:
            k = int(json.loads(e["props"])["k"])
            if k >= 64:
                viols["props_k_below_64"] += 1
        except Exception:
            viols["props_k_below_64"] += 1
    got = {r["rule"]: r for r in dq_expectations(spark, sf_dir).collect()}
    assert set(got) == {rule for rule, _ in DQ_RULES}
    failing = 0
    for rule, tol in DQ_RULES:
        row = got[rule]
        assert row["n_checked"] == n
        assert row["n_violations"] == viols[rule], rule
        pct = viols[rule] * 100.0 / n
        assert row["violation_pct"] == _pround(pct)
        assert row["passed"] == (pct <= tol)
        failing += not row["passed"]
    assert failing > 0, "the failing-rule branch must fire on this corpus"


def test_ann_recall_monotone_in_nprobe(spark, sf_dir):
    from smart_city_data_pipeline_spark.operators.similarity import (
        RECALL_NPROBES,
        ann_recall_report,
    )

    rows = ann_recall_report(spark, sf_dir).collect()
    by_probe = defaultdict(dict)
    for r in rows:
        by_probe[r["probe_id"]][r["nprobe"]] = r
    for probe_id, levels in by_probe.items():
        assert sorted(levels) == sorted(RECALL_NPROBES)
        nps = sorted(levels)
        for a, b in zip(nps, nps[1:]):
            # probing more cells can only add candidates and recall
            assert levels[a]["n_candidates"] <= levels[b]["n_candidates"]
            assert levels[a]["recall_at_k"] <= levels[b]["recall_at_k"]


def test_triangle_count_matches_python(spark, sf_dir):
    """Brute-force python triangle/wedge census over the same cosine
    edge set — validates the oriented wedge-join enumeration (each
    triangle exactly once, hub-node skew notwithstanding)."""
    from collections import defaultdict
    from itertools import combinations

    import duckdb

    from smart_city_data_pipeline_spark.operators.dedup import (
        COSINE_NEARDUP_THRESHOLD,
    )
    from smart_city_data_pipeline_spark.operators.similarity import (
        triangle_count,
    )

    con = duckdb.connect()
    vecs = con.execute(
        f"SELECT vec_id, label, CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    by_label = defaultdict(list)
    for vid, lab, emb in vecs:
        by_label[lab].append((vid, emb))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / (na * nb)

    expected = {}
    for lab, members in by_label.items():
        adj = defaultdict(set)
        n_edges = 0
        for (ua, ea), (ub, eb) in combinations(sorted(members), 2):
            if cos(ea, eb) >= COSINE_NEARDUP_THRESHOLD:
                adj[ua].add(ub)
                adj[ub].add(ua)
                n_edges += 1
        if not n_edges:
            continue
        wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
        tris = 0
        for u in adj:
            for v, w in combinations(sorted(adj[u]), 2):
                if u < v and w in adj[v]:
                    tris += 1
        expected[lab] = (len(adj), n_edges, wedges, tris)

    got = {
        r["label"]: (
            r["n_nodes"],
            r["n_edges"],
            r["n_wedges"],
            r["n_triangles"],
        )
        for r in triangle_count(spark, sf_dir).collect()
    }
    assert got == expected


def test_benford_digit_test_matches_python(spark, sf_dir):
    """Python recomputation of the per-zone Benford chi-square from raw
    parquet (integer first digits, quantized contribution grid)."""
    from collections import Counter

    import duckdb

    from smart_city_data_pipeline_spark.operators.quality import (
        BENFORD_CHI2_CRIT,
        BENFORD_P,
        _CHI2_Q,
        benford_digit_test,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_type, value "
        f"FROM read_parquet('{sf_dir}/events.parquet') WHERE value IS NOT NULL"
    ).fetchall()
    counts = Counter()
    for zone, value in rows:
        cents = int((value * 100.0 + 0.5) // 1)
        if cents > 0:
            counts[(zone, int(str(cents)[0]))] += 1

    zones = {z for z, _ in counts}
    expected = {}
    for z in zones:
        n = float(sum(counts[(z, d)] for d in range(1, 10)))
        q_sum = 0
        for d in range(1, 10):
            obs = float(counts[(z, d)])
            exp_n = n * BENFORD_P[d]
            q_sum += int((obs - exp_n) * (obs - exp_n) / exp_n * _CHI2_Q + 0.5)
        chi2 = q_sum / _CHI2_Q
        for d in range(1, 10):
            expected[(z, d)] = (counts[(z, d)], chi2 > BENFORD_CHI2_CRIT)

    got = {
        (r["zone"], r["digit"]): (r["n_obs"], r["benford_violated"])
        for r in benford_digit_test(spark, sf_dir).collect()
    }
    assert got == expected


def test_walsh_energy_matches_python(spark, sf_dir):
    """Python Walsh–Hadamard recomputation over the same integer hourly
    points — validates the bit_count sign convention and the 64-point
    truncation."""
    from collections import defaultdict

    import duckdb

    from smart_city_data_pipeline_spark.operators.timeseries import (
        WALSH_K,
        WALSH_N,
        walsh_energy,
    )

    con = duckdb.connect()
    hourly = con.execute(
        f"""
        SELECT user_id, CAST(FLOOR(epoch(date_trunc('hour', ts)) / 3600)
               AS BIGINT) AS he,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) * 128
                    // COUNT(*) AS BIGINT) AS v
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series = defaultdict(list)
    for sid, _, v in hourly:
        if len(series[sid]) < WALSH_N:
            series[sid].append(v)

    expected = {}
    for sid, vs in series.items():
        coefs = [
            sum(
                v * (1 - 2 * (bin(k & n).count("1") % 2))
                for n, v in enumerate(vs)
            )
            for k in range(WALSH_K)
        ]
        tot = sum(c * c for c in coefs)
        for k, c in enumerate(coefs):
            expected[(sid, k)] = (len(vs), c, c * c)

    got = {
        (r["sensor_id"], r["k"]): (r["n_points"], r["coef"], r["energy"])
        for r in walsh_energy(spark, sf_dir).collect()
    }
    assert got == expected


def test_forecast_backtest_diurnal_series(spark, tmp_path):
    """Planted diurnal series: a clean 24h-periodic sensor must show
    snaive MAE 0 (skill 0), while a drifting sensor must favor naive —
    pins the lag directions (t-1 vs t-24) and the pairwise-complete
    evaluation set."""
    import shutil

    from smart_city_data_pipeline_spark.operators.timeseries import (
        forecast_backtest,
    )

    rows = []
    eid = 0
    for h in range(72):  # 3 days, hourly
        ts = f"2025-03-0{1 + h // 24} {h % 24:02d}:30:00"
        # sensor 1: pure diurnal sawtooth, period 24
        rows.append((eid, ts, 1, "click", float(10 + (h % 24)), "{}"))
        eid += 1
        # sensor 2: pure linear drift (naive error 1, snaive error 24)
        rows.append((eid, ts, 2, "click", float(h), "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F_ts("ts"))
    d = str(tmp_path / "sfx")
    import os

    os.makedirs(d, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r["sensor_id"]: r for r in forecast_backtest(spark, d).collect()
    }
    # 48 evaluable hours each (hours 24..71)
    assert got[1]["n_eval"] == 48 and got[2]["n_eval"] == 48
    assert got[1]["mae_snaive"] == 0.0  # perfect seasonal repeat
    assert got[1]["skill_ratio"] == 0.0
    assert got[2]["mae_naive"] == 1.0 and got[2]["mae_snaive"] == 24.0
    assert got[2]["skill_ratio"] == 24.0


def F_ts(col):
    from pyspark.sql import functions as F

    return F.to_timestamp(col)


def test_k_anonymity_monotone_in_k(spark, sf_dir):
    """The k-anonymity curve is monotone: raising k can only grow the
    small-class set; min class size is k-independent."""
    from smart_city_data_pipeline_spark.operators.quality import (
        k_anonymity_audit,
    )

    rows = sorted(
        k_anonymity_audit(spark, sf_dir).collect(), key=lambda r: r["k"]
    )
    assert [r["k"] for r in rows] == [2, 5, 10, 20]
    assert len({r["n_classes"] for r in rows}) == 1
    assert len({r["min_class_size"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["n_small_classes"] <= b["n_small_classes"]
        assert a["rows_at_risk"] <= b["rows_at_risk"]
        assert a["risk_share"] <= b["risk_share"]
    for r in rows:
        assert r["k_anonymous"] == (r["min_class_size"] >= r["k"])


def test_changepoint_detect_planted_shift(spark, tmp_path):
    """Planted level shift: 30 hours at 10.0 then 30 hours at 20.0 —
    the best split must land exactly on the boundary, with the two
    segment means recovered."""
    from smart_city_data_pipeline_spark.operators.timeseries import (
        changepoint_detect,
    )

    rows = []
    for h in range(60):
        ts = f"2025-03-0{1 + h // 24} {h % 24:02d}:15:00"
        rows.append((h, ts, 7, "click", 10.0 if h < 30 else 20.0, "{}"))
    df = (
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .selectExpr(
            "event_id", "to_timestamp(ts) AS ts", "user_id",
            "event_type", "value", "props",
        )
    )
    d = str(tmp_path / "sfc")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = changepoint_detect(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_points"] == 60
    assert r["split_idx"] == 30  # last index of the low regime
    assert r["mean_before"] == 10.0
    assert r["mean_after"] == 20.0
    assert r["level_shift"] == 10.0


def test_hilbert_codes_match_classic_algorithm():
    """The unrolled CASE chain (shared verbatim by Spark and the
    oracle) must equal the classic iterative xy→d algorithm on the
    full 256×256 grid, be a bijection, and have the defining Hilbert
    property: consecutive codes are ADJACENT cells (|Δx|+|Δy| = 1) —
    the locality guarantee Z-order lacks."""
    import duckdb

    from smart_city_data_pipeline_spark.operators.lakehouse import (
        Z_BITS,
        _hilbert_step_exprs,
    )

    n = 1 << Z_BITS

    def xy2d(x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    ctes = [
        "base AS (SELECT x AS bx, y AS by FROM "
        f"(SELECT UNNEST(range(0, {n})) AS x), "
        f"(SELECT UNNEST(range(0, {n})) AS y))",
        "step0 AS (SELECT bx, by, bx AS hx0, by AS hy0, 0 AS hd0 "
        "FROM base)",
    ]
    for i in range(Z_BITS):
        items = ", ".join(
            f"{expr} AS {col}"
            for col, expr in _hilbert_step_exprs(i).items()
        )
        ctes.append(
            f"step{i + 1} AS (SELECT bx, by, {items} FROM step{i})"
        )
    rows = duckdb.connect().execute(
        f"WITH {', '.join(ctes)} "
        f"SELECT bx, by, hd{Z_BITS} FROM step{Z_BITS}"
    ).fetchall()
    got = {(x, y): d for x, y, d in rows}
    assert len(got) == n * n
    assert sorted(got.values()) == list(range(n * n))  # bijection
    for (x, y), d in list(got.items())[:4096]:
        assert d == xy2d(x, y)
    # adjacency along the whole curve
    by_d = {d: xy for xy, d in got.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_prune_report_hilbert_wins(spark, sf_dir):
    """On the observed (sensor, hour) grid Hilbert must decompose into
    strictly fewer contiguous code runs than Morton — the measurable
    reason hilbert_codes exists."""
    from smart_city_data_pipeline_spark.operators.lakehouse import (
        hilbert_prune_report,
    )

    got = {
        r["scheme"]: r for r in hilbert_prune_report(spark, sf_dir).collect()
    }
    assert got["morton"]["n_cells"] == got["hilbert"]["n_cells"]
    assert got["hilbert"]["n_runs"] < got["morton"]["n_runs"]
    assert got["hilbert"]["mean_run_len"] > got["morton"]["mean_run_len"]


def test_embedding_pca_power_matches_numpy(spark, sf_dir):
    """The integer-grid power iteration must agree with numpy's exact
    eigendecomposition of the same centered scatter matrix: cosine of
    the loading vs the true top eigenvector ≈ ±1, eigenvalue within
    the power-iteration tolerance."""
    import math

    import duckdb
    import numpy as np

    from smart_city_data_pipeline_spark.operators.similarity import (
        PCA_Q,
        PCA_XQ,
        embedding_pca_power,
    )

    con = duckdb.connect()
    vecs = con.execute(
        f"SELECT CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    a = np.array([v[0] for v in vecs])
    q = np.floor(a * PCA_Q + 0.5).astype(np.int64)
    m = np.floor(q.sum(axis=0) / len(q)).astype(np.int64)
    c = q - m
    C = (c.T @ c).astype(np.float64)
    evals, evecs = np.linalg.eigh(C)
    top_vec, top_val = evecs[:, -1], evals[-1]

    rows = sorted(
        embedding_pca_power(spark, sf_dir).collect(), key=lambda r: r["dim"]
    )
    x = np.array([r["loading_q"] for r in rows], dtype=np.float64)
    cos = abs(x @ top_vec) / (np.linalg.norm(x) * np.linalg.norm(top_vec))
    assert cos > 0.999, cos
    lam = rows[0]["var_top"] * len(q) * PCA_Q * PCA_Q
    assert math.isclose(lam, top_val, rel_tol=0.01), (lam, top_val)
    share = rows[0]["var_share"]
    assert math.isclose(share, top_val / np.trace(C), rel_tol=0.01)


def test_cdc_chunking_survives_head_insertion(spark, tmp_path):
    """The CDC property itself: prepend ONE token to a long document
    and the content-defined chunks re-align (most chunks still match
    the original), while the fixed 16-token grid re-cuts everything
    downstream (near-zero shared chunks)."""
    from smart_city_data_pipeline_spark.operators.textops import (
        cdc_chunk_dedup,
        chunk_dedup_share,
    )

    # synthetic doc with a rich vocabulary so the gate density matches
    # the expected 1/CDC_MOD (the corpus's ~30-word vocab is too coarse
    # to exercise re-alignment inside one short doc)
    base = " ".join(f"w{(i * 37) % 211}x{i % 53}" for i in range(400))
    shifted = "inserted " + base
    df = spark.createDataFrame(
        [(0, base, "en", "src0", len(base)),
         (1, shifted, "en", "src0", len(shifted))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sfd")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    cdc = {r["doc_id"]: r for r in cdc_chunk_dedup(spark, d).collect()}
    fixed = {r["doc_id"]: r for r in chunk_dedup_share(spark, d).collect()}
    # fixed grid: the one-token shift desynchronizes every chunk
    assert fixed[0]["dup_share"] < 0.2
    # CDC: boundaries re-align after the first gated token
    assert cdc[0]["dup_share"] > 0.8
    assert cdc[0]["dup_share"] > fixed[0]["dup_share"] + 0.5


def test_pareto_front_matches_bruteforce(spark, sf_dir):
    """Brute-force O(n²) dominance check over the same integer grid —
    validates the sort-based two-frame skyline, ties included."""
    from collections import defaultdict

    import duckdb

    from smart_city_data_pipeline_spark.operators.traffic import (
        pareto_front,
    )

    con = duckdb.connect()
    per = con.execute(
        f"""
        SELECT event_type, user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) * 128
                    // COUNT(*) AS BIGINT) AS q
        FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2
        """
    ).fetchall()
    by_zone = defaultdict(list)
    for zone, sid, n, q in per:
        by_zone[zone].append((sid, n, q))

    expected = {}
    for zone, pts in by_zone.items():
        for sid, n, q in pts:
            dominated = any(
                (n2 >= n and q2 >= q and (n2 > n or q2 > q))
                for sid2, n2, q2 in pts
                if sid2 != sid
            )
            expected[(zone, sid)] = not dominated

    got = {
        (r["zone"], r["sensor_id"]): r["on_front"]
        for r in pareto_front(spark, sf_dir).collect()
    }
    assert got == expected
    assert any(got.values()) and not all(got.values())


def test_abtt_residual_matches_numpy_projection(spark, sf_dir):
    """The integer-identity residual norm |c|²|x|² − (c·x)² must match
    numpy's explicit remove-projection norm, and removing the learned
    direction must shrink norms (reduction share in (0, 1))."""
    import duckdb
    import numpy as np

    from smart_city_data_pipeline_spark.operators.similarity import (
        PCA_Q,
        _train_pca,
        embedding_abtt_qc,
        pca_top_vector,
    )

    dim, _n, m, C = _train_pca(spark, sf_dir)
    x = np.array(pca_top_vector(C, dim), dtype=np.float64)
    xhat = x / np.linalg.norm(x)
    con = duckdb.connect()
    vecs = con.execute(
        f"SELECT label, CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    q = np.floor(
        np.array([v[1] for v in vecs]) * PCA_Q + 0.5
    ) - np.array(m)
    resid = q - np.outer(q @ xhat, xhat)
    np_after = np.linalg.norm(resid, axis=1) / PCA_Q

    rows = embedding_abtt_qc(spark, sf_dir).collect()
    labels = np.array([v[0] for v in vecs])
    for r in rows:
        mask = labels == r["label"]
        assert abs(r["mean_norm_after"] - np_after[mask].mean()) < 1e-3
        assert 0.0 < r["norm_reduction_share"] < 1.0


def _dbscan_bfs_reference(sensors) -> dict:
    """Pure-python BFS over the dense-cell adjacency of ``sensors``:
    ``sensor_id -> (role, cluster_id)``, the cluster id being the min
    cell label of its component."""
    from collections import defaultdict, deque

    from smart_city_data_pipeline_spark.operators.traffic import (
        DBSCAN_CELL,
        DBSCAN_MINPTS,
    )

    cells = defaultdict(list)
    for sid in sensors:
        cx = (sid * 8191) % 10000 // DBSCAN_CELL
        cy = (sid * 524287) % 10000 // DBSCAN_CELL
        cells[(cx, cy)].append(sid)
    dense = {c for c, pts in cells.items() if len(pts) >= DBSCAN_MINPTS}

    # BFS components over 8-neighborhood; cluster id = min cell label
    def lbl(c):
        return c[0] * 1024 + c[1]

    comp = {}
    for start in dense:
        if start in comp:
            continue
        seen = {start}
        q = deque([start])
        while q:
            cx, cy = q.popleft()
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cx + dx, cy + dy)
                    if nb in dense and nb not in seen:
                        seen.add(nb)
                        q.append(nb)
        cid = min(lbl(c) for c in seen)
        for c in seen:
            comp[c] = cid

    expected = {}
    for (cx, cy), pts in cells.items():
        for sid in pts:
            if (cx, cy) in dense:
                expected[sid] = ("core", comp[(cx, cy)])
            else:
                nbrs = [
                    comp[(cx + dx, cy + dy)]
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                    if (cx + dx, cy + dy) in dense
                ]
                expected[sid] = (
                    ("border", min(nbrs)) if nbrs else ("noise", -1)
                )
    return expected


def _write_fleet(spark, d: str, sids) -> None:
    """An events lake at ``d`` with one event per sensor id."""
    from pyspark.sql import functions as F

    rows = [
        (i, "2024-01-01 00:00:00", sid, "click", 1.0, "{}")
        for i, sid in enumerate(sids)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")


def test_dbscan_grid_matches_bfs_reference(spark, sf_dir):
    """Pure-python BFS over the same dense-cell adjacency — validates
    the component kernel (component = min reachable label), border
    assignment, and noise classification."""
    import duckdb

    from smart_city_data_pipeline_spark.operators.traffic import dbscan_grid

    con = duckdb.connect()
    sensors = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT user_id FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    expected = _dbscan_bfs_reference(sensors)

    got = {
        r["sensor_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_grid(spark, sf_dir).collect()
    }
    assert got == expected
    roles = {v[0] for v in got.values()}
    # at tiny sf every cell can be a singleton — the planted test
    # below guarantees the core/border branches
    if any(role == "core" for role, _ in expected.values()):
        assert "core" in roles
    assert "noise" in roles


def test_dbscan_grid_serpentine_component(spark, tmp_path):
    """A serpentine chain of dense cells, five rows of the 20x20 grid
    joined at alternate ends, is one component of diameter ~100 cells:
    every chain point is core with the chain's min cell label. Sparse
    points beside it are border, far ones noise."""
    from smart_city_data_pipeline_spark.operators.traffic import (
        DBSCAN_CELL,
        dbscan_grid,
    )

    by_cell = {}
    for sid in range(1, 10000):
        cell = (
            (sid * 8191) % 10000 // DBSCAN_CELL,
            (sid * 524287) % 10000 // DBSCAN_CELL,
        )
        by_cell.setdefault(cell, []).append(sid)
    chain = []
    for row in range(5):
        xs = range(20) if row % 2 == 0 else range(19, -1, -1)
        chain += [(x, 2 * row) for x in xs]
        if row < 4:
            chain.append((19 if row % 2 == 0 else 0, 2 * row + 1))
    sparse = [(10, 1), (5, 12), (15, 18)]
    sids = [s for c in chain for s in by_cell[c][:2]]
    sids += [by_cell[c][0] for c in sparse]
    d = str(tmp_path / "sfd")
    _write_fleet(spark, d, sids)

    got = {
        r["sensor_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_grid(spark, d).collect()
    }
    assert got == _dbscan_bfs_reference(sids)
    assert {got[s] for c in chain for s in by_cell[c][:2]} == {("core", 0)}
    assert [got[by_cell[c][0]][0] for c in sparse] == ["border", "noise", "noise"]


# Spark jobs of one dbscan_grid construct plus noop execute on the test
# lake with the component kernel (10 or 11, as broadcasts land); the
# driver-side propagation loop took 16.
DBSCAN_JOBS_MAX = 11


def test_dbscan_grid_job_count(spark, sf_dir, count_jobs):
    from smart_city_data_pipeline_spark.operators.traffic import dbscan_grid

    jobs = count_jobs(
        lambda: dbscan_grid(spark, sf_dir).write.format("noop").mode("overwrite").save()
    )
    assert 0 < jobs <= DBSCAN_JOBS_MAX, f"{jobs} jobs, recorded {DBSCAN_JOBS_MAX}"


def test_dbscan_grid_reads_kernel_output_once(spark, sf_dir):
    """The executed plan holds one component kernel and two events
    scans (the point projection feeds the cell aggregate and the
    neighbour probe): a query that joins the kernel output more than
    once re-plans the scan, distinct and kernel under every join."""
    from smart_city_data_pipeline_spark.operators.traffic import dbscan_grid

    plan = dbscan_grid(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "events.parquet" in ln]
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert len(scans) == 2, plan


def test_dbscan_grid_planted_clusters(spark, tmp_path):
    """Planted fleet: two adjacent dense cells merge into one
    cluster, a neighbor point is border, a far point is noise."""
    from smart_city_data_pipeline_spark.operators.traffic import (
        DBSCAN_CELL,
        dbscan_grid,
    )

    def cell(sid):
        return (
            (sid * 8191) % 10000 // DBSCAN_CELL,
            (sid * 524287) % 10000 // DBSCAN_CELL,
        )

    by_cell = {}
    for sid in range(1, 40000):
        by_cell.setdefault(cell(sid), []).append(sid)
    # two adjacent cells with >=2 points each, plus a sparse neighbor
    # and a far singleton
    a = next(
        c
        for c in by_cell
        if len(by_cell[c]) >= 2
        and len(by_cell.get((c[0] + 1, c[1]), [])) >= 2
        and len(by_cell.get((c[0] - 1, c[1]), [])) >= 1
    )
    b = (a[0] + 1, a[1])
    border_cell = (a[0] - 1, a[1])
    far = next(
        c
        for c in by_cell
        if abs(c[0] - a[0]) > 3 and abs(c[1] - a[1]) > 3
    )
    sids = (
        by_cell[a][:2]
        + by_cell[b][:2]
        + by_cell[border_cell][:1]
        + by_cell[far][:1]
    )
    d = str(tmp_path / "sfd")
    _write_fleet(spark, d, sids)

    got = {
        r["sensor_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_grid(spark, d).collect()
    }
    expected_cluster = min(a[0] * 1024 + a[1], b[0] * 1024 + b[1])
    for sid in by_cell[a][:2] + by_cell[b][:2]:
        assert got[sid] == ("core", expected_cluster)
    assert got[by_cell[border_cell][0]] == ("border", expected_cluster)
    assert got[by_cell[far][0]] == ("noise", -1)


def test_holt_winters_matches_python_recurrence(spark, sf_dir):
    """The Spark struct-fold must equal the exact HW recurrence run in
    python (same dyadic gains, same IEEE ops) — bit-level agreement
    surfaced through the pround guard."""
    import duckdb

    from smart_city_data_pipeline_spark.operators.timeseries import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_M,
        STL_Q,
        holt_winters_forecast,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH hourly AS (
          SELECT event_type AS zone,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) hour_ts,
                 CAST(EXTRACT(hour FROM date_trunc('hour', ts)) AS BIGINT)
                     hod,
                 CAST(FLOOR((CAST(SUM(CAST(value AS DECIMAL(18,2)))
                      AS DOUBLE) / COUNT(*)) * {STL_Q} + 0.5) AS DOUBLE) y
          FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2, 3)
        SELECT zone, hod, y FROM hourly ORDER BY zone, hour_ts
        """
    ).fetchall()
    series = {}
    for zone, hod, y in rows:
        series.setdefault(zone, []).append((int(hod), float(y)))

    def pr(x):
        import math

        return math.floor(x * 10000.0 + 0.5) / 10000.0

    expected = {}
    for zone, pts in series.items():
        l, b, s = pts[0][1], 0.0, [0.0] * HW_M
        for hod, y in pts[1:]:
            sidx = s[hod]
            lp = HW_ALPHA * (y - sidx) + (1 - HW_ALPHA) * (l + b)
            bp = HW_BETA * (lp - l) + (1 - HW_BETA) * b
            s[hod] = HW_GAMMA * (y - lp) + (1 - HW_GAMMA) * sidx
            l, b = lp, bp
        last_hod = pts[-1][0]
        for h in range(1, HW_M + 1):
            f = l + h * b + s[(last_hod + h) % HW_M]
            expected[(zone, h)] = (
                pr(l / STL_Q),
                pr(b / STL_Q),
                pr(f / STL_Q),
            )

    got = {
        (r["zone"], r["horizon_h"]): (
            r["level"],
            r["trend"],
            r["forecast"],
        )
        for r in holt_winters_forecast(spark, sf_dir).collect()
    }
    assert got == expected
