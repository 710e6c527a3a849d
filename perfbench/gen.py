"""Seeded input generation.

Every table the benchmark hands to the package is made here from the
``--seed`` argument, with the schema of the lake the package's
``catalog.table`` reads (``events`` and ``embeddings`` as
``<dir>/<name>.parquet``) and the value distributions of its reference
lake, except for the planted embedding graph below. The same seed and
sizes give the same inputs; different seeds give new values with the
same sizes and distributions, so run times compare across seeds.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZONES = ("click", "view", "purchase", "signup", "error")
SENSORS = 1500
HISTORY_START = datetime(2024, 1, 1)
HISTORY_DAYS = 30
EMB_DIM = 64
EMB_LABELS = 10

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def event_batch(rng: np.random.Generator, first_id: int, ts_us: np.ndarray) -> pa.Table:
    """Events with the given (µs since epoch) timestamps: sensors over
    ``SENSORS`` ids, zones uniform over ``ZONES``, readings exponential
    with mean 50 rounded to cents."""
    n = len(ts_us)
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts_us.astype("datetime64[us]")),
            "user_id": rng.integers(0, SENSORS, n, dtype=np.int64),
            "event_type": np.array(ZONES, dtype=object)[rng.integers(0, len(ZONES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        schema=EVENT_SCHEMA,
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events spread uniformly over ``HISTORY_DAYS`` days, in
    time order (event_id follows ts)."""
    start = np.datetime64(HISTORY_START, "us").astype(np.int64)
    span = HISTORY_DAYS * 86_400_000_000
    return event_batch(rng, 0, np.sort(start + rng.integers(0, span, n)))


# Near-dup graph planted in every embedding label: a 4-clique, a 6-cycle
# with pendant chains of 2 and 1 nodes, and 25 isolated nodes. Node i
# gets its own basis direction and every edge (i, j) a shared one;
# v_i = e_i + 3 * (its edge directions), normalised. With degrees <= 3,
# adjacent nodes have cosine >= 9/28 = 0.32 and all other pairs exactly
# 0, so every seed yields the same graph under the package's 0.3
# near-dup threshold and the peeling and propagation loops run the same
# number of rounds; the seed only rotates the vectors and renumbers them.
_CLIQUE = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
_CYCLE = [(4, 5), (5, 6), (6, 7), (7, 8), (8, 9), (9, 4)]
_CHAINS = [(4, 10), (10, 11), (7, 12)]
GRAPH_EDGES = _CLIQUE + _CYCLE + _CHAINS
GRAPH_NODES = 38


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` must be a multiple of ``GRAPH_NODES``, one planted graph per
    label, at most ``EMB_LABELS`` of them."""
    groups = n // GRAPH_NODES
    if groups * GRAPH_NODES != n or not 1 <= groups <= EMB_LABELS:
        raise ValueError(f"embeddings: n={n} is not 1..{EMB_LABELS} x {GRAPH_NODES}")
    dims = GRAPH_NODES + len(GRAPH_EDGES)
    plan = np.eye(GRAPH_NODES, dims)
    for e, (i, j) in enumerate(GRAPH_EDGES):
        plan[i, GRAPH_NODES + e] = plan[j, GRAPH_NODES + e] = 3.0
    plan /= np.linalg.norm(plan, axis=1, keepdims=True)
    vecs, labels = [], []
    for g in range(groups):
        basis, _ = np.linalg.qr(rng.standard_normal((EMB_DIM, dims)))
        vecs.append(plan @ basis.T)
        labels.append(np.full(GRAPH_NODES, g, dtype=np.int32))
    order = rng.permutation(n)
    x = np.concatenate(vecs)[order].astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": np.concatenate(labels)[order],
        }
    )


MAKERS = {"events": events, "embeddings": embeddings}


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, str]:
    """Write one parquet file per table (one row group, like the
    package's reference lake) and return ``{name: path}``. Each table
    draws from its own stream of the seed, so sizes of one table do not
    change the values of another."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(MAKERS[name](rng, n), path, row_group_size=max(1, n))
        paths[name] = path
    return paths


def stream_clock_origin() -> datetime:
    """Virtual time of the first stream event: right after the
    history, so stream minutes never collide with seeded ones."""
    return HISTORY_START + timedelta(days=HISTORY_DAYS)
