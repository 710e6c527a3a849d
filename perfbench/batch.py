"""Closed-loop batch workload ``driver_loops``.

One client runs the workload's registry keys in a seeded order, pass
after pass, each written to the ``noop`` sink so every output column is
computed. Every pass reads the generated tables through a new directory
of symlinks, so memos keyed on the input path miss as they would on new
data. Nothing is uncached between calls: storage a key leaves behind
shows in the traced ``operators.persisted_rdd_delta``.

Setup ends with warm-up passes: the first also checks every key against
its DuckDB oracle (collecting a key executes it), the rest are plain
passes. The window then runs whole passes while the next one is
expected to end inside ``--seconds``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

import gen
import oracle
import spans

LOOP_KEYS = ("kcore_decompose",)

# Rows of the embedding table the loop keys build their graph from (one
# planted graph per label, see gen.py).
LOOP_SIZES = {"embeddings": gen.EMB_LABELS * gen.GRAPH_NODES}
# Plain passes after the oracle pass: the first passes run slower while
# the JVM compiles the driver's code paths. At ``local[2]`` a pass falls
# from 3.5-3.9 s to about 2.6 s over the first four; on a busy host the
# compiler lags and the fall takes longer, so two more passes keep the
# window off that slope.
EXTRA_WARM_PASSES = 6


def fresh_view(run, data_dir: str, tag: str) -> str:
    view = os.path.join(run.work, "views", tag)
    os.makedirs(view)
    for name in os.listdir(data_dir):
        os.symlink(os.path.join(data_dir, name), os.path.join(view, name))
    return view


def _run_key(run, fn, key: str, view: str) -> None:
    """Construct, plan and execute one key, one span per layer step."""
    tr = run.tracer
    with tr.span(f"operators.construct.{key}"):
        df = fn(run.spark, view)
    with tr.span(f"operators.plan.{key}"):
        df._jdf.queryExecution().executedPlan()
    with tr.span(f"operators.execute.{key}"):
        df.write.format("noop").mode("overwrite").save()


def _pass(run, fns, order, view, latencies, per_key) -> float:
    """One pass over ``order``; appends each successful key's wall."""
    with run.tracer.span("bench.pass"):
        t_pass = time.perf_counter()
        for key in order:
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                _run_key(run, fns[key], key, view)
            except Exception:
                traceback.print_exc()
                run.failed += 1
                continue
            dt = time.perf_counter() - t0
            latencies.append(dt)
            per_key.setdefault(key, []).append(dt)
        return time.perf_counter() - t_pass


def run_batch(run, keys: tuple[str, ...], sizes: dict[str, int]) -> None:
    import __spark_entry__ as entry

    fns, sqls = entry.queries(), entry.oracle_sql()
    order = list(keys)
    random.Random(run.seed).shuffle(order)
    with run.tracer.span("bench.gen"):
        data = os.path.join(run.work, "data")
        gen.write_tables(data, run.seed, sizes)
    run.start_session()

    # Warm-up pass = oracle pass, on its own input view.
    view = fresh_view(run, data, "warm")
    con = oracle.duck_views(view)
    with run.tracer.span("bench.check"):
        for key in order:
            try:
                verdict = oracle.check_key(con, key, sqls[key], fns[key](run.spark, view))
            except Exception as ex:  # a failing key is a result, not a crash
                traceback.print_exc()
                verdict = f"ERROR {type(ex).__name__}: {ex}"
            run.record_check(key, verdict)
    con.close()

    for i in range(EXTRA_WARM_PASSES):
        _pass(run, fns, order, fresh_view(run, data, f"w{i}"), [], {})

    run.begin_window()
    latencies: list[float] = []
    passes: list[float] = []
    per_key: dict[str, list[float]] = {k: [] for k in order}
    while not passes or run.window_elapsed() + passes[-1] <= run.seconds:
        view = fresh_view(run, data, f"p{len(passes)}")
        passes.append(_pass(run, fns, order, view, latencies, per_key))
    run.end_window()

    pass_s = statistics.median(passes)
    run.metric("pass_s", pass_s, "s", len(passes))
    run.lines.append("samples pass_s " + " ".join(f"{p:.3f}" for p in passes))
    ok = max(1, len(latencies))  # every key failing is counted in ``failed``
    if latencies:
        run.latency("query", latencies)
    for key in order:
        if per_key[key]:
            run.metric(f"key_s.{key}", statistics.median(per_key[key]), "s", len(per_key[key]))
    run.e2e["latency_p50_s"] = (
        "query_p50_s",
        statistics.median(latencies) if latencies else float("nan"),
        "s",
        len(latencies),
    )
    # Successful queries per pass over the median pass: a pass slowed by
    # a host hiccup moves a median less than the window's total.
    run.e2e["throughput_per_s"] = ("queries_per_s", len(latencies) / len(passes) / pass_s, "1/s", len(passes))
    run.e2e["cpu_per_op_s"] = ("cpu_per_query_s", run.window_cpu / ok, "s", len(latencies))
    if run.tracer.enabled:
        _layer_metrics(run, order)


def _layer_metrics(run, order: list[str]) -> None:
    """Per-pass medians of the traced spans of the measured window."""
    window = run.window_spans()
    passes = [s for s in window if s["name"] == "bench.pass"]

    def per_pass(pred, field: str) -> float:
        vals = []
        for p in passes:
            vals.append(
                sum(
                    (s["end"] - s["start"]) if field == "wall" else s[field]
                    for s in window
                    if s["parent"] == p["id"] and pred(s["name"])
                )
            )
        return statistics.median(vals)

    def step(name: str):
        return lambda n: n.startswith(f"operators.{name}.")

    n = len(passes)
    run.layer("catalog.input_rows", statistics.median(p["input_rows"] for p in passes), "count", n)
    run.layer("operators.construct_s", per_pass(step("construct"), "wall"), "s", n)
    run.layer("operators.jobs_construct", per_pass(step("construct"), "jobs"), "count", n)
    run.layer("operators.plan_s", per_pass(step("plan"), "wall"), "s", n)
    run.layer("operators.execute_s", per_pass(step("execute"), "wall"), "s", n)
    run.layer("operators.jobs_total", statistics.median(p["jobs"] for p in passes), "count", n)
    for field in ("shuffle_read_mb", "shuffle_write_mb", "task_s", "gc_s"):
        unit = "MB" if field.endswith("_mb") else "s"
        run.layer(f"operators.{field}", statistics.median(p[field] for p in passes), unit, n)
    run.layer(
        "operators.persisted_rdd_delta",
        statistics.median(p["persisted_rdd_delta"] for p in passes),
        "count",
        n,
    )
    for layer, values in _self_times(window, passes).items():
        run.layer(f"{layer}.self_s", statistics.median(values), "s", n)
    for key in LOOP_KEYS:
        if key in order:
            name = f"operators.construct.{key}"
            run.layer(f"operators.construct_s.{key}", per_pass(lambda x: x == name, "wall"), "s", n)
            run.layer(f"operators.jobs_construct.{key}", per_pass(lambda x: x == name, "jobs"), "count", n)


def _self_times(window: list[dict], passes: list[dict]) -> dict[str, list[float]]:
    """Per layer, its self time in each pass: the pass span is the
    benchmark's own, its children are the operator steps."""
    out: dict[str, list[float]] = {}
    for p in passes:
        tree = [p] + [s for s in window if s["parent"] == p["id"]]
        for layer, t in spans.self_times(tree).items():
            out.setdefault(layer, []).append(t)
    return out
