"""End-to-end and per-layer metrics from one run's operations and spans.

Per-layer metrics of a layer that a workload does not call read 0 on
that workload: ``etl_load`` builds no registry query, ``query_mix``
makes no ``Warehouse`` call. The ETL layer metrics describe the first
cycle; the query layer metrics describe the cold pass and the median of
the warm passes.
"""

from __future__ import annotations

import statistics

from spark_counters import StatusSnapshot, attribute

ETL_PHASES = ("initial", "incremental", "noop")
ETL_COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
EXEC_COUNTERS = (*ETL_COUNTERS, "single_task_stages")
CATALYST_PHASES = ("analysis", "optimization", "planning")
SELF_LAYERS = ("bench", "query", "etl", "plans", "registry", "streaming", "catalyst", "exec", "trace")
UNITS = (("_per_s", "rows/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%"), ("_ratio", "ratio"))


def unit_of(name: str) -> str:
    return next((unit for suffix, unit in UNITS if name.endswith(suffix)), "count")


def percentile_with_tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``min_beyond`` samples above it, or None when that percentile would
    not lie above the median."""
    n = len(values)
    k = n - min_beyond  # samples at or below the reported one
    if 2 * k <= n:
        return None
    return 100.0 * k / n, sorted(values)[k - 1]


def _out(values: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in values.items()}


def measured_passes(run) -> list:
    """The fixed work the end-to-end times cover: the first pass, plus the
    first warm pass when the workload makes warm passes. More passes fit
    into ``--seconds`` as the program gets faster; they are left out so
    that a faster program cannot read slower."""
    return run.passes[:1] + [p for p in run.passes if p.name.endswith(".warm")][:1]


def end_to_end(run, snap: StatusSnapshot, setup_s: float) -> dict[str, dict]:
    passes = measured_passes(run)
    return _out(
        {
            "setup_s": setup_s,
            "run_s": sum(p.seconds for p in passes),
            "executor_cpu_s": sum(attribute(snap, p.window)["cpu_s"] for p in passes),
            "retained_mb": run.stats["retained_mb"],
        }
    )


def _sum_windows(snap: StatusSnapshot, spans) -> dict[str, float]:
    total: dict[str, float] = {}
    for sp in spans:
        for k, v in attribute(snap, sp.window).items():
            total[k] = total.get(k, 0.0) + v
    return total


def _etl(run, snap: StatusSnapshot) -> dict[str, float]:
    m: dict[str, float] = {}
    spans = run.tracer.spans
    ops = [o for o in run.ops if o["pass"] == 0]
    by_tag: dict[str, list[dict]] = {}
    for o in ops:
        by_tag.setdefault(o["tag"], []).append(o)

    def seconds(tag: str) -> float:
        return sum(o["seconds"] for o in by_tag.get(tag, ()))

    def op_spans(tag: str):
        return [spans[o["span"]] for o in by_tag.get(tag, ()) if o["span"] is not None]

    m["etl.init_s"] = seconds("init")
    phases = run.stats.get("etl_phases", {})
    fact_rows = fact_s = 0.0
    for p in ETL_PHASES:
        m[f"etl.load_dim.{p}_s"] = seconds(f"{p}.load_dim")
        m[f"etl.load_fact.{p}_s"] = seconds(f"{p}.load_fact")
        counters = _sum_windows(snap, op_spans(f"{p}.load_dim") + op_spans(f"{p}.load_fact"))
        for c in ETL_COUNTERS:
            m[f"etl.{p}.{c}"] = counters.get(c, 0.0)
        ph = phases.get(p, {})
        m[f"etl.{p}.written_mb"] = ph.get("written_mb", 0.0)
        written = ph.get("written_rows", 0)
        # nothing written means nothing wasted
        m[f"etl.{p}.useful_row_ratio"] = ph.get("changed_rows", 0) / written if written else float(bool(ph))
        if p != "noop":
            for o in by_tag.get(f"{p}.load_fact", ()):
                fact_rows += sum((o["result"] or {}).get(t, 0) for t in ("inserted", "updated"))
                fact_s += o["seconds"]
    m["etl.fact_rows_per_s"] = fact_rows / fact_s if fact_s else 0.0
    m["etl.store_mb"] = run.stats.get("store_mb", 0.0)
    m["plans.validation_s"] = seconds("validation")
    m["plans.validation.jobs"] = _sum_windows(snap, op_spans("validation")).get("jobs", 0.0)
    return m


def _queries(run, snap: StatusSnapshot) -> dict[str, float]:
    """Per-pass sums over the query spans; warm values are the median of
    the warm passes."""
    pass_of = {}
    for i, p in enumerate(run.passes):
        pass_of[p.id] = i
    spans = run.tracer.spans

    def pass_index(sp) -> int | None:
        while sp.parent is not None:
            sp = spans[sp.parent]
        return pass_of.get(sp.id)

    per_pass: dict[int, dict[str, float]] = {i: {} for i in range(len(run.passes))}
    for sp in spans:
        i = pass_index(sp)
        if i is None or sp.window is None or sp.layer not in ("registry", "streaming", "catalyst", "exec"):
            continue
        acc = per_pass[i]
        c = attribute(snap, sp.window)

        def add(key: str, v: float) -> None:
            acc[key] = acc.get(key, 0.0) + v

        if sp.layer in ("registry", "streaming"):
            add(f"{sp.layer}.construct_s", sp.seconds)
            add(f"{sp.layer}.{'construct_jobs' if sp.layer == 'registry' else 'jobs'}", c["jobs"])
        elif sp.layer == "catalyst":
            for ph in CATALYST_PHASES:
                add(f"catalyst.{ph}_ms", sp.attrs.get(f"{ph}_ms", 0.0))
        else:
            add("exec.execute_s", sp.seconds)
            for k in EXEC_COUNTERS:
                add(f"exec.{k}", c[k])
    names = (
        ["registry.construct_s", "registry.construct_jobs"]
        + [f"catalyst.{ph}_ms" for ph in CATALYST_PHASES]
        + ["exec.execute_s"]
        + [f"exec.{k}" for k in EXEC_COUNTERS]
        + ["streaming.construct_s", "streaming.jobs"]
    )
    m: dict[str, float] = {}
    warm = [per_pass[i] for i in per_pass if i > 0]
    for name in names:
        layer, rest = name.split(".", 1)
        m[f"{layer}.cold.{rest}"] = per_pass.get(0, {}).get(name, 0.0) if per_pass else 0.0
        m[f"{layer}.warm.{rest}"] = statistics.median(p.get(name, 0.0) for p in warm) if warm else 0.0
    warm_passes = [p.seconds for p in run.passes if p.name.endswith(".warm")]
    m["query.cold_pass_s"] = sum(p.seconds for p in run.passes if p.name.endswith(".cold"))
    m["query.warm_pass_s"] = statistics.median(warm_passes) if warm_passes else 0.0
    lat = [o["seconds"] for o in run.ops if o["tag"] == "warm.query"]
    m["query.p50_ms"] = 1000 * statistics.median(lat) if lat else 0.0
    return m


def per_layer(run, snap: StatusSnapshot, setup: dict[str, float]) -> dict[str, dict]:
    m = dict(setup)
    m.update(_etl(run, snap))
    m.update(_queries(run, snap))
    own = run.tracer.self_seconds()
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = sum(own[sp.id] for sp in run.tracer.spans if sp.layer == layer)
    m["trace.overhead_s"] = sum(sp.seconds for sp in run.tracer.spans if sp.layer in ("trace", "catalyst"))
    m["selftest.windows"] = len(run.tracer.leaf_windows())
    m["selftest.injected_detected"] = float(bool(run.injected.get("detected")))
    return _out(m)
