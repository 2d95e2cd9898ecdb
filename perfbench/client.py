"""The benchmark's single client: times each call and records its outcome."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from etl_mini_dw_spark.registry import ORACLE_SQL, QUERIES

import checks
from spans import Span, Tracer


def is_streaming(name: str) -> bool:
    return "streaming" in name


def phase_ms(qe, phase: str) -> float:
    """Duration of one Catalyst phase from a planned QueryExecution."""
    opt = qe.tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


@dataclass
class Run:
    spark: object
    sf_dir: str
    work: str
    tracer: Tracer
    seconds: float
    ops: list[dict] = field(default_factory=list)
    checks: list[dict] = field(default_factory=list)
    passes: list[Span] = field(default_factory=list)
    stats: dict = field(default_factory=dict)
    injected: dict = field(default_factory=dict)
    # each query's DataFrame from the last pass, checked after the passes
    frames: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.traced

    def op(self, name: str, layer: str, fn, tag: str, ok=None):
        """Time one call into the program; an exception or a result that
        ``ok`` rejects counts as a failed operation."""
        err = None
        t = time.perf_counter()
        with self.tracer.span(name, layer, window=True) as sp:
            try:
                res = fn()
            except Exception as e:  # noqa: BLE001 - a failed load is counted, not fatal
                res, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        seconds = time.perf_counter() - t
        if err is None and ok is not None and not ok(res):
            err = f"rejected result {res!r}"
        self.ops.append(
            {
                "name": name,
                "tag": tag,
                "pass": len(self.passes),
                "span": None if sp is None else sp.id,
                "seconds": seconds,
                "ok": err is None,
                "error": err,
                "result": res,
            }
        )
        return res

    def query(self, name: str, kind: str) -> None:
        """Build one registry query and force it with a ``noop`` write.

        The traced run also forces planning before the write, to read the
        Catalyst phase times; its latency leaves that step out.
        """
        tr = self.tracer
        layer = "streaming" if is_streaming(name) else "registry"
        err, planning = None, 0.0
        t = time.perf_counter()
        with tr.span(name, "query"):
            try:
                with tr.span("construct", layer, window=True):
                    df = QUERIES[name](self.spark, self.sf_dir)
                if self.traced:
                    with tr.span("plan", "catalyst", window=True) as sp:
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    sp.attrs.update({f"{p}_ms": phase_ms(qe, p) for p in ("analysis", "optimization", "planning")})
                    planning = sp.seconds
                with tr.span("execute", "exec", window=True):
                    df.write.format("noop").mode("overwrite").save()
                self.frames[name] = df
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                err = f"{type(e).__name__}: {str(e)[:300]}"
                self.frames.pop(name, None)
        self.ops.append(
            {
                "name": name,
                "tag": f"{kind}.query",
                "pass": len(self.passes),
                "seconds": time.perf_counter() - t - planning,
                "ok": err is None,
                "error": err,
            }
        )

    def check(self, name: str, mismatch) -> None:
        """Record one output check: ``mismatch()`` returns None when the
        output agrees with its oracle; a check that raises fails too."""
        t = time.perf_counter()
        try:
            err = mismatch()
        except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
            err = f"{type(e).__name__}: {str(e)[:300]}"
        self.checks.append({"name": f"oracle:{name}", "seconds": time.perf_counter() - t, "ok": err is None, "error": err})

    def traced_call(self, fn, *args):
        """Run benchmark-side bookkeeping in the traced run only."""
        if not self.traced:
            return None
        with self.tracer.span(fn.__name__, "trace"):
            return fn(*args)

    def record_retained(self) -> None:
        """Heap still held once the first measured passes are done."""
        if "retained_mb" not in self.stats:
            self.stats["retained_mb"] = self.tracer.counters.retained_heap_mb()

    def steady_ops(self) -> list[dict]:
        """Operations of the passes after the first, or of every pass when
        the workload made only one."""
        later = [o for o in self.ops if o["pass"] > 0]
        return later or self.ops

    def inject_failure(self) -> None:
        """Self-test: an output with one row removed must fail its check."""
        con = checks.duck_connection(self.sf_dir)
        try:
            if "etl_store" in self.stats:
                name, stored, oracle = checks.warehouse_expectations(self.stats["etl_store"])[-1]
                err = checks.stored_mismatch(con, checks.without_one_row(stored), oracle)
            else:
                name = self.stats["inject_query"]
                df = self.frames[name]
                err = checks.query_mismatch(df.exceptAll(df.limit(1)), con, ORACLE_SQL[name], name)
            self.injected = {"check": name, "detected": err is not None, "error": err}
        finally:
            con.close()
