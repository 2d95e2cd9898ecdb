"""Warehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of this repository. It generates the
input tables from the seed, starts a fresh Spark session at
``local[<cores>]``, runs the workload as a closed loop with one client,
checks the outputs against the DuckDB oracles and prints, as its last
line, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` a
span is recorded at every layer boundary and the metrics are the
per-layer ones. The line before it is a summary (error rate, row counts,
tail percentile) and names the file under ``.perfbench_out/`` that holds
every operation, check and span of the run.

Everything the run writes stays inside the checkout: scratch files go to
``.perfbench_work/`` and are removed at the end. See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import uuid
from pathlib import Path

from metrics import end_to_end, measured_passes, per_layer, percentile_with_tail
from spark_counters import RETAINED, SparkCounters, self_test
from spans import Tracer

ROOT = Path(__file__).resolve().parents[1]
SF = 0.01
SETUP_ROUNDS = 3
REQUIRED = ("etl_mini_dw_spark/__init__.py", "scripts/gen_scale_data.py", "tests/oracle_harness.py")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=["etl_load", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def hermetic_env(work: Path, cores: int) -> None:
    """Point every scratch location of Spark, the JVM and Python at ``work``.

    Python workers started by Spark inherit PYTHONPATH, so they can import
    the program wherever the checkout is.
    """
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "stream"):
        d.mkdir(parents=True, exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=java_opts,
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_STREAM_TMP=str(work / "stream"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY="3g",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.ui.retainedStages={RETAINED}",
                f"--conf spark.ui.retainedJobs={RETAINED}",
                f"--conf spark.sql.warehouse.dir={shlex.quote(str(work / 'spark-warehouse'))}",
                f"--conf spark.local.dir={shlex.quote(str(work / 'local'))}",
                f"--driver-java-options {shlex.quote(java_opts)}",
                "pyspark-shell",
            ]
        ),
    )
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts"), str(ROOT / "tests")]
    os.chdir(work)


class MemorySampler(threading.Thread):
    """Peak summed PSS of this process and all its descendants (the JVM
    and Spark's Python workers), sampled from /proc every 100 ms.

    PSS divides each shared page among the processes that map it, so the
    forked Python workers, which share most of their pages, are not
    counted once per worker as a sum of RSS would count them. The peak is
    taken over the median of three consecutive samples: a process caught
    between fork and exec shows its parent's whole footprint for a few
    milliseconds, and a single such sample read up to twice the JVM."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._recent: list[int] = []
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree() -> dict[int, int]:
        parent = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        pids, frontier = {os.getpid()}, [os.getpid()]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                pids.add(c)
                frontier.append(c)
        return pids

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        pids = self._tree()
        self.pids |= pids
        self._recent = [*self._recent[-2:], sum(self._pss_kb(p) for p in pids)]
        self.peak_kb = max(self.peak_kb, statistics.median(self._recent))

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the warehouse (missing {missing})", file=sys.stderr)
        return 2
    if not __debug__:
        print("perfbench: the oracle comparisons use assert; run without -O", file=sys.stderr)
        return 2
    run_id = uuid.uuid4().hex[:12]
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{run_id}"
    cores = len(os.sched_getaffinity(0))
    hermetic_env(work, cores)
    mem = MemorySampler()
    mem.start()
    result = None
    try:
        result = measure(args, work, cores, run_id)
    finally:
        t = time.perf_counter()
        stop_spark(mem)
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: teardown {time.perf_counter() - t:.1f} s", file=sys.stderr)
    if result is None:
        return 3
    result, detail = result
    detail["summary"]["peak_pss_mb"] = mem.peak_kb / 1024
    out_file = ROOT / detail["summary"]["details"]
    out_file.parent.mkdir(exist_ok=True)
    out_file.write_text(json.dumps(detail, default=str, indent=1))
    print(json.dumps(detail["summary"]))
    print(json.dumps(result))
    return 0


def stop_spark(mem: MemorySampler) -> None:
    """Stop the session, then the JVM, and wait for every process this run
    started to end (Spark's Python workers are children of the JVM)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    mem.sample()
    started = mem.pids - {os.getpid()}
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to kill on any wait failure
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(args, work: Path, cores: int, run_id: str):
    """Set up, run the workload, check outputs, derive the metrics.

    Returns the result line and the run's detail record, or None when the
    counter self-test fails. The caller stops Spark.
    """
    t0 = time.perf_counter()
    import gen_scale_data
    import pyarrow.parquet as pq
    import workloads
    from client import Run
    from etl_mini_dw_spark.session import get_spark
    from etl_mini_dw_spark.sources.tables import TABLES

    spark = get_spark("perfbench", cpus=cores)
    session_s = time.perf_counter() - t0

    # Generating the data is the set-up step that can repeat cheaply; it is
    # done SETUP_ROUNDS times into fresh directories and its median kept.
    rounds = []
    for i in range(SETUP_ROUNDS):
        out = str(work / f"data-{i}")
        t1 = time.perf_counter()
        gen_scale_data.gen(sf=SF, out=out, seed=args.seed)
        rounds.append((time.perf_counter() - t1, out))
    sf_dir = rounds[-1][1]
    counts = {t: pq.read_metadata(f"{sf_dir}/{t}.parquet").num_rows for t in TABLES}
    for _, out in rounds[:-1]:
        if any(pq.read_metadata(f"{out}/{t}.parquet").num_rows != n for t, n in counts.items()):
            raise RuntimeError("data generation is not deterministic for one seed")
    setup = {
        "session.start_s": session_s,
        "setup.datagen_s": statistics.median(r[0] for r in rounds),
    }
    setup_s = sum(setup.values())

    counters = SparkCounters(spark)
    tracer = Tracer(run_id, counters, traced=bool(args.trace))
    run = Run(spark, sf_dir, str(work), tracer, args.seconds)
    t_work = time.perf_counter()
    workloads.WORKLOADS[args.workload](run)
    if args.trace:
        run.inject_failure()
    t_snap = time.perf_counter()
    snap = counters.snapshot()
    print(
        f"perfbench: setup {t_work - t0:.1f} s, passes and checks {t_snap - t_work:.1f} s,"
        f" status store read {time.perf_counter() - t_snap:.1f} s",
        file=sys.stderr,
    )
    problems = self_test(snap, tracer.leaf_windows())
    if args.trace and not run.injected.get("detected"):
        problems.append(f"an injected wrong result was not counted as a failure: {run.injected}")
    if problems:
        print("perfbench: counter self-test failed:\n  " + "\n  ".join(problems), file=sys.stderr)
        return None

    metrics = per_layer(run, snap, setup) if args.trace else end_to_end(run, snap, setup_s)
    failed = sum(not o["ok"] for o in run.ops) + sum(not c["ok"] for c in run.checks)
    attempted = len(run.ops) + len(run.checks)
    steady = [o["seconds"] for o in run.steady_ops()]
    tail = percentile_with_tail(steady)
    # the end-to-end metrics hold no per-operation latency: one run has
    # too few operations for a steady median, so it is reported here
    out_file = f".perfbench_out/{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json"
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "sf": SF,
        "error_rate": failed / attempted,
        "row_counts": counts,
        "passes": len(run.passes),
        "op_latency": {
            "samples": len(steady),
            "p50_s": statistics.median(steady),
            "tail": None if tail is None else {"percentile": tail[0], "seconds": tail[1]},
        },
        "failures": [o["name"] for o in run.ops + run.checks if not o["ok"]],
        "details": out_file,
    }
    detail = {
        "summary": summary,
        "trace": args.trace,
        "setup": setup,
        "setup_s": setup_s,
        "run_s": sum(p.seconds for p in measured_passes(run)),
        "metrics": metrics,
        "ops": run.ops,
        "checks": run.checks,
        "selftest": {"windows": len(tracer.leaf_windows()), "problems": problems, "injected": run.injected},
        "spans": tracer.records(),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
