"""Spark cost counters attributed to benchmark calls, read from outside.

Every call the benchmark times is given a window of Spark stage ids and
job ids: the DAG scheduler's next-id counters are read just before and
just after the call. Ids are handed out in order and the benchmark is a
single client, so the stages a call caused are exactly the ids inside its
window. That includes the stages of streaming micro-batches, which run on
their own threads under their own job group. Each traced call also runs
under a job group of its own, and the self-test checks that every job of
that group lies inside the call's window.

The status store is read once, when the run ends, as JSON: one round trip
for all stages and one for all jobs. The session is started with
retention limits far above what a run creates, and ``self_test`` proves
that nothing was evicted, that the windows of the calls and the gaps
between them add up to the run totals, and that no per-call value is
negative. A whole-run delta taken from a store that evicts old stages
reads negative; this design cannot.
"""

from __future__ import annotations

import gc
import json
import time
from dataclasses import dataclass, field

# Far above the stage and job counts of one run; the session is started
# with these so the store keeps every stage until the run is read.
RETAINED = 1_000_000

CLEANER_PAUSE_S = 1.0

STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}
COUNTER_NAMES = ("jobs", "stages", "tasks", "single_task_stages", *STAGE_FIELDS)


@dataclass
class Window:
    """Half-open id ranges ``[s0, s1)`` of stages and ``[j0, j1)`` of jobs."""

    s0: int
    j0: int
    s1: int = -1
    j1: int = -1
    group: str | None = None


@dataclass
class StatusSnapshot:
    stages: dict[int, list[dict]] = field(default_factory=dict)
    jobs: dict[int, dict] = field(default_factory=dict)
    next_stage: int = 0
    next_job: int = 0


class SparkCounters:
    """Opens windows around calls and attributes status-store counters."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._seq = 0

    def ids(self) -> tuple[int, int]:
        return int(self._dag.nextStageId()), int(self._dag.nextJobId())

    def open(self, name: str, grouped: bool) -> Window:
        s0, j0 = self.ids()
        w = Window(s0=s0, j0=j0)
        if grouped:
            self._seq += 1
            w.group = f"perfbench-{self._seq}-{name}"[:200]
            self.sc.setJobGroup(w.group, name, interruptOnCancel=False)
        return w

    def close(self, w: Window) -> Window:
        if w.group is not None:
            self.sc._jsc.clearJobGroup()
        w.s1, w.j1 = self.ids()
        return w

    def retained_heap_mb(self) -> float:
        """Heap the Spark JVM, which also runs the local executors, still
        holds once garbage is gone: memos, cached blocks, plans.

        Python is collected first, so that py4j releases the JVM objects
        it no longer references; Spark's context cleaner then drops the
        blocks of collected RDDs on its own thread, hence the pause
        between the two full JVM collections."""
        gc.collect()
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        time.sleep(CLEANER_PAUSE_S)
        jvm.java.lang.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def snapshot(self) -> StatusSnapshot:
        """All retained stages and jobs, after the listener bus drained."""
        self._jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(scala_module.__getattr__("MODULE$"))
        store = self._jsc.statusStore()
        empty = jvm.java.util.ArrayList()
        stage_list = store.stageList(empty, False, False, self.sc._gateway.new_array(jvm.double, 0), empty)
        snap = StatusSnapshot()
        for st in json.loads(mapper.writeValueAsString(stage_list)):
            snap.stages.setdefault(st["stageId"], []).append(st)
        for job in json.loads(mapper.writeValueAsString(store.jobsList(empty))):
            snap.jobs[job["jobId"]] = job
        snap.next_stage, snap.next_job = self.ids()
        return snap


def attribute(snap: StatusSnapshot, w: Window) -> dict[str, float]:
    """Counters of every stage attempt and job inside the window."""
    out = dict.fromkeys(COUNTER_NAMES, 0.0)
    for sid in range(w.s0, w.s1):
        attempts = snap.stages.get(sid, ())
        ran = [a for a in attempts if a["status"] != "SKIPPED"]
        if not ran:
            continue
        out["stages"] += 1
        tasks = sum(a["numCompleteTasks"] + a["numFailedTasks"] + a["numKilledTasks"] for a in ran)
        out["tasks"] += tasks
        if max(a["numTasks"] for a in ran) == 1:
            out["single_task_stages"] += 1
        for key, (src, scale) in STAGE_FIELDS.items():
            out[key] += sum(a[src] for a in ran) * scale
    out["jobs"] = float(sum(jid in snap.jobs for jid in range(w.j0, w.j1)))
    return out


def self_test(snap: StatusSnapshot, windows: list[Window]) -> list[str]:
    """Problems found; empty when the attribution is sound.

    ``windows`` are the calls in the order they ran. The gaps between
    them (benchmark work such as output checks) get windows of their own,
    so together they tile ``[0, next id)``; their sums must then equal
    the totals over every stage and job in the store.
    """
    problems = []
    if len(snap.stages) >= RETAINED or len(snap.jobs) >= RETAINED:
        problems.append("status store reached its retention limit")
    missing_jobs = [j for j in range(snap.next_job) if j not in snap.jobs]
    if missing_jobs:
        problems.append(f"{len(missing_jobs)} job ids absent from the status store")
    tiles, cursor = [], Window(s0=0, j0=0)
    for w in windows:
        if w.s0 < cursor.s0 or w.j0 < cursor.j0 or w.s1 < w.s0 or w.j1 < w.j0:
            problems.append(f"window {w.group or ''} overlaps or is reversed")
            continue
        tiles += [Window(cursor.s0, cursor.j0, w.s0, w.j0), w]
        cursor = Window(s0=w.s1, j0=w.j1)
    tiles.append(Window(cursor.s0, cursor.j0, snap.next_stage, snap.next_job))
    parts = [attribute(snap, t) for t in tiles]
    for part in parts:
        neg = [k for k, v in part.items() if v < 0]
        if neg:
            problems.append(f"negative delta in {neg}")
    total = attribute(snap, Window(0, 0, snap.next_stage, snap.next_job))
    for key in COUNTER_NAMES:
        summed = sum(p[key] for p in parts)
        if abs(summed - total[key]) > 1e-6 * max(1.0, abs(total[key])):
            problems.append(f"{key}: calls sum to {summed}, run total is {total[key]}")
    for w in windows:
        if w.group is None:
            continue
        for jid, job in snap.jobs.items():
            if job.get("jobGroup") == w.group and not w.j0 <= jid < w.j1:
                problems.append(f"job {jid} of group {w.group} ran outside its window")
    return problems
