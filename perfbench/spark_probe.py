"""Read-only probes of a live Spark session, used from outside the program.

Everything here reads Spark's own status APIs after an operation has
run: ``statusTracker`` job groups, the app status store's stage data
(populated with ``spark.ui.enabled=false``), a query's Catalyst phase
tracker and a ``StreamingQueryListener``.  Nothing here changes what
the program computes.
"""

from __future__ import annotations

import os
import re

from pyspark.sql.streaming import StreamingQueryListener

_MANIFEST_RE = re.compile(r"v\d{5}\.json$")


def flush_listeners(sc) -> None:
    """Wait until Spark's listener bus has delivered every queued event,
    so the status store and the stream listener are complete."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


class StreamProgress(StreamingQueryListener):
    """Collects each micro-batch's progress durations and run id."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark's interface
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append(
            {"run_id": str(p.runId), "timestamp": p.timestamp, "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def drain(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_spans(sc, job_ids: list[int]) -> list[tuple[int, float, float]]:
    """(job id, submission, completion) in epoch seconds."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in job_ids:
        d = store.job(j)
        a, b = _opt_ms(d.submissionTime()), _opt_ms(d.completionTime())
        if a is not None and b is not None:
            out.append((j, a, b))
    return out


def stage_metrics(sc, job_ids: list[int]) -> list[dict]:
    """Per-stage metrics of every stage the jobs ran (skipped ones omitted)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage_ids = sorted({s for j in job_ids for s in (tracker.getJobInfo(j).stageIds or [])})
    out = []
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        it = attempts.iterator()
        while it.hasNext():
            d = it.next()
            if d.status().toString() == "SKIPPED":
                continue
            a, b = _opt_ms(d.submissionTime()), _opt_ms(d.completionTime())
            out.append(
                {
                    "stage": sid,
                    "attempt": d.attemptId(),
                    "name": d.name(),
                    "tasks": d.numTasks(),
                    "failed_tasks": d.numFailedTasks(),
                    "wall_s": (b - a) if a is not None and b is not None else 0.0,
                    "run_s": d.executorRunTime() / 1000.0,
                    "cpu_s": d.executorCpuTime() / 1e9,
                    "gc_s": d.jvmGcTime() / 1000.0,
                    "input_b": d.inputBytes(),
                    "shuffle_write_b": d.shuffleWriteBytes(),
                    "shuffle_write_records": d.shuffleWriteRecords(),
                    "shuffle_read_b": d.shuffleReadBytes(),
                    "spill_b": d.memoryBytesSpilled() + d.diskBytesSpilled(),
                }
            )
    return out


def task_skew(sc, stage: dict) -> float:
    """Max over median task run time of one stage (1.0 when even)."""
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(stage["stage"], stage["attempt"], q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 1.0


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst analysis / optimization / planning time of a DataFrame's
    query execution, in ms (missing phases read 0)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def files_under(root: str) -> dict[str, int]:
    """Path -> size of every regular file below ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed while walking
                pass
    return out


def written(before: dict[str, int], after: dict[str, int], tmp: str) -> dict[str, float]:
    """Bytes of files created or grown between two ``files_under``
    snapshots, split into lakehouse tables and everything else, plus the
    number of new lakehouse manifest versions (commits)."""
    lake_b = other_b = commits = 0
    for p, size in after.items():
        grown = size - before.get(p, 0)
        if p in before and grown <= 0:
            continue
        top = os.path.relpath(p, tmp).split(os.sep, 1)[0]
        if top.startswith("gms_lakehouse") or top.startswith("gms_lh_"):
            lake_b += max(grown, 0)
            commits += p not in before and bool(_MANIFEST_RE.search(p))
        else:
            other_b += max(grown, 0)
    return {"lake_mb": lake_b / 1e6, "other_mb": other_b / 1e6, "commits": commits}


def process_tree_rss_mb(root_pid: int) -> float:
    """Summed peak RSS (VmHWM) of ``root_pid`` and all its descendants:
    the driver Python, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_kb / 1024.0
