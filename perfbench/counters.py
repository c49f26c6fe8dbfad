"""Counters read from outside the engine: Spark's status store and /proc.

``SparkCounters`` sums the stage records Spark's own status store holds
(the same store the web UI reads; it is populated with the UI off) over
one op's window. ``RssSampler`` tracks the peak resident memory (PSS) of
this process and every descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import os
import threading

# stage-record fields summed per op -> metric name and scale to SI units
_STAGE_FIELDS = (
    ("numTasks", "spark.tasks", 1),
    ("numFailedTasks", "spark.failed_tasks", 1),
    ("executorRunTime", "spark.run_s", 1e-3),
    ("executorCpuTime", "spark.cpu_s", 1e-9),
    ("jvmGcTime", "spark.gc_s", 1e-3),
    ("shuffleWriteBytes", "spark.shuffle_write_bytes", 1),
    ("shuffleReadBytes", "spark.shuffle_read_bytes", 1),
    ("inputBytes", "spark.input_bytes", 1),
    ("inputRecords", "spark.input_rows", 1),
    ("memoryBytesSpilled", "spark.spill_bytes", 1),
    ("diskBytesSpilled", "spark.spill_bytes", 1),
)
SPARK_METRICS = ("spark.jobs", "spark.stages") + tuple(
    dict.fromkeys(name for _, name, _ in _STAGE_FIELDS)
)


class SparkCounters:
    """Per-window deltas of the status store's job and stage records."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._stage_floor = self._job_floor = -1
        self.delta()

    def _newer(self, seq, floor: int, key):
        # the store lists newest first: stop at the first record seen before
        for i in range(seq.size()):
            rec = seq.apply(i)
            if key(rec) <= floor:
                break
            yield rec

    def _stage_seq(self):
        jvm = self._jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            jvm.java.util.ArrayList(),
        )

    def _job_seq(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def delta(self) -> dict[str, float]:
        """Sums over the stages and jobs recorded since the last call."""
        self._bus.waitUntilEmpty(30_000)  # events reach the store asynchronously
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        stage_floor = self._stage_floor
        for s in self._newer(self._stage_seq(), stage_floor, lambda r: r.stageId()):
            self._stage_floor = max(self._stage_floor, s.stageId())
            out["spark.stages"] += 1
            for field, name, scale in _STAGE_FIELDS:
                out[name] += getattr(s, field)() * scale
        job_floor = self._job_floor
        for j in self._newer(self._job_seq(), job_floor, lambda r: r.jobId()):
            self._job_floor = max(self._job_floor, j.jobId())
            out["spark.jobs"] += 1
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among its sharers. Summed over a process tree it counts the pages a
    forked child shares with its parent once, where RSS counts them in
    both (the JVM's short-lived children would double it)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], list(kids.get(root or os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb() -> float:
    """Resident memory (PSS) of this process and all its descendants, in MiB."""
    return sum(_pss_kb(pid) for pid in [os.getpid(), *descendants()]) / 1024.0


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb``
    is the largest sum seen."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join(timeout=5)
        return False
