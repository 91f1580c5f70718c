"""Outside-in measurement helpers: spans kept in memory, and Spark job/stage
counters read from the Spark driver's status store over py4j.

Nothing here patches the engine. Spark jobs are attributed to a benchmark
operation by job group (``SparkContext.setJobGroup`` on the calling thread;
``InheritableThread`` carries it into MapReduce job threads).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Stage counters read per stage attempt (``AppStatusStore.lastStageAttempt``).
STAGE_FIELDS = {
    "executor_run_s": "executorRunTime",  # ms, converted below
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span log; spans of one operation share ``op``. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, op: int, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        if self.enabled:
            self.spans.append(Span(op, name, start, end, parent, attrs))

    def self_time(self, name: str) -> float:
        """Sum over spans called ``name`` of duration minus the union of
        their children's intervals (children: same op, parent == name)."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            kids = [(c.start, c.end) for c in self.spans
                    if c.op == s.op and c.parent == name]
            total += s.dur - union_length(kids, s.start, s.end)
        return total

    def dump(self, path: str) -> None:
        """Write the spans, and each span name's total self time."""
        names = sorted({s.name for s in self.spans})
        with open(path, "w") as fh:
            json.dump({"self_time_s": {n: self.self_time(n) for n in names},
                       "spans": [s.__dict__ for s in self.spans]}, fh)


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbe:
    """Reads job and stage records for a job group from the status store
    (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def jobs(self, group: str) -> list[dict]:
        """One record per job: call site name, [start, end] wall-clock
        seconds, and its stage ids."""
        out = []
        for jid in self.job_ids(group):
            j = self.store.job(jid)
            sub, comp = j.submissionTime(), j.completionTime()
            out.append({
                "id": jid,
                "name": j.name(),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "stages": list(self.tracker.getJobInfo(jid).stageIds),
            })
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sum of the stage counters over every stage the jobs ran (stages
        skipped because their shuffle output was reused are not counted)."""
        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot["stages"] = 0
        seen = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                for k, f in STAGE_FIELDS.items():
                    tot[k] += float(getattr(st, f)())
        tot["executor_run_s"] /= 1000.0
        return tot

    def persisted_rdd_ids(self) -> set[int]:
        return set(self.sc._jsc.getPersistentRDDs().keySet().toArray())

    def unpersist_new(self, before: set[int]) -> int:
        """Blocking unpersist of every persisted RDD not in ``before``;
        returns how many there were."""
        m = self.sc._jsc.getPersistentRDDs()
        new = [rid for rid in m.keySet().toArray() if rid not in before]
        for rid in new:
            m.get(rid).unpersist(True)
        return len(new)

