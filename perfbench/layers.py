"""Outside-in measurement of the engine's layers for the benchmark.

Nothing here is imported by the engine. Each probe observes a layer through
its public surface:

* ``CallTimer`` wraps ``sources.catalog.Catalog`` methods and
  ``operators.graph.connected_components`` at runtime and restores them on
  ``close()``;
* ``job_profile`` reads Spark's status store (works with the UI off), keyed by
  the job groups that the pipeline's ``stage()`` sets;
* ``RssSampler`` samples the summed RSS of this process tree from ``/proc``;
* ``warehouse_files`` snapshots a warehouse so a caller can count the bytes a
  region created or rewrote.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter, defaultdict

from py4j.protocol import Py4JJavaError

from sql_identity_resolution_spark.operators import graph
from sql_identity_resolution_spark.sources.catalog import Catalog

COMMIT_METHODS = (
    "overwrite", "append", "merge_upsert", "delete_insert", "append_rows", "merge_upsert_rows",
)
READ_METHODS = ("read", "read_rows", "read_slice_for", "row_count")
STAGES = (
    "entity_extraction", "identifier_extraction", "edge_building", "edge_merge",
    "label_propagation", "membership_update", "golden_profile", "output_write",
)
MB = 1024 * 1024


class CallTimer:
    """Counts and times calls into the catalog and the CC operator.

    Only the outermost catalog call is counted: catalog methods call each
    other (a commit reads its pointer), and the caller's view is the one
    that costs. ``enabled`` gates counting so untimed bookkeeping reads made
    by the benchmark itself are not attributed to the engine."""

    def __init__(self):
        self.enabled = False
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.cc: list[dict] = []
        self._depth = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        for name in COMMIT_METHODS:
            self._wrap(Catalog, name, "commit")
        for name in READ_METHODS:
            self._wrap(Catalog, name, "read")
        self._wrap_cc()

    def _wrap(self, owner, name: str, kind: str) -> None:
        orig = getattr(owner, name)
        timer = self

        def wrapped(*args, **kwargs):
            depth = getattr(timer._depth, "n", 0)
            if not timer.enabled or depth:
                return orig(*args, **kwargs)
            timer._depth.n = 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                timer._depth.n = 0
                timer.calls[kind] += 1
                timer.seconds[kind] += time.perf_counter() - t0

        self._saved.append((owner, name, orig))
        setattr(owner, name, wrapped)

    def _wrap_cc(self) -> None:
        orig = graph.connected_components
        timer = self

        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            res = orig(*args, **kwargs)
            if timer.enabled:
                timer.cc.append({
                    "s": time.perf_counter() - t0,
                    "rounds": res.iterations,
                    "edges": kwargs.get("edge_count_hint") or 0,
                    "distributed": res.path != "local_union_find",
                })
            return res

        self._saved.append((graph, "connected_components", orig))
        graph.connected_components = wrapped

    def close(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()


# ---------------------------------------------------------------- status store
def _opt(o):
    return o.get() if o.isDefined() else None


def max_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def job_profile(spark, after_job_id: int, wall_s: float, stage_wall: dict) -> dict:
    """Per-stage and whole-run Spark work for the jobs with id > after_job_id.

    Jobs are attributed by their job group (``stage()`` names the group after
    the pipeline stage). ``driver_only_s`` is wall time minus the union of the
    group's job intervals: time in which the driver ran no Spark job."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)  # newest first
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": set(), "iv": []})
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job_id:
            break
        g = groups[_opt(j.jobGroup()) or ""]
        g["jobs"] += 1
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None and done is not None:
            g["iv"].append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        ids = j.stageIds()
        g["stages"].update(ids.apply(k) for k in range(ids.size()))

    def work(stage_ids) -> dict:
        w = {"tasks": 0, "executor_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted (skipped) — no record
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            w["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            w["executor_s"] += sd.executorRunTime() / 1000.0
            w["gc_s"] += sd.jvmGcTime() / 1000.0
            w["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
            w["spill_mb"] += sd.diskBytesSpilled() / MB
        return w

    out: dict = {"stages": {}}
    for name in STAGES:
        g = groups.get(name)
        if g is None:
            continue
        w = work(g["stages"])
        wall = float(stage_wall.get(name, 0.0))
        out["stages"][name] = {
            "wall_s": wall, "jobs": g["jobs"], "tasks": w["tasks"],
            "executor_s": w["executor_s"], "shuffle_mb": w["shuffle_mb"],
            "driver_only_s": max(0.0, wall - _union_s(g["iv"])),
        }
    all_stages = set().union(*(g["stages"] for g in groups.values())) if groups else set()
    w = work(all_stages)
    out["run"] = {
        "jobs": sum(g["jobs"] for g in groups.values()), "tasks": w["tasks"],
        "executor_s": w["executor_s"], "gc_s": w["gc_s"], "spill_mb": w["spill_mb"],
        "driver_only_s": max(0.0, wall_s - _union_s([iv for g in groups.values() for iv in g["iv"]])),
    }
    return out


# ---------------------------------------------------------------- correctness
def pairwise_f1(membership: list[tuple[str, str]], truth: list[tuple[str, str]]) -> float:
    """Exact pairwise F1 of a clustering against a labelling, over the keys
    both cover: the contingency-table formula of ``plans.evaluate``, in
    process (no Spark jobs)."""
    label = dict(truth)
    pairs = [(r, label[k]) for k, r in membership if k in label]

    def n_pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts.values())

    tp = n_pairs(Counter(pairs))
    pred = n_pairs(Counter(r for r, _ in pairs))
    true = n_pairs(Counter(t for _, t in pairs))
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return round(f1, 6)


# ------------------------------------------------------------------- processes
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def cpu_times() -> list[int]:
    """Host-wide CPU time counters (jiffies) from the ``cpu`` line of
    /proc/stat: user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tree_rss_mb(root: int) -> float:
    kids, todo, total = _children_map(), [root], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / MB


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    its python workers) while ``active``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active:
                self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------- warehouse
def warehouse_files(root: str) -> dict[str, tuple[int, int, int]]:
    """{path: (inode, mtime_ns, size)} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or rewritten."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(v[2] for v in new)


def dir_mb(root: str) -> float:
    return sum(v[2] for v in warehouse_files(root).values()) / MB
