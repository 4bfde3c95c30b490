"""Measurement probes for the benchmark, all applied from outside the program.

- ``Spans``: in-memory spans (name, start, end, parent, run id), written
  out once at the end.
- ``CatalogProbe``: wraps one ``CheckpointCatalog`` instance. Each call
  to ``is_complete`` for one of the 11 stage names opens that stage's
  Spark job group and span; metadata calls are counted and timed.
- ``fold_event_log``: folds a Spark event log (JSON lines, uncompressed,
  not rolling) into per-job-group job intervals and task metrics.
- ``udf_python_s``: Python UDF time from the session's ``perf`` UDF
  profiler, matched to a kernel by the UDF function's own frame.
- ``/proc`` helpers: peak resident memory and CPU time of the process
  tree, and host CPU steal.
"""

from __future__ import annotations

import json
import os
import pstats
import statistics
import time

STAGES = [
    "valid_docs", "exact_sigs", "exact_edges", "minhash_sigs", "band_rows",
    "candidates", "verified_pairs", "anchor_rows", "substr_pairs", "clusters",
    "dup_report",
]

# catalog calls that touch only metadata (markers, sidecars, manifests)
META_CALLS = [
    "is_complete", "commit_info", "table_rows", "current_files",
    "read_bookmark", "write_bookmark", "appended_since",
]

# the function name each pandas UDF kernel is defined under
UDF_KERNELS = {"minhash": "mh", "anchors": "anchors", "jaccard": "jac", "lcs": "lcs"}


class Spans:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None) -> None:
        self.rows.append({"name": name, "start": start, "end": end,
                          "parent": parent, "run_id": self.run_id})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


class CatalogProbe:
    """Instance-level wrappers on one catalog. Stage spans run from the
    ``is_complete`` call that opens a stage to the one that opens the
    next stage, or to ``finish``; their job group is ``<run_id>/<stage>``."""

    def __init__(self, catalog, spark, spans: Spans, parent: str) -> None:
        self.sc = spark.sparkContext
        self.spans = spans
        self.parent = parent
        self.meta_calls = 0
        self.meta_s = 0.0
        self._depth = 0
        self._open: tuple[str, float] | None = None
        for name in META_CALLS:
            setattr(catalog, name, self._wrap(name, getattr(catalog, name)))

    def _wrap(self, name: str, fn):
        def call(*args, **kwargs):
            if name == "is_complete" and args and args[0] in STAGES:
                self._open_stage(args[0])
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:  # nested calls are inside this one's time
                    self.meta_calls += 1
                    self.meta_s += time.perf_counter() - t0
        return call

    def _open_stage(self, stage: str) -> None:
        now = time.time()
        self._close(now)
        self._open = (stage, now)
        self.sc.setJobGroup(f"{self.spans.run_id}/{stage}", stage)

    def _close(self, now: float) -> None:
        if self._open is not None:
            stage, t0 = self._open
            self.spans.add(stage, t0, now, self.parent)
            self._open = None

    def finish(self, end: float) -> None:
        self._close(end)


def fold_event_log(path: str) -> dict[str, dict]:
    """Per job group: job intervals (s, epoch) and task metrics summed
    over the Spark stages those jobs ran."""
    jobs: dict[int, tuple[str, float]] = {}
    job_end: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[str, list] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(stage_group.get(ev["Stage ID"], ""), []).append((
                    m.get("Executor Run Time", 0) / 1000.0,
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                ))
    out: dict[str, dict] = {}
    for jid, (group, start) in jobs.items():
        g = out.setdefault(group, {"jobs": [], "executor_s": 0.0, "shuffle_bytes": 0,
                                   "spill_bytes": 0, "task_s": []})
        g["jobs"].append((start, job_end.get(jid, start)))
    for group, rows in tasks.items():
        g = out.setdefault(group, {"jobs": [], "executor_s": 0.0, "shuffle_bytes": 0,
                                   "spill_bytes": 0, "task_s": []})
        for run_s, dur_s, shuffle, spill in rows:
            g["executor_s"] += run_s
            g["shuffle_bytes"] += shuffle
            g["spill_bytes"] += spill
            g["task_s"].append(dur_s)
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def task_skew(task_s: list[float]) -> float:
    """Max task time over median task time (0 with no tasks)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0


def udf_python_s(spark, dump_dir: str) -> dict[str, float]:
    """Seconds inside each UDF kernel, from the session's ``perf`` UDF
    profiler: the cumulative time of the frame named after the kernel
    function, summed over the dumped per-UDF profiles."""
    out = {k: 0.0 for k in UDF_KERNELS}
    spark.profile.dump(dump_dir, type="perf")
    if not os.path.isdir(dump_dir):
        return out
    for name in os.listdir(dump_dir):
        stats = pstats.Stats(os.path.join(dump_dir, name))
        for (_file, _line, func), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            for kernel, fname in UDF_KERNELS.items():
                if func == fname:
                    out[kernel] += ct
    return out


# -- /proc -------------------------------------------------------------------

def proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss(root: int) -> None:
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of ``VmHWM`` over the process tree, in MB."""
    kb = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the live process tree, with the
    children each process has reaped (``cutime`` + ``cstime``). A
    descendant that exits and is reaped inside the tree (a Python worker
    its daemon reaps) so keeps its CPU in the sum, and a difference of
    two readings counts it."""
    ticks = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def own_cpu_seconds() -> float:
    """User + system CPU seconds of this process alone."""
    t = os.times()
    return t.user + t.system


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)
