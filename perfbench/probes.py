"""Measurement probes used by the benchmark: spans, process-tree memory,
Spark job and cache counters, and the storage wrappers.

Everything here observes the program from the outside.  Spark is lazy, so a
span around a call that only builds a plan times plan construction; spans
are therefore closed at the action that materializes the output (a snapshot
write, a ``count`` or a ``collect``).
"""

from __future__ import annotations

import contextlib
import json
import os
import time

class Tracer:
    """In-memory spans: (id, name, start, end, parent, request id, attrs).

    With ``enabled=False`` every call is a no-op, so the untraced run pays
    nothing but a function call per boundary.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None
        # the tracer's own bookkeeping time, reported as part of the
        # tracing overhead
        self.self_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": 0.0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.self_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        """Record a span whose interval was measured elsewhere."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": end,
            "parent": parent,
            "request": self.request,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def named(self, name: str, request: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (request is None or s["request"] == request)
        ]

    def self_time(self, span: dict, prefix: str = "") -> float:
        """Duration minus the part of the interval its child spans (those
        whose name starts with ``prefix``) cover."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"] and c["name"].startswith(prefix)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Peak resident memory of ``root`` and every live descendant (its JVM
    and the JVM's python workers), as the sum of each process's high-water
    mark (VmHWM).  Read from /proc, without sampling, so measuring costs the
    run nothing; the sum bounds the tree's simultaneous peak from above."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1000


class SparkCounters:
    """Jobs per operation (via job groups) and cached block bytes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class StorageProbe:
    """Wraps ``LocalSnapshotTable.write``/``read`` with spans (traced runs
    only); each write span carries the bytes its snapshot added.

    A write is Spark's action for the DataFrame written, so a write span
    covers the execution of that DataFrame's plan as well as the file moves
    and the manifest commit.  A read only resolves the snapshot and builds
    the scan; the scan itself runs in the consuming action.
    """

    def __init__(self, tracer: Tracer):
        from breg_dcat_harvester_spark.storage import LocalSnapshotTable

        self.cls = LocalSnapshotTable
        self.tracer = tracer
        self._orig = (LocalSnapshotTable.write, LocalSnapshotTable.read)

    def install(self) -> None:
        orig_write, orig_read = self._orig
        tracer = self.tracer

        def write(table, df, mode="overwrite"):
            with tracer.span("storage.write", table=os.path.basename(table.path)) as rec:
                sid = orig_write(table, df, mode)
            t = time.perf_counter()
            rec["bytes"] = snapshot_bytes(table, sid, new_only=True)
            tracer.self_s += time.perf_counter() - t
            return sid

        def read(table, spark, snapshot_id=None, merge_schema=False):
            with tracer.span("storage.read", table=os.path.basename(table.path)):
                return orig_read(table, spark, snapshot_id, merge_schema)

        self.cls.write = write
        self.cls.read = read

    def uninstall(self) -> None:
        self.cls.write, self.cls.read = self._orig


def snapshot_bytes(table, snapshot_id: str | None = None, new_only: bool = False) -> int:
    """Bytes of a snapshot's data files (only those it added if ``new_only``)."""
    snaps = {s["id"]: s for s in table.snapshots()}
    snap = snaps[snapshot_id or table.current_snapshot()]
    files = set(snap["files"])
    if new_only and snap["mode"] == "append" and snap["parent"]:
        files -= set(snaps[snap["parent"]]["files"])
    return sum(os.path.getsize(os.path.join(table.data_dir, f)) for f in files)


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (0, 0) when there are fewer than eleven samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return 0.0, 0.0
    k = n - 11  # index of the value with exactly ten samples above it
    return 100.0 * (k + 1) / n, xs[k]
