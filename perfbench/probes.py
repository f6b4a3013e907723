"""Measurement helpers the benchmark wraps around the engine from outside:
span tracing with Spark job counts, the process tree's peak RSS, a light
host probe, and orderly shutdown of the Spark JVM and its workers.

Nothing here imports the engine; every number is taken at the call
boundary or read from /proc.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import time

import numpy as np

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_bytes(root: int) -> int:
    """Summed peak resident set (VmHWM) of a process and its descendants:
    the driver Python, the Spark driver JVM and its Python workers. Read
    once, at the end of a run, so measuring costs the run nothing."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


def host_probe() -> dict[str, float]:
    """A short single-core CPU burn and a memcpy rate: enough to recognise
    a degraded-host draw from the run's own output."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    burn = time.perf_counter() - t
    src = np.ones(32 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    rates = []
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        rates.append(src.nbytes / (time.perf_counter() - t) / 1e9)
    return {"cpu_burn_s": burn, "memcpy_gbps": median(rates)}


class Tracer:
    """Spans around calls into the engine's public functions. Each span
    runs under its own Spark job group, so the jobs it launched are counted
    from outside with the status tracker. Spans stay in memory until
    ``dump``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "group": f"{self.run_id}-{len(self.spans)}",
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            rec["spark_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def self_time(self, name: str) -> float:
        """Summed self time of the named spans: duration minus the part
        covered by child spans."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
            total += s["end"] - s["start"] - kids
        return total

    def jobs(self, name: str) -> int:
        return sum(s["spark_jobs"] for s in self.spans if s["name"] == name)

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "group"} for s in self.spans]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, close the py4j gateway and wait for the JVM and
    every process it started to exit."""
    from pyspark import SparkContext

    tree = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes (pyspark's parent-death signal)
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in tree:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
