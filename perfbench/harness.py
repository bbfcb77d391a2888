"""Process-level plumbing: the Spark session, the broker's HTTP client,
peak-RSS sampling of the process tree, and latency statistics."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.request

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def start_spark(work: str, cpus: int):
    """One local SparkSession with the engine's own defaults; only
    scratch locations, memory and console noise are set here (the JVM's
    own scratch options come from JAVA_TOOL_OPTIONS, see run.py)."""
    from druid_datafusion_bridge_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


class Client:
    """A closed-loop Druid client: one request in flight at a time."""

    def __init__(self, base: str):
        self.base = base

    def post(self, path: str, body: dict) -> tuple[int, bytes]:
        req = urllib.request.Request(
            self.base + path, json.dumps(body).encode(),
            {"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=170) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def get(self, path: str) -> tuple[int, bytes]:
        try:
            with urllib.request.urlopen(self.base + path, timeout=170) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def run_task(self, task: dict) -> dict:
        """Submit a task and wait for its terminal status."""
        code, raw = self.post("/druid/indexer/v1/task", task)
        if code != 200:
            return {"status": "FAILED", "errorMsg": raw.decode(errors="replace")[:500]}
        task_id = json.loads(raw)["task"]
        while True:
            code, raw = self.get(f"/druid/indexer/v1/task/{task_id}/status")
            if code != 200:
                return {"status": "FAILED", "errorMsg": f"status HTTP {code}"}
            status = json.loads(raw)["status"]
            if status.get("status") not in ("RUNNING", "PENDING", "WAITING"):
                return status
            time.sleep(0.01)


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive (exited or a zombie)."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled every 100 ms."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest of TAIL_PERCENTILES with at
    least ten samples beyond it, or None when there are fewer than 20
    samples and no percentile qualifies."""
    n = len(latencies)
    ordered = sorted(latencies)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100) >= 10:
            # nearest-rank percentile
            rank = max(1, int(-(-p * n // 100)))
            return p, ordered[rank - 1]
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total
