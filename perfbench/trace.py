"""Measurement plumbing: spans, the py4j call counter, the process-tree RSS
sampler, and the Spark event-log reader.

Everything here observes the engine from the outside.  Spans are opened by
the benchmark around its own calls into the engine's public functions; the
py4j counter wraps the gateway client of the running session; stage
metrics come from Spark's own uncompressed JSON event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans (name, start, end, parent, pass) written at exit.

    When disabled, ``span`` costs one attribute check and records nothing,
    so untraced passes run the same code path minus the bookkeeping.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def self_times(self, pass_ids: set[str]) -> dict[str, float]:
        """Seconds per span name (its layer), minus time covered by child
        spans, summed over the given passes."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] in pass_ids and s["end"] is not None:
                layer = s["name"].split(":", 1)[0]
                own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
                out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Py4jCounter:
    """Counts commands sent over the session's py4j gateway client.

    Every JVM method call, field read and object construction the driver
    makes is one command, so the count is the constructor's chattiness.
    """

    def __init__(self, spark) -> None:
        self.count = 0
        self.enabled = False
        client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        inner = client.send_command

        def send_command(*args, **kwargs):
            if self.enabled:
                self.count += 1
            return inner(*args, **kwargs)

        client.send_command = send_command


# ------------------------------------------------------------------- RSS
def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str]]:
    """(parent pid → child pids, pid → resident kB, pid → name) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    names: dict[int, str] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        name, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        pid = int(entry)
        children.setdefault(int(rest.split()[1]), []).append(pid)
        rss[pid] = pages * page_kb
        names[pid] = name
    return children, rss, names


def descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children = _proc_table()[0]
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_kb(root: int, jvm: int | None = None) -> dict[int, int]:
    """Resident kB of ``root`` and each of its descendants (driver, JVM and
    Python workers).  A child of ``jvm`` under the JVM's own name is a fork
    that has not exec'd yet: it shows the JVM's pages as its own, so it is
    left out."""
    children, rss, names = _proc_table()
    forks = {c for c in children.get(jvm, []) if names.get(c) == names.get(jvm)}
    return {pid: rss.get(pid, 0) for pid in [root, *descendants(root, children)]
            if pid not in forks}


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and its live descendants so
    far, children they have reaped included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _smaps(pid: int) -> list[tuple[int, int, int]]:
    """(start, end, resident kB) of every mapping of ``pid``."""
    maps = []
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            key = line.split(None, 1)[0]
            if "-" in key and not key.endswith(":"):
                lo, hi = (int(x, 16) for x in key.split("-"))
                maps.append([lo, hi, 0])
            elif key == "Rss:":
                maps[-1][2] = int(line.split()[1])
    return [tuple(m) for m in maps]


def heap_range(pid: int, max_heap: int) -> tuple[int, int] | None:
    """Address range of the JVM's heap reservation: the run of adjacent
    mappings, around the largest one, that spans the maximum heap size
    exactly (the uncommitted tail, committed regions, archived classes)."""
    maps = sorted(_smaps(pid))
    big = max(range(len(maps)), key=lambda i: maps[i][1] - maps[i][0])
    i = big
    while True:
        j = big
        while maps[j][1] - maps[i][0] < max_heap and j + 1 < len(maps) \
                and maps[j + 1][0] == maps[j][1]:
            j += 1
        if maps[j][1] - maps[i][0] == max_heap:
            return maps[i][0], maps[j][1]
        if i == 0 or maps[i - 1][1] != maps[i][0]:
            return None
        i -= 1


def heap_rss_kb(pid: int, heap: tuple[int, int]) -> int:
    lo, hi = heap
    return sum(rss for start, end, rss in _smaps(pid) if start < hi and end > lo)


class RssSampler:
    """Process-tree RSS, sampled in the background every ``interval_s`` and
    by ``sample()`` at the end of each pass; the runner pauses it during
    output checks, whose oracle engines are not the system under test.

    ``peak_mb`` is the largest tree total.  ``peak_nonheap_mb`` leaves out
    the driver JVM's heap: the largest total of every process but the JVM,
    plus the JVM's resident memory outside its heap as ``sample_offheap``
    reads it between passes.  How far the JVM grows its heap is its own
    run-to-run decision, so the net figure is the steadier one.  The
    off-heap reading walks the JVM's page tables, which stalls the JVM, so
    it is never taken inside a timed pass.
    """

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.active = True
        self.jvm = self.heap = None
        self.peak_kb = 0
        self.peak_python_kb = 0
        self.offheap_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch_heap(self, jvm_pid: int, max_heap_bytes: int) -> None:
        self.heap = heap_range(jvm_pid, max_heap_bytes)
        if self.heap is None:
            raise RuntimeError(f"no mapping run of {max_heap_bytes} bytes in /proc/{jvm_pid}/smaps")
        self.jvm = jvm_pid

    def sample(self) -> None:
        with self._lock:
            if not self.active:
                return
            rss = tree_rss_kb(os.getpid(), self.jvm)
            total = sum(rss.values())
            self.peak_kb = max(self.peak_kb, total)
            if self.jvm is not None:
                self.peak_python_kb = max(self.peak_python_kb, total - rss.get(self.jvm, 0))

    def sample_offheap(self) -> None:
        with open(f"/proc/{self.jvm}/statm") as f:
            jvm_kb = int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        self.offheap_kb = max(self.offheap_kb, jvm_kb - heap_rss_kb(self.jvm, self.heap))

    def pause(self, paused: bool) -> None:
        with self._lock:  # waits out a sample in flight
            self.active = not paused

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def peak_nonheap_mb(self) -> float:
        return (self.peak_python_kb + self.offheap_kb) / 1024.0


# -------------------------------------------------------------- event log
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.startswith("."):
                continue
            with open(os.path.join(root, fn)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _accum_total(stage_info: dict, name: str) -> float:
    total = 0.0
    for acc in stage_info.get("Accumulables", []):
        if acc.get("Name") == name:
            try:
                total += float(acc.get("Value", 0))
            except (TypeError, ValueError):
                pass
    return total


def job_groups(events: list[dict]) -> list[str]:
    """The job group of every job started, in order."""
    return [
        (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        for ev in events if ev.get("Event") == "SparkListenerJobStart"
    ]


def stage_table(events: list[dict]) -> dict[int, dict]:
    """stage id → {group, tasks: [run_ms...], input/shuffle/spill bytes,
    python bytes, scan ms} from the raw listener events."""
    stage_group: dict[int, str | None] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "group": stage_group.get(sid), "task_ms": [], "input_bytes": 0,
            "input_records": 0, "shuffle_write_bytes": 0,
            "shuffle_write_records": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "py_sent": 0.0, "py_recv": 0.0, "scan_ms": 0.0,
            "output_records": 0,
        })

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = stage(ev["Stage ID"])
            s["task_ms"].append(m.get("Executor Run Time", 0))
            inp = m.get("Input Metrics") or {}
            s["input_bytes"] += inp.get("Bytes Read", 0)
            s["input_records"] += inp.get("Records Read", 0)
            out = m.get("Output Metrics") or {}
            s["output_records"] += out.get("Records Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            s = stage(info["Stage ID"])
            s["py_sent"] += _accum_total(info, PY_SENT)
            s["py_recv"] += _accum_total(info, PY_RECV)
            s["scan_ms"] += _accum_total(info, SCAN_TIME)
    return stages


def stage_metrics(stages: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer numbers for one pass from its stages."""
    run_ms = sum(sum(s["task_ms"]) for s in stages)
    skews, weights = [], []
    for s in stages:
        t = s["task_ms"]
        if len(t) >= 2 and sum(t) > 0:
            med = statistics.median(t)
            skews.append(max(t) / med if med > 0 else float(max(t) > 0) + 1.0)
            weights.append(sum(t))
    skew = sum(a * w for a, w in zip(skews, weights)) / sum(weights) if weights else 1.0
    kernel_ms = sum(sum(s["task_ms"]) for s in stages if s["py_sent"] > 0)
    return {
        "scan.s": sum(s["scan_ms"] for s in stages) / 1000.0,
        "scan.bytes": sum(s["input_bytes"] for s in stages),
        "scan.records": sum(s["input_records"] for s in stages),
        "ship.bytes_to_py": sum(s["py_sent"] for s in stages),
        "ship.bytes_from_py": sum(s["py_recv"] for s in stages),
        "kernel.task_s": kernel_ms / 1000.0,
        "shuffle.bytes_written": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.records_written": sum(s["shuffle_write_records"] for s in stages),
        "spill.bytes": sum(s["spill_bytes"] for s in stages),
        "output.records_written": sum(s["output_records"] for s in stages),
        "sched.stages": len(stages),
        "sched.tasks": sum(len(s["task_ms"]) for s in stages),
        "sched.task_s": run_ms / 1000.0,
        "sched.core_busy_frac": run_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0,
        "sched.task_skew": skew,
    }
