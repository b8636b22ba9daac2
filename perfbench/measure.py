"""Measurement helpers: process-tree CPU and memory, host steal, operator
spans installed from outside the package, and the Spark event-log reader.

Nothing here imports pyspark, so the module loads before a session exists.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from collections import defaultdict
from types import FunctionType, ModuleType

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- process tree -------------------------------------------------------------


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                children[int(st[1])].append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _proc_stat(pid)
        if st:  # utime stime cutime cstime are fields 14-17 (index 11-14 here)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def python_workers(pids: list[int]) -> list[int]:
    """The PySpark worker daemon and the workers it forked."""
    return [p for p in pids if "pyspark.daemon" in _cmdline(p) or "pyspark.worker" in _cmdline(p)]


class TreeSampler:
    """Samples the resident memory of a process tree in a background thread
    between ``open()`` and ``close()``; ``close()`` returns the CPU the tree
    used in between, that of its Python workers, and the peak memory seen."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._peak = 0
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._cpu0 = self._py0 = 0.0

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            rss = rss_bytes(process_tree(self._root))
            with self._lock:
                self._peak = max(self._peak, rss)

    def open(self) -> None:
        tree = process_tree(self._root)
        self._peak = rss_bytes(tree)
        self._cpu0 = cpu_seconds(tree)
        self._py0 = cpu_seconds(python_workers(tree))
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def close(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        tree = process_tree(self._root)
        with self._lock:
            peak = max(self._peak, rss_bytes(tree))
        return {
            "cpu_s": cpu_seconds(tree) - self._cpu0,
            "python_cpu_s": cpu_seconds(python_workers(tree)) - self._py0,
            "peak_rss_mb": peak / 2**20,
        }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# --- operator spans -----------------------------------------------------------


class Spans:
    """Per-layer call counts and self time, from wrappers around public
    functions. A span's self time is its duration minus that of the spans
    it encloses."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self._stack: list[float] = []  # child time accumulated per open span
        self._undo: list[tuple[ModuleType, str, object]] = []

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                took = time.perf_counter() - t0
                child = self._stack.pop()
                self.calls[layer] += 1
                self.self_s[layer] += took - child
                if self._stack:
                    self._stack[-1] += took

        return span

    def install(self, layer: str, targets: list, modules: list[ModuleType]) -> None:
        """Wrap each function in ``targets`` wherever ``modules`` bind it."""
        by_id = {id(fn): self.wrap(layer, fn) for fn in targets}
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if id(val) in by_id:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, by_id[id(val)])

    def uninstall(self) -> None:
        while self._undo:
            mod, attr, val = self._undo.pop()
            setattr(mod, attr, val)


OPERATOR_LAYERS = (
    "cdc", "transforms", "text", "dedup", "similarity",
    "graph", "windows", "joins", "sketches", "parallelism",
)


def _public_functions(mod: ModuleType) -> list:
    return [
        v for k, v in vars(mod).items()
        if not k.startswith("_") and isinstance(v, FunctionType)
        and v.__module__ == mod.__name__
    ]


def install_layer_spans(spans: Spans) -> None:
    """Wrap the engine's layer entry points: every public function of each
    operator module (``operators.<module>``), ``readers.load_table``
    (``sources``) and ``caching.register`` (``caching``)."""
    import importlib
    import sys

    from martech_pipelines_spark import caching
    from martech_pipelines_spark.sources import readers

    engine = [m for n, m in list(sys.modules.items())
              if n.startswith("martech_pipelines_spark") and m is not None]
    for layer in OPERATOR_LAYERS:
        mod = importlib.import_module(f"martech_pipelines_spark.operators.{layer}")
        spans.install(f"operators.{layer}", _public_functions(mod), engine)
    spans.install("sources", [readers.load_table], engine)
    spans.install("caching", [caching.register], engine)


_EXCHANGE = re.compile(r"^[\s:+\-|]*(?:Exchange|BroadcastExchange)\b", re.M)


def count_exchanges(plan_text: str) -> int:
    return len(_EXCHANGE.findall(plan_text))


# --- event log ----------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(path: str) -> dict[str, dict]:
    """Per job group: stage, task and executor counters from a plain
    (uncompressed, non-rolling) Spark event log, plus the list of task
    (launch, finish) times in epoch milliseconds under ``intervals``."""
    stage_group: dict[int, str] = {}
    job_stages: dict[str, set] = defaultdict(set)
    ran: dict[str, set] = defaultdict(set)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    job_stages[group].update(s["Stage ID"] for s in ev["Stage Infos"])
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = group
                    ran[group].add(sid)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                c = out[group]
                c["tasks"] += 1
                c["tasks_failed"] += bool(info.get("Failed"))
                intervals[group].append((info["Launch Time"], info["Finish Time"]))
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                c["bytes_read"] += im.get("Bytes Read", 0)
                c["rows_read"] += im.get("Records Read", 0)
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") == _PY_SENT:
                        c["python_bytes_to_workers"] += int(acc.get("Update", 0))
                    elif acc.get("Name") == _PY_RECV:
                        c["python_bytes_from_workers"] += int(acc.get("Update", 0))
    for group in set(job_stages) | set(ran):
        out[group]["stages"] = len(ran[group])
        out[group]["stages_skipped"] = len(job_stages[group] - ran[group])
        out[group]["intervals"] = intervals[group]
    return out


def busy_seconds(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Length of the union of ``intervals`` clipped to [start_ms, end_ms]."""
    busy, cur_end = 0.0, start_ms
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, end_ms)
        if b > a:
            busy += b - a
            cur_end = b
    return busy / 1e3
