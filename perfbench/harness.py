"""Process plumbing for one benchmark run: a clean environment for the
Spark JVM and its Python workers, the session's start and orderly end,
a peak-RSS sampler over the JVM's process tree, and an in-memory span
tracer that labels every Spark job it encloses.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import subprocess
import sys
import threading
import time
from typing import Dict, List, Optional

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)
WORK = os.path.join(ROOT, ".perfbench_work")

MASTER = "local[4]"
# a fixed heap (initial = maximum) keeps the JVM's footprint from
# depending on when G1 decides to grow the heap
DRIVER_MEMORY = "1g"


def process_start_time() -> float:
    """Wall-clock time this process was started (from /proc), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> List[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor took from the CPUs since boot, summed
    over CPUs: a unit that lost much of it ran on a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def guard_stdout():
    """Point file descriptor 1 at stderr for the rest of the process, so
    neither the JVM nor Spark's console output can land on stdout, and
    return a handle on the original stdout for the result line."""
    real = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    return real


def prepare_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: the engine
    importable from any working directory, the running interpreter for
    the workers, and every scratch directory inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_session(run_dir: str, event_dir: Optional[str] = None):
    from engine.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> Optional[int]:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> List[int]:
    kids, out, stack = _children(), [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    the forked Python workers counted once, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of the JVM and all its
    descendants (the Python workers), sampled every 100 ms on a daemon
    thread."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval, self.peak = pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in process_tree(self.pid))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_all(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    pid = jvm_pid()
    tree = process_tree(pid) if pid else []
    if spark is None and pid:
        spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception as exc:  # the JVM is ended below either way
            print(f"perfbench: gateway shutdown: {exc!r}", file=sys.stderr)
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums, markers)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


class Tracer:
    """In-memory spans (name, start, end, parent, trace id).  While a
    span is open every Spark job submitted from this thread carries the
    description ``<name>#<span id>``, which is how the offline event-log
    reader attributes jobs to spans.  Disabled, it records nothing and
    labels nothing."""

    def __init__(self, spark, trace_id: str, enabled: bool):
        self.spark, self.trace_id, self.enabled = spark, trace_id, enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"trace_id": self.trace_id, "span_id": next(self._ids),
             "parent": parent["span_id"] if parent else None,
             "name": name, "start": time.time(), "end": None, **attrs}
        s["label"] = f"{name}#{s['span_id']}"
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobDescription(s["label"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(self._stack[-1]["label"] if self._stack
                                 else None)

    def labels_under(self, span: dict) -> set:
        """Labels of ``span`` and every span nested inside it."""
        ids, out = {span["span_id"]}, {span["label"]}
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["span_id"])
                out.add(s["label"])
        return out

    def finished(self) -> List[dict]:
        """Spans with duration and self time (duration minus the part
        covered by direct children)."""
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            kids = sum((c["end"] or c["start"]) - c["start"]
                       for c in self.spans if c["parent"] == s["span_id"])
            out.append({**s, "duration_s": dur, "self_s": max(dur - kids, 0.0)})
        return out
