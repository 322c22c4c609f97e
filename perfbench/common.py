"""Shared plumbing for the benchmark: paths, the Spark session, spans,
host and memory sampling, and quantiles.

Nothing here starts a thread, a process or a JVM at import time."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from statistics import median  # noqa: F401 — re-exported for the workloads

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Every file a run writes lives under the checkout, in an ignored directory.
WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (os.cpu_count() or 1)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    if not values:
        raise ValueError("quantile of no values")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def weighted_quantile(pairs: list[tuple[float, int]], q: float) -> float:
    """Quantile of values given as (value, how many samples share it): the
    rows of one micro-batch share one latency."""
    pairs = sorted(p for p in pairs if p[1] > 0)
    total = sum(n for _v, n in pairs)
    if not total:
        raise ValueError("quantile of no samples")
    seen = 0
    for v, n in pairs:
        seen += n
        if seen >= q * total:
            return v
    return pairs[-1][0]


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------


HEAP = "2g"


def spark_session(work: str, app: str):
    """The sinker CLI's session shape (UTC, AQE on) on ``local[<cores>]``,
    with every scratch directory kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed heap: a heap that grows on demand sizes itself differently
        # from run to run, and the run's speed with it
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                proc.kill()
                proc.wait(timeout=30)


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and trace id.  Disabled,
    ``span`` costs one branch and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": parent, "trace": trace, **attrs}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        union of the intervals its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(i, [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# --------------------------------------------------------------------------
# Host and memory
# --------------------------------------------------------------------------


def _busy_jiffies() -> float:
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:9]]
    return sum(vals) - vals[3] - vals[4]  # minus idle and iowait


class HostMeter:
    """Average busy cores over an interval, from /proc/stat (all host
    load, not only ours, so a noisy neighbour shows)."""

    def __init__(self):
        self._j0 = _busy_jiffies()
        self._t0 = time.monotonic()

    def cores_busy(self) -> float:
        dt = max(time.monotonic() - self._t0, 1e-9)
        return (_busy_jiffies() - self._j0) / os.sysconf("SC_CLK_TCK") / dt


CALIB_REPS = 10
CALIB_N = 200_000


def calibrate() -> list[float]:
    """Milliseconds per run of a fixed pure-Python loop, ``CALIB_REPS``
    runs: how fast the host runs code at the moment, which neither the
    busy-core count nor steal time shows when the whole host slows."""
    out = []
    for _ in range(CALIB_REPS):
        t0 = time.perf_counter()
        sum(i * i for i in range(CALIB_N))
        out.append(1000.0 * (time.perf_counter() - t0))
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu_s(exclude: set[int] = frozenset()) -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and its descendants, minus the subtrees of ``exclude``."""
    kids = _children_map()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers, so a
    child forked from the JVM (the local file system forks to run shell
    commands) does not count the JVM's memory twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process and its
    descendants (the JVM and Python workers), sampled on a background thread.  Pids in
    ``exclude`` and their subtrees (the load helper) are skipped."""

    INTERVAL_S = 1.0

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(root, f))
    return total
