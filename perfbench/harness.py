"""Process, session and measurement plumbing for the sketch-engine benchmark.

Everything the benchmark writes (parquet inputs, sketch state, Spark
local dirs, JVM and Python temp files) lives under one work directory
inside the checkout, which ``Workdir`` removes on exit. Measurement is
from outside the package: wall clocks around public calls, Spark's own
status store for stage counters, and ``/proc`` for memory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
TRACE_ROOT = ROOT / ".perfbench_trace"
CORES = len(os.sched_getaffinity(0))  # local[nproc]
DRIVER_MEMORY = "2g"


class Workdir:
    """Per-process work tree under the checkout; removed on close."""

    def __init__(self) -> None:
        self.path = WORK_ROOT / f"run-{os.getpid()}"

    def __enter__(self) -> "Workdir":
        self.path.mkdir(parents=True, exist_ok=True)
        for sub in ("local", "tmp", "warehouse"):
            (self.path / sub).mkdir(exist_ok=True)
        # inherited by the JVM and, through it, by the Python workers
        os.environ["TMPDIR"] = str(self.path / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "local")
        # no hsperfdata files in /tmp from the launcher JVM or the driver
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), str(ROOT / "perfbench"), os.environ.get("PYTHONPATH", "")) if p)
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass  # another run still owns a sibling directory

    def sub(self, name: str) -> str:
        return str(self.path / name)


def start_session(work: Workdir):
    from bloomfilter_multithread_spark.sources.io import get_spark

    tmp = work.sub("tmp")
    # the whole heap is committed and touched at start, so the JVM's share
    # of peak_rss_mb does not depend on when the heap happened to grow
    java_opts = (f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={tmp} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
    spark = get_spark(
        app="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work.sub("local"),
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, stack = [], [pid or os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the py4j JVM down and wait for every process this
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class RssSampler:
    """Summed resident memory of this process's descendants (the Spark JVM
    and its Python workers), sampled from /proc every ``interval_s``.
    The process list is rescanned every ``rescan`` samples, so sampling
    stays cheap for the driver process it runs in. ``peak_mb`` is the
    95th percentile of the samples, so a transient worker shorter than a
    twentieth of the window does not set it."""

    def __init__(self, interval_s: float = 0.1, rescan: int = 10) -> None:
        self.interval_s, self.rescan = interval_s, rescan
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _loop(self) -> None:
        pids: list[int] = []
        while not self._stop.is_set():
            if len(self.samples) % self.rescan == 0:
                pids = descendants()
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    continue  # worker exited since the last rescan
            self.samples.append(total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return percentile(self.samples, 95) / 2**20


class SparkCounters:
    """Stage and executor counters from Spark's status store, diffed
    around a call: every stage with an id above the last one seen
    belongs to the call."""

    _STAGE_FIELDS = {
        "executor_run_ms": "executorRunTime",
        "executor_cpu_ns": "executorCpuTime",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "output_bytes": "outputBytes",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()

    def _stages(self):
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList())

    def _drain_listener(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_stage(self) -> int:
        self._drain_listener()
        seq = self._stages()
        return seq.apply(0).stageId() if seq.size() else -1

    def _gc_ms(self) -> int:
        return int(self._store.executorSummary("driver").totalGCTime())

    @contextmanager
    def measure(self):
        """Yields a dict filled, on exit, with the counters of the stages
        the body ran plus the driver executor's GC time."""
        out: dict[str, float] = {}
        first = self._max_stage()
        gc0 = self._gc_ms()
        yield out
        self._drain_listener()
        totals = dict.fromkeys(self._STAGE_FIELDS, 0)
        it = self._stages().iterator()  # newest stage first
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= first:
                break
            for key, getter in self._STAGE_FIELDS.items():
                totals[key] += int(getattr(s, getter)())
        out.update(totals)
        out["gc_ms"] = self._gc_ms() - gc0


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around layer
    calls; written as JSON when the run ends. Disabled, it costs one
    attribute test per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "self_s": self.self_times(),
                                    "spans": self.spans, **extra}, indent=1, default=float))


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))
