"""Helpers shared by the workloads: statistics, latency attribution,
tracing, memory sampling, run isolation and Spark lifetime.

Everything here is the benchmark's own code. The program under test is
only called through its public functions; tracing wraps those calls from
the outside and puts the originals back afterwards.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import itertools
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

ROOT = Path(__file__).resolve().parents[1]
# Everything a run writes lives under this git-ignored directory of the
# checkout: the per-run temporary root (removed at exit), the span files
# of traced runs and the last untraced metrics per workload.
OUT_DIR = ROOT / ".perfbench"

CPUS = 4
DRIVER_MEM = "2g"


# -- statistics ----------------------------------------------------------

def percentile(values, q: float) -> float:
    """q-th percentile (0-100) with linear interpolation between order
    statistics, as numpy's default method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values) -> dict:
    """Percentiles of ``values`` together with the sample count they rest
    on, e.g. ``{"p50": 1.2, "p99": 1.9, "n": 20000}``. An empty sample
    gives zeros with ``n`` 0."""
    values = list(values)
    if not values:
        return {"p50": 0.0, "p99": 0.0, "n": 0}
    return {"p50": percentile(values, 50), "p99": percentile(values, 99), "n": len(values)}


def median(values) -> float:
    values = list(values)
    return percentile(values, 50) if values else 0.0


# -- stream latency attribution ------------------------------------------

def attribute_latency(
    due: dict[int, list[float]], batches: list[dict]
) -> tuple[dict[tuple[int, int], float], int]:
    """Per-record latency from a source's ``endOffset`` series.

    ``due[p][o]`` is the time record ``o`` of partition ``p`` was due to
    be written. ``batches`` are the micro-batches in batch-id order, each
    ``{"end_offsets": {p: end}, "end_time": t}``: a batch covers every
    offset below its end offset that no earlier batch covered, and its
    records land when the batch ends. Returns ``{(p, o): latency}`` for
    covered records and the number of records no batch covered.
    """
    covered = {p: 0 for p in due}
    latency: dict[tuple[int, int], float] = {}
    for batch in batches:
        for p, end in batch["end_offsets"].items():
            p, end = int(p), int(end)
            if p not in due:
                continue
            end = min(end, len(due[p]))
            for o in range(covered[p], end):
                latency[(p, o)] = batch["end_time"] - due[p][o]
            covered[p] = max(covered[p], end)
    uncovered = sum(len(d) - covered[p] for p, d in due.items())
    return latency, uncovered


def count_due(sorted_due: list[float], t: float) -> int:
    """How many records were due at or before ``t``."""
    return bisect.bisect_right(sorted_due, t)


# -- tracing ---------------------------------------------------------------

class Tracer:
    """Spans kept in memory: name, start, end, parent span and trace id.

    ``wrap`` installs a timing wrapper around a public function of the
    program (a module attribute or a class attribute) and remembers the
    original; ``restore`` puts every original back. ``span`` times a
    block of the benchmark's own code. Nothing is written until
    ``write``.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent or {}).get("trace"),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def timed(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    @property
    def installed(self) -> int:
        return len(self._patches)

    def durations(self, name: str, t0: float = float("-inf"), t1: float = float("inf")) -> list[float]:
        """Durations of the outermost ``name`` spans that started inside
        ``[t0, t1)``; a span nested in another span of the same name
        (a public method calling another wrapped one) is not counted
        twice."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name or not t0 <= s["start"] < t1:
                continue
            parent, nested = by_id.get(s["parent"]), False
            while parent is not None:
                if parent["name"] == name:
                    nested = True
                    break
                parent = by_id.get(parent["parent"])
            if not nested:
                out.append(s["end"] - s["start"])
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Timing wrappers around the public functions of the layers the
    benchmark reports on. Called only by a traced run."""
    import motorway_spark.session as session
    import motorway_spark.sqlapi as sqlapi
    from motorway_spark.pipeline import Pipeline
    from motorway_spark.sinks.upsert import UpsertParquetSink

    tracer.wrap(session, "get_session", "session.start")
    tracer.wrap(Pipeline, "compile", "pipeline.compile")
    tracer.wrap(sqlapi, "sql", "sqlapi.sql")
    for method in ("upsert_batch", "delete_keys", "delete_where", "read", "read_changes"):
        tracer.wrap(UpsertParquetSink, method, f"sink.{method}")


class ProgressLog(StreamingQueryListener):
    """Keeps every progress report as parsed JSON (Spark's public
    per-trigger progress)."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()


def progress_time(event: dict) -> tuple[float, float]:
    """(start, end) wall-clock seconds of the trigger a progress report
    describes: its ``timestamp`` plus ``durationMs.triggerExecution``."""
    import datetime

    start = (
        datetime.datetime.strptime(event["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )
    return start, start + event["durationMs"].get("triggerExecution", 0) / 1000.0


def end_offsets(event: dict) -> dict[int, int]:
    """Per-partition end offsets of the first source of a progress
    report (``{"offsets": {"0": n, ...}}`` as the kafkalog source
    declares them)."""
    end = event["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return {int(p): int(o) for p, o in (end or {}).get("offsets", {}).items()}


# -- memory -------------------------------------------------------------

def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants (driver, JVM,
    Python workers, load generator)."""
    children = _proc_children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process tree, sampled on a thread
    between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# -- run isolation and Spark lifetime --------------------------------------

def check_checkout() -> None:
    """Refuse to run unless the program's sources sit beside the
    benchmark: the benchmark measures the checkout it lives in and
    never an installed copy."""
    for rel in ("motorway_spark/__init__.py", "motorway_spark/queries/__init__.py", "tools/make_fixture.py"):
        if not (ROOT / rel).is_file():
            raise SystemExit(f"perfbench: {ROOT / rel} is missing; run from a full checkout")


@contextlib.contextmanager
def run_root(tag: str):
    """A fresh temporary root inside the checkout for one workload run.
    ``TMPDIR``, Spark's local dirs and the Python workers' import path
    point into it or at the checkout, so nothing lands in ``/tmp`` or in
    the source tree; the root is removed afterwards."""
    root = OUT_DIR / f"run-{tag}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS", "PYTHONPATH")}
    os.environ["TMPDIR"] = str(root / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(root / "spark-local")
    # the short-lived JVM that spark-submit starts first would otherwise
    # write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([saved["PYTHONPATH"]] if saved["PYTHONPATH"] else [])
    )
    tempfile.tempdir = None
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        yield root
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(root, ignore_errors=True)


def start_session(root: Path):
    """The program's session factory with the benchmark's fixed width,
    a small driver heap and the run root's directories."""
    import motorway_spark.session as session

    jvm_tmp = root / "jvm-tmp"
    jvm_tmp.mkdir(exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": str(root / "spark-local"),
        "spark.sql.warehouse.dir": str(root / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = session.get_session("perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it to
    exit, so no process of the run outlives it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- result ---------------------------------------------------------------

def emit(result: dict, human: list[tuple[str, float, str, str]]) -> None:
    """Human-readable lines first, then the one-line JSON result last."""
    for name, value, unit, note in human:
        print(f"# {name:<34} {value:>14.6g} {unit:<8} {note}")
    print(json.dumps(result), flush=True)
