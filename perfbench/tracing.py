"""Traced-run tooling: spans, a driver stack sampler, and an event-log
parser that attributes every Spark job to the program module that
submitted it.

Spans are recorded from the benchmark's own files around each call into
the program; Spark jobs parsed from the event log become child spans of
the span whose interval contains them. A span's self time is its wall
minus the part of it covered by its children, so the self time of an
operation span is the driver gap: wall during which no Spark job ran.

Spark records a Python call site for only some jobs (DataFrame actions
that go through ``collect``-style entry points; ``count()``, writes,
``localCheckpoint()`` and every job that adaptive execution submits
carry a JVM call site or none). The stack sampler fills the gap: it
records which program frames the driver thread is in, and a job is
attributed to the innermost program frame sampled while it ran.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "fuzzy_matcher_spark"


# --- spans ------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    cpu_start: float
    end: float = 0.0
    cpu_end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """In-memory span recorder; spans are written once, at the end.
    ``cpu_clock`` returns the CPU seconds used so far by whatever the
    spans should charge (the benchmark passes its whole process tree)."""

    def __init__(self, run_id: str, cpu_clock):
        self.run_id = run_id
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            len(self.spans),
            name,
            time.time(),
            self.cpu_clock(),
            parent=self._stack[-1] if self._stack else None,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            s.cpu_end = self.cpu_clock()
            self._stack.pop()

    def dump(self, path: str, jobs: list[dict] | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [s.__dict__ for s in self.spans],
                    "jobs": jobs or [],
                },
                f,
            )


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# --- driver stack sampler ---------------------------------------------------


def program_frame(filename: str) -> str | None:
    """'operators.dedup_minhash' for a file of the program, else None.
    Also matches files loaded from a --py-files zip."""
    marker = f"/{PACKAGE}/"
    i = filename.rfind(marker)
    if i < 0 or not filename.endswith(".py"):
        return None
    return filename[i + len(marker) : -3].replace("/", ".")


class StackSampler:
    """Samples the program frames on the driver's thread stacks at a
    fixed interval. Each sample is (time, ((module, function), ...)),
    outermost to innermost, from the thread with the deepest program
    stack (foreachBatch callbacks run on a py4j callback thread, not on
    the main thread)."""

    def __init__(self, interval: float = 0.01):
        self.interval = interval
        self.samples: list[tuple[float, tuple]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        last = None
        me = threading.get_ident()
        while not self._stop.wait(self.interval):
            stack: tuple = ()
            for ident, frame in sys._current_frames().items():
                if ident == me:
                    continue
                st = []
                while frame is not None:
                    mod = program_frame(frame.f_code.co_filename)
                    if mod is not None:
                        st.append((mod, frame.f_code.co_name))
                    frame = frame.f_back
                if len(st) > len(stack):
                    stack = tuple(reversed(st))
            now = time.time()
            # store changes only, plus a heartbeat every second
            if stack != last or now - self.samples[-1][0] > 1.0:
                self.samples.append((now, stack))
                last = stack

    def __enter__(self) -> "StackSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stack_at(samples, t0: float, t1: float) -> tuple:
    """Deepest program stack sampled during [t0, t1], else the last one
    sampled before t0."""
    best: tuple = ()
    prev: tuple = ()
    for t, st in samples:
        if t < t0:
            prev = st
        elif t <= t1:
            if len(st) > len(best):
                best = st
        else:
            break
    return best or prev


# --- event log --------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.logBlockUpdates.enabled": "true",
}


class EventLog:
    """Spark's event log switched on around chosen operations of a
    running context, so traced and untraced operations can alternate in
    one Spark context with the same warm-up. Each ``with`` block adds
    Spark's own EventLoggingListener (configured as ``EVENT_LOG_CONF``)
    writing into a fresh directory under ``base``, drains the listener
    bus on exit, and removes the listener again."""

    def __init__(self, spark, base):
        self.sc = spark.sparkContext
        self.base = base
        self.paths: list[str] = []
        self._listener = None

    def __enter__(self) -> "EventLog":
        jvm, ctx = self.sc._jvm, self.sc._jsc.sc()
        d = self.base / f"op{len(self.paths)}"
        d.mkdir(parents=True)
        conf = ctx.conf().clone()
        for k, v in EVENT_LOG_CONF.items():
            conf.set(k, v)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            ctx.applicationId(),
            jvm.scala.Option.empty(),
            jvm.java.net.URI(d.as_uri()),
            conf,
            self.sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        ctx.addSparkListener(self._listener)
        self.paths.append(str(d / ctx.applicationId()))
        return self

    def __exit__(self, *exc) -> None:
        ctx = self.sc._jsc.sc()
        ctx.listenerBus().waitUntilEmpty()
        ctx.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None


PY_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
}


def _stage_record() -> dict:
    return defaultdict(float, durations=[])


def parse_event_logs(paths: list[str]) -> dict:
    """parse_event_log over several logs of one application (job and
    stage ids are unique within it), merged."""
    logs = [parse_event_log(p) for p in paths]
    stages: dict = {}
    for log in logs:
        stages.update(log["stages"])
    return {
        "jobs": sorted((j for log in logs for j in log["jobs"]), key=lambda j: j["start"]),
        "stages": stages,
        "app_start": min((log["app_start"] for log in logs if log["app_start"]), default=None),
        "cached": sorted(c for log in logs for c in log["cached"]),
    }


def parse_event_log(path: str) -> dict:
    """Jobs, stages, cached-block history and application start time
    from one uncompressed, non-rolling Spark event log written with
    ``spark.eventLog.logBlockUpdates.enabled``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(_stage_record)
    executions: dict[int, str] = {}
    blocks: dict[str, int] = {}  # cached block -> bytes held now
    cached: list[tuple[float, int]] = []  # (time, total cached bytes)
    now = 0.0  # latest timestamp seen; block events carry none
    app_start = None
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerTaskEnd":
                st = stages[e["Stage ID"]]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                now = max(now, info["Finish Time"] / 1e3)
                st["tasks"] += 1
                st["durations"].append(info["Finish Time"] - info["Launch Time"])
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for a in info.get("Accumulables", []):
                    key = PY_METRICS.get(a.get("Name"))
                    if key is not None:
                        st[key] += float(a.get("Update") or 0)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                now = max(now, e["Submission Time"] / 1e3)
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "start": e["Submission Time"] / 1e3,
                    "end": None,
                    "stages": list(e.get("Stage IDs", [])),
                    "execution": props.get("spark.sql.execution.id"),
                    "call_site": props.get("callSite.short", ""),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages[e["Stage Info"]["Stage ID"]]["completed"] = 1
            elif kind == "SparkListenerBlockUpdated":
                b = e["Block Updated Info"]
                if b["Block ID"].startswith("rdd_"):
                    blocks[b["Block ID"]] = b["Memory Size"] + b["Disk Size"]
                    cached.append((now, sum(blocks.values())))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                executions[e["executionId"]] = e.get("description", "")
            elif kind == "SparkListenerApplicationStart":
                app_start = e["Timestamp"] / 1e3
    for j in jobs.values():
        if not j["call_site"] and j["execution"] is not None:
            j["call_site"] = executions.get(int(j["execution"]), "")
        if j["end"] is None:
            j["end"] = j["start"]
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j["start"]),
        "stages": stages,
        "app_start": app_start,
        "cached": cached,
    }


def peak_cached(cached: list[tuple[float, int]], lo: float, hi: float) -> int:
    """Largest total of cached RDD blocks held during [lo, hi]."""
    held = [b for t, b in cached if t <= lo]
    peak = held[-1] if held else 0
    return max([peak] + [b for t, b in cached if lo < t <= hi])


def attribute(jobs: list[dict], samples, default: str) -> None:
    """Set job['module'] and job['stack'] for every job: the innermost
    program frame the driver was in while the job ran; else the program
    file named in the job's call site; else ``default`` (the module the
    enclosing benchmark span called into)."""
    for j in jobs:
        stack = stack_at(samples, j["start"], j["end"])
        j["stack"] = [f"{m}:{fn}" for m, fn in stack]
        if stack:
            j["module"] = stack[-1][0]
            continue
        site = j.get("call_site", "")
        mod = program_frame(site.split(" at ", 1)[-1].rsplit(":", 1)[0])
        j["module"] = mod or default


def layer_table(jobs: list[dict], stages: dict) -> dict[str, dict]:
    """Per-module totals over the given (attributed) jobs. A stage that
    several jobs list (adaptive execution reuses shuffle stages) counts
    once, for the first job."""
    rows: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    seen: set[int] = set()
    for j in jobs:
        r = rows[j["module"]]
        r["jobs"] += 1
        intervals[j["module"]].append((j["start"], j["end"]))
        for sid in j["stages"]:
            st = stages.get(sid)
            if sid in seen or not st or not st.get("completed"):
                continue  # counted already, or skipped: ran no tasks
            seen.add(sid)
            r["stages"] += 1
            for k, v in st.items():
                if k not in ("durations", "completed"):
                    r[k] += v
    for mod, iv in intervals.items():
        rows[mod]["wall_s"] = union_length(iv)
    return rows


def worst_skew(stages: dict) -> float:
    """Largest max/median task duration over stages with >= 4 tasks."""
    worst = 1.0
    for st in stages.values():
        d = sorted(st["durations"])
        if len(d) >= 4 and d[len(d) // 2] > 0:
            worst = max(worst, d[-1] / d[len(d) // 2])
    return worst


COUNTS = ("jobs", "stages", "tasks")
COLUMNS = [
    ("jobs", "jobs", 1),
    ("stages", "stages", 1),
    ("tasks", "tasks", 1),
    ("wall_s", "job_wall_s", 1),
    ("task_s", "task_s", 1),
    ("cpu_s", "cpu_s", 1),
    ("gc_s", "gc_s", 1),
    ("python_run_ms", "py_run_s", 1e-3),
    ("shuffle_write_bytes", "shuf_w_MB", 1e-6),
    ("shuffle_read_bytes", "shuf_r_MB", 1e-6),
    ("spill_bytes", "spill_MB", 1e-6),
]


def format_table(rows: dict[str, dict], gap_s: float, title: str) -> str:
    """The per-layer table, one row per module plus the driver gap."""
    out = [title, f"{'layer':<30}" + "".join(f"{h:>11}" for _, h, _ in COLUMNS)]
    for mod in sorted(rows, key=lambda m: -rows[m]["wall_s"]):
        cells = []
        for key, _, scale in COLUMNS:
            v = rows[mod].get(key, 0) * scale
            cells.append(f"{int(v):>11d}" if key in COUNTS else f"{v:>11.3f}")
        out.append(f"{mod:<30}" + "".join(cells))
    out.append(f"{'driver gap (no job running)':<30}" + " " * 33 + f"{gap_s:>11.3f}")
    return "\n".join(out)
