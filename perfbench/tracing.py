"""Outside-in instrumentation: spans, Spark job groups, Py4J command counts,
Catalyst phase times, the uncompressed event log, and a process-tree RSS
sampler.

A span is opened around every call into a layer.  Each span runs its jobs
under its own Spark job group, so jobs, stages, tasks and executor metrics
can be attributed to the span afterwards; the previous group is restored
when the span closes, because a job group stays set on the thread until it
is replaced.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak resident set of a process and all of its descendants (the
    Python driver, the JVM and the Python workers), sampled from /proc.

    A child the JVM has spawned but not yet exec'd still runs the JVM's
    binary and shares its pages, so it would read as a second copy of the
    JVM; such children are left out.  The JVM spawns them for file-system
    commands (chmod, rm) during every write."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _tree_rss(self) -> int:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(name))
        total, todo = 0, [(self.pid, None)]
        while todo:
            p, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{p}/exe")
                if exe == parent_exe and exe.endswith("/java"):
                    continue
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
            except OSError:
                continue
            todo.extend((k, exe) for k in children.get(p, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


class Py4jCounter:
    """Counts Py4J commands per thread by wrapping the client-server
    connection's ``send_command``; only installed for traced runs."""

    def __init__(self) -> None:
        self.local = threading.local()

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        local = self.local

        @functools.wraps(orig)
        def send_command(conn, command):
            if not getattr(local, "paused", False):
                local.n = getattr(local, "n", 0) + 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command

    def count(self) -> int:
        return getattr(self.local, "n", 0)

    @contextmanager
    def paused(self):
        self.local.paused = True
        try:
            yield
        finally:
            self.local.paused = False


class Tracer:
    """Records one span per layer call.  Disabled tracers cost one branch
    per call and record nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.py4j = Py4jCounter()
        if enabled:
            self.py4j.install()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, fn: str, trace_id=None):
        """Yields a dict the caller may add attributes to."""
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = f"span-{sid}"
        with self.py4j.paused():
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, f"{layer}:{fn}")
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": trace_id if trace_id is not None else (parent or {}).get("trace"),
            "layer": layer,
            "fn": fn,
            "group": group,
            "thread": threading.get_ident(),
        }
        stack.append(rec)
        p0 = self.py4j.count()
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter()
            rec["start"], rec["end"] = t0, t1
            rec["py4j"] = self.py4j.count() - p0
            stack.pop()
            with self.py4j.paused():
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, "")
            with self._lock:
                self.spans.append(rec)
                self.self_s += (t0 - t_in) + (time.perf_counter() - t1)

    def wrap(self, layer: str, fn):
        """``fn`` with a span around every call; ``fn`` itself when off."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(layer, fn.__name__):
                return fn(*a, **kw)

        return traced

    def patch(self, owner, name: str, layer: str) -> None:
        """Replace ``owner.name`` (a module global or a class method) with a
        traced wrapper, so calls the engine makes internally get spans too."""
        if self.enabled:
            setattr(owner, name, self.wrap(layer, getattr(owner, name)))

    def catalyst_ms(self, df) -> float:
        """Analysis + optimization + planning time Catalyst recorded for
        ``df``'s last execution."""
        if not self.enabled:
            return 0.0
        t = time.perf_counter()
        with self.py4j.paused():
            phases = df._jdf.queryExecution().tracker().phases()
            total = 0.0
            for k in ("analysis", "optimization", "planning"):
                if phases.contains(k):
                    total += phases.get(k).get().durationMs()
        with self._lock:
            self.self_s += time.perf_counter() - t
        return total

    def group_counts(self, group: str) -> Counter:
        """Jobs, stages, tasks and failed tasks of a job group, from the
        live status tracker."""
        st = self.spark.sparkContext.statusTracker()
        c: Counter = Counter()
        with self.py4j.paused():
            for jid in st.getJobIdsForGroup(group):
                c["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    s = st.getStageInfo(sid)
                    if s is None:
                        continue
                    c["stages"] += 1
                    c["tasks"] += s.numTasks
                    c["failed_tasks"] += s.numFailedTasks
        return c

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time, as one JSON list."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**s, "self_s": own[s["id"]]} for s in self.spans], f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids[s["id"]]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# Python-kernel classes, keyed by the function name Spark prints in the
# plan node (MapInArrow / ArrowEvalPython / MapInPandas simpleString).
KERNELS = (
    ("count_tokens", "analysis"),
    ("decode_", "decode"),
    ("kernel(", "encode"),
    ("encode", "encode"),
)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def _kernel_class(simple: str) -> str:
    for needle, cls in KERNELS:
        if needle in simple:
            return cls
    return "other"


def read_event_log(log_dir: str) -> dict[str, Counter]:
    """Per job group: jobs, stages, tasks, failed tasks, executor run / CPU /
    GC time, shuffle-write and spill bytes, and Python-worker run time and
    bytes sent, split by kernel class.  Reads the uncompressed JSON event
    log Spark writes under ``log_dir`` (complete once the context stopped)."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("events_") or name.startswith("local-"):
                with open(os.path.join(root, name)) as f:
                    events.extend(json.loads(line) for line in f if line.strip())
    acc_kind: dict[int, tuple[str, str]] = {}

    def walk(node):
        yield node
        for c in node.get("children", ()):
            yield from walk(c)

    for e in events:
        if "sparkPlanInfo" in e:
            for node in walk(e["sparkPlanInfo"]):
                for m in node.get("metrics", ()):
                    if m["name"] in (PY_RUN, PY_SENT):
                        acc_kind[m["accumulatorId"]] = (m["name"], _kernel_class(node["simpleString"]))
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
            out[g]["jobs"] += 1
        elif ev == "SparkListenerStageSubmitted":
            out[stage_group.get(e["Stage Info"]["Stage ID"])]["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            c = out[stage_group.get(e["Stage ID"])]
            c["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                kind = acc_kind.get(a.get("ID"))
                if kind is None:
                    continue
                key = "py_run_ms" if kind[0] == PY_RUN else "py_sent_bytes"
                c[f"{key}.{kind[1]}"] += int(a.get("Update") or 0)
                c[key] += int(a.get("Update") or 0)
    return out
