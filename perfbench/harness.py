"""Pass runner, statistics, spans and Spark counters for the benchmark.

Nothing here imports pyspark: the Spark handles arrive as arguments, so
the pass runner and the statistics can be tested without a session.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

# The operator modules the benchmark attributes calls to, by
# ``fn.__module__`` (last dotted component).
LAYERS = (
    "text_analytics",
    "nlp_model",
    "doc_pipeline",
    "dedup",
    "similarity",
    "events",
    "relational",
    "relational_ext",
    "sql_api",
    "multimodal",
)

# name -> unit, for the 12 metrics every layer reports.
LAYER_METRICS = {
    "calls": "count",
    "build_s": "s",
    "force_s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "scan_bytes": "bytes",
    "python_rows": "count",
    "slot_util": "ratio",
    "failed": "count",
}

# Metrics of the benchmark's own client loop in a traced run: the
# traced pass time (minus the untraced ``pass_s`` gives the tracing
# overhead), the time spent reading counters inside it, and the peak
# resident memory of the driver JVM and its Python workers, which
# varies too much between runs to be an end-to-end metric.
CLIENT_METRICS = {"bench.pass_s": "s", "bench.trace_s": "s", "bench.peak_rss_mb": "MB"}

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Plan nodes that run rows through Python workers (Arrow or pickled).
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_DOT_NODE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b>(.*?)" tooltip=')
_DOT_ROWS = re.compile(r"number of output rows: ([\d,]+)")


def layer_of(fn: Callable) -> str:
    """The layer a query function belongs to: its module's last component."""
    return fn.__module__.rsplit(".", 1)[-1]


def per_layer_metric_names() -> dict[str, str]:
    """Every per-layer metric name (``<layer>.<metric>``) with its unit."""
    names = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in LAYER_METRICS.items()}
    names.update(CLIENT_METRICS)
    return names


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------
def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the ``numpy.percentile`` default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, cap: float = 90.0) -> float:
    """The highest percentile (at most ``cap``) with at least ten of ``n``
    samples beyond it; the median when there are too few samples for that."""
    if n <= 20:
        return 50.0
    return min(cap, 100.0 * (1.0 - 10.0 / n))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans: workload pass -> op -> build/force."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def start(self, name: str, kind: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(len(self.spans), parent.span_id if parent else None, name, kind,
                    time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        return span

    @staticmethod
    def end(span: Span) -> None:
        span.end = time.perf_counter()

    def as_json(self) -> list[dict]:
        return [
            {"id": s.span_id, "parent": s.parent, "name": s.name, "kind": s.kind,
             "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# the pass runner
# --------------------------------------------------------------------------
@dataclass
class OpResult:
    name: str
    layer: str
    build_s: float
    force_s: float
    error: str | None = None
    counters: dict | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.force_s


@dataclass
class PassResult:
    wall_s: float
    ops: list[OpResult]
    trace_s: float = 0.0


def run_pass(
    ops: list[tuple[str, Callable]],
    call: Callable[[Callable], object],
    force: Callable[[object], None],
    after_op: Callable[[str, object], None] | None = None,
    tracer: Tracer | None = None,
    counters: "SparkCounters | None" = None,
    label: str = "pass",
) -> PassResult:
    """Build and force every op once, in order; an op that raises is
    recorded and the pass goes on.

    ``call(fn)`` builds the op's DataFrame and ``force(df)`` executes it.
    ``after_op(name, df)`` (``df`` is None when the op raised) runs after
    each op; its time is left out of the pass time.  With ``tracer`` each
    op gets spans, and with ``counters`` its Spark jobs run under their
    own job group and their counters are read right after the op, outside
    the op's own timings but inside the pass time.
    """
    results: list[OpResult] = []
    trace_s = 0.0
    excluded_s = 0.0
    t_pass = time.perf_counter()
    pass_span = tracer.start(label, "pass") if tracer else None
    for name, fn in ops:
        layer = layer_of(fn)
        group = f"{label}:{name}"
        op_span = tracer.start(name, "op", pass_span, layer=layer, job_group=group) if tracer else None
        if counters is not None:
            t_c = time.perf_counter()
            counters.begin(group, name)
            trace_s += time.perf_counter() - t_c
        df = error = None
        t0 = t1 = time.perf_counter()
        span = tracer.start("build", "build", op_span) if tracer else None
        try:
            df = call(fn)
            t1 = time.perf_counter()
            if tracer:
                tracer.end(span)
                span = tracer.start("force", "force", op_span)
            force(df)
        except Exception as ex:  # a failing op is counted, never fatal
            df = None
            error = f"{type(ex).__name__}: {str(ex).splitlines()[0] if str(ex) else ''}"[:300]
            if t1 == t0:  # raised while building
                t1 = time.perf_counter()
        t2 = time.perf_counter()
        build_s, force_s = t1 - t0, t2 - t1
        if tracer:
            tracer.end(span)
        result = OpResult(name, layer, build_s, force_s, error)
        if counters is not None:
            t_c = time.perf_counter()
            result.counters = counters.collect(group)
            trace_s += time.perf_counter() - t_c
        if tracer:
            tracer.end(op_span)
            op_span.attrs.update(build_s=build_s, force_s=force_s, error=error,
                                 counters=result.counters)
        results.append(result)
        if after_op is not None:
            t_x = time.perf_counter()
            after_op(name, df)
            excluded_s += time.perf_counter() - t_x
    if tracer:
        tracer.end(pass_span)
        pass_span.attrs["excluded_s"] = excluded_s
    return PassResult(time.perf_counter() - t_pass - excluded_s, results, trace_s)


def op_failures(passes: list[PassResult]) -> tuple[int, int]:
    """(ops attempted, ops that raised) over ``passes``."""
    ops = [op for p in passes for op in p.ops]
    return len(ops), sum(op.error is not None for op in ops)


def layer_totals(passes: list[PassResult], cores: int) -> dict[str, float]:
    """Per-pass means of every per-layer metric over ``passes``."""
    acc = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_METRICS}
    run_s = {layer: 0.0 for layer in LAYERS}
    wall_s = {layer: 0.0 for layer in LAYERS}
    for p in passes:
        for op in p.ops:
            if op.layer not in run_s:
                raise KeyError(f"op {op.name} is in unknown layer {op.layer!r}")
            c = op.counters or {}
            key = op.layer + "."
            acc[key + "calls"] += 1
            acc[key + "failed"] += op.error is not None
            acc[key + "build_s"] += op.build_s
            acc[key + "force_s"] += op.force_s
            for m in ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes",
                      "scan_bytes", "python_rows"):
                acc[key + m] += c.get(m, 0)
            run_s[op.layer] += c.get("run_s", 0.0)
            wall_s[op.layer] += op.latency_s
    n = max(len(passes), 1)
    out = {k: v / n for k, v in acc.items()}
    for layer in LAYERS:
        busy = wall_s[layer] * cores
        out[f"{layer}.slot_util"] = run_s[layer] / busy if busy else 0.0
    out["bench.pass_s"] = median([p.wall_s for p in passes]) if passes else 0.0
    out["bench.trace_s"] = sum(p.trace_s for p in passes) / n
    return out


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------
class SparkCounters:
    """Reads Spark's own counters for one job group from the status stores.

    Jobs and stage attempts come from the application status store, the
    rows through Python eval nodes from the SQL status store's plan
    metrics.  Both stores are filled by the listener bus, so it is
    drained before every read.  The stores keep only
    ``spark.ui.retainedJobs/Stages/Executions`` entries, which is why
    the counters are read right after each op.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.bus.waitUntilEmpty()
        self.next_exec = self._first_free_execution()

    def _first_free_execution(self) -> int:
        ids = self.sql.executionsList()
        n = ids.size()
        return (max(ids.apply(i).executionId() for i in range(n)) + 1) if n else 0

    def begin(self, group: str, description: str) -> None:
        """Route the next op's jobs to ``group``, skipping the SQL
        executions anything else ran since the last read."""
        self.bus.waitUntilEmpty()
        self._python_rows()
        self.sc.setJobGroup(group, description)

    def collect(self, group: str) -> dict:
        self.bus.waitUntilEmpty()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        c = {"jobs": len(job_ids), "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0, "scan_bytes": 0}
        seen: set[int] = set()
        for jid in job_ids:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # evicted, or never submitted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["run_s"] += st.executorRunTime() / 1e3
                c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["scan_bytes"] += st.inputBytes()
        c["python_rows"] = self._python_rows()
        self.sc._jsc.clearJobGroup()
        return c

    def _python_rows(self) -> int:
        """Rows out of Python eval nodes in the SQL executions started since
        the last read (ops run one at a time, so they are this op's).
        Execution ids are sequential; up to two missing ids are stepped over."""
        rows = 0
        holes = 0
        eid = self.next_exec
        while holes < 3:
            opt = self.sql.execution(eid)
            eid += 1
            if opt.isEmpty():
                holes += 1
                continue
            holes = 0
            self.next_exec = eid
            dot = self.sql.planGraph(eid - 1).makeDotFile(self.sql.executionMetrics(eid - 1))
            for name, body in _DOT_NODE.findall(dot):
                if _PYTHON_NODE.search(name):
                    m = _DOT_ROWS.search(body)
                    rows += int(m.group(1).replace(",", "")) if m else 0
        return rows


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of a process tree in a thread; ``peak``
    holds the highest sum seen."""

    def __init__(self, root_pid: int, interval_s: float = 0.1) -> None:
        self.root = root_pid
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
