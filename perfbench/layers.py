"""Layer tracing and per-layer metrics for the traced benchmark run.

``Tracer.install`` replaces layer entry points of the engine with timing
wrappers from outside the package (module attributes and class methods;
every package module that bound the same function by name gets the
wrapper too). Each call records a span ``(name, start, end, parent, op)``
in memory. After each traced operation, ``Tracer.harvest`` reads the
SQL executions and jobs that operation started from Spark's status
stores (both work with the UI disabled) and attributes each execution to
the innermost span that was open when it was submitted.

The untraced run never constructs a ``Tracer``, so it installs nothing.
"""

from __future__ import annotations

import importlib
import re
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark"

#: span name -> (module, attribute) of the wrapped entry point. Dotted
#: attributes name a class method.
ENTRY_POINTS = {
    "session.start": ("session", "get_spark"),
    "api.submit": ("api.service", "IngestService.ingest_partition"),
    "ingest.plan": ("plans.ingest", "plan_partition_ingest"),
    "ingest.run": ("plans.ingest", "run_partition_ingest"),
    "probe": ("sources.probe", "partition_exists"),
    "hive_csv.build": ("sources.hive_csv", "read_hive_partition"),
    "sink": ("operators.sink", "write_partition_overwrite"),
    "landing.read": ("operators.sink", "read_landing_table"),
    "zonemap.refresh": ("operators.zonemap", "refresh_zone_map"),
    "zonemap.skip": ("operators.zonemap", "skipping_scan"),
    "zonemap.file_zone_map": ("operators.zonemap", "file_zone_map"),
    "guard": ("plans.guard", "assert_partition_filtered"),
}
#: Entry points only counted per operation (a span per status poll would
#: cost more than the poll).
COUNTED = {"api.poll": ("api.service", "IngestService.job_status")}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    thread: str = ""
    depth: int = 0
    result: object = None


@dataclass
class Execution:
    """One SQL execution read back from the status store."""

    exec_id: int
    start_ms: int
    end_ms: int
    metrics: dict[str, list[str]]
    write_rows: int | None
    job_ids: list[int]
    span: int | None = None
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class OpRecord:
    op: int
    kind: str
    root: int
    executions: list[Execution] = field(default_factory=list)
    spark: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    marks: dict[str, float] = field(default_factory=dict)
    notes: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.enabled = False
        self._op: OpRecord | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._last_exec = -1
        self._last_job = -1

    # --- installation ------------------------------------------------------

    def install(self) -> None:
        for name, (mod_name, attr) in {**ENTRY_POINTS, **COUNTED}.items():
            module = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(module, cls_name)
                setattr(cls, meth, self._wrap(name, getattr(cls, meth)))
                continue
            original = getattr(module, attr)
            wrapper = self._wrap(name, original)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG) and getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
        # the registry runs each job's action on its own thread: time the
        # action there, as a child of the operation that submitted it
        from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.plans.jobs import JobRegistry

        submit = JobRegistry.submit
        tracer = self

        def traced_submit(registry, meta, action):
            if not tracer.enabled:
                return submit(registry, meta, action)
            op = tracer._op

            def traced_action():
                return tracer._call("jobs.run", action, (), {}, op=op)

            return submit(registry, meta, traced_action)

        JobRegistry.submit = traced_submit

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if name in COUNTED:
                if tracer._op is not None:
                    tracer._op.counts[name] = tracer._op.counts.get(name, 0) + 1
                return fn(*args, **kwargs)
            return tracer._call(name, fn, args, kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    # --- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, op: OpRecord | None) -> int:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = op.root if op is not None else None
        depth = self.spans[parent].depth + 1 if parent is not None else 0
        span = Span(
            name,
            time.perf_counter(),
            parent=parent,
            op=op.op if op is not None else None,
            thread=threading.current_thread().name,
            depth=depth,
        )
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    def _call(self, name, fn, args, kwargs, op: OpRecord | None = None):
        idx = self._open(name, op if op is not None else self._op)
        try:
            result = fn(*args, **kwargs)
            self.spans[idx].result = _summary(name, result)
            return result
        finally:
            self._close(idx)

    def begin_op(self, op: int, kind: str) -> None:
        """Open the root span of one benchmark operation."""
        self._op = None
        root = self._open(kind, None)
        self.spans[root].op = op
        self._op = OpRecord(op, kind, root)

    def end_op(self) -> OpRecord:
        rec = self._op
        self._close(rec.root)
        self._op = None
        self.ops.append(rec)
        return rec

    def mark(self, name: str) -> None:
        """Time stamp inside the current operation (e.g. terminal state seen)."""
        if self._op is not None:
            self._op.marks[name] = time.perf_counter()

    def note(self, **values) -> None:
        if self._op is not None:
            self._op.notes.update(values)

    def mark_epoch(self, spark, new_context: bool = False) -> None:
        """Skip every execution and job started so far (input generation,
        set-up, untraced operations): the next harvest sees only what the
        next traced operation starts. Job ids restart with each Spark
        context; execution ids do not."""
        sql, core = _stores(spark)
        for ui in _recent_executions(sql):
            self._last_exec = max(self._last_exec, ui.executionId())
        if new_context:
            self._last_job = -1
        while True:
            try:
                core.job(self._last_job + 1)
            except Py4JJavaError:  # no such job id yet
                break
            self._last_job += 1

    # --- status-store harvest ----------------------------------------------

    def harvest(self, spark, rec: OpRecord, epoch_offset: float) -> None:
        """Attach the SQL executions and Spark totals ``rec`` started.
        ``epoch_offset`` converts ``perf_counter`` to wall-clock seconds."""
        sql, core = _stores(spark)
        op_spans = [i for i, s in enumerate(self.spans) if s.op == rec.op]
        for ui in _recent_executions(sql):
            if ui.executionId() <= self._last_exec:
                continue
            ex = _read_execution(sql, core, ui)
            ex.span = _innermost(self.spans, op_spans, ex.start_ms / 1000.0 - epoch_offset)
            rec.executions.append(ex)
        rec.executions.sort(key=lambda e: e.exec_id)
        if rec.executions:
            self._last_exec = rec.executions[-1].exec_id
        totals = dict.fromkeys(
            ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        while True:
            try:
                job = core.job(self._last_job + 1)
            except Py4JJavaError:  # no such job id yet
                break
            self._last_job += 1
            totals["jobs"] += 1
            totals["tasks"] += job.numTasks()
            for st in _stages(core, job):
                totals["executor_run_s"] += st.executorRunTime() / 1000.0
                totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
                totals["gc_s"] += st.jvmGcTime() / 1000.0
                totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec.spark = totals

    # --- attribution -------------------------------------------------------

    def self_times(self, rec: OpRecord) -> dict[str, float]:
        """Split the operation's wall time over its spans: every instant
        goes to the deepest span open at that instant (the latest-started
        one on ties, i.e. the worker thread over the waiting caller). The
        root span's share is the time no layer covers. The parts add up
        to the root span's duration exactly."""
        ids = [i for i, s in enumerate(self.spans) if s.op == rec.op]
        root = self.spans[rec.root]
        cuts = sorted({root.start, root.end, *(self.spans[i].start for i in ids), *(self.spans[i].end for i in ids)})
        out: dict[str, float] = {}
        for a, b in zip(cuts, cuts[1:]):
            if b <= root.start or a >= root.end:
                continue
            live = [i for i in ids if self.spans[i].start <= a and self.spans[i].end >= b]
            best = max(live, key=lambda i: (self.spans[i].depth, self.spans[i].start))
            name = "uncovered" if best == rec.root else self.spans[best].name
            out[name] = out.get(name, 0.0) + (b - a)
        return out


def _summary(name: str, result):
    """The part of a wrapped call's result the metrics need."""
    if name == "probe":
        return int(result)
    if name == "zonemap.skip":
        return (result[1], result[2])
    return None


def _recent_executions(sql, window: int = 64) -> list:
    """The newest executions in the SQL store, oldest first (the store
    keeps them ordered by id)."""
    n = sql.executionsCount()
    it = sql.executionsList(max(0, n - window), window).iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _stores(spark):
    sql = spark._jsparkSession.sharedState().statusStore()
    core = spark.sparkContext._jsc.sc().statusStore()
    return sql, core


def _stages(core, job):
    it = job.stageIds().iterator()
    while it.hasNext():
        try:
            yield core.lastStageAttempt(it.next())
        except Py4JJavaError:  # stage never submitted (skipped)
            continue


def _innermost(spans: list[Span], ids: list[int], t: float) -> int | None:
    # millisecond submission stamps: widen each span by 1 ms
    hits = [i for i in ids if spans[i].start - 0.001 <= t <= spans[i].end + 0.001]
    if not hits:
        return None
    return max(hits, key=lambda i: (spans[i].depth, spans[i].start))


def _read_execution(sql, core, ui) -> Execution:
    eid = ui.executionId()
    values = sql.executionMetrics(eid)
    metrics: dict[str, list[str]] = {}
    seen: set[int] = set()
    it = ui.metrics().iterator()
    while it.hasNext():
        m = it.next()
        acc = m.accumulatorId()
        if acc in seen:  # adaptive plans list a node's metrics twice
            continue
        seen.add(acc)
        v = values.get(acc)
        if v.isDefined():
            metrics.setdefault(m.name(), []).append(v.get())
    write_rows = None
    if "number of written files" in metrics:
        write_rows = _write_node_rows(sql, eid, values)
    end = ui.completionTime()
    start_ms = ui.submissionTime()
    job_ids = []
    jt = ui.jobs().keySet().iterator()
    while jt.hasNext():
        job_ids.append(jt.next())
    ex = Execution(
        eid,
        start_ms,
        end.get().getTime() if end.isDefined() else start_ms,
        metrics,
        write_rows,
        job_ids,
    )
    for jid in job_ids:
        try:
            job = core.job(jid)
        except Py4JJavaError:  # job evicted from the store
            continue
        for st in _stages(core, job):
            ex.input_bytes += st.inputBytes()
            ex.output_bytes += st.outputBytes()
    return ex


def _write_node_rows(sql, eid: int, values) -> int | None:
    """``number of output rows`` of the write command node itself."""
    nodes = sql.planGraph(eid).allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        if "InsertIntoHadoopFsRelationCommand" not in node.name():
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                return parse_metric(v.get()) if v.isDefined() else None
    return None


_UNITS = {
    "B": 1,
    "KiB": 2**10,
    "MiB": 2**20,
    "GiB": 2**30,
    "TiB": 2**40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "ns": 1e-9,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'376,596'``, ``'8.7 MiB'``,
    ``'6 ms'``, or the total line of a ``'total (min, med, max ...)'``
    block. Sizes come back in bytes and times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if m is None:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1)


# --- per-layer metrics -------------------------------------------------------

LOAD_KINDS = ("load", "reload")
READ_KINDS = ("hour_read", "skip_scan", "monitor_scan")

#: Per-layer metric -> unit, in BENCHMARK.json order. Span times are the
#: median per operation of the layer's inclusive time; SQL figures come
#: from the executions attributed to the layer's span.
PER_LAYER = {
    "api.submit_s": "s",
    "jobs.run_s": "s",
    "jobs.poll_lag_s": "s",
    "jobs.polls_per_load": "count",
    "ingest.plan_s": "s",
    "probe.s": "s",
    "probe.calls": "count",
    "probe.misses": "count",
    "hive_csv.build_s": "s",
    "hive_csv.bytes_read": "B",
    "hive_csv.files_read": "count",
    "sink.s": "s",
    "sink.empty_check_s": "s",
    "sink.write_s": "s",
    "sink.job_commit_s": "s",
    "sink.rows_written": "count",
    "sink.files_written": "count",
    "sink.bytes_written": "B",
    "sink.dynamic_parts": "count",
    "sink.sql_executions_per_load": "count",
    "landing.read_build_s": "s",
    "zonemap.refresh_s": "s",
    "zonemap.refresh_bytes_read": "B",
    "zonemap.skip_files_read": "count",
    "zonemap.skip_files_total": "count",
    "zonemap.skip_useful_ratio": "ratio",
    "zonemap.store_fallbacks": "count",
    "guard.s": "s",
    "session.start_s": "s",
    "spark.jobs_per_load": "count",
    "spark.tasks_per_load": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.uncovered_s": "s",
    "trace.overhead_ratio": "ratio",
}


def median(values) -> float:
    """Median, 0.0 for no samples."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_metrics(tracer: Tracer, samples: list[dict]) -> tuple[dict[str, float], dict]:
    """Per-layer metrics over the traced operations, plus the additivity
    example: one load's self times, which sum to its traced latency.
    ``samples[i]`` is the benchmark's record of operation ``i``."""
    spans = tracer.spans

    def of(rec, name):
        return [s for s in spans if s.op == rec.op and s.name == name]

    def total(rec, name):
        return sum((s.end - s.start for s in of(rec, name)), 0.0)

    def under(idx, name) -> bool:
        while idx is not None:
            if spans[idx].name == name:
                return True
            idx = spans[idx].parent
        return False

    loads = [r for r in tracer.ops if r.kind in LOAD_KINDS]
    wrote = [r for r in loads if of(r, "sink")]
    reads = [r for r in tracer.ops if r.kind in READ_KINDS]
    guarded = [r for r in reads if of(r, "guard")]
    skips = [r for r in tracer.ops if r.kind == "skip_scan"]
    loop = [r for r in tracer.ops if samples[r.op]["phase"] == "loop"]

    def execs(rec, name, writes: bool | None = None):
        out = []
        for ex in rec.executions:
            if ex.span is None or spans[ex.span].name != name:
                continue
            if writes is None or (ex.write_rows is not None) == writes:
                out.append(ex)
        return out

    def write_metric(rec, metric):
        exs = execs(rec, "sink", writes=True)
        return sum(parse_metric(v) for ex in exs for v in ex.metrics.get(metric, []))

    def guard_self(rec):
        inside = sum(s.end - s.start for s in of(rec, "guard") if under(s.parent, "landing.read"))
        return total(rec, "landing.read") - inside

    out = {
        "api.submit_s": median(total(r, "api.submit") for r in loads),
        "jobs.run_s": median(total(r, "jobs.run") for r in loads),
        "jobs.poll_lag_s": median(
            r.marks["terminal_seen"] - max(s.end for s in of(r, "sink"))
            for r in wrote
            if "terminal_seen" in r.marks
        ),
        "jobs.polls_per_load": _mean(r.counts.get("api.poll", 0) for r in loads),
        "ingest.plan_s": median(total(r, "ingest.plan") for r in loads),
        "probe.s": median(total(r, "probe") for r in loads),
        "probe.calls": _mean(len(of(r, "probe")) for r in loads),
        "probe.misses": _mean(sum(1 for s in of(r, "probe") if s.result == 0) for r in loads),
        "hive_csv.build_s": median(total(r, "hive_csv.build") for r in loads),
        "hive_csv.bytes_read": median(sum(ex.input_bytes for ex in execs(r, "sink", True)) for r in wrote),
        "hive_csv.files_read": median(write_metric(r, "number of files read") for r in wrote),
        "sink.s": median(total(r, "sink") for r in loads),
        "sink.empty_check_s": median(
            sum(ex.end_ms - ex.start_ms for ex in execs(r, "sink", False)) / 1000.0 for r in wrote
        ),
        "sink.write_s": median(
            sum(ex.end_ms - ex.start_ms for ex in execs(r, "sink", True)) / 1000.0 for r in wrote
        ),
        "sink.job_commit_s": median(write_metric(r, "job commit time") for r in wrote),
        "sink.rows_written": median(
            sum(ex.write_rows or 0 for ex in execs(r, "sink", True)) for r in wrote
        ),
        "sink.files_written": median(write_metric(r, "number of written files") for r in wrote),
        "sink.bytes_written": median(sum(ex.output_bytes for ex in execs(r, "sink", True)) for r in wrote),
        "sink.dynamic_parts": median(write_metric(r, "number of dynamic part") for r in wrote),
        "sink.sql_executions_per_load": median(
            sum(1 for ex in r.executions if ex.span is not None and under(ex.span, "sink")) for r in wrote
        ),
        "landing.read_build_s": median(guard_self(r) for r in guarded),
        "zonemap.refresh_s": median(total(r, "zonemap.refresh") for r in wrote),
        "zonemap.refresh_bytes_read": median(
            sum(ex.input_bytes for ex in execs(r, "zonemap.refresh")) for r in wrote
        ),
        "zonemap.skip_files_read": median(s.result[0] for r in skips for s in of(r, "zonemap.skip")),
        "zonemap.skip_files_total": median(s.result[1] for r in skips for s in of(r, "zonemap.skip")),
        "zonemap.skip_useful_ratio": median(
            r.notes["skip_files_useful"] / s.result[0]
            for r in skips
            for s in of(r, "zonemap.skip")
            if s.result[0] and "skip_files_useful" in r.notes
        ),
        "zonemap.store_fallbacks": _mean(
            sum(1 for i, s in enumerate(spans) if s.op == r.op and s.name == "zonemap.file_zone_map" and under(i, "zonemap.skip"))
            for r in skips
        ),
        "guard.s": median(total(r, "guard") for r in guarded),
        "session.start_s": median(s.end - s.start for s in spans if s.name == "session.start"),
    }
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        name = {"jobs": "spark.jobs_per_load", "tasks": "spark.tasks_per_load"}.get(key, f"spark.{key}")
        out[name] = median(r.spark.get(key, 0.0) for r in loop)
    out["trace.uncovered_s"] = median(tracer.self_times(r).get("uncovered", 0.0) for r in loads)
    out["trace.overhead_ratio"] = _overhead(samples)

    example = {}
    sample_load = next((r for r in wrote if samples[r.op]["phase"] == "loop"), wrote[0] if wrote else None)
    if sample_load is not None:
        parts = tracer.self_times(sample_load)
        root = spans[sample_load.root]
        example = {
            "op": sample_load.op,
            "kind": sample_load.kind,
            "latency_s": root.end - root.start,
            "self_s": parts,
            "uncovered_s": parts.get("uncovered", 0.0),
            "sum_self_s": sum(parts.values()),
        }
    return out, example


def _overhead(samples: list[dict]) -> float:
    """Median over loop operation kinds of traced / untraced median
    latency (loop operations alternate between the two)."""
    ratios = []
    for kind in {s["kind"] for s in samples if s["phase"] == "loop"}:
        on = [s["s"] for s in samples if s["phase"] == "loop" and s["kind"] == kind and s["traced"]]
        off = [s["s"] for s in samples if s["phase"] == "loop" and s["kind"] == kind and not s["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return median(ratios)


def sidecar(tracer: Tracer, samples: list[dict], metrics: dict, example: dict) -> dict:
    """Everything the traced run recorded, for the sidecar file."""
    return {
        "per_layer": metrics,
        "additivity_example": example,
        "operations": [
            {
                **samples[r.op],
                "op": r.op,
                "self_s": tracer.self_times(r),
                "counts": r.counts,
                "spark": r.spark,
                "executions": [
                    {
                        "id": ex.exec_id,
                        "span": tracer.spans[ex.span].name if ex.span is not None else None,
                        "s": (ex.end_ms - ex.start_ms) / 1000.0,
                        "input_bytes": ex.input_bytes,
                        "output_bytes": ex.output_bytes,
                        "write_rows": ex.write_rows,
                        "jobs": ex.job_ids,
                    }
                    for ex in r.executions
                ],
            }
            for r in tracer.ops
        ],
        "spans": [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "thread": s.thread,
            }
            for s in tracer.spans
        ],
    }
