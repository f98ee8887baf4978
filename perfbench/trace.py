"""Traced run: spans around the program's public functions, Spark's event
log grouped by span, and the per-layer metrics derived from both.

A span records (id, name, parent, thread, start, end, attrs). Each span
sets the Spark job description of its own thread to ``span:<id>`` while it
is open, so every job in the event log names the innermost span that
submitted it. This also holds on the pipeline's extension thread, because
PySpark pins each Python thread to its own JVM thread. Spans stay in
memory and are written out when the run ends.

Only the traced run installs the wrappers (``install``); the untraced run
that yields the end-to-end metrics executes the program unmodified.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PREFIX = "span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    """One Spark job from the event log with its tasks' metrics summed."""
    id: int
    span: int | None
    start: float
    end: float
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python_bytes: int = 0


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    description each span sets, or None when no Spark runs (tests). A
    disabled tracer records nothing and touches no job description."""

    def __init__(self, enabled: bool = True, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent of spans opened outside any other span: the operation
        # being measured
        self.root: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self._base()

    def enclosing(self, name: str) -> Span | None:
        """Innermost open span of this thread called ``name``."""
        for s in reversed(self._stack()):
            if s.name == name:
                return s
        return None

    def _base(self) -> Span | None:
        return getattr(self._local, "base", None)

    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                f"{SPAN_PREFIX}{span.id}" if span else None)

    def carry(self, fn):
        """``fn`` that, wherever it runs, opens its spans under the span
        open here and now, and submits its jobs in that span's name: how
        work handed to a thread pool stays inside the span that handed it
        over."""
        parent = self.current()

        @functools.wraps(fn)
        def carried(*args, **kwargs):
            self._local.base = parent
            self._describe(parent)
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.base = None
                self._describe(None)
        return carried

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        outer = self.current()
        parent = outer.id if outer is not None else self.root
        with self._lock:
            s = Span(len(self.spans), name, parent,
                     threading.current_thread().name, time.time(),
                     attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._describe(self.current())

    def wrap(self, name, fn):
        """``fn`` with every call recorded as a span. ``name`` is a string
        or a function of the call's arguments returning one."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            with self.span(n):
                return fn(*args, **kwargs)
        return traced


# -- interval arithmetic ------------------------------------------------------

def union(intervals) -> list[tuple[float, float]]:
    """Sorted disjoint cover of the given (start, end) intervals."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one interval."""
    return sum(max(0.0, min(b, hi) - max(a, lo))
               for a, b in union(intervals))


def intersect(xs, ys) -> float:
    """Seconds covered by both interval sets."""
    total = 0.0
    for a, b in union(xs):
        total += covered(ys, a, b)
    return total


def children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, kids: list[Span]) -> float:
    """Duration minus the part of it that child spans cover; concurrent
    children count once."""
    return span.dur - covered([(k.start, k.end) for k in kids],
                              span.start, span.end)


def subtree(spans: list[Span], root: int) -> set[int]:
    kids = children(spans)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(k.id for k in kids.get(sid, ()))
    return out


# -- Spark event log ----------------------------------------------------------

_PY_BYTES = ("data sent to Python workers",
             "data returned from Python workers")


def parse_event_log(lines) -> list[Job]:
    """Jobs of an uncompressed Spark event log (an iterable of JSON lines)
    with their tasks' metrics summed; each job carries the span id parsed
    from its ``spark.job.description``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            span = (int(desc[len(SPAN_PREFIX):])
                    if desc and desc.startswith(SPAN_PREFIX) else None)
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, span, ev["Submission Time"] / 1000.0,
                            ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.task_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read += (rd.get("Remote Bytes Read", 0)
                                 + rd.get("Local Bytes Read", 0))
            job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job.spill += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Name") in _PY_BYTES:
                    job.python_bytes += int(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def read_event_log(directory: str) -> list[Job]:
    """Jobs of the one application Spark logged under ``directory``: a
    single file, or a rolling-log directory of ``events_<n>_*`` parts."""
    names = os.listdir(directory)
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {names}")
    path = os.path.join(directory, names[0])
    parts = [path]
    if os.path.isdir(path):
        parts = sorted((os.path.join(path, n) for n in os.listdir(path)
                        if n.startswith("events_")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))

    def lines():
        for part in parts:
            with open(part) as f:
                yield from f
    return parse_event_log(lines())


# -- per-layer metrics -------------------------------------------------------

# checkpoint stage -> (layer, metric timing that stage's writes)
STAGES = {
    "vocab": ("bags", "bags.vocab_s"),
    "bags": ("bags", "bags.bags_s"),
    "signatures": ("hashst", "hashst.signatures_s"),
    "bands": ("hashst", "hashst.bands_s"),
    "simhash_pairs": ("candidates", "candidates.simhash_pairs_s"),
    "substring_fp": ("candidates", "candidates.substring_fp_s"),
    "substring_membership": ("candidates", "candidates.membership_s"),
    "cc": ("cc", None),
    "clusters": ("cc", "cc.clusters_s"),
}
WRITES = ("checkpoint.write", "checkpoint.append",
          "checkpoint.overwrite_partitions")
INCREMENTAL_PHASES = ("fingerprint", "delta_stages", "extensions",
                      "inc_cc", "cc_write")
# spans that only group the calls of one operation; time inside them that
# no other span covers is the operation's unattributed remainder
CONTAINERS = ("op", "op.build", "op.append", "pipeline.run_pipeline",
              "incremental.append_images")
# metrics that describe the run, not one operation: never averaged
PER_RUN = ("session.start_s", "cc.fixpoint")


def _stage_of(name: str) -> str | None:
    kind, _, stage = name.partition(":")
    return stage if kind in WRITES else None


def _layer_of(name: str) -> str | None:
    return STAGES.get(_stage_of(name) or "", (None, None))[0]


def layer_metrics(spans: list[Span], jobs: list[Job], ops: list[int],
                  cores: int, queries: tuple[str, ...] = (),
                  extra: dict | None = None) -> dict[str, float]:
    """Per-layer metrics of the operations whose root spans are ``ops``:
    means per operation, except the ``PER_RUN`` ones. ``extra`` holds
    values the workload measured itself (append phase timings, the
    ladder's verify yield), already per operation."""
    by_id = {s.id: s for s in spans}
    kids = children(spans)
    in_op: set[int] = set()
    for op in ops:
        in_op |= subtree(spans, op)
    mine = [s for s in spans if s.id in in_op]
    op_jobs = [j for j in jobs if j.span in in_op]
    n = max(1, len(ops))
    extra = extra or {}
    m: dict[str, float] = {}

    def total(pred) -> float:
        return sum(s.dur for s in mine if pred(s.name))

    def jobs_under(pred) -> list[Job]:
        ids: set[int] = set()
        for s in mine:
            if pred(s.name):
                ids |= subtree(spans, s.id)
        return [j for j in op_jobs if j.span in ids]

    m["session.start_s"] = sum(s.dur for s in spans
                               if s.name == "session.start")

    # checkpoint layer: a write's span covers producing its data too,
    # because the write is what forces the stage's lazy plan
    writes = [s for s in mine if _stage_of(s.name)]
    write_ids = {s.id for s in writes}
    m["checkpoint.writes"] = len(writes)
    for kind, metric in zip(WRITES, ("write_s", "append_s", "overwrite_s")):
        m[f"checkpoint.{metric}"] = total(
            lambda x, k=kind: x.startswith(k + ":"))
    m["checkpoint.readback_s"] = sum(
        s.dur for s in mine
        if s.name.startswith("checkpoint.load:") and s.parent in write_ids)
    m["checkpoint.metrics_flush_s"] = total(
        lambda x: x == "checkpoint.metrics_flush")
    m["checkpoint.manifest_s"] = total(lambda x: x == "checkpoint.manifest")
    m["checkpoint.bytes_written"] = sum(s.attrs.get("bytes", 0)
                                        for s in writes)
    m["checkpoint.files_written"] = sum(s.attrs.get("files", 0)
                                        for s in writes)

    # stage layers
    for stage, (_, metric) in STAGES.items():
        if metric:
            m[metric] = total(lambda x, st=stage: _stage_of(x) == st)
    for layer in ("bags", "hashst", "candidates"):
        js = jobs_under(lambda x, ly=layer: _layer_of(x) == ly)
        m[f"{layer}.task_s"] = sum(j.task_s for j in js)
        if layer != "candidates":
            m[f"{layer}.shuffle_bytes"] = sum(j.shuffle_write for j in js)
        if layer == "hashst":
            m["hashst.python_bytes"] = sum(j.python_bytes for j in js)
    # pool-thread work beside main-thread work (the extension chain beside
    # the signature chain); main-thread spans that merely wait on pool
    # work they handed over do not count
    pooled = [s for s in mine if s.thread != "MainThread"]
    waiting: set[int] = set()
    for s in pooled:
        p = s.parent
        while p is not None and p not in waiting:
            waiting.add(p)
            p = by_id[p].parent
    m["pipeline.overlap_s"] = intersect(
        [(s.start, s.end) for s in mine
         if s.thread == "MainThread" and s.id not in waiting],
        [(s.start, s.end) for s in pooled])

    # cc layer
    cc_calls = [s for s in mine if s.name in ("cc.union_find",
                                              "cc.fixpoint")]
    m["cc.edges"] = sum(s.attrs.get("edges", 0) for s in cc_calls)
    m["cc.fixpoint"] = float(any(s.name == "cc.fixpoint" for s in mine))
    m["cc.dispatch_s"] = total(lambda x: x == "cc.dispatch")
    m["cc.union_find_s"] = total(lambda x: x == "cc.union_find")
    m["cc.fixpoint_rounds"] = sum(s.attrs.get("rounds", 0) for s in mine
                                  if s.name == "cc.fixpoint")
    m["cc.fixpoint_s"] = total(lambda x: x == "cc.fixpoint")
    m["cc.jobs"] = len(jobs_under(lambda x: x.startswith("cc.")))

    # incremental layer
    for phase in INCREMENTAL_PHASES:
        m[f"incremental.{phase}_s"] = extra.get(
            f"incremental.{phase}_s", 0.0) * n
    m["pipeline.build_s"] = total(lambda x: x == "op.build")
    m["incremental.append_s"] = total(lambda x: x == "op.append")
    m["incremental.jobs"] = len(jobs_under(
        lambda x: x == "incremental.append_images"))

    # ops.* through the ladder's query spans
    for q in queries:
        js = jobs_under(lambda x, qq=q: x == f"query.{qq}")
        m[f"query.{q}.s"] = total(lambda x, qq=q: x == f"query.{qq}")
        m[f"query.{q}.jobs"] = len(js)
        m[f"query.{q}.shuffle_bytes"] = sum(j.shuffle_write for j in js)
    m["dedup.verify_yield"] = extra.get("dedup.verify_yield", 0.0) * n

    # driver and Spark-wide
    trips = [s for s in mine if s.name.startswith("driver.")]
    m["driver.roundtrips"] = len(trips)
    m["driver.roundtrip_s"] = sum(s.dur for s in trips)
    wall = sum(by_id[o].dur for o in ops)
    job_time = [(j.start, j.end) for j in op_jobs]
    m["pipeline.driver_gap_s"] = wall - sum(
        covered(job_time, by_id[o].start, by_id[o].end) for o in ops)
    task_s = sum(j.task_s for j in op_jobs)
    m["pipeline.busy_ratio"] = n * task_s / (wall * cores) if wall else 0.0
    m["spark.jobs"] = len(op_jobs)
    m["spark.tasks"] = sum(j.tasks for j in op_jobs)
    m["spark.task_cpu_s"] = sum(j.cpu_s for j in op_jobs)
    m["spark.gc_s"] = sum(j.gc_s for j in op_jobs)
    m["spark.shuffle_read_bytes"] = sum(j.shuffle_read for j in op_jobs)
    m["spark.shuffle_write_bytes"] = sum(j.shuffle_write for j in op_jobs)
    m["spark.spill_bytes"] = sum(j.spill for j in op_jobs)

    # the operation itself: its wall time, the part of it that no layer
    # span covers, and how long child spans ran beside their siblings
    m["trace.wall_s"] = wall
    m["trace.unattributed_s"] = sum(
        by_id[o].dur - covered(
            [(s.start, s.end) for s in mine
             if s.name not in CONTAINERS and s.id in subtree(spans, o)],
            by_id[o].start, by_id[o].end) for o in ops)
    m["trace.overlap_s"] = sum(
        sum(k.dur for k in kids.get(s.id, [])) - covered(
            [(k.start, k.end) for k in kids.get(s.id, [])], s.start, s.end)
        for s in mine)
    return {k: (v if k in PER_RUN else v / n) for k, v in m.items()}


def report(spans: list[Span], ops: list[int]) -> str:
    """Span tree of the measured operations, merged by name and depth:
    calls, total and self seconds. The root's self time is the
    unattributed remainder of its wall time; a parent whose children sum
    to more than its own total ran them concurrently."""
    by_id = {s.id: s for s in spans}
    kids = children(spans)
    rows: dict[tuple[str, ...], list[float]] = {}

    def walk(s: Span, path: tuple[str, ...]) -> None:
        path = path + (s.name,)
        r = rows.setdefault(path, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s.dur
        r[2] += self_time(s, kids.get(s.id, []))
        for k in sorted(kids.get(s.id, []), key=lambda k: k.start):
            walk(k, path)

    for o in ops:
        walk(by_id[o], ())
    lines = [f"{'span':60s} {'calls':>5s} {'total_s':>8s} {'self_s':>8s}"]
    for path, (calls, tot, own) in rows.items():
        label = "  " * (len(path) - 1) + path[-1]
        lines.append(f"{label[:60]:60s} {calls:5d} {tot:8.3f} {own:8.3f}")
    return "\n".join(lines)


# -- wrappers ----------------------------------------------------------------

def _data_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def install(tracer: Tracer, spark) -> None:
    """Wrap the program's module boundaries so each call records a span.
    Patches module and class attributes in this process; the program's
    files are not changed."""
    from apollo_spark import checkpoint, incremental, pipeline
    from apollo_spark.stages import cc

    def patch(owner, attr, name) -> None:
        setattr(owner, attr, tracer.wrap(name, getattr(owner, attr)))

    # driver round-trips; nested calls (first -> take -> collect) count once
    df_cls = type(spark.range(1))
    for meth in ("collect", "toPandas", "count", "take", "first",
                 "localCheckpoint"):
        def roundtrip(self, *a, _fn=getattr(df_cls, meth), _m=meth, **k):
            cur = tracer.current()
            lazy = _m == "localCheckpoint" and not (
                a[0] if a else k.get("eager", True))
            if lazy or (cur is not None and cur.name.startswith("driver.")):
                return _fn(self, *a, **k)
            with tracer.span(f"driver.{_m}"):
                return _fn(self, *a, **k)
        setattr(df_cls, meth, functools.wraps(getattr(df_cls, meth))(
            roundtrip))

    # checkpoint: stage writes with the bytes and files they add
    cat = checkpoint.CheckpointCatalog
    for meth in ("write", "append", "overwrite_partitions"):
        def write(self, stage, *a, _fn=getattr(cat, meth), _m=meth, **k):
            before = _data_files(self.path(stage))
            with tracer.span(f"checkpoint.{_m}:{stage}") as s:
                out = _fn(self, stage, *a, **k)
            new = {p: n for p, n in _data_files(self.path(stage)).items()
                   if before.get(p) != n}
            s.attrs.update(files=len(new), bytes=sum(new.values()))
            return out
        setattr(cat, meth, functools.wraps(getattr(cat, meth))(write))
    patch(cat, "load", lambda self, stage: f"checkpoint.load:{stage}")
    patch(cat, "_write_metrics_rows", "checkpoint.metrics_flush")
    patch(cat, "_save_manifest", "checkpoint.manifest")

    # cc: dispatcher, both sides of its size gate, and the fixpoint rounds
    patch(cc, "connected_components", "cc.connected_components")
    patch(cc, "components_from_edges", "cc.dispatch")
    patch(cc, "incremental_components_parts", "cc.incremental")
    union_find, fixpoint, one_round = (
        cc._labels_driver_side, cc.label_fixpoint, cc.fixpoint_round)

    def traced_union_find(spark_, rows, *a, **k):
        with tracer.span("cc.union_find", edges=len(rows)):
            return union_find(spark_, rows, *a, **k)

    def traced_fixpoint(edges, *a, **k):
        # the edge count is taken after the operation (count_edges), so
        # its job does not land inside the measured span
        with tracer.span("cc.fixpoint", rounds=0, edges_df=edges):
            return fixpoint(edges, *a, **k)

    def traced_round(*a, **k):
        s = tracer.enclosing("cc.fixpoint")
        if s is not None:
            s.attrs["rounds"] += 1
        return one_round(*a, **k)

    cc._labels_driver_side = traced_union_find
    cc.label_fixpoint = traced_fixpoint
    cc.fixpoint_round = traced_round

    # work the program hands to its thread pools stays inside the span
    # that submitted it
    from concurrent.futures import ThreadPoolExecutor
    submit = ThreadPoolExecutor.submit

    def traced_submit(self, fn, /, *args, **kwargs):
        return submit(self, tracer.carry(fn), *args, **kwargs)
    ThreadPoolExecutor.submit = traced_submit

    patch(pipeline, "run_pipeline", "pipeline.run_pipeline")
    patch(incremental, "append_images", "incremental.append_images")
    patch(incremental, "delta_fingerprint", "incremental.fingerprint")


def count_edges(tracer: Tracer) -> None:
    """Fill in ``edges`` of fixpoint spans from the edge lists they kept.
    Call after the measured operations, outside any span."""
    for s in tracer.spans:
        df = s.attrs.pop("edges_df", None)
        if df is not None:
            s.attrs["edges"] = df.count()


def dump(tracer: Tracer, jobs: list[Job], path: str) -> None:
    with open(path, "w") as f:
        json.dump({"spans": [vars(s) for s in tracer.spans],
                   "jobs": [vars(j) for j in jobs]}, f)
