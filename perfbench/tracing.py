"""Outside-in tracing of the CDC engine for the traced benchmark run.

Spans are recorded around calls into the engine's public functions (the
benchmark edits no engine code: it swaps module and class attributes for
timing wrappers while a traced round runs, and puts the originals back
afterwards). Each span tags the Spark jobs it launches with its id as the
job group, so after the round the jobs, their stages and their SQL
executions can be read back from Spark's own status stores and charged to
the span that caused them.

Decode and LWW build lazy DataFrames; their work runs inside the write job
of the merge layer (whole-stage codegen fuses the scan, the LWW aggregate
and the write into a few stages). That job is split by the executed plan's
SQL operator metrics: event-log scans are decode, the narrow winner
aggregate, the broadcast hash semijoin and the ``max_by`` aggregate are
LWW, the ``_bucket`` repartition exchange and the file write are merge,
scans of the lake table are lake. ``execution_layer_weights`` states the
rule in full.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

ENGINE_LAYERS = ("decode", "lww", "merge", "lake", "pipeline")
# key standing for "the layer of the span that launched the job" in weights
SPAN_LAYER = "_span"


@dataclass
class Span:
    id: str
    name: str
    layer: str           # an ENGINE_LAYERS entry, or "client" for benchmark ops
    parent: str | None
    trace_id: str        # shared by every span of one benchmark op / epoch
    t0: float
    t1: float = 0.0
    thread: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. One client drives the engine at a time, so
    a single process-wide stack gives each span its parent, including the
    ``apply_epoch`` calls that Structured Streaming makes from its callback
    thread while the caller waits inside ``run_available_now``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str | None = None, **attrs):
        with self._lock:
            self._n += 1
            parent = self._stack[-1] if self._stack else None
            sp = Span(
                id=f"pb{self._n}", name=name, layer=layer,
                parent=parent.id if parent else None,
                trace_id=trace_id or (parent.trace_id if parent else name),
                t0=0.0, thread=threading.current_thread().name, attrs=attrs,
            )
            self._stack.append(sp)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", sp.id)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self._stack.remove(sp)
                self.spans.append(sp)

    # ------------------------------------------------------------ wrappers
    def _wrap(self, fn, name: str, layer: str, trace_id_of=None, after=None):
        tracer = self

        def wrapper(*args, **kwargs):
            tid = trace_id_of(tracer, args, kwargs) if trace_id_of else None
            with tracer.span(name, layer, tid) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def patch(self, owner, attr: str, name: str, layer: str,
              trace_id_of=None, after=None, also=()) -> None:
        """Replace ``owner.attr`` (and the same name in each ``also``
        module that imported it by name) with a timing wrapper."""
        raw = owner.__dict__[attr]
        static = isinstance(raw, staticmethod)
        fn = raw.__func__ if static else raw
        w = self._wrap(fn, name, layer, trace_id_of, after)
        for tgt in (owner, *also):
            self._saved.append((tgt, attr, tgt.__dict__[attr]))
            setattr(tgt, attr, staticmethod(w) if static and tgt is owner else w)

    def install(self) -> None:
        """Wrap the engine's public entry points named in perfbench/README.md."""
        from openlogreplicator_spark.lake import table as T
        from openlogreplicator_spark.operators import decode as D
        from openlogreplicator_spark.operators import lww as L
        from openlogreplicator_spark.operators import merge as M
        from openlogreplicator_spark.streaming import pipeline as P

        def epoch_tid(tr, args, kwargs):
            eid = kwargs.get("epoch_id", args[2] if len(args) > 2 else None)
            op = tr._stack[0].trace_id if tr._stack else "epoch"
            return f"{op}/e{eid}"

        cp = P.CdcPipeline
        self.patch(cp, "apply_epoch", "apply_epoch", "pipeline", epoch_tid)
        for a in ("run_batch_replay", "run_available_now", "target_state"):
            self.patch(cp, a, a, "pipeline")
        for a in ("merge_into", "merge_append", "read_state"):
            self.patch(M, a, a, "merge", after=_plan_stats if a == "read_state" else None,
                       also=(P,))
        for a in ("compact_table", "lookup_keys"):
            self.patch(M, a, a, "merge")
        self.patch(D, "project_dml", "project_dml", "decode", also=(P,))
        self.patch(L, "lww_compact_semijoin", "lww_compact_semijoin", "lww", also=(P,))
        for a in ("commit_files", "evolve", "load"):
            self.patch(T.LakeTable, a, a, "lake")

    def uninstall(self) -> None:
        for tgt, attr, raw in reversed(self._saved):
            setattr(tgt, attr, raw)
        self._saved.clear()


def _plan_stats(sp: Span, args, kwargs, out) -> None:
    """After a ``read_state`` that serves a key lookup, ask the table which
    files the read selects and how many the Bloom index skipped (metadata
    only, outside the span's timing)."""
    eq = kwargs.get("eq")
    if eq is None:
        return
    table = args[0]
    sp.attrs["plan"] = table.plan_scan(buckets=kwargs.get("buckets"), eq=eq)


# ------------------------------------------------------------ span algebra
def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.t0, s.t1))
    out = {}
    for s in spans:
        clipped = [(max(a, s.t0), min(b, s.t1)) for a, b in kids.get(s.id, ())]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s.id] = max(0.0, s.dur - covered)
    return out


def root_of(spans: list[Span]) -> dict[str, Span]:
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        r = s
        while r.parent is not None and r.parent in by_id:
            r = by_id[r.parent]
        out[s.id] = r
    return out


# ------------------------------------------------------ SQL metric values
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}


def parse_metric(text: str) -> float:
    """A SQL metric as Spark renders it: a bare total (``14,998``,
    ``5 ms``, ``1.9 s``, ``1654.4 KiB``), or a total over tasks followed
    by ``(min, med, max ...)`` on the second line. Times come back in
    seconds, sizes in bytes, counts as counts."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    tok = line.split(" (", 1)[0].strip().replace(",", "")
    parts = tok.split()
    if len(parts) == 2:
        v, unit = float(parts[0]), parts[1]
        if unit in _TIME_UNITS:
            return v * _TIME_UNITS[unit]
        if unit in _SIZE_UNITS:
            return v * _SIZE_UNITS[unit]
        raise ValueError(f"unknown metric unit in {text!r}")
    return float(tok)


# ------------------------------------------------ operator -> layer map
_TABLE_SCAN = re.compile(r"[\[,]_(?:seq|op)#")
_AGG = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_WRITE = ("Execute InsertIntoHadoopFsRelationCommand", "WriteFiles")
# explicit per-operator time metrics (task time, except the broadcast's
# build and send); "time to collect" is left out because it overlaps the
# stages that compute the broadcast side
TIME_METRICS = ("scan time", "sort time", "time in aggregation build",
                "shuffle write time", "task commit time", "job commit time",
                "time to build", "time to broadcast")
# a codegen stage's unexplained time goes to the first layer its members
# have in this order
RESIDUAL_PRIORITY = ("lww", "merge", "decode", "lake")


def classify(node: dict, consumer: dict | None) -> str | None:
    """The engine layer an operator belongs to, or None when the operator
    carries no layer of its own (projections, filters, row conversions)."""
    name, desc = node["name"], node["desc"]
    if name.startswith("Scan"):
        return "lake" if _TABLE_SCAN.search(desc) else "decode"
    if name.startswith(_AGG):
        if "max_by(" in desc or "max(struct(" in desc:
            return "lww"
        if "_bucket" in desc:
            return "merge"
        return None
    if name.startswith(_WRITE):
        return "merge"
    if name == "Exchange":
        if "hashpartitioning(_bucket" in desc:
            return "merge"
        return "lww" if "hashpartitioning(" in desc else None
    if name == "BroadcastExchange":
        return classify(consumer, None) if consumer else None
    if "Join" in name:
        return "lww" if ("xxhash64" in desc or "LeftSemi" in desc) else None
    if name == "Sort":
        if "_bucket" in desc:
            return "merge"
        if consumer is not None and consumer["name"].startswith(_AGG):
            return classify(consumer, None)
    return None


def _explicit(node: dict) -> float:
    return sum(node["metrics"].get(m, 0.0) for m in TIME_METRICS)


def execution_layer_weights(nodes: list[dict], edges: list[tuple[int, int]],
                            task_s: float) -> dict[str, float]:
    """Split one SQL execution's task time (seconds, from its stages) into
    layers.

    * Operators with their own time metric (TIME_METRICS) are charged to
      their layer (``classify``).
    * A whole-stage-codegen cluster's ``duration`` minus the explicit times
      inside it (its members' and the scans it pulls from) is charged to
      the first of RESIDUAL_PRIORITY among its members' layers, or to the
      launching span's layer (SPAN_LAYER) when no member has one.
    * Task time no operator metric covers (file encoding and output, shuffle
      reads, task set-up) goes to merge when the execution writes files,
      else to the launching span's layer.

    Node dicts: id, name, desc, cluster (id of the codegen cluster holding
    the node, or None), metrics ({name: parsed value}). Edges run from
    child to consumer."""
    by_id = {n["id"]: n for n in nodes}
    consumer = {a: by_id.get(b) for a, b in edges}
    layer = {n["id"]: classify(n, consumer.get(n["id"])) for n in nodes
             if not n.get("is_cluster")}
    w: dict[str, float] = defaultdict(float)
    inside: dict[int, float] = defaultdict(float)   # explicit time per cluster
    for n in nodes:
        if n.get("is_cluster"):
            continue
        t = _explicit(n)
        if not t:
            continue
        w[layer[n["id"]] or SPAN_LAYER] += t
        c = n.get("cluster")
        if c is None and n["name"].startswith("Scan"):
            cons = consumer.get(n["id"])
            c = cons.get("cluster") if cons else None
        if c is not None:
            inside[c] += t
    for n in nodes:
        if not n.get("is_cluster"):
            continue
        resid = max(0.0, n["metrics"].get("duration", 0.0) - inside[n["id"]])
        member_layers = {layer[m["id"]] for m in nodes
                         if m.get("cluster") == n["id"] and layer.get(m["id"])}
        tgt = next((lay for lay in RESIDUAL_PRIORITY if lay in member_layers),
                   SPAN_LAYER)
        w[tgt] += resid
    rest = task_s - sum(w.values())
    if rest > 0:
        writes = any(m["name"].startswith(_WRITE) for m in nodes)
        w["merge" if writes else SPAN_LAYER] += rest
    return dict(w)


def node_counters(nodes: list[dict]) -> dict[str, float]:
    """Counts the per-layer report reads off one execution's plan."""
    c: dict[str, float] = defaultdict(float)
    for n in nodes:
        name, desc, m = n["name"], n["desc"], n["metrics"]
        rows = m.get("number of output rows", 0.0)
        if name.startswith("Scan") and not _TABLE_SCAN.search(desc):
            c["decode.rows_read"] += rows
            c["decode.scan_s"] += m.get("scan time", 0.0)
        elif name.startswith(_AGG) and re.search(r"functions=\[max\(struct\(", desc):
            c["lww.winners"] += rows
        elif "Join" in name and "LeftSemi" in desc:
            c["lww.candidates"] += rows
        elif name == "BroadcastExchange":
            c["lww.broadcast_bytes"] += m.get("data size", 0.0)
        elif name == "Exchange" and "hashpartitioning(" in desc \
                and "hashpartitioning(_bucket" not in desc:
            c["lww.shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
        elif name.startswith(_WRITE[0]):
            c["merge.files_written"] += m.get("number of written files", 0.0)
    return dict(c)


# ------------------------------------------------ Spark status stores
def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_KEEP_METRICS = set(TIME_METRICS) | {
    "duration", "number of output rows", "data size",
    "shuffle bytes written", "number of written files",
}


def _plan_node(n, cluster, vals) -> dict:
    """One SparkPlanGraph node as a plain dict, with the metric values the
    report uses (``vals``: the execution's accumulator id -> rendered value)."""
    ms = {}
    for m in _it(n.metrics()):
        nm = m.name()
        if nm not in _KEEP_METRICS:
            continue
        v = vals.get(m.accumulatorId())
        if v.isDefined():
            try:
                ms[nm] = parse_metric(v.get())
            except ValueError:  # a rendering this parser does not know
                pass
    return {"id": int(n.id()), "name": n.name(), "desc": n.desc(),
            "cluster": cluster, "metrics": ms}


def read_spark_accounting(spark, groups: set[str]) -> dict:
    """Jobs tagged with one of ``groups``, their stages' task accounting,
    and the plans of the SQL executions that ran them — as plain dicts."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = {}
    for j in _it(store.jobsList(None)):
        g = j.jobGroup()
        if not g.isDefined() or g.get() not in groups:
            continue
        jobs[int(j.jobId())] = {
            "id": int(j.jobId()), "group": g.get(),
            "stages": [int(s) for s in _it(j.stageIds())],
            "t0": _opt_ms(j.submissionTime()), "t1": _opt_ms(j.completionTime()),
            "status": j.status().toString(),
        }
    want = {s for j in jobs.values() for s in j["stages"]}
    stages: dict[int, dict] = {}
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    for s in _it(store.stageList(None, False, False, empty, None)):
        sid = int(s.stageId())
        if sid not in want:
            continue
        st = stages.setdefault(sid, defaultdict(float))
        st["task_s"] += s.executorRunTime() / 1000.0
        st["cpu_s"] += s.executorCpuTime() / 1e9
        st["gc_s"] += s.jvmGcTime() / 1000.0
        st["shuffle_write_bytes"] += s.shuffleWriteBytes()
        st["output_bytes"] += s.outputBytes()
        st["input_bytes"] += s.inputBytes()
        st["tasks"] += s.numTasks()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for e in _it(sql_store.executionsList()):
        ejobs = [int(k) for k in _it(e.jobs().keys())]
        mine = [j for j in ejobs if j in jobs]
        if not mine:
            continue
        eid = e.executionId()
        vals = sql_store.executionMetrics(eid)
        graph = sql_store.planGraph(eid)
        nodes = []
        for top in _it(graph.nodes()):
            if top.getClass().getSimpleName() == "SparkPlanGraphCluster":
                cn = _plan_node(top, None, vals)
                cn["is_cluster"] = True
                nodes.append(cn)
                for mem in _it(top.nodes()):
                    nodes.append(_plan_node(mem, cn["id"], vals))
            else:
                nodes.append(_plan_node(top, None, vals))
        edges = [(int(ed.fromId()), int(ed.toId())) for ed in _it(graph.edges())]
        for j in mine:
            jobs[j]["exec"] = int(eid)
        execs.append({"id": int(eid), "jobs": mine, "nodes": nodes, "edges": edges})
    return {"jobs": jobs, "stages": {k: dict(v) for k, v in stages.items()},
            "execs": execs}


# ------------------------------------------------------------- the ledger
def job_task_s(job: dict, stages: dict) -> float:
    return sum(stages.get(s, {}).get("task_s", 0.0) for s in job["stages"])


def build_ledger(spans: list[Span], acct: dict, wall: float) -> dict:
    """Charge the traced wall time to layers.

    Each span's self time splits into the wall time its own Spark jobs ran
    (the union of their intervals) and the rest, time spent outside Spark
    jobs (planning, footer walks, commits), which is charged to the span's
    own layer. The job wall is divided by the operator weights
    of the SQL executions those jobs belong to. Benchmark client spans
    (layer "client") and time outside every span are ``unattributed``.
    Returns per-layer seconds plus per-span detail for the artifact."""
    selft = self_times(spans)
    jobs_by_group: dict[str, list[dict]] = defaultdict(list)
    for j in acct["jobs"].values():
        jobs_by_group[j["group"]].append(j)
    exec_w: dict[int, dict[str, float]] = {}
    for e in acct["execs"]:
        task = sum(job_task_s(acct["jobs"][j], acct["stages"]) for j in e["jobs"])
        exec_w[e["id"]] = execution_layer_weights(e["nodes"], e["edges"], task)
    ledger: dict[str, float] = defaultdict(float)
    per_span: dict[str, dict[str, float]] = {}
    off_job: dict[str, float] = {}
    for s in spans:
        own = s.layer if s.layer in ENGINE_LAYERS else None
        js = jobs_by_group.get(s.id, [])
        ivs = [(j["t0"], j["t1"]) for j in js if j["t0"] is not None and j["t1"] is not None]
        job_wall = min(selft[s.id], union_length(ivs))
        contrib: dict[str, float] = defaultdict(float)
        off_job[s.id] = selft[s.id] - job_wall
        if own:
            contrib[own] += off_job[s.id]
        mix: dict[str, float] = defaultdict(float)
        for j in js:
            jw = (j["t1"] or 0) - (j["t0"] or 0)
            wts = exec_w.get(j.get("exec"), {})
            tot = sum(wts.values())
            if tot <= 0:
                mix[SPAN_LAYER] += jw
                continue
            for lay, v in wts.items():
                mix[lay] += jw * v / tot
        mtot = sum(mix.values())
        for lay, v in mix.items():
            share = job_wall * v / mtot if mtot > 0 else 0.0
            lay = own if lay == SPAN_LAYER else lay
            if lay:
                contrib[lay] += share
        for lay, v in contrib.items():
            ledger[lay] += v
        per_span[s.id] = dict(contrib)
    out = {lay: ledger.get(lay, 0.0) for lay in ENGINE_LAYERS}
    out["unattributed"] = wall - sum(out.values())
    return {"layers": out, "per_span": per_span, "self": selft, "off_job": off_job,
            "exec_weights": exec_w}
