"""One CDC table lifecycle, driven through the engine's public API.

A round starts from an empty table and runs, in order:

1. extra bulk replays: ``run_batch_replay`` of the log head into a fresh
   table, each checked by one full read against the golden state of the
   head;
2. ``run_batch_replay`` of the log head into the round's table (one
   copy-on-write epoch, id 0);
3. the streaming hand-off: ``run_available_now`` over the same head files,
   whose epoch 0 the exactly-once gate suppresses because the replay has
   already confirmed it;
4. ``run_available_now(max_files_per_trigger=1)`` over the log tail, one
   merge-on-read epoch per file, with the engine's in-line compaction every
   8th epoch;
5. point lookups (``lookup_keys(...).collect()``) and full state scans
   (``target_state()`` read to pandas), each checked against the pandas
   golden replay of the whole log.

The workloads differ only in how the log splits into head and tail and in
how many reads follow, so every end-to-end metric is measured on every
workload while each workload puts its time where its purpose is.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STATE_COLS = ("url", "warc_ts", "html", "text", "lang", "http_status")
KEYS_PER_LOOKUP = 5


# ----------------------------------------------------------------- fixture
@dataclass(frozen=True)
class LogSpec:
    """Inputs to ``datagen.write_events_fast``; a pure function of these."""
    seed: int
    n_events: int
    n_urls: int
    n_pool: int
    n_files: int

    def kwargs(self) -> dict:
        return dict(seed=self.seed, n_events=self.n_events,
                    n_urls=self.n_urls, n_pool=self.n_pool,
                    n_files=self.n_files)


@dataclass
class Fixture:
    spec: LogSpec
    events_dir: str
    files: list[str]            # in log (seq) order
    rows: list[int]             # events per file
    ddl_files: dict[int, int]   # schema_ver introduced -> index of its file
    golden: pd.DataFrame        # final state, sorted by url
    dead_urls: list[str]        # keys in the log with no live row at the end
    cache: str
    fixture_s: float = 0.0
    golden_s: float = 0.0
    head_golden: dict[int, pd.DataFrame] = field(default_factory=dict)  # by head files


def _replayer_hash() -> str:
    from openlogreplicator_spark import replayer

    return hashlib.sha256(inspect.getsource(replayer).encode()).hexdigest()[:12]


def _prune(cache: str, prefix: str, keep: set[str], limit: int = 6) -> None:
    """Keep the newest ``limit`` cached entries of one kind."""
    if not os.path.isdir(cache):
        return
    olds = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d)
        for d in os.listdir(cache)
        if d.startswith(prefix) and os.path.join(cache, d) not in keep
    )
    for _, d in olds[: max(0, len(olds) - (limit - 1))]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def ensure_inputs(cache: str, spec: LogSpec) -> Fixture:
    """The content-addressed log fixture and, beside it, its golden final
    state (``replayer.replay``), each generated once and then reused."""
    from openlogreplicator_spark import datagen

    t0 = time.perf_counter()
    ev = datagen.fixture_path(cache, "perfbench_events", spec.kwargs())
    _prune(cache, "olr_perfbench_events", {ev})
    datagen.ensure_fixture(ev, lambda d: datagen.write_events_fast(d, **spec.kwargs()))
    files = sorted(os.path.join(ev, f) for f in os.listdir(ev) if f.endswith(".parquet"))
    rows, ddl_files = [], {}
    for i, f in enumerate(files):
        t = pq.read_table(f, columns=["op", "schema_ver"])
        rows.append(t.num_rows)
        ops = t.column("op").to_numpy(zero_copy_only=False)
        for v in t.column("schema_ver").to_numpy()[ops == "ddl"]:
            ddl_files[int(v)] = i
    fixture_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    golden, dead = _golden(cache, spec, files)
    golden_s = time.perf_counter() - t0
    return Fixture(spec, ev, files, rows, ddl_files, golden, dead, cache,
                   fixture_s, golden_s)


def _golden(cache: str, spec: LogSpec, files: list[str]) -> tuple[pd.DataFrame, list[str]]:
    """The golden final state of ``files`` (a prefix of the log) and the
    keys they write but leave without a live row; cached beside the log."""
    from openlogreplicator_spark import datagen, replayer

    gspec = {**spec.kwargs(), "replayer": _replayer_hash(), "files": len(files)}
    gdir = datagen.fixture_path(cache, "perfbench_golden", gspec)
    _prune(cache, "olr_perfbench_golden", {gdir}, limit=12)

    def write_golden(d: str) -> None:
        events = pa.concat_tables(pq.read_table(f) for f in files).to_pandas()
        g = replayer.replay(events)
        dead = sorted(set(events["url"].dropna()) - set(g["url"]))
        pq.write_table(pa.Table.from_pandas(g, preserve_index=False),
                       os.path.join(d, "golden.parquet"))
        pq.write_table(pa.table({"url": pa.array(dead, pa.string())}),
                       os.path.join(d, "dead.parquet"))

    datagen.ensure_fixture(gdir, write_golden)
    golden = pq.read_table(os.path.join(gdir, "golden.parquet")).to_pandas()
    dead = pq.read_table(os.path.join(gdir, "dead.parquet")).column("url").to_pylist()
    return golden.sort_values("url").reset_index(drop=True), dead


def ensure_head_golden(fx: Fixture, n_files: int) -> None:
    """Add the golden state of the first ``n_files`` log files, against
    which a bulk replay of that head is checked; its time counts in
    ``fx.golden_s``."""
    if n_files in fx.head_golden:
        return
    t0 = time.perf_counter()
    fx.head_golden[n_files] = _golden(fx.cache, fx.spec, fx.files[:n_files])[0]
    fx.golden_s += time.perf_counter() - t0


# -------------------------------------------------------------------- gate
def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = pd.DataFrame({"url": df["url"].astype(object)})
    for c in cols:
        if c == "warc_ts":
            out[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif c == "html":
            out[c] = df[c].map(lambda b: None if b is None else bytes(b))
        elif c in ("text", "lang"):
            out[c] = df[c].astype(object)
        elif c != "url":   # the status column, by whatever name the schema has
            out[c] = pd.array([None if pd.isna(v) else int(v) for v in df[c]],
                              dtype="Int64")
    return out.sort_values("url", kind="stable").reset_index(drop=True)


def compare_state(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing a state (or lookup result) with the golden
    rows, over the golden's columns (the schema at that point of the log):
    the row set by url, then every column per url — ``text``
    byte-identical, the status column null-safe. Empty list = equal."""
    # a column the log adds after the state's last event is absent from the
    # table and all null in the golden: both read as null, so it is skipped
    cols = [c for c in want.columns if c in got.columns or want[c].notna().any()]
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"columns missing: {missing}"]
    g, w = _norm(got, cols), _norm(want, cols)
    if g["url"].duplicated().any():
        return [f"duplicate urls: {int(g['url'].duplicated().sum())}"]
    if len(g) != len(w) or not (g["url"].values == w["url"].values).all():
        gs, ws = set(g["url"]), set(w["url"])
        return [f"row set differs: {len(gs - ws)} extra, {len(ws - gs)} missing"]
    probs = []
    for c in cols:
        if c == "url":
            continue
        a, b = g[c], w[c]
        same = (a == b).fillna(False).astype(bool) | (a.isna() & b.isna())
        if c == "text":
            enc = [x.encode() if isinstance(x, str) else x for x in a]
            wenc = [x.encode() if isinstance(x, str) else x for x in b]
            same = pd.Series([x == y for x, y in zip(enc, wenc)])
        if not same.all():
            bad = g["url"][~same.values].tolist()
            probs.append(f"{c} differs on {len(bad)} urls, e.g. {bad[:2]}")
    return probs


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user nice system idle iowait irq
    softirq steal), so a record shows how busy, and how stolen from, the
    host's CPUs were while it ran."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def cpu_shares(t0: list[int], t1: list[int]) -> dict:
    d = [b - a for a, b in zip(t0, t1)]
    tot = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: round(v / tot, 4) for n, v in zip(names, d)}


# ---------------------------------------------------------------- records
@dataclass
class Op:
    kind: str          # replay | tail | epoch | lookup | scan
    secs: float
    ok: bool = True
    label: str = ""    # epochs: plain | compaction | suppressed
    events: int = 0
    note: str = ""


@dataclass
class RoundResult:
    ops: list[Op] = field(default_factory=list)
    state_build_s: float = 0.0
    final_files: int = 0
    final_bytes: int = 0
    final_rows: int = 0
    dirty_buckets: int = 0
    wall_s: float = 0.0
    cpu: dict = field(default_factory=dict)   # host CPU shares during the round


@dataclass
class Shape:
    """How one workload uses a round."""
    head: list[int]    # log files (indices) replayed in bulk
    tail: list[int]    # log files applied one per streaming epoch
    lookups: int       # lookups after the tail
    scans: int         # scans after the tail, spread evenly among the lookups
    replays: int = 0   # extra bulk replays of the head into fresh tables

    def reads(self) -> list[str]:
        if not self.scans:
            return ["lookup"] * self.lookups
        out = []
        for i in range(self.scans):
            n = (self.lookups * (i + 1)) // self.scans - (self.lookups * i) // self.scans
            out += ["lookup"] * n + ["scan"]
        return out


def timed_pipeline_cls():
    """A CdcPipeline that times and labels each ``apply_epoch``."""
    from openlogreplicator_spark.lake.table import LakeTable
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    class TimedPipeline(CdcPipeline):
        def __init__(self, *a, epoch_events=None, **kw):
            super().__init__(*a, **kw)
            self.epochs: list[Op] = []
            self.epoch_events = epoch_events or {}

        def apply_epoch(self, batch_df, epoch_id):
            v0 = LakeTable.current_version(self.table_path) \
                if LakeTable.exists(self.table_path) else 0
            t0 = time.perf_counter()
            super().apply_epoch(batch_df, epoch_id)
            secs = time.perf_counter() - t0
            if LakeTable.current_version(self.table_path) == v0:
                label = "suppressed"
            elif self.ensure_table().snap["summary"].get("op") == "compact":
                label = "compaction"
            else:
                label = "plain"
            self.epochs.append(Op("epoch", secs, label=label,
                                  events=self.epoch_events.get(int(epoch_id), 0),
                                  note=f"epoch {int(epoch_id)}"))

    return TimedPipeline


def _stage(files: list[str], dst: str, t_base: float) -> None:
    """Hard-link log files into a source directory with strictly increasing
    mtimes: the file source hands files out oldest first, so epoch k of the
    tail is tail file k."""
    os.makedirs(dst, exist_ok=True)
    for i, f in enumerate(files):
        p = os.path.join(dst, os.path.basename(f))
        try:
            os.link(f, p)
        except OSError:
            shutil.copyfile(f, p)
        os.utime(p, (t_base + i, t_base + i))


def lookup_keys_for(fx: Fixture, rng: np.random.Generator) -> list[str]:
    """Four live keys and one that the log deleted (or never wrote)."""
    live = fx.golden["url"].to_numpy()
    keys = list(rng.choice(live, size=KEYS_PER_LOOKUP - 1, replace=False))
    dead = fx.dead_urls[int(rng.integers(len(fx.dead_urls)))] if fx.dead_urls \
        else "https://absent.example/p/0"
    return [str(k) for k in keys] + [dead]


class Runner:
    """Runs rounds of one workload against one Spark session."""

    def __init__(self, spark, fx: Fixture, work: str, seed: int, tracer=None):
        self.spark = spark
        self.fx = fx
        self.work = work
        self.rng = np.random.default_rng([seed, 0x0B5E])
        self.tracer = tracer
        self.n = 0

    def _op(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(f"op.{name}", "client", f"r{self.n}.{name}")

    def round(self, shape: Shape, with_compaction_call: bool = False) -> RoundResult:
        from openlogreplicator_spark.lake.table import LakeTable
        from openlogreplicator_spark.operators.merge import compact_table, lookup_keys

        t_round, ticks = time.perf_counter(), cpu_ticks()
        shutil.rmtree(os.path.join(self.work, f"round{self.n}"), ignore_errors=True)
        self.n += 1
        fx, res = self.fx, RoundResult()
        base = os.path.join(self.work, f"round{self.n}")
        src, tbl, ckpt = (os.path.join(base, d) for d in ("src", "tbl", "ckpt"))
        head = [fx.files[i] for i in shape.head]
        tail = [fx.files[i] for i in shape.tail]
        t_base = time.time() - 10_000
        _stage(head, src, t_base)
        head_events = sum(fx.rows[i] for i in shape.head)
        tail_rows = [fx.rows[i] for i in shape.tail]
        P = timed_pipeline_cls()
        p = P(self.spark, src, tbl, ckpt, bloom_cols=("url",),
              epoch_events={i + 1: r for i, r in enumerate(tail_rows)}
              | {0: head_events})

        for i in range(shape.replays):
            res.ops.append(self._gated_replay(src, os.path.join(base, f"extra{i}"),
                                              len(head), head_events))
        try:
            t0 = time.perf_counter()
            with self._op("replay"):
                p.run_batch_replay()
            res.ops.append(Op("replay", time.perf_counter() - t0, events=head_events))
            with self._op("handoff"):
                p.run_available_now(max_files_per_trigger=max(1, len(head)))
            res.state_build_s = time.perf_counter() - t0
            p.epochs.clear()
            if tail:
                _stage(tail, src, t_base + len(head))
                t0 = time.perf_counter()
                with self._op("tail"):
                    p.run_available_now(max_files_per_trigger=1)
                res.ops.append(Op("tail", time.perf_counter() - t0,
                                  events=sum(tail_rows)))
        except Exception as e:  # noqa: BLE001 - counted as a failed op, round ends
            kind = "tail" if res.ops else "replay"
            res.ops.append(Op(kind, time.perf_counter() - t0, ok=False,
                              note=repr(e)[:300]))
            res.wall_s = time.perf_counter() - t_round
            res.cpu = cpu_shares(ticks, cpu_ticks())
            return res
        finally:
            res.ops.extend(e for e in p.epochs if e.label != "suppressed")

        whole = sorted(shape.head + shape.tail) == list(range(len(fx.files)))
        for kind in shape.reads():
            if kind == "scan":
                res.ops.append(self._scan(p, whole))
            else:
                res.ops.append(self._lookup(tbl, lookup_keys, LakeTable, whole))

        t = p.ensure_table()  # the pipeline's handle: no extra load
        res.final_files = len(t.snap["files"])
        res.final_bytes = sum(os.path.getsize(os.path.join(tbl, f["path"]))
                              for f in t.snap["files"])
        res.dirty_buckets = len(t.dirty_buckets())
        res.final_rows = len(fx.golden)
        if with_compaction_call:  # after the reads, which see the dirty table
            compact_table(LakeTable.load(self.spark, tbl))
        res.wall_s = time.perf_counter() - t_round
        res.cpu = cpu_shares(ticks, cpu_ticks())
        return res

    def _gated_replay(self, src: str, d: str, n_head: int, events: int) -> Op:
        """A timed bulk replay of the staged head into a fresh table, then
        one untimed full read of it, checked against the head's golden
        state (``ensure_head_golden``)."""
        from openlogreplicator_spark.streaming.pipeline import CdcPipeline

        p = CdcPipeline(self.spark, src, os.path.join(d, "tbl"), os.path.join(d, "ckpt"),
                        bloom_cols=("url",))
        t0 = time.perf_counter()
        try:
            with self._op("replay"):
                p.run_batch_replay()
            secs = time.perf_counter() - t0
            with self._op("gate"):
                got = p.target_state().toPandas()
        except Exception as e:  # noqa: BLE001 - a failed replay is a failed op
            return Op("replay", time.perf_counter() - t0, ok=False, events=events,
                      note=repr(e)[:300])
        finally:
            shutil.rmtree(d, ignore_errors=True)
        probs = compare_state(got, self.fx.head_golden[n_head])
        return Op("replay", secs, ok=not probs, events=events, note="; ".join(probs)[:300])

    def _scan(self, p, whole: bool) -> Op:
        t0 = time.perf_counter()
        try:
            with self._op("scan"):
                got = p.target_state().toPandas()
        except Exception as e:  # noqa: BLE001 - a failed read is a failed op
            return Op("scan", time.perf_counter() - t0, ok=False, note=repr(e)[:300])
        secs = time.perf_counter() - t0
        if not whole:
            return Op("scan", secs, note="partial log: not gated")
        probs = compare_state(got, self.fx.golden)
        return Op("scan", secs, ok=not probs, note="; ".join(probs)[:300])

    def _lookup(self, tbl: str, lookup_keys, LakeTable, whole: bool) -> Op:
        keys = lookup_keys_for(self.fx, self.rng)
        t0 = time.perf_counter()
        try:
            with self._op("lookup"):
                rows = lookup_keys(LakeTable.load(self.spark, tbl), keys).collect()
        except Exception as e:  # noqa: BLE001 - a failed read is a failed op
            return Op("lookup", time.perf_counter() - t0, ok=False, note=repr(e)[:300])
        secs = time.perf_counter() - t0
        if not whole:
            return Op("lookup", secs, note="partial log: not gated")
        got = pd.DataFrame([r.asDict() for r in rows],
                           columns=list(rows[0].asDict()) if rows else list(STATE_COLS))
        want = self.fx.golden[self.fx.golden["url"].isin(keys)]
        probs = compare_state(got, want)
        return Op("lookup", secs, ok=not probs, note="; ".join(probs)[:300])
