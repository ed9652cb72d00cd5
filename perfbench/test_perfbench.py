"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench -q

The pure tests need no Spark. ``test_traced_round_small`` runs one traced
round on a small log (40k events) and checks the layer ledger, the
operator-to-layer map on the engine's real replay plan, and that the
correctness gate passes on the engine's state and fails on a corrupted copy.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from lifecycle import compare_state  # noqa: E402
from stats import p_hi, ratio  # noqa: E402
from tracing import (  # noqa: E402
    SPAN_LAYER,
    Span,
    build_ledger,
    classify,
    execution_layer_weights,
    parse_metric,
    self_times,
)


# ------------------------------------------------------------ percentiles
def test_p_hi_keeps_ten_samples_beyond():
    xs = list(range(1, 101))            # 1..100
    r = p_hi(xs)
    assert r["value"] == 90 and r["percentile"] == 90.0 and r["beyond"] == 10
    assert r["supported"]
    r = p_hi(list(range(11, 0, -1)))     # 11 samples: only the minimum qualifies
    assert r["value"] == 1 and r["beyond"] == 10 and r["supported"]
    r = p_hi([5.0, 3.0, 4.0])
    assert r["value"] == 3.0 and not r["supported"] and r["n"] == 3


def test_ratio_keeps_its_base():
    assert ratio(6, 3) == {"value": 2.0, "num": 6, "den": 3}
    assert ratio(1, 0)["value"] == 0.0


# ------------------------------------------------------------- time limit
def test_seconds_beyond_the_time_limit_are_refused(capsys):
    import run

    assert run.fits("replay_bulk", run.rounds_for("replay_bulk", 25, 0), 0)
    assert run.fits("tail_mor", run.rounds_for("tail_mor", 25, 0), 0)
    assert run.fits("tail_mor", run.rounds_for("tail_mor", 25, 1), 1)
    with pytest.raises(SystemExit) as e:
        run.main(["--workload", "tail_mor", "--seed", "1", "--seconds", "100", "--trace", "0"])
    assert e.value.code == 2 and "cannot end within" in capsys.readouterr().err


# -------------------------------------------------------------- self time
def _sp(i, parent, t0, t1, layer="merge", name="x"):
    return Span(id=i, name=name, layer=layer, parent=parent, trace_id="t",
                t0=t0, t1=t1)


def test_self_time_subtracts_union_of_children():
    spans = [
        _sp("a", None, 0.0, 10.0),
        _sp("b", "a", 1.0, 4.0),
        _sp("c", "a", 3.0, 5.0),        # overlaps b: covered = 1..5
        _sp("d", "a", 9.0, 12.0),       # runs past the parent: clipped to 9..10
        _sp("e", "b", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["b"] == pytest.approx(3.0 - 0.5)
    assert st["c"] == pytest.approx(2.0)
    assert st["e"] == pytest.approx(0.5)


def test_ledger_sums_to_wall():
    spans = [_sp("r", None, 0.0, 8.0, layer="client", name="op.tail"),
             _sp("m", "r", 1.0, 6.0, layer="merge", name="merge_append"),
             _sp("k", "m", 5.0, 5.5, layer="lake", name="commit_files")]
    acct = {"jobs": {1: {"id": 1, "group": "m", "stages": [7], "t0": 100.0,
                         "t1": 103.0, "exec": 1}},
            "stages": {7: {"task_s": 10.0}},
            "execs": [{"id": 1, "jobs": [1], "edges": [], "nodes": [
                {"id": 1, "name": "Scan parquet", "desc": "FileScan parquet [seq#0L,url#3]",
                 "cluster": None, "metrics": {"scan time": 2.5}},
                {"id": 2, "name": "Execute InsertIntoHadoopFsRelationCommand",
                 "desc": "", "cluster": None, "metrics": {"task commit time": 0.0}}]}]}
    led = build_ledger(spans, acct, wall=9.0)
    lay = led["layers"]
    assert sum(lay.values()) == pytest.approx(9.0)
    # merge_append: 4.5 s self, 3 s of it its job: 25 % decode (scan time),
    # 75 % merge (the unexplained task time of a writing execution)
    assert lay["decode"] == pytest.approx(0.75)
    assert lay["merge"] == pytest.approx(1.5 + 2.25)
    assert lay["lake"] == pytest.approx(0.5)
    assert lay["unattributed"] == pytest.approx(9.0 - 0.75 - 3.75 - 0.5)


# ------------------------------------------------------ metric rendering
def test_parse_metric_formats():
    assert parse_metric("14,998") == 14998
    assert parse_metric("5 ms") == pytest.approx(0.005)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.0 s (429 ms, 543 ms, 548 ms (stage 0.0: task 0))") == 2.0
    assert parse_metric("1654.4 KiB") == pytest.approx(1654.4 * 1024)
    assert parse_metric("1.5 m") == 90.0


# --------------------------------------------------- operator -> layer map
def _n(i, name, desc="", cluster=None, is_cluster=False, **metrics):
    d = {"id": i, "name": name, "desc": desc, "cluster": cluster,
         "metrics": {k.replace("_", " "): v for k, v in metrics.items()}}
    if is_cluster:
        d["is_cluster"] = True
    return d


# The replay write plan as the engine runs it (from Spark's SQL status
# store, trimmed): narrow winner search, hash semijoin probe of the payload,
# max_by post-compaction, _bucket repartition, file write.
KNOWN_PLAN = [
    _n(1, "Execute InsertIntoHadoopFsRelationCommand", "file:/t/data/commit-1",
       task_commit_time=0.04, job_commit_time=0.02),
    _n(2, "WriteFiles"),
    _n(3, "WholeStageCodegen (6)", is_cluster=True, duration=1.9),
    _n(4, "Sort", "Sort [_bucket#77 ASC NULLS FIRST], false, 0", cluster=3, sort_time=0.0),
    _n(5, "Exchange", "Exchange hashpartitioning(_bucket#77, 16), REPARTITION_BY_NUM",
       shuffle_write_time=0.002),
    _n(6, "WholeStageCodegen (4)", is_cluster=True, duration=0.09),
    _n(8, "SortAggregate", "SortAggregate(key=[url#3], functions=[max_by(struct(url, "
       "url#3, warc_ts, warc_ts#1), struct(warc_ts#1, _seq#18L))])", cluster=6),
    _n(10, "Sort", "Sort [url#3 ASC NULLS FIRST], false, 0", cluster=6, sort_time=0.01),
    _n(12, "Exchange", "Exchange hashpartitioning(url#3, 16), ENSURE_REQUIREMENTS",
       shuffle_write_time=0.006),
    _n(14, "WholeStageCodegen (3)", is_cluster=True, duration=0.85),
    _n(16, "BroadcastHashJoin", "BroadcastHashJoin [xxhash64(url#3, struct(warc_ts, "
       "warc_ts#1, _seq, _seq#18L), 42)], [_lww_h#34L], LeftSemi, BuildRight", cluster=14),
    _n(17, "Project", "Project [url#3, warc_ts#1, seq#0L AS _seq#18L]", cluster=14),
    _n(19, "ColumnarToRow", cluster=14),
    _n(20, "Scan parquet ", "FileScan parquet [seq#0L,warc_ts#1,op#2,url#3,html#4]",
       scan_time=0.41),
    _n(21, "BroadcastExchange", "BroadcastExchange HashedRelationBroadcastMode(List("
       "input[0, bigint, false]),false)", time_to_build=0.016, time_to_broadcast=0.004),
    _n(22, "SortAggregate", "SortAggregate(key=[url#38], functions=[max(struct(warc_ts, "
       "warc_ts#36, _seq, _seq#52L))])", cluster=28),
    _n(28, "WholeStageCodegen (1)", is_cluster=True, duration=2.4),
    _n(29, "Sort", "Sort [url#38 ASC NULLS FIRST], false, 0", cluster=28, sort_time=0.54),
    _n(32, "ColumnarToRow", cluster=28),
    _n(33, "Scan parquet ", "FileScan parquet [seq#35L,warc_ts#36,op#37,url#38]",
       scan_time=0.30),
    _n(40, "Scan parquet ", "FileScan parquet [url#1,warc_ts#2,_seq#3L,_op#4]",
       scan_time=0.10),
]
KNOWN_EDGES = [(2, 1), (4, 2), (5, 4), (8, 5), (10, 8), (12, 10), (16, 12),
               (17, 16), (19, 17), (20, 19), (21, 16), (22, 21), (29, 22),
               (32, 29), (33, 32), (40, 1)]


def test_operator_layer_map_on_known_plan():
    by_id = {n["id"]: n for n in KNOWN_PLAN}
    cons = {a: by_id[b] for a, b in KNOWN_EDGES}
    want = {1: "merge", 2: "merge", 4: "merge", 5: "merge", 8: "lww", 10: "lww",
            12: "lww", 16: "lww", 17: None, 19: None, 20: "decode", 21: "lww",
            22: "lww", 29: "lww", 33: "decode", 40: "lake"}
    for i, lay in want.items():
        assert classify(by_id[i], cons.get(i)) == lay, by_id[i]["name"]
    w = execution_layer_weights(KNOWN_PLAN, KNOWN_EDGES, task_s=7.0)
    assert w["decode"] == pytest.approx(0.41 + 0.30)
    assert w["lake"] == pytest.approx(0.10)
    # codegen residuals: (1) 2.4-0.54-0.30, (3) 0.85-0.41, (4) 0.09-0.01 go
    # to lww; plus the explicit sort, exchange and broadcast times
    lww = (2.4 - 0.54 - 0.30) + (0.85 - 0.41) + (0.09 - 0.01) \
        + 0.54 + 0.01 + 0.006 + 0.016 + 0.004
    assert w["lww"] == pytest.approx(lww)
    merge_explicit = 1.9 + 0.002 + 0.04 + 0.02
    assert w["merge"] == pytest.approx(7.0 - lww - 0.71 - 0.10)
    assert w["merge"] > merge_explicit
    assert SPAN_LAYER not in w
    assert sum(w.values()) == pytest.approx(7.0)


# ------------------------------------------------------- correctness gate
def _golden():
    return pd.DataFrame({
        "url": ["a", "b", "c"],
        "warc_ts": pd.to_datetime(["2020-01-01", "2020-01-02", "2020-01-03"]),
        "html": [b"<p>x</p>", b"<p>y</p>", None],
        "text": ["x", "caf\u00e9", "z"],
        "lang": ["en", "fr", "de"],
        "http_status": pd.array([200, None, 404], dtype="Int64"),
    })


def test_gate_accepts_equal_state_in_any_order():
    g = _golden()
    got = g.iloc[::-1].copy()
    got["http_status"] = got["http_status"].astype("float64")   # Arrow's null-int form
    got["_seq"] = [3, 2, 1]
    assert compare_state(got, g) == []


@pytest.mark.parametrize("corrupt", [
    lambda d: d.assign(text=["x", "cafe\u0301", "z"]),   # same glyphs, other bytes
    lambda d: d.assign(http_status=pd.array([200, 301, 404], dtype="Int64")),
    lambda d: d.iloc[:2],
    lambda d: pd.concat([d, d.iloc[:1].assign(url="zz")]),
    lambda d: pd.concat([d, d.iloc[:1]]),
    lambda d: d.assign(html=[b"<p>x</p>", b"<p>Y</p>", None]),
])
def test_gate_catches_corrupted_state(corrupt):
    g = _golden()
    assert compare_state(corrupt(g.copy()), g)


# -------------------------------------------------- one real traced round
@pytest.fixture(scope="module")
def small_round(tmp_path_factory):
    pytest.importorskip("pyspark")
    from lifecycle import LogSpec, Runner, Shape, ensure_head_golden, ensure_inputs
    from run import start_session, stop_session
    from tracing import Tracer, build_ledger, read_spark_accounting

    base = tmp_path_factory.mktemp("perfbench")
    fx = ensure_inputs(str(base / "cache"),
                       LogSpec(seed=5, n_events=40_000, n_urls=800, n_pool=300, n_files=8))
    ensure_head_golden(fx, 6)
    spark = start_session(min(2, len(os.sched_getaffinity(0))), str(base / "work"))
    try:
        tracer = Tracer(spark.sparkContext)
        runner = Runner(spark, fx, str(base / "work"), seed=5, tracer=tracer)
        tracer.install()
        try:
            res = runner.round(Shape(list(range(6)), [6, 7], lookups=2, scans=1, replays=1))
        finally:
            tracer.uninstall()
        acct = read_spark_accounting(spark, {s.id for s in tracer.spans})
        ledger = build_ledger(tracer.spans, acct, res.wall_s)
        table_dir = os.path.join(runner.work, f"round{runner.n}", "tbl")
        from openlogreplicator_spark.lake.table import LakeTable
        from openlogreplicator_spark.operators.merge import read_state
        state = read_state(LakeTable.load(spark, table_dir)).toPandas()
        yield fx, res, tracer, acct, ledger, state
    finally:
        stop_session(spark)


def test_traced_round_small(small_round):
    fx, res, tracer, acct, ledger, state = small_round
    assert all(o.ok for o in res.ops), [o.note for o in res.ops if not o.ok]
    # the extra replay was checked against the head's golden state
    assert [o.kind for o in res.ops].count("replay") == 2
    names = {s.name for s in tracer.spans}
    assert {"apply_epoch", "run_batch_replay", "run_available_now", "merge_into",
            "merge_append", "project_dml", "lww_compact_semijoin", "commit_files",
            "load", "read_state", "lookup_keys", "target_state"} <= names
    lay = ledger["layers"]
    assert sum(lay.values()) == pytest.approx(res.wall_s)
    assert min(lay.values()) >= -1e-6
    for name in ("decode", "lww", "merge", "lake", "pipeline"):
        assert lay[name] > 0, name
    # the engine's own replay plan: events scanned by decode, winners by lww,
    # the _bucket exchange and the write by merge
    seen = set()
    for e in acct["execs"]:
        by_id = {n["id"]: n for n in e["nodes"]}
        cons = {a: by_id.get(b) for a, b in e["edges"]}
        for n in e["nodes"]:
            if n.get("is_cluster"):
                continue
            seen.add((n["name"].split(" ")[0], classify(n, cons.get(n["id"]))))
    assert ("Scan", "decode") in seen and ("Scan", "lake") in seen
    assert ("SortAggregate", "lww") in seen or ("HashAggregate", "lww") in seen
    assert ("Exchange", "merge") in seen and ("Execute", "merge") in seen
    # the gate passes on the engine's state and catches a corrupted copy
    assert compare_state(state, fx.golden) == []
    bad = state.copy()
    bad.loc[bad.index[0], "text"] = bad.loc[bad.index[0], "text"] + " "
    assert compare_state(bad, fx.golden)
