"""CDC apply benchmark for openlogreplicator_spark.

    python3 perfbench/run.py --workload <replay_bulk|tail_mor>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The change log is generated from the seed
by ``datagen.generate_events_fast`` and replayed once by the pandas golden
replayer; both are cached under ``.perfbench/cache`` in the checkout. One
client drives the engine on ``local[nproc]``. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``). The full record of a run (host, inputs, every sample, and
for a traced run the spans, Spark accounting and the layer ledger) is
written to ``.perfbench/out``. See perfbench/README.md for the workloads,
the metrics and what each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

from stats import median, p_hi, ratio  # noqa: E402

# Log size: 160k events in 32 files (5k events per tail epoch), 3.2k keys.
# On a 4-CPU host a warm whole-log run_batch_replay took 1.37 s at 160k
# events, 1.52 s at 320k and 1.93 s at 640k: ~1.2 s of per-epoch fixed cost
# plus ~1.2 us per event, so at this size ~15 % of a bulk replay's wall
# scales with the log. A plain 5k-event MoR epoch took ~0.9 s and a
# 32k-event one ~1.2 s: the fixed cost is ~95 % of a tail epoch. Larger
# logs did not fit the run budget (README, "Budget").
N_EVENTS = 160_000
N_FILES = 32
N_URLS = N_EVENTS // 50
N_POOL = 2_000

WORKLOADS = ("replay_bulk", "tail_mor")
# Timed rounds per 25 s of --seconds: a fixed count, at least one, so every
# run with the same --seconds repeats the same operations after the same
# warm-up. A traced run makes three rounds (untraced, traced, untraced).
ROUNDS_PER_25S = {"replay_bulk": 3, "tail_mor": 1}
TRACED_ROUNDS = 3
# Wall of one warm round on a 4-CPU host, untraced and traced.
ROUND_S = {("replay_bulk", 0): 9.0, ("tail_mor", 0): 27.0,
           ("replay_bulk", 1): 9.0, ("tail_mor", 1): 19.0}
# A run must end within HARD_LIMIT_S. Set-up (inputs, Spark start, warm-up)
# takes up to SETUP_ALLOWANCE_S, and CPU steal from other virtual machines
# can slow rounds by STEAL_MARGIN; a --seconds that cannot fit is refused.
HARD_LIMIT_S = 170
SETUP_ALLOWANCE_S = 70
STEAL_MARGIN = 1.6
# Spark driver heap, allocated in full at start (-Xms)
DRIVER_MEM = "2g"


def rounds_for(workload: str, seconds: float, trace: int) -> int:
    if trace:
        return TRACED_ROUNDS
    return max(1, round(seconds * ROUNDS_PER_25S[workload] / 25))


def fits(workload: str, n_rounds: int, trace: int) -> bool:
    """Whether ``n_rounds`` rounds, after set-up, end within the limit."""
    return (SETUP_ALLOWANCE_S + n_rounds * ROUND_S[workload, trace] * STEAL_MARGIN
            <= HARD_LIMIT_S)


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists
    them; every name listed there must be computed here."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def shape_for(workload: str, fx, trace: int = 0):
    """Head/tail split and operation counts of one timed round of
    ``workload``. A traced tail_mor round makes no extra replay and fewer
    reads, so that the three rounds of a traced run fit in the time limit."""
    from lifecycle import Shape

    n = len(fx.files)
    if workload == "replay_bulk":
        # nearly the whole log in one bulk epoch, then a 2-epoch tail that
        # leaves every bucket with merge-on-read deltas for the reads
        return Shape(list(range(n - 2)), [n - 2, n - 1], lookups=3, scans=2, replays=1)
    if workload == "tail_mor":
        # the tail starts at the file holding the 60 % DDL, so it and the
        # 75 % and 90 % DDLs land mid-tail, as does the compaction of epoch 7
        cut = fx.ddl_files[2]
        if trace:
            return Shape(list(range(cut)), list(range(cut, n)), lookups=2, scans=1)
        return Shape(list(range(cut)), list(range(cut, n)), lookups=4, scans=2, replays=1)
    raise ValueError(workload)


def warmup_shapes(workload: str, fx):
    """Rounds run before timing, each with whether it ends with an explicit
    ``compact_table`` call. The first, cold, round over the files that hold
    the three schema changes compiles every path the timed rounds use: bulk
    replay, MoR epochs through schema evolution, lookups and scans of the
    dirty table, and compaction. The second only replays the timed rounds'
    head, because the first bulk replays after the cold one were the
    operations still speeding up the most: twice on tail_mor, whose two
    timed replays open its one round, once on replay_bulk, which times six
    over three rounds."""
    from lifecycle import Shape

    d = fx.ddl_files
    replays = 1 if workload == "tail_mor" else 0
    return [(Shape(list(range(d[2], d[3])), [d[3], d[4]], lookups=2, scans=1), True),
            (Shape(shape_for(workload, fx).head, [], lookups=0, scans=0, replays=replays),
             False)]


# ------------------------------------------------------------------- host
def host_record() -> dict:
    nproc = len(os.sched_getaffinity(0))
    mem = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem = int(line.split()[1]) * 1024
    except OSError:
        pass
    shm = 0
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        shm = st.f_blocks * st.f_frsize
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"nproc": nproc, "cpu_count": os.cpu_count(), "ram_bytes": mem,
            "dev_shm_bytes": shm, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "numpy": numpy.__version__,
            "machine": platform.machine()}


def start_session(cores: int, work: str):
    from openlogreplicator_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = build_session(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # temp files inside the checkout; no jvmstat file in /tmp; the
            # heap starts at its full size, so early rounds do not run while
            # G1 is still growing it
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             f"-Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - already gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - still running: force it
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------- metrics
def _ok(ops, kind, label=None):
    return [o for o in ops if o.kind == kind and o.ok
            and (label is None or o.label == label)]


def e2e_metrics(rounds, setup_s: float) -> tuple[dict, dict]:
    ops = [o for r in rounds for o in r.ops]
    reps, tails = _ok(ops, "replay"), _ok(ops, "tail")
    plain = [o.secs for o in _ok(ops, "epoch", "plain")]
    looks = [o.secs for o in _ok(ops, "lookup")]
    scans = [o.secs for o in _ok(ops, "scan")]
    last = rounds[-1]
    detail = {
        "replay_events_per_s": {"n": len(reps), "events": [o.events for o in reps]},
        "tail_events_per_s": {"n": len(tails), "events": [o.events for o in tails]},
        "epoch_p_hi_s": p_hi(plain) if plain else None,
        "lookup_p_hi_s": p_hi(looks) if looks else None,
        "stored_bytes_per_row": ratio(last.final_bytes, last.final_rows),
        "epochs": {"plain": len(plain),
                   "compaction": [o.secs for o in _ok(ops, "epoch", "compaction")]},
        "n": {"lookups": len(looks), "scans": len(scans)},
    }
    m = {
        "replay_events_per_s": median([o.events / o.secs for o in reps]) if reps else 0.0,
        "tail_events_per_s": median([o.events / o.secs for o in tails]) if tails else 0.0,
        "epoch_p50_s": median(plain) if plain else 0.0,
        "epoch_p_hi_s": detail["epoch_p_hi_s"]["value"] if plain else 0.0,
        "stored_bytes_per_row": detail["stored_bytes_per_row"]["value"],
        "lookup_p50_s": median(looks) if looks else 0.0,
        "lookup_p_hi_s": detail["lookup_p_hi_s"]["value"] if looks else 0.0,
        "scan_s": median(scans) if scans else 0.0,
        "setup_s": setup_s,
    }
    return m, detail


def layer_metrics(tracer, acct, ledger, traced, overhead, setup, cores):
    """The per-layer metrics of one traced round (README: per-layer table);
    returns the values and, for the ratios, their bases."""
    from tracing import node_counters, root_of

    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    roots = root_of(spans)

    def under(s, name):  # s is `name` or has an ancestor named `name`
        while s is not None:
            if s.name == name:
                return True
            s = by_id.get(s.parent)
        return False

    cnt: dict[str, float] = {}
    for e in acct["execs"]:
        for k, v in node_counters(e["nodes"]).items():
            cnt[k] = cnt.get(k, 0.0) + v
    jobs, stages = acct["jobs"], acct["stages"]

    def out_bytes(pred):  # output bytes of the stages of jobs matching pred
        return sum(stages.get(st, {}).get("output_bytes", 0.0)
                   for j in jobs.values() if pred(j) for st in j["stages"])

    writes = {e["id"] for e in acct["execs"]
              if any(n["name"].startswith("Execute InsertInto") for n in e["nodes"])}
    w = ledger["exec_weights"]
    off_job = ledger["off_job"]
    ops = traced.ops
    applied = _ok(ops, "replay") + _ok(ops, "epoch")
    events_in = sum(o.events for o in applied)
    epoch_spans = [s for s in spans if s.name == "apply_epoch"]
    applied_ids = {s.parent for s in spans
                   if s.name in ("merge_into", "merge_append")
                   and s.parent in by_id and by_id[s.parent].name == "apply_epoch"}
    jobs_per = {sid: 0 for sid in applied_ids}
    for j in jobs.values():
        for a in _ancestors(by_id, j["group"]):
            if a in jobs_per:
                jobs_per[a] += 1
                break
    commits = [s for s in spans if s.name == "commit_files"]
    top_commits = [s for s in commits if by_id.get(s.parent) is None
                   or by_id[s.parent].name != "commit_files"]
    plans = [s.attrs["plan"] for s in spans if "plan" in s.attrs
             and roots[s.id].name == "op.lookup"]
    task_s = sum(st["task_s"] for st in stages.values())
    trig = sum(s.dur for s in spans if s.name == "run_available_now") - sum(
        s.dur for s in epoch_spans if under(by_id.get(s.parent), "run_available_now"))
    reads = {"op.lookup", "op.scan"}
    r = {
        "decode.source_rows_read": cnt.get("decode.rows_read", 0.0),
        "decode.read_amplification": ratio(cnt.get("decode.rows_read", 0.0), events_in),
        "decode.scan_s": cnt.get("decode.scan_s", 0.0),
        "lww.winners": cnt.get("lww.winners", 0.0),
        "lww.candidates_per_winner": ratio(cnt.get("lww.candidates", 0.0),
                                           cnt.get("lww.winners", 0.0)),
        "lww.broadcast_bytes": cnt.get("lww.broadcast_bytes", 0.0),
        "lww.agg_s": sum(x.get("lww", 0.0) for x in w.values()),
        "lww.shuffle_bytes": cnt.get("lww.shuffle_bytes", 0.0),
        "merge.files_written": cnt.get("merge.files_written", 0.0),
        "merge.bytes_written": out_bytes(lambda j: j.get("exec") in writes),
        "merge.write_task_s": sum(x.get("merge", 0.0) for x in w.values()),
        "merge.self_s": sum(off_job[s.id] for s in spans if s.layer == "merge"),
        "merge.compactions": float(sum(s.name == "compact_table" for s in spans)),
        "merge.compact_s": sum(s.dur for s in spans if s.name == "compact_table"),
        "merge.compact_bytes_rewritten": out_bytes(
            lambda j: under(by_id.get(j["group"]), "compact_table")),
        "merge.read_lww_s": sum(ledger["per_span"][s.id].get("lww", 0.0)
                                for s in spans if roots[s.id].name in reads),
        "lake.commits": float(len(top_commits)),
        "lake.commit_s": sum(s.dur for s in top_commits),
        "lake.commit_retries": float(len(commits) - len(top_commits)),
        "lake.load_s": sum(s.dur for s in spans if s.name == "load"),
        "lake.evolves": float(sum(s.name == "evolve" for s in spans)),
        "lake.files_live": float(traced.final_files),
        "lake.dirty_buckets": float(traced.dirty_buckets),
        "lake.files_selected_per_lookup": ratio(
            sum(p["files_selected"] for p in plans), len(plans)),
        "lake.bloom_skipped": float(sum(p["skipped_bloom"] for p in plans)),
        "pipeline.epochs": float(len(applied)),
        "pipeline.apply_self_s": sum(off_job[s.id] for s in epoch_spans),
        "pipeline.trigger_s": trig,
        "spark.jobs_per_epoch": ratio(sum(jobs_per.values()), len(jobs_per)),
        "spark.task_s": task_s,
        "spark.gc_s": sum(st["gc_s"] for st in stages.values()),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages.values()),
        "spark.core_busy_share": ratio(task_s, traced.wall_s * cores),
        "setup.fixture_s": setup["fixture_s"],
        "setup.golden_s": setup["golden_s"],
        "setup.session_s": setup["session_s"],
        "setup.warmup_s": setup["warmup_s"],
        "setup.state_build_s": traced.state_build_s,
        "trace.overhead_s": overhead,
        "ledger.wall_s": traced.wall_s,
    }
    for lay, v in ledger["layers"].items():
        r[f"ledger.{lay}_s"] = v
    values = {k: (v["value"] if isinstance(v, dict) else float(v)) for k, v in r.items()}
    detail = {k: v for k, v in r.items() if isinstance(v, dict)}
    detail["jobs_per_epoch"] = [
        {"trace_id": by_id[sid].trace_id, "jobs": n,
         "compaction": any(s.name == "compact_table" and s.parent == sid for s in spans)}
        for sid, n in jobs_per.items()]
    return values, detail


def _round_record(r) -> dict:
    return {"wall_s": r.wall_s, "state_build_s": r.state_build_s,
            "final_files": r.final_files, "final_bytes": r.final_bytes,
            "final_rows": r.final_rows, "dirty_buckets": r.dirty_buckets,
            "cpu": r.cpu, "ops": [vars(o) for o in r.ops]}


def _ancestors(by_id, sid):
    while sid is not None and sid in by_id:
        yield sid
        sid = by_id[sid].parent


# ------------------------------------------------------------------- main
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openlogreplicator_spark")):
        _fail(f"engine package not found under {ROOT}; run from a checkout", 2)
    sys.path.insert(0, ROOT)
    units = metric_units()[1 if args.trace else 0]
    n_rounds = rounds_for(args.workload, args.seconds, args.trace)
    if not fits(args.workload, n_rounds, args.trace):
        most = max(s for s in range(1, 181)
                   if fits(args.workload, rounds_for(args.workload, s, 0), 0))
        _fail(f"--seconds {args.seconds:g} plans {n_rounds} {args.workload} rounds, "
              f"which cannot end within {HARD_LIMIT_S} s; use at most {most}", 2)

    work = os.path.join(STATE, "work", str(os.getpid()))
    _prune_dead_work(os.path.join(STATE, "work"))
    os.makedirs(work, exist_ok=True)
    for k, v in {"SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
                 "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                 "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                 "TMPDIR": os.path.join(work, "tmp"),
                 "PYSPARK_PYTHON": sys.executable}.items():
        os.environ[k] = v
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    host = host_record()
    cores = host["nproc"]
    spark = None

    def hard_stop():  # a run must end in bounded time, with or without a result
        print(f"perfbench: over {HARD_LIMIT_S} s, aborting", file=sys.stderr)
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(4)

    watchdog = threading.Timer(HARD_LIMIT_S, hard_stop)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: hard_stop())
    try:
        from lifecycle import (LogSpec, Runner, cpu_shares, cpu_ticks,
                               ensure_head_golden, ensure_inputs)

        spec = LogSpec(seed=args.seed, n_events=N_EVENTS, n_urls=N_URLS,
                       n_pool=N_POOL, n_files=N_FILES)
        fx = ensure_inputs(os.path.join(STATE, "cache"), spec)
        shape = shape_for(args.workload, fx, args.trace)
        warm_shapes = warmup_shapes(args.workload, fx)
        for sh in [shape] + [w for w, _ in warm_shapes]:
            if sh.replays:
                ensure_head_golden(fx, len(sh.head))
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        host["java"] = sc._jvm.System.getProperty("java.version")
        host["spark_master"] = sc.master
        host["spark_task_slots"] = sc.defaultParallelism
        if sc.defaultParallelism > host["nproc"]:
            _fail(f"refused: {sc.defaultParallelism} concurrent tasks on "
                  f"{host['nproc']} CPUs", 3)

        runner = Runner(spark, fx, work, args.seed)
        t0 = time.perf_counter()
        warm = [runner.round(sh, with_compaction_call=c) for sh, c in warm_shapes]
        warmup_s = time.perf_counter() - t0
        setup = {"fixture_s": fx.fixture_s, "golden_s": fx.golden_s,
                 "session_s": session_s, "warmup_s": warmup_s,
                 "warmup_rounds_s": [r.wall_s for r in warm]}
        setup_s = fx.fixture_s + fx.golden_s + session_s + warmup_s

        ticks = cpu_ticks()
        record = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace, "host": host,
                  "log_spec": spec.kwargs(), "log_rows": sum(fx.rows),
                  "golden_rows": len(fx.golden), "ddl_files": fx.ddl_files,
                  "shape": {"head_files": len(shape.head), "tail_files": len(shape.tail),
                            "lookups": shape.lookups, "scans": shape.scans,
                            "replays": 1 + shape.replays, "rounds": n_rounds},
                  "setup": setup}
        if args.trace:
            rounds, metrics, extra = traced_run(spark, runner, shape, setup, cores)
        else:
            rounds = [runner.round(shape) for _ in range(n_rounds)]
            metrics, extra = e2e_metrics(rounds, setup_s)
        record["host"]["cpu_during_rounds"] = cpu_shares(ticks, cpu_ticks())
        record["setup"]["state_build_s"] = [r.state_build_s for r in rounds]
        record["warmup"] = [_round_record(r) for r in warm]
        record["detail"] = extra
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()

    ops = [o for r in rounds for o in r.ops]
    counted = [o for o in ops if not (o.kind == "tail" and o.ok)]
    failed = [o for o in counted if not o.ok]
    gated = [o for o in counted if o.kind in ("scan", "lookup") and o.ok
             and not o.note.startswith("partial")]
    record["rounds"] = [_round_record(r) for r in rounds]
    record["failures"] = [vars(o) for o in failed]
    out = {
        "correct": not failed and bool(gated),
        "attempted": len(counted),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    record["result"] = out
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    path = os.path.join(STATE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for o in failed:
        print(f"perfbench: FAILED {o.kind} {o.label} {o.note}", file=sys.stderr)
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(out))
    return 0


def traced_run(spark, runner, shape, setup, cores):
    """Untraced, traced, untraced: one round each, all three gated. The
    traced round gives the per-layer numbers; the difference between its
    wall and the mean of the two untraced walls is the tracing overhead."""
    from tracing import Tracer, build_ledger, read_spark_accounting

    before = runner.round(shape)
    tracer = Tracer(spark.sparkContext)
    tracer.install()
    runner.tracer = tracer
    try:
        traced = runner.round(shape)
    finally:
        tracer.uninstall()
        runner.tracer = None
    after = runner.round(shape)
    overhead = traced.wall_s - (before.wall_s + after.wall_s) / 2
    acct = read_spark_accounting(spark, {s.id for s in tracer.spans})
    ledger = build_ledger(tracer.spans, acct, traced.wall_s)
    metrics, ratios = layer_metrics(tracer, acct, ledger, traced, overhead, setup, cores)
    extra = {
        "ratios": ratios,
        "untraced_walls_s": [before.wall_s, after.wall_s],
        "traced_wall_s": traced.wall_s,
        "ledger": ledger["layers"],
        "spans": [{"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                   "trace_id": s.trace_id, "t0": s.t0, "t1": s.t1, "thread": s.thread,
                   "self_s": ledger["self"][s.id], "off_job_s": ledger["off_job"][s.id],
                   "ledger": ledger["per_span"][s.id],
                   **({"plan": s.attrs["plan"]} if "plan" in s.attrs else {})}
                  for s in tracer.spans],
        "jobs": list(acct["jobs"].values()),
        "stages": acct["stages"],
        "exec_weights": ledger["exec_weights"],
    }
    return [before, traced, after], metrics, extra


def _prune_dead_work(base: str) -> None:
    """Remove work directories left by runs that were killed."""
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        try:
            os.kill(int(d), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        except PermissionError:
            pass


if __name__ == "__main__":
    sys.exit(main())
