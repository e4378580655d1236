#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation.

    python3 perfbench/run.py --workload analytics_suite --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures with the program
unmodified and prints the end-to-end metrics; ``--trace 1`` measures
once untraced and once with every layer wrapped, and prints the
per-layer metrics plus the tracing overhead. ``--smoke`` shrinks the
inputs (sf0.001, one serving client) for the benchmark's own test.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> {value, unit}). The line before it
is ``{"detail": ...}``: every figure the run measured, the noise
witness (nproc, loadavg, steal jiffies, Spark master) and failures.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

# The gated end-to-end metrics. The wall-clock figures (suite_s, op
# percentiles, ops_per_s) print in the detail line only: on a VM shared
# with other tenants they spread more between runs than any bound allows.
E2E_UNITS = {"setup_s": "s", "cpu_per_op_s": "s"}


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if len(parts) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and every
    process below it, including children they have reaped (Spark's Python
    workers). Time the hypervisor stole from the VM is charged to none."""
    me = os.getpid()
    ticks = 0
    for p in _descendants(me) | {me}:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):  # the process has ended
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _await_exit(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Session:
    """The SparkSession: one JVM per run, restartable contexts."""

    def __init__(self, master: str, run_dir: str):
        self.master = master
        self.spark = None
        self.conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # keep every job and stage of a run for the traced counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def start(self) -> None:
        from nexusbase_spark.session import get_spark
        self.spark = get_spark("perfbench", master=self.master,
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, the JVM and every process below this one."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext
        procs = _descendants(os.getpid())
        try:
            self.stop()
        except Py4JError:  # a signal cut a gateway call short
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _await_exit(procs, 30)


def _collect_garbage(spark) -> None:
    """Full collections in Python and in the JVM before a measured
    window, so that one the warm-up made due does not land inside it."""
    import gc
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _spark_context():
    from pyspark import SparkContext
    return SparkContext._active_spark_context


def e2e_metrics(wl, ops, wall: float, cpu_per_op: float,
                setup_times: list[float]) -> dict:
    from workloads import percentile
    lat = [o.latency for o in ops]
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.latency)
    suite = sum(n * statistics.median(by_kind[k]) for k, n in wl.block.items()
                if k in by_kind)
    return {"setup_s": statistics.median(setup_times), "suite_s": suite,
            "op_p50_s": percentile(lat, 0.5), "op_p75_s": percentile(lat, 0.75),
            "op_p90_s": percentile(lat, 0.9), "ops_per_s": len(ops) / wall,
            "cpu_per_op_s": cpu_per_op}


def layer_metrics(wl, tracer, ops, ctx) -> dict:
    """The per-layer metrics (see README.md for units and meaning):
    ``*_s`` is mean inclusive seconds per call, counts are per measured
    op, ``storage.*``/``spark.persisted_rdds_end`` are end-of-run."""
    from workloads import SUITE, NbqlServing
    s = tracer.summary("measure")
    setup = tracer.summary("setup")
    n = max(1, len(ops))

    def mean_s(name, table=s):
        st = table.get(name)
        return st.incl_s / st.calls if st and st.calls else 0.0

    def per_op(name, attr):
        st = s.get(name)
        return getattr(st, attr) / n if st else 0.0

    out = {
        "queries.build_s": mean_s("queries.build"),
        "queries.build_jobs": per_op("queries.build", "jobs"),
        "datamodel.load_table_calls": per_op("datamodel.load_table", "calls"),
        "datamodel.load_table_s": mean_s("datamodel.load_table"),
        "spark.read_parquet_calls": per_op("spark.read_parquet", "calls"),
        "spark.read_parquet_jobs": per_op("spark.read_parquet", "jobs"),
        "spark.plan_s": mean_s("spark.plan"),
        "spark.exec.drain_s": mean_s("spark.exec.drain"),
        "spark.exec.jobs": per_op("spark.exec.drain", "jobs"),
        "spark.exec.stages": per_op("spark.exec.drain", "stages"),
        "spark.exec.tasks": per_op("spark.exec.drain", "tasks"),
        "spark.exec.shuffle_bytes": per_op("spark.exec.drain", "shuffle_bytes"),
        "spark.exec.input_bytes": per_op("spark.exec.drain", "input_bytes"),
        "nbql.parse_s": mean_s("nbql.parse"),
        "nbql.plan_query_s": mean_s("nbql.plan_query"),
        "engine.points_s": mean_s("engine.points"),
        "engine.build_s": mean_s("engine.build"),
        "engine.build_jobs": per_op("engine.build", "jobs"),
        "engine.read_guard_wait_s": mean_s("engine.read_guard_wait"),
        "tagindex.resolve_s": mean_s("tagindex.resolve"),
        "tagindex.append_s": mean_s("tagindex.append"),
        "engine.put_batch_s": mean_s("engine.put_batch"),
        "engine.flush_l0_s": mean_s("engine.flush_l0"),
        "engine.flush_count": per_op("engine.flush_l0", "calls"),
        "engine.write_jobs": per_op("engine.put_batch", "jobs")
        + per_op("engine.delete", "jobs"),
        "spark.write_parquet_calls": per_op("spark.write_parquet", "calls"),
        "spark.write_parquet_s": mean_s("spark.write_parquet"),
        "engine.ingest_frame_s": mean_s("engine.ingest_frame", setup),
        "engine.ingest_frame_jobs": (
            setup["engine.ingest_frame"].jobs / setup["engine.ingest_frame"].calls
            if "engine.ingest_frame" in setup else 0.0),
    }
    st = s.get("server.execute_to_json")
    out["server.encode_s"] = st.self_s / st.calls if st and st.calls else 0.0
    for kind in NbqlServing.block:
        lat = [o.latency for o in ops if o.kind == kind] if wl.name == "nbql_serving" else []
        out[f"serve.{kind}.p50_s"] = statistics.median(lat) if lat else 0.0
    out["serve.repeat_share"] = wl.repeat_share() if wl.name == "nbql_serving" else 0.0
    if hasattr(wl, "engine"):
        sto = wl.storage()
        out["storage.points_files"] = sto["points_files"]
        out["storage.l0_files_max"] = getattr(wl, "l0_files_max", sto["l0_files"])
        out["storage.tombstone_files"] = sto["tombstone_files"]
    else:
        out["storage.points_files"] = out["storage.l0_files_max"] = 0
        out["storage.tombstone_files"] = 0
    out["spark.persisted_rdds_end"] = ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
    for name in SUITE:
        lat = [o.latency for o in ops if o.kind == name]
        out[f"query.{name}_s"] = statistics.median(lat) if lat else 0.0
    return out


def named_metrics(workload: str, e2e: dict, ops, detail: dict) -> dict:
    """The thirteen end-to-end figures by their workload-specific names
    (README.md). None where a figure does not apply to the workload."""
    from workloads import percentile

    def lat(*kinds):
        return [o.latency for o in ops if o.kind in kinds]
    reads = lat("read_final_agg", "read_range")
    writes = lat("write")
    serving = workload == "nbql_serving"
    ingest = workload == "ingest_mixed"
    engine = serving or ingest
    return {
        "setup_s": (e2e["setup_s"], "s"),
        "op_error_rate": (detail["op_error_rate"], "share"),
        "suite_s": (e2e["suite_s"] if workload == "analytics_suite" else None, "s"),
        "serve_qps": (detail.get("serve_qps") if serving else None, "1/s"),
        "serve_p50_s": (e2e["op_p50_s"] if serving else None, "s"),
        "serve_p90_s": (e2e["op_p90_s"] if serving else None, "s"),
        "bulk_ingest_pts_per_s": (detail.get("bulk_ingest_pts_per_s") if engine else None, "pts/s"),
        "ingest_pts_per_s": (detail.get("ingest_pts_per_s") if ingest else None, "pts/s"),
        "write_p50_s": (percentile(writes, 0.5) if ingest else None, "s"),
        "write_p90_s": (percentile(writes, 0.9) if ingest else None, "s"),
        "read_p50_s": (percentile(reads, 0.5) if ingest else None, "s"),
        "read_p90_s": (percentile(reads, 0.9) if ingest else None, "s"),
        "bytes_per_point": (detail.get("bytes_per_point") if engine else None, "bytes"),
    }


LAYER_UNITS_COUNT = ("_calls", "_jobs", ".jobs", ".stages", ".tasks",
                     "_count", "_files", "_files_max", "_rdds_end")


def layer_unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "share"
    if name.endswith("_ok"):
        return "bool"
    if name.endswith(LAYER_UNITS_COUNT):
        return "count"
    return "s"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nexusbase_spark")):
        print(f"perfbench: no nexusbase_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    n_cpu = len(os.sched_getaffinity(0))
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-",
                               dir=_mkdir(os.path.join(HERE, ".run")))
    # every process below this one keeps its scratch inside the run dir
    tmp = _mkdir(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # C1 only: a run is far too short for C2 to finish compiling Spark,
    # and its compiler threads otherwise burn a varying 1-2 CPU seconds
    # per op of the measured window, on the cores the queries need
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       "-XX:TieredStopAtLevel=1")
    session = Session(f"local[{n_cpu}]", run_dir)
    try:
        return _run(args, session, run_dir, n_cpu)
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


def _run(args, session, run_dir: str, n_cpu: int) -> int:
    import datagen
    import layers
    import workloads
    from tracer import Tracer

    wl = workloads.WORKLOADS[args.workload]()
    witness = {"nproc": n_cpu, "spark_master": session.master,
               "loadavg_start": os.getloadavg(), "steal_start": _steal_jiffies()}
    sf = wl.smoke_sf if args.smoke else wl.sf
    sf_dir = datagen.ensure_tables(os.path.join(HERE, ".data"), sf)
    t0 = time.perf_counter()
    session.start()
    jvm_s = time.perf_counter() - t0
    ctx = workloads.Ctx(session, sf_dir, run_dir, os.path.join(HERE, ".data"),
                        args.seed, n_cpu, args.smoke, cpu=_tree_cpu_s)
    ctx.detail.update(workload=wl.name, seed=args.seed, sf=sf, jvm_launch_s=jvm_s)
    tracer = Tracer(_spark_context) if args.trace else None
    if tracer:
        layers.install(tracer)  # the setup is traced too (ingest_frame)
        ctx.tracer = tracer

    wl.prepare(ctx)
    if tracer:
        tracer.resolve()
        tracer.uninstall()
        ctx.tracer = None
    # warm up before the timed set-ups, so one-time JIT and codegen costs
    # are paid once, here, and every set-up repetition is a warm restart
    t0 = time.perf_counter()
    wl.setup_once(ctx)
    wl.warmup(ctx)
    ctx.detail["warmup_s"] = time.perf_counter() - t0
    setup_times = []
    for _ in range(SETUP_REPS):
        session.stop()
        t0 = time.perf_counter()
        session.start()
        wl.setup_once(ctx)
        setup_times.append(time.perf_counter() - t0)
    ctx.detail["setup_reps_s"] = setup_times

    steal0 = _steal_jiffies()
    _collect_garbage(ctx.spark)
    ops, wall, cpu = wl.measure(ctx, args.seconds)
    e2e = e2e_metrics(wl, ops, wall, cpu, setup_times)
    steal1 = _steal_jiffies()
    ctx.detail["measure_wall_s"] = wall
    if steal0 is not None and steal1 is not None:
        ctx.detail["steal_jiffies_measure"] = steal1 - steal0

    traced_ops = []
    if tracer:
        tracer.phase = "measure"
        layers.install(tracer)
        ctx.tracer = tracer
        _collect_garbage(ctx.spark)
        traced_ops, traced_wall, traced_cpu = wl.measure(ctx, args.seconds)
        tracer.uninstall()
        ctx.tracer = None
        tracer.resolve()
        e2e_traced = e2e_metrics(wl, traced_ops, traced_wall, traced_cpu,
                                 setup_times)
    problems = wl.finish(ctx)

    all_ops = ops + traced_ops
    failed_ops = [o for o in all_ops if not o.ok]
    ctx.detail["e2e"] = e2e
    ctx.detail["attempted"] = len(all_ops)
    ctx.detail["op_error_rate"] = (len(failed_ops) + len(problems)) / max(1, len(all_ops))
    for kind in sorted({o.kind for o in ops}):
        lat = [o.latency for o in ops if o.kind == kind]
        if wl.name == "analytics_suite":  # the one loop that keeps per-op CPU
            ctx.detail.setdefault("kind_cpu_s", {})[kind] = min(
                o.cpu for o in ops if o.kind == kind)
        ctx.detail.setdefault("kind_p50_s", {})[kind] = statistics.median(lat)
        ctx.detail.setdefault("kind_p90_s", {})[kind] = workloads.percentile(lat, 0.9)
        ctx.detail.setdefault("kind_n", {})[kind] = len(lat)
    ctx.detail["failures"] = [o.error for o in failed_ops][:10] + problems[:10]

    named = named_metrics(wl.name, e2e, ops, ctx.detail)
    ctx.detail["named_metrics"] = named
    correct = not failed_ops and not problems
    if tracer:
        metrics = layer_metrics(wl, tracer, traced_ops, ctx)
        recorded = {sp.name for sp in tracer.spans}
        missing = [n for n in layers.REQUIRED[wl.name] if n not in recorded]
        metrics["trace.self_check_ok"] = 0 if missing else 1
        metrics["trace.coverage_share"] = tracer.coverage("measure")
        metrics["trace.overhead_s"] = e2e_traced["suite_s"] - e2e["suite_s"]
        metrics["trace.overhead_share"] = (
            metrics["trace.overhead_s"] / e2e["suite_s"] if e2e["suite_s"] else 0.0)
        ctx.detail["trace_missing_layers"] = missing
        ctx.detail["trace_bindings"] = tracer.bindings
        ctx.detail["traced_e2e"] = e2e_traced
        correct = correct and not missing
        _write_trace(wl.name, args.seed, tracer, metrics, ctx.detail)
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    witness.update(loadavg_end=os.getloadavg(), steal_end=_steal_jiffies())
    ctx.detail["witness"] = witness
    for name, (v, unit) in named.items():
        print(f"{name:34s} {'n/a' if v is None else format(v, '.6g')} {unit}")
    for k, v in out.items():
        print(f"{k:34s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"detail": ctx.detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": len(all_ops),
                      "failed": len(failed_ops) + len(problems),
                      "metrics": out}))
    sys.stdout.flush()
    return 0


def _write_trace(workload, seed, tracer, metrics, detail) -> None:
    path = os.path.join(_mkdir(os.path.join(HERE, ".out")),
                        f"trace-{workload}-seed{seed}.json")
    layers = {name: {"calls": st.calls, "incl_s": st.incl_s,
                     "self_s": st.self_s, "jobs": st.jobs}
              for name, st in sorted(tracer.summary("measure").items())}
    with open(path, "w") as f:
        json.dump({"metrics": metrics, "layers": layers, "detail": detail,
                   "spans": tracer.dump()}, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
