#!/usr/bin/env python3
"""The repository's benchmark: seeded inputs, closed-loop passes over one
workload, end-to-end metrics, and a traced run for per-layer metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload olap_llm --seed 7 --seconds 7 --trace 0

One process, one client, master local[<cores>]. A run
1. sets up: imports, `load_all_modules`, `get_spark` and one warm-up job
   (`setup_s`);
2. generates the workload's inputs from `--seed` (not timed);
3. runs the cold pass (`cold_pass_cpu_s`): every op once, its DataFrame
   collected to the driver; each op's output is checked after it, untimed;
4. runs the timed passes into a noop sink (`pass_cpu_s`): their count is
   `--seconds` over the workload's nominal pass time, at least one, so
   every run times the same ops. With `--trace 1` they alternate untraced
   and traced.

The end-to-end times are CPU times of the process tree, the passes'
without the JVM's JIT compiler threads: on a VM of a shared host, wall
times move with the CPU time the host takes (see perfbench/README.md).

The last stdout line is the result: `correct`, `attempted`, `failed` and
`metrics` (end-to-end with `--trace 0`, per-layer with `--trace 1`). The
line before it is a summary record; the full record, and with `--trace 1`
the spans, are written under `.perfbench/out/`.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import FORMAT, STEPS, WORKLOADS, Collected, generate_inputs, make_ops, table_footprint  # noqa: E402

# Percentiles tried for op_tail_s, highest first: the first one with at
# least TAIL_BEYOND samples above it is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10
REQUIRED = (
    "atlas_migration_repo_spark/registry.py",
    "tools/gen_fixtures.py",
    "tests/conftest.py",
)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "driver_rss_mb": "MB",
}
PER_LAYER = {
    "construct_s": "s",
    "construct_jobs": "count",
    "py4j_calls": "count",
    "driver_cpu_s": "s",
    "plan_s": "s",
    "execute_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "slot_util": "ratio",
    "input_rows": "count",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "jvm_peak_rss_mb": "MB",
    "python_rows": "count",
    "arrow_bytes_to_python": "B",
    "arrow_bytes_from_python": "B",
    **{f"{FORMAT}.{step}_s": "s" for step in STEPS},
    "metadata_s": "s",
    "bytes_written_per_user_byte": "ratio",
    "files_live": "count",
    "session_start_s": "s",
    "module_load_s": "s",
    "warmup_s": "s",
    "tracing_overhead_s": "s",
    **{f"self_s.{layer}": "s" for layer in ("op", "construct", "plan", "execute", "sources")},
}


def _peak_rss_mb(pid: str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _tree_cpu_s() -> float:
    """CPU time (user + system) of this process and every process below it
    (the JVM and its Python workers), counting children they have reaped."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was read
            continue
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier and p not in tree}
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(jvm_pid: int) -> float:
    """CPU time (user + system) of the JVM's JIT compiler threads."""
    ticks = 0
    for t in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{t}/stat") as fh:
                raw = fh.read()
        except OSError:  # the thread ended while /proc was read
            continue
        if raw[raw.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = raw.rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _reset_peak_rss() -> None:
    """Hand freed heap back to the OS and restart this process's peak-RSS
    counter (Linux clear_refs code 5), so that the peak read later does
    not depend on what the untimed checks left behind."""
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _rank(n: int, p: float) -> int:
    return max(1, math.ceil(p / 100.0 * n))


def _tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) by nearest rank: the highest ladder percentile
    with at least TAIL_BEYOND samples above it, else the median."""
    xs = sorted(samples)
    n = len(xs)
    p = next((p for p in TAIL_LADDER if n - _rank(n, p) >= TAIL_BEYOND), 50.0)
    return p, xs[_rank(n, p) - 1]


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited: the JVM ends when its
    stdin closes, and the Python workers end with it."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _isolate(root: str, work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout and pin the
    master to local[<cores>]."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Compiler threads that live for the whole run, so that their CPU time
    # can be read per thread (`_jit_cpu_s`).
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH"))))
    sys.path[1:1] = [root, os.path.join(root, "tools"), os.path.join(root, "tests")]


class Runner:
    """Runs passes of one workload and keeps every op execution."""

    def __init__(self, spark, workload, data_dir: str, work: str, oracle_con, tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.data_dir = data_dir
        self.work = work
        self.con = oracle_con
        self.tracer = tracer
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.executions = 0
        self.raised = 0
        self.wrong: dict[str, str] = {}  # op -> first wrong-output message
        self.op_runs: dict[str, int] = {}

    def ops(self, tag: str):
        root = os.path.join(self.work, "tables", tag)
        return make_ops(self.workload, self.spark, self.data_dir, root, self.con)

    def drop_tables(self, tag: str) -> None:
        shutil.rmtree(os.path.join(self.work, "tables", tag), ignore_errors=True)

    def _cpu(self) -> tuple[float, float]:
        """(CPU time of the process tree, CPU time of the JIT compiler
        threads), both since the process started."""
        return _tree_cpu_s(), _jit_cpu_s(self.jvm_pid)

    def _count(self, op) -> None:
        self.executions += 1
        self.op_runs[op.name] = self.op_runs.get(op.name, 0) + 1

    def timed_pass(self, tag: str) -> dict:
        """Run every op once into a noop sink; return the pass wall and
        the per-op walls."""
        ops = self.ops(tag)
        walls = {}
        c0, t0 = self._cpu(), time.perf_counter()
        for op in ops:
            self.sc.setJobGroup(f"perfbench-{tag}-{op.name}", op.name)
            self._count(op)
            a = time.perf_counter()
            try:
                df = op.build()
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - a failed op is counted, the pass goes on
                traceback.print_exc(file=sys.stderr)
                self.raised += 1
            walls[op.name] = time.perf_counter() - a
        wall, c1 = time.perf_counter() - t0, self._cpu()
        self.drop_tables(tag)
        return {"tag": tag, "wall": wall, "cpu": c1[0] - c0[0] - (c1[1] - c0[1]), "jit_cpu": c1[1] - c0[1], "ops": walls}

    def traced_pass(self, tag: str) -> dict:
        """A timed pass with spans and per-op layer counters."""
        tr = self.tracer
        ops = self.ops(tag)
        walls, layers = {}, {}
        t0 = time.perf_counter()
        for op in ops:
            group = f"perfbench-{tag}-{op.name}"
            trace_id = f"{tag}/{op.name}"
            self.sc.setJobGroup(group, op.name)
            self._count(op)
            first_exec = tr.last_execution_id()
            rec = {"construct_s": 0.0, "plan_s": 0.0, "execute_s": 0.0}
            a = time.perf_counter()
            try:
                with tr.op(trace_id):
                    n0, c0, b = tr.py4j_calls, time.process_time(), time.perf_counter()
                    with tr.span("construct"):
                        df = op.build()
                    rec["construct_s"] = time.perf_counter() - b
                    rec["py4j_calls"] = tr.py4j_calls - n0
                    rec["driver_cpu_s"] = time.process_time() - c0
                    construct_jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
                    if df is not None:
                        b = time.perf_counter()
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        rec["plan_s"] = time.perf_counter() - b
                        b = time.perf_counter()
                        with tr.span("execute"):
                            df.write.format("noop").mode("overwrite").save()
                        rec["execute_s"] = time.perf_counter() - b
            except Exception:  # noqa: BLE001 - a failed op is counted, the pass goes on
                traceback.print_exc(file=sys.stderr)
                self.raised += 1
                construct_jobs = set()
            walls[op.name] = time.perf_counter() - a
            rec["construct_jobs"] = len(construct_jobs)
            rec.update(tr.job_stats(group, construct_jobs))
            rec.update(tr.python_stats(first_exec))
            layers[op.name] = rec
        wall = time.perf_counter() - t0
        footprint = None
        if self.workload.name == "lakehouse_land":
            footprint = table_footprint(self.data_dir, os.path.join(self.work, "tables", tag))
        self.drop_tables(tag)
        return {"tag": tag, "wall": wall, "ops": walls, "layers": layers, "footprint": footprint}

    def cold_pass(self, tag: str, ops) -> dict:
        """The first pass in the process: run every op once, collect each
        DataFrame to the driver and time build plus collect; then, untimed,
        check the collected output. Tables the ops write are kept, so a
        write is checked by the reads after it."""
        walls, cpu, jit = {}, 0.0, 0.0
        for op in ops:
            c0, a = self._cpu(), time.perf_counter()
            out = self._collect(tag, op)
            walls[op.name], c1 = time.perf_counter() - a, self._cpu()
            cpu += c1[0] - c0[0] - (c1[1] - c0[1])
            jit += c1[1] - c0[1]
            if out is not False:
                self._check(op, out)
        return {"tag": tag, "wall": sum(walls.values()), "cpu": cpu, "jit_cpu": jit, "ops": walls}

    def _collect(self, tag: str, op):
        """Build the op and collect its DataFrame: a `Collected`, None when
        the op returned no DataFrame, or False when it raised."""
        self.sc.setJobGroup(f"perfbench-{tag}-{op.name}", op.name)
        self._count(op)
        try:
            df = op.build()
            return None if df is None else Collected(df.columns, df.schema, df.collect())
        except Exception:  # noqa: BLE001 - a failed op is counted, the pass goes on
            traceback.print_exc(file=sys.stderr)
            self.raised += 1
            return False

    def _check(self, op, out) -> None:
        """A wrong output marks the op wrong for the whole run."""
        if op.check is None:
            return
        try:
            op.check(out)
        except AssertionError as e:
            self.wrong.setdefault(op.name, str(e)[:500])
        except Exception:  # noqa: BLE001 - a failed check is counted, the pass goes on
            traceback.print_exc(file=sys.stderr)
            self.raised += 1

    def failed(self) -> int:
        """Executions that raised, plus every execution of an op whose
        output was wrong."""
        return self.raised + sum(self.op_runs.get(n, 0) for n in self.wrong)


def _per_layer(runner: Runner, setup: dict, traced: list[dict], plain: list[dict], jvm_rss_mb: float) -> dict:
    """Median over the traced passes of each per-pass layer total."""
    tr = runner.tracer
    cores = runner.sc.defaultParallelism

    def per_pass(p: dict) -> dict:
        tot: dict[str, float] = {}
        for rec in p["layers"].values():
            for k, v in rec.items():
                tot[k] = tot.get(k, 0) + v
        out = {k: tot[k] for k in PER_LAYER if k in tot}
        out["slot_util"] = tot["exec_task_run_s"] / (tot["execute_s"] * cores) if tot["execute_s"] else 0.0
        ids = {f"{p['tag']}/{n}" for n in p["ops"]}
        out["metadata_s"] = sum(
            s["end"] - s["start"] for s in tr.spans if s["trace"] in ids and s["name"].startswith("metadata.")
        )
        for layer, v in tr.self_times(ids).items():
            out[f"self_s.{layer}"] = v
        for name, wall in p["ops"].items():
            if name.startswith(f"{FORMAT}."):
                out[f"{name}_s"] = wall
        if p["footprint"]:
            out.update(p["footprint"])
        return out

    rows = [per_pass(p) for p in traced]
    med = {k: statistics.median(r.get(k, 0) for r in rows) for k in PER_LAYER}
    med.update(
        session_start_s=setup["session_start_s"],
        module_load_s=setup["module_load_s"],
        warmup_s=setup["warmup_s"],
        jvm_peak_rss_mb=jvm_rss_mb,
        tracing_overhead_s=statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in plain),
    )
    return med


def _oracle(data_dir: str):
    """A DuckDB connection with a view over every generated table."""
    import duckdb

    from atlas_migration_repo_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')")
    return con


def run(work: str, data_dir: str, workload, seed: int, seconds: float, trace: bool, cores: int) -> dict:
    from atlas_migration_repo_spark.registry import load_all_modules
    from atlas_migration_repo_spark.session import get_spark

    load_all_modules()
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    spark.range(1).count()  # warm-up: the first job starts the scheduler and executor
    t3 = time.perf_counter()
    setup = {
        "setup_s": _tree_cpu_s(),
        "setup_wall_s": t3 - T_START,
        "module_load_s": t1 - T_START,
        "session_start_s": t2 - t1,
        "warmup_s": t3 - t2,
    }
    try:
        t_gen = time.perf_counter()
        rows = generate_inputs(workload, data_dir, seed)
        gen_s = time.perf_counter() - t_gen

        tracer = None
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        con = _oracle(data_dir)
        runner = Runner(spark, workload, data_dir, work, con, tracer)
        # The cold pass is also the warm-up of the timed passes. Measured at
        # local[4] on the SQL keys, pass times still drift down over the first
        # five passes in a process (the JIT compiles), by about the same
        # amount in every run; each further warm pass would cost a whole
        # pass of the time budget that the runs of both workloads share.
        cold_ops = runner.ops("cold")
        t_check = time.perf_counter()
        try:
            cold = runner.cold_pass("cold", cold_ops)
        finally:
            con.close()
        check_s = time.perf_counter() - t_check - cold["wall"]
        runner.drop_tables("cold")
        n_timed = max(1, round(seconds / workload.nominal_pass_s))
        if trace:
            n_timed = max(2, n_timed)
        _reset_peak_rss()
        t_meas = time.perf_counter()
        plain, traced = [], []
        for i in range(n_timed):
            if trace and i % 2 == 1:
                traced.append(runner.traced_pass(f"t{i}"))
            else:
                plain.append(runner.timed_pass(f"t{i}"))
        measured_s = time.perf_counter() - t_meas
        driver_rss_mb = _peak_rss_mb()
        jvm_rss_mb = _peak_rss_mb(str(spark.sparkContext._gateway.proc.pid))

        op_samples = [w for p in plain for w in p["ops"].values()]
        tail_pct, tail = _tail(op_samples)
        e2e = {
            "setup_s": setup["setup_s"],
            "cold_pass_cpu_s": cold["cpu"],
            "pass_cpu_s": statistics.median(p["cpu"] for p in plain),
            "driver_rss_mb": driver_rss_mb,
        }
        attempted, failed = runner.executions, runner.failed()
        record = {
            "workload": workload.name,
            "seed": seed,
            "sf": workload.sf,
            "rows": rows,
            "nproc": cores,
            "master": spark.sparkContext.master,
            "cpus_effective": spark.sparkContext.defaultParallelism,
            "closed_loop_clients": 1,
            "attempted": attempted,
            "failed": failed,
            "failed_ops_frac": failed / attempted,
            "wrong_outputs": runner.wrong,
            "setup_wall_s": setup["setup_wall_s"],
            "cold_pass_s": cold["wall"],
            "pass_s": statistics.median(p["wall"] for p in plain),
            "op_p50_s": sorted(op_samples)[_rank(len(op_samples), 50.0) - 1],
            "op_tail_s": tail,
            "op_tail_pct": tail_pct,
            "op_samples": len(op_samples),
            "timed_passes": len(plain),
            "traced_passes": len(traced),
            "measured_s": measured_s,
            "generate_s": gen_s,
            "check_s": check_s,
            "setup": setup,
            "end_to_end": e2e,
            "passes": [cold, *plain, *traced],
        }
        if trace:
            record["per_layer"] = _per_layer(runner, setup, traced, plain, jvm_rss_mb)
            record["spans"] = tracer.spans
        return record
    finally:
        _stop(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not the root of a checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload]
    name = f"{workload.name}-s{args.seed}"
    work = os.path.join(root, ".perfbench", name)
    out_dir = os.path.join(root, ".perfbench", "out")
    # Queries write scratch output to .scratch/<basename of the data dir>.
    data_name = f"pb_{workload.name}_s{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _isolate(root, work, cores)
    try:
        record = run(work, os.path.join(work, data_name), workload, args.seed, args.seconds, bool(args.trace), cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.path.join(root, ".scratch", data_name), ignore_errors=True)

    spans = record.pop("spans", None)
    out_path = os.path.join(out_dir, f"{name}-t{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if spans is not None:
        with open(os.path.join(out_dir, f"{name}-spans.jsonl"), "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")

    summary = {k: record[k] for k in (
        "workload", "seed", "sf", "rows", "nproc", "master", "cpus_effective", "closed_loop_clients",
        "failed_ops_frac", "wrong_outputs", "setup_wall_s", "cold_pass_s", "pass_s", "op_p50_s", "op_tail_s", "op_tail_pct", "op_samples",
        "timed_passes", "measured_s",
    )}
    summary["record"] = os.path.relpath(out_path, root)
    print(json.dumps({"summary": summary}))

    if args.trace:
        metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": record["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
