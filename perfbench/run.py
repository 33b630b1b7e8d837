"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload sklearn_api|dedup_corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed (cached per seed under ``perfbench/.work/cache``), sets up five
times (the first launches the JVM) and reports the median, runs one
cold pass, then warm passes until ``--seconds`` have passed (at least
the workload's ``min_warm``). A fixed tiny canary query runs between
passes. Every operation's result is checked, outside the timed spans.
The end-to-end figures are CPU seconds of this process and its
descendants; walls are measured too. The last line of stdout is one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. The line before it is a human-readable summary with
the failure ratio, per-operation walls and CPU seconds, the canary
spread and the host. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 5
T0 = time.perf_counter()
DEADLINE_S = 175  # hard stop, below the 180 s a run may take


def parse_args():
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _configure_env(run_dir: str, trace: bool) -> str:
    """Process env for the JVM and Python workers; returns the event-log dir."""
    # Half the CPUs: Spark's task threads, the Python driver and the
    # JVM's own threads then never outnumber the cores.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    local, tmp, logs = (os.path.join(run_dir, d) for d in ("local", "tmp", "eventlog"))
    for d in (local, tmp, logs):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["TMPDIR"] = tmp
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # C1 only: compilation settles within the cold pass (with C2 the warm
    # passes kept speeding up for minutes). The serial collector runs no
    # GC threads next to the workload.
    jvm = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    conf = [
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {jvm}'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{logs}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=true",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    return logs


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _stop_jvm() -> None:
    """Shut the gateway JVM down and wait for it (its Python workers go
    with it), so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def _hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _dir_bytes(paths) -> int:
    total = 0
    for top in paths:
        for d, _, files in os.walk(top):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and the Python workers), reaped children included."""
    me = os.getpid()
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
            except OSError:
                pass
    tree, grew = {me}, True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def _q(values, pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Run:
    def __init__(self, args):
        self.args = args
        self.ticks0 = _cpu_ticks()
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # untimed result checks

    def run_pass(self, pass_no: int) -> tuple[float, float]:
        """Run every operation once; returns the pass's wall and CPU seconds."""
        t, ops = self.tracer, self.ops
        t.pass_no = pass_no
        done = []
        with t.span("pass", "cold" if pass_no == 1 else "warm", tag=False) as ps:
            for op in ops:
                c0 = _tree_cpu_s()
                with t.span(op.layer, op.name) as s:
                    try:
                        res, err = op.run(s), None
                    except Exception as ex:  # a failed op is counted, not fatal
                        res, err = None, f"{type(ex).__name__}: {str(ex)[:200]}"
                s.parts["cpu"] = _tree_cpu_s() - c0
                done.append((op, res, err))
        t.pass_no = -1
        c0 = time.perf_counter()
        for op, res, err in done:
            self.attempted += 1
            if err is None:
                try:
                    err = op.check(res)
                except Exception as ex:
                    err = f"check raised {type(ex).__name__}: {str(ex)[:200]}"
            if err:
                self.failures.append(f"{op.name} (pass {pass_no}): {err}")
        self.check_s += time.perf_counter() - c0
        return ps.wall, sum(s.parts["cpu"] for s in t.select(pass_no=pass_no)
                            if s.layer != "pass")

    def warm_op_medians(self, field: str = "wall") -> dict[str, float]:
        """Median over the warm passes of each operation's wall or CPU."""
        by_op: dict[str, list[float]] = {}
        for s in self.tracer.spans:
            if s.pass_no >= 2 and s.layer != "pass":
                v = s.wall if field == "wall" else s.parts[field]
                by_op.setdefault(s.name, []).append(v)
        return {k: statistics.median(v) for k, v in by_op.items()}

    def canary(self) -> None:
        with self.tracer.span("canary", "canary", tag=False):
            self.spark.range(0, 200_000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()

    def main(self) -> dict:
        a = self.args
        from perfbench import gen

        sf_cache = gen.ensure(os.path.join(WORK, "cache"), a.seed)
        tag = f"pb_{a.workload}_{os.getpid()}_{int(time.time() * 1000) % 10**8}"
        self.run_dir = os.path.join(WORK, "runs", tag)
        os.makedirs(self.run_dir)
        # A unique input path per run: the package keys its snapshot
        # memos on the input path, so this run neither reads nor
        # overwrites another process's memos.
        sf_dir = os.path.join(self.run_dir, tag)
        os.symlink(sf_cache, sf_dir)
        log_dir = _configure_env(self.run_dir, a.trace)

        import __spark_entry__ as entry
        from spark_sklearn_spark.session import createLocalSparkSession
        from spark_sklearn_spark.sources.io import warehouse_path

        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.memo_glob = os.path.join(
            os.path.dirname(os.path.dirname(warehouse_path("x", sf_dir))), "*",
            os.path.basename(warehouse_path("x", sf_dir)) + "*")
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.tracer = Tracer()
        creates, setups, setup_cpu = [], [], []
        for i in range(SETUPS):
            c0, t0 = _tree_cpu_s(), time.perf_counter()
            spark = createLocalSparkSession(f"perfbench-{a.workload}")
            t1 = time.perf_counter()
            w = WORKLOADS[a.workload](spark, sf_dir, a.seed, queries, oracles)
            self.tracer.spark, self.tracer.pass_no = spark, 0
            with self.tracer.span("setup", f"build{i}"):
                w.build()
            creates.append(t1 - t0)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(_tree_cpu_s() - c0)
            if i < SETUPS - 1:
                spark.stop()
        self.setup_cpu = setup_cpu
        self.spark, self.w = spark, w
        app_id = spark.sparkContext.applicationId
        jvm_pid = _jvm_pid()
        w.prepare()
        self.ops = w.ops()

        cold, cold_cpu = self.run_pass(1)
        self.canary()
        warm: list[float] = []
        t_start = time.perf_counter()
        while len(warm) < w.min_warm or (
            time.perf_counter() - t_start + warm[-1] <= a.seconds
        ):
            warm.append(self.run_pass(2 + len(warm))[0])
            self.canary()

        # Each operation's median over the warm passes, summed. The
        # end-to-end figures are CPU seconds of the process tree, not
        # walls: on a shared host the walls follow the other tenants,
        # but time the hypervisor steals is never charged to a process.
        # The walls stay in the summary and among the per-layer metrics.
        pass_cpu = sum(self.warm_op_medians("cpu").values())
        e2e = {
            "setup_s": (statistics.median(setup_cpu), "s"),
            "cold_pass_cpu_s": (cold_cpu, "s"),
            "pass_cpu_s": (pass_cpu, "s"),
            "items_per_cpu_s": (w.items(self.ops) / pass_cpu, "1/s"),
        }
        op_walls = list(self.warm_op_medians().values())
        self.walls = {
            "wall.setup_s": (statistics.median(setups), "s"),
            "wall.cold_pass_s": (cold, "s"),
            "wall.pass_s": (sum(op_walls), "s"),
            "wall.op_p50_s": (_q(op_walls, 50), "s"),
            "wall.op_p90_s": (_q(op_walls, 90), "s"),
        }
        layers = self.layer_metrics(creates, sf_dir) if a.trace else {}
        self.extras = w.traced_extras() if a.trace else {}
        e2e["peak_rss_mb"] = (
            _hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "MB",
        )
        self.tracer.spark = None
        spark.stop()
        _stop_jvm()
        if a.trace:
            layers.update(self.event_log_metrics(log_dir, app_id))
            layers.update(self.walls)
        w.close()
        return self.report(e2e, layers, setups, creates, warm, cold)

    # -- per-layer (traced run) -------------------------------------------

    def layer_metrics(self, creates, sf_dir) -> dict:
        from spark_sklearn_spark.sources.io import load

        w, t = self.w, self.tracer
        scans = []
        for _ in range(3):
            t0 = time.perf_counter()
            for name in w.tables:
                with t.span("sources.io", f"scan.{name}"):
                    load(self.spark, sf_dir, name).write.mode("overwrite").format("noop").save()
            scans.append(time.perf_counter() - t0)
        inputs = sum(os.path.getsize(os.path.join(sf_dir, f"{n}.parquet")) for n in w.tables)
        memo = _dir_bytes(glob.glob(self.memo_glob))
        canary = [s.wall for s in t.select(layer="canary")]
        return {
            "session.create_s": (statistics.median(creates), "s"),
            "session.jvm_start_s": (creates[0], "s"),
            "sources.io.scan_s": (statistics.median(scans), "s"),
            "snapshot.bytes_written": (memo / inputs, "B/B"),
            "canary_s": (statistics.median(canary), "s"),
            "canary.spread": ((max(canary) - min(canary)) / statistics.median(canary), "ratio"),
        }

    def event_log_metrics(self, log_dir, app_id) -> dict:
        from perfbench.trace import find_event_log, pass_accounting

        path = find_event_log(log_dir, app_id)
        acc = pass_accounting(self.tracer, path)
        passes, per_op = acc["passes"], acc["ops"]

        def med(key):
            return statistics.median(p.get(key, 0.0) for p in passes)

        warm = [s for s in self.tracer.spans if s.pass_no >= 2]
        keyed = [s for s in warm if "build" in s.parts]
        n_pass = len({s.pass_no for s in warm})
        keys = {s.name for s in keyed}

        def per_key(field):
            vals = [v for k in keys for v in per_op[k][field]]
            return sum(vals) / len(vals) if vals else 0.0

        out = {
            "queries.build_s": (sum(s.parts["build"] for s in keyed) / n_pass, "s"),
            "queries.exec_s": (sum(s.parts["exec"] for s in keyed) / n_pass, "s"),
            "queries.jobs": (per_key("jobs"), "count"),
            "queries.stages": (per_key("stages"), "count"),
            "queries.tasks": (per_key("tasks"), "count"),
            "queries.untagged_jobs": (med("untagged_jobs"), "count"),
            "spark.jobs_per_pass": (med("jobs"), "count"),
            "spark.driver_outside_jobs_s": (med("outside_jobs_s"), "s"),
            "spark.sched_delay_s": (med("sched_s"), "s"),
            "spark.task_deserialize_s": (med("deser_s"), "s"),
            "spark.executor_run_s": (med("run_s"), "s"),
            "spark.executor_cpu_s": (med("cpu_s"), "s"),
            "spark.python_worker_s": (med("python_s"), "s"),
            "spark.gc_s": (med("gc_s"), "s"),
            "spark.shuffle_read_bytes": (med("shuffle_read"), "B"),
            "spark.shuffle_write_bytes": (med("shuffle_write"), "B"),
            "spark.spill_bytes": (med("spill"), "B"),
        }
        self.op_jobs = {k: statistics.median(v["jobs"]) for k, v in per_op.items()}
        return out

    # -- output -------------------------------------------------------------

    def workload_layers(self, cold_by_op) -> dict:
        """Layer figures that exist on one workload only (summary line)."""
        walls = self.warm_op_medians()
        out = {f"wall.{k}": v for k, v in walls.items()}
        out.update({f"cold.{k}": v for k, v in cold_by_op.items() if k in walls})
        out.update({f"cpu.{k}": v for k, v in self.warm_op_medians("cpu").items()})
        snap = [k for k in self.w.snapshot_keys if k in walls]
        if snap:
            out["snapshot.build_s"] = sum(cold_by_op[k] - walls[k] for k in snap)
        out.update(self.extras)
        if hasattr(self, "op_jobs"):
            out.update({f"jobs.{k}": v for k, v in self.op_jobs.items()})
            out["ml_api.fit_jobs"] = sum(
                v for k, v in self.op_jobs.items() if k.startswith("ml_api.")
                or k.startswith("q_ml_"))
        return out

    def report(self, e2e, layers, setups, creates, warm, cold) -> dict:
        a = self.args
        import pyspark

        cold_by_op = {s.name: s.wall for s in self.tracer.select(pass_no=1)}
        canary = [s.wall for s in self.tracer.select(layer="canary")]
        ticks = [now - then for then, now in zip(self.ticks0, _cpu_ticks())]
        steal = ticks[7]
        failed = len(self.failures)
        summary = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "nproc": os.cpu_count(), "pyspark": pyspark.__version__,
            "fail_ratio": failed / max(1, self.attempted),
            "failures": self.failures[:5],
            "setups_s": [round(x, 4) for x in setups],
            "setups_cpu_s": [round(x, 4) for x in self.setup_cpu],
            "session_create_s": [round(x, 4) for x in creates],
            "cold_pass_s": round(cold, 4),
            "warm_passes_s": [round(x, 4) for x in warm],
            "cpu": {k: round(v, 4) for k, (v, _) in e2e.items() if "cpu" in k},
            "wall": {k: round(v, 4) for k, (v, _) in self.walls.items()},
            "warm_op_samples": sum(1 for s in self.tracer.spans
                                   if s.pass_no >= 2 and s.layer != "pass"),
            "check_s": round(self.check_s, 4),
            "run_s": round(time.perf_counter() - T0, 2),
            "host_steal_share": round(steal / max(1, sum(ticks)), 4),
            "canary_median_s": round(statistics.median(canary), 4),
            "canary_spread": round((max(canary) - min(canary)) / statistics.median(canary), 4),
            "layers": {k: round(v, 4) for k, v in self.workload_layers(cold_by_op).items()},
        }
        metrics = layers if a.trace else e2e
        if a.trace:
            last = os.path.join(WORK, "out", f"{a.workload}-untraced.json")
            if os.path.isfile(last):
                with open(last) as fh:
                    base = json.load(fh)["summary"]
                summary["trace_overhead"] = {
                    "wall": round(self.walls["wall.pass_s"][0] / base["wall"]["wall.pass_s"] - 1, 4),
                    "cpu": round(e2e["pass_cpu_s"][0] / base["cpu"]["pass_cpu_s"] - 1, 4),
                }
            self.tracer.write(os.path.join(
                WORK, "out", f"{a.workload}-seed{a.seed}-spans.jsonl"))
        result = {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        with open(os.path.join(WORK, "out", f"{a.workload}-{'traced' if a.trace else 'untraced'}.json"), "w") as fh:
            json.dump({**result, "summary": summary}, fh, indent=1)
        print("perfbench summary: " + json.dumps(summary))
        return result

    def cleanup(self) -> None:
        if getattr(self, "memo_glob", None):
            for d in glob.glob(self.memo_glob):
                shutil.rmtree(d, ignore_errors=True)
        if getattr(self, "run_dir", None):
            shutil.rmtree(self.run_dir, ignore_errors=True)


def main() -> int:
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "spark_sklearn_spark"))
    ):
        print(f"perfbench: no spark_sklearn_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args()
    os.chdir(ROOT)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    run = Run(args)
    try:
        result = run.main()
    finally:
        run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
