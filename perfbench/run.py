"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One workload per
process. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics and the
spans (with self time) are written to ``.perfbench_out/``. Metric names
and units are read from ``BENCHMARK.json``. The exit code is 0 only when
every operation ran and every output matched its reference.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc", "query_mix")


def _environment(work: str) -> dict:
    """Pin cores, memory and every scratch location before Spark starts.

    Python workers get the checkout on PYTHONPATH (pandas UDFs and
    stateful handlers import the package); cores are pinned to the
    affinity mask, as the session otherwise defaults to local[32]; the
    driver heap stays well below physical memory; temp files, Spark
    local dirs and the package's scratch dirs all live under ``work``.
    """
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(4, int(mem_gb / 4)))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=driver_mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # scratch_dir() prefers /dev/shm above this floor; forcing the
        # fallback keeps its files under TMPDIR, inside the checkout.
        SPARK_GRAFT_SHM_MIN_MB=str(2**40),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    return {"cpus": cpus, "driver_memory": driver_mem, "physical_memory_gb": round(mem_gb, 1),
            "python": platform.python_version()}


def _session(work: str, trace: bool):
    from hbase_observer_elasticsearch_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # status-store diffs silently truncate at the default of 1000
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    return get_spark("perfbench", extra_conf=conf)


class Ctx:
    """What a workload needs: session, seed, scratch dirs, tracing, and
    the set-up / measure boundaries."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.spark = self.store = self.listener = None
        self.setup_s = None
        self.phase_s: dict[str, float] = {}

    def path(self, tag: str) -> str:
        p = os.path.join(self.work, tag)
        os.makedirs(p, exist_ok=True)
        return p

    def setup_done(self) -> None:
        self.setup_s = time.time() - T_PROCESS

    @contextlib.contextmanager
    def phase(self, name: str):
        """A top-level span (warmup, measure, gate) that also parents the
        spans opened on other threads meanwhile."""
        t = time.perf_counter()
        with self.tracer.span(name) as sid:
            self.tracer.root = sid
            try:
                yield
            finally:
                self.tracer.root = None
                self.phase_s[name] = time.perf_counter() - t


def _peak_rss_mb(spark) -> float:
    """Python driver plus JVM high-water resident set, from /proc."""
    def hwm(pid) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    return hwm(os.getpid()) + hwm(jvm_pid)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # Each workload runs a fixed amount of work sized to BENCHMARK.json's
    # run_seconds; the flag is part of the command-line contract.
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _environment(work)
    try:
        import cdc
        import querymix
        import tracing

        workload = {"cdc": cdc, "query_mix": querymix}[args.workload]
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = tracing.Tracer(run_id) if args.trace else tracing.NullTracer()
        ctx = Ctx(args.seed, work, tracer)
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(workload.prepare, ctx)
            with tracer.span("session.start"):
                t = time.perf_counter()
                spark = _session(work, bool(args.trace))
                session_s = time.perf_counter() - t
        try:
            ctx.spark = spark
            if args.trace:
                ctx.store = tracing.StatusStore(spark, tracer)
                ctx.listener = tracing.ProgressListener()
                spark.streams.addListener(ctx.listener)
            t_measure = time.perf_counter()
            res = workload.run(ctx, inputs.result())
            res["layers"].update({
                "session.start_s": session_s,
                "process.peak_rss_mb": _peak_rss_mb(spark),
            })
            env["spark"] = spark.version
            if args.trace:
                res["layers"]["trace.bookkeeping_s"] = tracer.bookkeeping_s
                for k, v in res["e2e"].items():
                    res["layers"][f"trace.{k}"] = v
            wall = time.perf_counter() - t_measure
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    e2e = dict(res["e2e"], setup_s=ctx.setup_s)
    failures = res["failures"]
    attempted = res["attempted"]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "environment": env,
        "metrics": {**res["named"], "setup_s": ctx.setup_s},
        "error_rate": len(failures) / attempted,
        "failed_ops": {op: why for op, why in failures},
        "phase_s": {"session": session_s, **ctx.phase_s, "workload": wall},
    }
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{run_id}-trace.json")
        tracer.write(path, {"e2e": e2e, "layers": res["layers"]})
        summary["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(summary))
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}
    ok = not failures
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
