"""Benchmark of the link-graph engine: one workload per run.

    python3 perfbench/run.py --workload etl_cc --seed 1 --seconds 8 --trace 0

Run from the repository root.  The last stdout line is the result
(``correct``, ``attempted``, ``failed``, ``metrics``): the end-to-end
metrics with ``--trace 0``, the per-layer metrics of ``spans.py`` with
``--trace 1``.  The line before it records the configuration, the input
sizes and every pass's times.  ``README.md`` describes the schedule, the
workloads and each metric; ``BENCHMARK.json`` names them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import warnings

from spans import Tracer, median_layers, pass_layers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# the top-level step spans must cover this share of a traced pass
MIN_SPAN_COVERAGE = 0.95


def _commit() -> str:
    """HEAD of the checkout if it is a git work tree, else "unknown"."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or "unknown"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare_env(work: str) -> None:
    """Environment the JVM and Spark's Python workers inherit: the package
    importable from the repository root (mapInPandas workers unpickle the
    package's functions) and every scratch directory inside the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    # few glibc arenas: the JVM's native resident size then varies less
    os.environ["MALLOC_ARENA_MAX"] = "2"


class Runner:
    def __init__(self, args, nproc: int, work: str):
        from pds_hw2_mpi_connected_components_spark.plans.session import get_spark
        from workloads import WORKLOADS

        self.args = args
        self.nproc = nproc
        self.work = work
        self.master = f"local[{nproc}]"
        self.shuffle_partitions = 2 * nproc
        self.get_spark = get_spark
        self.workload = WORKLOADS[args.workload](args.seed, work)
        self.spark = None
        self.tracer = None

    def start_session(self):
        conf = {
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            # the traced passes read every job and stage of a pass back
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        return self.get_spark(
            master=self.master,
            app_name="perfbench",
            shuffle_partitions=self.shuffle_partitions,
            extra_conf=conf,
        )

    def setup(self) -> dict:
        """Start the session once (JVM launch included), then build the input
        ``SETUP_REPS`` times; the last build is the one the passes use."""
        t0 = time.perf_counter()
        self.spark = self.start_session()
        start = time.perf_counter() - t0
        gens = []
        for _ in range(SETUP_REPS):
            t1 = time.perf_counter()
            self.workload.setup(self.spark)
            gens.append(time.perf_counter() - t1)
        return {"start_s": start, "gen_s": gens, "setup_s": start + statistics.median(gens)}

    def one_pass(self, traced: bool) -> dict:
        """Run, time and check one pass. Never raises: a failure is recorded."""
        steps: dict[str, float] = {}
        tracer = self.tracer if traced else None

        def step(name, fn):
            t = time.perf_counter()
            if tracer is not None:
                with tracer.span(name):
                    out = fn()
            else:
                out = fn()
            steps[name] = steps.get(name, 0.0) + time.perf_counter() - t
            return out

        rec = {"traced": traced, "steps": steps, "errors": []}
        try:
            if tracer is not None:
                gc0 = tracer.gc_seconds()
                tracer.install()
                try:
                    with tracer.span("pass") as root:
                        t0 = time.perf_counter()
                        out = self.workload.run_pass(self.spark, step)
                        rec["wall"] = time.perf_counter() - t0
                finally:
                    tracer.uninstall()
                rec["layers"] = pass_layers(tracer, root["id"], tracer.gc_seconds() - gc0)
            else:
                t0 = time.perf_counter()
                out = self.workload.run_pass(self.spark, step)
                rec["wall"] = time.perf_counter() - t0
            try:
                rec["errors"] = self.workload.check(out)
            finally:
                self.workload.cleanup(out)
        except Exception as exc:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec["errors"].append(f"{type(exc).__name__}: {exc}")
        for e in rec["errors"]:
            print(f"perfbench: pass failed: {e}", file=sys.stderr)
        return rec

    def run(self) -> dict:
        setup = self.setup()
        if self.args.trace:
            self.tracer = Tracer(self.spark)
        warmup = self.one_pass(traced=False)
        passes = []
        t_start = time.perf_counter()
        while True:
            # trace runs alternate untraced and traced passes: U, T, U, T, ...
            traced = bool(self.args.trace) and len(passes) % 2 == 1
            passes.append(self.one_pass(traced))
            elapsed = time.perf_counter() - t_start
            # a traced pass is bracketed by untraced ones (U, T, U), so
            # passes still speeding up do not bias the tracing overhead
            need_more = self.args.trace and len(passes) < 3
            if not need_more and elapsed + passes[-1].get("wall", 0.0) > self.args.seconds:
                break
        peak_rss = _vm_hwm_mb(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss += _vm_hwm_mb("self")
        self.setup_times = setup
        self.passes = [warmup] + passes
        return self.report(setup, warmup, passes, peak_rss)

    def report(self, setup: dict, warmup: dict, passes: list[dict], peak_rss: float) -> dict:
        ok = [p for p in passes if not p["errors"]]
        failed = sum(1 for p in [warmup] + passes if p["errors"])
        untraced = [p for p in ok if not p["traced"]]
        values: dict[str, float] = {}
        if self.args.trace:
            traced = [p for p in ok if p["traced"]]
            if traced:
                values.update(median_layers([p["layers"] for p in traced]))
            values["plans.session.start_s"] = setup["start_s"]
            values["sources.datagen.gen_s"] = statistics.median(setup["gen_s"])
            values["jvm.peak_rss_mb"] = peak_rss
            if traced and untraced:
                values["trace.overhead_s"] = (
                    statistics.median(p["wall"] for p in traced)
                    - statistics.median(p["wall"] for p in untraced))
        else:
            values["setup_s"] = setup["setup_s"]
            if untraced:
                values["wall_s"] = statistics.median(p["wall"] for p in untraced)
                cc_s = statistics.median(
                    sum(p["steps"].get(s, 0.0) for s in self.workload.cc_steps)
                    for p in untraced)
                values["cc_sym_edges_per_s"] = self.workload.info["sym_edges"] / cc_s
        spec = metric_spec("per_layer" if self.args.trace else "end_to_end")
        missing = [name for name in spec if name not in values]
        for name in missing:
            print(f"perfbench: metric {name} was not measured", file=sys.stderr)
        covered = values.get("trace.span_coverage", 1.0) >= MIN_SPAN_COVERAGE
        if not covered:
            print(f"perfbench: step spans cover {values['trace.span_coverage']:.3f} of the "
                  f"traced pass, less than {MIN_SPAN_COVERAGE}", file=sys.stderr)
        return {
            "correct": failed == 0 and bool(untraced) and not missing and covered,
            "attempted": 1 + len(passes),
            "failed": failed,
            "metrics": {name: {"value": values.get(name, 0.0), "unit": unit}
                        for name, unit in spec.items()},
        }

    def info(self) -> dict:
        """The run's configuration, input sizes and every pass's times."""
        import pyspark
        conf = self.spark.sparkContext.getConf()
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": self.nproc,
            "master": self.master,
            "pyspark": pyspark.__version__,
            "commit": _commit(),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "spark.sql.shuffle.partitions": self.shuffle_partitions,
            "input": self.workload.info,
            "setup": self.setup_times,
            "passes": [
                {"warmup": i == 0, "traced": p["traced"], "wall": p.get("wall"),
                 "steps": p["steps"], "errors": p["errors"]}
                for i, p in enumerate(self.passes)
            ],
        }

    def write_spans(self) -> str:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}-spans.json")
        with open(path, "w") as f:
            json.dump(self.tracer.spans, f)
        return path

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_spec(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in benchmark_spec()[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    names = [w["name"] for w in benchmark_spec()["workloads"]]
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import pds_hw2_mpi_connected_components_spark as pkg
        found = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    except ImportError as exc:
        found = f"not importable ({exc})"
    if found != ROOT:
        print(f"perfbench: the engine package must come from {ROOT}: {found}", file=sys.stderr)
        return 2
    _prepare_env(work)
    # fixpoint_doc stops ANF at a fixed hop count on purpose
    warnings.filterwarnings("ignore", message=r"anf\(\) hit max_hops", category=RuntimeWarning)

    runner = Runner(args, nproc, work)
    try:
        result = runner.run()
        info = runner.info()
        if runner.tracer is not None:
            info["spans"] = runner.write_spans()
    finally:
        runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
