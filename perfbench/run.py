"""Benchmark command for the engine's two real pipelines and its core
registry rows.

    python3 perfbench/run.py --workload lmo_catalog --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process, one Spark session on
``local[4]``.  A run:

1. set-up: starts the session, generates the workload's inputs from
   ``--seed`` three times over (the median generation time counts, and
   the three copies must be byte-identical), then makes the workload's
   warm-up passes;
2. measures: passes back to back until ``--seconds`` have gone by (at
   least one).  Between passes ``cache.release_all()`` runs off the
   clock, as in bench.py, so every pass computes from its inputs;
3. with ``--trace 1``, makes one more pass with spans, job groups, a
   py4j counter and the Spark event log on, and reports the per-layer
   split of that pass;
4. checks the outputs (off the clock; the registry rows are checked
   on the results their warm-up pass collected), stops Spark and waits
   for the JVM to exit.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``).  The line before it carries the host context.  Every
file the run writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from tracing import Tracer, event_log_lines, fold_event_log, layer_rollup
from workloads import WORKLOADS, RegistryMix, clear, dir_digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
N_GENERATIONS = 3
COUNT_SPAN = "corpus.count:"
COUNT_SITES = {
    "raw": COUNT_SPAN + "n_raw",
    "gate": COUNT_SPAN + "n_gated",
    "exact": COUNT_SPAN + "n_exact",
}
MB = 1e6


def _file_sizes(path: str) -> dict[str, int]:
    return {
        p: os.path.getsize(p)
        for p in (os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    }


def _git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _persisted_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.eventlog = os.path.join(work, "eventlog")
        self.wl = WORKLOADS[args.workload](args.seed)
        self.passes: list[dict] = []
        self.problems: list[str] = []

    # ----------------------------------------------------------- set-up

    def start_session(self):
        from lmo_data_catalog_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(self.eventlog)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.wl.name}", cpus=CPUS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        self.jvm = self.spark.sparkContext._gateway.proc

    def generate(self) -> None:
        times, digests = [], []
        for i in range(N_GENERATIONS):
            dest = os.path.join(self.work, f"inputs-{i}")
            t = time.perf_counter()
            self.wl.generate(dest)
            times.append(time.perf_counter() - t)
            digests.append(dir_digest(dest))
            if i:
                clear(os.path.join(self.work, f"inputs-{i - 1}"))
        if len(set(digests)) != 1:
            self.problems.append(f"same seed gave different inputs: {digests}")
        self.inputs_s = statistics.median(times)

    # ------------------------------------------------------------- passes

    def one_pass(self, tracer=None) -> dict:
        from lmo_data_catalog_spark import cache

        out = os.path.join(self.work, f"out-{len(self.passes)}")
        before = _file_sizes(self.tmp)
        result = None
        t = time.perf_counter()
        try:
            if tracer is None:
                result = self.wl.run_pass(self.spark, out)
            else:
                with tracer.span("pass") as root:
                    result = self.wl.run_pass(self.spark, out)
        except Exception:  # noqa: BLE001 -- a failed pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t
        rec = {
            "wall_s": wall,
            "result": result,
            "out": out,
            "output_bytes": sum(_file_sizes(out).values()),
            "persisted_mb": _persisted_mb(self.spark.sparkContext),
            "released": cache.release_all() + (result or {}).get("released", 0),
            "tmp_bytes_left": sum(
                n for p, n in _file_sizes(self.tmp).items() if p not in before
            ),
        }
        rec["attempted"], rec["failed"] = self.wl.count_ops(out, result)
        if tracer is not None:
            rec["root"] = root
        if self.passes:  # keep only the newest output for the checks
            clear(self.passes[-1]["out"])
        self.passes.append(rec)
        return rec

    def stop(self) -> None:
        try:
            self.spark.stop()
        finally:
            # the JVM exits when its stdin pipe closes
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()

    # ------------------------------------------------------------- the run

    def execute(self) -> dict:
        ctx = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "nproc": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "local_threads": CPUS,
            "loadavg_before": os.getloadavg(),
            "git_commit": _git_commit(),
        }
        t_setup = time.perf_counter()
        self.start_session()
        try:
            sc = self.spark.sparkContext
            ctx["spark_version"] = self.spark.version
            ctx["driver_memory"] = sc.getConf().get("spark.driver.memory")
            self.generate()
            self.warmup_s = sum(
                self.one_pass()["wall_s"] for _ in range(self.wl.WARMUP_PASSES)
            )
            setup_wall = time.perf_counter() - t_setup
            setup_s = self.session_s + self.inputs_s + self.warmup_s

            t0 = time.perf_counter()
            measured = [self.one_pass()]
            while time.perf_counter() - t0 < self.args.seconds:
                measured.append(self.one_pass())
            # the Python driver only: the JVM's VmHWM follows G1 heap
            # growth and reads ~1.35 or ~2.0 GB run to run on the same
            # input, so it is the per-layer jvm.peak_rss_mb instead
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / MB
            self.jvm_rss_mb = _vm_hwm_mb(self.jvm.pid)

            if self.args.trace:
                tracer = Tracer(sc)
                self.wl.install_trace(tracer)
                tracer.count_py4j()
                try:
                    traced = self.one_pass(tracer)
                finally:
                    tracer.uninstall()
                # passes still speed up a little as the JIT warms, so
                # this reads the overhead somewhat low; an untraced pass
                # after the traced one would cost the run a whole pass
                untraced_ref = statistics.median(p["wall_s"] for p in measured)

            results = [p["result"] for p in self.passes if p["result"] is not None]
            last = self.passes[-1]
            t = time.perf_counter()
            if last["result"] is not None:
                self.problems += self.wl.check(self.spark, last["out"], results)
            ctx["check_s"] = time.perf_counter() - t
        finally:
            t = time.perf_counter()
            self.stop()
            ctx["stop_s"] = time.perf_counter() - t
        ctx["loadavg_after"] = os.getloadavg()
        ctx["setup_wall_s"] = setup_wall
        ctx["pass_wall_s"] = [p["wall_s"] for p in self.passes]
        ctx["python_rss_mb"] = rss_mb
        ctx["jvm_rss_mb"] = self.jvm_rss_mb

        attempted = sum(p["attempted"] for p in self.passes)
        failed = sum(p["failed"] for p in self.passes)
        self.problems += [f"{failed} of {attempted} operations failed"] if failed else []
        walls = [p["wall_s"] for p in measured]
        if self.args.trace:
            metrics = self.layer_metrics(tracer, traced, untraced_ref, failed / attempted)
        else:
            metrics = {
                "wall_s": (statistics.median(walls), "s"),
                "setup_s": (setup_s, "s"),
                "driver_peak_rss_mb": (rss_mb, "MB"),
            }
        return {
            "context": ctx,
            "problems": self.problems,
            "result": {
                "correct": not self.problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }

    def layer_metrics(self, tracer, traced, untraced, failed_frac) -> dict:
        jobs = fold_event_log(event_log_lines(self.eventlog))
        root = traced["root"]
        roll = layer_rollup(tracer.spans, jobs, root)
        wall = traced["wall_s"]

        def get(name, key):
            return roll["by_name"].get(name, {}).get(key, 0.0)

        def reg(kind, key):
            return sum(
                v[key] for k, v in roll["by_name"].items() if k.startswith(f"registry.{kind}:")
            )

        # corpus_pipeline's funnel counts, by the variable each assigns:
        # the raw count only reads the table; the gate and exact-dedup
        # counts each run their stage
        sites = {s.name for s in tracer.spans if s.name.startswith(COUNT_SPAN)}
        if "corpus" in roll["by_name"] and sites != set(COUNT_SITES.values()):
            self.problems.append(
                f"corpus_pipeline count sites {sorted(sites)} != {sorted(COUNT_SITES.values())}"
            )
        total = roll["total"]
        m = {
            "session.start_s": (self.session_s, "s"),
            "setup.inputs_s": (self.inputs_s, "s"),
            "setup.warmup_s": (self.warmup_s, "s"),
            "jvm.peak_rss_mb": (self.jvm_rss_mb, "MB"),
            "trace.wall_s": (wall, "s"),
            "trace.untraced_wall_s": (untraced, "s"),
            "trace.overhead_s": (wall - untraced, "s"),
            "trace.unattributed_s": (roll["root_self"], "s"),
            "ingest.s": (get("ingest", "s"), "s"),
            "ingest.jobs": (get("ingest", "jobs"), "count"),
            "ingest.task_s": (get("ingest", "task_s"), "s"),
            "lmo_pipeline.build_s": (get("lmo_pipeline.build", "s"), "s"),
            "lmo_pipeline.build_jobs": (get("lmo_pipeline.build", "jobs"), "count"),
            "workbook.s": (get("workbook", "s"), "s"),
            "workbook.driver_s": (get("workbook", "nojob_s"), "s"),
            "workbook.jobs": (get("workbook", "jobs"), "count"),
            "workbook.result_mb": (get("workbook", "result_bytes") / MB, "MB"),
            "csv_gzip.s": (get("csv_gzip", "s"), "s"),
            "corpus.self_s": (get("corpus", "self_s"), "s"),
            "corpus.gate_s": (get(COUNT_SITES["gate"], "s"), "s"),
            "corpus.exact_s": (get(COUNT_SITES["exact"], "s"), "s"),
            "dedup.neardup_s": (get("dedup.neardup", "s"), "s"),
            "dedup.neardup_jobs": (get("dedup.neardup", "jobs"), "count"),
            "versioned.commit_s": (get("versioned.commit", "s"), "s"),
            "versioned.commit_jobs": (get("versioned.commit", "jobs"), "count"),
            "registry.build_s": (reg("build", "s"), "s"),
            "registry.exec_s": (reg("exec", "s"), "s"),
            "registry.eager_jobs": (reg("build", "jobs"), "count"),
            **{
                f"registry.{row}.{kind}_s": (get(f"registry.{kind}:{row}", "s"), "s")
                for row in RegistryMix.ROWS
                for kind in ("build", "exec")
            },
            "cache.released": (traced["released"], "count"),
            "cache.persisted_mb": (traced["persisted_mb"], "MB"),
            "py4j.calls": (total["py4j_calls"], "count"),
            "py4j.s": (total["py4j_s"], "s"),
            "spark.jobs": (total["jobs"], "count"),
            "spark.stages": (total["stages"], "count"),
            "spark.tasks": (total["tasks"], "count"),
            "spark.task_s": (total["task_s"], "s"),
            "spark.task_cpu_s": (total["task_cpu_s"], "s"),
            "spark.deser_s": (total["deser_s"], "s"),
            "spark.gc_s": (total["gc_s"], "s"),
            "spark.sched_delay_s": (total["sched_delay_s"], "s"),
            "spark.shuffle_read_mb": (total["shuffle_read_bytes"] / MB, "MB"),
            "spark.shuffle_write_mb": (total["shuffle_write_bytes"] / MB, "MB"),
            "spark.spill_mb": (total["spill_bytes"] / MB, "MB"),
            "spark.failed_tasks": (total["failed_tasks"], "count"),
            "spark.busy_frac": (total["task_s"] / (wall * CPUS), "ratio"),
            "driver.nojob_s": (total["nojob_s"], "s"),
            "tmp_bytes_left": (
                statistics.median(p["tmp_bytes_left"] for p in self.passes),
                "bytes",
            ),
            "failed_frac": (failed_frac, "ratio"),
            "output_bytes": (traced["output_bytes"], "bytes"),
        }
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import lmo_data_catalog_spark  # noqa: F401 -- fail before any set-up

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(HERE, ".work", args.workload)
    clear(work)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of this process, its JVM and the Python workers
    # lands under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # both JVMs (spark-submit's launcher and the driver): temp files
    # under the work dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None

    out = Run(args, work).execute()
    with open(os.path.join(HERE, ".work", f"{args.workload}-result.json"), "w") as fh:
        json.dump(out, fh, indent=1, default=str)
    for name in os.listdir(work):
        clear(os.path.join(work, name))
    for p in out["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"context": out["context"]}, default=str))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
