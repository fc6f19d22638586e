"""Benchmark of the chess medallion pipeline and the engine's query set.

Run from the root of the repository:

    python3 perfbench/run.py --workload chess_pipeline --seed 1 --seconds 5 --trace 0

``--workload all`` runs every workload, each in its own process.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``).  Lines before it
name every end-to-end figure of the workload with its unit.  The exit code
is 0 only when every operation and output check succeeded.

Everything a run writes goes under ``.perfbench_run/`` in the working
directory, including Spark's scratch space, the JVM's and Python's temp
files and, in a traced run, the event log.  Bulk data is deleted at the
end; ``result.json`` (the printed result plus the Spark conf used) and,
in a traced run, ``spans.json`` (every span with its job, stage and byte
counts, per-query detail included) stay.
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

PACKAGE = "end_to_end_chess_com_etl_and_analytics_pipeline_spark"
WORKLOAD_NAMES = ("chess_pipeline", "engine_queries")
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all", choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    worst = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        print(f"== {name}", flush=True)
        worst = max(worst, subprocess.run(cmd, check=False).returncode)
    return worst


class Ctx:
    """What a workload needs from the harness: its arguments, its work
    directory, the tracer and the session, which ``setup`` starts."""

    def __init__(self, args, work: str, cores: int):
        from spans import Tracer

        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.work, self.cores = work, cores
        self.tracer = Tracer()
        self.tracer.run = -1
        self.spark = None
        self.setup_s = 0.0

    def conf(self) -> dict[str, str]:
        w = self.work
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{w}/spark-local",
            "spark.sql.warehouse.dir": f"{w}/spark-warehouse",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w}/derby",
        }
        if self.traced:
            os.makedirs(f"{w}/eventlog")
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{w}/eventlog",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    def setup(self, warm_up) -> None:
        """Session start, a first action and the workload's warm-up;
        ``setup_s`` is their wall time."""
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                                   shuffle_partitions=self.cores, extra_conf=self.conf())
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.first_action"):
            self.spark.range(1000).selectExpr("sum(id)").collect()
        with self.tracer.span("setup.warm_up"):
            warm_up()
        self.setup_s = time.perf_counter() - t0

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


# the fields each layer reports, all computed by layer_values
LAYER_FIELDS = {
    "plans.silver": ("s", "jobs", "tasks", "output_bytes", "slot_busy_share"),
    "plans.gold": ("s", "jobs", "stages", "shuffle_bytes", "spill_bytes"),
    "plans.warehouse": ("s", "jobs", "bytes_written_per_input_byte"),
    "plans.analytics": ("s", "jobs", "classify_openings_s"),
    "streaming.pipeline": ("s", "jobs_per_month", "tasks_per_month", "slot_busy_share",
                           "bytes_written_per_input_byte", "partitions_rewritten_per_month"),
    **{f"plans.{m}": ("build_s", "exec_s", "jobs", "stages", "tasks", "shuffle_bytes",
                      "spill_bytes", "slot_busy_share")
       for m in ("driver", "extensions", "quality", "selection")},
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_values(spans: list[dict], all_spans: list[dict], totals: dict[int, dict],
                 cores: int) -> dict[str, float]:
    """Every field of LAYER_FIELDS for one layer's spans in one operation."""
    ids = {s["id"] for s in spans}
    kids: dict[str, float] = {}
    for c in all_spans:
        if c["parent"] in ids:
            kids[c["name"]] = kids.get(c["name"], 0.0) + _dur(c)
    st = {k: sum(totals[s["id"]][k] for s in spans) for k in totals[spans[0]["id"]]}
    wall = sum(_dur(s) for s in spans)
    n = len(spans)
    in_bytes = sum(s.get("input_bytes", s.get("bronze_bytes", 0)) for s in spans)
    return {
        **st,
        "s": wall,
        "slot_busy_share": st["task_s"] / (wall * cores),
        "bytes_written_per_input_byte": st["output_bytes"] / in_bytes if in_bytes else 0.0,
        "jobs_per_month": st["jobs"] / n,
        "tasks_per_month": st["tasks"] / n,
        "partitions_rewritten_per_month": sum(s.get("partitions_rewritten", 0) for s in spans) / n,
        "classify_openings_s": kids.get("analytics.classify_openings", 0.0),
        "build_s": kids.get("build", 0.0),
        "exec_s": kids.get("exec", 0.0),
    }


def per_layer(ctx, run, totals: dict[int, dict]) -> dict[str, float]:
    """Per-layer metrics from the attributed spans: each layer's value in
    each timed operation, then the median over the run's operations.  A
    layer the workload does not run is absent (reported as 0)."""
    tr = ctx.tracer
    ops = range(len(run.op_s))
    per_op: dict[str, list[float]] = {}
    for k in ops:
        for layer, fields in LAYER_FIELDS.items():
            spans = tr.find(layer, k)
            if spans:
                values = layer_values(spans, tr.spans, totals, ctx.cores)
                for f in fields:
                    per_op.setdefault(f"{layer}.{f}", []).append(values[f])
    out = {name: statistics.median(v) for name, v in per_op.items()}
    out["sources.tables.scan_s"] = tr.total("sources.tables.scan")
    for name in ("get_spark", "first_action"):
        out[f"session.{name}_s"] = tr.total(f"session.{name}")
    out["trace.pass_s"] = run.typical_s
    top = sum(_dur(s) for s in tr.spans if s["parent"] is None and s["run"] in ops)
    out["trace.span_coverage"] = top / sum(run.op_s) if run.op_s else 0.0
    return out


def main(argv) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run from the repository root: no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(root, ".perfbench_run",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    cores = len(os.sched_getaffinity(0))
    # Spark's Python workers import the package by name, so it must be on
    # their path; every temp file lands in the run's work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, root)

    import spans
    import workloads

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ctx = Ctx(args, work, cores)
    run = workloads.WORKLOADS[args.workload](ctx)
    peak_rss_mb = ctx.jvm_peak_rss_mb()
    conf = dict(ctx.spark.sparkContext.getConf().getAll())
    ctx.stop()

    if args.trace:
        jobs, stages = spans.read_event_log(f"{work}/eventlog")
        totals = spans.attribute(ctx.tracer.spans, jobs, stages)
        values = per_layer(ctx, run, totals)
        values["jvm.peak_rss_mb"] = peak_rss_mb
        wanted = bench["per_layer"]
        spans.write_spans(f"{work}/spans.json", ctx.tracer.spans, totals, run.detail)
    else:
        values = {"setup_s": ctx.setup_s, "pass_s": run.typical_s,
                  "items_per_s": run.items}
        wanted = bench["end_to_end"]
        for name, (value, unit) in run.named.items():
            print(f"{name} {value} {unit}")
        print(f"peak_rss_mb {peak_rss_mb} MiB")
        print(f"error_rate {run.failed / max(run.attempted, 1)} failed/attempted")
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}
    if not args.trace:
        for name, m in metrics.items():
            print(f"{name} {m['value']} {m['unit']}")
    correct = run.failed == 0 and bool(run.op_s)
    result = {"correct": correct, "attempted": max(run.attempted, 1),
              "failed": run.failed if run.attempted else 1, "metrics": metrics}
    with open(f"{work}/result.json", "w") as f:
        json.dump({**result, "workload": args.workload, "seed": args.seed,
                   "op_s": run.op_s, "detail": run.detail, "spark_conf": conf}, f, indent=1)
    for entry in os.listdir(work):
        if entry not in ("result.json", "spans.json"):
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
