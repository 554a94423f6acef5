"""Benchmark of the medallion engine: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a source checkout.  Workloads:

- ``registry_queries``: the committed sample (``keys.json``) of the
  registry keys that read only the relational tables and of those that read
  documents, embeddings or a build-once warehouse artifact, each run into a
  noop sink;
- ``pipeline_months``: ``MedallionPipeline.run_month()`` over generated
  monthly trip drops on an empty warehouse.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The lines before it
print every metric by name with its unit.  ``perfbench/README.md`` maps each
metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

import pipeline_months
import registry
from spans import Tracer
from sparkstats import (StatusStore, attribute, confine_scratch,
                        job_group_setter, session_conf, stop_and_wait)
from stats import beyond, failed_frac, median_of_medians, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("registry_queries", "pipeline_months")
END_TO_END = {  # name -> unit
    "setup_s": "s", "bootstrap_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "rows_per_s": "rows/s",
    "bytes_stored_per_source_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric -> unit (all workloads report all of them;
    a layer a workload does not reach reads 0)."""
    units = {"session.start_s": "s", "memory.peak_rss_mb": "MB",
             "registry.warmup_s": "s",
             "registry.warm_persisted_s": "s", "registry.artifact_bytes": "B",
             "registry.call_s": "s", "registry.call_jobs": "count",
             "registry.action_s": "s", "registry.action_jobs": "count",
             "registry.relational_s": "s", "registry.corpus_s": "s",
             "streaming.batch_jobs": "count",
             "execution.iterative_rounds": "count"}
    for span in [*pipeline_months.STAGES.values(), "pipeline.ledger"]:
        stage = span.removeprefix("pipeline.")
        units[f"pipeline.{stage}_s"] = "s"
        units[f"pipeline.month1.{stage}_s"] = "s"
    units |= {"pipeline.attempts": "count", "pipeline.failed_stages": "count",
              "pipeline.accounted_frac": "ratio",
              "operators.merge_write_path_s": "s",
              "operators.merge_bytes_written": "B",
              "quality.run_suite_s": "s",
              "catalog.staging_bytes": "B", "catalog.bronze_bytes": "B",
              "catalog.silver_bytes": "B", "catalog.gold_bytes": "B",
              "catalog.files": "count",
              "spark.jobs": "count", "spark.stages": "count",
              "spark.tasks": "count", "spark.slot_busy_frac": "ratio",
              "spark.input_bytes": "B", "sql.scan_nodes": "count",
              "spark.shuffle_write_bytes": "B",
              "spark.shuffle_read_bytes": "B", "sql.exchange_nodes": "count",
              "spark.spill_bytes": "B", "spark.output_bytes": "B",
              "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
              "spark.gc_s": "s", "sql.python_nodes": "count",
              "sql.python_run_s": "s", "sql.python_boot_s": "s",
              "sql.python_bytes_sent": "B",
              "trace.overhead_s": "s", "trace.overhead_frac": "ratio"}
    return units


def buffcache_gib() -> float | None:
    """Page-cache size at this moment: the cold-run tell."""
    try:
        with open("/proc/meminfo") as f:
            kb = {line.split()[0].rstrip(":"): int(line.split()[1])
                  for line in f}
        return round((kb.get("Buffers", 0) + kb.get("Cached", 0)) / 2**20, 2)
    except (OSError, ValueError, IndexError):
        return None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident memory of one process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(b, n))
               for b, _d, names in os.walk(path) for n in names)


def source_commit() -> str:
    """The git commit when the checkout is a repository, else a digest of
    ``__spark_entry__.py`` and the engine package."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True, check=True,
                                  timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _dirs, names in sorted(os.walk(os.path.join(ROOT,
                                                          registry.PACKAGE))):
        files += [os.path.join(base, n) for n in sorted(names)
                  if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:16]


class Context:
    """State one run hands to its workload."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
        self.run_dir = os.path.join(STATE_DIR, f"run-{self.run_id}")
        self.warehouse_dir = os.path.join(self.run_dir, "spark-warehouse")
        self.layer: dict[str, float] = dict.fromkeys(per_layer_units(), 0.0)
        self.classes: dict | None = None
        self.setup_t0: float | None = None
        self.setup_s: float | None = None
        self.spark = self.tracer = None

    def mark_setup_done(self) -> None:
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - self.setup_t0

    dir_bytes = staticmethod(dir_bytes)


def task_slots() -> int:
    """Spark task threads: half the cores, so the JIT compiler, the garbage
    collector, the driver and the Python workers run beside the tasks
    instead of taking turns with them."""
    return max(1, (os.cpu_count() or 1) // 2)


def start_session(ctx):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.session \
        import get_spark

    slots = task_slots()
    spark = get_spark("perfbench", master=f"local[{slots}]",
                      shuffle_partitions=slots,
                      extra_conf=session_conf(ctx.run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def layer_metrics(ctx, result: dict, counters: dict) -> None:
    """Fill ``ctx.layer`` from the traced spans and attributed counters."""
    tracer = ctx.tracer
    spans = tracer.spans
    kids = tracer.children()

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c["id"] for c in kids.get(cur, []))
        return out

    def summed(ids, field):
        return sum(counters.get(i, {}).get(field, 0.0) for i in ids)

    def dur(s):
        return s["end"] - s["start"]

    if "traced_pass_spans" in result:  # query workloads: per traced pass
        roots = result["traced_pass_spans"]
        units = [subtree(r) for r in roots]
        wall = [dur(spans[r]) for r in roots]
        for kind in ("call", "action"):
            ctx.layer[f"registry.{kind}_jobs"] = statistics.median(
                [summed([j for i in u if spans[i]["name"] == f"registry.{kind}"
                         for j in subtree(i)], "jobs") for u in units])
        ctx.layer["execution.iterative_rounds"] = statistics.median(
            [sum(spans[i]["name"] == registry.ITERATIVE_SPAN for i in u)
             for u in units])
    else:  # pipeline: per incremental month of the traced sequence
        months = result["traced_months"]
        units = [subtree(m["span"]) for m in months[1:]]
        wall = [m["seconds"] for m in months[1:]]

        def month_layers(m):
            """Stage and ledger time (the month span's children), the share
            of the month they cover, and the operator / quality calls."""
            out = {}
            for c in kids.get(m["span"], []):
                key = c["name"].removeprefix("pipeline.") + "_s"
                out[key] = out.get(key, 0.0) + dur(c)
            accounted = sum(out.values()) / m["seconds"]
            inner = [spans[i] for i in subtree(m["span"])]
            merges = [s for s in inner
                      if s["name"] == "operators.merge_write_path"]
            ops = {"operators.merge_write_path_s": sum(map(dur, merges)),
                   "operators.merge_bytes_written": summed(
                       [j for s in merges for j in subtree(s["id"])],
                       "output_bytes"),
                   "quality.run_suite_s": sum(
                       dur(s) for s in inner
                       if s["name"] == "quality.run_suite")}
            return out, accounted, ops

        first, _, _ = month_layers(months[0])
        ctx.layer |= {f"pipeline.month1.{k}": v for k, v in first.items()}
        later = [month_layers(m) for m in months[1:]]
        for key in first:
            ctx.layer[f"pipeline.{key}"] = statistics.median(
                [stages.get(key, 0.0) for stages, _, _ in later])
        for key in later[0][2]:
            ctx.layer[key] = statistics.median([ops[key] for _, _, ops in later])
        ctx.layer["pipeline.accounted_frac"] = statistics.median(
            [a for _, a, _ in later])

    def per_unit(field, scale=1.0):
        return statistics.median([summed(u, field) * scale for u in units])

    ctx.layer |= {
        "spark.jobs": per_unit("jobs"), "spark.stages": per_unit("stages"),
        "streaming.batch_jobs": per_unit("stream_jobs"),
        "spark.tasks": per_unit("tasks"),
        "spark.input_bytes": per_unit("input_bytes"),
        "sql.scan_nodes": per_unit("scan_nodes"),
        "spark.shuffle_write_bytes": per_unit("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": per_unit("shuffle_read_bytes"),
        "sql.exchange_nodes": per_unit("exchange_nodes"),
        "spark.spill_bytes": per_unit("spill_bytes"),
        "spark.output_bytes": per_unit("output_bytes"),
        "spark.executor_cpu_s": per_unit("executor_cpu_ns", 1e-9),
        "spark.executor_run_s": per_unit("executor_run_ms", 1e-3),
        "spark.gc_s": per_unit("gc_ms", 1e-3),
        "sql.python_nodes": per_unit("python_nodes"),
        "sql.python_run_s": per_unit("python_run_ms", 1e-3),
        "sql.python_boot_s": per_unit("python_boot_ms", 1e-3),
        "sql.python_bytes_sent": per_unit("python_bytes_sent"),
        "spark.slot_busy_frac": statistics.median(
            [summed(u, "executor_run_ms") / 1e3 / (task_slots() * w)
             for u, w in zip(units, wall)]),
        "trace.overhead_s": result["trace_overhead_s"],
        "trace.overhead_frac": result["trace_overhead_s"] / result["pass_s"],
    }


def breakdown(ctx, counters: dict) -> list[dict]:
    """Per-span rows for the traced-run artifact: duration, self time and
    the Spark counters of the span itself."""
    self_s = ctx.tracer.self_times()
    rows = []
    for s in ctx.tracer.spans:
        c = {k: v for k, v in counters.get(s["id"], {}).items()
             if k != "locations" and v}
        rows.append({k: s[k] for k in s if k not in ("run",)}
                    | {"seconds": s["end"] - s["start"],
                       "self_s": self_s[s["id"]], "spark": c})
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description="medallion engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("__spark_entry__.py", "tools/check_oracle.py",
                 "nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} missing: run from a source checkout",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    os.chdir(ROOT)
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])

    ctx = Context(args)
    confine_scratch(ctx.run_dir)
    module = pipeline_months if args.workload == "pipeline_months" else registry
    buff_start = buffcache_gib()
    undo_wraps = []
    try:
        # inputs are not set-up
        if module is registry:
            ctx.classes = registry.load_keys()
        else:
            pipeline_months.prepare(ctx)
        ctx.setup_t0 = time.perf_counter()
        import __spark_entry__  # noqa: F401 - engine import is set-up
        ctx.spark = start_session(ctx)
        sc = ctx.spark.sparkContext
        ctx.layer["session.start_s"] = time.perf_counter() - ctx.setup_t0
        ctx.tracer = Tracer(ctx.run_id, ctx.trace, job_group_setter(sc))
        if ctx.trace and module is registry:
            undo_wraps.append(registry.wrap_iterative_state(ctx.tracer))
        result = module.run(ctx)
        counters = {}
        if ctx.trace:
            by_group = {ctx.tracer.group_of(s["id"]): s["id"]
                        for s in ctx.tracer.spans}
            counters = attribute(StatusStore(sc).snapshot(), by_group.get,
                                 ctx.tracer.innermost_at)
            layer_metrics(ctx, result, counters)
            if module is registry:
                warm = result["traced_key_spans"]
                found = registry.profiles(
                    ctx.tracer, counters, list(warm.values()),
                    os.path.realpath(ctx.warehouse_dir))
                class_drift = registry.drift(
                    ctx.classes, {k: found[i] for k, i in warm.items()})
        ctx.layer["memory.peak_rss_mb"] = vm_hwm_mb(
            sc._jvm.ProcessHandle.current().pid()) + vm_hwm_mb("self")
        env = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": ctx.trace,
            "cores": os.cpu_count(), "master": sc.master,
            "sf": "0.01" if module is registry else None,
            "rows_per_month": (pipeline_months.ROWS_PER_MONTH
                               if module is pipeline_months else None),
            "months": (pipeline_months.MONTHS
                       if module is pipeline_months else None),
            "last_month_repeats": result.get("last_month_repeats"),
            "commit": source_commit(),
            "spark": ctx.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "pyarrow": __import__("pyarrow").__version__,
            "buffcache_gib_start": buff_start,
            "buffcache_gib_end": buffcache_gib(),
        }
        if ctx.classes:
            for cls in registry.SAMPLE:
                keys = [k for k, v in ctx.classes["keys"].items()
                        if v["class"] == cls]
                env[f"{cls}_keys"] = keys
                env[f"{cls}_count"] = len(keys)
                env[f"{cls}_sample"] = ctx.classes["sample"][cls]
            # checked from the traced run's own counters; never re-samples
            env["class_drift"] = class_drift if ctx.trace else None
    finally:
        for undo in reversed(undo_wraps):
            undo()
        if ctx.spark is not None:
            stop_and_wait(ctx.spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    samples = result["samples"]  # operation -> its measured latencies
    pooled = [s for runs in samples.values() for s in runs]
    e2e = {
        "setup_s": ctx.setup_s,
        "bootstrap_s": result["bootstrap_s"],
        "pass_s": result["pass_s"],
        "query_p50_s": median_of_medians(samples),
        "query_p90_s": percentile(pooled, 90),
        "rows_per_s": result["rows_per_s"],
        "bytes_stored_per_source_byte":
            result["stored_bytes"] / result["source_bytes"],
    }
    attempted, failed = result["attempted"], result["failed"]
    env["samples"] = len(pooled)
    env["samples_beyond_p90"] = beyond(len(pooled), 90)
    env["ops_failed_frac"] = failed_frac(failed, attempted)
    full = {"env": env, "end_to_end": e2e, "per_layer": ctx.layer,
            "failures": result["failures"],
            "detail": {k: v for k, v in result.items()
                       if k in ("keys", "passes", "months")}}
    os.makedirs(STATE_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{int(ctx.trace)}"
    with open(os.path.join(STATE_DIR, f"result-{tag}.json"), "w") as f:
        json.dump(full, f, indent=1, default=str)
    if ctx.trace:
        ctx.tracer.write(os.path.join(STATE_DIR, f"trace-{tag}.json"),
                         {"env": env, "breakdown": breakdown(ctx, counters)})

    units = per_layer_units() if ctx.trace else END_TO_END
    values = ctx.layer if ctx.trace else e2e
    for name, unit in units.items():
        print(f"{name:34s} {values[name]:.6g} {unit}")
    print(f"{'ops_failed_frac':34s} {env['ops_failed_frac']:.6g} ratio "
          f"({failed} of {attempted})")
    for key, problem in result["failures"].items():
        print(f"FAILED {key}: {problem}")
    for key, change in (env.get("class_drift") or {}).items():
        print(f"DRIFT {key}: committed {change['committed']}, "
              f"now {change['now']}")
    print(json.dumps({
        "correct": failed == 0 and not result["failures"],
        "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
