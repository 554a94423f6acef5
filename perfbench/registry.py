"""The ``registry_queries`` workload and the key classification behind it.

Classification runs ``queries()`` keys twice each on the benchmark's
inputs, under their own job group, and reads from Spark's status store
which files the jobs of the second run scanned (including jobs a key runs
inside its ``q_*`` call and the micro-batches of its streams): the second
run is the steady state every measured pass sees, after the first has
built the artifacts the key needs.  A key that reads
``documents``, ``embeddings`` or any table of the Spark warehouse (the
build-once artifacts ``warm_persisted`` owns) is a *corpus* key; a key that
reads only the relational tables is a *relational* key.  It also records
the layers each key reaches that a class alone does not show: the
micro-batch jobs of its streaming queries and its
``execution.IterativeState`` rounds.

The workload times a fixed sample, chosen by md5 order of the key names so
it depends on no seed, timing or registry order: for each layer in
``LAYERS``, the first key that reaches it; then, per class, the first keys
of that class until the class holds ``SAMPLE`` keys.  Keys are classified
in md5 order until the sample is complete, so the result equals that of a
whole-registry pass.

The classification and the sample are committed in ``keys.json``: every run
times the same keys, whatever the tree under test does.  A traced run
classifies its sampled keys again from the counters of its first traced
measured pass and reports any key whose class or layers changed
(``class_drift``), without changing what is timed.  After a deliberate change of the rule or the inputs, write
``keys.json`` again with

    python3 perfbench/registry.py --classify
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
KEYS_FILE = os.path.join(HERE, "keys.json")
STATE_DIR = os.path.join(ROOT, ".perfbench")
PACKAGE = "nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark"
CORPUS_TABLES = {"documents", "embeddings"}
SAMPLE = {"relational": 2, "corpus": 2}
LAYERS = ("stream_jobs", "iterative_rounds")  # each reached by a sampled key
ITERATIVE_SPAN = "execution.IterativeState.advance"
MIN_PASSES = {False: 3, True: 4}  # measured passes: untraced / traced run
WARM_SECONDS = 4.0  # noop passes after the bootstrap that are not measured


def table_of(location: str, warehouse_dir: str) -> str | None:
    """Name the table a scan location belongs to: a source table under
    ``DATA_DIR``, ``warehouse:<name>`` for a Spark warehouse table, None
    for anything else (stream sinks, temporary round trips)."""
    path = location.removeprefix("file:")
    if path.startswith(DATA_DIR + "/"):
        return os.path.basename(path).removesuffix(".parquet")
    if path.startswith(warehouse_dir + "/"):
        return "warehouse:" + path[len(warehouse_dir) + 1:].split("/")[0]
    return None


def class_of(tables: set[str]) -> str:
    if tables & CORPUS_TABLES or any(t.startswith("warehouse:")
                                     for t in tables):
        return "corpus"
    return "relational"


def md5_order(keys) -> list[str]:
    return sorted(keys, key=lambda k: hashlib.md5(k.encode()).hexdigest())


def wrap_iterative_state(tracer):
    """Put a span around every ``IterativeState.advance`` (one round of an
    iterative algorithm); returns the function that removes it."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark import \
        execution

    return tracer.wrap(execution.IterativeState, "advance", ITERATIVE_SPAN)


def profiles(tracer, counters: dict, roots: list[int],
             warehouse_dir: str) -> dict[int, dict]:
    """Class, tables and layers reached of each span in ``roots``, from the
    counters of every span below it."""
    kids = tracer.children()
    out = {}
    for root in roots:
        below, todo = [], [root]
        while todo:
            cur = todo.pop()
            below.append(cur)
            todo.extend(c["id"] for c in kids.get(cur, []))
        locs = set().union(*(counters.get(i, {}).get("locations", set())
                             for i in below))
        tables = {t for t in (table_of(p, warehouse_dir) for p in locs) if t}
        out[root] = {
            "class": class_of(tables), "tables": sorted(tables),
            "stream_jobs": int(sum(counters.get(i, {}).get("stream_jobs", 0)
                                   for i in below)),
            "iterative_rounds": sum(tracer.spans[i]["name"] == ITERATIVE_SPAN
                                    for i in below)}
    return out


def choose_sample(keys: dict) -> dict[str, list[str]] | None:
    """The timed keys per class (see the module doc), or None while the
    classified keys cannot fill it.  Keys whose run raised are skipped."""
    ok = md5_order(k for k, v in keys.items() if not v["error"])
    chosen: list[str] = []
    for layer in LAYERS:
        reach = [k for k in ok if keys[k][layer]]
        if not reach:
            return None
        if reach[0] not in chosen:
            chosen.append(reach[0])
    for cls, n in SAMPLE.items():
        have = sum(keys[k]["class"] == cls for k in chosen)
        more = [k for k in ok if keys[k]["class"] == cls and k not in chosen]
        if len(more) < n - have:
            return None
        chosen += more[:max(n - have, 0)]
    return {cls: [k for k in md5_order(chosen) if keys[k]["class"] == cls]
            for cls in SAMPLE}


def classify(spark, queries, warehouse_dir: str) -> dict:
    """Run keys twice each, in md5 order, until ``choose_sample`` is
    complete; returns the profiles of their second runs, ``{key: {"class",
    "tables", "stream_jobs", "iterative_rounds", "seconds", "error"}}``."""
    from sparkstats import StatusStore, attribute, job_group_setter
    from spans import Tracer

    sc = spark.sparkContext
    store = StatusStore(sc)
    tracer = Tracer("classify", True, job_group_setter(sc))
    errors: dict[str, str] = {}
    out: dict[str, dict] = {}

    def settle():
        by_group = {tracer.group_of(s["id"]): s["id"] for s in tracer.spans}
        counters = attribute(store.snapshot(), by_group.get,
                             tracer.innermost_at)
        roots = [s for s in tracer.spans
                 if s["parent"] is None and s["call"] == 2]
        found = profiles(tracer, counters, [s["id"] for s in roots],
                         warehouse_dir)
        for s in roots:
            out[s["name"]] = found[s["id"]] | {
                "seconds": round(s["end"] - s["start"], 3),
                "error": errors.get(s["name"])}

    undo = wrap_iterative_state(tracer)
    try:
        for name in md5_order(queries):
            for call in (1, 2):
                with tracer.span(name, call=call):
                    try:
                        queries[name](spark, DATA_DIR).write.mode(
                            "overwrite").format("noop").save()
                    except Exception as exc:  # noqa: BLE001 - per key
                        errors.setdefault(
                            name, f"{type(exc).__name__}: {exc}"[:300])
            settle()
            if choose_sample(out) is not None:
                break
    finally:
        undo()
    return out


def load_keys() -> dict:
    """The committed classification and sample."""
    with open(KEYS_FILE) as f:
        return json.load(f)


def workload_keys(committed: dict) -> list[str]:
    """The ``registry_queries`` keys: both class samples."""
    return [k for cls in SAMPLE for k in committed["sample"][cls]]


def drift(committed: dict, found: dict[str, dict]) -> dict[str, dict]:
    """Sampled keys whose class or layers reached differ from the committed
    classification: ``{key: {"committed": ..., "now": ...}}``."""
    fields = ("class", *LAYERS)
    out = {}
    for key, now in found.items():
        was = committed["keys"][key]
        if any(bool(was[f]) != bool(now[f]) if f in LAYERS
               else was[f] != now[f] for f in fields):
            out[key] = {"committed": {f: was[f] for f in fields},
                        "now": {f: now[f] for f in fields}}
    return out


def _input_rows(tables) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(DATA_DIR, f"{t}.parquet"))
               .metadata.num_rows for t in tables
               if not t.startswith("warehouse:"))


def check_oracles(keys: list[str], outputs: dict) -> dict[str, str]:
    """Compare each key's Spark output with its DuckDB oracle through
    ``tools/check_oracle.py``'s comparison; returns ``{key: problem}``."""
    import importlib.util

    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    sql = entry.oracle_sql()
    bad = {}
    con = oracle.duck_connection(DATA_DIR)
    try:
        for key in keys:
            if key not in outputs:
                bad[key] = "no output"
            elif key not in sql:
                bad[key] = "no oracle"
            else:
                problems = oracle.compare(key, outputs[key],
                                          con.execute(sql[key]).fetchdf())
                if problems:
                    bad[key] = " | ".join(problems[:3])
    finally:
        con.close()
    return bad


def _median_pass(passes: list[dict]) -> float:
    """A pass at every key's median latency over ``passes``: one slow
    outlier of one key moves it less than a median of pass totals."""
    keys = {k for p in passes for k in p["keys"]}
    return sum(statistics.median([p["keys"][k] for p in passes
                                  if k in p["keys"]]) for k in keys)


def run(ctx) -> dict:
    """Time the key sample.  A bootstrap pass calls and collects every key
    on the empty warehouse (first use: compilation and artifact builds; its
    outputs are what the oracle check compares).  Then passes run each key
    into a noop sink: unmeasured ones for ``WARM_SECONDS``, measured ones
    until ``ctx.seconds`` have passed.  The seed fixes the key order of
    every pass."""
    import __spark_entry__ as entry

    spark, tracer = ctx.spark, ctx.tracer
    committed = ctx.classes
    keys = workload_keys(committed)
    cls = {k: committed["keys"][k]["class"] for k in keys}
    fns = entry.queries()
    rng = random.Random(ctx.seed)
    failed_keys: dict[str, str] = {}
    outputs = {}

    if ctx.trace:
        with tracer.span("registry.warm_persisted") as rec:
            entry.warm_persisted(spark, DATA_DIR)
        ctx.layer["registry.warm_persisted_s"] = rec["end"] - rec["start"]

    order = rng.sample(keys, len(keys))
    t_boot = time.perf_counter()
    ctx.mark_setup_done()
    with tracer.span("registry.bootstrap"):
        for name in order:
            with tracer.span("key", key=name):
                try:
                    outputs[name] = fns[name](spark, DATA_DIR).toPandas()
                except Exception as exc:  # noqa: BLE001 - counted failed
                    failed_keys[name] = f"{type(exc).__name__}: {exc}"[:300]
    bootstrap_s = time.perf_counter() - t_boot
    ctx.layer["registry.warmup_s"] = bootstrap_s
    ctx.layer["registry.artifact_bytes"] = ctx.dir_bytes(ctx.warehouse_dir)

    samples: dict[str, list[float]] = {k: [] for k in keys}
    ok_runs = dict.fromkeys(keys, 0)
    passes: list[dict] = []
    attempted = failed = 0

    def one_pass(traced: bool, settling: bool = False) -> None:
        nonlocal attempted, failed
        tracer.enabled = traced
        order = rng.sample(keys, len(keys))
        t_pass = time.perf_counter()
        call_s = action_s = 0.0
        per_class = dict.fromkeys(SAMPLE, 0.0)
        per_key, key_spans = {}, {}
        with tracer.span("registry.pass") as prec:
            for name in order:
                attempted += 1
                with tracer.span("key", key=name) as krec:
                    if krec:
                        key_spans[name] = krec["id"]
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("registry.call", key=name):
                            df = fns[name](spark, DATA_DIR)
                        t1 = time.perf_counter()
                        with tracer.span("registry.action", key=name):
                            df.write.mode("overwrite").format("noop").save()
                    except Exception as exc:  # noqa: BLE001 - counted failed
                        failed += 1
                        failed_keys.setdefault(
                            name, f"{type(exc).__name__}: {exc}"[:300])
                        continue
                    t2 = time.perf_counter()
                ok_runs[name] += 1
                if not settling:
                    samples[name].append(t2 - t0)
                    per_key[name] = t2 - t0
                    per_class[cls[name]] += t2 - t0
                    call_s += t1 - t0
                    action_s += t2 - t1
        tracer.enabled = ctx.trace
        if not settling:
            passes.append({"traced": traced,
                           "seconds": time.perf_counter() - t_pass,
                           "call_s": call_s, "action_s": action_s,
                           **{f"{c}_s": v for c, v in per_class.items()},
                           "keys": per_key, "key_spans": key_spans,
                           "span": prec["id"] if prec else None})

    # unmeasured passes until the JIT has settled, then measured passes
    # until ctx.seconds have passed.  Traced runs alternate untraced and
    # traced passes: the difference of their medians is the overhead.
    t_warm = time.perf_counter()
    while True:
        one_pass(traced=False, settling=True)
        if time.perf_counter() - t_warm >= WARM_SECONDS:
            break
    t_steady = time.perf_counter()
    while (len(passes) < MIN_PASSES[ctx.trace]
           or time.perf_counter() - t_steady < ctx.seconds):
        one_pass(traced=ctx.trace and len(passes) % 2 == 1)
    pass_s = _median_pass([p for p in passes if not p["traced"]])

    # correctness, outside every timed region: each key's bootstrap output
    # against its DuckDB oracle, with tools/check_oracle.py's comparison
    mismatched = check_oracles(keys, outputs)
    failed += sum(ok_runs[k] for k in mismatched)

    rows = sum(_input_rows(committed["keys"][k]["tables"]) for k in keys)
    result = {
        "bootstrap_s": bootstrap_s,
        "pass_s": pass_s,
        "samples": {k: v for k, v in samples.items() if v},
        "rows_per_s": rows / pass_s,
        "attempted": attempted,
        "failed": failed,
        "failures": {**failed_keys, **mismatched},
        "keys": keys,
        "passes": passes,
        "source_bytes": ctx.dir_bytes(DATA_DIR),
        "stored_bytes": ctx.dir_bytes(DATA_DIR)
        + ctx.dir_bytes(ctx.warehouse_dir),
    }
    if ctx.trace:
        traced_passes = [p for p in passes if p["traced"]]
        result["trace_overhead_s"] = _median_pass(traced_passes) - pass_s
        ctx.layer["registry.call_s"] = statistics.median(
            [p["call_s"] for p in traced_passes])
        ctx.layer["registry.action_s"] = statistics.median(
            [p["action_s"] for p in traced_passes])
        for c in SAMPLE:
            ctx.layer[f"registry.{c}_s"] = statistics.median(
                [p[f"{c}_s"] for p in traced_passes])
        result["traced_pass_spans"] = [p["span"] for p in traced_passes]
        result["traced_key_spans"] = traced_passes[0]["key_spans"]
    return result


def main() -> None:
    if sys.argv[1:] != ["--classify"]:
        sys.exit(f"usage: {sys.argv[0]} --classify")
    sys.path[:0] = [ROOT, HERE]
    os.makedirs(STATE_DIR, exist_ok=True)
    scratch = os.path.join(STATE_DIR, f"classify-{os.getpid()}")
    from sparkstats import confine_scratch, session_conf, stop_and_wait

    confine_scratch(scratch)
    import __spark_entry__ as entry
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.session \
        import get_spark

    conf = session_conf(scratch)
    spark = get_spark("perfbench-classify", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        keys = classify(spark, entry.queries(),
                        os.path.realpath(conf["spark.sql.warehouse.dir"]))
    finally:
        stop_and_wait(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    with open(KEYS_FILE, "w") as f:
        json.dump({"data_dir": "perfbench/data", "sample": choose_sample(keys),
                   "keys": keys}, f, indent=1)
        f.write("\n")
    print(json.dumps({c: sum(v["class"] == c for v in keys.values())
                      for c in SAMPLE}))


if __name__ == "__main__":
    main()
