"""The ``pipeline_months`` workload: ``MedallionPipeline.run_month()`` over a
sequence of generated monthly drops on an empty warehouse.

Month 1 bootstraps every layer; later months merge into a growing
silver/gold.  The last month runs again and again, each time on a copy of
the warehouse as the earlier months left it, until the run's seconds have
passed, so the incremental month is measured more than once per run.  The
month is picked by the pipeline itself from its ledger watermark.  Each
stage method is timed from outside the program by replacing it on the
pipeline instance; the traced run also wraps the ``merge_write_path`` and
``run_suite`` the pipeline module calls and the ledger's public methods.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

MONTHS = 2
# runs of the last month: an untraced run repeats it until ``--seconds``
# have passed, at least MIN_REPEATS times, and pass_s is their median.  A
# traced run makes TRACED_REPEATS and traces only repeat TRACED_REPEAT: the
# first repeat is the slowest (it runs the month's code paths for the first
# time), so the traced one sits between two untraced ones after it.
MIN_REPEATS = 2
TRACED_REPEATS = 4
TRACED_REPEAT = 2
ROWS_PER_MONTH = 20_000
STAGES = {  # MedallionPipeline method -> span name
    "ingest_staging": "pipeline.ingest",
    "build_bronze": "pipeline.bronze_run",
    "validate_bronze": "pipeline.bronze_validate",
    "build_silver": "pipeline.silver_run",
    "test_silver": "pipeline.silver_test",
    "validate_silver": "pipeline.silver_validate",
    "build_gold": "pipeline.gold_run",
    "validate_gold": "pipeline.gold_validate",
}
LEDGER_CALLS = ("target_month", "register_run", "mark_success", "mark_failed")
LAYERS = ("staging", "bronze", "silver", "gold")


def prepare(ctx) -> None:
    """Generate the month drops (before set-up starts)."""
    from tripgen import write_months

    ctx.source_paths, ctx.expects = write_months(
        os.path.join(ctx.run_dir, "source"), ctx.seed, MONTHS, ROWS_PER_MONTH)


def _instrumented(ctx, root: str, traced: bool):
    """A pipeline on the warehouse at ``root`` with its stage methods timed
    (and, when traced, its ledger calls and the merge and quality calls of
    the pipeline module wrapped in spans).  Returns the pipeline, the list
    its stage calls land in and the function that removes the wrappers."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.catalog \
        import Warehouse
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.pipeline \
        import jobs

    tracer = ctx.tracer
    by_month = {e["month"]: p for e, p in zip(ctx.expects, ctx.source_paths)}
    pipe = jobs.MedallionPipeline(ctx.spark, Warehouse(root), by_month.get)
    calls: list[tuple[str, float, bool]] = []
    restore = [tracer.wrap(pipe, m, name,
                           lambda n, s, ok: calls.append((n, s, ok)))
               for m, name in STAGES.items()]
    if traced:
        restore += [tracer.wrap(pipe.ledger, m, "pipeline.ledger")
                    for m in LEDGER_CALLS]
        restore.append(tracer.wrap(jobs, "merge_write_path",
                                   "operators.merge_write_path"))
        restore.append(tracer.wrap(jobs, "run_suite", "quality.run_suite"))

    def undo():
        for put_back in reversed(restore):
            put_back()
    return pipe, calls, undo


def _month(ctx, pipe, calls, expect: dict) -> dict:
    start = len(calls)
    with ctx.tracer.span("pipeline.month", month=expect["month"]) as rec:
        t0 = time.perf_counter()
        try:
            got, error = pipe.run_month(), None
        except Exception as exc:  # noqa: BLE001 - counted failed
            got, error = None, f"{type(exc).__name__}: {exc}"[:300]
        seconds = time.perf_counter() - t0
    return {"month": expect["month"], "got": got, "error": error,
            "seconds": seconds, "calls": calls[start:],
            "span": rec["id"] if rec else None}


def _sequence(ctx, root: str) -> dict:
    """Months 1..n-1 once on the empty warehouse at ``root``, then the last
    month repeated (see ``MIN_REPEATS``), each time on its own copy of the
    warehouse as it stood before that month.  A traced run traces the
    first months and repeat ``TRACED_REPEAT``: minus the mean of the
    untraced repeats on either side of it, that is the tracing overhead."""
    ctx.mark_setup_done()
    ctx.tracer.enabled = ctx.trace
    pipe, calls, undo = _instrumented(ctx, root, ctx.trace)
    try:
        first = [_month(ctx, pipe, calls, e) for e in ctx.expects[:-1]]
    finally:
        undo()
    before_last = f"{root}-before-last"
    shutil.copytree(root, before_last)
    last = []
    t_steady = time.perf_counter()
    while (len(last) < (TRACED_REPEATS if ctx.trace else MIN_REPEATS)
           or not ctx.trace and time.perf_counter() - t_steady < ctx.seconds):
        i = len(last)
        r = root if i == 0 else f"{root}-repeat{i}"
        if i:  # copied outside the timed month
            shutil.copytree(before_last, r)
        traced = ctx.trace and i == TRACED_REPEAT
        ctx.tracer.enabled = traced
        pipe, calls, undo = _instrumented(ctx, r, traced)
        try:
            last.append(_month(ctx, pipe, calls, ctx.expects[-1]) | {
                "pipe": pipe, "traced": traced})
        finally:
            undo()
    ctx.tracer.enabled = ctx.trace
    return {"root": root, "first": first, "last": last}


def _check(ctx, pipe, months: list[dict]) -> dict[str, str]:
    """Reconcile one warehouse with the generator's expectations; returns
    ``{month: problem}`` (``"*"`` for a whole-sequence problem)."""
    from pyspark.sql import functions as F

    expects = ctx.expects
    wh, spark = pipe.warehouse, ctx.spark
    bad: dict[str, str] = {}
    for m in months:
        if m["error"] or m["got"] != m["month"]:
            bad[m["month"]] = m["error"] or f"processed {m['got']}"
    if bad:
        return bad
    silver = wh.read(spark, "silver", "silver_yellow_tripdata").count()
    want = sum(e["silver_rows"] for e in expects)
    if silver != want:
        bad["*"] = f"silver rows {silver} != {want}"
    # the daily watermark compares pickup with MAX(trip_date), so a month's
    # re-aggregated last day loses its row at exactly midnight (P5 quirk)
    skipped = sum(e["last_midnight_rows"] for e in expects[:-1])
    daily = wh.read(spark, "gold", "gold_daily_summary").agg(
        F.sum("total_trips")).first()[0]
    if daily != silver - skipped:
        bad["*"] = (f"sum(gold_daily.total_trips) {daily} != silver {silver}"
                    f" - {skipped} last-day-midnight rows")
    monthly = {r["revenue_month"].strftime("%Y-%m"): r for r in
               wh.read(spark, "gold", "gold_monthly_summary").collect()}
    rows = wh.read(spark, "gold", "gold_monthly_summary").count()
    if rows != len(expects):
        bad["*"] = f"{rows} gold_monthly rows for {len(expects)} months"
    ledger = pipe.ledger.read().collect()
    for e in expects:
        r = monthly.get(e["month"])
        ok = [x for x in ledger
              if x["target_month"] == e["month"] and x["status"] == "SUCCESS"]
        if r is None or r["total_monthly_trips"] != e["silver_rows"]:
            bad[e["month"]] = "gold_monthly trips differ"
        elif not math.isclose(r["total_monthly_revenue"], e["revenue"],
                              rel_tol=1e-9):
            bad[e["month"]] = (f"revenue {r['total_monthly_revenue']!r} != "
                               f"{e['revenue']!r}")
        elif len(ok) != 1:
            bad[e["month"]] = f"{len(ok)} ledger SUCCESS rows"
    last = pipe.ledger.last_successful_month(
        "yellow_taxi_full_pipeline")
    if last != expects[-1]["month"]:
        bad["*"] = f"watermark at {last}"
    return bad


def run(ctx) -> dict:
    seq = _sequence(ctx, os.path.join(ctx.run_dir, "warehouse"))
    first, last = seq["first"], seq["last"]
    # every run_month call is one operation; a warehouse that fails its
    # reconciliation fails the calls that built it
    failed_calls: set[int] = set()
    failures = {}
    for i, m in enumerate(last):
        bad = _check(ctx, m["pipe"], first + [m])
        for month, problem in bad.items():
            failures[f"{month} (repeat {i})"] = problem
            if month in ("*", m["month"]):
                failed_calls.add(len(first) + i)
            if month == "*" or month != m["month"]:
                failed_calls.update(range(len(first)))
    source_bytes = sum(os.path.getsize(p) for p in ctx.source_paths)
    warehouse = seq["root"]
    measured = [m for m in last if not m["traced"]]
    pass_s = statistics.median([m["seconds"] for m in measured])
    samples: dict[str, list[float]] = {}
    for m in measured:
        for name, seconds, _ok in m["calls"]:
            samples.setdefault(name, []).append(seconds)
    result = {
        "bootstrap_s": first[0]["seconds"],
        "pass_s": pass_s,
        "samples": samples,
        "last_month_repeats": len(last),
        "rows_per_s": sum(e["source_rows"] for e in ctx.expects)
        / (sum(m["seconds"] for m in first) + pass_s),
        "attempted": len(first) + len(last),
        "failed": len(failed_calls),
        "failures": failures,
        "months": [{k: v for k, v in m.items() if k not in ("calls", "pipe")}
                   | {"stages": {n: s for n, s, _ok in m["calls"]}}
                   for m in first + last],
        "source_bytes": source_bytes,
        "stored_bytes": source_bytes + ctx.dir_bytes(warehouse),
    }
    ctx.layer |= {f"catalog.{layer}_bytes":
                  ctx.dir_bytes(os.path.join(warehouse, layer))
                  for layer in LAYERS}
    ctx.layer["catalog.files"] = sum(
        len(files) for _b, _d, files in os.walk(warehouse))
    ctx.layer["pipeline.attempts"] = statistics.median(
        [len(m["calls"]) for m in last])
    ctx.layer["pipeline.failed_stages"] = sum(
        not ok for m in first + last for _n, _s, ok in m["calls"])
    if ctx.trace:
        traced = [m for m in last if m["traced"]]
        result["traced_months"] = first + traced
        before, at, after = last[TRACED_REPEAT - 1:TRACED_REPEAT + 2]
        result["trace_overhead_s"] = at["seconds"] - (
            before["seconds"] + after["seconds"]) / 2
    return result
