"""Spark's own counters, read from the application's status store through
the local UI REST endpoint (``/api/v1/applications/<app>/...``).

Used only by the traced run and by the one-time key classification, never
inside a timed region: everything is fetched once, after the work, and
given to spans by job group (or, for jobs a streaming query launches from
its own thread, by the span open when the job was submitted).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import tempfile
import urllib.request

# Session settings that keep every job, stage and SQL execution of a run in
# the status store until it is read.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

STAGE_FIELDS = {  # REST stage field -> counter name
    "numCompleteTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
# a streaming query's micro-batch jobs carry its run id in their description
STREAM_JOB = "runId = "
COUNTERS = (["jobs", "stream_jobs", "stages", "sql_executions", "scan_nodes",
             "exchange_nodes", "python_nodes", "python_run_ms",
             "python_boot_ms", "python_bytes_sent"]
            + list(STAGE_FIELDS.values()))

_UNITS = {"ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-6}


def session_conf(run_dir: str) -> dict[str, str]:
    """Settings of every session the benchmark starts: its scratch files
    stay under ``run_dir``, and the status store keeps the whole run."""
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        **RETENTION_CONF,
    }


def confine_scratch(run_dir: str) -> None:
    """Keep every scratch file of this process and its JVM under
    ``run_dir``.  The engine puts its stream checkpoints and sinks under
    ``/dev/shm`` when that exists (``tempfile.mkdtemp(dir="/dev/shm")``); a
    run writes only inside its checkout, so every ``mkdtemp`` of the
    process goes to ``run_dir/tmp`` instead, whatever ``dir`` it asks for."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the launcher's SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    mkdtemp = tempfile.mkdtemp
    tempfile.mkdtemp = lambda suffix=None, prefix=None, dir=None: mkdtemp(
        suffix, prefix, tmp)


def job_group_setter(sc):
    """``set_group(group, description)`` for a ``Tracer``: tags the driver
    thread's next jobs, or clears the tag when ``group`` is None."""
    def set_group(group, description):
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, description)
    return set_group


def stop_and_wait(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)


def metric_value(text: str) -> float:
    """Total of one SQL metric as the status store renders it: either a
    plain count (``1,201``) or ``total (min, med, max ...)\\n612 ms (...)``.
    Times come back in ms, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


class StatusStore:
    """Reader of one application's jobs, stages and SQL executions."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        return {
            "jobs": self._get("/jobs"),
            "stages": self._get("/stages"),
            "sql": self._get("/sql?details=true&planDescription=true"
                             "&offset=0&length=1000000"),
        }


def attribute(snap: dict, owner_of_group, owner_at) -> dict:
    """Sum the snapshot's counters per owner.

    ``owner_of_group(group)`` names the owner of a job group (or None for a
    foreign group); ``owner_at(epoch_seconds)`` names the owner of a job or
    execution by the time it was submitted.  Returns
    ``{owner: {counter: value, "locations": set(scan locations)}}``."""
    out: dict = {}

    def acc(owner):
        return out.setdefault(owner, dict.fromkeys(COUNTERS, 0.0)
                              | {"locations": set()})

    job_owner = {}
    for job in snap["jobs"]:
        owner = owner_of_group(job.get("jobGroup"))
        if owner is None:
            owner = owner_at(_epoch(job.get("submissionTime")))
        job_owner[job["jobId"]] = owner
        acc(owner)["jobs"] += 1
        if STREAM_JOB in (job.get("description") or ""):
            acc(owner)["stream_jobs"] += 1
    stage_owner = {}
    for job in sorted(snap["jobs"], key=lambda j: j["jobId"]):
        for sid in job.get("stageIds", []):
            stage_owner.setdefault(sid, job_owner[job["jobId"]])
    for st in snap["stages"]:
        if st.get("status") not in ("COMPLETE", "FAILED"):
            continue
        c = acc(stage_owner.get(st["stageId"]))
        c["stages"] += 1
        for field, name in STAGE_FIELDS.items():
            c[name] += st.get(field, 0) or 0
    for ex in snap["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        owner = (job_owner.get(ids[0]) if ids
                 else owner_at(_epoch(ex.get("submissionTime"))))
        c = acc(owner)
        c["sql_executions"] += 1
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            if name.startswith("Scan"):
                c["scan_nodes"] += 1
            elif "Exchange" in name:
                c["exchange_nodes"] += 1
            if PYTHON_NODE.search(name):
                c["python_nodes"] += 1
            for m in node.get("metrics", []):
                if m["name"] == PY_RUN:
                    c["python_run_ms"] += metric_value(m["value"])
                elif m["name"] in PY_BOOT:
                    c["python_boot_ms"] += metric_value(m["value"])
                elif m["name"] == PY_SENT:
                    c["python_bytes_sent"] += metric_value(m["value"])
        for loc in re.finditer(r"Location: \w+ \[([^\]]*)\]",
                               ex.get("planDescription", "")):
            c["locations"].update(p.strip().rstrip("/")
                                  for p in loc.group(1).split(","))
    return out
