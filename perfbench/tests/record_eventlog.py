"""Record the small Spark event log ``test_perfbench.py`` reads.

    python3 perfbench/tests/record_eventlog.py

Runs one ``pipeline.extracted_documents`` pass (label ``pass``) and a
checkpointed job killed and resumed (labels ``job:kill``/``job:resume``) on
a tiny seeded corpus, with the benchmark's own session settings, then keeps
only the events and fields ``eventlog.py`` reads and writes them gzipped to
``data/eventlog.jsonl.gz``.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import run  # noqa: E402

KEEP_EVENTS = {
    "SparkListenerJobStart",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
}
TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time")


def slim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {"Event": kind, "Stage IDs": ev["Stage IDs"],
                "Properties": {k: v for k, v in props.items()
                               if k == "spark.sql.execution.id"}}
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task Info": {"Accumulables": [
                    {"ID": a["ID"], "Update": a.get("Update")}
                    for a in info.get("Accumulables", [])
                    if a.get("Metadata") == "sql"]},
                "Task Metrics": {k: (ev.get("Task Metrics") or {}).get(k, 0)
                                 for k in TASK_METRICS}}
    return {k: v for k, v in ev.items()
            if k not in ("physicalPlanDescription", "details", "modifiedConfigs")}


def main() -> None:
    import eventlog
    import oracle
    from inputs import Inputs

    work = os.path.join(BENCH, ".work", "record")
    shutil.rmtree(work, ignore_errors=True)
    cores = run.prepare_environment(work)
    # 400 docs: every one of the job's 16 resume units gets rows
    inputs = Inputs(work, 7, 400, 1)
    prepared = {"corpus": inputs.corpus(), "stats": inputs.stats(),
                "expected": {"nested": inputs.expected("nested"),
                             "flat": inputs.expected("flat")}}
    inputs.close()
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    spark = run.start_session(work, cores, event_dir)
    try:
        docs = run.ExtractedDocuments(spark, prepared)
        job = run.CheckpointJob(spark, prepared, os.path.join(work, "job"))
        ops = [docs.op("pass"), job.kill("job:kill"), job.resume("job:resume")]
        failed = [o["error"] for o in ops if not o["ok"]]
        if failed:
            raise RuntimeError(f"recording run failed: {failed}")
        spark.sparkContext.setJobDescription("scan")
        oracle.spark_digest(docs.docs)
        spark.stop()
    finally:
        run.shutdown_jvm()
    events = eventlog.read_events(eventlog.find_app_log(event_dir))
    out = os.path.join(HERE, "data", "eventlog.jsonl.gz")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with gzip.open(out, "wt") as f:
        for ev in events:
            if ev["Event"] in KEEP_EVENTS:
                f.write(json.dumps(slim(ev)) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(out, os.path.getsize(out))


if __name__ == "__main__":
    main()
