"""Tests of the benchmark itself: seeded inputs, the digest gate against
the DuckDB oracle, and the event-log reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import eventlog  # noqa: E402
import oracle  # noqa: E402
from inputs import Inputs, base_documents  # noqa: E402

from nolock_social_ocr_services_spark import corpus  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog.jsonl.gz")


# -- seeded generator ----------------------------------------------------------


def test_base_documents_deterministic_per_seed():
    a, b = base_documents(3, 200), base_documents(3, 200)
    assert a.equals(b)
    other = base_documents(4, 200)
    assert a["doc_id"].to_pylist() != other["doc_id"].to_pylist()
    ids = a["doc_id"].to_pylist()
    assert ids == sorted(set(ids)) and max(ids) < corpus.REPLICA_SHIFT
    assert all(len(t) == n for t, n in zip(a["text"].to_pylist(),
                                           a["n_chars"].to_pylist()))


def _span_rows(inputs: Inputs, text_only: bool = False):
    import pyarrow.parquet as pq

    rows = pq.read_table(inputs.corpus(text_only)).to_pylist()
    return sorted((r["doc_id"], s["offset"], s["kind"], s["text"], s["media_ref"])
                  for r in rows for s in r["spans"])


def test_seed_moves_kinds_counts_and_payloads(tmp_path):
    a = Inputs(str(tmp_path / "a"), 1, 60, 2)
    again = Inputs(str(tmp_path / "b"), 1, 60, 2)
    other = Inputs(str(tmp_path / "c"), 2, 60, 2)
    try:
        rows_a = _span_rows(a)
        assert rows_a == _span_rows(again)
        rows_o = _span_rows(other)
        kinds = lambda rows: sorted(r[2] for r in rows)  # noqa: E731
        media = lambda rows: sorted(r[4] for r in rows if r[4])  # noqa: E731
        assert len(rows_a) != len(rows_o) or kinds(rows_a) != kinds(rows_o)
        assert media(rows_a) != media(rows_o)
        stats = a.stats()
        assert stats["docs"] == 120 and stats["spans"] == len(rows_a)
        assert {r[2] for r in _span_rows(a, text_only=True)} <= {"text", "html"}
    finally:
        for i in (a, again, other):
            i.close()


# -- digest gate vs the DuckDB oracle ------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("work"))
    cores = run.prepare_environment(work)
    session = run.start_session(work, min(cores, 2))
    yield session
    session.stop()
    run.shutdown_jvm()


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    inputs = Inputs(str(tmp_path_factory.mktemp("inputs")), 5, 30, 2)
    yield inputs
    inputs.close()


def test_nested_digest_matches_oracle_and_rejects_corruption(spark, tiny):
    from pyspark.sql import functions as F

    from nolock_social_ocr_services_spark import pipeline

    out = pipeline.extracted_documents(spark.read.parquet(tiny.corpus()))
    expected = tiny.expected("nested")
    assert oracle.spark_digest(out) == expected
    victim = out.select(F.min("doc_id")).first()[0]
    corrupted = out.withColumn(
        "spans",
        F.when(F.col("doc_id") == victim,
               F.transform("spans", lambda s: s.withField("text", F.concat(
                   s["text"], F.lit("x")))))
        .otherwise(F.col("spans")),
    )
    assert oracle.spark_digest(corrupted) != expected
    assert oracle.spark_digest(out.filter(F.col("doc_id") != victim)) != expected


def test_text_only_digest_matches_oracle(spark, tiny):
    from nolock_social_ocr_services_spark import pipeline

    out = pipeline.extracted_documents(spark.read.parquet(tiny.corpus(True)))
    assert oracle.spark_digest(out) == tiny.expected("nested", text_only=True)


def test_flat_digest_matches_oracle_and_rejects_corruption(spark, tiny):
    from pyspark.sql import functions as F

    from nolock_social_ocr_services_spark import pipeline

    flat = pipeline.extract_spans(spark.read.parquet(tiny.corpus()))
    expected = tiny.expected("flat")
    assert oracle.spark_digest(flat) == expected
    victim = flat.filter(F.col("receipt").isNotNull()).select(
        F.min("doc_id")).first()[0]
    corrupted = flat.withColumn(
        "receipt",
        F.when(F.col("doc_id") == victim,
               F.col("receipt").withField("merchant_name", F.lit("M-x")))
        .otherwise(F.col("receipt")),
    )
    assert oracle.spark_digest(corrupted) != expected


# -- event-log reader ----------------------------------------------------------


@pytest.fixture(scope="module")
def elog(tmp_path_factory):
    path = tmp_path_factory.mktemp("log") / "app"
    with gzip.open(LOG, "rt") as src, open(path, "w") as dst:
        shutil.copyfileobj(src, dst)
    return eventlog.EventLog(eventlog.read_events(str(path)))


def test_eventlog_maps_pass_metrics_to_layers(elog):
    assert {"pass", "job:kill", "job:resume", "scan"} <= set(elog.labels())
    spans = elog.metric("pass", "explode", "number of output rows")
    assert spans > 0
    # the OCR UDF sees every exploded span; no classify UDF runs
    assert elog.metric("pass", "ocr", "number of output rows") == spans
    assert elog.metric("pass", "classify", "number of output rows") == 0
    assert elog.metric("pass", "ocr", "data sent to Python workers") > 0
    assert elog.metric("pass", "salt", "shuffle records written") == spans
    assert elog.metric("pass", "reassemble", "shuffle bytes written") > 0
    assert elog.has_role("pass", "reassemble_final")
    assert elog.metric("pass", "scan", "size of files read") > 0
    totals = elog.task_totals("pass")
    assert totals["tasks"] >= 64 and totals["cpu_s"] > 0
    assert elog.task_skew("pass", "ocr") >= 1.0
    # the scan-only pass has no shuffle of the pipeline
    assert not elog.has_role("scan", "salt") and not elog.has_role("scan", "ocr")


def test_eventlog_splits_job_writes_by_directory(elog):
    for label in ("job:kill", "job:resume"):
        assert elog.wall_s(label, "data") > 0
        assert elog.wall_s(label, "_lineage") > 0
        assert elog.wall_s(label, "_manifest") > 0
        # one extraction batch per invocation reads the input corpus once
        assert elog.scans_of(label, "/corpus") == 1
        assert elog.metric(label, "write:data", "number of written files") > 0
    assert elog.wall_s("pass", "data") == 0


def test_node_role_classifies_exchanges():
    def node(name, *children, simple=""):
        return {"nodeName": name, "simpleString": simple or name,
                "children": list(children), "metrics": []}

    partial = node("HashAggregate")
    assert eventlog.node_role(node("Exchange", node("WholeStageCodegen", partial))) == "sink"
    obj = node("ObjectHashAggregate", node("Project"))
    assert eventlog.node_role(node("Exchange", obj)) == "reassemble"
    assert eventlog.node_role(node("Exchange", node("Project", node("Generate")))) == "salt"
    assert eventlog.node_role(node("ObjectHashAggregate", node("Exchange", obj))) == (
        "reassemble_final")
    assert eventlog.node_role(
        node("ArrowEvalPython", simple="ArrowEvalPython [classify_prefix(x)]")
    ) == "classify"
    write = node("Execute InsertIntoHadoopFsRelationCommand",
                 simple="Execute InsertIntoHadoopFsRelationCommand file:/o/_manifest, "
                        "false, Parquet")
    assert eventlog.node_role(write) == "write:_manifest"
