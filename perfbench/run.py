"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload interleaved --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The benchmark builds its seeded
input and the expected-output digest in a child process (``inputs.py``,
``oracle.py``), then starts one Spark session on
``local[<cores this process may use>]`` in this process and runs the
workload as a closed loop, one operation at a time on the same input. An
operation is ``pipeline.extracted_documents`` over the whole corpus, sunk
into an order-insensitive digest of every output column and checked
against the oracle's digest outside the timed region:

* ``interleaved``: the seeded interleaved corpus;
* ``text_only``: the same documents with their media spans removed.

The last line of standard output is the result; the line before it
records the run's context (source revision, cores, Spark version, seed,
input sizes). Progress goes to standard error.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: a session with Spark's event log on measures the
operation traced and times cumulative call prefixes of the pipeline; per
workload it adds an untraced session before it (tracing overhead), the
records layer, or a checkpointed ``lineage.run_extract_job`` killed by
``fail_after`` and resumed; then the log is read (``eventlog.py``).
README.md in this directory lists every metric and the end-to-end metric
each layer metric should move.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nolock_social_ocr_services_spark"

# Input sizes: base documents x id-shifted replicas (ids < REPLICA_SHIFT).
# What the traced run adds per workload, split so each stays well inside
# the 180 s a run may take: ``overhead`` an untraced session for the
# tracing overhead, ``records`` the records layer, ``job`` the
# checkpointed job (see README.md for why the job is not a workload).
WORKLOADS = {
    "interleaved": {"n_base": 10_000, "replicate": 2, "text_only": False,
                    "overhead": True, "records": True, "job": False},
    "text_only": {"n_base": 10_000, "replicate": 2, "text_only": True,
                  "overhead": False, "records": False, "job": True},
}
# Resume units of the traced job: 16 units, 8 per Spark job, so the killed
# run and its resume are one extraction job each.
NUM_PARTS = 16
BATCH_SIZE = 8
FAIL_AFTER = NUM_PARTS // 2
# Fits a 15 GB host beside the Python workers. The heap is also the
# initial heap (-Xms): G1 resizing otherwise moves peak_rss_mb by ±10%.
DRIVER_MEMORY = "3g"
# The first pass after set-up is still ~50% slower than later ones (JIT
# still compiling); later passes agree within ~10%. docs_per_s is the
# median of at least three timed passes, so that pass never sets it.
MIN_TIMED_OPS = 3
# Reading smaps_rollup of a multi-GB JVM costs milliseconds of CPU; once a
# second keeps the sampler's share of one core near 1%. Heap and worker
# memory plateau rather than spike, so the peak is not missed.
RSS_PERIOD_S = 1.0
_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages that forked Python workers
    share are counted once for the tree, however many workers run."""

    def __init__(self, period_s: float = RSS_PERIOD_S):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree(root: int) -> dict[int, str]:
        """pid -> command name of ``root`` and its descendants."""
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            close = stat.rindex(")")
            ppid = int(stat[close + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
            comm[int(name)] = stat[stat.index("(") + 1:close]
        out, todo = {}, [root]
        while todo:
            pid = todo.pop()
            out[pid] = comm.get(pid, "?")
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            parts: dict[str, int] = {}
            for pid, comm in self.tree(os.getpid()).items():
                parts[comm] = parts.get(comm, 0) + self.pss_kb(pid)
            total = sum(parts.values())
            with self._lock:
                if total > self.peak_kb:
                    self.peak_kb, self.peak_parts = total, parts
        log(f"memory sampler used {time.thread_time():.2f}s of CPU")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self.peak_kb, self.peak_parts = 0, {}

    def peak_mb(self) -> float:
        with self._lock:
            log("peak memory by command (MB): " + ", ".join(
                f"{c} {kb / 1024:.0f}" for c, kb in sorted(self.peak_parts.items())))
            return self.peak_kb / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s process tree (reaped children
    included through their parents' cumulative counters)."""
    total = 0
    for pid in RssSampler.tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def source_rev() -> str:
    """Git revision in a git work tree; otherwise a digest of the package
    sources (the benchmark's checkout need not be a repository)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-" + h.hexdigest()[:12]


def prepare_environment(work: str) -> int:
    """Make this process and its Spark/Python children self-contained:
    imports resolve from the checkout whatever the cwd, and scratch files
    stay inside ``work``. Returns the core count for ``local[n]``."""
    sys.path[:0] = [ROOT, HERE]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return len(os.sched_getaffinity(0))


def prepare_inputs(work: str, workload: str, seed: int, outputs: list[str]) -> dict:
    """Seeded corpus, its counts and the oracle digests of ``outputs``,
    built in a child process so DuckDB's memory never counts toward
    ``peak_rss_mb``."""
    spec = WORKLOADS[workload]
    cmd = [sys.executable, os.path.join(HERE, "inputs.py"), work, str(seed),
           str(spec["n_base"]), str(spec["replicate"]), str(int(spec["text_only"])),
           *outputs]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def start_session(work: str, cores: int, event_dir: str | None = None):
    from nolock_social_ocr_services_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            # no hsperfdata file under /tmp: the run writes only in its checkout
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- workloads -------------------------------------------------------------------


class ExtractedDocuments:
    """One op: ``pipeline.extracted_documents`` over the whole corpus,
    sunk into the output digest and checked against the oracle's."""

    def __init__(self, spark, prepared: dict):
        from nolock_social_ocr_services_spark import pipeline

        self.spark = spark
        self.corpus, self.stats = prepared["corpus"], prepared["stats"]
        self.expected = tuple(prepared["expected"]["nested"])
        self.docs = spark.read.parquet(self.corpus)
        self.output = pipeline.extracted_documents(self.docs)

    def op(self, label: str) -> dict:
        import oracle

        self.spark.sparkContext.setJobDescription(label)
        cpu0, t0 = tree_cpu_s(os.getpid()), time.monotonic()
        try:
            digest = oracle.spark_digest(self.output)
        except Exception as exc:  # a failed op is reported; the run goes on
            digest = repr(exc)
        wall = time.monotonic() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        ok = digest == self.expected
        return {"wall": wall, "cpu": cpu, "docs": self.stats["docs"] if ok else 0, "ok": ok,
                "error": None if ok else f"digest {digest} != oracle {self.expected}"}


class CheckpointJob:
    """``lineage.run_extract_job`` killed by ``fail_after`` at half the
    units (``kill``), then resumed (``resume``), each checked."""

    def __init__(self, spark, prepared: dict, out_dir: str):
        self.spark = spark
        self.corpus, self.stats = prepared["corpus"], prepared["stats"]
        self.expected = tuple(prepared["expected"]["flat"])
        self.docs = spark.read.parquet(self.corpus)
        self.out = out_dir
        self.redo_units = 0

    def _run(self, fail_after: int | None) -> list[int]:
        from nolock_social_ocr_services_spark import lineage

        return lineage.run_extract_job(
            self.spark, self.docs, self.out, run_id="perfbench",
            num_parts=NUM_PARTS, batch_size=BATCH_SIZE, fail_after=fail_after,
        )

    def kill(self, label: str) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        self.spark.sparkContext.setJobDescription(label)
        t0 = time.monotonic()
        error = "run was not killed by fail_after"
        try:
            self._run(FAIL_AFTER)
        except Exception as exc:  # the injected kill, or a real failure
            error = None if "injected failure" in str(exc) else repr(exc)
        wall = time.monotonic() - t0
        error = error or self._check(final=False)
        return {"wall": wall, "ok": error is None, "error": error}

    def resume(self, label: str) -> dict:
        from nolock_social_ocr_services_spark import lineage

        before = lineage.committed_parts(self.spark, self.out)
        self.spark.sparkContext.setJobDescription(label)
        t0 = time.monotonic()
        try:
            processed = self._run(None)
            error = None
        except Exception as exc:  # a failed op is reported; the run goes on
            processed, error = [], repr(exc)
        wall = time.monotonic() - t0
        self.redo_units = len(processed) - (NUM_PARTS - len(before))
        error = error or self._check(final=True)
        if error is None and self.redo_units != 0:
            error = f"resume re-extracted {self.redo_units} committed units"
        return {"wall": wall, "ok": error is None, "error": error}

    def _check(self, final: bool) -> str | None:
        try:
            return self._verify(final)
        except Exception as exc:  # a check that cannot run fails the op
            return f"check raised {exc!r}"

    def _verify(self, final: bool) -> str | None:
        """Committed units, manifest uniqueness, lineage totals and, for a
        finished job, the output digest against the oracle."""
        import oracle
        from pyspark.sql import functions as F

        from nolock_social_ocr_services_spark import lineage

        self.spark.sparkContext.setJobDescription("check")
        committed = lineage.committed_parts(self.spark, self.out)
        want = set(range(NUM_PARTS)) if final else set(range(FAIL_AFTER))
        if committed != want:
            return f"committed units {sorted(committed)} != {sorted(want)}"
        manifest = self.spark.read.parquet(os.path.join(self.out, "_manifest"))
        dup = manifest.groupBy("part_id").count().filter(F.col("count") != 1).count()
        if dup:
            return f"{dup} units appear more than once in the manifest"
        lin = lineage.read_lineage(self.spark, self.out).agg(
            F.sum("doc_count").alias("d"), F.sum("span_count").alias("s")
        ).first()
        want_docs = (
            lineage.with_part_id(self.docs.select("doc_id"), NUM_PARTS)
            .filter(F.col("part_id").isin(sorted(committed))).count()
        )
        if lin.d != want_docs:
            return f"lineage docs {lin.d} != {want_docs}"
        if not final:
            return None
        if lin.s != self.stats["spans"]:
            return f"lineage spans {lin.s} != {self.stats['spans']}"
        digest = oracle.spark_digest(lineage.read_output(self.spark, self.out))
        if digest != self.expected:
            return f"digest {digest} != oracle {self.expected}"
        return None


def setup(work: str, cores: int, prepared: dict, event_dir: str | None = None):
    """Session start plus the untimed first op: (workload, seconds, op)."""
    t0 = time.monotonic()
    spark = start_session(work, cores, event_dir)
    workload = ExtractedDocuments(spark, prepared)
    first = workload.op("setup")
    setup_s = time.monotonic() - t0
    log(f"set-up {setup_s:.1f}s (first op {first['wall']:.1f}s, ok={first['ok']})")
    return workload, setup_s, first


def run_loop(workload, seconds: float, tag: str, min_ops: int) -> list[dict]:
    """Closed loop: one op at a time until ``seconds`` have passed and at
    least ``min_ops`` ops ran."""
    ops = []
    t0 = time.monotonic()
    while len(ops) < min_ops or time.monotonic() - t0 < seconds:
        ops.append(workload.op(f"{tag}:{len(ops)}"))
        log(f"{tag} op {len(ops)}: {ops[-1]['wall']:.2f}s cpu {ops[-1]['cpu']:.2f}s"
            f" ok={ops[-1]['ok']}")
    return ops


def docs_per_s(ops: list[dict]) -> float:
    """Median over ops of documents completed per second of wall time."""
    return median([o["docs"] / o["wall"] for o in ops if o["ok"]])


def end_to_end(args, work: str, cores: int, prepared: dict) -> tuple[dict, list]:
    with RssSampler() as rss:
        workload, setup_s, first = setup(work, cores, prepared)
        rss.reset()
        ops = run_loop(workload, args.seconds, "op", MIN_TIMED_OPS)
        peak = rss.peak_mb()
    workload.spark.stop()
    metrics = {
        "docs_per_s": (docs_per_s(ops), "docs/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak, "MB"),
    }
    return metrics, [first] + ops


# -- traced run ------------------------------------------------------------------

# layer -> the prefix it extends; records and reassemble both extend html
PARENT = {"explode": "scan", "salt": "explode", "classify": "salt", "ocr": "classify",
          "html": "ocr", "records": "html", "reassemble": "html"}


def prefix_chain(docs, records: bool) -> list[tuple[str, object]]:
    """Cumulative call prefixes of ``pipeline.extract_spans``, each projected
    to the columns the next layer consumes; ``records`` is the full
    ``extract_spans`` call. The ``reassemble`` prefix, the full
    ``extracted_documents`` call, is the traced timed pass itself."""
    from pyspark.sql import functions as F

    from nolock_social_ocr_services_spark import pipeline
    from nolock_social_ocr_services_spark.extract.html import strip_boilerplate
    from nolock_social_ocr_services_spark.extract.ocr import concat_pages, run_ocr
    from nolock_social_ocr_services_spark.operators.classify import classify_mime
    from nolock_social_ocr_services_spark.operators.salt import salted_repartition

    cores = docs.sparkSession.sparkContext.defaultParallelism
    keep = ["doc_id", "offset", "kind", "media_ref"]
    exploded = pipeline.explode_spans(docs)
    salted = salted_repartition(exploded, num_partitions=max(cores * 3, 64))
    classified = classify_mime(salted, data_url_col="media_ref", out_col="mime",
                               engine="expr")
    ocred = concat_pages(run_ocr(classified))
    kind = F.col("kind")
    extracted = (
        F.when(kind == "html", strip_boilerplate(F.when(kind == "html", F.col("text"))))
        .when(kind == "text", F.col("text"))
        .otherwise(F.col("ocr_text"))
    )
    chain = [
        ("scan", docs),
        ("explode", exploded),
        ("salt", salted),
        ("classify", classified),
        ("ocr", ocred.select(*keep, "text", "ocr_text")),
        ("html", ocred.select(*keep, extracted.alias("text"))),
    ]
    if records:
        chain.append(("records", pipeline.extract_spans(docs)))
    return chain


def parsed_ratio(docs) -> float:
    """Rows with a receipt or check over media rows with non-empty OCR
    text, in ``pipeline.extract_spans`` output (computed untimed)."""
    from pyspark.sql import functions as F

    from nolock_social_ocr_services_spark import pipeline

    docs.sparkSession.sparkContext.setJobDescription("records-ratio")
    row = pipeline.extract_spans(docs).agg(
        F.sum((F.col("receipt").isNotNull() | F.col("check").isNotNull())
              .cast("long")).alias("parsed"),
        F.sum((F.col("media_ref").isNotNull() & (F.col("text") != ""))
              .cast("long")).alias("media"),
    ).first()
    return row.parsed / row.media if row.media else 0.0


def per_layer(args, work: str, cores: int, prepared: dict) -> tuple[dict, list]:
    import eventlog
    import oracle

    spec = WORKLOADS[args.workload]
    ops: list[dict] = []
    ops_u: list[dict] = []
    if spec["overhead"]:
        workload, _, first_u = setup(work, cores, prepared)
        ops += [first_u, workload.op("warm-up")]
        ops_u = run_loop(workload, args.seconds / 2, "untraced", 1)
        workload.spark.stop()

    # traced session (in the same JVM when the untraced one ran): the
    # set-up op warms up, then timed ops as untraced, prefixes and extras
    event_dir = os.path.join(work, "events")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    workload, _, first_t = setup(work, cores, prepared, event_dir)
    spark = workload.spark
    ops_t = run_loop(workload, args.seconds / 2, "traced", 1)
    prefix_s = {"reassemble": median([o["wall"] for o in ops_t])}
    rows = {}
    for name, df in prefix_chain(workload.docs, spec["records"]):
        spark.sparkContext.setJobDescription(f"prefix:{name}")
        t0 = time.monotonic()
        rows[name] = oracle.spark_digest(df)[0]
        prefix_s[name] = time.monotonic() - t0
        log(f"prefix {name}: {prefix_s[name]:.2f}s")
    ops += ops_u + [first_t] + ops_t
    extra = {"parsed_ratio": parsed_ratio(workload.docs) if spec["records"] else 0.0}
    if spec["job"]:
        job = CheckpointJob(spark, prepared, os.path.join(work, "job"))
        kill, resume = job.kill("job:kill"), job.resume("job:resume")
        log(f"job: kill {kill['wall']:.1f}s, resume {resume['wall']:.1f}s")
        shutil.rmtree(job.out, ignore_errors=True)
        ops += [kill, resume]
        extra.update({"job": job, "resume_s": resume["wall"]})
    spark.stop()
    elog = eventlog.EventLog(eventlog.read_events(eventlog.find_app_log(event_dir)))
    metrics = layer_metrics(elog, workload, prefix_s, rows, ops_t, cores, extra)
    untraced, traced = docs_per_s(ops_u), docs_per_s(ops_t)
    metrics.update({
        "trace.untraced_docs_per_s": (untraced, "docs/s"),
        "trace.traced_docs_per_s": (traced, "docs/s"),
        "trace.overhead_docs_per_s": (untraced - traced if ops_u else 0.0, "docs/s"),
    })
    return metrics, ops


def layer_metrics(elog, workload, prefix_s: dict, rows: dict, ops_t: list,
                  cores: int, extra: dict) -> dict:
    """Map prefix timings and event-log counters onto the layer names.
    Event-log numbers of the pass are medians over the traced timed ops;
    a layer that did not run reports 0."""
    labels = [f"traced:{i}" for i in range(len(ops_t))]

    def med(fn):
        return median([fn(lab) for lab in labels])

    def m(role, name, scale=1.0):
        return med(lambda lab: elog.metric(lab, role, name) * scale)

    self_s = {n: prefix_s[n] - prefix_s[PARENT[n]] for n in PARENT if n in prefix_s}
    ocr_rows = m("ocr", "number of output rows")
    out = {
        "scan.bytes_read": (m("scan", "size of files read"), "bytes"),
        "scan.time_s": (prefix_s["scan"], "s"),
        "explode.self_s": (self_s["explode"], "s"),
        "explode.spans_out": (float(rows["explode"]), "count"),
        "salt.self_s": (self_s["salt"], "s"),
        "salt.shuffle_write_bytes": (m("salt", "shuffle bytes written"), "bytes"),
        "salt.task_time_max_over_median": (
            med(lambda lab: elog.task_skew(lab, "ocr")), "ratio"),
        "classify.self_s": (self_s["classify"], "s"),
        "classify.python_rows": (m("classify", "number of output rows"), "count"),
        "ocr.self_s": (self_s["ocr"], "s"),
        "ocr.python_run_s": (m("ocr", "time to run Python workers", 1e-3), "s"),
        "ocr.python_init_s": (
            m("ocr", "time to initialize Python workers", 1e-3), "s"),
        "ocr.python_rows": (ocr_rows, "count"),
        "ocr.python_bytes_sent": (m("ocr", "data sent to Python workers"), "bytes"),
        "ocr.python_bytes_returned": (
            m("ocr", "data returned from Python workers"), "bytes"),
        "ocr.useful_ratio": (
            workload.stats["media_spans"] / ocr_rows if ocr_rows else 0.0, "ratio"),
        "html.self_s": (self_s["html"], "s"),
        "html.rows": (float(workload.stats["html_spans"]), "count"),
        "records.self_s": (self_s.get("records", 0.0), "s"),
        "records.parsed_ratio": (extra["parsed_ratio"], "ratio"),
        "reassemble.self_s": (self_s["reassemble"], "s"),
        "reassemble.shuffle_write_bytes": (
            m("reassemble", "shuffle bytes written"), "bytes"),
        "reassemble.agg_build_s": (
            m("reassemble_final", "time in aggregation build", 1e-3), "s"),
        "reassemble.spill_bytes": (
            m("reassemble_final", "spill size") + m("reassemble_partial", "spill size"),
            "bytes"),
        "reassemble.task_time_max_over_median": (
            med(lambda lab: elog.task_skew(lab, "reassemble_final")), "ratio"),
    }
    out.update(lineage_metrics(elog, extra, workload.corpus))
    out.update({
        "spark.cpu_util": (
            med(lambda lab: elog.task_totals(lab)["cpu_s"]
                / (ops_t[int(lab.split(":")[1])]["wall"] * cores)), "ratio"),
        "spark.gc_s": (med(lambda lab: elog.task_totals(lab)["gc_s"]), "s"),
        "spark.python_start_s": (
            m("ocr", "time to start Python workers", 1e-3)
            + m("classify", "time to start Python workers", 1e-3), "s"),
        "spark.tasks": (med(lambda lab: elog.task_totals(lab)["tasks"]), "count"),
    })
    return out


def lineage_metrics(elog, extra: dict, corpus: str) -> dict:
    """Write/commit split per SQL execution, keyed by output directory,
    over the killed run and its resume; zeros when no job ran."""
    job = extra.get("job")
    labels = ("job:kill", "job:resume")
    dirs = ("data", "_lineage", "_manifest")

    def total(fn):
        return float(sum(fn(lab) for lab in labels)) if job else 0.0

    def written(name):
        return total(lambda lab: sum(elog.metric(lab, f"write:{d}", name) for d in dirs))

    return {
        "lineage.write_s": (total(lambda lab: elog.wall_s(lab, "data")), "s"),
        "lineage.commit_s": (
            total(lambda lab: elog.wall_s(lab, "_lineage")
                  + elog.wall_s(lab, "_manifest")), "s"),
        "lineage.input_scans": (total(lambda lab: elog.scans_of(lab, corpus)), "count"),
        "lineage.bytes_written": (written("written output"), "bytes"),
        "lineage.files_written": (written("number of written files"), "count"),
        "lineage.redo_units": (float(job.redo_units) if job else 0.0, "count"),
        "lineage.resume_s": (extra.get("resume_s", 0.0), "s"),
    }


# -- main --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    cores = prepare_environment(work)
    outputs = ["nested"] + (["flat"] if args.trace and WORKLOADS[args.workload]["job"]
                            else [])
    prepared = prepare_inputs(work, args.workload, args.seed, outputs)
    log(f"inputs ready: {prepared['stats']}")
    import pyspark

    try:
        if args.trace:
            raw, ops = per_layer(args, work, cores, prepared)
        else:
            raw, ops = end_to_end(args, work, cores, prepared)
    finally:
        shutdown_jvm()
    failures = [o["error"] for o in ops if not o["ok"]]
    spec = WORKLOADS[args.workload]
    info = {
        "source_rev": source_rev(),
        "nproc": cores,
        "spark_version": pyspark.__version__,
        "workload": args.workload,
        "seed": args.seed,
        "input": {"n_base": spec["n_base"], "replicate": spec["replicate"],
                  **prepared["stats"]},
        "ops": len(ops),
        "failures": failures[:5],
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in raw.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
