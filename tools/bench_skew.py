"""Skew A/B: does the salted repartition actually defuse giant-document
skew, and what does the exchange cost when the corpus is balanced?

Builds two corpora from sf0.01 documents:
  balanced — write_corpus as-is (replicated)
  skewed   — same, but ~0.2% of docs get their span list inflated ~150x
             (offsets shifted so the span-sequence invariant still holds);
             one nested row = one doc, so unsalted those spans ride one
             task through the whole UDF chain

and times extracted_documents (salted, the shipped plan) against the
same chain WITHOUT the salted exchange (narrow explode -> UDFs), both
local[$SPARK_GRAFT_CPUS] (default 16), noop sink, min-of-N warm. Both
corpora are cached under $SKEW_WORK_DIR (default /dev/shm). Prints one
JSON line.

Run on a QUIET host (pause the scaling campaign first).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from nolock_social_ocr_services_spark import corpus, pipeline  # noqa: E402
from nolock_social_ocr_services_spark.extract.html import (  # noqa: E402
    strip_boilerplate,
)
from nolock_social_ocr_services_spark.extract.ocr import (  # noqa: E402
    concat_pages,
    run_ocr,
)
from nolock_social_ocr_services_spark.operators.classify import (  # noqa: E402
    classify_mime,
)
from nolock_social_ocr_services_spark.operators.reassemble import (  # noqa: E402
    reassemble_spans,
)
from nolock_social_ocr_services_spark.session import get_spark  # noqa: E402


def unsalted_documents(docs):
    """pipeline.extract_spans' chain minus the salted exchange — the
    control arm."""
    exploded = pipeline.explode_spans(docs)
    classified = classify_mime(
        exploded, data_url_col="media_ref", out_col="mime", engine="expr"
    )
    ocred = concat_pages(run_ocr(classified))
    html_only = F.when(F.col("kind") == "html", F.col("text"))
    extracted = ocred.withColumn(
        "extracted_text",
        F.when(F.col("kind") == "html", strip_boilerplate(html_only))
        .when(F.col("kind") == "text", F.col("text"))
        .otherwise(F.col("ocr_text")),
    )
    flat = extracted.select(
        "doc_id", "offset", "kind", F.col("extracted_text").alias("text"),
        "media_ref",
    )
    return reassemble_spans(
        flat, span_fields=("kind", "text", "media_ref", "offset")
    )


def build_skewed(spark, sf_dir: str, out_path: str, replicate: int,
                 giant_every: int, inflate: int) -> None:
    """Every ``giant_every``-th doc gets its spans replicated
    ``inflate`` times with shifted offsets (distinct (doc_id, offset)
    keys, stable order)."""
    if os.path.exists(f"{out_path}/_SUCCESS"):
        return
    docs = corpus.synthesize_documents(spark, sf_dir, replicate=replicate)
    is_giant = F.pmod(F.xxhash64("doc_id"), F.lit(giant_every)) == 0
    n = F.size("spans")
    inflated = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(inflate - 1)),
            lambda r: F.transform(
                F.col("spans"),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    (s["offset"] + r * n).cast("int").alias("offset"),
                ),
            ),
        )
    )
    skewed = docs.withColumn(
        "spans", F.when(is_giant, inflated).otherwise(F.col("spans"))
    )
    skewed.repartition(64).write.mode("overwrite").parquet(out_path)


def time_plan(df, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    replicate = int(os.environ.get("SPARK_GRAFT_SCALE", "8"))
    giant_every = int(os.environ.get("SKEW_GIANT_EVERY", "500"))
    inflate = int(os.environ.get("SKEW_INFLATE", "150"))
    spark = get_spark(app_name="bench_skew", cpus=cpus)

    work = os.environ.get("SKEW_WORK_DIR", "/dev/shm")
    bal_path = f"{work}/skew_bal_{replicate}"
    skw_path = f"{work}/skew_skw_{replicate}_{giant_every}_{inflate}"
    if not os.path.exists(f"{bal_path}/_SUCCESS"):
        corpus.write_corpus(spark, sf_dir, bal_path, partitions=64,
                            replicate=replicate)
    build_skewed(spark, sf_dir, skw_path, replicate, giant_every, inflate)

    out: dict = {"cpus": cpus, "replicate": replicate,
                 "giant_every": giant_every, "inflate": inflate}
    for label, path in (("balanced", bal_path), ("skewed", skw_path)):
        docs = spark.read.parquet(path)
        n_docs = docs.count()
        n_spans = docs.agg(F.sum(F.size("spans"))).first()[0]
        salted = pipeline.extracted_documents(docs)
        unsalted = unsalted_documents(docs)
        # warm both plans once before timing either
        salted.write.format("noop").mode("overwrite").save()
        unsalted.write.format("noop").mode("overwrite").save()
        out[label] = {
            "n_docs": n_docs, "n_spans": int(n_spans),
            "salted_sec": time_plan(salted),
            "unsalted_sec": time_plan(unsalted),
        }
    for label in ("balanced", "skewed"):
        r = out[label]
        r["salted_speedup"] = round(r["unsalted_sec"] / r["salted_sec"], 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
