"""Salted repartitioning to defuse large-document skew.

The reference never sees skew — each HTTP request is one document
(Program.cs:79-100) and Rx ``Merge(4)`` load-balances requests. Exploding
``documents.spans`` concentrates a giant document's spans in one task, so
we repartition on a hash of ``(doc_id, offset)``; the spans of one
document then spread across the full partition range and the UDF compute
is balanced. AQE only re-splits *shuffle/join* skew, not UDF-compute
skew, hence the explicit repartition (SURVEY.md §4 custom strategy #1).

Why hash the row key directly instead of a K-valued salt column:
``repartition(P, salt)`` with a K-valued salt hashes K values into P
buckets — for K ≈ P that leaves ~1/e of partitions EMPTY and others
with 2-3 salt values (birthday collisions), a 2-3× straggler tail that
caps scaling at high core counts. Hashing ``(doc_id, offset)`` makes
every row its own key, so partition sizes converge to uniform (binomial
with n=rows, not n=K) while staying fully deterministic.

Why one partition per core by default: every Python task pays a fixed
start-up cost (~0.2 s CPU on Python 3.11 / PySpark 4.1: the worker's
``importlib.invalidate_caches()`` re-reads every zip importer's archive
directory, ``pyspark.zip`` and the spark-core jar included), whatever the
UDF kind. Over the same 64k rows on 4 cores, 64 tasks took 3-6 s and
4 tasks 0.3-0.6 s. Extra tasks per core buy no straggler margin
here: per-row hashing already evens out partition sizes, so one wave of
``defaultParallelism`` tasks finishes together.

Order is restored afterwards by :mod:`.reassemble` (window over
``offset``), which is why span-spreading is safe for the span-sequence
invariant. Checkpoint/resume does not depend on the partition
assignment: resume units are ``lineage.with_part_id`` (a hash of
``doc_id``), assigned before extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(
    df: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Repartition rows on a hash of ``(doc_id, offset)`` (deterministic,
    even).

    ``num_partitions``: target partition count (None -> one per core,
    ``sparkContext.defaultParallelism``). The count is explicit so AQE
    keeps it: coalescing to ~64MB partitions would leave cores idle.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, F.col("doc_id"), F.col("offset"))
