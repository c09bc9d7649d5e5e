"""Seeded benchmark inputs and their expected-output digests.

A seed picks the base ``documents`` table: which doc ids exist (all below
``corpus.REPLICA_SHIFT``), and each document's word text and length. The
corpus rules key on ``doc_id``, so the seed moves span kinds, span counts,
giant documents, MIME variants and payload bytes, not only text.

The nested corpus is built from the repository's construction rules
(``corpus.flat_spans_sql``, the rule set ``corpus.write_corpus`` runs) on
the seeded ``documents`` view, replicated with id-shifted copies as
``corpus.flat_spans`` does, with spans packed in md5-shuffled physical
order. DuckDB runs the rules, so building inputs never warms the Spark
session whose set-up the benchmark times. The program receives only the
generated parquet.

Everything is cached under ``<work>/inputs/<key>`` by seed and size; a
file is complete once it has been renamed into place.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from nolock_social_ocr_services_spark import corpus

import oracle

# Lowercase words only: no '<', '&' or non-ASCII, so the html strip and the
# oracle's prefix/suffix removal agree on every generated span.
WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value window the a of ledger invoice receipt check payee memo "
    "total amount bank routing account page image text html"
).split()

MIN_CHARS = 48
MAX_CHARS = 553
CORPUS_FILES = 8


def base_documents(seed: int, n_docs: int) -> pa.Table:
    """Seeded flat ``documents(doc_id, text, n_chars)`` with ids below
    ``corpus.REPLICA_SHIFT``; the same seed gives the same table."""
    if not 1 <= n_docs <= corpus.REPLICA_SHIFT:
        raise ValueError(f"n_docs must be in [1, {corpus.REPLICA_SHIFT}]")
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(corpus.REPLICA_SHIFT, size=n_docs, replace=False))
    lengths = rng.integers(MIN_CHARS, MAX_CHARS + 1, size=n_docs)
    vocab = np.array(WORDS)
    texts = []
    for n in lengths:
        # n // 3 + 2 words of >= 1 letter plus a space always reach n chars
        words = vocab[rng.integers(0, len(vocab), size=int(n) // 3 + 2)]
        texts.append(" ".join(words)[: int(n)])
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _write_atomic(path: str, write) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    os.replace(tmp, path)


class Inputs:
    """One seeded input set: base table, nested corpora, oracle digests."""

    def __init__(self, work_dir: str, seed: int, n_base: int, replicate: int):
        if not 1 <= replicate <= 999:
            raise ValueError("replicate must be in [1, 999]")
        self.seed, self.n_base, self.replicate = seed, n_base, replicate
        self.dir = os.path.join(
            work_dir, "inputs", f"s{seed}_b{n_base}_r{replicate}"
        )
        os.makedirs(self.dir, exist_ok=True)
        base = os.path.join(self.dir, "documents.parquet")
        if not os.path.exists(base):
            _write_atomic(
                base, lambda p: pq.write_table(base_documents(seed, n_base), p)
            )
        self.con = duckdb.connect()
        oracle.documents_view(self.con, base, replicate)

    def close(self) -> None:
        self.con.close()

    def corpus(self, text_only: bool = False) -> str:
        """Path of the nested ``(doc_id, spans)`` parquet corpus. With
        ``text_only`` the media spans are removed; documents left without
        spans drop out."""
        path = os.path.join(self.dir, "corpus_text_only" if text_only else "corpus")
        if os.path.exists(path):
            return path
        where = "WHERE kind IN ('text', 'html')" if text_only else ""
        table = self.con.sql(
            f"""
            SELECT doc_id,
                   list({{'kind': kind, 'text': text, 'media_ref': media_ref,
                          'offset': CAST("offset" AS INTEGER)}}
                        ORDER BY md5(doc_id || '#' || CAST("offset" AS VARCHAR)))
                     AS spans
            FROM ({corpus.flat_spans_sql(corpus.DUCK)}) f
            {where}
            GROUP BY doc_id
            ORDER BY md5(doc_id)
            """
        ).arrow()

        def write(tmp: str) -> None:
            os.makedirs(tmp)
            step = -(-table.num_rows // CORPUS_FILES)
            for i in range(CORPUS_FILES):
                part = table.slice(i * step, step)
                if part.num_rows:
                    pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"))

        _write_atomic(path, write)
        return path

    def stats(self, text_only: bool = False) -> dict:
        """Document, span and media-span counts of a corpus."""
        where = "WHERE kind IN ('text', 'html')" if text_only else ""
        docs, spans, media, html = self.con.sql(
            f"""
            SELECT count(DISTINCT doc_id), count(*),
                   count(*) FILTER (WHERE media_ref IS NOT NULL),
                   count(*) FILTER (WHERE kind = 'html')
            FROM ({corpus.flat_spans_sql(corpus.DUCK)}) f {where}
            """
        ).fetchone()
        return {"docs": int(docs), "spans": int(spans),
                "media_spans": int(media), "html_spans": int(html)}

    def expected(self, output: str, text_only: bool = False) -> tuple[int, int, int]:
        """Oracle digest of ``output`` ('nested': ``extracted_documents``,
        'flat': ``extract_spans``) over the corpus, cached beside it."""
        name = output + ("_text_only" if text_only else "")
        path = os.path.join(self.dir, f"oracle_{name}.json")
        if os.path.exists(path):
            with open(path) as f:
                return tuple(json.load(f))
        rows_sql = {"nested": oracle.nested_rows_sql, "flat": oracle.flat_rows_sql}
        digest = oracle.duck_digest(self.con, rows_sql[output](text_only))

        def write(tmp: str) -> None:
            with open(tmp, "w") as f:
                json.dump(list(digest), f)

        _write_atomic(path, write)
        return digest


def main(argv: list[str]) -> None:
    """``inputs.py <work_dir> <seed> <n_base> <replicate> <text_only 0|1>
    <output>...``: build (or reuse) the inputs and print ``{corpus, stats,
    expected: {output: digest}}`` as JSON."""
    work, seed, n_base, replicate, text_only, *outputs = argv
    only = text_only == "1"
    inputs = Inputs(work, int(seed), int(n_base), int(replicate))
    try:
        print(json.dumps({
            "corpus": inputs.corpus(text_only=only),
            "stats": inputs.stats(text_only=only),
            "expected": {o: list(inputs.expected(o, only)) for o in outputs},
        }))
    finally:
        inputs.close()


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
