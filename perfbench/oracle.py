"""Order-insensitive output digests, computed by Spark and by DuckDB.

Every row becomes one canonical string over all of its columns (names
sorted at every struct level, NULL as a token of its own, arrays in
element order), then ``md5`` of that string. A digest is ``(rows, s1, s2)``
where ``s1``/``s2`` sum two 60-bit slices of the row hashes, so row order
and partitioning do not matter but every value does.

The Spark digest is the sink of every timed pass: it reads every output
column, so Catalyst cannot prune any of the work away. The DuckDB digest
recomputes the expected rows from the repository's oracle rules
(``corpus.flat_spans_sql``, ``extract.ocr.oracle_ocr_text_sql`` and
``extract.ocr.ocr_field_exprs``) on the seeded ``documents`` view.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nolock_social_ocr_services_spark import corpus
from nolock_social_ocr_services_spark.extract.ocr import (
    OCR_MODEL,
    ocr_field_exprs,
    oracle_ocr_text_sql,
    sql_money,
)

NULL = "\x01"
FIELD_SEP = "\x1e"
ELEM_SEP = "\x1d"
COL_SEP = "\x1f"

# -- Spark side ----------------------------------------------------------------


def canonical(col: Column, dtype: T.DataType) -> Column:
    """Canonical non-NULL string of one value of type ``dtype``."""
    if isinstance(dtype, T.StructType):
        fields = sorted(dtype.fields, key=lambda f: f.name)
        inner = F.concat_ws(
            FIELD_SEP, *[canonical(col[f.name], f.dataType) for f in fields]
        )
        body = F.concat(F.lit("("), inner, F.lit(")"))
    elif isinstance(dtype, T.ArrayType):
        elem = dtype.elementType
        inner = F.array_join(F.transform(col, lambda x: canonical(x, elem)), ELEM_SEP)
        body = F.concat(F.lit("["), inner, F.lit("]"))
    else:
        return F.coalesce(col.cast("string"), F.lit(NULL))
    return F.when(col.isNull(), F.lit(NULL)).otherwise(body)


def spark_digest(df: DataFrame) -> tuple[int, int, int]:
    """Run ``df`` to completion and return its digest (the pass sink)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.md5(
        F.concat_ws(COL_SEP, *[canonical(F.col(f.name), f.dataType) for f in fields])
    )
    row = df.select(h.alias("h")).agg(
        F.count("*").alias("n"),
        F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("a"),
        F.sum(F.conv(F.substring("h", 16, 15), 16, 10).cast("decimal(38,0)")).alias("b"),
    ).first()
    return int(row.n), int(row.a or 0), int(row.b or 0)


# -- DuckDB side ----------------------------------------------------------------


def _s(*parts: str) -> str:
    """DuckDB: '(' p1 FIELD_SEP p2 ... ')'."""
    return "('(' || " + f" || chr({ord(FIELD_SEP)}) || ".join(parts) + " || ')')"


def _n(expr: str) -> str:
    return f"coalesce({expr}, chr({ord(NULL)}))"


def _m(cents_money: str) -> str:
    """A money string 'D.CC' rendered as Spark renders decimal(38,6)."""
    return f"({cents_money} || '0000')"


def _digits_expr(h: str) -> str | None:
    """The oracle rules' digit-string expression over ``h`` (read back from
    a field rule), or None when its shape is not recognised."""
    rule = ocr_field_exprs(corpus.DUCK, h=h)["check_number"]
    head, tail = "substr(", ", 1, 6)"
    if rule.startswith(head) and rule.endswith(tail):
        return rule[len(head):-len(tail)]
    return None


def _shared_digits(sql: str) -> str:
    """Compute the digit string once per row (column ``dg``) instead of
    once per field rule: same values, several times faster in DuckDB."""
    dg = _digits_expr("h")
    if dg is None:
        return sql.replace("{DG}", "NULL")
    return sql.replace(dg, "dg").replace("{DG}", dg)


def _spans_sql(text_only: bool) -> str:
    """Expected extracted span rows: (doc_id, offset, kind, mime,
    media_ref, h = md5(media_ref), dg, out_text) where out_text is the
    per-kind extraction result. Callers pass the final query through
    ``_shared_digits``."""
    where = "WHERE kind IN ('text', 'html')" if text_only else ""
    pfx = corpus.HTML_PREFIX.replace("'", "''")
    sfx = corpus.HTML_SUFFIX.replace("'", "''")
    ocr = oracle_ocr_text_sql(corpus.DUCK, mime="mime", h="h")
    return f"""
        SELECT doc_id, "offset", kind, mime, media_ref, h, dg,
               CASE WHEN kind = 'text' THEN text
                    WHEN kind = 'html'
                      THEN trim(replace(replace(text, '{pfx}', ''), '{sfx}', ''))
                    ELSE {ocr} END AS out_text
        FROM (SELECT *, {{DG}} AS dg
              FROM (SELECT *, md5(media_ref) AS h
                    FROM ({corpus.flat_spans_sql(corpus.DUCK)}) f0 {where}) f1) f
    """


def nested_rows_sql(text_only: bool = False) -> str:
    """Canonical rows of ``pipeline.extracted_documents``:
    (doc_id, spans array<struct<kind, text, media_ref, offset>>)."""
    span = _s("kind", _n("media_ref"), 'CAST("offset" AS VARCHAR)', _n("out_text"))
    return _shared_digits(f"""
        SELECT doc_id || chr({ord(COL_SEP)}) || '['
               || string_agg({span}, chr({ord(ELEM_SEP)}) ORDER BY "offset")
               || ']' AS c
        FROM ({_spans_sql(text_only)}) s
        GROUP BY doc_id
    """)


def flat_rows_sql(text_only: bool = False) -> str:
    """Canonical rows of ``pipeline.extract_spans`` (``FLAT_COLUMNS``),
    as ``lineage.read_output`` returns them."""
    e = ocr_field_exprs(corpus.DUCK, h="h")
    is_receipt = "(kind = 'image' AND mime <> 'application/octet-stream')"
    is_check = "(kind = 'pdf' AND mime = 'application/pdf')"
    known = f"({is_receipt} OR {is_check})"
    full = f"({e['has_full']})"
    null = f"chr({ord(NULL)})"
    signed = f"(CASE WHEN {e['is_signed']} THEN 'true' ELSE 'false' END)"
    qty, unit = e["item_qty"], e["item_unit_cents"]
    item = _s(
        f"'I-' || {e['item_desc']}",
        f"CAST({qty} AS VARCHAR)",
        _m(sql_money(f"{qty} * {unit}")),
        _m(sql_money(unit)),
    )
    series = f"generate_series(1, CAST({e['items_count']} AS BIGINT))"
    items = (
        f"('[' || array_to_string(list_transform({series}, i -> {item}),"
        f" chr({ord(ELEM_SEP)})) || ']')"
    )
    mismatch = (
        f"list_sum(list_transform({series}, i -> {qty} * {unit}))"
        f" <> {e['subtotal_cents']}"
    )
    warnings = f"(CASE WHEN {mismatch} THEN '[ITEMS_TOTAL_MISMATCH]' ELSE '[]' END)"
    receipt = _s(
        f"CAST({e['items_count']} AS VARCHAR)",
        e["merchant_name"],
        _n(e["payment_method"]),
        e["receipt_date"],
        _m(e["tax_amount"]),
        _m(e["total_amount"]),
    )
    receipt_full = _s(
        items,
        f"CAST({e['items_count']} AS VARCHAR)",
        _s(e["merchant_address"], e["merchant_name"], e["merchant_phone"]),
        _n(e["payment_method"]),
        e["receipt_date"],
        _s(_m(e["subtotal"]), _m(e["tax_amount"]), _m(e["total_amount"])),
        warnings,
    )
    check = _s(
        _m(e["check_amount"]),
        e["bank_name"],
        f"(CASE WHEN {full} THEN {e['check_date']} ELSE {null} END)",
        e["check_number"],
        signed,
        e["payee"],
    )
    check_full = _s(
        e["account_number"],
        _n(e["account_type"]),
        _m(e["check_amount"]),
        e["bank_name"],
        e["check_date"],
        e["check_number"],
        signed,
        e["memo"],
        e["payee"],
        e["routing_number"],
    )
    cols = [
        f"CASE WHEN {is_check} THEN {check} ELSE {null} END",  # check
        f"CASE WHEN {is_check} AND {full} THEN {check_full} ELSE {null} END",
        f"CASE WHEN {known} THEN '0.8' ELSE {null} END",  # confidence
        "doc_id",
        f"CASE WHEN media_ref IS NOT NULL AND NOT {known}"
        f" THEN 'empty_ocr_text' ELSE {null} END",  # extract_error
        "kind",
        _n("media_ref"),
        _n("mime"),
        f"CASE WHEN {known} THEN '{OCR_MODEL}' ELSE {null} END",  # ocr_model
        f"CASE WHEN {known} THEN CAST({e['ocr_tokens']} AS VARCHAR)"
        f" ELSE {null} END",  # ocr_tokens
        'CAST("offset" AS VARCHAR)',
        f"CASE WHEN {is_receipt} THEN {receipt} ELSE {null} END",
        f"CASE WHEN {is_receipt} AND {full} THEN {receipt_full} ELSE {null} END",
        f"CASE WHEN {known} AND {full} THEN 'full'"
        f" WHEN {known} THEN 'simple' ELSE {null} END",  # schema_used
        _n("out_text"),
    ]
    row = f" || chr({ord(COL_SEP)}) || ".join(f"({c})" for c in cols)
    return _shared_digits(f"SELECT {row} AS c FROM ({_spans_sql(text_only)}) s")


def duck_digest(con: duckdb.DuckDBPyConnection, rows_sql: str) -> tuple[int, int, int]:
    """Digest of canonical rows ``rows_sql`` (one VARCHAR column ``c``)."""
    n, a, b = con.sql(
        f"""
        SELECT count(*),
               sum(('0x' || substr(md5(c), 1, 15))::BIGINT),
               sum(('0x' || substr(md5(c), 16, 15))::BIGINT)
        FROM ({rows_sql}) r
        """
    ).fetchone()
    return int(n), int(a or 0), int(b or 0)


def documents_view(con: duckdb.DuckDBPyConnection, base_parquet: str,
                   replicate: int) -> None:
    """Register the seeded ``documents`` view the oracle rules read: the
    base table plus its ``replicate - 1`` id-shifted copies, exactly as
    ``corpus.flat_spans`` replicates it."""
    con.sql(
        f"""
        CREATE OR REPLACE VIEW documents AS
        SELECT d.doc_id + r.range * {corpus.REPLICA_SHIFT} AS doc_id,
               d.text, d.n_chars
        FROM read_parquet('{base_parquet}') d CROSS JOIN range({replicate}) r
        """
    )
