"""Envelope enrichment & parsing as Spark column expressions.

The data-plane (distributed) equivalent of ``producer.normalize_payloads``
/ the consumer's JSON parse (SURVEY.md §1.2, §1.5, A3/A4/A11/A12):

* ``with_envelope(df, ...)`` adds ``createdAt``/``appName``/``code``
  columns (user value wins via ``coalesce``) — reference
  ``legacy-producer.ts:36-48``.
* ``serialize(df)`` packs all columns into a JSON ``value`` (A4).
* ``parse_stream(df, schema)`` parses Kafka ``value`` bytes and silently
  drops corrupt rows (A3, reference ``helpers/index.ts:12-21``).
* ``upper_camel_col(col)`` is A12 as a pure column expression — no
  Python UDF, so it stays inside whole-stage codegen.

All of these are narrow (no shuffle) and scale linearly with input.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# Byte-parity with the reference's createdAt format (legacy-producer.ts:42):
# "YYYY-MM-DD HH:MM:SSZ" — space separator, second precision, literal Z.
CREATED_AT_FORMAT = "yyyy-MM-dd HH:mm:ss'Z'"


def upper_camel_col(col: Union[str, Column]) -> Column:
    """UpperCamelCase normalization (A12) as a JVM-side expression.

    Exact mirror of the reference's
    ``charAt(0).toUpperCase() + slice(1).replace(/[-_ ]./g,
    x => x[1].toUpperCase())`` — identical to
    ``helpers.to_upper_camel_case`` on every input, including separator
    runs (``'a--b'`` → ``'A-b'``) and kept leading/trailing separators.
    The non-overlapping regex scan is a left fold: a pending separator
    consumes the next char (uppercased); implemented with
    ``aggregate()`` over the char array — still a pure column
    expression, no Python UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    no_pend = F.lit(None).cast("string")
    rest = F.split(F.substring(c, 2, 2147483647), "")
    init = F.struct(F.lit("").alias("acc"), no_pend.alias("pend"))

    def step(st: Column, ch: Column) -> Column:
        return (
            F.when(
                st["pend"].isNotNull(),
                F.struct(
                    F.concat(st["acc"], F.upper(ch)).alias("acc"),
                    no_pend.alias("pend"),
                ),
            )
            .when(
                ch.isin("-", "_", " "),
                F.struct(st["acc"].alias("acc"), ch.alias("pend")),
            )
            .otherwise(
                F.struct(
                    F.concat(st["acc"], ch).alias("acc"), no_pend.alias("pend")
                )
            )
        )

    fold = F.aggregate(
        rest,
        init,
        step,
        lambda st: F.concat(st["acc"], F.coalesce(st["pend"], F.lit(""))),
    )
    return F.concat(F.upper(F.substring(c, 1, 1)), fold)


def with_envelope(
    df: DataFrame,
    code: Optional[Union[str, Column]] = None,
    app_name: Optional[str] = None,
    created_at_col: str = "createdAt",
) -> DataFrame:
    """Add/complete the envelope columns (A11).

    ``code``: a literal subject (normalized to UpperCamelCase) or a
    Column; ``createdAt`` defaults to now in the reference's format but an
    existing non-null value wins; ``appName`` likewise.
    """
    now_str = F.date_format(F.current_timestamp(), CREATED_AT_FORMAT)
    existing_created = (
        F.col(created_at_col) if created_at_col in df.columns else F.lit(None)
    )
    existing_app = F.col("appName") if "appName" in df.columns else F.lit(None)

    out = df.withColumn(created_at_col, F.coalesce(existing_created, now_str))
    out = out.withColumn("appName", F.coalesce(existing_app, F.lit(app_name)))
    if code is not None:
        code_col = (
            upper_camel_col(F.lit(code)) if isinstance(code, str) else code
        )
        out = out.withColumn("code", code_col)
    return out


def serialize(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Serialize all columns to a JSON string column (A4).

    ``to_json(struct(*))`` — the Kafka sink consumes ``value`` (and an
    optional ``topic``/``key`` column).
    """
    return df.select(F.to_json(F.struct(*df.columns)).alias(value_col))


def _parse_valid(
    df: DataFrame, schema: Union[StructType, str], value_col: str
) -> DataFrame:
    """``df`` plus the parsed ``__parsed`` struct, keeping only rows whose
    ``value`` parses under ``schema`` (A3).

    ``from_json`` alone maps non-object JSON to an all-null struct
    instead of NULL, which a bare isNotNull misses, so the schema gets a
    PERMISSIVE corrupt-record column that must stay NULL. A
    ``StructType`` is extended STRUCTURALLY — no DDL round-trip, so field
    names containing ``:`` (or anything else ``simpleString()`` can't
    re-parse) survive intact; a DDL string gets the column appended
    textually.
    """
    if isinstance(schema, StructType):
        full_schema: Union[StructType, str] = StructType(
            list(schema.fields) + [StructField("__corrupt", StringType())]
        )
    else:
        full_schema = f"{schema}, __corrupt string"
    return df.withColumn(
        "__parsed",
        F.from_json(
            F.col(value_col).cast("string"),
            full_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "__corrupt"},
        ),
    ).filter(F.col("__parsed").isNotNull() & F.col("__parsed.__corrupt").isNull())


def drop_corrupt(
    df: DataFrame, schema: Union[StructType, str], value_col: str = "value"
) -> DataFrame:
    """Filter out rows whose ``value`` doesn't parse under ``schema``,
    keeping the ORIGINAL columns (A3 for dispatch paths that re-parse
    row-side)."""
    return _parse_valid(df, schema, value_col).drop("__parsed")


def parse_stream(
    df: DataFrame,
    schema: Union[StructType, str],
    value_col: str = "value",
    keep_cols: tuple[str, ...] = ("topic",),
) -> DataFrame:
    """Parse JSON ``value`` bytes; drop corrupt rows silently (A3).

    The PERMISSIVE-mode analog of the reference's ``getParsedJson() ==
    null`` skip. Kept narrow: no shuffle, fully codegen'd,
    pushdown-friendly.
    """
    parsed = _parse_valid(df, schema, value_col)
    keep = [c for c in keep_cols if c in df.columns]
    return parsed.select(*keep, "__parsed.*").drop("__corrupt")
