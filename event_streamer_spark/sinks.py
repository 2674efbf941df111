"""Sink helper: the dead-letter split (SURVEY §2.A A16).

``with_dlq`` is the A16 upgrade: the reference silently swallows
handler errors; here failed records are *routed* to a dead-letter sink
instead of lost, while the main branch stays declarative. It works per
row on executors — no driver state.

Kafka writes (A2/A10) go through ``producer.write_to_kafka``; the C10
effectively-once upgrade is ``ProducerConfig.idempotent`` plus a
checkpointed query.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_dlq(
    df: DataFrame,
    transform: Callable[[Column], Column],
    input_col: str,
    output_col: str,
    error_col: str = "__error",
) -> tuple[DataFrame, DataFrame]:
    """A16 upgrade: split rows into (ok, dead-letter) around a fallible
    column transform using ``try_``-style null-on-error semantics.

    ``transform`` must map the input column to NULL on failure (e.g.
    ``from_json``, ``try_cast``, ``try_divide``). Returns
    ``(ok_df, dlq_df)`` — dead letters keep the raw input for replay.
    The reference's behavior (swallow + log, ``legacy-consumer.ts:100-106``)
    loses the record; routing it to a DLQ table/topic does not.
    """
    tagged = df.withColumn(output_col, transform(F.col(input_col)))
    ok = tagged.filter(F.col(output_col).isNotNull())
    dlq = (
        tagged.filter(F.col(output_col).isNull())
        .withColumn(error_col, F.lit("transform returned NULL"))
        .drop(output_col)
    )
    return ok, dlq
