"""Producer: ``emit`` with envelope enrichment, fan-out, testing sink.

Spark-first re-expression of the reference producer
(``src/producer/legacy-producer.ts``; SURVEY.md §2.A A2/A4/A8-A13/A17/A18,
§3.1). Semantics preserved:

* **Envelope enrichment (A11)** — payload keys first, then ``createdAt``
  (user value wins; default = UTC now formatted ``YYYY-MM-DD HH:MM:SSZ``),
  ``appName`` (per-message override wins, else resolution chain §1.2),
  ``code`` (UpperCamelCase of ``event_name or topic``)
  (reference ``legacy-producer.ts:36-48``).
* **Fan-out (A8)** — a list ``data`` becomes one message per element.
* **Validation (A13)** — non-dict data, empty data list, reserved ``code``
  key, blank ``event_name`` all raise (reference ``legacy-producer.ts:175-188``).
* **Testing sink (A18)** — ``only_testing`` appends normalized payloads to
  an in-process list; ``get_parsed_emitted_events`` reverses message order
  *within* each emit-batch payload, matching the reference quirk
  (reference ``legacy-producer.ts:64-80``, ``.reverse()`` at ``:77``).
* **Multi-cluster (A10)** — payloads go to every host from
  ``get_hosts(primary, additional, overwrite)``.

The live path is a *batch Kafka write*: rows ``(topic, value)`` written
with Spark's Kafka sink, one write per target cluster. Spark pools Kafka
producers internally (``spark.kafka.producer.cache.timeout``), replacing
the reference's hand-rolled TTL pool (A17).

At scale: ``emit`` from a driver program is for control-plane volumes.
Data-plane production is executor dispatch (``consumer.dispatch=
'executor'``) or a ``streaming`` writeStream, which shard the write
across executors; every Kafka write goes through :func:`write_to_kafka`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Any, Optional, Sequence, Union

from event_streamer_spark.config import Config, get_config, resolve_app_name
from event_streamer_spark.helpers import to_array, to_upper_camel_case

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# Byte-for-byte the Spark-side ``envelope.CREATED_AT_FORMAT``.
CREATED_AT_PYTHON_FORMAT = "%Y-%m-%d %H:%M:%S"


@dataclass
class Output:
    """One emit request: ``{topic, event_name?, data}``.

    ``data`` is one JSON-object payload or a list of them (fan-out, A8).
    Reference type: ``interfaces/index.ts:54-59``.
    """

    topic: str
    data: Union[dict, list]
    event_name: Optional[str] = None


@dataclass
class Payload:
    """Normalized wire payload: topic + serialized messages."""

    topic: str
    messages: list[dict] = field(default_factory=list)  # each {"value": str}


_emitted_events: list[Payload] = []


def _now_created_at() -> str:
    return datetime.now(timezone.utc).strftime(CREATED_AT_PYTHON_FORMAT) + "Z"


def _validate_testing(config: Config) -> None:
    # Reference guard: helpers/index.ts:45-50.
    if not config.only_testing:
        raise RuntimeError(
            "Testing sink is only available with only_testing=True"
        )


def normalize_payloads(
    payloads: Sequence[Output],
    app_name: str,
    key_column: Optional[str] = None,
) -> list[Payload]:
    """Envelope-enrich and serialize (reference ``legacy-producer.ts:36-48``).

    Key order matters for byte parity: payload keys in insertion order,
    then ``createdAt`` / ``appName`` / ``code`` appended (an existing
    ``createdAt``/``appName`` key keeps its original position and value,
    matching JS spread semantics). With ``key_column`` set, the named
    envelope field is captured alongside the serialized value (as
    ``"key"``) so downstream Kafka writes don't re-parse the JSON.
    """
    out = []
    for output in payloads:
        messages = []
        for message in to_array(output.data):
            # nullish (??) semantics like the reference: a present-but-
            # falsy createdAt/appName (e.g. "") is preserved; only
            # None/absent values take the default
            created = message.get("createdAt")
            app = message.get("appName")
            envelope = {
                **message,
                "createdAt": created if created is not None else _now_created_at(),
                "appName": app if app is not None else app_name,
                "code": to_upper_camel_case(
                    output.event_name
                    if output.event_name is not None
                    else output.topic
                ),
            }
            msg = {"value": json.dumps(envelope, separators=(",", ":"))}
            if key_column is not None:
                kv = envelope.get(key_column)
                msg["key"] = None if kv is None else str(kv)
            messages.append(msg)
        out.append(Payload(topic=output.topic, messages=messages))
    return out


def get_hosts(
    default_host: str,
    secondaries: Optional[Union[str, list[str]]] = None,
    overwrite: Optional[Union[str, list[str]]] = None,
) -> list[str]:
    """Target cluster set (reference ``legacy-producer.ts:87-92``)."""
    if overwrite is not None:
        return to_array(overwrite)
    return [default_host] + (to_array(secondaries) if secondaries is not None else [])


def _coerce_outputs(value: Any) -> list[Output]:
    outs = []
    for item in to_array(value):
        if isinstance(item, Output):
            outs.append(item)
        elif isinstance(item, dict):
            outs.append(
                Output(
                    topic=item["topic"],
                    data=item["data"],
                    event_name=item.get("event_name", item.get("eventName")),
                )
            )
        else:
            raise TypeError(f"Invalid Output: {item!r}")
    return outs


def parse_emit_args(
    param1: Union[str, Output, dict, list], param2: Any = None, param3: Any = None
) -> tuple[list[Output], Any]:
    """Resolve emit()'s reference overloads → (outputs, overwrite_hosts)."""
    if isinstance(param1, str):
        if isinstance(param2, str):
            return [Output(topic=param1, event_name=param2, data=param3)], None
        return [Output(topic=param1, data=param2)], None
    return _coerce_outputs(param1), param2


def validate_outputs(outputs: Sequence[Output]) -> None:
    """Validation (A13) — eager, before any Spark work (reference
    ``legacy-producer.ts:175-188``)."""
    for output in outputs:
        data = output.data
        if not isinstance(data, (dict, list)) or data is None:
            raise ValueError("Data must be an object or non empty array")
        if isinstance(data, list) and len(data) == 0:
            raise ValueError("Data array can't be empty")
        for message in to_array(data):
            if not isinstance(message, dict):
                raise ValueError("Data must be an object or non empty array")
            if "code" in message:
                raise ValueError('Reserved object keyword "code" inside data')
        if output.event_name is not None and output.event_name.strip() == "":
            raise ValueError("Invalid message code")


def prepare_emit(
    param1: Union[str, Output, dict, list],
    param2: Any,
    param3: Any,
    app_name: str,
    primary_host: str,
    additional_hosts: Optional[list[str]],
    key_column: Optional[str],
) -> tuple[list[Payload], list[str]]:
    """Every step of :func:`emit` before the write: resolve the overloads,
    validate (A13), enrich and serialize (A11) → ``(payloads, hosts)``,
    ``hosts`` being the target clusters (A10)."""
    outputs, overwrite_hosts = parse_emit_args(param1, param2, param3)
    validate_outputs(outputs)
    payloads = normalize_payloads(outputs, app_name, key_column)
    return payloads, get_hosts(primary_host, additional_hosts or None, overwrite_hosts)


def emit(
    param1: Union[str, Output, dict, list],
    param2: Any = None,
    param3: Any = None,
) -> list:
    """Produce events (reference ``legacy-producer.ts:145-212``; SURVEY §3.1).

    Overloads, mirroring the reference:

    * ``emit(topic, data)``
    * ``emit(topic, event_name, data)``
    * ``emit(output_or_list, overwrite_hosts=None)`` where each output is
      an :class:`Output` or ``{"topic", "event_name"?, "data"}`` dict.

    In ``only_testing`` mode payloads land in the in-process sink and the
    return value is ``[]``. Otherwise rows are written to every target
    cluster via Spark's Kafka batch sink.
    """
    from event_streamer_spark.config import warn_deprecation

    warn_deprecation(
        "emit() is deprecated. Use SchemaRegistryProducer.emitWithSchema() "
        "for Schema Registry support."
    )
    config = get_config()
    payloads, hosts = prepare_emit(
        param1,
        param2,
        param3,
        resolve_app_name(None, config),
        config.host,
        config.producer.additional_hosts,
        config.producer.key_column,
    )
    if config.only_testing:
        _emitted_events.extend(payloads)
        return []
    return _send_to_kafka(payloads, hosts, config)


# kafkajs RetryOptions (reference ``legacy-producer.ts:100``) → Java
# producer options Spark's Kafka sink forwards verbatim.
_RETRY_OPTION_MAP = {
    "retries": "kafka.retries",
    "initialRetryTime": "kafka.retry.backoff.ms",
    "maxRetryTime": "kafka.retry.backoff.max.ms",
}


def kafka_writer_options(config: Config) -> dict[str, str]:
    """Kafka sink options implied by the producer config (A2 parity):
    compression, idempotence, and the ``retryOptions`` mapping."""
    opts: dict[str, str] = {}
    if config.producer.compression_type:
        opts["kafka.compression.type"] = config.producer.compression_type
    if config.producer.idempotent:
        opts["kafka.enable.idempotence"] = "true"
    for ref_key, kafka_key in _RETRY_OPTION_MAP.items():
        if config.producer.retry_options and ref_key in config.producer.retry_options:
            opts[kafka_key] = str(config.producer.retry_options[ref_key])
    return opts


def payload_rows(
    payloads: list[Payload], key_column: Optional[str]
) -> list[tuple]:
    """Flatten payloads to Kafka sink rows. With ``key_column`` set, the
    named envelope field becomes the Kafka message key (partitioner
    analog — the broker hash-partitions on key); rows are
    ``(topic, value, key)``, else ``(topic, value)``."""
    rows = []
    for p in payloads:
        for m in p.messages:
            if key_column is None:
                rows.append((p.topic, m["value"]))
            elif "key" in m:  # captured at normalize time — no re-parse
                rows.append((p.topic, m["value"], m["key"]))
            else:
                key = json.loads(m["value"]).get(key_column)
                rows.append(
                    (p.topic, m["value"], None if key is None else str(key))
                )
    return rows


def write_to_kafka(df: DataFrame, hosts: Sequence[str], config: Config) -> None:
    """Write ``df`` (``topic``, ``value`` and optional ``key`` columns) to
    every cluster in ``hosts`` (A10) with the producer's sink options
    (:func:`kafka_writer_options`, A2). Persist ``df`` first when it
    feeds more than one host."""
    options = kafka_writer_options(config)
    for host in hosts:
        df.write.format("kafka").option("kafka.bootstrap.servers", host).options(
            **options
        ).save()


def _send_to_kafka(payloads: list[Payload], hosts: list[str], config: Config) -> list:
    """Batch Kafka write of normalized payloads, one write per cluster (A10).

    Uses the per-row ``topic`` column so one write covers all topics
    (SURVEY §2.A A9); an optional per-row ``key`` column gives partition
    placement control (reference partitioner selection,
    ``legacy-producer.ts:106``). Requires an active SparkSession and the
    Kafka connector on the classpath.
    """
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("emit() outside only_testing requires an active SparkSession")

    from event_streamer_spark.debug import apply_kafka_log_level

    apply_kafka_log_level(spark, config.kafka_js_logs)
    key_column = config.producer.key_column
    rows = payload_rows(payloads, key_column)
    schema = "topic string, value string" + (
        ", key string" if key_column is not None else ""
    )
    df = spark.createDataFrame(rows, schema=schema)
    if len(hosts) > 1:
        df = df.persist()
    try:
        write_to_kafka(df, hosts, config)
    finally:
        if len(hosts) > 1:
            df.unpersist()
    return [{"host": host, "messages": len(rows)} for host in hosts]


def get_emitted_events() -> list[Payload]:
    """Raw testing sink contents (reference ``legacy-producer.ts:59-62``)."""
    _validate_testing(get_config())
    return _emitted_events


def get_parsed_emitted_events() -> list[dict]:
    """Parsed testing sink: ``{topic, event_name, data}`` per message.

    Message order is reversed *within* each emit-batch payload — a
    deliberate parity quirk (reference ``legacy-producer.ts:64-80``,
    ``.reverse()`` at ``:77``). ``data`` is the full parsed envelope.
    """
    _validate_testing(get_config())
    parsed = []
    for payload in _emitted_events:
        batch = []
        for message in payload.messages:
            data = json.loads(message["value"])
            batch.append(
                {"topic": payload.topic, "event_name": data.get("code"), "data": data}
            )
        parsed.extend(reversed(batch))
    return parsed


def clear_emitted_events() -> None:
    """Reset the testing sink (reference ``legacy-producer.ts:82-85``)."""
    _validate_testing(get_config())
    _emitted_events.clear()
