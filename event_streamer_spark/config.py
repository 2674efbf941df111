"""Engine configuration, mirroring the reference's config model.

Parity targets (SURVEY.md §1.4, §1.2):

* ``Config`` shape — reference ``src/interfaces/index.ts:16-47``;
  defaults — ``src/constants/index.ts:15-24``.
* Module-global singleton with ``set_config`` / ``get_config``;
  reading before setting raises ``Event streamer not initialized``
  (reference ``src/config/index.ts:4-11``).
* ``app_name`` resolution chain (reference
  ``src/producer/legacy-producer.ts:50-55,152``):
  message appName → config.app_name → consumer.group_id →
  ``$HOSTNAME`` with the last two ``-``-separated segments stripped
  when it has more than two segments (K8s pod-suffix stripping) →
  literal ``"unknown"``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Literal, Optional, Union

DEFAULT_CONNECTION_TTL_MS = 5_000
DEFAULT_MAX_MESSAGES_PER_TOPIC = 20
DEFAULT_STRATEGY: Literal["topic", "one-by-one"] = "topic"
DEFAULT_COMPRESSION: Optional[str] = None  # reference default CompressionTypes.None


@dataclass
class ProducerConfig:
    """Producer options (reference ``interfaces/index.ts:20-28``)."""

    connection_ttl: int = DEFAULT_CONNECTION_TTL_MS
    additional_hosts: list[str] = field(default_factory=list)
    compression_type: Optional[str] = DEFAULT_COMPRESSION  # e.g. "gzip"
    idempotent: bool = False
    # Reference ``retryOptions`` (kafkajs RetryOptions passed to the
    # client, ``legacy-producer.ts:100``) mapped onto the Java producer
    # options Spark's Kafka sink forwards: retries → kafka.retries,
    # initialRetryTime → kafka.retry.backoff.ms,
    # maxRetryTime → kafka.retry.backoff.max.ms. Keys here use the
    # reference's camelCase names.
    retry_options: Optional[dict] = None
    # Reference ``partitioners`` selects a kafkajs partitioner object;
    # Spark's sink derives the partition from the message key instead, so
    # the analog is a per-message key field: the named envelope key is
    # written as the Kafka message key (hash-partitioned server-side).
    key_column: Optional[str] = None


@dataclass
class ConsumerConfig:
    """Consumer options (reference ``interfaces/index.ts:30-40``)."""

    group_id: str = ""
    strategy: Literal["topic", "one-by-one"] = DEFAULT_STRATEGY
    # Where 'topic'-strategy callbacks execute (engine extension); any
    # other value raises when the router builds its batch body.
    # 'driver' (default) preserves the reference's single-process handler
    # semantics (``legacy-consumer.ts:89-115``): callbacks may close over
    # and mutate driver-side state and their side effects are observed.
    # 'executor' ships the callbacks to workers (scales with the cluster;
    # side effects MUST flow through emit or external systems —
    # driver-memory mutations are lost) and raises if a callback can't
    # cloudpickle. Driver dispatch warns once above
    # ``consumer.DRIVER_DISPATCH_WARN_ROWS`` rows in one batch.
    dispatch: Literal["driver", "executor"] = "driver"
    max_messages_per_topic: Union[int, Literal["unlimited"]] = (
        DEFAULT_MAX_MESSAGES_PER_TOPIC
    )
    max_messages_per_specific_topic: dict[str, Union[int, Literal["unlimited"]]] = (
        field(default_factory=dict)
    )


@dataclass
class Config:
    """Engine configuration (reference ``interfaces/index.ts:16-47``)."""

    host: str = ""  # comma-separated bootstrap brokers
    app_name: Optional[str] = None
    producer: ProducerConfig = field(default_factory=ProducerConfig)
    consumer: ConsumerConfig = field(default_factory=ConsumerConfig)
    # Reference numeric levels (Debug.TRACE=0 … NONE=6); unset or False →
    # silent, matching ``config.debug?: false | Debug`` semantics.
    debug: Union[int, bool, None] = None
    # Reference ``kafkaJSLogs`` (``interfaces/index.ts:42``; default
    # logLevel.NOTHING, ``constants/index.ts:20``): verbosity of the
    # Kafka CLIENT's own logs. kafkajs numerics (NOTHING=0, ERROR=1,
    # WARN=2, INFO=4, DEBUG=5); applied to the JVM ``org.apache.kafka``
    # loggers when a Kafka source/sink starts (debug.apply_kafka_log_level).
    kafka_js_logs: int = 0
    only_testing: bool = False
    # Reference parity: legacy-API deprecation warnings (the reference
    # warns on emit()/ConsumerRouter pointing at a schema-registry
    # successor that doesn't exist yet; default on, reference
    # ``showDeprecationWarnings`` semantics).
    show_deprecation_warnings: bool = True
    # Spark-specific extensions (no reference analog):
    checkpoint_root: Optional[str] = None

    def hosts(self) -> list[str]:
        """All clusters to produce to: primary + additional (A10)."""
        primary = [self.host] if self.host else []
        return primary + list(self.producer.additional_hosts)


def warn_deprecation(message: str) -> None:
    """Reference ``warnDeprecation`` (``legacy-producer.ts:8-19``):
    respects ``show_deprecation_warnings``; silent if config unset."""
    import warnings

    try:
        cfg = get_config()
    except RuntimeError:
        return
    if cfg.show_deprecation_warnings:
        warnings.warn(
            f"[DEPRECATION WARNING] {message}", DeprecationWarning, stacklevel=3
        )


_config: Optional[Config] = None


def set_config(config: Config) -> None:
    """Install the global config singleton (reference ``config/index.ts:13-16``)."""
    global _config
    _config = config


def get_config() -> Config:
    """Read the singleton; raises if unset (reference ``config/index.ts:4-11``)."""
    if _config is None:
        raise RuntimeError("Event streamer not initialized")
    return _config


def reset_config() -> None:
    """Test helper: clear the singleton (no reference analog)."""
    global _config
    _config = None


def _strip_pod_suffix(hostname: str) -> str:
    """K8s pod-suffix stripping (reference ``legacy-producer.ts:50-55``).

    ``my-service-name-abcd-1234`` → ``my-service-name``; hostnames with
    two or fewer ``-``-separated segments pass through unchanged.
    """
    parts = hostname.split("-")
    if len(parts) > 2:
        return "-".join(parts[:-2])
    return hostname


def resolve_app_name(
    message_app_name: Optional[str] = None, config: Optional[Config] = None
) -> str:
    """Resolve the sender identity via the reference's chain (§1.2)."""
    if message_app_name:
        return message_app_name
    if config is None:
        try:
            config = get_config()
        except RuntimeError:
            config = None
    if config is not None:
        if config.app_name:
            return config.app_name
        if config.consumer.group_id:
            return config.consumer.group_id
    hostname = os.environ.get("HOSTNAME")
    if hostname:
        return _strip_pod_suffix(hostname)
    return "unknown"
