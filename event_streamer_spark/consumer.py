"""ConsumerRouter: ``(topic, code)`` predicate dispatch, Spark-first.

Re-expression of the reference consumer
(``src/consumer/legacy-consumer.ts``; SURVEY.md §2.A A1/A3/A5-A7/A14-A16,
§3.2-3.3). Parity points:

* **Route table (A6)** — ``add()`` accepts topic(s) × event_name(s) ×
  callback or a :class:`Route`, expands the cross product into unit
  routes, normalizing event names to UpperCamelCase
  (reference ``legacy-consumer.ts:39-71``).
* **Dispatch predicate (A5)** — a route matches iff
  ``topic == route.topic AND (route.event_name IS NULL OR
  route.event_name == content["code"])``; one message can match many
  routes (reference ``legacy-consumer.ts:92``). :func:`match_routes` is
  the one Python form, shared by ``input()``, ``dispatch_message`` and
  the executor kernel; :meth:`ConsumerRouter.route_predicate` is its
  Column form for ``compile()``.
* **Testing injection (A19)** — ``input()`` computes ``code``, merges it
  into the payload (NO ``createdAt``/``appName`` enrichment — deliberate
  reference asymmetry, ``legacy-consumer.ts:73-81``), and awaits matching
  callbacks **sequentially**, passing the real ``emit``.
* **Error isolation (A16)** — live dispatch swallows handler errors
  (logged, never fail the batch; at-least-once).
* **Strategies (A14/A15)** — ``'topic'``: bounded concurrency per topic
  (Spark: micro-batch admission via ``maxOffsetsPerTrigger``);
  ``'one-by-one'``: total order (rows sorted by (partition, offset),
  processed serially inside ``foreachBatch``).

Two execution paths:

1. **Imperative handlers** (reference-parity): arbitrary Python callbacks
   run over each micro-batch in one of two dispatch modes
   (``config.consumer.dispatch``). ``'driver'``, the default, runs them
   on the driver — the reference is a single-node microservice
   consumer, so this is the same execution model with Spark's Kafka
   source underneath (offset tracking, checkpointing → upgrade to
   restartable at-least-once). ``'executor'`` runs serializable
   callbacks in worker processes (:func:`make_partition_dispatcher`).
2. **Declarative transforms** (the scale path): a route whose handler is
   a ``DataFrame -> DataFrame`` transform compiles to
   ``filter(predicate) |> transform |> sink`` and runs fully distributed
   — this is what survives 100 TB / 1000 executors.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Any, Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from event_streamer_spark.config import get_config, resolve_app_name
from event_streamer_spark.helpers import get_parsed_json, to_array, to_upper_camel_case
from event_streamer_spark.producer import emit, prepare_emit, write_to_kafka

logger = logging.getLogger(__name__)

# Driver dispatch collects every micro-batch row to the driver. Above
# this many rows in one batch a one-time warning points at
# dispatch='executor': at that volume the driver bounds throughput. A
# constant, since no caller has needed another threshold.
DRIVER_DISPATCH_WARN_ROWS = 100_000

Handler = Callable[[dict, Callable], Any]
Transform = Callable[[DataFrame], DataFrame]


def make_partition_dispatcher(
    route_specs: list[tuple],
    app_name: str,
    primary_host: str,
    additional_hosts: list[str],
    key_column: Optional[str] = None,
) -> Callable:
    """Executor-side dispatch kernel for the ``'topic'`` strategy.

    Returns a picklable ``rows -> iter[(topic, value, key, hosts)]`` for
    ``rdd.mapPartitions``: each message goes through
    :func:`dispatch_to_routes` over ``route_specs`` (``(topic,
    event_name, callback)`` tuples), with an ``emit`` shim that buffers
    the prepared payloads instead of producing inline — the caller
    writes them to Kafka as one distributed batch.
    """
    routes = [Route(topic, name, callback) for topic, name, callback in route_specs]

    def dispatch_partition(rows):
        emitted: list[tuple] = []

        def local_emit(p1, p2=None, p3=None):
            payloads, hosts = prepare_emit(
                p1, p2, p3, app_name, primary_host, additional_hosts, key_column
            )
            host_set = ",".join(hosts)
            for payload in payloads:
                for msg in payload.messages:
                    emitted.append(
                        (payload.topic, msg["value"], msg.get("key"), host_set)
                    )
            return []

        for row in rows:
            content = get_parsed_json(row["value"])
            dispatch_to_routes(routes, row["topic"], content, local_emit)
        return iter(emitted)

    return dispatch_partition


@dataclass
class Route:
    """One unit route (reference ``interfaces/index.ts:67-71``).

    ``event_name is None`` → match every event on the topic.
    ``callback`` is an imperative ``(content, emit)`` handler;
    ``transform`` is the declarative DataFrame path (engine extension).
    """

    topic: str
    event_name: Optional[str] = None
    callback: Optional[Handler] = None
    transform: Optional[Transform] = None


def match_routes(
    routes: Sequence[Route], topic: str, code: Optional[str]
) -> list[Route]:
    """The A5 predicate, in registration order: ``topic == route.topic
    AND (route.event_name IS NULL OR route.event_name == code)``."""
    return [
        r
        for r in routes
        if r.topic == topic and (r.event_name is None or r.event_name == code)
    ]


def dispatch_to_routes(
    routes: Sequence[Route], topic: str, content: Any, emit_fn: Callable
) -> int:
    """Run every matching callback on one parsed message.

    Corrupt (``None``) content is silently dropped (A3). Non-dict JSON
    (arrays, numbers, strings) has no ``code`` and therefore matches
    only catch-all routes — the reference behaves the same
    (``content.code`` is undefined). Handler errors are logged and
    swallowed (A16 at-least-once parity). Returns the number of matched
    routes, transform-only routes included.
    """
    if content is None:
        return 0
    code = content.get("code") if isinstance(content, dict) else None
    matched = match_routes(routes, topic, code)
    for route in matched:
        if route.callback is None:
            continue
        try:
            route.callback(content, emit_fn)
        except Exception:  # noqa: BLE001 — reference swallows (A16)
            logger.exception("Handler error on route %s", route)
    return len(matched)


class ConsumerRouter:
    """Routes messages to handlers by ``(topic, code)`` (SURVEY §3.2)."""

    def __init__(self) -> None:
        from event_streamer_spark.config import warn_deprecation

        warn_deprecation(
            "ConsumerRouter is deprecated. Use SchemaRegistryConsumerRouter "
            "for Schema Registry support."
        )
        self.routes: list[Route] = []
        self._queries: list = []  # active streaming queries

    # -- route registration (A6) --------------------------------------

    def add(
        self,
        param1: Union[str, Sequence[str], Route],
        param2: Union[str, Sequence[str], Handler, None] = None,
        handler: Optional[Handler] = None,
        *,
        transform: Optional[Transform] = None,
    ) -> None:
        """Register route(s); cross-product expansion of topics × events.

        Overloads (reference ``legacy-consumer.ts:39-71``)::

            add(topic, handler)
            add([topics], handler)
            add(topic, event_name, handler)
            add(topic, [event_names], handler)
            add([topics], [event_names], handler)
            add([topics], event_name, handler)
            add(Route(...))

        Event names are normalized to UpperCamelCase at registration.
        ``transform=`` registers a declarative DataFrame route instead of
        an imperative callback (engine extension, see module docstring).
        """
        if isinstance(param1, Route):
            topics = [param1.topic]
            event_names: list[Optional[str]] = [
                to_upper_camel_case(param1.event_name)
                if param1.event_name is not None
                else None
            ]
            callback = param1.callback
            transform = param1.transform
        else:
            topics = to_array(param1)  # type: ignore[arg-type]
            if isinstance(param2, str):
                event_names = [to_upper_camel_case(param2)]
                callback = handler
            elif isinstance(param2, (list, tuple)):
                event_names = [to_upper_camel_case(e) for e in param2]
                callback = handler
            elif callable(param2):
                event_names = [None]
                callback = param2
            else:
                event_names = [None]
                callback = handler

        for topic in topics:
            for event_name in event_names:
                route = Route(
                    topic=topic,
                    event_name=event_name,
                    callback=callback,
                    transform=transform,
                )
                logger.info("Adding route %s", route)
                self.routes.append(route)

    def topics(self) -> list[str]:
        """Distinct routed topics, first-seen order (A1 source pruning)."""
        seen: dict[str, None] = {}
        for route in self.routes:
            seen.setdefault(route.topic, None)
        return list(seen)

    # -- testing-mode injection (A19) ----------------------------------

    def input(self, output: Union[dict, Any]) -> None:
        """Inject one event in testing mode (reference ``legacy-consumer.ts:73-81``).

        Computes ``code = UpperCamelCase(event_name or topic)``, merges it
        into the payload **without** envelope enrichment (reference
        asymmetry, SURVEY §3.3), filters routes with the A5 predicate and
        invokes callbacks **sequentially** with ``(content, emit)``.
        """
        config = get_config()
        if not config.only_testing:
            raise RuntimeError("input() is only available with only_testing=True")
        if isinstance(output, dict):
            topic = output["topic"]
            event_name = output.get("event_name", output.get("eventName"))
            data = output["data"]
        else:  # producer.Output
            topic, event_name, data = output.topic, output.event_name, output.data

        code = to_upper_camel_case(event_name if event_name is not None else topic)
        for route in match_routes(self.routes, topic, code):
            if route.callback is not None:
                route.callback({**data, "code": code}, emit)

    # -- batch/driver-side dispatch (A5 + A7 + A16) --------------------

    def dispatch_message(self, topic: str, content: Any) -> int:
        """Dispatch one parsed message to all matching routes with the
        real ``emit`` (see :func:`dispatch_to_routes`). Returns the
        number of matched routes."""
        return dispatch_to_routes(self.routes, topic, content, emit)

    # -- declarative compilation (the scale path) ----------------------

    @staticmethod
    def route_predicate(route: Route, topic_col: str = "topic", code_col: str = "code"):
        """The A5 predicate as a Column expression."""
        pred = F.col(topic_col) == F.lit(route.topic)
        if route.event_name is not None:
            pred = pred & (F.col(code_col) == F.lit(route.event_name))
        return pred

    def compile(
        self, df: DataFrame, topic_col: str = "topic", code_col: str = "code"
    ) -> list[tuple[Route, DataFrame]]:
        """Compile routes over a (streaming or batch) DataFrame.

        Each route becomes ``df.filter(predicate)`` (+ its transform).
        All branches share the one source scan; Catalyst/AQE handle the
        physical plan. N branches = N concurrent queries (A16).
        """
        out = []
        for route in self.routes:
            branch = df.filter(self.route_predicate(route, topic_col, code_col))
            if route.transform is not None:
                branch = route.transform(branch)
            out.append((route, branch))
        return out

    # -- streaming start (A1/A3/A14/A15) -------------------------------

    def topic_limits(self) -> dict[str, Optional[int]]:
        """A14: per-topic in-flight caps from config.

        Maps the reference's ``maxMessagesPerSpecificTopic`` /
        ``maxMessagesPerTopic`` (default 20, ``'unlimited'`` → None)
        onto per-topic ``maxOffsetsPerTrigger`` values. Topics sharing
        the default can ride one Kafka source; topics with a specific
        cap get their own source (Spark's limit is per-source).
        """
        config = get_config()
        default = config.consumer.max_messages_per_topic
        specific = config.consumer.max_messages_per_specific_topic
        out: dict[str, Optional[int]] = {}
        for topic in self.topics():
            cap = specific.get(topic, default)
            out[topic] = None if cap == "unlimited" else int(cap)
        return out

    def source_plan(
        self, max_offsets_per_trigger: Optional[int] = None
    ) -> list[tuple[list[str], Optional[int]]]:
        """A14: the Kafka source layout — ``[(topics, maxOffsetsPerTrigger)]``.

        Spark's admission limit is per-source, so topics that share the
        default cap ride ONE source (limit = default × topic count,
        matching the reference's per-topic queues each bounded by the
        default, ``legacy-consumer.ts:169-181``), while every topic with
        a ``maxMessagesPerSpecificTopic`` entry gets its OWN source with
        its own limit — a specific cap then bounds that topic's batches
        without throttling the rest (reference pause/resume per topic,
        ``legacy-consumer.ts:175-199``). ``'unlimited'`` → no limit.

        Contract interactions:

        * strategy ``'one-by-one'`` (A15) forces a SINGLE source — its
          total-order guarantee cannot survive concurrent per-source
          queries, and the reference's one-by-one path likewise ignores
          the per-topic queue caps (``legacy-consumer.ts:165-168``).
        * an explicit ``max_offsets_per_trigger`` is a global throttle:
          it caps the shared source directly and clamps every
          specific-cap source to ``min(specific, explicit)``.
        """
        config = get_config()
        limits = self.topic_limits()
        specific = config.consumer.max_messages_per_specific_topic
        explicit = max_offsets_per_trigger
        if config.consumer.strategy == "one-by-one":
            limit = explicit
            if limit is None and config.consumer.max_messages_per_topic != "unlimited":
                limit = int(config.consumer.max_messages_per_topic) * max(
                    1, len(self.topics())
                )
            return [(self.topics(), limit)]
        shared = [t for t in self.topics() if t not in specific]
        plan: list[tuple[list[str], Optional[int]]] = []
        if shared:
            limit = explicit
            if limit is None and config.consumer.max_messages_per_topic != "unlimited":
                limit = int(config.consumer.max_messages_per_topic) * len(shared)
            plan.append((shared, limit))
        for topic in self.topics():
            if topic in specific:
                cap = limits[topic]
                if explicit is not None:
                    cap = explicit if cap is None else min(cap, explicit)
                plan.append(([topic], cap))
        return plan

    def kafka_sources_spec(
        self, max_offsets_per_trigger: Optional[int] = None
    ) -> list[tuple[dict, str]]:
        """Resolve :meth:`source_plan` into concrete Kafka reader options.

        Returns ``[(options, suffix)]`` — one entry per streaming source.
        Durability contract (at-least-once, reference
        ``legacy-consumer.ts:110-113``):

        * **Distinct consumer groups.** Each source sets its own
          ``kafka.group.id``: the shared source uses the configured
          ``group_id`` verbatim; every specific-cap source appends its
          suffix (``g-topic-hot``). Concurrent queries never join one
          group, so they never trigger mutual rebalances.
        * **Stable checkpoint identity.** ``suffix`` names the source's
          checkpoint subdirectory and is a pure function of the source's
          ROLE, never of plan shape: the shared source is always
          ``"shared"`` (even when it is the only source) and a
          specific-cap source is always ``"topic-<name>"``. Adding or
          removing other routes/caps therefore never relocates an
          existing source's checkpoint — no silent offset loss under
          ``startingOffsets=latest``.
        """
        config = get_config()
        plan = self.source_plan(max_offsets_per_trigger)
        specific = config.consumer.max_messages_per_specific_topic
        one_by_one = config.consumer.strategy == "one-by-one"
        specs: list[tuple[dict, str]] = []
        for topics, limit in plan:
            is_specific = (
                not one_by_one and len(topics) == 1 and topics[0] in specific
            )
            suffix = f"topic-{topics[0]}" if is_specific else "shared"
            group_id = (
                f"{config.consumer.group_id}-{suffix}"
                if is_specific
                else config.consumer.group_id
            )
            options = {
                "kafka.bootstrap.servers": config.host,
                "subscribe": ",".join(topics),
                "kafka.group.id": group_id,
                "startingOffsets": "latest",
            }
            if limit is not None:
                options["maxOffsetsPerTrigger"] = str(limit)
            specs.append((options, suffix))
        return specs

    @staticmethod
    def resolve_checkpoint(
        spark: SparkSession,
        ckpt_root: str,
        suffix: str,
        single_source: bool,
    ) -> str:
        """Checkpoint location for one source, with a pre-multi-source
        migration fallback.

        Layout: ``ckpt_root/<suffix>`` (``shared`` / ``topic-<name>``,
        see :meth:`kafka_sources_spec`). Deployments that created their
        checkpoint BEFORE the multi-source layout committed offsets at
        ``ckpt_root`` itself; relocating them to ``ckpt_root/shared``
        would restart a ``startingOffsets=latest`` stream from scratch
        and silently skip everything produced while the consumer was
        down. So: a SINGLE-source plan whose legacy root checkpoint
        exists (``ckpt_root/offsets``) keeps using ``ckpt_root`` unless
        the new location already has offsets of its own. Multi-source
        plans can't inherit the root checkpoint (which source would own
        it?) — upgrading one is a documented one-time move:
        ``ckpt_root -> ckpt_root/shared`` before restart.
        """
        if not suffix:
            return ckpt_root
        loc = f"{ckpt_root}/{suffix}"
        if suffix == "shared" and single_source:
            from event_streamer_spark.helpers import hadoop_path_exists

            legacy = hadoop_path_exists(spark, f"{ckpt_root}/offsets")
            migrated = hadoop_path_exists(spark, f"{loc}/offsets")
            if legacy and not migrated:
                return ckpt_root
        return loc

    def start(
        self,
        spark: Optional[SparkSession] = None,
        source_df: Optional[DataFrame] = None,
        schema: Optional[Union[StructType, str]] = None,
        max_offsets_per_trigger: Optional[int] = None,
        checkpoint_dir: Optional[str] = None,
    ) -> list:
        """Start consuming (reference ``legacy-consumer.ts:126-203``).

        Validation parity: missing/blank ``group_id`` and an empty route
        table raise before anything connects. ``only_testing`` resolves
        immediately (routes are exercised via :meth:`input`).

        ``source_df`` injects any streaming DataFrame with columns
        ``(topic, value)`` (e.g. a file/memory stream in tests); when
        absent, a Kafka source subscribing to the distinct routed topics
        is built (A1). ``schema`` parses the JSON value; corrupt rows are
        dropped (A3). Imperative callbacks run inside ``foreachBatch``;
        strategy ``'one-by-one'`` iterates rows sorted by
        ``(partition, offset)`` for total order (A15), ``'topic'`` bounds
        in-flight work via ``max_offsets_per_trigger`` (A14 analog).
        """
        config = get_config()
        if not config.consumer.group_id or not config.consumer.group_id.strip():
            raise ValueError("Missing configuration config.consumer.groupId for consumer")
        if not self.routes:
            raise ValueError("Missing routes, please add minimum 1 route")
        if config.only_testing:
            return []

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("ConsumerRouter.start requires a SparkSession")

        if source_df is not None:
            sources: list[tuple[DataFrame, str]] = [(source_df, "")]
        else:
            from event_streamer_spark.debug import apply_kafka_log_level

            apply_kafka_log_level(spark, config.kafka_js_logs)
            sources = []
            for options, suffix in self.kafka_sources_spec(max_offsets_per_trigger):
                reader = spark.readStream.format("kafka")
                for opt, val in options.items():
                    reader = reader.option(opt, val)
                sources.append((reader.load(), suffix))

        ckpt_root = checkpoint_dir or config.checkpoint_root
        process_batch = self.batch_processor()
        for src, suffix in sources:
            cols = set(src.columns)
            if {"partition", "offset"} <= cols:
                select_cols = [
                    F.col("topic"),
                    F.col("value").cast("string").alias("value"),
                    F.col("partition"),
                    F.col("offset"),
                ]
            else:
                select_cols = [
                    F.col("topic"), F.col("value").cast("string").alias("value")
                ]
            if schema is not None:
                # A3 at the source: with a declared schema, corrupt rows
                # drop JVM-side before dispatch ever sees them
                from event_streamer_spark.envelope import drop_corrupt

                src = drop_corrupt(src, schema)
            writer = src.select(*select_cols).writeStream.foreachBatch(
                process_batch
            )
            if ckpt_root:
                # one checkpoint per source: each query tracks its own offsets
                loc = self.resolve_checkpoint(
                    spark, ckpt_root, suffix, single_source=len(sources) == 1
                )
                writer = writer.option("checkpointLocation", loc)
            self._queries.append(writer.start())
        return self._queries

    def batch_processor(self) -> Callable[[DataFrame, int], None]:
        """The ``foreachBatch`` body for ``config.consumer.dispatch``.

        * ``'driver'`` (default): the reference's single-process model —
          every micro-batch row is collected and dispatched on the
          driver, so callbacks may close over and mutate driver state.
          Strategy ``'one-by-one'`` (A15, total order, reference
          ``legacy-consumer.ts:165-168``) always dispatches here, over
          rows sorted by (partition, offset).
        * ``'executor'`` (``'topic'`` strategy, A14/A16): handlers run in
          worker processes via ``mapPartitions`` and the driver never
          materializes the batch; their ``emit``s are collected per
          partition and written to Kafka distributed. Callbacks must
          cloudpickle (a ``ValueError`` here otherwise), and their side
          effects must flow through ``emit`` or external systems, never
          driver memory.

        Any other ``dispatch`` value raises ``ValueError``.
        """
        config = get_config()
        strategy = config.consumer.strategy
        dispatch = config.consumer.dispatch
        if dispatch not in ("driver", "executor"):
            raise ValueError(
                f"consumer.dispatch must be 'driver' or 'executor', got {dispatch!r}"
            )

        if strategy == "topic" and dispatch == "executor":
            # probe with cloudpickle — what Spark ships closures with —
            # so plain lambdas/closures still qualify for executor mode
            from pyspark import cloudpickle

            route_specs = [
                (r.topic, r.event_name, r.callback)
                for r in self.routes
                if r.callback is not None
            ]
            try:
                cloudpickle.dumps(route_specs)
            except Exception as exc:  # noqa: BLE001 — any pickling failure
                raise ValueError(
                    "consumer.dispatch='executor' but a callback is not "
                    "serializable"
                ) from exc
            dispatcher = make_partition_dispatcher(
                route_specs,
                resolve_app_name(None, config),
                config.host,
                list(config.producer.additional_hosts),
                config.producer.key_column,
            )

            def process_batch(batch_df: DataFrame, batch_id: int) -> None:
                spark_b = batch_df.sparkSession
                out_rdd = batch_df.rdd.mapPartitions(dispatcher)
                emitted = spark_b.createDataFrame(
                    out_rdd,
                    schema="topic string, value string, key string, hosts string",
                ).persist()  # dispatch runs ONCE; writes reuse the cache
                try:
                    # handler emits flow out through ONE distributed Kafka
                    # write per host set — only the tiny distinct host-set
                    # list ever reaches the driver
                    host_sets = [
                        r["hosts"]
                        for r in emitted.select("hosts").distinct().collect()
                    ]
                    for host_set in host_sets:
                        part = emitted.filter(
                            F.col("hosts") == host_set
                        ).select("topic", "value", "key")
                        write_to_kafka(part, host_set.split(","), config)
                finally:
                    emitted.unpersist()

            process_batch.mode = "executor"

        else:
            warned = [False]  # once per router, not per micro-batch

            def process_batch(batch_df: DataFrame, batch_id: int) -> None:
                rows = batch_df.collect()
                if not warned[0] and len(rows) > DRIVER_DISPATCH_WARN_ROWS:
                    warned[0] = True
                    logger.warning(
                        "Driver-mode dispatch collected %d rows in one "
                        "micro-batch (threshold %d): the driver is the "
                        "throughput bottleneck at this volume. Set "
                        "consumer.dispatch='executor' (serializable "
                        "callbacks) to dispatch on workers, or cap batches "
                        "with max_messages_per_topic/maxOffsetsPerTrigger.",
                        len(rows),
                        DRIVER_DISPATCH_WARN_ROWS,
                    )
                if strategy == "one-by-one" and {"partition", "offset"} <= set(
                    batch_df.columns
                ):
                    rows = sorted(rows, key=lambda r: (r["partition"], r["offset"]))
                routes = self.routes
                for row in rows:
                    content = get_parsed_json(row["value"])
                    dispatch_to_routes(routes, row["topic"], content, emit)

            process_batch.mode = "driver"

        return process_batch

    def stop(self) -> None:
        """Stop all streaming queries (reference ``legacy-consumer.ts:83-87``)."""
        for query in self._queries:
            query.stop()
        self._queries.clear()
