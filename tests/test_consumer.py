"""ConsumerRouter routing semantics (reference
``src/consumer/__tests__/index.test.ts``; SURVEY §2.A A5/A6/A16/A19,
§3.3 + the README routing truth table)."""

import pytest

from event_streamer_spark.config import Config, ConsumerConfig, ProducerConfig, set_config
from event_streamer_spark.consumer import ConsumerRouter, Route
from event_streamer_spark.producer import clear_emitted_events, get_parsed_emitted_events


def _testing_config():
    set_config(
        Config(
            host="h:9092",
            app_name="app",
            only_testing=True,
            consumer=ConsumerConfig(group_id="grp"),
        )
    )


class TestAddOverloads:
    """Cross-product expansion (reference ``legacy-consumer.ts:39-71``;
    structural test ``consumer/__tests__/index.test.ts:314-422``)."""

    def _cb(self, *_):
        pass

    def test_topic_only(self):
        r = ConsumerRouter()
        r.add("topic-a", self._cb)
        assert [(x.topic, x.event_name) for x in r.routes] == [("topic-a", None)]

    def test_topics_list(self):
        r = ConsumerRouter()
        r.add(["a", "b"], self._cb)
        assert len(r.routes) == 2

    def test_topic_event(self):
        r = ConsumerRouter()
        r.add("a", "my-event", self._cb)
        assert r.routes[0].event_name == "MyEvent"

    def test_cross_product(self):
        r = ConsumerRouter()
        r.add(["a", "b"], ["e-one", "e-two"], self._cb)
        combos = {(x.topic, x.event_name) for x in r.routes}
        assert combos == {
            ("a", "EOne"), ("a", "ETwo"), ("b", "EOne"), ("b", "ETwo"),
        }

    def test_route_object(self):
        r = ConsumerRouter()
        r.add(Route(topic="a", event_name="ev-x", callback=self._cb))
        assert r.routes[0].event_name == "EvX"

    def test_fourteen_route_expansion(self):
        # mirrors the reference's 14-route structural test shape
        r = ConsumerRouter()
        r.add("t1", self._cb)                       # 1
        r.add(["t2", "t3"], self._cb)               # 2
        r.add("t4", "e1", self._cb)                 # 1
        r.add("t5", ["e1", "e2", "e3"], self._cb)   # 3
        r.add(["t6", "t7"], ["e1", "e2"], self._cb) # 4
        r.add(["t8", "t9"], "e1", self._cb)         # 2
        r.add(Route(topic="t10", callback=self._cb))  # 1
        assert len(r.routes) == 14

    def test_distinct_topics_ordered(self):
        r = ConsumerRouter()
        r.add(["b", "a"], self._cb)
        r.add("b", "e", self._cb)
        assert r.topics() == ["b", "a"]


# One A5 truth table for every dispatch path: (topic, code, content is a
# dict, routes whose callback runs in order, matched-route count). The
# routes of _a5_router: "catch" = (t1, any event), "named" = (t1, EvX),
# "other" = (t2, EvX), then a transform-only (t1, EvX) route that
# matches without running a callback.
A5_TABLE = [
    ("t1", "EvX", True, ["catch", "named"], 3),  # topic hit, code match
    ("t1", "EvY", True, ["catch"], 1),  # code mismatch: catch-all only
    ("t2", "EvX", True, ["other"], 1),  # named route on another topic
    ("t2", "EvY", True, [], 0),  # no catch-all on t2
    ("t9", "EvX", True, [], 0),  # topic miss
    ("t1", None, False, ["catch"], 1),  # non-dict content: catch-all only
    ("t2", None, False, [], 0),
]


def _a5_router():
    def recorder(name):
        # a closure, so cloudpickle ships it by value to workers
        def handler(content, emit_fn):
            emit_fn("hits", {"route": name})

        return handler

    r = ConsumerRouter()
    r.add("t1", recorder("catch"))
    r.add("t1", "EvX", recorder("named"))
    r.add("t2", "EvX", recorder("other"))
    r.add(Route(topic="t1", event_name="EvX", transform=lambda df: df))
    return r


def _a5_content(code, is_dict):
    return {"code": code, "p": 1} if is_dict else [1, 2]


def _sink_hits():
    return [e["data"]["route"] for e in get_parsed_emitted_events()]


class TestInputDispatch:
    """Truth table (README.md:318-345): match iff topic equal AND
    (route has no event_name OR event_name == code)."""

    def _router_with_hits(self):
        _testing_config()
        hits = []
        r = ConsumerRouter()
        r.add("topic-a", lambda c, e: hits.append(("global-a", c["code"])))
        r.add("topic-a", "event-x", lambda c, e: hits.append(("ax", c["code"])))
        r.add("topic-b", "event-x", lambda c, e: hits.append(("bx", c["code"])))
        return r, hits

    def test_no_event_name_matches_global_only(self):
        r, hits = self._router_with_hits()
        r.input({"topic": "topic-a", "data": {"p": 1}})
        # code = UpperCamelCase(topic) = TopicA → global handler only
        assert hits == [("global-a", "TopicA")]

    def test_event_name_matches_both(self):
        r, hits = self._router_with_hits()
        r.input({"topic": "topic-a", "event_name": "event-x", "data": {"p": 1}})
        assert hits == [("global-a", "EventX"), ("ax", "EventX")]

    def test_wrong_topic_no_match(self):
        r, hits = self._router_with_hits()
        r.input({"topic": "topic-z", "data": {"p": 1}})
        assert hits == []

    def test_no_enrichment_asymmetry(self):
        # input() merges code but does NOT add createdAt/appName
        # (reference legacy-consumer.ts:73-81; SURVEY §3.3)
        _testing_config()
        seen = []
        r = ConsumerRouter()
        r.add("t", lambda c, e: seen.append(c))
        r.input({"topic": "t", "data": {"p": 1}})
        [content] = seen
        assert content == {"p": 1, "code": "T"}
        assert "createdAt" not in content and "appName" not in content

    def test_input_requires_testing_mode(self):
        set_config(Config(host="h", only_testing=False))
        r = ConsumerRouter()
        r.add("t", lambda c, e: None)
        with pytest.raises(RuntimeError, match="only_testing"):
            r.input({"topic": "t", "data": {}})

    def test_handler_emit_composes(self):
        # end-to-end loop: input → handler → emit → testing sink
        # (README.md:400-446)
        _testing_config()
        r = ConsumerRouter()

        def fwd(content, emit_fn):
            emit_fn("downstream", "forwarded", {"orig": content["code"]})

        r.add("up", fwd)
        r.input({"topic": "up", "data": {"x": 1}})
        [ev] = get_parsed_emitted_events()
        assert ev["topic"] == "downstream"
        assert ev["event_name"] == "Forwarded"
        assert ev["data"]["orig"] == "Up"

    def test_a5_truth_table_input(self):
        _testing_config()
        r = _a5_router()
        for topic, code, is_dict, hits, _ in A5_TABLE:
            if not is_dict:
                continue  # input() payloads are dicts by construction
            clear_emitted_events()
            r.input({"topic": topic, "event_name": code, "data": {"p": 1}})
            assert _sink_hits() == hits, (topic, code)

    def test_a5_truth_table_dispatch_message(self):
        _testing_config()
        r = _a5_router()
        for topic, code, is_dict, hits, matched in A5_TABLE:
            clear_emitted_events()
            n = r.dispatch_message(topic, _a5_content(code, is_dict))
            assert (_sink_hits(), n) == (hits, matched), (topic, code, is_dict)


class TestDispatchErrors:
    def test_handler_error_swallowed(self):
        # A16: errors logged, batch never fails
        _testing_config()
        hits = []
        r = ConsumerRouter()

        def bad(c, e):
            raise RuntimeError("boom")

        r.add("t", bad)
        r.add("t", lambda c, e: hits.append(1))
        n = r.dispatch_message("t", {"code": "T", "p": 1})
        assert n == 2 and hits == [1]

    def test_corrupt_content_dropped(self):
        _testing_config()
        r = ConsumerRouter()
        r.add("t", lambda c, e: None)
        assert r.dispatch_message("t", None) == 0


class TestStartValidation:
    def test_missing_group_id(self):
        set_config(Config(host="h", only_testing=True))
        r = ConsumerRouter()
        r.add("t", lambda c, e: None)
        with pytest.raises(ValueError, match="groupId"):
            r.start()

    def test_missing_routes(self):
        _testing_config()
        r = ConsumerRouter()
        with pytest.raises(ValueError, match="Missing routes"):
            r.start()

    def test_testing_mode_resolves_immediately(self):
        _testing_config()
        r = ConsumerRouter()
        r.add("t", lambda c, e: None)
        assert r.start() == []


class TestTopicLimits:
    def test_per_topic_caps(self):
        set_config(
            Config(
                host="h",
                only_testing=True,
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_topic=20,
                    max_messages_per_specific_topic={
                        "topic-a": "unlimited",
                        "topic-b": 10,
                    },
                ),
            )
        )
        r = ConsumerRouter()
        r.add(["topic-a", "topic-b", "topic-c"], lambda c, e: None)
        assert r.topic_limits() == {"topic-a": None, "topic-b": 10, "topic-c": 20}


def _double_handler(content, emit_fn):
    """Module-level (picklable) handler: re-emits with doubled value."""
    emit_fn("out-topic", {"v": content["v"] * 2})


class TestSourcePlan:
    """A14: per-topic caps get their own source (reference pause/resume
    per topic, ``legacy-consumer.ts:117-124,169-199``)."""

    def _router(self):
        r = ConsumerRouter.__new__(ConsumerRouter)  # skip deprecation warn
        r.routes, r._queries = [], []
        r.add("a", _double_handler)
        r.add("hot", _double_handler)
        r.add("b", _double_handler)
        return r

    def test_specific_cap_gets_own_source(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_topic=20,
                    max_messages_per_specific_topic={"hot": 5},
                ),
            )
        )
        plan = self._router().source_plan()
        assert plan == [(["a", "b"], 40), (["hot"], 5)]

    def test_unlimited_specific_cap(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_specific_topic={"hot": "unlimited"},
                ),
            )
        )
        plan = self._router().source_plan()
        assert plan == [(["a", "b"], 40), (["hot"], None)]

    def test_no_specific_caps_single_source(self):
        set_config(
            Config(host="h:9092", consumer=ConsumerConfig(group_id="g"))
        )
        assert self._router().source_plan() == [(["a", "hot", "b"], 60)]

    def test_explicit_trigger_limit_overrides_default(self):
        set_config(
            Config(host="h:9092", consumer=ConsumerConfig(group_id="g"))
        )
        assert self._router().source_plan(7) == [(["a", "hot", "b"], 7)]

    def test_one_by_one_forces_single_source(self):
        # A15 total order cannot survive concurrent per-source queries
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    strategy="one-by-one",
                    max_messages_per_specific_topic={"hot": 5},
                ),
            )
        )
        plan = self._router().source_plan()
        assert plan == [(["a", "hot", "b"], 60)]

    def test_explicit_limit_clamps_specific_sources(self):
        # an explicit throttle is global: min(specific, explicit), and
        # 'unlimited' specific caps become the explicit value
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_specific_topic={
                        "hot": "unlimited", "b": 50,
                    },
                ),
            )
        )
        plan = self._router().source_plan(7)
        assert plan == [(["a"], 7), (["hot"], 7), (["b"], 7)]


class TestKafkaSourcesSpec:
    """Streaming durability: distinct consumer groups per source and
    checkpoint identity that is stable across plan-shape changes."""

    def _router(self):
        r = ConsumerRouter.__new__(ConsumerRouter)  # skip deprecation warn
        r.routes, r._queries = [], []
        r.add("a", _double_handler)
        r.add("hot", _double_handler)
        r.add("b", _double_handler)
        return r

    def test_distinct_group_ids_per_source(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_specific_topic={"hot": 5},
                ),
            )
        )
        specs = self._router().kafka_sources_spec()
        group_ids = [opts["kafka.group.id"] for opts, _ in specs]
        assert len(group_ids) == len(set(group_ids)) == 2
        assert group_ids == ["g", "g-topic-hot"]

    def test_checkpoint_suffix_stable_when_first_cap_added(self):
        # the shared source must checkpoint at "shared" BOTH before and
        # after the first per-topic cap appears — a relocated checkpoint
        # with startingOffsets=latest silently drops in-flight messages
        set_config(
            Config(host="h:9092", consumer=ConsumerConfig(group_id="g"))
        )
        before = self._router().kafka_sources_spec()
        assert [s for _, s in before] == ["shared"]

        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_specific_topic={"hot": 5},
                ),
            )
        )
        after = self._router().kafka_sources_spec()
        assert [s for _, s in after] == ["shared", "topic-hot"]
        # the shared source's options are unchanged apart from its
        # subscription losing the capped topic
        shared_before = dict(before[0][0])
        shared_after = dict(after[0][0])
        assert shared_before["kafka.group.id"] == shared_after["kafka.group.id"]

    def test_one_by_one_single_source_uses_shared_identity(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    strategy="one-by-one",
                    max_messages_per_specific_topic={"hot": 5},
                ),
            )
        )
        specs = self._router().kafka_sources_spec()
        assert len(specs) == 1
        opts, suffix = specs[0]
        assert suffix == "shared" and opts["kafka.group.id"] == "g"

    def test_limits_flow_into_options(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g",
                    max_messages_per_topic=20,
                    max_messages_per_specific_topic={"hot": "unlimited"},
                ),
            )
        )
        specs = self._router().kafka_sources_spec()
        by_suffix = {s: o for o, s in specs}
        assert by_suffix["shared"]["maxOffsetsPerTrigger"] == "40"
        assert "maxOffsetsPerTrigger" not in by_suffix["topic-hot"]
        assert by_suffix["shared"]["subscribe"] == "a,b"
        assert by_suffix["topic-hot"]["subscribe"] == "hot"
        assert by_suffix["shared"]["startingOffsets"] == "latest"


class TestDispatchMode:
    """Dispatch-mode selection: the DEFAULT is driver (reference
    single-process semantics); executor dispatch is opt-in via
    dispatch='executor'; any other value raises."""

    def test_default_is_driver_mode(self):
        # default config (no dispatch override) → driver dispatch, even
        # though the callback is perfectly serializable
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(group_id="g", strategy="topic"),
            )
        )
        r = ConsumerRouter()
        r.add("t1", _double_handler)
        assert r.batch_processor().mode == "driver"

    def test_driver_default_preserves_handler_side_effects(self, spark):
        # the reference contract: a handler closing over driver state
        # observes its own mutations (legacy-consumer.ts:89-115)
        import json

        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(group_id="g", strategy="topic"),
            )
        )
        seen: list = []
        r = ConsumerRouter()
        r.add("t1", lambda content, emit_fn: seen.append(content["v"]))
        process = r.batch_processor()
        assert process.mode == "driver"
        batch = spark.createDataFrame(
            [("t1", json.dumps({"v": 3, "code": "T1"})),
             ("t1", json.dumps({"v": 5, "code": "T1"}))],
            "topic string, value string",
        )
        process(batch, 0)
        assert sorted(seen) == [3, 5]

    def test_auto_is_rejected(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g", strategy="topic", dispatch="auto"
                ),
            )
        )
        r = ConsumerRouter()
        r.add("t1", _double_handler)
        with pytest.raises(ValueError, match="'driver' or 'executor'"):
            r.batch_processor()

    def test_executor_opt_in(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g", strategy="topic", dispatch="executor"
                ),
            )
        )
        r = ConsumerRouter()
        r.add("t1", _double_handler)
        assert r.batch_processor().mode == "executor"

    def test_one_by_one_stays_driver(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(group_id="g", strategy="one-by-one"),
            )
        )
        r = ConsumerRouter()
        r.add("t1", _double_handler)
        assert r.batch_processor().mode == "driver"

    def test_unpicklable_callback_raises(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(
                    group_id="g", strategy="topic", dispatch="executor"
                ),
            )
        )
        r = ConsumerRouter()
        sock = __import__("threading").Lock()  # unpicklable closure state
        r.add("t1", lambda c, e: sock)
        with pytest.raises(ValueError, match="not serializable"):
            r.batch_processor()


class TestExecutorDispatch:
    """The mapPartitions kernel runs handlers + buffers emits on
    executors; emitted rows carry (topic, value, hosts)."""

    def test_dispatch_and_emit_on_executors(self, spark):
        import json

        from event_streamer_spark.consumer import make_partition_dispatcher

        # local closure: cloudpickle ships it by value to workers (a
        # module-level function in a test file is not importable there)
        def double_handler(content, emit_fn):
            emit_fn("out-topic", {"v": content["v"] * 2})

        batch = spark.createDataFrame(
            [
                ("t1", json.dumps({"v": 3, "code": "T1"})),
                ("t1", json.dumps({"v": 5, "code": "T1"})),
                ("other", json.dumps({"v": 9, "code": "Other"})),
                ("t1", "{corrupt"),
            ],
            "topic string, value string",
        ).repartition(4)
        dispatcher = make_partition_dispatcher(
            [("t1", None, double_handler)], "app", "h:9092", []
        )
        rows = batch.rdd.mapPartitions(dispatcher).collect()
        assert len(rows) == 2  # 'other' topic + corrupt row not dispatched
        vals = sorted(json.loads(v)["v"] for _, v, _, _ in rows)
        assert vals == [6, 10]
        for topic, value, key, hosts in rows:
            assert topic == "out-topic" and hosts == "h:9092"
            assert key is None  # no key_column configured
            env = json.loads(value)
            assert env["appName"] == "app" and env["code"] == "OutTopic"

    def test_non_dict_content_hits_catch_all_only(self, spark):
        import json

        from event_streamer_spark.consumer import make_partition_dispatcher

        def relay(content, emit_fn):
            emit_fn("out-topic", {"got": content})

        batch = spark.createDataFrame(
            [("t1", "[1,2]"), ("t1", "7")], "topic string, value string"
        )
        catch_all = make_partition_dispatcher(
            [("t1", None, relay)], "app", "h:9092", []
        )
        named = make_partition_dispatcher(
            [("t1", "SomeEvent", relay)], "app", "h:9092", []
        )
        assert len(batch.rdd.mapPartitions(catch_all).collect()) == 2
        assert len(batch.rdd.mapPartitions(named).collect()) == 0

    def test_a5_truth_table_kernel(self, spark):
        import json

        from event_streamer_spark.consumer import make_partition_dispatcher

        _testing_config()
        dispatcher = make_partition_dispatcher(
            [(x.topic, x.event_name, x.callback) for x in _a5_router().routes],
            "app", "h:9092", [],
        )
        for topic, code, is_dict, hits, _ in A5_TABLE:
            value = json.dumps(_a5_content(code, is_dict))
            batch = spark.createDataFrame(
                [(topic, value)], "topic string, value string"
            )
            rows = batch.rdd.mapPartitions(dispatcher).collect()
            got = [json.loads(v)["route"] for _, v, _, _ in rows]
            assert got == hits, (topic, code, is_dict)

    def test_batch_body_writes_each_host_its_rows(self, spark, monkeypatch):
        import json

        from event_streamer_spark import consumer

        set_config(
            Config(
                host="h1:9092",
                app_name="app",
                producer=ProducerConfig(additional_hosts=["h2:9092"]),
                consumer=ConsumerConfig(
                    group_id="g", strategy="topic", dispatch="executor"
                ),
            )
        )
        written: dict = {}

        def fake_write(df, hosts, config):
            assert df.columns == ["topic", "value", "key"]
            rows = sorted((r["topic"], json.loads(r["value"])["v"]) for r in df.collect())
            for host in hosts:
                written.setdefault(host, []).extend(rows)

        monkeypatch.setattr(consumer, "write_to_kafka", fake_write)

        def route(content, emit_fn):
            v = content["v"]
            if v % 2:  # odd values overwrite the target clusters
                emit_fn([{"topic": "odd", "data": {"v": v}}], ["h3:9092", "h4:9092"])
            else:
                emit_fn("even", {"v": v})

        r = ConsumerRouter()
        r.add("t1", route)
        process = r.batch_processor()
        assert process.mode == "executor"
        batch = spark.createDataFrame(
            [("t1", json.dumps({"v": v, "code": "T1"})) for v in range(6)],
            "topic string, value string",
        ).repartition(3)
        process(batch, 0)
        even = [("even", 0), ("even", 2), ("even", 4)]
        odd = [("odd", 1), ("odd", 3), ("odd", 5)]
        assert written == {
            "h1:9092": even, "h2:9092": even, "h3:9092": odd, "h4:9092": odd,
        }


class TestDriverVolumeGuard:
    """Driver dispatch collects whole micro-batches; above
    ``DRIVER_DISPATCH_WARN_ROWS`` rows a ONE-TIME warning points at
    dispatch='executor' (VERDICT r4 item 6)."""

    def _batch(self, spark, n):
        import json

        return spark.createDataFrame(
            [("t1", json.dumps({"v": i, "code": "T1"})) for i in range(n)],
            "topic string, value string",
        )

    def _config(self):
        set_config(
            Config(
                host="h:9092",
                consumer=ConsumerConfig(group_id="g", strategy="topic"),
            )
        )

    def test_warning_fires_once_above_threshold(self, spark, caplog, monkeypatch):
        import logging

        from event_streamer_spark import consumer

        monkeypatch.setattr(consumer, "DRIVER_DISPATCH_WARN_ROWS", 3)
        self._config()
        seen: list = []
        r = ConsumerRouter()
        r.add("t1", lambda c, e: seen.append(c["v"]))
        process = r.batch_processor()
        with caplog.at_level(logging.WARNING, "event_streamer_spark.consumer"):
            process(self._batch(spark, 5), 0)
            process(self._batch(spark, 5), 1)  # second batch: no repeat
        warnings = [m for m in caplog.messages if "dispatch='executor'" in m]
        assert len(warnings) == 1
        assert len(seen) == 10  # dispatch itself unaffected

    def test_silent_below_threshold(self, spark, caplog):
        import logging

        self._config()
        r = ConsumerRouter()
        r.add("t1", lambda c, e: None)
        with caplog.at_level(logging.WARNING, "event_streamer_spark.consumer"):
            r.batch_processor()(self._batch(spark, 5), 0)
        assert not any("dispatch='executor'" in m for m in caplog.messages)


class TestExecutorDriverParity:
    """End-to-end proof (VERDICT r4 item 7): the executor-side
    mapPartitions dispatcher, driven through a FILE sink, emits exactly
    the events driver-mode dispatch emits on the same input."""

    def _input_batch(self, spark):
        import json

        rows = [
            ("t1", json.dumps({"v": i, "code": "T1"})) for i in range(6)
        ] + [
            ("t1", json.dumps({"v": 99, "code": "Other"})),  # code mismatch
            ("untracked", json.dumps({"v": 7, "code": "T1"})),  # topic miss
            ("t1", "{corrupt json"),  # A3 drop
        ]
        return spark.createDataFrame(rows, "topic string, value string")

    @staticmethod
    def _stable(env: dict) -> tuple:
        # createdAt is wall-clock; compare the deterministic envelope
        return (env["code"], env["appName"], env["v2"])

    def test_file_sink_parity_with_driver_mode(self, spark, tmp_path):
        import json

        from event_streamer_spark.consumer import make_partition_dispatcher
        from event_streamer_spark.producer import (
            clear_emitted_events,
            get_emitted_events,
        )

        def handler(content, emit_fn):
            emit_fn("out-topic", {"v2": content["v"] * 2})

        # -- driver mode: testing sink captures the emits
        set_config(
            Config(
                host="h:9092",
                app_name="app",
                only_testing=True,
                consumer=ConsumerConfig(group_id="g", strategy="topic"),
            )
        )
        clear_emitted_events()
        r = ConsumerRouter()
        r.add("t1", "T1", handler)
        process = r.batch_processor()
        assert process.mode == "driver"
        process(self._input_batch(spark), 0)
        driver_envs = sorted(
            self._stable(json.loads(msg["value"]))
            for payload in get_emitted_events()
            for msg in payload.messages
        )
        driver_topics = {p.topic for p in get_emitted_events()}
        clear_emitted_events()

        # -- executor mode: same input through the mapPartitions kernel,
        # materialized via a file sink (stand-in for the Kafka write)
        dispatcher = make_partition_dispatcher(
            [("t1", "T1", handler)], "app", "h:9092", []
        )
        out = spark.createDataFrame(
            self._input_batch(spark).repartition(4).rdd.mapPartitions(dispatcher),
            schema="topic string, value string, key string, hosts string",
        )
        sink = str(tmp_path / "emitted")
        out.write.mode("overwrite").parquet(sink)
        persisted = spark.read.parquet(sink).collect()

        exec_envs = sorted(
            self._stable(json.loads(row["value"])) for row in persisted
        )
        assert exec_envs == driver_envs
        assert {row["topic"] for row in persisted} == driver_topics
        assert all(row["hosts"] == "h:9092" for row in persisted)
        assert [e[2] for e in exec_envs] == [0, 2, 4, 6, 8, 10]


class TestCheckpointMigration:
    """Single-source plans created before the multi-source layout keep
    their root checkpoint (ADVICE r4: relocating it would silently skip
    every message produced while the consumer was down)."""

    def test_legacy_root_checkpoint_is_kept(self, spark, tmp_path):
        root = tmp_path / "ckpt"
        (root / "offsets").mkdir(parents=True)
        loc = ConsumerRouter.resolve_checkpoint(
            spark, str(root), "shared", single_source=True
        )
        assert loc == str(root)

    def test_migrated_layout_wins_over_legacy(self, spark, tmp_path):
        root = tmp_path / "ckpt"
        (root / "offsets").mkdir(parents=True)
        (root / "shared" / "offsets").mkdir(parents=True)
        loc = ConsumerRouter.resolve_checkpoint(
            spark, str(root), "shared", single_source=True
        )
        assert loc == str(root) + "/shared"

    def test_fresh_deploy_uses_new_layout(self, spark, tmp_path):
        loc = ConsumerRouter.resolve_checkpoint(
            spark, str(tmp_path / "ckpt"), "shared", single_source=True
        )
        assert loc.endswith("/shared")

    def test_multi_source_never_inherits_root(self, spark, tmp_path):
        root = tmp_path / "ckpt"
        (root / "offsets").mkdir(parents=True)
        loc = ConsumerRouter.resolve_checkpoint(
            spark, str(root), "shared", single_source=False
        )
        assert loc == str(root) + "/shared"

    def test_injected_source_uses_root_directly(self, spark, tmp_path):
        loc = ConsumerRouter.resolve_checkpoint(
            spark, str(tmp_path / "ckpt"), "", single_source=True
        )
        assert loc == str(tmp_path / "ckpt")


class TestCheckpointMigrationE2E:
    """End-to-end proof of the pre-multi-source migration fallback: a
    deployment whose offsets live at ckpt_root itself (the legacy
    layout) restarts on the upgraded layout-aware code and continues
    from its committed position — every old message processed exactly
    once in phase A, every new message exactly once in phase B, nothing
    replayed and nothing skipped."""

    def _config(self):
        set_config(
            Config(
                host="unused:9092",
                app_name="t",
                only_testing=False,
                consumer=ConsumerConfig(group_id="g", dispatch="driver"),
            )
        )

    @staticmethod
    def _write_msgs(spark, src_dir, values, fname):
        import json

        rows = [("topic-a", json.dumps({"code": "EvA", "v": v})) for v in values]
        spark.createDataFrame(rows, "topic string, value string").coalesce(
            1
        ).write.mode("append").parquet(src_dir)

    def test_legacy_root_offsets_survive_restart_without_loss(
        self, spark, tmp_path
    ):
        from event_streamer_spark.sources.files import read_file_stream

        self._config()
        src_dir = str(tmp_path / "msgs")
        root = str(tmp_path / "ckpt")

        # -- phase A: the OLD deployment checkpointed at ckpt_root itself
        self._write_msgs(spark, src_dir, [0, 1, 2], "a")
        hits_a = []
        r1 = ConsumerRouter()
        r1.add("topic-a", "EvA", lambda c, e: hits_a.append(c["v"]))
        for q in r1.start(
            spark,
            source_df=read_file_stream(spark, src_dir),
            checkpoint_dir=root,
        ):
            q.processAllAvailable()
        r1.stop()
        assert sorted(hits_a) == [0, 1, 2]
        import os

        assert os.path.isdir(f"{root}/offsets")  # legacy layout on disk

        # -- upgrade: the layout-aware resolver must keep the root (a
        # relocation to root/shared would abandon the committed offsets)
        resolved = ConsumerRouter.resolve_checkpoint(
            spark, root, "shared", single_source=True
        )
        assert resolved == root

        # -- phase B: restart on the resolved location with new messages
        self._write_msgs(spark, src_dir, [10, 11], "b")
        hits_b = []
        r2 = ConsumerRouter()
        r2.add("topic-a", "EvA", lambda c, e: hits_b.append(c["v"]))
        for q in r2.start(
            spark,
            source_df=read_file_stream(spark, src_dir),
            checkpoint_dir=resolved,
        ):
            q.processAllAvailable()
        r2.stop()
        # zero loss (both new messages), zero replay (no 0/1/2 again)
        assert sorted(hits_b) == [10, 11]

    def test_migrated_layout_wins_once_it_has_offsets(self, spark, tmp_path):
        """Counter-scenario: once root/shared owns offsets, resolution
        must prefer it even if a stale legacy root checkpoint remains —
        otherwise a completed manual migration would be undone."""
        import os

        root = str(tmp_path / "ckpt2")
        os.makedirs(f"{root}/offsets")
        os.makedirs(f"{root}/shared/offsets")
        resolved = ConsumerRouter.resolve_checkpoint(
            spark, root, "shared", single_source=True
        )
        assert resolved == f"{root}/shared"
