"""The two event-path workloads: ``events-small`` and ``events-bulk``.

Both run two phases over a file-stream source (``read_file_stream``, the
stand-in for a Kafka topic):

* drain: backlogs written in advance by the generator process are read with
  ``trigger(availableNow=True)``, one after another; each drain's throughput
  is its backlog over the time from the start of its first batch to the
  commit of its last, and the result is the median over the drains;
* open loop: the generator process writes events on a fixed schedule while
  the queries run, with the default (as-soon-as-possible) trigger in
  ``events-small`` and a 1 s processing-time trigger in ``events-bulk``
  (see NOTES.md for why). Latency is measured per output: commit time of
  the batch that produced it minus the generator's due time of its input
  event.

``events-small`` dispatches on the driver (``ConsumerRouter.batch_processor``)
over a route table of 50 unit routes; every handler re-emits one derived event
through ``emit`` into the testing sink. ``events-bulk`` carries ~15 KB bodies
and runs two imperative routes through the executor kernel
(``make_partition_dispatcher`` over ``mapPartitions``, ``batch_processor``'s
executor branch minus its Kafka write) and two declarative routes through
``compile()`` over ``envelope.parse_stream``, one query per branch, one of them
a watermarked ``stream_dedup`` leg.

Expected outputs come from :func:`expected_outputs`, a plain-Python A5
predicate over the route specs below that shares no code with
``consumer.py``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import functions as F

import gen_events
import tracing

# Route registrations in the reference's shapes: (topics, event names), with
# event names None for a catch-all. Each call registers the cross product.
SMALL_CALLS = [
    ("t-audit", None),
    ("t-orders", "order-created"),
    ("t-orders", ["order-paid", "order-shipped", "order-cancelled"]),
    (["t-orders", "t-payments"], ["payment-settled", "payment-failed", "refund-issued"]),
    (["t-users", "t-audit"], ["user-signed-up", "user-updated", "user-deleted"]),
    ("t-payments", None),
    (gen_events.SMALL_TOPICS, [f"metric-{c}" for c in "abcdefgh"]),
]
BULK_EXEC_CALLS = [
    ("topic-a", None),
    ("topic-b", "bulk-updated"),
]
# Declarative branches: (tag, topic, event name or None).
BULK_BRANCHES = [
    ("d0", "topic-a", "bulk-created"),
    ("d2", "topic-c", None),
]
BRANCH_TAGS = [tag for tag, _, _ in BULK_BRANCHES]
DEDUP_WATERMARK = "10 minutes"
BULK_SCHEMA = (
    "seq long, due long, code string, createdAt string, dkey string, "
    "records array<struct<id:long, name:string, price:double, "
    "attrs:struct<color:string, size:long>>>"
)
SOURCE_SCHEMA = "topic string, value string"
DRAINS = 3  # backlogs drained per measurement; throughput is their median


@dataclass(frozen=True)
class Shape:
    name: str
    backlog_events: int
    per_file: int
    files_per_trigger: int
    # Offered open-loop rate in events/s: a fixed constant set well under
    # the drain capacity recorded in NOTES.md, never adapted per run.
    rate: float
    tick_s: float
    # Set-up work before timing: drains, then an open loop of this many
    # seconds. The first micro-batches of a process run 2-3x slower (JIT,
    # Python workers, first query plans), and bulk per-batch cost keeps
    # falling over some 30 batches per query; a drain runs only 2 of them.
    warmup_drains: int
    warmup_open_s: float
    # Share of ``--seconds`` the timed open loop lasts. events-small gets
    # ~10,000 latency samples in 5 s, and a longer loop did not steady it.
    open_share: float
    # Open-loop trigger interval; 0 runs each next batch as soon as the last
    # one ends (Spark's default). Bulk's three queries would otherwise race
    # each other for the cores without pause (see NOTES.md).
    open_trigger_s: float


SMALL = Shape("small", backlog_events=12_000, per_file=1_000, files_per_trigger=3,
              rate=2_000.0, tick_s=0.05, warmup_drains=2, warmup_open_s=0.0,
              open_share=0.5, open_trigger_s=0.0)
BULK = Shape("bulk", backlog_events=200, per_file=50, files_per_trigger=2,
             rate=30.0, tick_s=0.1, warmup_drains=0, warmup_open_s=10.0,
             open_share=1.2, open_trigger_s=1.0)


def _names(spec) -> list:
    return spec if isinstance(spec, list) else [spec]


def _matches(topic: str, code: str, topics, names) -> bool:
    """A5: topic equal, and the route is a catch-all or its code is equal."""
    if topic not in _names(topics):
        return False
    return names is None or code in [gen_events.camel(n) for n in _names(names)]


def expected_outputs(shape: str, seed: int, seqs: range) -> set[tuple]:
    """Every output the run must produce for events ``seqs``, and no more."""
    out: set[tuple] = set()
    for seq in seqs:
        topic, code, corrupt, dkey = gen_events.event_attrs(shape, seed, seq)
        if corrupt:
            continue
        if shape == "small":
            for i, (topics, names) in enumerate(SMALL_CALLS):
                if _matches(topic, code, topics, names):
                    out.add((f"r{i}", seq))
            continue
        for i, (topics, names) in enumerate(BULK_EXEC_CALLS):
            if _matches(topic, code, topics, names):
                out.add((f"x{i}", seq))
        for tag, b_topic, b_name in BULK_BRANCHES:
            if _matches(topic, code, b_topic, b_name):
                out.add((tag, dkey) if tag == "d2" else (tag, seq))
    return out


def make_handler(route: str, tracer: tracing.Tracer | None):
    """Handler that re-emits one derived event naming its route. With a
    tracer it records its own span and one around ``emit`` (driver only:
    executor-side handlers are pickled to workers, so pass ``None``)."""

    def derived(content: dict) -> dict:
        data = {"r": route, "seq": content["seq"], "due": content["due"],
                "createdAt": content["createdAt"]}
        if "records" in content:
            data["n"] = len(content["records"])
        return data

    if tracer is None or not tracer.enabled:
        def handler(content, emit):
            emit("derived", "derived-event", derived(content))
        return handler

    def traced_handler(content, emit):
        with tracer.span("handler"):
            data = derived(content)
            with tracer.span("producer.emit"):
                emit("derived", "derived-event", data)
    return traced_handler


def _trigger_start_ns(progress) -> int:
    start = datetime.strptime(progress.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(start.replace(tzinfo=timezone.utc).timestamp() * 1e6) * 1000


def _commit_ns(progress) -> int:
    return _trigger_start_ns(progress) + int(progress.durationMs.get("triggerExecution", 0) * 1e6)


class Output(NamedTuple):
    """One output: its identity for the oracle, input event, due time (ns),
    producing query, batch id, and record count (bulk only)."""

    key: tuple
    seq: int
    due: int
    tag: str
    batch: int
    n: int | None


@dataclass
class Phase:
    """Outputs and queries of one drain or open-loop phase."""

    seqs: range
    batches: list = field(default_factory=list)  # (query tag, batch id, outputs)
    queries: dict = field(default_factory=dict)  # tag -> StreamingQuery


class EventsWorkload:
    def __init__(self, workload: str, seed: int, run_dir: str):
        self.shape = SMALL if workload == "events-small" else BULK
        self.seed = seed
        self.run_dir = run_dir
        self.gen = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_events.py")
        self.next_seq = 0
        self.failed = 0
        self.attempted = 0
        self.backlogs: dict[str, tuple[str, range]] = {}

    # -- inputs ------------------------------------------------------------

    def prepare(self, traced: bool) -> None:
        """Have the generator process write every backlog the run drains."""
        labels = ("main", "traced") if traced else ("main",)
        names = [f"warmup{i}" for i in range(self.shape.warmup_drains)]
        for name in names + [f"{lb}{i}" for lb in labels for i in range(DRAINS)]:
            # the first drain of a process pays one-time costs at any size
            n = self.shape.backlog_events // (3 if name == "warmup0" else 1)
            directory = os.path.join(self.run_dir, "src", name)
            seqs = range(self.next_seq, self.next_seq + n)
            self.next_seq += n
            subprocess.run(
                [sys.executable, self.gen, "backlog", self.shape.name, directory,
                 str(self.seed), str(seqs.start), str(n), str(self.shape.per_file)],
                check=True, timeout=120,
            )
            self.backlogs[name] = (directory, seqs)

    # -- system under test ---------------------------------------------------

    def setup(self, spark) -> None:
        """Build the routers untraced and run the shape's warm-up."""
        self.spark = spark
        self.use_tracer(tracing.Tracer(False))
        self.warm_up()

    def use_tracer(self, tracer: tracing.Tracer) -> None:
        """(Re)build the routers and dispatch kernels, handlers bound to ``tracer``."""
        from event_streamer_spark.config import (
            Config, ConsumerConfig, get_config, resolve_app_name, set_config,
        )
        from event_streamer_spark.consumer import ConsumerRouter, Route, make_partition_dispatcher
        from event_streamer_spark.streaming.ops import stream_dedup

        self.tracer = tracer
        set_config(Config(only_testing=True, consumer=ConsumerConfig(group_id="perfbench")))
        if self.shape.name == "small":
            router = ConsumerRouter()
            for i, (topics, names) in enumerate(SMALL_CALLS):
                router.add(topics, names, make_handler(f"r{i}", tracer))
            self.process_batch = router.batch_processor()
            return
        router = ConsumerRouter()
        for i, (topics, names) in enumerate(BULK_EXEC_CALLS):
            router.add(topics, names, make_handler(f"x{i}", None))
        config = get_config()
        self.dispatcher = make_partition_dispatcher(
            [(r.topic, r.event_name, r.callback) for r in router.routes],
            resolve_app_name(None, config), config.host,
            list(config.producer.additional_hosts), config.producer.key_column,
        )

        def n_records():
            return F.size("records").alias("n")

        transforms = {
            "d0": lambda df: df.select("seq", "due", n_records()),
            "d2": lambda df: stream_dedup(
                df.withColumn("ts", F.to_timestamp("createdAt", "yyyy-MM-dd HH:mm:ss'Z'")),
                ["dkey"], "ts", DEDUP_WATERMARK,
            ).select("dkey", "seq", "due", n_records()),
        }
        self.decl_router = ConsumerRouter()
        for tag, topic, name in BULK_BRANCHES:
            self.decl_router.add(Route(topic=topic, event_name=name, transform=transforms[tag]))

    def _start_queries(self, phase: Phase, directory: str, name: str, drain: bool) -> None:
        from event_streamer_spark.envelope import parse_stream
        from event_streamer_spark.sources.files import read_file_stream

        def source():
            # a drain reads its backlog in batches of known size; the open
            # loop takes every file present, like an uncapped Kafka source
            return read_file_stream(
                self.spark, directory, fmt="json", schema=SOURCE_SCHEMA,
                max_files_per_trigger=self.shape.files_per_trigger if drain else None,
            )

        def start(tag, df, body):
            writer = df.writeStream.foreachBatch(body).option(
                "checkpointLocation", os.path.join(self.run_dir, "ckpt", name, tag))
            if drain:
                writer = writer.trigger(availableNow=True)
            elif self.shape.open_trigger_s:
                writer = writer.trigger(processingTime=f"{self.shape.open_trigger_s} seconds")
            phase.queries[tag] = writer.start()

        tracer = self.tracer
        if self.shape.name == "small":
            def driver_batch(batch_df, batch_id):
                from event_streamer_spark.producer import get_emitted_events

                sink = get_emitted_events()
                before = len(sink)
                with tracer.span("consumer.dispatch"):
                    self.process_batch(batch_df, batch_id)
                phase.batches.append(("drv", batch_id, sink[before:]))
            start("drv", source(), driver_batch)
            return

        def executor_batch(batch_df, batch_id):
            with tracer.span("consumer.dispatch"):
                rows = batch_df.rdd.mapPartitions(self.dispatcher).collect()
            phase.batches.append(("exec", batch_id, [r[1] for r in rows]))
        start("exec", source(), executor_batch)

        parsed = parse_stream(source(), BULK_SCHEMA)
        for tag, (_route, branch) in zip(BRANCH_TAGS, self.decl_router.compile(parsed)):
            def branch_batch(batch_df, batch_id, tag=tag):
                with tracer.span("consumer.branch"):
                    rows = batch_df.collect()
                phase.batches.append((tag, batch_id, rows))
            start(tag, branch, branch_batch)

    def _outputs(self, phase: Phase) -> list[Output]:
        out = []
        for tag, batch_id, items in phase.batches:
            for item in items:
                if tag == "drv":
                    for msg in item.messages:
                        d = json.loads(msg["value"])
                        out.append(Output((d["r"], d["seq"]), d["seq"], d["due"], tag, batch_id, None))
                elif tag == "exec":
                    d = json.loads(item)
                    out.append(Output((d["r"], d["seq"]), d["seq"], d["due"], tag, batch_id, d["n"]))
                else:
                    key = (tag, item["dkey"]) if tag == "d2" else (tag, item["seq"])
                    out.append(Output(key, item["seq"], item["due"], tag, batch_id, item["n"]))
        return out

    def _n_outputs(self, phase: Phase) -> int:
        n = 0
        for tag, _, items in phase.batches:
            n += sum(len(i.messages) for i in items) if tag == "drv" else len(items)
        return n

    def drain(self, directory: str, seqs: range, name: str) -> tuple[float, Phase]:
        """Drain a backlog; returns (events/s, phase). The time runs from
        the start of the first batch to the commit of the last one."""
        phase = Phase(seqs)
        with self.tracer.span("drain"):
            self._start_queries(phase, directory, name, drain=True)
            for q in phase.queries.values():
                q.awaitTermination(150)
                if q.isActive:
                    raise RuntimeError(f"drain query {q.name} did not finish")
        progress = [p for q in phase.queries.values() for p in q.recentProgress]
        first = min(_trigger_start_ns(p) for p in progress)
        last = max(_commit_ns(p) for p in progress)
        eps = len(seqs) / ((last - first) / 1e9)
        print(f"# {name}: {eps:.1f} events/s", file=sys.stderr)
        return eps, phase

    def open_loop(self, name: str, seconds: float) -> tuple[Phase, dict]:
        """Run the generator on its fixed schedule beside the queries."""
        directory = os.path.join(self.run_dir, "src", name)
        os.makedirs(directory, exist_ok=True)
        n = int(self.shape.rate * seconds)
        phase = Phase(range(self.next_seq, self.next_seq + n))
        self.next_seq += n
        expected = len(expected_outputs(self.shape.name, self.seed, phase.seqs))
        stats_path = os.path.join(self.run_dir, f"{name}-gen.json")
        with self.tracer.span("open_loop"):
            self._start_queries(phase, directory, name, drain=False)
            deadline = time.monotonic() + 30
            while any(q.status["message"] not in ("Waiting for data to arrive",
                                                  "Waiting for next trigger")
                      for q in phase.queries.values()):
                if time.monotonic() > deadline:
                    raise RuntimeError("open-loop queries did not start")
                time.sleep(0.02)
            try:
                subprocess.run(
                    [sys.executable, self.gen, "open", self.shape.name, directory,
                     str(self.seed), str(phase.seqs.start), str(self.shape.rate),
                     str(seconds), str(self.shape.tick_s), stats_path],
                    check=True, timeout=seconds + 60,
                )
                deadline = time.monotonic() + 60
                while self._n_outputs(phase) < expected and time.monotonic() < deadline:
                    time.sleep(0.02)
                # let a stray duplicate surface before the queries stop
                time.sleep(0.2)
            finally:
                for q in phase.queries.values():
                    # stop between triggers: stopping mid-batch cancels its job
                    deadline = time.monotonic() + 10
                    while q.status["isTriggerActive"] and time.monotonic() < deadline:
                        time.sleep(0.01)
                    q.stop()
        with open(stats_path) as f:
            return phase, json.load(f)

    # -- measurement ---------------------------------------------------------

    def latencies_ms(self, phase: Phase, outputs: list[Output]) -> list[float]:
        commits = {}
        for tag, q in phase.queries.items():
            for p in q.recentProgress:
                commits[(tag, p.batchId)] = _commit_ns(p)
        return [(commits[(o.tag, o.batch)] - o.due) / 1e6 for o in outputs]

    def check_phase(self, phase: Phase, outputs: list[Output]) -> None:
        """Count missing, unexpected, duplicated and wrong outputs."""
        expected = expected_outputs(self.shape.name, self.seed, phase.seqs)
        keys = [o.key for o in outputs]
        seen = set(keys)
        wrong = sum(1 for o in outputs if o.n is not None and o.n != gen_events.BULK_RECORDS)
        self.attempted += len(expected)
        self.failed += (len(expected - seen) + len(seen - expected)
                        + (len(keys) - len(seen)) + wrong)

    def backlog_events(self, phase: Phase, start_ns: int) -> int:
        """Max over batches of generated minus committed events."""
        period_ns = 1e9 / self.shape.rate
        worst = 0
        for q in phase.queries.values():
            done = 0
            for p in q.recentProgress:
                done += p.numInputRows
                generated = min(len(phase.seqs), int((_commit_ns(p) - start_ns) / period_ns) + 1)
                worst = max(worst, generated - done)
        return worst

    def warm_up(self) -> None:
        """Drain the warm-up backlogs through the same queries, then run the
        warm-up open loop, if the shape has one (outputs checked)."""
        from event_streamer_spark.producer import clear_emitted_events

        for i in range(self.shape.warmup_drains):
            directory, seqs = self.backlogs[f"warmup{i}"]
            _, phase = self.drain(directory, seqs, f"warmup{i}-drain")
            self.check_phase(phase, self._outputs(phase))
            clear_emitted_events()
        if self.shape.warmup_open_s:
            phase, _ = self.open_loop("warmup-open", self.shape.warmup_open_s)
            self.check_phase(phase, self._outputs(phase))
            clear_emitted_events()

    def measure(self, seconds: float, label: str) -> dict:
        """Run the open loop for the shape's share of ``seconds``, right
        after set-up's warm-up, then drain the ``label`` backlogs one after
        another. Throughput is the median over the drains; each latency
        percentile is the median of its value in the open loop's first,
        middle and last third (by due time), so that a short stall of the
        shared machine moves one third, not the result."""
        from event_streamer_spark.producer import clear_emitted_events

        seconds *= self.shape.open_share
        open_phase, gen_stats = self.open_loop(f"{label}-open", seconds)
        eps, phases = [], [open_phase]
        for i in range(DRAINS):
            directory, seqs = self.backlogs[f"{label}{i}"]
            rate, phase = self.drain(directory, seqs, f"{label}{i}-drain")
            eps.append(rate)
            phases.append(phase)
        per_phase = [self._outputs(phase) for phase in phases]
        for phase, out in zip(phases, per_phase):
            self.check_phase(phase, out)
        clear_emitted_events()
        open_out = per_phase[0]
        lat = self.latencies_ms(open_phase, open_out)
        thirds: list[list[float]] = [[], [], []]
        span_ns = seconds * 1e9 / 3
        for o, ms in zip(open_out, lat):
            thirds[min(2, max(0, int((o.due - gen_stats["start_ns"]) / span_ns)))].append(ms)
        return {"throughput_per_s": statistics.median(eps),
                "latency_p50_ms": statistics.median(tracing.percentile(t, 0.50) for t in thirds),
                "latency_p99_ms": statistics.median(tracing.percentile(t, 0.99) for t in thirds),
                "latency_samples": len(lat), "gen": gen_stats, "phases": phases,
                "outputs": [o for out in per_phase for o in out]}

    def check(self) -> None:
        """Outputs are checked per phase, in ``measure``."""

    def layer_metrics(self, result: dict) -> dict[str, float]:
        """Per-layer numbers of a traced ``measure`` result."""
        open_phase = result["phases"][0]
        queries = [q for ph in result["phases"] for q in ph.queries.values()]
        prog = tracing.progress_metrics(queries)
        batches = max(1, prog["batches"])
        spans = self.tracer.totals_ms()
        dispatch = spans.get("consumer.dispatch", (0.0, 0.0))[0] + spans.get("consumer.branch", (0.0, 0.0))[0]
        handler = spans.get("handler", (0.0, 0.0))[0]
        branch_groups = [str(q.runId) for ph in result["phases"]
                         for tag, q in ph.queries.items() if tag in BRANCH_TAGS]
        all_groups = [str(q.runId) for q in queries]
        stage = [tracing.stage_metrics(self.spark, g) for g in all_groups]
        branch_stage = [tracing.stage_metrics(self.spark, g) for g in branch_groups]
        messages_in = sum(len(ph.seqs) for ph in result["phases"])
        outputs = result["outputs"]
        handler_outputs = [o for o in outputs if o.tag in ("drv", "exec")]
        answered = {o.seq for o in outputs}
        emitted_bytes = 0
        for ph in result["phases"]:
            for tag, _, items in ph.batches:
                if tag == "drv":
                    emitted_bytes += sum(len(m["value"]) for i in items for m in i.messages)
                elif tag == "exec":
                    emitted_bytes += sum(len(v) for v in items)
        return {
            "sources.latest_offset_ms": prog["latest_offset_ms"] / batches,
            "sources.get_batch_ms": prog["get_batch_ms"] / batches,
            "sources.backlog_events": self.backlog_events(open_phase, result["gen"]["start_ns"]),
            "sources.rows_per_batch": prog["rows"] / batches,
            "consumer.add_batch_ms": prog["add_batch_ms"] / batches,
            "consumer.dispatch_ms": dispatch,
            "consumer.self_ms": dispatch - handler,
            "consumer.messages_in": messages_in,
            "consumer.handler_calls": len(handler_outputs),
            "consumer.match_ratio": len(handler_outputs) / messages_in,
            "consumer.unmatched_or_corrupt": messages_in - len(answered),
            "consumer.executor_run_ms": sum(s["run_ms"] for s in stage),
            "consumer.executor_cpu_ms": sum(s["cpu_ms"] for s in stage),
            "consumer.branch_input_bytes": sum(s["input_bytes"] for s in branch_stage),
            "producer.emit_calls": len(handler_outputs),
            "producer.emit_ms": spans.get("producer.emit", (0.0, 0.0))[0],
            "producer.messages_emitted": len(handler_outputs),
            "producer.bytes_emitted": emitted_bytes,
            "streaming.state_rows": prog["state_rows"],
            "streaming.state_memory_bytes": prog["state_memory_bytes"],
            "streaming.dropped_by_watermark": prog["dropped_by_watermark"],
            "spark.wal_commit_ms": prog["wal_commit_ms"] / batches,
            "spark.commit_offsets_ms": prog["commit_offsets_ms"] / batches,
            "spark.query_planning_ms": prog["query_planning_ms"] / batches,
            "spark.trigger_ms": prog["trigger_ms"] / batches,
            "generator.max_lag_ms": result["gen"]["max_lag_ms"],
        }
