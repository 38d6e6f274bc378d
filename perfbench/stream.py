"""The ``stream_live`` workload: an open loop through the topology.

There is no broker, so file-stream directories stand in for the Kafka
topics: ``raw/`` is ``telemetry.raw`` and feeds the derive query, whose
wire output (``wire/``, both event topics in the consumer-side
``(topic, value, kafka_received_at_ms)`` shape) feeds the consumer
queries of ``run_consumer_stage`` (latency, counters, sessions) on
default triggers.

The generator process publishes at LOW_RATE on a wall-clock schedule. A
record's latency runs from its due time (``mqtt_sent_at_ms``) to the
commit of the latency query's micro-batch that emitted it, read from that
query's commit log; so a stall also counts against the records queued
behind it.

Correctness: the same input files are recomputed in batch
(``parse_telemetry`` → ``derive_stage`` → ``consumer_stage``) and
compared with the stream's counter snapshot, its latency records and the
routed status count held in the sessions state store.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

from common import RunEnv, log, spark_session, stop_spark
from gen import percentile, run_telemetry

LOW_RATE = 100.0  # msg/s: the reference's 1 msg/s per device, about 100 devices
WARM_RECORDS = 200
DRAIN_TIMEOUT_S = 90
EVENT_SCHEMA = "topic STRING, value STRING, kafka_received_at_ms LONG"


class Dirs:
    """The topology's directories: the raw and wire topics, the sinks'
    output and the checkpoints."""

    def __init__(self, env: RunEnv) -> None:
        self.raw = env.path("live/raw")
        self.wire = env.path("live/wire")
        self.out = env.path("live/out")
        self.ckpt = env.path("live/ckpt")


def derive_query(spark, d: Dirs):
    from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
    from kafka_flink_harshevents_spark.plans.pipeline import as_event_stream, derive_stage
    from kafka_flink_harshevents_spark.sources.kafka import (
        DEVICE_STATUS_TOPIC,
        VIOLATIONS_TOPIC,
    )

    v, s = derive_stage(parse_telemetry(spark.readStream.text(str(d.raw))))
    wire = as_event_stream(v, VIOLATIONS_TOPIC).unionByName(
        as_event_stream(s, DEVICE_STATUS_TOPIC)
    )
    return (
        wire.writeStream.format("json")
        .option("path", str(d.wire))
        .option("checkpointLocation", str(d.ckpt / "derive"))
        .queryName("derive")
        .start()
    )


def live_topology(spark, d: Dirs) -> dict:
    from kafka_flink_harshevents_spark.operators.sessions import SESSION_TTL_SECONDS
    from kafka_flink_harshevents_spark.plans.pipeline import run_consumer_stage

    queries = {"derive": derive_query(spark, d)}
    events = spark.readStream.schema(EVENT_SCHEMA).json(str(d.wire))
    queries.update(
        run_consumer_stage(
            spark,
            events,
            str(d.out),
            str(d.ckpt),
            latency_trigger_seconds=None,
            counter_trigger_seconds=None,
            session_ttl_seconds=SESSION_TTL_SECONDS,
        )
    )
    return queries


# ------------------------------------------------------------ read back


def sink_batches(sink_dir: Path) -> dict[int, list[str]]:
    """Files each batch of a file sink committed, from ``_spark_metadata``
    (compacted logs repeat earlier batches' entries, which are skipped)."""
    meta = sink_dir / "_spark_metadata"
    logs = {}
    for p in meta.iterdir() if meta.is_dir() else ():
        stem = p.name.split(".")[0]
        if stem.isdigit():
            logs[int(stem)] = p
    seen: set[str] = set()
    out: dict[int, list[str]] = {}
    for b in sorted(logs):
        files = []
        for line in logs[b].read_text().splitlines()[1:]:
            path = json.loads(line)["path"]
            if path not in seen:
                seen.add(path)
                files.append(path.removeprefix("file:"))
        out[b] = files
    return out


def latency_samples(d: Dirs) -> list[tuple[int, int]]:
    """(due ms, emitted ms) of every latency record the stream wrote."""
    commits = d.ckpt / "latencies" / "commits"
    samples = []
    for b, files in sink_batches(d.out / "latencies").items():
        c = commits / str(b)
        if not c.exists():
            continue
        done_ms = c.stat().st_mtime_ns // 1_000_000
        for f in files:
            with open(f) as fh:
                samples.extend((json.loads(line)["mqtt_sent_at_ms"], done_ms) for line in fh)
    return samples


def stream_result(spark, d: Dirs, n_latency: int) -> dict:
    counters: dict[str, int] = {}
    cdir = d.out / "counters_current"
    for p in cdir.glob("*.json") if cdir.is_dir() else ():
        for line in p.read_text().splitlines():
            r = json.loads(line)
            counters[r["violation_type"]] = r["n"]
    state = spark.read.format("statestore").load(str(d.ckpt / "sessions"))
    touches = state.selectExpr("coalesce(sum(value.groupState.n_touches), 0) AS n").first()["n"]
    return {"counters": counters, "latency": n_latency, "status": int(touches)}


def batch_oracle(spark, raw: Path) -> dict:
    """The same input files through the batch twins of every stage."""
    from pyspark.sql import functions as F

    from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
    from kafka_flink_harshevents_spark.plans.pipeline import (
        as_event_stream,
        consumer_stage,
        derive_stage,
    )
    from kafka_flink_harshevents_spark.sources.kafka import (
        DEVICE_STATUS_TOPIC,
        VIOLATIONS_TOPIC,
    )

    v, s = derive_stage(parse_telemetry(spark.read.text(str(raw))))
    events = as_event_stream(v, VIOLATIONS_TOPIC, 0).unionByName(
        as_event_stream(s, DEVICE_STATUS_TOPIC, 0)
    )
    stage = consumer_stage(events)
    # one action: the counter rows plus the two record counts
    rows = (
        stage["counters"].select(F.col("violation_type").alias("k"), F.col("n"))
        .unionByName(stage["latency"].groupBy().count().selectExpr("'' AS k", "count AS n"))
        .unionByName(
            stage["status"].filter(F.col("status_type") == "cable-unplugged")
            .groupBy().count().selectExpr("NULL AS k", "count AS n")
        )
        .collect()
    )
    counters = {r["k"]: r["n"] for r in rows if r["k"]}
    latency = next(r["n"] for r in rows if r["k"] == "")
    status = next(r["n"] for r in rows if r["k"] is None)
    return {"counters": counters, "latency": latency, "status": status}


def mismatches(got: dict, want: dict) -> int:
    """Records missing or extra in the stream's outputs."""
    types = set(got["counters"]) | set(want["counters"])
    n = sum(abs(got["counters"].get(t, 0) - want["counters"].get(t, 0)) for t in types)
    return n + abs(got["latency"] - want["latency"]) + abs(got["status"] - want["status"])


# ------------------------------------------------------------ generator


def start_generator(seed: int, raw: Path, rate: float, seconds: float, t0_ms: int, stats: Path):
    cmd = [
        sys.executable,
        str(Path(__file__).with_name("gen.py")),
        "--seed", str(seed),
        "--out", str(raw),
        "--rate", str(rate),
        "--seconds", str(seconds),
        "--t0-ms", str(t0_ms),
        "--stats", str(stats),
    ]
    return subprocess.Popen(cmd)


def wait_idle(queries: dict, upstream_idle_at: float, timeout: float) -> bool:
    """True once every query has consumed all its input.

    File-source queries on default triggers are idle when no trigger is
    active and no data is available. The sessions query keeps running
    timer batches, so it is drained once a batch that started after the
    upstream went idle read no rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        done = True
        for name, q in queries.items():
            if name == "sessions":
                ok = any(
                    p["numInputRows"] == 0
                    and _epoch(p["timestamp"]) > upstream_idle_at
                    for p in q.recentProgress
                )
            else:
                st = q.status
                ok = not st["isDataAvailable"] and not st["isTriggerActive"]
            done = done and ok
        if done:
            return True
        time.sleep(0.05)
    return False


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------ workloads


def setup_live(env: RunEnv):
    """Session start, topology start and one warm-up file pushed through
    every query, so the first batches' planning and worker start-up are
    set-up, not latency."""
    spark = spark_session(env)
    d = Dirs(env)
    queries = live_topology(spark, d)
    run_telemetry(0, d.raw, WARM_RECORDS, 1.0, int(time.time() * 1000), True, "warm")
    if not drain(queries):
        raise RuntimeError("the warm-up file did not drain")
    return spark, d, queries


def drain(queries: dict) -> bool:
    return wait_idle({"derive": queries["derive"]}, 0.0, DRAIN_TIMEOUT_S) and wait_idle(
        queries, time.time(), DRAIN_TIMEOUT_S
    )


def run_live(env: RunEnv, seed: int, seconds: float, tracer, mem) -> dict:
    """The open loop at LOW_RATE for ``seconds``."""
    t_setup = time.perf_counter()
    spark, d, queries = setup_live(env)
    setup_s = time.perf_counter() - t_setup
    log("live: topology warm")
    if tracer:
        tracer.attach(spark, d)
    stats_path = env.root / "gen_stats.json"
    t0_ms = int(time.time() * 1000) + 300
    gen = start_generator(seed, d.raw, LOW_RATE, seconds, t0_ms, stats_path)
    mem.exclude.add(gen.pid)
    if gen.wait() != 0:
        raise RuntimeError("generator failed")
    gen_stats = json.loads(stats_path.read_text())
    log("live: open loop published")
    drained = drain(queries)
    log("live: open loop drained")
    if tracer:
        tracer.detach()
    for q in queries.values():
        q.stop()
    if not drained:
        log(f"live: topology did not drain within {DRAIN_TIMEOUT_S} s")

    all_samples = latency_samples(d)
    samples = [s for s in all_samples if s[0] >= t0_ms]  # not the warm-up file
    got = stream_result(spark, d, len(all_samples))
    want = batch_oracle(spark, d.raw)
    log("live: oracle done")
    if tracer:
        tracer.record_path(spark, env.path("backlog"), seed)
        log("live: record path traced")
    stop_spark(spark)

    low = [done - due for due, done in samples]
    # backlog growth: median latency of the second half of the records
    # over that of the first half
    ordered = [x for _, x in sorted((due, done - due) for due, done in samples)]
    half = len(ordered) // 2
    attempted = gen_stats["records"] + WARM_RECORDS
    span_s = (max(done for _, done in samples) - t0_ms) / 1000.0 if samples else 0.0
    return {
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": min(attempted, mismatches(got, want)),
        "latencies_ms": low,
        # every published record, violation or not, passed through the
        # topology (checked against the oracle), over the time from the
        # first due time to the last latency batch's commit: at a fixed
        # offered rate a keep-up check, below LOW_RATE by the drain tail
        "ops_per_s": gen_stats["records"] / span_s if span_s > 0 else 0.0,
        "gen_stats": gen_stats,
        "extra": {
            "live_low_p50_ms": percentile(low, 0.5) if low else None,
            "live_low_p90_ms": percentile(low, 0.9) if low else None,
            "live_low_p99_ms": percentile(low, 0.99) if low else None,
            "live_low_growth": statistics.median(ordered[half:]) / statistics.median(ordered[:half])
            if half
            else None,
            "latency_samples": len(low),
            "gen_late_ms_p99": gen_stats["late_ms_p99"],
            "oracle": want,
            "stream": got,
        },
    }
