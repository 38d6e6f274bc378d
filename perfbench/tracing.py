"""Per-layer tracing, entirely from outside the package.

* Stream layers: one ``StreamingQueryListener`` collects every progress
  event; per query, the medians of the ``durationMs`` phases over the
  batches that read data, the batch count, rows per batch and the state
  operators' rows, bytes and commit time. A sampler thread counts the
  input files each query has not yet read (``input_lag_files``).
* Catalog and gate layers: ``Tracer.call`` times construction and
  execution of one entry, counts its jobs and stages through job groups
  and the status tracker, and sums shuffle, spill and scan bytes over the
  SQL executions it started, read from Spark's SQL status store.
* Record path: ``record_path`` runs the stream topology's layers in
  batch over a seeded backlog of ``BACKLOG_RECORDS`` records, large
  enough that per-record CPU, not per-job fixed cost, dominates; each
  layer is timed alone on its cached input. The session layer has no
  batch mode and is timed through its batch twin
  (``operators.sessions.sessionize_batch``).

Every per-layer name in BENCHMARK.json gets a value; a layer the
workload does not run reports 0.

What each layer should move (end-to-end metric @ workload), and where it
should leave the numbers unchanged:

- stream.<query>.* batch phases: p50_ms, p90_ms @ stream_live; tables.
- stream.*.state_*, stream.*.input_lag_files, gen.late_ms_p99:
  p90_ms @ stream_live; tables.
- record path (functions.*, operators.*, sources.kafka.*, streaming.*):
  p90_ms @ stream_live once batches grow; tables.
- queries.<family>.*: ops_per_s, geomean_ms @ tables; stream_live.
- sources.txlog.*: ops_per_s, p90_ms @ tables; stream_live.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from pathlib import Path

STREAM_QUERIES = ("derive", "latency", "counters", "sessions")
QUERY_LAYER = {
    "derive": "derive",
    "latency_records": "latency",
    "violation_type_counters": "counters",
    "status_sessions": "sessions",
}
PHASES = {
    "trigger_ms": "triggerExecution",
    "planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}
SQL_METRICS = {  # SQL metric name → per-layer suffix
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "size of files read": "scan_bytes",
}
BACKLOG_RECORDS = 100_000
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _size_bytes(text: str) -> float:
    """Total of a size metric as the status store formats it: either
    ``"12.3 MiB"`` or ``"total (min, med, max ...)\\n12.3 MiB (...)"``."""
    m = re.search(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.lag: dict[str, list[int]] = {"derive": [], "consumer": []}
        self.calls: dict[str, dict[str, float]] = {}
        self.record_layers: dict[str, float] = {}
        self.writes = {"commits": 0.0, "files_written": 0.0, "bytes_written": 0.0}
        self._listener = None
        self._spark = None
        self._sampler: threading.Thread | None = None
        self._stop = threading.Event()

    # ---------------------------------------------------------- streams

    def attach(self, spark, dirs) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                layer = QUERY_LAYER.get(p.get("name"))
                if layer:
                    tracer.progress.setdefault(layer, []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = Listener()
        spark.streams.addListener(self._listener)
        self._stop.clear()
        self._sampler = threading.Thread(target=self._sample_lag, args=(dirs,), daemon=True)
        self._sampler.start()

    def detach(self) -> None:
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join()
            self._sampler = None

    def _sample_lag(self, dirs) -> None:
        """Input files not yet read: raw files minus those the derive
        query's source log lists; wire files minus those the latency
        query's source log lists."""
        from stream import sink_batches

        def read_files(ckpt: Path) -> int:
            src = ckpt / "sources" / "0"
            seen = set()
            for p in src.iterdir() if src.is_dir() else ():
                if p.name.split(".")[0].isdigit():
                    for line in p.read_text().splitlines()[1:]:
                        seen.add(json.loads(line)["path"])
            return len(seen)

        while not self._stop.wait(0.1):
            try:
                raw = sum(1 for p in dirs.raw.iterdir() if p.name.endswith(".json"))
                wire = sum(len(f) for f in sink_batches(dirs.wire).values())
                self.lag["derive"].append(max(0, raw - read_files(dirs.ckpt / "derive")))
                self.lag["consumer"].append(max(0, wire - read_files(dirs.ckpt / "latencies")))
            except (OSError, ValueError):
                continue  # a log file was being written; sample again

    def _data_batches(self, q: str) -> list[dict]:
        return [p for p in self.progress.get(q, []) if p["numInputRows"] > 0]

    def accounting(self) -> dict[str, float]:
        """Per query: the sum of the phase medians over the trigger median."""
        out = {}
        for q in STREAM_QUERIES:
            batches = self._data_batches(q)
            if not batches:
                continue
            phases = {k for p in batches for k in p["durationMs"]} - {"triggerExecution"}
            total = sum(statistics.median(p["durationMs"].get(k, 0) for p in batches) for k in phases)
            out[q] = total / max(1e-9, statistics.median(p["durationMs"]["triggerExecution"] for p in batches))
        return out

    def _stream_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for q in STREAM_QUERIES:
            batches = self._data_batches(q)
            for name, phase in PHASES.items():
                vals = [p["durationMs"].get(phase, 0) for p in batches]
                out[f"stream.{q}.{name}"] = statistics.median(vals) if vals else 0.0
            out[f"stream.{q}.batches"] = len(batches)
            out[f"stream.{q}.rows_per_batch"] = (
                statistics.median(p["numInputRows"] for p in batches) if batches else 0.0
            )
        for q in ("sessions", "counters"):
            ops = [p["stateOperators"][0] for p in self.progress.get(q, []) if p["stateOperators"]]
            out[f"stream.{q}.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
            if q == "sessions":
                out["stream.sessions.state_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
                commits = [o["commitTimeMs"] for o in ops]
                out["stream.sessions.state_commit_ms"] = statistics.median(commits) if commits else 0.0
        for q, samples in self.lag.items():
            out[f"stream.{q}.input_lag_files"] = statistics.median(samples) if samples else 0.0
        return out

    def record_path(self, spark, raw: Path, seed: int, repeats: int = 3) -> None:
        """Self time of each record-path layer over a backlog of
        ``BACKLOG_RECORDS`` records written into ``raw`` from ``seed``.
        Layer by layer, the layer's input is cached first and the layer
        alone is then materialized through ``noop``, median of
        ``repeats``; its output becomes the next layer's cached input."""
        from gen import run_telemetry

        from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
        from kafka_flink_harshevents_spark.operators.sessions import (
            SESSION_TTL_SECONDS,
            sessionize_batch,
        )
        from kafka_flink_harshevents_spark.operators.violations import (
            device_status_from_telemetry,
            violations_from_telemetry,
        )
        from kafka_flink_harshevents_spark.plans.pipeline import as_event_stream
        from kafka_flink_harshevents_spark.sources.kafka import (
            DEVICE_STATUS_TOPIC,
            VIOLATIONS_TOPIC,
            records_for_kafka,
        )
        from kafka_flink_harshevents_spark.streaming.consumer import (
            route_device_status,
            route_violations,
            violation_type_counts,
        )

        # one file per 50 ms tick: 20 files of BACKLOG_RECORDS / 20
        run_telemetry(seed, raw, BACKLOG_RECORDS, 1.0, int(time.time() * 1000), True, "backlog")
        held = []

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def cached(df):
            held.append(df.cache())
            noop(df)
            return df

        def wall(df) -> float:
            walls = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                noop(df)
                walls.append(time.perf_counter() - t0)
            return statistics.median(walls)

        t: dict[str, float] = {}

        def step(name: str, df):
            t[name] = wall(df)
            return cached(df)

        text = cached(spark.read.text(str(raw)))
        parsed = step("parse", parse_telemetry(text))
        violations = step("derive", violations_from_telemetry(parsed))
        v_wire = step("wire", as_event_stream(records_for_kafka(violations), VIOLATIONS_TOPIC, 0))
        routed = step("route", route_violations(v_wire))
        t["counts"] = wall(violation_type_counts(routed))
        s_wire = cached(
            as_event_stream(records_for_kafka(device_status_from_telemetry(parsed)), DEVICE_STATUS_TOPIC, 0)
        )
        status = cached(route_device_status(s_wire))
        t["sessions"] = wall(sessionize_batch(status, "device_uuid", "timestamp", SESSION_TTL_SECONDS))
        n_wire = v_wire.count() + s_wire.count()
        self.record_layers = {
            "functions.json_lenient.parse_s": t["parse"],
            "operators.violations.derive_s": t["derive"],
            "sources.kafka.records_for_kafka_s": t["wire"],
            "streaming.consumer.route_s": t["route"],
            "streaming.consumer.counts_s": t["counts"],
            "streaming.sessions.consolidate_s": t["sessions"],
            "operators.violations.rows_out": violations.count(),
            "streaming.consumer.rows_dropped": n_wire - routed.count() - status.count(),
        }
        for df in held:
            df.unpersist()

    # ---------------------------------------------------- catalog/gates

    def call(self, spark, layer: str, build, run) -> tuple[float, object]:
        """Time ``build()`` (construction) then ``run(df)`` (execution)
        under job groups, add the counts to ``layer``'s totals and return
        the construct + execute wall (without the bookkeeping) and what
        ``run`` returned."""
        sc = spark.sparkContext
        store = spark._jsparkSession.sharedState().statusStore()
        acc = self.calls.setdefault(layer, {})
        group = f"perfbench-{layer}-{time.monotonic_ns()}"
        sc.setJobGroup(group + "-c", layer)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        first_exec = store.executionsCount()
        sc.setJobGroup(group + "-x", layer)
        t2 = time.perf_counter()
        out = run(df)
        t3 = time.perf_counter()
        sc.setJobGroup("perfbench-idle", "idle")
        st = sc.statusTracker()
        c_jobs = st.getJobIdsForGroup(group + "-c")
        x_jobs = st.getJobIdsForGroup(group + "-x")
        stages = sum(len(st.getJobInfo(j).stageIds) for j in list(c_jobs) + list(x_jobs) if st.getJobInfo(j))
        for k, v in (
            ("construct_s", t1 - t0),
            ("exec_s", t3 - t2),
            ("construct_jobs", len(c_jobs)),
            ("exec_jobs", len(x_jobs)),
            ("stages", stages),
        ):
            acc[k] = acc.get(k, 0.0) + v
        for k, v in self._sql_bytes(store, first_exec).items():
            acc[k] = acc.get(k, 0.0) + v
        return (t1 - t0) + (t3 - t2), out

    @staticmethod
    def _sql_bytes(store, first_exec: int) -> dict[str, float]:
        totals = dict.fromkeys(SQL_METRICS.values(), 0.0)
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() < first_exec:
                continue
            wanted = {}
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in SQL_METRICS:
                    wanted[m.accumulatorId()] = SQL_METRICS[m.name()]
            if not wanted:
                continue
            values = store.executionMetrics(e.executionId())
            for acc_id, key in wanted.items():
                v = values.get(acc_id)
                if v.isDefined():
                    totals[key] += _size_bytes(v.get())
        return totals

    def count_writes(self, root: Path) -> None:
        """Add the files, bytes and txlog commits written under ``root``."""
        for p in root.rglob("*"):
            if p.is_file():
                self.writes["files_written"] += 1
                self.writes["bytes_written"] += p.stat().st_size
                if p.parent.name == "_txlog" and p.stem.isdigit():
                    self.writes["commits"] += 1

    # ------------------------------------------------------------ total

    def metrics(self, names: list[str], res: dict) -> dict[str, float]:
        out = dict.fromkeys(names, 0.0)
        out.update(self._stream_metrics())
        for layer, acc in self.calls.items():
            if layer == "sources.txlog":
                out["sources.txlog.construct_s"] = acc["construct_s"]
                out["sources.txlog.exec_s"] = acc["exec_s"]
                out["sources.txlog.jobs"] = acc["construct_jobs"] + acc["exec_jobs"]
                out.update({f"sources.txlog.{k}": v for k, v in self.writes.items()})
            else:
                out.update({f"{layer}.{k}": v for k, v in acc.items()})
        out.update(self.record_layers)
        if "gen_stats" in res:
            out["gen.late_ms_p99"] = res["gen_stats"]["late_ms_p99"]
        unknown = set(out) - set(names)
        if unknown:
            raise RuntimeError(f"trace produced undeclared metrics: {sorted(unknown)}")
        return out
