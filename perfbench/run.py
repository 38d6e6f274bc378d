#!/usr/bin/env python3
"""Benchmark of the kafka_flink_harshevents_spark engine.

One run:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (the reasons for each are in BENCHMARK.json):

* ``stream_live``: an open loop at 100 msg/s through the full derive →
  latency/counters/sessions topology on default triggers;
* ``tables``: a pinned list of catalog entries and ``q_txlog_*`` ACID
  gates, each constructed then materialized through ``noop``.

Every workload reports the same end-to-end metrics (the names in
BENCHMARK.json): the per-operation latency is the open-loop record
latency for ``stream_live`` and the per-entry wall for ``tables``;
``ops_per_s`` is published records processed (a keep-up check at the
fixed offered rate) and entries completed per second.
``--seconds`` is the open loop's length; ``tables`` times one pass. With
``--trace 1`` the run is traced from outside the package (timers around
its public calls, a ``StreamingQueryListener`` and Spark's SQL status
store) and reports the per-layer metrics instead; layers a workload
bypasses report 0. Human-readable lines go to stderr and a
``perfbench-detail`` JSON line to stdout; the last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.

``--workload all --runs N`` runs each workload N times (seeds ``--seed``
onwards, each run in its own process) and prints one summary line of
medians; ``--record PATH`` adds one traced run per workload and writes
the baseline (core count, medians, quartiles, spreads, per-layer values,
tracing overhead) to PATH:

    python3 perfbench/run.py --workload all --seed 1 --seconds 10 \
        --runs 10 --record perfbench/baseline.json
"""

from __future__ import annotations

import argparse
import json
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import (  # noqa: E402
    ROOT,
    PeakMemory,
    RunEnv,
    become_subreaper,
    host_cores,
    log,
    reap_descendants,
)
from gen import percentile  # noqa: E402

WORKLOADS = ("stream_live", "tables")


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def end_to_end(res: dict, peak_mem_mb: float) -> dict[str, float]:
    lat = res["latencies_ms"]
    if not lat:
        raise RuntimeError("the run produced no latency samples")
    return {
        "setup_s": res["setup_s"],
        "p50_ms": percentile(lat, 0.5),
        "p90_ms": percentile(lat, 0.9),
        "geomean_ms": statistics.geometric_mean([max(x, 1e-3) for x in lat]),
        "ops_per_s": res["ops_per_s"],
        "peak_mem_mb": peak_mem_mb,
        "ok_frac": 1.0 - res["failed"] / res["attempted"],
    }


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    with RunEnv() as env, PeakMemory() as mem:
        tracer = None
        if trace:
            from tracing import Tracer

            tracer = Tracer()
        if workload == "stream_live":
            from stream import run_live as fn
        else:
            from tables import run_tables as fn
        res = fn(env, seed, seconds, tracer, mem)
        if tracer:
            res["layers"] = tracer.metrics([m["name"] for m in spec()["per_layer"]], res)
            res.setdefault("extra", {})["phase_accounting"] = tracer.accounting()
    res["end_to_end"] = end_to_end(res, mem.peak_mb)
    return res


def report(workload: str, res: dict, trace: bool) -> dict:
    s = spec()
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    if trace:
        names = [m["name"] for m in s["per_layer"]]
        values = res["layers"]
    else:
        names = [m["name"] for m in s["end_to_end"]]
        values = res["end_to_end"]
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
    for n, v in res["end_to_end"].items():
        log(f"{workload} {n} = {v:.6g} {units[n]}")
    log(f"{workload} failed_frac = {res['failed'] / res['attempted']:.6g} ratio")
    for n, v in res.get("extra", {}).items():
        log(f"{workload} {n} = {v}")
    print("perfbench-detail " + json.dumps(
        {"workload": workload, "end_to_end": res["end_to_end"], "extra": res.get("extra", {}),
         "layers": res.get("layers", {})}, default=str))
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def _child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run in its own process (its own JVM)."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: {workload} seed {seed} trace {trace} exited {proc.returncode}")
    detail = next(json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-detail "))
    return {"result": json.loads(lines[-1]), "run_wall_s": time.perf_counter() - t0, **detail}


def _summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def run_all(seed: int, seconds: float, runs: int, record: Path | None) -> None:
    """``runs`` untraced runs of every workload on seeds ``seed`` ...
    ``seed + runs - 1`` and, when recording, one traced run each. The
    record holds the host's core count, each end-to-end metric's median,
    quartiles and spread (interquartile range over median), the traced
    per-layer values and the tracing overhead: the traced run's
    end-to-end values over the untraced medians, minus one."""
    out: dict = {"host_cores": host_cores(), "seconds": seconds, "runs": runs, "workloads": {}}
    ok = True
    for w in WORKLOADS:
        untraced = [_child(w, seed + i, seconds, 0) for i in range(runs)]
        ok = ok and all(r["result"]["correct"] for r in untraced)
        e2e = {k: _summary([r["end_to_end"][k] for r in untraced]) for k in untraced[0]["end_to_end"]}
        extra = {
            k: _summary([r["extra"][k] for r in untraced])
            for k, v in untraced[0]["extra"].items()
            if isinstance(v, (int, float)) and all(isinstance(r["extra"].get(k), (int, float)) for r in untraced)
        }
        entry = {"end_to_end": e2e, "extra": extra,
                 "run_wall_s": _summary([r["run_wall_s"] for r in untraced])}
        if record:
            traced = _child(w, seed, seconds, 1)
            ok = ok and traced["result"]["correct"]
            entry["traced"] = {"layers": traced["layers"], "end_to_end": traced["end_to_end"],
                               "extra": traced["extra"], "run_wall_s": traced["run_wall_s"]}
            entry["tracing_overhead"] = {
                k: traced["end_to_end"][k] / e2e[k]["median"] - 1.0
                for k in e2e if e2e[k]["median"]
            }
        out["workloads"][w] = entry
    if record:
        record.write_text(json.dumps(out, indent=1, default=str) + "\n")
    print(json.dumps({"correct": ok, "workloads": {
        w: {k: v["median"] for k, v in e["end_to_end"].items()} for w, e in out["workloads"].items()}}))


def main() -> None:
    ap = argparse.ArgumentParser(description="kafka_flink_harshevents_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--runs", type=int, default=2, help="with --workload all: runs per workload")
    ap.add_argument("--record", type=Path, help="with --workload all: write the baseline here")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2 (quartiles need two values)")
    # No process the run starts (Spark's JVM and Python workers, the
    # input generator, child runs) outlives it, on any way out.
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "all":
            run_all(args.seed, args.seconds, args.runs, args.record)
            return
        res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
        print(json.dumps(report(args.workload, res, bool(args.trace))), flush=True)
    finally:
        reap_descendants()


if __name__ == "__main__":
    main()
