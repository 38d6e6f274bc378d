"""Seeded input generators for the benchmark.

Two generators, both pure Python and deterministic under ``--seed``:

* ``telemetry``: reference-shaped telemetry JSON (the ``mqtt_publish.js``
  payload: violation probability 0.65, battery probability 0.15, about
  100 devices), written as JSON-lines files into the directory that
  stands in for the ``telemetry.raw`` topic. Run as its own
  single-threaded process it follows a wall-clock schedule (open loop):
  record ``i`` at ``rate`` msg/s is due at ``t0 + i / rate`` and carries
  that due time as ``mqtt_sent_at_ms``. Files are published every
  ``TICK_MS`` by atomic rename, so the program never sees a partial
  file. ``--now`` writes everything at once (warm-up and backlog inputs,
  the byte-identity test).
* ``write_tables``: the ten catalog tables (TPC-H-shaped star schema,
  events, documents, embeddings) as parquet, with the value domains of
  the repository's test data.

Usage (telemetry):
    python3 perfbench/gen.py --seed 7 --out DIR --rate 100 --seconds 4 \
        --t0-ms 1760000000000 --stats STATS.json [--now]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
from pathlib import Path

N_DEVICES = 100
VIOLATION_PROB = 0.65
BATTERY_PROB = 0.15
SPIKE_PROB = 0.25
# Wire pathologies the lenient parser must survive (json_lenient.py).
DOUBLE_ENCODED_PROB = 0.02
MALFORMED_PROB = 0.01
# The deriver keeps only allow-listed types; a few others exercise the filter.
OTHER_VIOLATION_PROB = 0.1
TICK_MS = 50

ACCOUNT_POOL = (
    "693273ad26df5d305f556728",
    "693273ad26df5d305f556729",
    "693273ad26df5d305f556730",
)
VEHICLE_POOL = (
    "694ce21db964dc22844b75eb",
    "693ab2683c72f03dfae8ddc5",
    "694ce21db964dc22844b75ec",
)


def percentile(values: list[float], q: float) -> float:
    """The reference's inverse-CDF percentile: ``sorted[floor(n*q)]``
    (``mqtt_publish.js:80-97``), clamped to the last sample."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[min(int(len(s) * q), len(s) - 1)]


def _hex_id(rng: random.Random) -> str:
    return "".join(rng.choice("0123456789abcdef") for _ in range(24))


def telemetry_record(rng: random.Random, i: int, sent_ms: int) -> str:
    """One telemetry message as it arrives on ``telemetry.raw``."""
    ts = sent_ms // 1000
    speed = round(rng.uniform(0.0, 90.0), 1)
    if rng.random() < SPIKE_PROB:
        accel_y = round(rng.uniform(2.8, 4.5) * rng.choice((1, -1)), 6)
    else:
        accel_y = round(rng.uniform(-1.0, 1.0), 6)
    violations = []
    if rng.random() < VIOLATION_PROB:
        brake = accel_y <= -2.7 or (abs(accel_y) < 2.7 and rng.random() < 0.5)
        violations.append(
            {
                "timestamp": ts,
                "type": "harsh_brake" if brake else "harsh_accel",
                "accel_y": accel_y if abs(accel_y) >= 2.7 else round(
                    rng.uniform(2.8, 4.2) * (-1 if brake else 1), 6
                ),
                "speed_kph": speed,
                "delta_speed": round(rng.uniform(6.0, 20.0) * (-1 if brake else 1), 1),
            }
        )
        if rng.random() < OTHER_VIOLATION_PROB:
            violations.append({"timestamp": 0, "type": "overspeed", "speed_kph": speed})
    rec = {
        "device_uuid": f"device-{i % N_DEVICES + 1}",
        "mqtt_sent_at_ms": sent_ms,
        "timestamp": ts,
        "fix_quality": "1",
        "temp_C": round(rng.uniform(70.0, 90.0), 2),
        "accel_x": round(rng.uniform(-1.0, 5.0), 6),
        "accel_y": accel_y,
        "accel_z": round(9.8 + rng.uniform(-1.0, 2.0), 6),
        "gyro_x": round(rng.uniform(-0.05, 0.05), 6),
        "gyro_y": round(rng.uniform(-0.05, 0.05), 6),
        "gyro_z": round(rng.uniform(-0.05, 0.05), 6),
        "cpu_temp": rng.randint(60, 80),
        "soc_temp": rng.randint(60, 80),
        "main_board_temp": round(rng.uniform(55.0, 75.0), 2),
        "sim_iccid": f"{rng.randint(899198200, 899198299)}{rng.randint(10**9, 2 * 10**9)}",
        "sim_imsi": f"40498{rng.randint(10**9, 2 * 10**9)}",
        "signal_strength_percent": rng.randint(70, 100),
        "imu_is_stopped": rng.random() < 0.1,
        "dashcam_power_source": "battery" if rng.random() < BATTERY_PROB else "external",
        "battery_capacity": rng.randint(60, 90),
        "lat_dir": "N",
        "lon_dir": "E",
        "location_changed": 1,
        "speed_kph": speed,
        "speed_mph": round(speed * 0.621371, 6),
        "ontrip": True,
        "location": {
            "type": "Point",
            "coordinates": [round(rng.uniform(72.0, 73.5), 6), round(rng.uniform(21.0, 23.5), 6)],
        },
        "vehicle_id": rng.choice(VEHICLE_POOL) if rng.random() < 0.6 else _hex_id(rng),
        "account_id": rng.choice(ACCOUNT_POOL) if rng.random() < 0.7 else _hex_id(rng),
        "violations": violations,
    }
    line = json.dumps(rec, separators=(",", ":"))
    u = rng.random()
    if u < MALFORMED_PROB:
        return line[: len(line) // 2]
    if u < MALFORMED_PROB + DOUBLE_ENCODED_PROB:
        return json.dumps(line)
    return line


def schedule(rate: float, seconds: float) -> list[int]:
    """Due offset (ms from t0) of every record at ``rate`` msg/s."""
    if rate <= 0 or seconds <= 0:
        raise ValueError(f"bad rate {rate} or seconds {seconds}")
    return [int(1000.0 * k / rate) for k in range(int(round(rate * seconds)))]


def run_telemetry(
    seed: int,
    out: Path,
    rate: float,
    seconds: float,
    t0_ms: int,
    now: bool,
    prefix: str = "part",
) -> dict:
    """Write the schedule's records into ``out``; return generator stats."""
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    due = schedule(rate, seconds)
    # Draw every record before the clock starts so the schedule loop
    # only formats and renames.
    lines = [telemetry_record(rng, i, t0_ms + d) for i, d in enumerate(due)]
    ticks: dict[int, list[str]] = {}
    for d, line in zip(due, lines):
        ticks.setdefault(d // TICK_MS + 1, []).append(line)
    late_ms: list[float] = []
    for seq, tick in enumerate(sorted(ticks)):
        publish_ms = t0_ms + tick * TICK_MS
        if not now:
            wait = publish_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
        tmp = out / f".{prefix}-{seq:06d}.tmp"
        tmp.write_text("\n".join(ticks[tick]) + "\n")
        os.rename(tmp, out / f"{prefix}-{seq:06d}.json")
        if not now:
            late_ms.append(max(0.0, time.time() * 1000.0 - publish_ms))
    return {
        "records": len(lines),
        "files": len(ticks),
        "late_ms_p99": percentile(late_ms, 0.99) if late_ms else 0.0,
    }


# --------------------------------------------------------------- tables

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)


def write_tables(out_dir: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf`` (1.0 ≈ 6M lineitems);
    returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    us_day = 86_400_000_000
    epoch_1995 = 788_918_400_000_000

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts_us(values):
        return pa.array(values.astype("int64"), pa.timestamp("us"))

    def pick(options, n, p=None):
        return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)].tolist())

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        np.array("blue cold hot large new old red small".split())[rng.integers(0, 8, n_part)],
                        np.array("anvil bolt gear gizmo plate ring rod widget".split())[rng.integers(0, 8, n_part)],
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
        },
    }
    o_date = epoch_1995 + rng.integers(0, 2400, n_ord) * us_day
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
        "o_orderdate": ts_us(o_date),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = {
        "l_orderkey": pa.array(l_order.astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array((np.arange(n_line) - starts + 1).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": ts_us(o_date[l_order] + rng.integers(1, 122, n_line) * us_day),
    }
    ev_ts = 1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * us_day, n_events))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": ts_us(ev_ts),
        "user_id": pa.array(rng.integers(0, max(150, n_events // 66), n_events).astype("int64")),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_events),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pick(_LANGS, n_docs, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out_dir / f"{name}.parquet")
        counts[name] = t.num_rows
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--rate", type=float, required=True, help="records per second")
    ap.add_argument("--seconds", type=float, required=True, help="length of the schedule")
    ap.add_argument("--t0-ms", type=int, required=True, help="epoch ms the first record is due")
    ap.add_argument("--stats", type=Path, help="write generator stats JSON here")
    ap.add_argument("--now", action="store_true", help="write every file at once")
    args = ap.parse_args()
    stats = run_telemetry(
        args.seed, args.out, args.rate, args.seconds, args.t0_ms, args.now
    )
    if args.stats:
        args.stats.write_text(json.dumps(stats))


if __name__ == "__main__":
    main()
