"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from run import WORKLOADS, end_to_end  # noqa: E402
from tracing import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RECORD_PATH = (
    "functions.json_lenient.parse_s",
    "operators.violations.derive_s",
    "sources.kafka.records_for_kafka_s",
    "streaming.consumer.route_s",
    "streaming.consumer.counts_s",
    "streaming.sessions.consolidate_s",
    "operators.violations.rows_out",
)


def test_percentile_is_the_reference_definition():
    # mqtt_publish.js: sorted[floor(n * q)]
    values = [30, 8, 19, 4, 37, 10, 12, 9, 11, 8]
    s = sorted(values)
    for q in (0.0, 0.5, 0.9, 0.95, 0.99):
        assert gen.percentile(values, q) == s[int(len(s) * q)]
    assert gen.percentile(values, 1.0) == max(values)
    with pytest.raises(ValueError):
        gen.percentile([], 0.5)


def _gen(tmp: Path, seed: int) -> dict[str, bytes]:
    out = tmp / f"g{seed}-{len(list(tmp.iterdir()))}"
    subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--seed", str(seed), "--out", str(out),
         "--rate", "500", "--seconds", "2", "--t0-ms", "1760000000000", "--now"],
        check=True,
    )
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = _gen(tmp_path, 7), _gen(tmp_path, 7), _gen(tmp_path, 8)
    assert a == b
    assert a != c
    records = [line for body in a.values() for line in body.decode().splitlines()]
    assert len(records) == 1000


def test_table_generator_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    counts = gen.write_tables(tmp_path / "a", 3, 0.001)
    gen.write_tables(tmp_path / "b", 3, 0.001)
    assert counts["lineitem"] == 6000
    for t in counts:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet")
        )


def test_metric_names_match_the_spec():
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    layers = [m["name"] for m in SPEC["per_layer"]]
    names = e2e + layers + [w["name"] for w in SPEC["workloads"]]
    assert len(set(e2e + layers)) == len(e2e + layers)
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    fake = {"setup_s": 1.0, "latencies_ms": [5.0, 7.0], "ops_per_s": 3.0,
            "failed": 0, "attempted": 2}
    assert list(end_to_end(fake, 10.0)) == e2e
    assert sorted(Tracer().metrics(layers, {})) == sorted(layers)


def _run(cwd: Path, workload: str, trace: int, out: Path) -> tuple[int, str]:
    """Exit code and standard output of one run. The output goes to a
    file, not a pipe, so this returns when run.py exits rather than when
    the last process that inherited the pipe does."""
    with open(out, "w") as f:
        rc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
             "--seconds", "1", "--trace", str(trace)],
            cwd=cwd, stdout=f, timeout=600, check=False,
        ).returncode
    return rc, out.read_text()


def _left_running() -> list[int]:
    """Pids of processes started by a run (their environment points into
    its temp root) that are still alive."""
    marker = str(ROOT / ".perfbench_tmp").encode()
    pids = []
    for d in os.listdir("/proc"):
        try:
            if d.isdigit() and marker in Path(f"/proc/{d}/environ").read_bytes():
                pids.append(int(d))
        except OSError:
            continue
    return pids


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload, trace, tmp_path):
    rc, stdout = _run(ROOT, workload, trace, tmp_path / "stdout")
    assert rc == 0
    assert not _left_running()
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    assert list(result["metrics"]) == [m["name"] for m in SPEC[section]]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "stream_live":
        # every record-path layer has a measurable self time on the
        # backlog; rows_dropped is a count that is 0 when nothing drops
        values = {k: v["value"] for k, v in result["metrics"].items()}
        assert all(values[n] > 0 for n in RECORD_PATH), values
    assert not (ROOT / ".perfbench_tmp").exists()


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, stdout = _run(tmp_path, WORKLOADS[0], 0, tmp_path / "stdout")
    assert rc != 0
    assert "metrics" not in stdout
