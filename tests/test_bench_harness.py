"""Unit tests for bench.py's harness logic that must not depend on a
SparkSession: the compact-payload trimmer, the payload file routing
and the payload schema."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_compact_payload_fits_limit_and_records_trim():
    queries = {f"q{i:03d}": 1.234 for i in range(400)}
    payload = {
        "metric": "headline_queries_total",
        "value": 493.6,
        "unit": "sec",
        "mode": "inprocess",
        "queries": queries,
        "sf": 0.1,
    }
    out = bench._compact(payload)
    assert len(json.dumps(out)) <= bench._COMPACT_LIMIT
    assert out["n"] == 400
    assert out["omitted"] == 400 - len(out["queries"])
    assert out["omitted"] > 0
    assert out["mode"] == "inprocess"
    # bench order preserved: the surviving entries are the head
    assert list(out["queries"]) == list(queries)[: len(out["queries"])]


def test_compact_payload_carries_heavy_tail():
    """The ten most expensive queries must reach the driver even when
    the bench-order trim would drop them (r10 verdict item 7)."""
    queries = {f"q{i:03d}": 0.5 for i in range(400)}
    queries["q399"] = 99.9  # dead last in bench order
    queries["q250"] = 42.0
    payload = {
        "metric": "headline_queries_total",
        "value": 341.4,
        "unit": "sec",
        "mode": "inprocess",
        "queries": queries,
        "sf": 0.1,
    }
    out = bench._compact(payload)
    assert len(json.dumps(out)) <= bench._COMPACT_LIMIT
    assert list(out["slowest"])[:2] == ["q399", "q250"]
    assert len(out["slowest"]) == 10
    assert out["slowest"]["q399"] == 99.9


def test_emit_payload_writes_inprocess_payload(monkeypatch, tmp_path, capsys):
    """The full payload lands in the payload file and the compact
    line is stdout's LAST line; both keep the ``"mode": "inprocess"``
    label that committed payload readers key on."""
    local = tmp_path / "BENCH_DRIVER.json"
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONLY", raising=False)
    monkeypatch.setattr(bench, "_local_json_path", lambda: str(local))
    bench._emit_payload({"q0": 1.0, "q1": 2.0}, {"q2": "boom"}, [], False)
    payload = json.loads(open(local).read())
    assert payload["mode"] == "inprocess"
    assert payload["queries"] == {"q0": 1.0, "q1": 2.0}
    assert payload["errors"] == {"q2": "boom"}
    compact = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert compact["mode"] == "inprocess"
    assert compact["n"] == 2 and compact["errors"] == 1


def test_child_payload_path_env_routing(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONLY", raising=False)
    assert bench._payload_path() == bench._local_json_path()
    # BENCH_ONLY adjudication runs must not clobber the committed
    # artifact: payload goes to a temp sidecar
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "corpus_stats")
    assert bench._payload_path() != bench._local_json_path()


def test_cold_store_mode_routes_and_tags(monkeypatch):
    """SPARK_GRAFT_BENCH_COLD_STORE=1 (r13): payloads go to
    BENCH_COLD.json, carry "store": "cold", and the compact line
    preserves the tag; default runs stay "warm" in BENCH_DRIVER.json."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_CANONICAL", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_COLD_STORE", raising=False)
    assert bench._local_json_path().endswith("BENCH_DRIVER.json")
    assert not bench._cold_store()

    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLD_STORE", "1")
    assert bench._cold_store()
    assert bench._local_json_path().endswith("BENCH_COLD.json")
    # cold beats canonical when both are set
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CANONICAL", "1")
    assert bench._local_json_path().endswith("BENCH_COLD.json")

    payload = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "mode": "inprocess",
        "store": "cold",
        "queries": {"q": 1.0},
        "sf": 0.1,
    }
    out = bench._compact(payload)
    assert out["store"] == "cold"
