"""Self-test of the benchmark at tiny scale (sf0.001, small counts).

    python3 -m pytest perfbench/tests -q

Runs every workload in this process with shrunken inputs, traced and
untraced, and checks the benchmark's own contract: every metric named
in BENCHMARK.json is printed with its unit, a corrupted expected digest
is counted as a failed request, and the spans of a traced run account
for their whole duration.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAMES = [w["name"] for w in SPEC["workloads"]]


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    for name, value in {
        "N_TRADES": 1000, "N_CORPUS": 40, "N_BATCH": 15,
        "BACKFILL_MS": 10 * 60_000, "BATCH_ROWS": 1000, "PAGE_ROWS": 500,
        "INTERRUPT_AFTER": 2, "STREAM_FILES": 10, "STREAM_ROWS": 50,
    }.items():
        monkeypatch.setattr(workloads, name, value)


def run_once(capsys, workload: str, trace: int, seed: int = 3) -> dict:
    assert bench.main(["--workload", workload, "--seed", str(seed), "--seconds", "0", "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(capsys, workload, trace):
    res = run_once(capsys, workload, trace)
    section = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in section]
    for m in section:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_corrupted_expected_digest_counts_as_failed(capsys, monkeypatch):
    real = checks.oracle_digest
    monkeypatch.setattr(checks, "oracle_digest", lambda con, sql: "corrupt-" + real(con, sql))
    res = run_once(capsys, "options_interactive", 1)
    assert not res["correct"] and res["failed"] > 0
    assert res["metrics"]["failed_frac"]["value"] > 0


def test_traced_spans_self_times_sum_to_durations(capsys):
    run_once(capsys, "ingest_curation", 1, seed=5)
    with open(os.path.join(ROOT, ".perfbench_work", "spans", "ingest_curation-5.json")) as f:
        spans = json.load(f)["spans"]
    assert spans
    kids: dict = {}
    for s in spans:
        assert s["request"] and s["end"] >= s["start"]
        kids.setdefault(s["parent"], []).append(s)

    def subtree_self(s) -> float:
        return s["self_s"] + sum(subtree_self(c) for c in kids.get(s["id"], []))

    for root in kids[None]:
        assert subtree_self(root) == pytest.approx(root["end"] - root["start"], abs=1e-6)


def test_generated_batch_expectation_matches_the_dedup_oracle(tmp_path):
    from gapless_deribit_clickhouse_spark import entry_queries

    c = gen.corpus_and_batch(7, 60, 30, 0.2)
    for sub, tbl in (("corpus", c.corpus), ("batch", c.batch)):
        os.makedirs(tmp_path / sub)
        import pyarrow.parquet as pq

        pq.write_table(tbl, str(tmp_path / sub / "documents.parquet"))
    con = checks.duck({"documents": str(tmp_path / "*" / "documents.parquet")})
    kept = con.execute(entry_queries.oracle_sql()["incremental_dedup"]).df()["doc_id"]
    assert set(kept) == c.batch_kept
