"""Tests for the benchmark itself: tiny end-to-end runs of every workload,
and the output check catching a mutated expected text or a dropped row.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, inputs  # noqa: E402

TINY = 0.02


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_tiny_end_to_end(workload):
    out = _run(workload, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] > 0
    spec = _spec()
    assert set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


def test_tiny_traced_run_reports_every_layer():
    out = _run("pdf_archive", trace=1)
    assert out["correct"] is True
    assert set(out["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    assert out["metrics"]["explode_stage.task_s"]["value"] > 0
    assert out["metrics"]["ocr_stage.replay_coverage"]["value"] > 0


@pytest.fixture(scope="module")
def crawl_sink(tmp_path_factory):
    """A parquet sink holding exactly the expected output of a tiny
    crawl table, as the pipeline writes it."""
    table, _, _ = inputs.build("crawl", 48, 8, seed=5)
    sink = tmp_path_factory.mktemp("sink")
    urls = list(table.expected)
    pq.write_table(pa.table({
        "url": urls,
        "extracted_text": [table.expected[u][0] for u in urls],
        "n_chars": [0] * len(urls),
        "ok": [True] * len(urls),
        "error": [None] * len(urls),
        "branch": [table.expected[u][1] for u in urls],
    }), os.path.join(sink, "part-00000.parquet"))
    return table, str(sink)


def test_check_accepts_expected_output(crawl_sink):
    table, sink = crawl_sink
    res = check.check_sink(sink, table.expected)
    assert (res.attempted, res.failed) == (len(table), 0)


def test_check_fails_on_mutated_expected_text(crawl_sink):
    table, sink = crawl_sink
    expected = dict(table.expected)
    url = next(iter(expected))
    text, branch = expected[url]
    expected[url] = (text[:-1] + ("x" if text[-1:] != "x" else "y"), branch)
    res = check.check_sink(sink, expected)
    assert res.failed == 1
    assert res.examples[0][0] == url


def test_check_fails_on_dropped_row(crawl_sink):
    table, sink = crawl_sink
    rows = check.read_sink(sink)
    dropped = rows[7][0]
    res = check.check_rows(rows[:7] + rows[8:], table.expected)
    assert res.failed == 1
    assert res.examples == [(dropped, "missing")]


def test_check_fails_on_quarantined_row(crawl_sink):
    table, sink = crawl_sink
    rows = check.read_sink(sink)
    url, text, _, branch = rows[0]
    res = check.check_rows([(url, text, False, branch)] + rows[1:], table.expected)
    assert res.failed == 1


def test_supervisor_leaves_no_process_behind(tmp_path):
    """A child that leaves a detached process (new session, so outside
    its process group) still ends with nothing left running."""
    pidfile = tmp_path / "orphan.pid"
    script = tmp_path / "leak.py"
    script.write_text(
        "import subprocess, sys\n"
        "p = subprocess.Popen(['sleep', '120'], start_new_session=True)\n"
        f"open({str(pidfile)!r}, 'w').write(str(p.pid))\n"
        "sys.exit(3)\n")
    proc = subprocess.run(
        [sys.executable, "-c",
         "import sys; from perfbench import supervise; "
         f"sys.exit(supervise.run({str(script)!r}, []))"],
        cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 3, proc.stderr
    orphan = int(pidfile.read_text())
    assert not os.path.exists(f"/proc/{orphan}")
