"""Smoke tests for the benchmark CLIs (each is a judge-facing harness
replicating one BASELINE.md experiment — they must keep running even
when nobody benchmarks for a while). Tiny sizes: these check contract
and JSON shape, not performance."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str]) -> list[dict]:
    out = subprocess.run(
        [sys.executable, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]


def test_volume_bench_smoke():
    rows = _run(["tools/volume_bench.py", "20000"])
    assert rows and rows[-1]["n_rows"] == 20000
    assert rows[-1]["n_inserted"] == 20000  # versions == input events


def test_partitioning_bench_smoke():
    rows = _run(["tools/partitioning_bench.py", "20000"])
    by = {(r["query"], r["strategy"]): r for r in rows}
    assert len(by) == 8
    # the empty-day query returns 0 everywhere; the data-day query
    # returns the same nonzero count under every layout
    assert all(r["rows"] == 0 for (q, _), r in by.items() if q == "q1_empty_day")
    data_counts = {r["rows"] for (q, _), r in by.items() if q == "q2_data_day"}
    assert len(data_counts) == 1 and data_counts != {0}


def test_daily_bench_rebuild_smoke():
    rows = _run(["tools/daily_bench.py", "3", "5000", "rebuild"])
    assert len(rows) == 3
    assert rows[0]["n_inserted"] == 5000 and rows[0]["n_stale"] == 0
    # late injection fires from day 1: stale events arrive AND rebuild
    # into the history instead of being dropped
    assert all(r["n_stale"] > 0 for r in rows[1:])
    assert all(r["n_rebuilt"] > 0 for r in rows[1:])


def test_schema_evolution_bench_smoke():
    rows = _run(["tools/schema_evolution_bench.py", "20000"])
    r = rows[-1]
    assert r["rows_latest"] == r["rows_prev"] + 100
    assert r["append_mergeschema_s"] > 0


def test_metric_report_sections(tmp_path):
    """metric_report.py renders all four notebook sections from the
    artifacts the repo's own tools emit (reference
    metrics/metric_analysis.ipynb analogue)."""
    runs = tmp_path / "metrics"
    runs.mkdir()
    (runs / "part-0.csv").write_text(
        "batch_id,n_total,n_kept,n_null_key,duration_s_validation,"
        "duration_s_merge,duration_s_total,n_inserted,n_closed\n"
        "b1,100,98,2,0.5,1.5,2.0,98,0\n"
        "b2,100,99,1,0.4,1.2,1.6,10,8\n"
    )
    vol = tmp_path / "vol.jsonl"
    vol.write_text(
        '{"n_rows": 100000, "load_s": 2.0, "merge_s": 3.0}\n'
        '{"n_rows": 1000000, "load_s": 8.0, "merge_s": 12.0}\n'
    )
    part = tmp_path / "part.jsonl"
    part.write_text(
        '{"query": "q2", "strategy": "none", "rows": 5, "duration_s": 2.0}\n'
        '{"query": "q2", "strategy": "by_day", "rows": 5, "duration_s": 0.2}\n'
    )
    scale = tmp_path / "scale.jsonl"
    scale.write_text(
        '{"cpus": 4, "total_s": 40.0}\n{"cpus": 32, "total_s": 10.0}\n'
    )
    out = tmp_path / "report.md"
    res = subprocess.run(
        [
            sys.executable,
            "tools/metric_report.py",
            "--runs", str(runs),
            "--volume", str(vol),
            "--partitioning", str(part),
            "--scale", str(scale),
            "--out", str(out),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    md = out.read_text()
    assert "## Pipeline runs" in md and "Average time per phase" in md
    # phase means: validation (0.5+0.4)/2 = 0.45
    assert "0.45" in md
    # volume diff-ratio: (20-5)s / 900k rows = 16.667 us/row
    assert "## Volume scaling" in md and "16.667" in md
    # partitioning pivot keeps both strategies
    assert "by_day" in md and "none" in md
    # scaling speedup 40/10 = 4.0 at 32 cpus
    assert "speedup_vs_min" in md and "4.0" in md


def test_corpus_report_sections(tmp_path):
    out = tmp_path / "report.md"
    res = subprocess.run(
        [
            sys.executable,
            "tools/corpus_report.py",
            "/root/testdata/sf0.001",
            "--out",
            str(out),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"},
    )
    assert res.returncode == 0, res.stderr[-2000:]
    md = out.read_text()
    for section in ("## Volume", "### Language mix", "## Quality",
                    "## Duplication", "## Hygiene", "## Monitors",
                    "### Source drift (unigram KL vs corpus)",
                    "### Source length-distribution drift (log2-histogram L1 vs corpus)",
                    "### Ingest volume anomalies (per event_type/day z-score)",
                    "### Language-ID confusion (heuristic vs table labels)",
                    "### Embedding health (per label)",
                    "### ANN index selection (recall vs exact)",
                    "### Dedup blocker evaluation (MinHash-LSH vs exact Jaccard)",
                    "### Vocabulary shape (Zipf fit)",
                    "### Embedding diversity per label (mean pairwise cosine)",
                    "### Mixture balance (25% per-language cap)",
                    "### Shuffle-key skew pre-flight (events.user_id)"):
        assert section in md
    assert "documents: 500" in md
    assert "nprobe=4: mean recall" in md
    assert "PQ ADOPTED config (m=32 x k=256): mean recall@10" in md
