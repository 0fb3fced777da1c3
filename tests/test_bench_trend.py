"""Round-14 verdict item 7: bench.py appends its own trend row to
BASELINE.md (the table can't lag the JSON anymore). Pure-python —
no SparkSession."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

TABLE = """# fake baseline

| round | total | cal | per_cal | brute | dedup | minhash | clusters | simhash | q1 | q3 | tumble | sess | asof | wc | tok | docq |
|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|
| r12 | 14.24 | 0.28 | 50.9 | 0.88 | 0.82 | 2.55 | 2.82 | 1.18 | 1.18 | 1.22 | 0.39 | 0.50 | 0.89 | 0.23 | 0.32 | 1.27 |
| r13 | 12.35 | 0.19 | 65.0 | 0.53 | 0.60 | 2.50 | 2.89 | 0.87 | 1.00 | 1.14 | 0.35 | 0.44 | 0.72 | 0.21 | 0.28 | 0.81 |

tail text stays put
"""

OUT = {
    "value": 13.5,
    "calibration": 0.21,
    "queries": {
        "similarity_topk_bruteforce": 0.5,
        "dedup_exact": 0.61,
        "minhash_near_dup_pairs": 2.4,
        "wordcount": 0.2,
    },
}


@pytest.fixture
def baseline(tmp_path, monkeypatch):
    p = tmp_path / "BASELINE.md"
    p.write_text(TABLE)
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "14")
    # pin the default core count: the append is skipped on any other
    # (test_non_default_core_run_skips_append covers that path)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    return str(p)


def test_appends_row_after_last(baseline):
    bench.append_trend_row(OUT, path=baseline)
    lines = open(baseline).read().splitlines()
    i13 = next(i for i, l in enumerate(lines) if l.startswith("| r13 |"))
    # per_cal is stamped from THIS run's own total/cal (13.5/0.21)
    assert lines[i13 + 1].startswith("| r14 | 13.50 | 0.21 | 64.3 | 0.50 | 0.61 |")
    # missing headline queries render as em-dash, tail text untouched
    assert "| — |" in lines[i13 + 1]
    assert lines[-1] == "tail text stays put"


def test_rerun_replaces_own_row(baseline):
    bench.append_trend_row(OUT, path=baseline)
    bench.append_trend_row({**OUT, "value": 12.0}, path=baseline)
    text = open(baseline).read()
    assert text.count("| r14 |") == 1
    assert "| r14 | 12.00 |" in text


def test_non_default_core_run_skips_append(baseline, monkeypatch):
    """r17 verdict item 2 wart: the driver's 8-core re-run must not
    replace the round's 32-core trend row (it overwrote r16's)."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    bench.append_trend_row(OUT, path=baseline)
    assert "| r14 |" not in open(baseline).read()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    bench.append_trend_row(OUT, path=baseline)
    assert "| r14 |" in open(baseline).read()


def test_missing_table_raises(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "14")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    p = tmp_path / "BASELINE.md"
    p.write_text("no table here\n")
    with pytest.raises(RuntimeError, match="trend table"):
        bench.append_trend_row(OUT, path=str(p))


def test_round_inferred_from_bench_files(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    # the repo currently records BENCH_r*.json through last round
    assert bench._current_round() >= 14


def test_rerun_after_driver_write_replaces_not_appends(tmp_path, monkeypatch):
    """ADVICE r14: once the driver has written BENCH_r{N}.json (still
    uncommitted — the driver commits round artifacts when the NEXT
    round starts), a bench re-run must identify as round N, not N+1."""
    import subprocess

    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
    committed = tmp_path / "BENCH_r7.json"
    committed.write_text("{}")
    subprocess.run(
        ["git", "-C", str(tmp_path), "add", "BENCH_r7.json"], check=True
    )
    subprocess.run(
        ["git", "-C", str(tmp_path), "-c", "user.email=t@t",
         "-c", "user.name=t", "commit", "-qm", "r7"],
        check=True,
    )
    # only committed files: normal mid-round run -> next round
    assert bench._current_round(str(tmp_path)) == 8
    # driver wrote r8's JSON but hasn't committed it: re-run stays r8
    (tmp_path / "BENCH_r8.json").write_text("{}")
    assert bench._current_round(str(tmp_path)) == 8
