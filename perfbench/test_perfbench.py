"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
from tracing import Span, self_times, tail_percentile, union_length  # noqa: E402


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(root).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _generate(root: Path, seed: int) -> str:
    gen.lake(root / "lake", gen.rng_for(seed, 2), 0.001)
    rng = gen.rng_for(seed, 1)
    src = gen.LineitemSource(rng, 200)
    src.write_drop(src.base_rows(), root / "raw" / "d0", 2)
    src.write_drop(src.advance(0.05, 1.0), root / "raw" / "d1", 1)
    pool: list[str] = []
    for b in range(2):
        docs, _ = gen.documents(gen.rng_for(seed, 5), 50, b * 50, 0.2, pool)
        gen.write_parquet(docs, root / "docs" / f"{b}.parquet")
    gen.write_parquet(gen.embeddings(gen.rng_for(seed, 4), 40), root / "emb.parquet")
    return _digest(root)


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _generate(tmp_path / "a", 7) == _generate(tmp_path / "b", 7)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _generate(tmp_path / "a", 7) != _generate(tmp_path / "b", 8)


def test_planted_duplicates_are_near_copies():
    pool: list[str] = []
    table, planted = gen.documents(gen.rng_for(3, 5), 400, 0, 0.2, pool)
    assert planted
    texts = table.column("text").to_pylist()

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    for d in planted:
        best = max(
            len(shingles(texts[d]) & shingles(texts[o]))
            / len(shingles(texts[d]) | shingles(texts[o]))
            for o in range(d)
        )
        assert best >= 0.96


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 31)]  # 1..30
    value, pct, n = tail_percentile(samples)
    assert (value, n) == (20.0, 30)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([float(i) for i in range(11)])[0] == 0.0


def test_union_of_overlapping_job_intervals_and_gap():
    # two jobs from the sink pool overlap; a third follows after a gap
    jobs = [(0.0, 4.0), (1.0, 5.0), (6.0, 7.0)]
    assert sum(e - s for s, e in jobs) == 9.0  # summed durations overcount
    job_s = union_length(jobs)
    assert job_s == 6.0
    wall = 8.0
    assert wall - job_s == 2.0  # gap_s: driver time between/around jobs
    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == 2.0


def _span(sid, name, s, e, parent=None):
    return Span(sid, name, s, e, parent, 0)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "write", 0.0, 10.0),
        _span(1, "merge", 2.0, 6.0, parent=0),
        _span(2, "commit", 5.0, 6.0, parent=1),
    ]
    got = self_times(spans, 0.0, 12.0)
    assert got == pytest.approx(
        {"write": 6.0, "merge": 3.0, "commit": 1.0, "": 2.0}
    )
    assert sum(got.values()) == pytest.approx(12.0)


def test_self_time_splits_overlapping_children():
    # two merges run at once on a two-thread pool under one step
    spans = [
        _span(0, "step", 0.0, 10.0),
        _span(1, "merge", 1.0, 5.0, parent=0),
        _span(2, "merge2", 3.0, 7.0, parent=0),
    ]
    got = self_times(spans, 0.0, 10.0)
    assert got == pytest.approx({"step": 4.0, "merge": 3.0, "merge2": 3.0})
    assert sum(got.values()) == pytest.approx(10.0)
