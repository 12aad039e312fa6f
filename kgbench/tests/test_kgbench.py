"""Self-tests of the benchmark's own logic (no Spark session).

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
from run import Ops, check_stores  # noqa: E402
from spans import Span, covered, parse_metric, self_times  # noqa: E402
from stats import tail, triples_digest  # noqa: E402
from workloads import Rep  # noqa: E402


def files_key(path: str) -> str:
    """Hash of the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(workload, tmp_path):
    keys = {}
    for label, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs = gen.GENERATORS[workload](seed)
        gen.write_inputs(inputs, str(tmp_path / label))
        keys[label] = (files_key(str(tmp_path / label)), inputs.props)
    assert keys["a"] == keys["b"]
    assert keys["a"][0] != keys["c"][0]


def test_fused_gazetteer_is_le2_shaped():
    inputs = gen.fused_crawl(3)
    props = inputs.props
    assert props["gazetteer.entries"] >= 150_000
    assert set(props["gazetteer.entry_tokens"]) == {"1", "2"}
    ranks = inputs.gazetteer.column("rank").to_numpy()
    assert len(np.unique(ranks)) == len(ranks)


def _triples(n: int = 50) -> pa.Table:
    rng = np.random.default_rng(0)
    return pa.table({
        "subj": [f"S{i}" for i in range(n)],
        "pred": ["co_occurs_with"] * n,
        "obj": [f"O{i % 7}" for i in range(n)],
        "weight": rng.integers(1, 9, size=n).astype(np.int64),
        "subj_rank": rng.integers(0, 99, size=n).astype(np.int32),
        "obj_rank": rng.integers(0, 99, size=n).astype(np.int32),
    })


def test_digest_ignores_row_order_and_extra_columns():
    t = _triples()
    shuffled = t.take(np.random.default_rng(1).permutation(t.num_rows))
    with_bucket = shuffled.append_column("bucket", pa.array(np.arange(t.num_rows) % 4))
    assert triples_digest(t) == triples_digest(with_bucket)


def test_altered_row_fails_the_store_check_and_counts_as_failed(tmp_path):
    t = _triples()
    expected = triples_digest(t)
    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    pq.write_table(t, good / "part-0.parquet")
    weights = t.column("weight").to_numpy().copy()
    weights[17] += 1
    pq.write_table(t.set_column(3, "weight", pa.array(weights)), bad / "part-0.parquet")
    ops = Ops()
    reps = [Rep(1.0, 1, [1.0], str(good), ["parquet"]), Rep(1.0, 1, [1.0], str(bad), ["parquet"])]
    failures = check_stores(reps, expected, ops)
    assert (ops.attempted, ops.failed) == (2, 1)
    assert len(failures) == 1 and str(bad) in failures[0]


@pytest.mark.parametrize("n, pct", [(5, 50.0), (19, 50.0), (20, 50.0), (37, 50.0), (38, 75.0),
                                    (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n, pct):
    values = list(np.random.default_rng(n).permutation(np.arange(n, dtype=float)))
    value, got_pct, count = tail(values)
    assert (got_pct, count) == (pct, n)
    assert value == pytest.approx(np.percentile(values, pct))
    if n >= 20:
        assert sum(v > value for v in values) >= 10


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, "run", start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps span 2: [1, 5] counts once
        _span(4, 1, 7.0, 8.0),
        _span(5, 4, 7.2, 7.5),  # grandchild: only its own parent loses it
        _span(6, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[4] == pytest.approx(1.0 - 0.3)
    assert st[2] == pytest.approx(2.0)
    assert st[6] == pytest.approx(1.0)


def test_covered_clips_to_the_window():
    assert covered([(-5.0, 2.0), (9.0, 15.0)], 0.0, 10.0) == pytest.approx(3.0)
    assert covered([], 0.0, 1.0) == 0.0


def test_parse_metric_formats():
    assert parse_metric("10,000") == (10000.0, None)
    size = "total (min, med, max (stageId: taskId))\n82.0 KiB (20.5 KiB, 20.5 KiB, 20.5 KiB (stage 7.0: task 1))"
    assert parse_metric(size) == (82.0 * 1024, 7)
    timing = "total (min, med, max (stageId: taskId))\n3.7 s (920 ms, 931 ms, 938 ms (stage 0.0: task 0))"
    assert parse_metric(timing) == (pytest.approx(3.7), 0)
    assert parse_metric(None) == (0.0, None)
