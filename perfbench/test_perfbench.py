"""Tests of the benchmark's own logic (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness as H  # noqa: E402
import inputs as I  # noqa: E402

# ------------------------------------------------- generator determinism


def _etl_bytes(seed: int) -> list[bytes]:
    inp = I.EtlInputs(seed, n_ba=6, n_coords=9, n_vars=4)
    return [inp.pages_bytes(d) for d in range(4)]


def test_etl_pages_same_seed_identical():
    assert _etl_bytes(7) == _etl_bytes(7)


def test_etl_pages_other_seed_differ():
    a, b = _etl_bytes(7), _etl_bytes(8)
    assert all(x != y for x, y in zip(a, b))


def test_etl_overlap_hours_reserve_identical_rows():
    """Hours fetched twice (the region feed's overlap) carry the same
    rows, so the merge sees true re-offers."""
    inp = I.EtlInputs(3, n_ba=5, n_coords=3, n_vars=2)
    first = [r for r in inp.region_rows(0) if r["period"].startswith("2024-01-01T2")]
    again = [r for r in inp.region_rows(1) if r["period"].startswith("2024-01-01T2")]
    assert first and first == again


def test_etl_replays_serve_previous_day():
    inp = I.EtlInputs(5, n_ba=4, n_coords=3, n_vars=2)
    days = [inp.weather_day(d) for d in range(6)]
    assert days == [0, 1, 1, 3, 4, 4]
    assert json.dumps(inp.weather_rows(days[2])) == json.dumps(inp.weather_rows(1))


def test_corpus_batches_same_seed_identical(tmp_path):
    a = I.corpus(11, 60, 5)
    b = I.corpus(11, 60, 5)
    assert a == b
    I.write_corpus_batches(str(tmp_path / "a"), a)
    I.write_corpus_batches(str(tmp_path / "b"), b)
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_corpus_batches_other_seed_differ():
    a, b = I.corpus(11, 60, 5), I.corpus(12, 60, 5)
    assert a["batches"] != b["batches"]
    assert a["texts"] != b["texts"]


def test_corpus_near_copies_are_fixed_per_batch():
    """Every batch after the first holds the same number of near-copies
    of documents from earlier batches, whatever the seed."""
    import numpy as np

    for seed in (1, 2, 3):
        data = I.corpus(seed, 120, 4, dup_share=0.25)
        vecs = np.array([data["vecs"][i] for i in range(120)])
        batch_of = {i: b for b, ids in enumerate(data["batches"]) for i in ids}
        for b, ids in enumerate(data["batches"]):
            copies = 0
            for i in ids:
                dist = np.linalg.norm(vecs - vecs[i], axis=1)
                copies += any(batch_of[j] < b for j in np.flatnonzero(dist < 0.2))
            assert copies == (0 if b == 0 else 8)


def test_fixture_file_count_is_fixed(tmp_path):
    for seed in (1, 2):
        I.write_fixture(str(tmp_path / str(seed)), seed, 0.0005)
        assert len(os.listdir(tmp_path / str(seed) / "lineitem.parquet")) == 4
        assert len(os.listdir(tmp_path / str(seed) / "region.parquet")) == 1


def test_corpus_batches_partition_every_document():
    data = I.corpus(2, 50, 4)
    ids = sorted(i for b in data["batches"] for i in b)
    assert ids == list(range(50))
    assert len(data["batches"]) == 4 and all(data["batches"])


def test_fixture_same_seed_identical_other_seed_differs(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        I.write_fixture(str(tmp_path / name), seed, 0.0005)

    def files(d):
        return {
            os.path.relpath(os.path.join(r, f), d): open(os.path.join(r, f), "rb").read()
            for r, _, fs in os.walk(d) for f in fs
        }

    a, b, c = files(tmp_path / "a"), files(tmp_path / "b"), files(tmp_path / "c")
    assert a == b
    assert a != c


# ------------------------------------------------------------- self time


def _span(sid, name, start, end, parent):
    return H.Span(name, start, end, parent, op=1, sid=sid)


def test_self_time_subtracts_child_coverage():
    spans = [
        _span(0, "op", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: union 1..6 = 5
        _span(3, "c", 2.0, 3.0, 1),  # grandchild: not subtracted from op
        _span(4, "d", 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
    ]
    st = H.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_layer_totals_sum_calls_and_self_time():
    spans = [
        _span(0, "job", 0.0, 4.0, None),
        _span(1, "merge", 1.0, 2.0, 0),
        _span(2, "merge", 2.5, 3.0, 0),
    ]
    tot = H.layer_totals(spans)
    assert tot["merge"]["calls"] == 2
    assert tot["merge"]["total_s"] == pytest.approx(1.5)
    assert tot["job"]["self_s"] == pytest.approx(2.5)


def test_tracer_records_nesting_and_is_free_when_off():
    t = H.Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    off = H.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_union_length():
    assert H.union_length([]) == 0.0
    assert H.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


# --------------------------------------------------------- tail percentile


@pytest.mark.parametrize(
    "n, level",
    [(9, None), (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75),
     (100, 0.9), (199, 0.9), (200, 0.95), (1000, 0.99), (10000, 0.999)],
)
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert H.tail_level(n) == level
    if level is not None:
        assert n * (1 - level) >= 10 - 1e-9


def test_tail_takes_the_supported_level():
    assert H.tail([float(i) for i in range(1, 101)]) == 90.0
    assert H.tail([float(i) for i in range(1, 41)]) == 30.0
    assert H.tail([float(i) for i in range(1, 20)]) == 19.0


def test_percentile_nearest_rank():
    assert H.percentile([5.0, 1.0, 3.0], 0.5) == 3.0
    assert H.percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.0
    with pytest.raises(ValueError):
        H.percentile([], 0.5)


# --------------------------------------------------------- result digest


def test_rows_digest_is_order_and_number_type_insensitive():
    import decimal

    from etl_ingest import rows_digest

    a = [(1, "x", 2.5), (2, None, 0.0)]
    b = [(2.0, None, -0.0), (1, "x", decimal.Decimal("2.5"))]
    assert rows_digest(a) == rows_digest(b)
    assert rows_digest(a) != rows_digest([(1, "x", 2.5)])


# ------------------------------------------------------------ state guard


def test_tree_snapshot_sees_new_and_touched_entries(tmp_path):
    root = tmp_path / "state"
    assert H.tree_snapshot(str(root)) == {}
    (root / "a").mkdir(parents=True)
    before = H.tree_snapshot(str(root))
    (root / "a" / "f").write_text("x")
    assert H.tree_snapshot(str(root)) != before


def test_tree_cpu_counts_reaped_children():
    import subprocess

    before = H.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert H.tree_cpu_s() - before >= 0.25


# --------------------------------------------------------- bm25 reference


def test_bm25_reference_scores_ranks_and_ties():
    import math

    from corpus_build import bm25_reference

    docs = {1: "a b", 2: "a a c", 3: "c c", 4: "a b"}
    rows = bm25_reference(docs, ["a"], k=10)
    idf = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    avgdl = 9 / 4

    def score(tf, dl):
        return round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)

    # doc 3 has no query term; docs 1 and 4 tie and keep id order
    assert [r[0] for r in rows] == [2, 1, 4]
    assert [r[1] for r in rows] == [1, 1, 1]
    assert rows[0][2] == pytest.approx(score(2, 3), abs=1e-6)
    assert rows[1][2] == rows[2][2] == pytest.approx(score(1, 2), abs=1e-6)
    assert bm25_reference(docs, ["a", "c"], k=1)[0][:2] == (2, 2)
