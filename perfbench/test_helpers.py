"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import workloads  # noqa: E402
from layers import stream_rates  # noqa: E402
from reference import fingerprint  # noqa: E402
from stats import (  # noqa: E402
    Span,
    percentile,
    self_time,
    summary,
    tail_percentile,
)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(99) is None
    assert tail_percentile(100) == 90.0
    assert tail_percentile(999) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_summary_reports_tail_only_when_supported():
    assert summary([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    s = summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5
    assert s["p90"] == pytest.approx(89.1)
    assert "p99" not in s


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_union_of_children():
    parent = Span("op", 0.0, 10.0, None, 1)
    spans = [
        parent,
        Span("build", 1.0, 3.0, 1, 2),
        Span("run", 2.0, 5.0, 1, 3),  # overlaps build: counted once
        Span("run", 7.0, 8.0, 1, 4),
        Span("late", 9.5, 12.0, 1, 5),  # clipped to the parent
        Span("grandchild", 0.0, 10.0, 2, 6),  # not a direct child
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(spans[3], spans) == pytest.approx(1.0)


def test_stream_rows_come_from_the_generator():
    # numInputRows over-counts: the sink's emptiness probe re-reads rows
    progress = [[{"numInputRows": 50_100}, {"numInputRows": 50_060}],
                [{"numInputRows": 50_000}, {"numInputRows": 50_000}]]
    rows_per_s, read_ratio = stream_rates(100_000, [2.0, 4.0], progress)
    assert rows_per_s == pytest.approx(100_000 / 3.0)
    assert read_ratio == pytest.approx((1.0016 + 1.0) / 2)
    assert stream_rates(100_000, [], []) == (0.0, 0.0)


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint([(1, "x", 0.1 + 0.2), (2, "y", math.nan)], ["id", "s", "v"])
    b = fingerprint([("y", math.nan, 2), ("x", 0.3, 1)], ["s", "v", "id"])
    assert a == b and a[0] == 2
    assert fingerprint([(1,), (1,)], ["id"]) != fingerprint([(1,)], ["id"])


def test_fingerprint_compares_numbers_by_value():
    from decimal import Decimal

    assert fingerprint([(25, Decimal("25.00"))], ["a", "b"]) == \
        fingerprint([(25.0, 25.0)], ["a", "b"])
    assert fingerprint([(True,)], ["a"]) != fingerprint([(1.0,)], ["a"])


def test_generator_is_deterministic_in_the_seed():
    a, b, c = datagen.make_tables(7), datagen.make_tables(7), datagen.make_tables(8)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in datagen.SIZES} == datagen.SIZES


def test_runs_read_the_inputs_of_one_fixed_seed(tmp_path):
    written = datagen.write_tables(str(tmp_path))
    fixed = datagen.make_tables(datagen.DATA_SEED)
    assert all(written[t].equals(fixed[t]) for t in datagen.TABLES)


def test_every_frozen_key_has_a_reference():
    frozen = workloads.frozen_keys()
    names = frozen["lazy_keys"]["keys"] + frozen["pinned_keys"]["keys"]
    assert sorted(frozen["reference"]) == sorted(names)
    assert all(rows >= 1 and len(digest) == 64 for rows, digest in frozen["reference"].values())
