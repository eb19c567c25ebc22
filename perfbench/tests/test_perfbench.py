"""The benchmark's own tests: generator determinism, the tail
percentile rule, visibility attribution and span self time. They need
no Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import gen
from perfbench.harness import attribute_visibility
from perfbench.measure import Span, Tracer, summary, tail


def test_event_and_change_files_repeat_for_a_seed():
    feed = gen.EventFeed(rows_per_file=500)
    assert gen.event_file(feed, 7, 3).equals(gen.event_file(feed, 7, 3))
    assert not gen.event_file(feed, 7, 3).equals(gen.event_file(feed, 8, 3))
    cdc = gen.ChangeFeed(rows_per_file=500)
    assert gen.change_file(cdc, 7, 2).equals(gen.change_file(cdc, 7, 2))
    assert not gen.change_file(cdc, 7, 2).equals(gen.change_file(cdc, 7, 1))


def test_warehouse_tables_repeat_for_a_seed():
    a, b = gen.warehouse_tables(11, 0.001), gen.warehouse_tables(11, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(gen.warehouse_tables(12, 0.001)["lineitem"])


def test_event_feed_has_the_stated_late_share():
    feed = gen.EventFeed(rows_per_file=20_000)
    t = gen.event_file(feed, 1, 100)
    ts = t.column("ts").cast("int64").to_numpy()
    file_start = gen.EVENT_T0_US + 100 * gen.FILE_SPAN_S * 1_000_000
    late = (ts < file_start - 3000 * 1_000_000).mean()
    assert abs(late - feed.late_share) < 0.01


def test_tail_takes_the_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]  # 1..30
    value, pct, n = tail(values)
    assert (value, n) == (20.0, 30)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    # shuffled input, same answer
    assert tail(list(reversed(values)))[0] == 20.0


def test_tail_falls_back_to_the_median_below_twenty_samples():
    values = [float(v) for v in range(1, 20)]
    assert tail(values) == (10.0, 50.0, 19)
    s = summary([5.0, 1.0, 3.0])
    assert (s["p50"], s["tail"], s["tail_pct"], s["n"]) == (3.0, 3.0, 50.0, 3)
    with pytest.raises(ValueError):
        tail([])


def test_visibility_follows_cumulative_committed_rows():
    # three files of 2, 3 and 1 rows; batches commit 2 then 4 rows
    assert attribute_visibility([2, 3, 1], [(10.0, 2), (11.0, 4)]) == [10.0, 11.0, 11.0]
    # a batch that ends mid-file leaves that file for the next batch
    assert attribute_visibility([2, 3], [(10.0, 3), (12.0, 2)]) == [10.0, 12.0]
    # rows never committed: no visibility time
    assert attribute_visibility([2, 3], [(10.0, 2)]) == [10.0, None]
    assert attribute_visibility([1], []) == [None]


def test_digest_by_file_ignores_row_order():
    feed = gen.EventFeed(rows_per_file=300)
    t = gen.event_file(feed, 3, 5)
    fid = t.column("file_id").to_numpy()
    h = gen.event_hashes(t)
    perm = np.random.default_rng(0).permutation(len(h))
    assert gen.digest_by_file(fid, h) == gen.digest_by_file(fid[perm], h[perm])
    dup = gen.digest_by_file(np.r_[fid, fid[:1]], np.r_[h, h[:1]])
    assert dup != gen.digest_by_file(fid, h)


def test_layer_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span(0, None, "queries.execute", 0.0, 10.0),
        Span(1, 0, "functions.udf", 2.0, 5.0),
        Span(2, 0, "functions.udf", 4.0, 6.0),  # overlaps its sibling
        Span(3, None, "streaming.trigger", 20.0, 21.0),
    ]
    got = tr.layer_self_s()
    assert got["queries"] == pytest.approx(6.0)
    assert got["functions"] == pytest.approx(5.0)
    assert got["streaming"] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("session.get_spark") as sid:
        pass
    assert sid == -1 and tr.spans == []
