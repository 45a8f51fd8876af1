import pandas as pd

import gen


def test_capture_file_same_seed_same_rows():
    a, la, oa = gen.capture_file(5, 7, 1000, 1)
    b, lb, ob = gen.capture_file(5, 7, 1000, 1)
    pd.testing.assert_frame_equal(a, b)
    assert (la == lb).all() and (oa == ob).all()
    c, _, _ = gen.capture_file(6, 7, 1000, 1)
    assert not a.equals(c)


def test_capture_file_out_of_order_and_late_rows():
    files_per_trigger = 2
    i = 8
    df, late, ooo = gen.capture_file(1, i, 1000, files_per_trigger)
    assert len(df) == 1000 and late.sum() == int(1000 * gen.LATE_FRAC)
    ts = df["ts"].astype("int64").to_numpy() // 1000  # us
    start = gen.EPOCH_US + i * gen.FILE_S * 1_000_000
    assert ooo.sum() == int(1000 * gen.OOO_FRAC) and not (ooo & late).any()
    # out-of-order rows go to the same skewed keys as the rest
    assert set(df["user_id"][ooo]) & set(df["user_id"][~ooo & ~late])
    # out-of-order rows: previous slice, still inside the watermark delay
    assert (ts[ooo] < start).all()
    assert (ts[ooo] >= start - gen.WATERMARK_DELAY_S * 1_000_000).all()
    # late rows: below the lowest watermark a batch holding this file can have
    lowest_wm = start - files_per_trigger * gen.FILE_S * 1_000_000 - gen.WATERMARK_DELAY_S * 1_000_000
    assert (ts[late] < lowest_wm).all()
    assert (ts[~late & ~ooo] >= start).all()


def test_store_events_and_appends_are_seeded():
    pd.testing.assert_frame_equal(gen.store_events(3, 2, 100), gen.store_events(3, 2, 100))
    pd.testing.assert_frame_equal(gen.append_hour(3, 4, 50), gen.append_hour(3, 4, 50))
    h = gen.append_hour(3, 4, 50)
    lo = gen.EPOCH + pd.Timedelta(days=gen.STORE_DAYS, hours=4)
    assert (h["ts"] >= lo).all() and (h["ts"] < lo + pd.Timedelta(hours=1)).all()


def test_requests_seeded_in_rounds_of_one_shape():
    a = gen.requests(9, 3)
    assert a == gen.requests(9, 3)
    assert a != gen.requests(10, 3)
    n = len(gen.ROUND)
    assert len(a) == 3 * n
    assert {k for k, _, _ in gen.ROUND} == set(gen.KINDS)
    for i, r in enumerate(a):
        kind, days, bounding = gen.ROUND[i % n]
        assert (r.kind, r.bounding) == (kind, bounding)
        lo, hi = (pd.Timestamp(t) for t in (r.start, r.stop))
        assert hi - lo == pd.Timedelta(days=days) - pd.Timedelta(seconds=1)
        assert (r.expr is None) == (r.sql is None) == (kind not in ("search", "spiview"))
    assert [r.offset for r in a if r.kind == "search"] == list(gen.SEARCH_OFFSETS) * 3
