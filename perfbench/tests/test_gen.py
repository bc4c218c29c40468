"""Seeded inputs: the same seed gives the same inputs, another seed does not."""

from perfbench import gen


def _days(seed, kinds=("bootstrap", "quiet", "earnings", "quiet")):
    feed = gen.DailyFeed(seed, n_symbols=60, quiet_share=0.1, earnings_share=0.5)
    return [feed.day(k) for k in kinds]


def test_tables_are_deterministic_per_seed():
    a, b, c = gen.make_tables(7, 0.001), gen.make_tables(7, 0.001), gen.make_tables(8, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_daily_feed_is_deterministic_per_seed():
    assert _days(3) == _days(3)
    assert _days(3) != _days(4)


def test_daily_feed_redelivers_only_landed_rows():
    landed = set()
    for day in _days(5, ("bootstrap", "quiet", "earnings", "quiet", "earnings")):
        keys = {(r[0], r[1], r[10], r[5]) for r in day["fundamentals"]}
        assert len(keys - landed) == day["fundamentals_new"]
        if day["kind"] != "bootstrap":
            assert day["fundamentals_new"] == len(day["filings"]) * 16
            assert len(day["fundamentals"]) > day["fundamentals_new"]
        landed |= keys


def test_write_day_round_trips(tmp_path):
    import pyarrow.parquet as pq

    day = _days(1, ("bootstrap", "quiet"))[1]
    files = gen.write_day(day, str(tmp_path))
    assert set(files) == {"universe", "figi", "ticks", "fundamentals", "filings", "feed", "calendar"}
    for name, f in files.items():
        assert pq.read_table(f["path"]).num_rows == len(day[name]) == f["rows"]
