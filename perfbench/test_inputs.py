"""Checks on the benchmark's input generators (no Spark).

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from perfbench import inputs

N, DAYS, USERS = 20_000, 3, 300


def _bytes(tables: dict, out) -> dict[str, bytes]:
    inputs.write_tables(tables, str(out))
    return {name: (out / f"{name}.parquet").read_bytes() for name in tables}


def test_same_seed_gives_byte_identical_files(tmp_path):
    def gen(seed):
        return {"events": inputs.oltp_events(seed, N, DAYS, USERS), **inputs.corpus_tables(seed, 60, 60)}

    a = _bytes(gen(7), tmp_path / "a")
    b = _bytes(gen(7), tmp_path / "b")
    c = _bytes(gen(8), tmp_path / "c")
    assert a == b
    assert all(a[name] != c[name] for name in a)


def test_events_are_microsecond_utc_with_corrections():
    t = inputs.oltp_events(3, N, DAYS, USERS)
    assert t.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    ts = t.column("ts").to_numpy().astype(np.int64)
    assert (np.diff(ts) >= 0).all()
    ids = t.column("event_id").to_numpy()
    assert len(np.unique(ids)) == N
    assert t.num_rows == N + int(N * 0.05)


def test_landed_slices_dedup_to_distinct_events():
    """Replicate every 10 minutes with a 20-minute lookback, as the
    star_refresh cycles do: each event lands about twice, and keeping the
    newest row per event_id leaves exactly the distinct events, each with
    the value of its latest delivery."""
    t = inputs.oltp_events(5, N, DAYS, USERS)
    ts = t.column("ts").to_numpy().astype(np.int64)
    ids = t.column("event_id").to_numpy()
    value = t.column("value").to_numpy()
    step, lookback = 10 * 60_000_000, 20 * 60_000_000
    landed = []
    for end in range(inputs.EPOCH_2024_US + step, inputs.EPOCH_2024_US + DAYS * inputs.DAY_US + step, step):
        landed.append(np.flatnonzero((ts >= end - lookback) & (ts < end)))
    rows = np.concatenate(landed)
    assert len(rows) > 1.9 * t.num_rows  # the overlap really re-delivers

    newest = {}
    for r in rows[np.lexsort((rows, ts[rows]))]:  # ascending ts: the last write wins
        newest[ids[r]] = r
    assert len(newest) == len(np.unique(ids)) == N
    last = {i: r for r, i in enumerate(ids)}  # rows are ts-ordered, so the last row per id is newest
    assert all(value[newest[i]] == value[last[i]] for i in newest)


def test_landing_zone_holds_each_day_once(tmp_path):
    """The generated history landing has one partition per UTC day, and
    together they hold exactly the rows of those days."""
    import pyarrow.dataset as ds

    t = inputs.oltp_events(9, N, DAYS, USERS)
    inputs.write_landing(t, str(tmp_path), DAYS - 1)
    got = ds.dataset(str(tmp_path), format="parquet", partitioning="hive").to_table()
    ts = t.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    assert got.num_rows == int((ts < inputs.EPOCH_2024_US + (DAYS - 1) * inputs.DAY_US).sum())
    day = got.column("ts").to_numpy().astype("datetime64[D]").astype(str)
    assert (day == got.column("load_date").to_numpy().astype(str)).all()
    assert len(set(day)) == DAYS - 1
