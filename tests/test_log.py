"""Log-layer unit tests — model: reference schema_test.py + log_test.py
(fixtures F2/F7 in FIXTURES.md)."""

from __future__ import annotations

import pytest

from icedb_spark.log import (
    FileMarker,
    IceLogIO,
    LogTombstone,
    Schema,
    SchemaConflictException,
    Storage,
    get_log_file_info,
    partition_from_path,
)


def test_schema_accumulate_union_and_conflict():
    s = Schema()
    assert s.accumulate(["col_a"], ["VARCHAR"]) is True
    assert s.accumulate(["col_b"], ["BIGINT"]) is True
    # re-adding identical is a no-op
    assert s.accumulate(["col_a"], ["VARCHAR"]) is False
    with pytest.raises(SchemaConflictException):
        s.accumulate(["col_b"], ["VARCHAR"])
    assert s.columns() == {"col_a": "VARCHAR", "col_b": "BIGINT"}


def test_log_file_name_parse():
    assert get_log_file_info("_log/1700000000000_host.jsonl") == (1700000000000, False)
    assert get_log_file_info("1700000000000_m_host.jsonl") == (1700000000000, True)


def test_partition_from_path():
    assert partition_from_path("_data/u=a/d=2023-06-07/x.parquet") == "u=a/d=2023-06-07"
    assert partition_from_path("_data/x.parquet") == ""


def test_log_roundtrip_fold(tmp_path):
    """Log A: schema {a,b}, 4 alive markers. Log B (merge): schema {a,b,c},
    two of A's markers tombstoned + 2 new markers + a log tombstone for A.
    Fold: union schema, last-writer-wins markers, A in the tombstone list."""
    st = Storage(str(tmp_path))
    io = IceLogIO()

    sa = Schema({"a": "VARCHAR", "b": "BIGINT"})
    markers_a = [
        FileMarker(f"_data/p=1/f{i}.parquet", 1000 + i, 10 * (i + 1))
        for i in range(4)
    ]
    key_a, _ = io.append(st, 1, sa, markers_a, timestamp_ms=1000)

    sb = Schema({"a": "VARCHAR", "b": "BIGINT", "c": "DOUBLE"})
    rebuilt = [
        FileMarker(markers_a[0].path, markers_a[0].created_ms, 10, tombstone=2000),
        FileMarker(markers_a[1].path, markers_a[1].created_ms, 20, tombstone=2000),
        FileMarker(markers_a[2].path, markers_a[2].created_ms, 30),
        FileMarker(markers_a[3].path, markers_a[3].created_ms, 40),
        FileMarker("_data/p=1/merged.parquet", 2000, 30),
    ]
    key_b, _ = io.append(
        st, 1, sb, rebuilt,
        tombstones=[LogTombstone(key_a, 2000)], merged=True, timestamp_ms=2000,
    )

    state = io.read_at_max_time(st)
    assert state.schema.columns() == {"a": "VARCHAR", "b": "BIGINT", "c": "DOUBLE"}
    assert len(state.file_markers) == 5
    alive = {m.path for m in state.alive_files()}
    assert alive == {
        "_data/p=1/f2.parquet",
        "_data/p=1/f3.parquet",
        "_data/p=1/merged.parquet",
    }
    assert [t.path for t in state.log_tombstones] == [key_a]
    assert state.log_files == sorted([key_a, key_b])


def test_time_travel_fold(tmp_path):
    st = Storage(str(tmp_path))
    io = IceLogIO()
    s = Schema({"a": "VARCHAR"})
    io.append(st, 1, s, [FileMarker("_data/f1.parquet", 1000, 1)], timestamp_ms=1000)
    io.append(st, 1, s, [FileMarker("_data/f2.parquet", 2000, 1)], timestamp_ms=2000)

    early = io.read_at_max_time(st, 1500)
    assert {m.path for m in early.alive_files()} == {"_data/f1.parquet"}
    full = io.read_at_max_time(st)
    assert len(full.alive_files()) == 2


def test_wire_format_exact(tmp_path):
    """The JSONL wire format is the interchange contract — check shapes."""
    import json

    st = Storage(str(tmp_path))
    io = IceLogIO()
    s = Schema({"ts": "BIGINT", "event": "VARCHAR"})
    key, meta = io.append(
        st, 1, s,
        [FileMarker("_data/d=x/f.parquet", 123, 456, tombstone=789)],
        tombstones=[LogTombstone("_log/1_h.jsonl", 99)],
        merged=True, timestamp_ms=5000,
    )
    lines = st.get(key).decode().splitlines()
    m = json.loads(lines[0])
    assert m == {"v": 1, "t": 5000, "sch": 1, "tmb": 2, "f": 3}
    assert json.loads(lines[1]) == {"ts": "BIGINT", "event": "VARCHAR"}
    assert json.loads(lines[2]) == {"p": "_log/1_h.jsonl", "t": 99}
    assert json.loads(lines[3]) == {"p": "_data/d=x/f.parquet", "b": 456, "t": 123, "tmb": 789}
    assert key.endswith("_m_" + key.split("_m_")[1])
    assert "5000_m_" in key

def test_read_at_max_time_strict_boundary(tmp_path):
    """Reference parity (icedb/log.py:311-322): the log-layer bound is
    strict `<` — a log stamped exactly at T is NOT part of snapshot(T)."""
    st = Storage(str(tmp_path))
    io = IceLogIO()
    s = Schema({"a": "VARCHAR"})
    io.append(st, 1, s, [FileMarker("_data/f1.parquet", 1000, 1)], timestamp_ms=1000)
    assert io.read_at_max_time(st, 1000).alive_files() == []
    assert {m.path for m in io.read_at_max_time(st, 1001).alive_files()} == {
        "_data/f1.parquet"
    }


def test_snapshot_parse_cache_hit_and_invalidation(tmp_path):
    """The snapshot parse cache (VERDICT r11 #4): a second fold of an
    unchanged table serves every log from cache WITHOUT re-GETting the
    objects; a new commit is visible immediately (the LIST is the
    change detector); a same-key rewrite with a different size falls
    back to a fresh read; a vacuum-style delete drops the log from the
    next fold."""
    st = Storage(str(tmp_path))
    io = IceLogIO()
    io.clear_parse_cache()

    gets = []
    orig_get = st.get

    def counting_get(key):
        gets.append(key)
        return orig_get(key)

    st.get = counting_get

    s = Schema({"a": "VARCHAR"})
    k1, _ = io.append(st, 1, s, [FileMarker("_data/f1.parquet", 1000, 10)],
                      timestamp_ms=1000)
    k2, _ = io.append(st, 1, s, [FileMarker("_data/f2.parquet", 2000, 20)],
                      timestamp_ms=2000)

    st1 = io.read_at_max_time(st)
    n_cold = len(gets)
    assert n_cold == 2
    st2 = io.read_at_max_time(st)
    assert len(gets) == n_cold  # warm fold: zero GETs
    assert sorted(m.path for m in st2.alive_files()) == sorted(
        m.path for m in st1.alive_files()
    )
    assert st2.schema.columns() == st1.schema.columns()

    # a new commit is picked up on the very next fold (no staleness)
    io.append(st, 1, s, [FileMarker("_data/f3.parquet", 3000, 30)],
              timestamp_ms=3000)
    st3 = io.read_at_max_time(st)
    assert len(st3.alive_files()) == 3
    assert len(gets) == n_cold + 1  # only the NEW log was fetched

    # same-key rewrite with a different byte size: size guard forces a
    # fresh read and the new content wins
    raw = st.get(k1)
    st.put(k1, raw.replace(b"f1.parquet", b"f1b.parquet"))
    st4 = io.read_at_max_time(st)
    assert any(m.path.endswith("f1b.parquet") for m in st4.alive_files())

    # vacuum-style delete: the log vanishes from the next fold
    st.delete(k2)
    st5 = io.read_at_max_time(st)
    assert sorted(m.path for m in st5.alive_files()) == [
        "_data/f1b.parquet", "_data/f3.parquet"
    ]

    # explicit-key folds without sizes bypass the cache (still correct)
    st6 = io.read_log_forward(st, list(st5.log_files))
    assert sorted(m.path for m in st6.alive_files()) == sorted(
        m.path for m in st5.alive_files()
    )
    io.clear_parse_cache()


def test_snapshot_parse_cache_distinguishes_roots(tmp_path):
    """Two tables whose logs share key NAMES (same timestamps) must not
    cross-serve cached parses — the storage root is part of the key."""
    io = IceLogIO()
    io.clear_parse_cache()
    st_a = Storage(str(tmp_path / "a"))
    st_b = Storage(str(tmp_path / "b"))
    s = Schema({"a": "VARCHAR"})
    io.append(st_a, 1, s, [FileMarker("_data/a.parquet", 1000, 10)],
              timestamp_ms=1000)
    io.append(st_b, 1, s, [FileMarker("_data/b.parquet", 1000, 10)],
              timestamp_ms=1000)
    # warm both caches, then re-fold and check contents stay per-table
    for _ in range(2):
        fa = io.read_at_max_time(st_a)
        fb = io.read_at_max_time(st_b)
        assert [m.path for m in fa.alive_files()] == ["_data/a.parquet"]
        assert [m.path for m in fb.alive_files()] == ["_data/b.parquet"]
    io.clear_parse_cache()
