"""Cross-table ACID transactions (icedb_spark.txn): stage -> intent ->
tagged publish at one instant -> one-PUT commit marker; catalog readers
never see a partial transaction."""

from __future__ import annotations

import json

import pytest

from icedb_spark import IceCatalog, IceTable, PartitionField, PartitionSpec
from icedb_spark.txn import CatalogTransaction, parse_txn_id, txn_tag


def _mk(spark, path):
    return IceTable(
        spark,
        str(path),
        partition_spec=PartitionSpec(fields=[PartitionField("b", "bucket")]),
        sort_order=["k"],
    )


@pytest.fixture()
def cat(spark, tmp_path):
    facts = _mk(spark, tmp_path / "facts")
    dims = _mk(spark, tmp_path / "dims")
    cat = (
        IceCatalog(spark)
        .add("facts", facts)
        .add("dims", dims)
        .enable_transactions(str(tmp_path / "_txn"))
    )
    return cat


def _counts(cat):
    r = cat.sql(
        "select (select count(*) from facts) as f,"
        " (select count(*) from dims) as d"
    ).collect()[0]
    return r["f"], r["d"]


def test_txn_commits_both_tables_atomically(cat):
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": i} for i in range(4)])
        txn.insert("dims", rows=[{"bucket": "b", "k": 0, "name": "x"}])
        # inside the body nothing is visible anywhere
        assert _counts(cat) == (0, 0)
    assert _counts(cat) == (4, 1)
    # both tables committed at the SAME instant: time travel to just
    # before it sees neither, at it sees both
    ts = max(
        int(k.rsplit("/", 1)[-1].split("_")[0])
        for k in cat.table("facts").snapshot().log_files
    )
    with_t = cat.sql(
        "select (select count(*) from facts) as f,"
        " (select count(*) from dims) as d",
        at_ms=ts,
    ).collect()[0]
    assert (with_t["f"], with_t["d"]) == (4, 1)
    before = cat.sql(
        "select (select count(*) from facts) as f,"
        " (select count(*) from dims) as d",
        at_ms=ts - 1,
    ).collect()[0]
    assert (before["f"], before["d"]) == (0, 0)


def test_txn_abort_leaves_nothing_visible(cat):
    with pytest.raises(RuntimeError, match="boom"):
        with cat.transaction() as txn:
            txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
            raise RuntimeError("boom")
    assert _counts(cat) == (0, 0)
    # no commit, no intent, no log entry — only orphaned staged files,
    # which gc_orphans owns
    assert cat.table("facts").snapshot().log_files == []


def test_crash_between_intent_and_commit_is_invisible_then_reclaimed(cat):
    """Simulate dying after the intent marker and one table's tagged
    publish but BEFORE the commit marker: filtered readers see nothing;
    txn_cleanup reclaims the tagged log and its files; a raw unfiltered
    reader (the documented obligation) would have seen the partial."""
    txn = CatalogTransaction(cat, cat._txn_store)
    staged = txn.insert("facts", rows=[{"bucket": "b", "k": 7}])
    ts = 9_999_999  # any stamp; visibility is marker-driven
    cat._txn_store.put(
        f"{txn.txn_id}.intent.json",
        json.dumps({
            "txn": txn.txn_id, "ts": 0,
            "tables": [{
                "name": "facts",
                "path": cat.table("facts").path,
                "files": [m.path for m in staged.markers],
            }],
        }).encode(),
    )
    cat.table("facts").publish(
        staged, commit_tag=txn_tag(txn.txn_id), timestamp_ms=ts
    )
    # the tagged commit exists physically...
    raw_keys = [
        k for k, _ in cat.table("facts").log_io.get_current_log_files(
            cat.table("facts").log_storage
        )
    ]
    assert any(parse_txn_id(k) == txn.txn_id for k in raw_keys)
    # ...but no filtered reader sees it
    assert _counts(cat) == (0, 0)
    assert cat.table("facts").read().count() == 0
    # a raw reader without the filter DOES see it (raw-reader obligation)
    raw = IceTable.open(cat.spark, cat.table("facts").path)
    assert raw.read().count() == 1
    # reclaim after grace
    out = cat.txn_cleanup(min_age_ms=0)
    assert out[txn.txn_id]["logs"] == 1
    assert out[txn.txn_id]["files"] == len(staged.markers)
    assert cat.table("facts").snapshot().log_files == []
    assert _counts(cat) == (0, 0)


def test_committed_txn_survives_cleanup_and_caches(cat):
    with cat.transaction() as txn:
        txn.insert("dims", rows=[{"bucket": "b", "k": 1, "name": "y"}])
    assert cat.txn_cleanup(min_age_ms=0) == {}
    assert _counts(cat) == (0, 1)
    # the commit marker is the durability record: still present
    assert any(
        k.endswith(".commit.json")
        for k, _ in cat._txn_store.list("", include_hidden=True)
    )


def test_consistent_hold_freezes_visibility(cat):
    vis = cat._txn_vis
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
    with vis.consistent():
        committed_now = set(vis._committed)
        # a refresh inside the hold is a no-op even if markers change
        cat._txn_store.put("deadbeefdead.commit.json", b"{}")
        vis.refresh()
        assert vis._committed == committed_now
    vis.refresh()
    assert "deadbeefdead" in vis._committed


def test_mixed_plain_and_txn_commits(cat):
    """Plain (untagged) inserts stay visible regardless of txn state."""
    cat.table("facts").insert([{"bucket": "b", "k": 100}])
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 101}])
        assert _counts(cat)[0] == 1  # plain insert visible mid-txn
    assert _counts(cat)[0] == 2


def test_datasource_batch_read_honors_txn_root(cat, spark, tmp_path):
    """format('icedb') with option('txn_root') filters uncommitted
    transactions like the catalog; without it the scan is raw."""
    from icedb_spark import IceDataSource

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    # a committed txn row + a crashed-txn row (tagged, no marker)
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
    crash = CatalogTransaction(cat, cat._txn_store)
    staged = crash.insert("facts", rows=[{"bucket": "b", "k": 2}])
    cat.table("facts").publish(
        staged, commit_tag=txn_tag(crash.txn_id), timestamp_ms=8_888_888
    )
    path = cat.table("facts").path
    filtered = (
        spark.read.format("icedb").option("path", path)
        .option("txn_root", str(tmp_path / "_txn")).load()
    )
    assert [r["k"] for r in filtered.collect()] == [1]
    raw = spark.read.format("icedb").option("path", path).load()
    assert sorted(r["k"] for r in raw.collect()) == [1, 2]
    # streaming + txn_root uses the SAFE WATERMARK: while the crashed
    # transaction pends (its pinned instant predates every later
    # commit), the stream refuses to advance past it — zero rows, no
    # silent skip...
    def drain(_qname):
        got: list[int] = []
        q = (
            spark.readStream.format("icedb").option("path", path)
            .option("txn_root", str(tmp_path / "_txn")).load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(r["k"] for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ck_safe"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return got

    # the crashed txn needs an intent marker for this to be a realistic
    # pending state (cleanup uses it later)
    cat._txn_store.put(
        f"{crash.txn_id}.intent.json",
        json.dumps({"txn": crash.txn_id, "ts": 0, "tables": [
            {"name": "facts", "path": cat.table("facts").path,
             "files": []},
        ]}).encode(),
    )
    assert drain("txn_safe_1") == []
    # ...and once cleanup (or a commit marker) resolves it, the same
    # checkpoint advances through the committed transaction exactly once
    out = cat.txn_cleanup(min_age_ms=0)
    assert crash.txn_id in out
    assert drain("txn_safe_2") == [1]


def test_txn_dml_commits_with_inserts_atomically(cat):
    """DELETE/UPDATE queued in a transaction execute at commit under the
    txn tag and shared instant: mid-body nothing changes, after commit
    the DML plus the staged insert land together, and time travel to
    ts-1 still shows the pre-txn state."""
    cat.table("facts").insert(
        [{"bucket": "b", "k": i, "v": float(i)} for i in range(6)]
    )
    with cat.transaction() as txn:
        txn.delete("facts", "k >= 4")
        txn.update("facts", {"v": "v + 100"}, "k = 0")
        txn.insert("dims", rows=[{"bucket": "b", "k": 1, "name": "n"}])
        # queued, not executed: nothing moved yet
        assert _counts(cat) == (6, 0)
        assert cat.sql(
            "select sum(v) as s from facts"
        ).collect()[0]["s"] == 15.0
    assert _counts(cat) == (4, 1)
    rows = {r["k"]: r["v"] for r in cat.table("facts").read().collect()}
    assert rows == {0: 100.0, 1: 1.0, 2: 2.0, 3: 3.0}
    # shared instant: just before it, the old facts and no dims
    ts = max(
        int(k.rsplit("/", 1)[-1].split("_")[0])
        for k in cat.table("dims").snapshot().log_files
    )
    old = cat.sql(
        "select (select count(*) from facts) as f,"
        " (select sum(v) from facts) as s,"
        " (select count(*) from dims) as d",
        at_ms=ts - 1,
    ).collect()[0]
    assert (old["f"], old["s"], old["d"]) == (6, 15.0, 0)


def test_txn_sequential_dml_same_table_sees_own_effects(cat):
    """A txn's second DML on the same table folds over the first's
    tagged commit (self-visibility + seq-ordered same-instant logs) —
    no resurrections, no double-application."""
    cat.table("facts").insert(
        [{"bucket": "b", "k": i, "v": float(i)} for i in range(4)]
    )
    with cat.transaction() as txn:
        txn.delete("facts", "k = 1")
        txn.update("facts", {"v": "v * 10"}, "k >= 0")  # post-delete rows
    rows = {r["k"]: r["v"] for r in cat.table("facts").read().collect()}
    assert rows == {0: 0.0, 2: 20.0, 3: 30.0}


def test_txn_dml_crash_reclaim_restores_pretxn_state(cat):
    """Crash between a tagged DML commit and the marker: readers keep
    the pre-txn state; txn_cleanup deletes the tagged log AND its
    rewrite files while leaving the pre-txn files alone."""
    cat.table("facts").insert(
        [{"bucket": "b", "k": i, "v": float(i)} for i in range(4)]
    )
    txn = CatalogTransaction(cat, cat._txn_store)
    txn.delete("facts", "k >= 2")
    # run only intent + DML, skip the marker (simulated crash)
    txn._done = True
    import json as _json

    from icedb_spark.log import unique_ms

    ts = unique_ms()
    cat._txn_store.put(
        f"{txn.txn_id}.intent.json",
        _json.dumps({"txn": txn.txn_id, "ts": 0, "tables": [
            {"name": "facts", "path": cat.table("facts").path, "files": []},
        ]}).encode(),
    )
    t = cat.table("facts")
    with t._tagged_commits(txn_tag(txn.txn_id) + "-000", ts):
        t.delete("k >= 2")
    assert t.read().count() == 4  # invisible
    out = cat.txn_cleanup(min_age_ms=0)
    assert out[txn.txn_id]["logs"] == 1
    assert t.read().count() == 4  # pre-txn state intact after reclaim
    raw = IceTable.open(cat.spark, t.path)
    assert raw.read().count() == 4  # even for raw readers now


def test_plain_insert_landing_mid_commit_survives_txn_dml(cat):
    """Snapshot isolation at the pinned instant: a plain insert whose
    commit lands AFTER the txn's pinned ts (but before its DML runs)
    must be invisible to the txn's DELETE — tombstoning it would fold in
    the wrong order and resurrect the file (LWW restatement)."""
    import json as _json

    from icedb_spark.log import unique_ms

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    txn = CatalogTransaction(cat, cat._txn_store)
    txn._done = True
    ts = unique_ms()
    t.insert([{"bucket": "b", "k": 99}])  # lands after the pinned ts
    with t._tagged_commits(txn_tag(txn.txn_id) + "-000", ts):
        t.delete("k >= 0")  # true for every row, incl. k=99
    cat._txn_store.put(
        f"{txn.txn_id}.commit.json",
        _json.dumps({"txn": txn.txn_id, "ts": ts}).encode(),
    )
    cat._txn_vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [99]  # pre-txn rows deleted, late insert survives


def test_self_visibility_is_thread_scoped(cat):
    """Another thread of the same process must NOT see a transaction's
    tagged commits while its commit() is in flight."""
    import threading

    vis = cat._txn_vis
    t = cat.table("facts")
    txn = CatalogTransaction(cat, cat._txn_store)
    staged = txn.insert("facts", rows=[{"bucket": "b", "k": 5}])
    with vis.self_visible(txn.txn_id):
        t.publish(staged, commit_tag=txn_tag(txn.txn_id) + "-000",
                  timestamp_ms=7_777_777)
        assert t.read().count() == 1  # committing thread sees it
        other: list[int] = []
        th = threading.Thread(
            target=lambda: other.append(t.read().count())
        )
        th.start()
        th.join()
        assert other == [0]  # serving thread does not
    assert t.read().count() == 0  # nobody does once the scope ends


def test_cleanup_never_reaps_committed_and_prunes_intents(cat):
    """abort_orphans re-checks the commit marker before destroying
    anything and deletes redundant intents of committed transactions;
    commit() itself removes its intent on the happy path."""
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
    keys = [k for k, _ in cat._txn_store.list("", include_hidden=True)]
    assert not any(k.endswith(".intent.json") for k in keys)  # happy path
    # crash straggler: committed but intent survived
    import json as _json

    cat._txn_store.put(
        f"{txn.txn_id}.intent.json",
        _json.dumps({"txn": txn.txn_id, "ts": 0, "tables": []}).encode(),
    )
    assert cat.txn_cleanup(min_age_ms=0) == {}  # nothing reaped
    keys = [k for k, _ in cat._txn_store.list("", include_hidden=True)]
    assert not any(k.endswith(".intent.json") for k in keys)  # pruned
    assert cat.table("facts").read().count() == 1  # data intact


def test_txn_op_limit_guard(cat):
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
    big = CatalogTransaction(cat, cat._txn_store)
    for _ in range(1000):
        big._dml.append(("facts", "delete", ("k < 0",)))
    with pytest.raises(ValueError, match="999"):
        big.commit()


def test_changes_refuses_to_advance_past_pending_txn(cat):
    """The CDC watermark must not skip a transaction whose marker has
    not landed: changes() raises while a pending txn's commits are in
    the window, and succeeds once the marker (or cleanup) resolves it."""
    import json as _json

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": 0}])
    crash = CatalogTransaction(cat, cat._txn_store)
    staged = crash.insert("facts", rows=[{"bucket": "b", "k": 1}])
    cat._txn_store.put(
        f"{crash.txn_id}.intent.json",
        _json.dumps({"txn": crash.txn_id, "ts": 0, "tables": [
            {"name": "facts", "path": t.path, "files": []},
        ]}).encode(),
    )
    t.publish(staged, commit_tag=txn_tag(crash.txn_id) + "-000",
              timestamp_ms=8_888_999)
    with pytest.raises(RuntimeError, match="pending transaction"):
        t.changes(0)
    # resolving the txn (here: committing it) unblocks the stream
    cat._txn_store.put(
        f"{crash.txn_id}.commit.json",
        _json.dumps({"txn": crash.txn_id, "ts": 8_888_999}).encode(),
    )
    cat._txn_store.delete(f"{crash.txn_id}.intent.json")
    cat._txn_vis.refresh()
    assert t.changes(0).count() == 2


def test_history_df_counts_published_commits(cat):
    """publish() restamps markers to the commit instant, so history_df
    attributes files/bytes to WAP- and txn-published commits."""
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
    h = cat.table("facts").history_df().collect()
    assert len(h) == 1
    assert h[0]["files_added"] >= 1 and h[0]["bytes_added"] > 0


def test_safe_watermark_cooperates_with_changes_guard(cat):
    """t.changes(t0, t.safe_watermark()) never raises and never skips:
    bounded below a pending transaction, advances through it once the
    marker lands."""
    import json as _json

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": 0}])
    assert t.changes(0, t.safe_watermark()).count() == 1
    crash = CatalogTransaction(cat, cat._txn_store)
    staged = crash.insert("facts", rows=[{"bucket": "b", "k": 1}])
    cat._txn_store.put(
        f"{crash.txn_id}.intent.json",
        _json.dumps({"txn": crash.txn_id, "ts": 0, "tables": []}).encode(),
    )
    from icedb_spark.log import unique_ms

    pin = unique_ms()
    t.publish(staged, commit_tag=txn_tag(crash.txn_id) + "-000",
              timestamp_ms=pin)
    wm = t.safe_watermark()
    assert wm == pin - 1                      # clamped below the pending txn
    assert t.changes(0, wm).count() == 1      # no raise, nothing skipped
    cat._txn_store.put(
        f"{crash.txn_id}.commit.json",
        _json.dumps({"txn": crash.txn_id, "ts": pin}).encode(),
    )
    cat._txn_vis.refresh()
    assert t.safe_watermark() >= pin          # unblocked
    assert t.changes(wm, t.safe_watermark()).count() == 1  # exactly once


def test_txn_merge_into_commits_atomically(cat, spark):
    """MERGE INTO queued in a transaction: upsert (update matched +
    insert unmatched) lands atomically with the other participants at
    the shared instant; mid-body nothing moves."""
    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i, "v": float(i)} for i in range(3)])
    src = spark.createDataFrame(
        [{"bucket": "b", "k": 1, "v": 100.0},
         {"bucket": "b", "k": 9, "v": 9.0}]
    )
    with cat.transaction() as txn:
        txn.merge_into("facts", src, on="k")
        txn.insert("dims", rows=[{"bucket": "b", "k": 0, "name": "z"}])
        assert _counts(cat) == (3, 0)
        assert cat.sql(
            "select sum(v) as s from facts"
        ).collect()[0]["s"] == 3.0
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {0: 0.0, 1: 100.0, 2: 2.0, 9: 9.0}
    assert _counts(cat) == (4, 1)
    # capture flag rejected at queue time
    bad = CatalogTransaction(cat, cat._txn_store)
    with pytest.raises(ValueError, match="capture_changes"):
        bad.merge_into("facts", src, on="k", capture_changes=True)


# ------------------------------------------------------------------ round 5:
# first-committer-wins conflict validation, pending-txn maintenance guard,
# intent-timestamp watermark clamps, thread-local consistent() holds.


def test_concurrent_txn_cow_race_aborts_younger(cat):
    """Two transactions CoW-rewriting the same file: the younger pending
    intent aborts at validation (first committer wins), fully reclaims,
    and the older one commits — abort, never duplicated survivors."""
    from icedb_spark.txn import TxnConflictError

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    older = CatalogTransaction(cat, cat._txn_store)
    older.delete("facts", "k = 1")
    younger = CatalogTransaction(cat, cat._txn_store)
    younger.delete("facts", "k = 2")
    # drive the older to mid-commit: intent + tagged DML executed, no
    # marker yet (the window a concurrent committer actually sees)
    older._done = True
    o_intent = older._begin()
    o_ts = older._execute()
    with pytest.raises(TxnConflictError, match="older pending"):
        younger.commit()
    # the younger left no trace: no tagged logs, no intent
    assert not any(
        parse_txn_id(k) == younger.txn_id
        for k, _ in t.log_io.get_current_log_files(t.log_storage)
    )
    assert not cat._txn_store.exists(f"{younger.txn_id}.intent.json")
    older._validate_and_finalize(o_intent, o_ts, older._publish_rewrites(o_intent))
    cat._txn_vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 2, 3]  # older's delete applied once; k=2 survives


def test_txn_conflict_with_committed_peer_aborts(cat):
    """A peer that commits BETWEEN this transaction's pin and its
    validation conflicts at file granularity: both CoW-rewrote the same
    file, so the later validator aborts instead of duplicating rows."""
    from icedb_spark.txn import TxnConflictError

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    first = CatalogTransaction(cat, cat._txn_store)
    first.delete("facts", "k = 1")
    second = CatalogTransaction(cat, cat._txn_store)
    second.delete("facts", "k = 2")
    first._done = second._done = True
    f_intent = first._begin()
    s_intent = second._begin()  # pins BEFORE first commits
    f_ts = first._execute()
    first._validate_and_finalize(
        f_intent, f_ts, first._publish_rewrites(f_intent)
    )  # sees second: younger (and second has no complete rewrite map yet)
    s_ts = second._execute()  # pinned C0 excludes first → same file CoW
    with pytest.raises(TxnConflictError, match="first committer"):
        second._validate_and_finalize(
            s_intent, s_ts, second._publish_rewrites(s_intent)
        )
    cat._txn_vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 2, 3]  # exactly the first txn's delete, no dupes
    # the loser's footprint is fully reclaimed
    assert not any(
        parse_txn_id(k) == second.txn_id
        for k, _ in t.log_io.get_current_log_files(t.log_storage)
    )
    assert not cat._txn_store.exists(f"{second.txn_id}.intent.json")


def test_serial_txn_dml_does_not_conflict(cat):
    """Back-to-back transactions on the same table are serial: the
    second pins after the first's marker, sees its state, no conflict."""
    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    with cat.transaction() as txn:
        txn.delete("facts", "k = 1")
    with cat.transaction() as txn:
        txn.delete("facts", "k = 2")
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 3]


def test_insert_only_txns_never_conflict(cat):
    """Staged-insert-only transactions write fresh files — two pending
    at once both commit."""
    a = CatalogTransaction(cat, cat._txn_store)
    a.insert("facts", rows=[{"bucket": "b", "k": 1}])
    b = CatalogTransaction(cat, cat._txn_store)
    b.insert("facts", rows=[{"bucket": "b", "k": 2}])
    a._done = b._done = True
    a_intent = a._begin()
    b_intent = b._begin()
    a_ts = a._execute()
    b_ts = b._execute()
    b._validate_and_finalize(b_intent, b_ts, b._publish_rewrites(b_intent))  # insert-only
    a._validate_and_finalize(a_intent, a_ts, a._publish_rewrites(a_intent))
    cat._txn_vis.refresh()
    assert sorted(r["k"] for r in cat.table("facts").read().collect()) == [1, 2]


def test_maintenance_refuses_during_pending_txn(cat):
    """merge/vacuum/gc during a transaction's publish window would fold
    the filtered snapshot over its invisible tombstones (resurrection) —
    they refuse until the marker lands or cleanup reclaims."""
    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    txn = CatalogTransaction(cat, cat._txn_store)
    txn.delete("facts", "k = 1")
    txn._done = True
    intent = txn._begin()  # intent PUT: the guard must fire from HERE,
    #                        before any tagged log exists
    with pytest.raises(RuntimeError, match="pending"):
        t.merge()
    ts = txn._execute()
    for op in (t.merge, t.tombstone_cleanup, t.gc_orphans, t.optimize):
        with pytest.raises(RuntimeError, match="pending"):
            op()
    txn._validate_and_finalize(intent, ts, txn._publish_rewrites(intent))
    cat._txn_vis.refresh()
    t.merge()  # unblocked once committed
    assert sorted(r["k"] for r in t.read().collect()) == [0, 2, 3]


def test_safe_watermark_clamps_on_pending_intent(cat):
    """Between a transaction's intent PUT and its first tagged log
    append the log listing shows nothing — the watermark must clamp on
    the INTENT's ts (stamped before the commit instant is pinned), or a
    concurrent plain commit lets consumers advance past the pinned
    instant and drop the transaction from every future window."""
    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": 0}])
    txn = CatalogTransaction(cat, cat._txn_store)
    txn.delete("facts", "k < 0")
    txn._done = True
    intent = txn._begin()  # intent durable, NO tagged log yet
    # a plain commit lands with a higher stamp — without the intent
    # clamp the watermark would ride it past the txn's pinned instant
    t.insert([{"bucket": "b", "k": 1}])
    wm = t.safe_watermark()
    assert wm == intent["ts"] - 1
    with pytest.raises(RuntimeError, match="pending transaction"):
        t.changes(0)  # unbounded window overlaps the pending intent
    assert t.changes(0, wm).count() == 1  # pre-intent insert only
    ts = txn._execute()
    txn._validate_and_finalize(intent, ts, txn._publish_rewrites(intent))
    cat._txn_vis.refresh()
    assert t.safe_watermark() >= ts
    # exactly-once: the clamped-out plain insert arrives once the txn
    # resolves (the txn's own DML is a merged rewrite — not an insert)
    assert t.changes(wm, t.safe_watermark()).count() == 1


def test_stream_offset_clamps_on_pending_intent(cat, spark, tmp_path):
    """The streaming source's latestOffset must apply the same intent
    clamp — a stream polling during the intent→first-log window must not
    advance past the transaction's future commits."""
    from icedb_spark.datasource import IceDataSource

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": 0}])
    ds = IceDataSource(
        {"path": t.path, "txn_root": cat._txn_store.root
         if hasattr(cat._txn_store, "root") else str(tmp_path / "_txn")}
    )
    reader = ds.streamReader(ds.schema())
    head0 = reader.latestOffset()["ts"]
    txn = CatalogTransaction(cat, cat._txn_store)
    txn.delete("facts", "k < 0")
    txn._done = True
    intent = txn._begin()
    t.insert([{"bucket": "b", "k": 1}])  # plain commit, higher stamp
    head1 = reader.latestOffset()["ts"]
    assert head1 <= intent["ts"] - 1 or head1 == head0  # never past intent
    ts = txn._execute()
    txn._validate_and_finalize(intent, ts, txn._publish_rewrites(intent))
    head2 = reader.latestOffset()["ts"]
    assert head2 >= ts  # resumes through the committed txn


def test_consistent_hold_is_thread_local(cat):
    """One thread's consistent() hold must not freeze OTHER threads'
    visibility: a transaction committing during the hold is immediately
    visible to a second thread, while the holder stays frozen."""
    import threading

    vis = cat._txn_vis
    t = cat.table("facts")
    entered = threading.Event()
    release = threading.Event()
    holder_counts: list[int] = []

    def holder():
        with vis.consistent():
            entered.set()
            release.wait(timeout=30)
            holder_counts.append(t.read().count())  # frozen view

    th = threading.Thread(target=holder)
    th.start()
    entered.wait(timeout=30)
    with cat.transaction() as txn:
        txn.insert("facts", rows=[{"bucket": "b", "k": 7}])
    # this (main) thread sees the commit immediately — the hold in the
    # other thread must not have pinned OUR refresh
    assert t.read().count() == 1
    release.set()
    th.join()
    assert holder_counts == [0]  # the holder's own view stayed frozen


def test_rest_insert_buffer_bound(cat):
    """RowBatcher refuses rows past max_buffered_rows instead of growing
    driver memory without limit while flushes fail."""
    from icedb_spark.rest import BufferFullError, RowBatcher

    t = cat.table("facts")

    class _Boom:
        def insert(self, rows):
            raise IOError("storage outage")

    b = RowBatcher(_Boom(), flush_interval_s=3600, flush_rows=100,
                   max_buffered_rows=25)
    rows = [{"bucket": "b", "k": i} for i in range(10)]
    b.add(rows)
    with pytest.raises(IOError):
        b.flush()  # flush fails; rows stay buffered
    assert b.buffered() == 10
    b.add(rows[:5])  # under the flush threshold: buffered quietly
    assert b.buffered() == 15
    with pytest.raises(BufferFullError):
        b.add([{"bucket": "b", "k": 0}] * 11)  # 15+11 > 25
    assert b.buffered() == 15  # refused rows were NOT partially taken
    b.table = t  # storage recovers
    assert b.flush() >= 1
    assert b.buffered() == 0
    b.stop(drain=False)


def test_pending_peers_with_disjoint_files_both_commit(cat):
    """Once a pending peer has published its COMPLETE rewrite map
    (<id>.rewrites.json), a younger transaction checks file-level
    disjointness instead of conflicting at table granularity: two
    transactions CoW-rewriting DIFFERENT files of the same table commit
    concurrently."""
    t = cat.table("facts")
    # two partitions -> two data files; each txn rewrites only one
    t.insert([{"bucket": "b1", "k": 1}, {"bucket": "b1", "k": 2}])
    t.insert([{"bucket": "b2", "k": 3}, {"bucket": "b2", "k": 4}])
    older = CatalogTransaction(cat, cat._txn_store)
    older.delete("facts", "bucket = 'b1' and k = 1")
    younger = CatalogTransaction(cat, cat._txn_store)
    younger.delete("facts", "bucket = 'b2' and k = 3")
    older._done = younger._done = True
    o_i = older._begin()
    y_i = younger._begin()
    o_ts = older._execute()
    o_map = older._publish_rewrites(o_i)  # complete map durable
    y_ts = younger._execute()
    y_map = younger._publish_rewrites(y_i)
    # the younger validates while the older still pends: disjoint files
    # under the older's published map — no conflict
    younger._validate_and_finalize(y_i, y_ts, y_map)
    older._validate_and_finalize(o_i, o_ts, o_map)
    cat._txn_vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [2, 4]  # both deletes applied, nothing duplicated
    # the transient rewrite maps were cleaned up with the intents
    keys = [k for k, _ in cat._txn_store.list("", include_hidden=True)]
    assert not any(k.endswith(".rewrites.json") for k in keys)
    assert not any(k.endswith(".intent.json") for k in keys)


def test_pending_peers_same_file_still_conflict(cat):
    """The file-level refinement must not weaken safety: two pending
    transactions whose published rewrite maps OVERLAP still resolve by
    priority — the younger aborts."""
    from icedb_spark.txn import TxnConflictError

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])  # one file
    older = CatalogTransaction(cat, cat._txn_store)
    older.delete("facts", "k = 1")
    younger = CatalogTransaction(cat, cat._txn_store)
    younger.delete("facts", "k = 2")
    older._done = younger._done = True
    o_i = older._begin()
    y_i = younger._begin()
    o_ts = older._execute()
    o_map = older._publish_rewrites(o_i)
    y_ts = younger._execute()
    y_map = younger._publish_rewrites(y_i)
    with pytest.raises(TxnConflictError, match="same file"):
        younger._validate_and_finalize(y_i, y_ts, y_map)
    older._validate_and_finalize(o_i, o_ts, o_map)
    cat._txn_vis.refresh()
    assert sorted(r["k"] for r in t.read().collect()) == [0, 2, 3]


def test_conflict_protocol_under_phase_interleavings(cat):
    """Model-check the commit protocol: two transactions CoW-deleting
    from the SAME file race through every phase interleaving (begin ->
    execute -> publish rewrites -> validate+finalize, steps ordered per
    txn, conflict aborts the txn). Invariant, for every interleaving:
    the final table contains NO duplicated rows, reflects EXACTLY the
    deletes of the transactions whose commit marker exists, and at
    least one transaction succeeds when the other aborted. This is the
    executable form of the first-committer-wins claim."""
    from itertools import combinations

    from icedb_spark.txn import TxnConflictError

    t = cat.table("facts")
    vis = cat._txn_vis

    def steps(txn, intent_box):
        def begin():
            intent_box["i"] = txn._begin()

        def execute():
            intent_box["ts"] = txn._execute()

        def rewrites():
            intent_box["own"] = txn._publish_rewrites(intent_box["i"])

        def validate():
            txn._validate_and_finalize(
                intent_box["i"], intent_box["ts"], intent_box["own"]
            )

        return [begin, execute, rewrites, validate]

    # all C(8,4)=70 interleavings is Spark-job-prohibitive; take a
    # deterministic spread that includes the adversarial shapes (fully
    # serial, fully interleaved, validate-before-peer-rewrites, late
    # older-validate)
    all_slots = list(combinations(range(8), 4))
    picked = all_slots[::7] + [all_slots[0], all_slots[-1], (0, 2, 4, 6),
                               (0, 1, 4, 5), (0, 3, 5, 7)]
    seen_states = set()
    for a_slots in sorted(set(picked)):
        # reset the table to a known state: 4 rows in ONE file
        for key, _sz in list(
            t.log_io.get_current_log_files(t.log_storage)
        ):
            t.log_storage.delete(key)
        for key, _sz in list(t.storage.list("_data", include_hidden=True)):
            t.storage.delete(key)
        for key, _sz in list(
            cat._txn_store.list("", include_hidden=True)
        ):
            cat._txn_store.delete(key)
        t.insert([{"bucket": "b", "k": i} for i in range(4)])
        a = CatalogTransaction(cat, cat._txn_store)
        a.delete("facts", "k = 1")
        b = CatalogTransaction(cat, cat._txn_store)
        b.delete("facts", "k = 2")
        a._done = b._done = True
        boxes = {"a": {}, "b": {}}
        seq_a = steps(a, boxes["a"])
        seq_b = steps(b, boxes["b"])
        order = []
        ia = ib = 0
        for slot in range(8):
            if slot in a_slots:
                order.append(("a", seq_a[ia])); ia += 1
            else:
                order.append(("b", seq_b[ib])); ib += 1
        dead = set()
        for who, step in order:
            if who in dead:
                continue
            try:
                step()
            except TxnConflictError:
                dead.add(who)
        vis.refresh()
        ks = sorted(r["k"] for r in t.read().collect())
        committed = {
            tid
            for tid in (a.txn_id, b.txn_id)
            if cat._txn_store.exists(f"{tid}.commit.json")
        }
        expect = [0, 1, 2, 3]
        if a.txn_id in committed:
            expect.remove(1)
        if b.txn_id in committed:
            expect.remove(2)
        assert ks == expect, (a_slots, ks, expect, dead)
        assert len(ks) == len(set(ks)), (a_slots, ks)  # no duplication
        assert committed, (a_slots, dead)  # at least one side succeeds
        seen_states.add((len(committed), tuple(sorted(dead))))
    # the sweep must actually exercise both resolutions: concurrent
    # aborts AND cases where both serialize cleanly
    assert any(n == 1 for n, _ in seen_states)
    assert len(seen_states) >= 2


def test_peer_commit_between_validate_listings_aborts(cat):
    """Statement-level TOCTOU regression (VERDICT r5 #1): an older peer
    completes its marker PUT + intent delete exactly BETWEEN the
    validator's two listings. With the r5 order (markers, then intents)
    the peer was invisible to both checks and BOTH sides committed —
    duplicated survivors. With intents snapshotted first, the peer's
    marker is guaranteed in the later marker listing: abort, never
    duplicate."""
    from icedb_spark.txn import TxnConflictError

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    older = CatalogTransaction(cat, cat._txn_store)
    older.delete("facts", "k = 1")
    younger = CatalogTransaction(cat, cat._txn_store)
    younger.delete("facts", "k = 2")
    older._done = younger._done = True
    o_intent = older._begin()
    o_ts = older._execute()
    o_own = older._publish_rewrites(o_intent)
    y_intent = younger._begin()
    y_ts = younger._execute()  # pinned C0 excludes the older txn —
    y_own = younger._publish_rewrites(y_intent)  # same-file CoW rewrite
    vis = cat._txn_vis
    real = vis._list_committed
    state = {"armed": True, "fired": False}

    def hooked():
        if state["armed"]:
            # fire on the younger validator's V2 marker listing (its V1
            # intent snapshot already ran): the older peer validates
            # (sees the younger's intent, has priority), PUTs its
            # marker, and deletes its intent — all inside the window
            state["armed"] = False
            state["fired"] = True
            older._validate_and_finalize(o_intent, o_ts, o_own)
        return real()

    vis._list_committed = hooked
    try:
        with pytest.raises(
            TxnConflictError, match="first committer wins"
        ):
            younger._validate_and_finalize(y_intent, y_ts, y_own)
    finally:
        vis._list_committed = real
    assert state["fired"]
    vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 2, 3]  # older's delete applied ONCE, k=2 survives
    assert len(ks) == len(set(ks))
    # the loser is fully reclaimed
    assert not any(
        parse_txn_id(k) == younger.txn_id
        for k, _ in t.log_io.get_current_log_files(t.log_storage)
    )
    assert not cat._txn_store.exists(f"{younger.txn_id}.intent.json")


def test_peer_commit_after_marker_listing_caught_by_probe(cat):
    """The sibling window: the peer commits AFTER the validator's V2
    marker listing (so it reads as pending from the V1 intent snapshot)
    and its cleanup deletes rewrites.json before the pending-peer check
    GETs it. The direct marker probe reclassifies it as committed and
    the file-level tagged-log check aborts the validator."""
    from icedb_spark.txn import TxnConflictError

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    older = CatalogTransaction(cat, cat._txn_store)
    older.delete("facts", "k = 1")
    younger = CatalogTransaction(cat, cat._txn_store)
    younger.delete("facts", "k = 2")
    older._done = younger._done = True
    o_intent = older._begin()
    o_ts = older._execute()
    o_own = older._publish_rewrites(o_intent)
    y_intent = younger._begin()
    y_ts = younger._execute()
    y_own = younger._publish_rewrites(y_intent)
    vis = cat._txn_vis
    real = vis._list_committed
    state = {"armed": True, "fired": False}

    def hooked():
        res = real()
        if state["armed"]:
            # commit the peer AFTER the V2 listing was taken: its
            # marker is missing from V2, its intent was present at V1
            state["armed"] = False
            state["fired"] = True
            older._validate_and_finalize(o_intent, o_ts, o_own)
        return res

    vis._list_committed = hooked
    try:
        with pytest.raises(
            TxnConflictError, match="committed during validation"
        ):
            younger._validate_and_finalize(y_intent, y_ts, y_own)
    finally:
        vis._list_committed = real
    assert state["fired"]
    vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 2, 3]
    assert not cat._txn_store.exists(f"{younger.txn_id}.intent.json")


def test_committed_peer_with_leaked_intent_does_not_conflict(cat):
    """Stale-snapshot regression (ADVICE r5): a peer that committed long
    ago but whose best-effort intent delete failed must NOT read as a
    pending older transaction — without the direct marker probe, every
    overlapping commit spuriously aborted until cleanup ran."""
    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i} for i in range(4)])
    with cat.transaction() as txn:
        txn.delete("facts", "k = 1")
    leaked = txn.txn_id
    # simulate the failed intent delete: resurrect the intent marker
    cat._txn_store.put(
        f"{leaked}.intent.json",
        json.dumps(
            {"txn": leaked, "ts": 1, "dml_tables": ["facts"],
             "tables": [{"name": "facts",
                         "path": cat.table("facts").path, "files": []}]}
        ).encode(),
    )
    assert cat._txn_store.exists(f"{leaked}.commit.json")
    # not pending anywhere: the probe reclassifies it as committed
    assert leaked not in cat._txn_vis.pending()
    assert all(
        d.get("txn") != leaked for d in cat._txn_vis.pending_intents()
    )
    # an overlapping commit sails through (no spurious TxnConflictError)
    with cat.transaction() as txn2:
        txn2.delete("facts", "k = 2")
    cat._txn_vis.refresh()
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 3]


def test_participant_lock_failure_releases_acquired_locks(cat):
    """ExitStack regression (ADVICE r5): when a LATER participant's lock
    acquisition raises, the locks already acquired must be released —
    not leaked until the provider expires them."""
    from contextlib import contextmanager

    events = []

    @contextmanager
    def good_provider(op):
        events.append("dims:acquire")
        try:
            yield
        finally:
            events.append("dims:release")

    def bad_provider(op):
        raise TimeoutError("lock held elsewhere")

    # participants acquire in sorted order: "dims" (good) before
    # "facts" (bad) — so the good lock IS held when the bad one raises
    cat.table("dims").lock_provider = good_provider
    cat.table("facts").lock_provider = bad_provider
    try:
        txn = CatalogTransaction(cat, cat._txn_store)
        txn.insert("facts", rows=[{"bucket": "b", "k": 1}])
        txn.insert("dims", rows=[{"bucket": "b", "k": 1, "name": "x"}])
        with pytest.raises(TimeoutError):
            txn.commit()
        assert events == ["dims:acquire", "dims:release"]
    finally:
        cat.table("facts").lock_provider = None
        cat.table("dims").lock_provider = None


def test_failed_peer_log_read_aborts_instead_of_reading_disjoint(cat):
    """A GET error on a committed peer's tagged log during validation
    must not read as "no overlap": the overlapping second commit raises
    and the first commit's rows survive, never a lost update. (A peer
    log that vanished would count as a full hit and abort.)"""

    class FailingPeerLog:
        def __init__(self, inner, tid):
            self._inner, self._tid = inner, tid

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def get(self, key):
            if parse_txn_id(key) == self._tid:
                raise OSError("injected: peer log GET failed")
            return self._inner.get(key)

    t = cat.table("facts")
    t.insert([{"bucket": "b", "k": i, "v": 0} for i in range(4)])
    first = CatalogTransaction(cat, cat._txn_store)
    first.update("facts", {"v": "10"}, "k = 1")
    second = CatalogTransaction(cat, cat._txn_store)
    second.delete("facts", "k = 2")
    first._done = second._done = True
    f_intent = first._begin()
    s_intent = second._begin()  # pins BEFORE first commits
    f_ts = first._execute()
    first._validate_and_finalize(
        f_intent, f_ts, first._publish_rewrites(f_intent)
    )
    s_ts = second._execute()  # same-file CoW over the pre-first state
    s_own = second._publish_rewrites(s_intent)
    real = t.log_storage
    t.log_storage = FailingPeerLog(real, first.txn_id)
    try:
        with pytest.raises(OSError, match="injected"):
            second._validate_and_finalize(s_intent, s_ts, s_own)
    finally:
        t.log_storage = real
    assert not cat._txn_store.exists(f"{second.txn_id}.commit.json")
    cat._txn_vis.refresh()
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(0, 0), (1, 10), (2, 0), (3, 0)]
