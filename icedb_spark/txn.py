"""Cross-table ACID transactions through the catalog.

The reference engine is strictly table-scoped — each table's JSONL log is
its own commit domain (``/root/reference/ARCHITECTURE.md``), so a pipeline
writing facts + dims atomically has no primitive to lean on. This layer
adds one, from the same object-store primitives the table log already
relies on (atomic PUT, list-after-write):

Protocol (coordinator-free, all steps idempotent):

1. **STAGE** — inserts inside the transaction are WAP staged
   (``insert(publish=False)``: files land, no log commit exists);
   DELETE/UPDATE ops are QUEUED and execute at commit under the txn tag
   (each sees the pre-txn state plus this transaction's earlier tagged
   commits — self-visibility — never other pending transactions).
2. **INTENT** — one marker ``<txn_root>/<id>.intent.json`` records the
   participant tables and their staged files (the cleanup manifest).
3. **PUBLISH** — queued DML executes, then each participant publishes
   its staged batches; every commit carries ``commit_tag="txn<id>-NNN"``
   and the SAME ``timestamp_ms`` (the seq keeps same-instant log names
   unique and fold-ordered). The tag rides in the log FILENAME
   (log.py:log_file_name), so visibility filtering is metadata-only —
   no extra GETs on the read path.
4. **COMMIT** — one PUT of ``<txn_root>/<id>.commit.json``. This single
   PUT is the atomic visibility flip: a txn-aware reader treats a
   txn-tagged log commit as visible IFF its commit marker exists, so the
   whole transaction appears in every table at once — or never.

Reader contract: tables registered in a catalog with
``enable_transactions(txn_root)`` filter automatically (the catalog
attaches a shared :class:`TxnVisibility` to each). ``catalog.sql`` pins
ONE marker listing per query (``TxnVisibility.consistent``), so a
transaction committing mid-query cannot appear in table B but not table
A. Raw readers that bypass the catalog (plain ``IceTable.open`` without
``commit_visibility``, external Parquet scanners) may observe a partial
transaction during the publish window — the same documented raw-reader
obligation merge-on-read delete sets already carry.

Crash windows: dying before INTENT leaves only staged files (each
table's ``gc_orphans`` reclaims them); dying after INTENT but before
COMMIT leaves txn-tagged commits no filtered reader ever saw —
:func:`abort_orphans` uses the intent manifest to delete their log
commits and data files after a grace window. Commit markers are tiny and
kept forever (they are the transaction's durability record).
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import uuid
from typing import TYPE_CHECKING, Optional

from .log import get_log_file_info, now_ms, unique_ms

if TYPE_CHECKING:  # pragma: no cover
    from .catalog import IceCatalog


class TxnConflictError(RuntimeError):
    """Raised by ``commit()`` when first-committer-wins validation finds a
    conflicting write that landed (or is pending with priority) since this
    transaction pinned its snapshot. The transaction is fully reclaimed
    before the raise — nothing it wrote is visible or left behind; retry
    the whole transaction against the new state."""

# tag chars survive log_file_name's '/'->'-' '_'->'-' mangling untouched.
# The optional -NNN suffix sequences a transaction's several commits (all
# stamped at the SAME instant): it keeps their log filenames unique and
# makes the fold's sorted-key order equal their execution order, so a
# later op's tombstones win LWW over an earlier op's markers.
_TXN_TAG_RE = re.compile(r"-txn([0-9a-f]{12})(?:-\d{3})?\.jsonl$")


def txn_tag(txn_id: str) -> str:
    return f"txn{txn_id}"


def parse_txn_id(log_key: str) -> Optional[str]:
    """The transaction id a log commit is tagged with, or None."""
    m = _TXN_TAG_RE.search(log_key)
    return m.group(1) if m else None


class TxnVisibility:
    """Shared reader-side filter over one transaction store.

    ``is_visible(log_key)`` hides txn-tagged commits whose commit marker
    is absent as of the last ``refresh()`` — ONE listing of the (tiny)
    txn store, not a GET per commit. ``consistent()`` holds a refresh
    across a multi-table fold so every table in one query sees the same
    committed set (without it, a transaction landing mid-query could
    appear in the second table folded but not the first)."""

    def __init__(self, store):
        self.store = store
        self._committed: set[str] = set()
        # transactions THIS THREAD is mid-commit on: their tagged
        # commits are visible to their own later operations (a txn's
        # second DML on a table must see its first), never to readers in
        # other processes (no marker yet) — and never to OTHER THREADS
        # of this process either: a serving thread folding tables while
        # commit() is between two publishes would otherwise observe the
        # torn state the whole layer exists to prevent. The same
        # thread-local also carries consistent()'s PINNED committed-set:
        # a hold freezes only the holding thread's view, so a concurrent
        # commit() or reader in another thread still sees fresh markers
        # (a process-global hold would hand them a stale committed-set
        # and silently lose the transactions that landed during it)
        self._own_local = threading.local()
        self._lock = threading.RLock()

    def _own(self) -> set:
        s = getattr(self._own_local, "tids", None)
        if s is None:
            s = self._own_local.tids = set()
        return s

    # the DataSource reader ships its handle (and this object) to
    # executors; the lock and thread-local must not ride along, and a
    # deserialized copy starts unheld with fresh ones
    def __getstate__(self):
        d = self.__dict__.copy()
        d.pop("_lock", None)
        d.pop("_own_local", None)
        return d

    def __setstate__(self, d):
        self.__dict__.update(d)
        self._lock = threading.RLock()
        self._own_local = threading.local()

    def _list_committed(self) -> set[str]:
        """Fresh listing of commit markers — always hits the store."""
        return {
            key[: -len(".commit.json")]
            for key, _size in self.store.list("", include_hidden=True)
            if key.endswith(".commit.json")
        }

    def _list_intents(self) -> dict[str, dict]:
        """RAW intent snapshot: every intent marker currently listed,
        fetched and parsed, with NO committed-set filtering — the caller
        classifies each against a marker listing it takes strictly
        AFTERWARDS (the ordering ``CatalogTransaction._validate``'s
        correctness argument rests on). An intent GET that 404s mid-scan
        means the intent was just deleted, which implies its commit
        marker was already durable (``_validate_and_finalize`` PUTs the
        marker strictly before ``_cleanup_markers`` deletes the intent)
        — safe to skip here precisely because the caller's marker
        listing happens after this scan completes."""
        out: dict[str, dict] = {}
        for key, _size in self.store.list("", include_hidden=True):
            if not key.endswith(".intent.json"):
                continue
            tid = key[: -len(".intent.json")]
            try:
                doc = json.loads(self.store.get(key).decode())
            except Exception:
                continue  # deleted mid-scan: committed, marker durable
            doc.setdefault("txn", tid)
            out[tid] = doc
        return out

    def _pinned(self) -> Optional[set]:
        return getattr(self._own_local, "pinned", None)

    def _effective(self) -> set:
        """The committed-set THIS THREAD should read: its consistent()
        pin when one is held, else the shared snapshot."""
        pin = self._pinned()
        if pin is not None:
            return pin
        with self._lock:
            return self._committed

    def refresh(self) -> None:
        if self._pinned() is not None:
            # this thread's view is frozen by its consistent() hold;
            # other threads refresh independently
            return
        fresh = self._list_committed()
        with self._lock:
            self._committed = fresh

    def is_visible(self, log_key: str) -> bool:
        tid = parse_txn_id(log_key)
        return tid is None or tid in self._effective() or tid in self._own()

    def pending(self) -> set[str]:
        """Txn ids with an intent marker but (as of this thread's
        effective committed-set) no commit marker — transactions in
        flight or crashed mid-commit."""
        committed = self._effective()
        out = set()
        for key, _size in self.store.list("", include_hidden=True):
            if key.endswith(".intent.json"):
                tid = key[: -len(".intent.json")]
                if tid in committed:
                    continue
                # the snapshot can be stale (commit() never refreshes
                # it): a long-committed peer whose best-effort intent
                # delete failed would otherwise read as pending forever
                # — one direct marker probe settles it
                if self.store.exists(f"{tid}.commit.json"):
                    continue
                out.add(tid)
        return out

    def pending_intents(self) -> list[dict]:
        """Parsed intent manifests of pending transactions (one small GET
        per pending intent — rare, tiny objects). The intent's ``ts`` is
        stamped BEFORE the transaction pins its commit instant, so it
        lower-bounds every commit the transaction will ever write — the
        safe-watermark clamps rely on that to cover the window between
        the intent PUT and the transaction's first tagged log append."""
        committed = self._effective()
        out: list[dict] = []
        for key, _size in self.store.list("", include_hidden=True):
            if not key.endswith(".intent.json"):
                continue
            tid = key[: -len(".intent.json")]
            if tid in committed:
                continue
            # stale-snapshot guard, same as pending(): a committed peer
            # with a failed intent delete is NOT pending — without this
            # probe it would clamp watermarks (and, pre-r6, spuriously
            # conflict every overlapping commit) until cleanup ran
            if self.store.exists(f"{tid}.commit.json"):
                continue
            try:
                doc = json.loads(self.store.get(key).decode())
            except Exception:
                continue  # racing commit/cleanup deleted it — not pending
            doc.setdefault("txn", tid)
            out.append(doc)
        return out

    def self_visible(self, tid: str):
        """Context: make ``tid``'s tagged commits visible to THIS THREAD
        while its commit() is in flight."""
        vis = self

        class _Own:
            def __enter__(self):
                vis._own().add(tid)
                return vis

            def __exit__(self, *exc):
                vis._own().discard(tid)
                return False

        return _Own()

    def consistent(self):
        """Context manager: one pinned committed-set for a whole
        multi-table query, scoped to THE HOLDING THREAD (reentrant).
        Other threads' refresh()/is_visible() stay live."""
        vis = self

        class _Hold:
            def __enter__(self):
                local = vis._own_local
                depth = getattr(local, "pin_depth", 0)
                if depth == 0:
                    fresh = vis._list_committed()
                    with vis._lock:
                        vis._committed = fresh
                    local.pinned = fresh
                local.pin_depth = depth + 1
                return vis

            def __exit__(self, *exc):
                local = vis._own_local
                local.pin_depth -= 1
                if local.pin_depth == 0:
                    local.pinned = None
                return False

        return _Hold()


def intent_involves(intent: dict, table_path: str) -> bool:
    """True when an intent manifest names ``table_path`` as a participant."""
    p = (table_path or "").rstrip("/")
    return any(
        (e.get("path") or "").rstrip("/") == p
        for e in intent.get("tables", [])
    )


def intent_clamp_ms(vis, table_path: str) -> Optional[int]:
    """The highest watermark safe against PENDING INTENTS on a table:
    ``min(intent.ts) - 1`` over pending transactions naming it, or None
    when none pend. Complements the tagged-log clamp — between a
    transaction's intent PUT and its first tagged log append (DML runs
    Spark jobs: seconds to minutes), the log listing shows nothing, and
    this is the only signal that commits below ``now`` are still coming."""
    if vis is None or not hasattr(vis, "pending_intents"):
        return None
    floor: Optional[int] = None
    for doc in vis.pending_intents():
        if not intent_involves(doc, table_path):
            continue
        ts = doc.get("ts")
        if isinstance(ts, int):
            floor = ts - 1 if floor is None else min(floor, ts - 1)
    return floor


class CatalogTransaction:
    """One transaction: stage writes, then one-PUT atomic commit.

    Use through ``with catalog.transaction() as txn:`` — the context
    manager commits on clean exit and aborts (stages become orphans, no
    commit ever exists) when the body raises."""

    def __init__(self, catalog: "IceCatalog", store):
        self.catalog = catalog
        self.store = store
        self.txn_id = uuid.uuid4().hex[:12]
        self._staged: list[tuple[str, object]] = []  # (table name, StagedInsert)
        self._dml: list[tuple[str, str, tuple]] = []  # (table, op, args)
        self._done = False

    def insert(self, table_name: str, rows=None, df=None):
        """Stage one insert into a registered table (WAP staged — files
        written now, visible only if the transaction commits)."""
        if self._done:
            raise RuntimeError("transaction already finished")
        t = self.catalog.table(table_name)
        staged = t.insert(rows=rows, df=df, publish=False)
        self._staged.append((table_name, staged))
        return staged

    def delete(self, table_name: str, where: str) -> None:
        """Queue a row-level DELETE. DML ops execute at commit() under
        the transaction's tag and shared instant — they see the
        PRE-transaction snapshot (this txn's staged inserts are not yet
        visible to them), and they do not support capture_changes."""
        self._queue_dml(table_name, "delete", (where,))

    def update(self, table_name: str, assignments: dict, where: str) -> None:
        """Queue a row-level UPDATE (same contract as :meth:`delete`)."""
        self._queue_dml(table_name, "update", (assignments, where))

    def merge_into(self, table_name: str, source, on, **kwargs) -> None:
        """Queue a ``MERGE INTO`` upsert (same contract as
        :meth:`delete`: executes at commit under the txn tag against the
        pre-txn snapshot; the source DataFrame is evaluated then).
        ``capture_changes`` is not supported inside a transaction."""
        if kwargs.get("capture_changes"):
            raise ValueError(
                "capture_changes is not supported inside a transaction"
            )
        self._queue_dml(table_name, "merge_into", (source, on, kwargs))

    def _queue_dml(self, table_name: str, op: str, args: tuple) -> None:
        if self._done:
            raise RuntimeError("transaction already finished")
        self.catalog.table(table_name)  # KeyError early for typos
        self._dml.append((table_name, op, args))

    def commit(self) -> Optional[int]:
        """INTENT -> tagged DML execution + per-table tagged PUBLISH
        (same instant) -> first-committer-wins VALIDATION -> one-PUT
        COMMIT marker. Returns the transaction's commit timestamp, or
        None for an empty transaction.

        Isolation: snapshot isolation with file-level first-committer
        wins. Every queued DML reads AS OF the pinned instant; before
        the marker PUT, validation re-lists each DML table's log and
        aborts (full reclaim + :class:`TxnConflictError`) when a foreign
        commit that became visible since the pin references any file
        this transaction's DML tombstoned — the duplicated-survivor /
        resurrection hazard two concurrent CoW rewrites of the same file
        would otherwise create. Concurrently PENDING transactions with a
        queued-DML table in common are checked at FILE granularity when
        the peer has published its complete rewrite map (disjoint
        rewrites commit concurrently) and at table granularity while it
        is still executing: on a real overlap the YOUNGER intent aborts.
        A younger transaction always lists the store after the older
        intent's PUT, so at least the younger side of any pair sees the
        conflict — exactly one survives. Insert-only transactions never
        conflict (fresh files, no tombstones).

        When participant tables carry a ``lock_provider``, commit()
        additionally holds each (sorted order, reentrant for the queued
        DML inside) across the WHOLE commit window, closing the
        maintenance-during-publish race for lock-using deployments.
        Crashed transactions (intent, no marker) block younger
        overlapping transactions until ``txn_cleanup`` reclaims them.
        """
        if self._done:
            raise RuntimeError("transaction already finished")
        self._done = True
        if not self._staged and not self._dml:
            return None
        n_ops = len(self._dml) + len(
            {name for name, _ in self._staged}
        )
        if n_ops > 999:
            # the 3-digit tag sequence is a correctness boundary: a
            # 4-digit seq would not parse as a txn tag (instantly
            # visible mid-commit — torn) and would sort before -999
            raise ValueError(
                f"transaction has {n_ops} operations; the limit is 999 "
                "— batch DML predicates or split the transaction"
            )
        with self._participant_locks():
            intent = self._begin()
            ts = self._execute()
            own = self._publish_rewrites(intent)
            self._validate_and_finalize(intent, ts, own)
        return ts

    def _participant_locks(self):
        """Hold every lock-configured participant's maintenance lock for
        the whole commit window (sorted by table name — a global order,
        so two transactions locking overlapping sets cannot deadlock)."""
        stack = contextlib.ExitStack()
        participants = sorted(
            {name for name, _ in self._staged}
            | {name for name, _, _ in self._dml}
        )
        try:
            for name in participants:
                t = self.catalog.table(name)
                if getattr(t, "lock_provider", None) is not None:
                    stack.enter_context(t._maintenance_lock("txn_commit"))
        except BaseException:
            # a later participant's acquisition failed: release the
            # locks already held (the stack is returned to commit()'s
            # with-statement, which never starts on a raise here, and
            # ExitStack does not close on GC)
            stack.close()
            raise
        return stack

    def _begin(self) -> dict:
        """PUT the intent manifest, snapshot the committed-marker set
        (C0) and pin the commit instant — in that order: any reader
        whose watermark could reach the pinned instant must have listed
        the store after the intent PUT and therefore sees the pending
        marker (the safe-watermark clamp); pinning first would leave a
        sliver where a concurrent reader advances past the instant with
        no way to know a transaction was in flight."""
        participants = {name for name, _ in self._staged} | {
            name for name, _, _ in self._dml
        }
        staged_files: dict[str, list[str]] = {}
        for name, staged in self._staged:
            staged_files.setdefault(name, []).extend(
                m.path for m in staged.markers
            )
        intent = {
            "txn": self.txn_id,
            # age-gating stamp + safe-watermark floor + pending-peer
            # priority; unique_ms so two commits in the same process
            # never tie (cross-process ms ties fall to the txn-id
            # tie-break, which is symmetric and therefore still safe)
            "ts": unique_ms(),
            # tables whose rows this txn REWRITES — the conflict domain
            # (staged-insert-only participants never conflict)
            "dml_tables": sorted({name for name, _, _ in self._dml}),
            # staged-insert files are listed here; files a tagged DML
            # writes are recovered from its tagged log at cleanup time
            "tables": [
                {
                    "name": name,
                    "path": self.catalog.table(name).path,
                    "files": staged_files.get(name, []),
                }
                for name in sorted(participants)
            ],
        }
        self.store.put(
            f"{self.txn_id}.intent.json", json.dumps(intent).encode()
        )
        self._intent_ts = intent["ts"]
        self._c0 = self.catalog._txn_vis._list_committed()
        self._pin = unique_ms()
        return intent

    @contextlib.contextmanager
    def _pinned_visibility(self):
        """Pin this thread's committed-set to the transaction's C0
        snapshot for the whole execution: every queued DML op reads the
        SAME committed state (no torn visibility when a peer's marker
        lands between two ops), and validation against C0 becomes exact
        — a conflict is flagged iff something became visible after the
        state the DML actually read."""
        vis = self.catalog._txn_vis
        local = vis._own_local
        prev_pin = getattr(local, "pinned", None)
        prev_depth = getattr(local, "pin_depth", 0)
        local.pinned = set(self._c0)
        local.pin_depth = prev_depth + 1
        try:
            yield
        finally:
            local.pin_depth = prev_depth
            local.pinned = prev_pin

    def _execute(self) -> int:
        """Run queued DML then publish staged inserts, all tagged and
        stamped at the pinned instant, reading the pinned C0 snapshot."""
        ts = self._pin
        tag = txn_tag(self.txn_id)
        vis = self.catalog._txn_vis
        seq = 0
        with vis.self_visible(self.txn_id), self._pinned_visibility():
            # ordering inside the transaction: DML ops run first (each
            # sees the pre-txn state plus this txn's EARLIER tagged
            # commits, via self-visibility), then staged inserts append.
            # Every commit shares ts; the zero-padded seq in the tag
            # keeps same-instant log names unique and fold-ordered.
            for name, op, args in self._dml:
                t = self.catalog.table(name)
                with t._tagged_commits(f"{tag}-{seq:03d}", ts):
                    if op == "delete":
                        t.delete(args[0])
                    elif op == "update":
                        t.update(args[0], args[1])
                    else:
                        t.merge_into(args[0], args[1], **args[2])
                seq += 1
            by_table: dict[str, list] = {}
            for name, staged in self._staged:
                by_table.setdefault(name, []).append(staged)
            for name, batches in by_table.items():
                self.catalog.table(name).publish(
                    batches, commit_tag=f"{tag}-{seq:03d}", timestamp_ms=ts
                )
                seq += 1
        return ts

    def _publish_rewrites(self, intent: dict) -> dict[str, set[str]]:
        """Read back what this transaction's DML tombstoned (its own
        tagged logs — few and tiny, one per queued op) and publish the
        COMPLETE map as ``<id>.rewrites.json``: once this object exists,
        the set can no longer grow, so a concurrently-validating peer
        may check file-level disjointness against it instead of
        conflicting at table granularity."""
        dml_tables = set(intent.get("dml_tables") or ())
        own_tomb: dict[str, set[str]] = {}
        for name in dml_tables:
            t = self.catalog.table(name)
            paths: set[str] = set()
            for key, _sz in t.log_io.get_current_log_files(t.log_storage):
                if parse_txn_id(key) != self.txn_id:
                    continue
                try:
                    _m, _s, fms, tmbs = t.log_io.read_log(
                        t.log_storage, key
                    )
                except FileNotFoundError:
                    continue  # listed, then gone: nothing to publish
                # any other read error propagates: skipping the log would
                # publish an incomplete map peers then trust as final
                # a DML commit records the files it rewrote as DEAD
                # FileMarkers (alive=False); tmbs holds log-file
                # tombstones — take both
                paths.update(m.path for m in fms if not m.alive)
                paths.update(tb.path for tb in tmbs)
            if paths:
                own_tomb[name] = paths
        if dml_tables:
            self.store.put(
                f"{self.txn_id}.rewrites.json",
                json.dumps(
                    {n: sorted(p) for n, p in own_tomb.items()}
                ).encode(),
            )
        return own_tomb

    def _cleanup_markers(self) -> None:
        """Best-effort removal of the transaction's transient store
        objects (intent manifest + rewrite map) — dead weight once a
        commit marker exists, garbage after an abort."""
        for key in (
            f"{self.txn_id}.intent.json",
            f"{self.txn_id}.rewrites.json",
        ):
            try:
                self.store.delete(key)
            except Exception:
                pass

    def _validate_and_finalize(
        self, intent: dict, ts: int, own_tomb: dict[str, set[str]]
    ) -> None:
        """First-committer-wins validation, then the atomic visibility
        flip. On conflict: reclaim everything this transaction wrote
        (tagged logs, rewrite files, staged files, intent) and raise
        :class:`TxnConflictError` — abort, never duplicate."""
        try:
            self._validate(intent, ts, own_tomb)
        except TxnConflictError:
            _reclaim_participants(self.catalog, intent)
            self._cleanup_markers()
            raise
        # the atomic visibility flip
        self.store.put(
            f"{self.txn_id}.commit.json",
            json.dumps({"txn": self.txn_id, "ts": ts}).encode(),
        )
        # the intent is only the crash-cleanup manifest — once the
        # commit marker exists it is dead weight on every reader's
        # marker listing; best-effort delete (abort_orphans sweeps
        # stragglers from a crash landing exactly here)
        self._cleanup_markers()

    def _log_hit(self, t, key: str, mine: set[str]) -> set[str]:
        """Paths a single log commit references that intersect ``mine``.

        A peer log that vanished between the listing and this GET counts
        as a full hit (the conservative answer: abort, the caller may
        retry); any other read error propagates — reading it as
        "disjoint" would let two overlapping transactions both commit."""
        try:
            _m, _s, fms, tmbs = t.log_io.read_log(t.log_storage, key)
        except FileNotFoundError:
            return set(mine)
        refs = {m.path for m in fms} | {tb.path for tb in tmbs}
        return refs & mine

    def _committed_peer_hit(
        self, tid: str, own_tomb: dict[str, set[str]]
    ) -> Optional[tuple[str, str, set[str]]]:
        """File-level check of a COMMITTED peer's tagged logs against this
        transaction's rewrites: (table, log key, overlapping paths) of
        the first hit, or None when disjoint."""
        for name, mine in own_tomb.items():
            t = self.catalog.table(name)
            for key, _sz in t.log_io.get_current_log_files(t.log_storage):
                if parse_txn_id(key) != tid:
                    continue
                hit = self._log_hit(t, key, mine)
                if hit:
                    return name, key, hit
        return None

    def _validate(
        self, intent: dict, ts: int, own_tomb: dict[str, set[str]]
    ) -> None:
        """First-committer-wins: abort if anything that became visible
        since the pin — or an OLDER still-pending peer — touches what
        this transaction's DML rewrote.

        LISTING ORDER IS THE CORRECTNESS ARGUMENT (closes the r5
        statement-level TOCTOU): pending intents are snapshotted (V1,
        listing + every GET) strictly BEFORE the commit markers are
        listed (V2). A committing peer always PUTs its marker strictly
        before deleting its intent (``_validate_and_finalize`` →
        ``_cleanup_markers``), so a conflicting peer absent from the V1
        intent snapshot is guaranteed present in the V2 marker listing:
        marker-PUT < intent-delete < V1 < V2. The reverse order
        (markers first, r1–r5) had a window where a peer completing
        both steps between the two listings was invisible to BOTH
        checks and both sides of an overlapping pair committed."""
        dml_tables = set(intent.get("dml_tables") or ())
        if not dml_tables:
            return  # insert-only: fresh files, nothing to conflict with
        vis = self.catalog._txn_vis
        # V1: raw intent snapshot (no committed filtering — classified
        # against the FRESH V2 listing below, never a stale cache)
        intents = vis._list_intents()
        # V2: fresh marker listing, strictly after every V1 GET
        committed_now = vis._list_committed()
        newly_committed = committed_now - self._c0 - {self.txn_id}
        pending = {
            tid: doc
            for tid, doc in intents.items()
            if tid != self.txn_id and tid not in committed_now
        }
        # (b) foreign commits visible since the pin that reference any
        # of those paths: txn markers in C1−C0, and plain logs stamped
        # after the pin (a merge/rewrite collapsing over my invisible
        # tombstones restates the files alive with a LATER stamp — LWW
        # would resurrect them the instant my marker lands).
        for name, mine in own_tomb.items():
            t = self.catalog.table(name)
            for key, _sz in t.log_io.get_current_log_files(t.log_storage):
                tid = parse_txn_id(key)
                if tid == self.txn_id:
                    continue
                if tid is None:
                    lts, merged = get_log_file_info(key)
                    if lts <= ts:
                        continue  # pre-pin plain commit: in my snapshot
                    if not merged:
                        continue  # plain INSERT: fresh files only, can
                        #           never reference my tombstoned paths
                elif tid in self._c0:
                    continue  # committed before my pin: in my snapshot
                elif tid not in newly_committed:
                    if tid in pending:
                        continue  # genuinely pending: handled at (c)
                    # neither committed at V2 nor pending at V1: a peer
                    # that began after V1 (younger — it lists intents
                    # after my intent PUT, sees me, and defers) or one
                    # committing DURING this scan; a direct marker
                    # probe distinguishes them
                    if not self.store.exists(f"{tid}.commit.json"):
                        continue
                hit = self._log_hit(t, key, mine)
                if hit:
                    raise TxnConflictError(
                        f"transaction {self.txn_id}: concurrent commit "
                        f"{key!r} on table {name!r} references "
                        f"{len(hit)} file(s) this transaction rewrote "
                        f"(e.g. {sorted(hit)[0]!r}); first committer "
                        "wins — transaction aborted, retry"
                    )
        # (c) still-pending peers sharing a DML table. When the peer has
        # already published its COMPLETE rewrite map (<id>.rewrites.json,
        # written after its last DML — the set can no longer grow), check
        # file-level disjointness: disjoint rewrites commit concurrently.
        # Otherwise (peer mid-execution, set unknowable) conflict at
        # table granularity — the YOUNGER (intent ts, txn id) aborts. The
        # younger side of any pair always lists the store after the older
        # intent's PUT, so at least one side sees the overlap.
        my_key = (self._intent_ts, self.txn_id)
        for tid, doc in pending.items():
            theirs = set(
                doc.get(
                    "dml_tables",
                    [e.get("name") for e in doc.get("tables", [])],
                )
            )
            shared = theirs & dml_tables
            if not shared:
                continue
            peer_map = None
            try:
                peer_map = json.loads(
                    self.store.get(f"{tid}.rewrites.json").decode()
                )
            except Exception:
                peer_map = None  # peer still executing (or pre-map era)
            if peer_map is None and self.store.exists(
                f"{tid}.commit.json"
            ):
                # the rewrites GET failed because the peer COMMITTED
                # after V2 and cleaned up its transient objects — it is
                # not pending, and its rewrites are now authoritative:
                # check its tagged logs at file granularity (regardless
                # of intent age — the marker already exists)
                chit = self._committed_peer_hit(tid, own_tomb)
                if chit is not None:
                    name, key, hit = chit
                    raise TxnConflictError(
                        f"transaction {self.txn_id}: peer {tid} "
                        f"committed during validation and its commit "
                        f"{key!r} on table {name!r} references "
                        f"{len(hit)} file(s) this transaction rewrote "
                        f"(e.g. {sorted(hit)[0]!r}); first committer "
                        "wins — transaction aborted, retry"
                    )
                continue
            if peer_map is not None:
                hit = {
                    name: sorted(
                        own_tomb.get(name, set())
                        & set(peer_map.get(name, ()))
                    )
                    for name in shared
                }
                hit = {n: p for n, p in hit.items() if p}
                if not hit:
                    continue  # complete peer map, disjoint files — safe
                if (doc.get("ts", 0), tid) < my_key:
                    raise TxnConflictError(
                        f"transaction {self.txn_id}: older pending "
                        f"transaction {tid} rewrote the same file(s) "
                        f"{hit}; first committer wins — this "
                        "transaction aborted, retry (if the older one "
                        "crashed, txn_cleanup() unblocks)"
                    )
                continue  # I have priority: the peer aborts, not me
            if (doc.get("ts", 0), tid) < my_key:
                raise TxnConflictError(
                    f"transaction {self.txn_id}: older pending "
                    f"transaction {tid} also rewrites "
                    f"{sorted(shared)} and has not finished its DML "
                    "(file sets unknowable); first committer wins — "
                    "this transaction aborted, retry (if the older one "
                    "crashed, txn_cleanup() unblocks)"
                )

    def abort(self) -> None:
        """Walk away: nothing was published (or, if commit() died midway,
        nothing is visible to filtered readers). Staged files are
        unreferenced and per-table ``gc_orphans`` / :func:`abort_orphans`
        reclaim them after their grace windows."""
        self._done = True


def abort_orphans(catalog: "IceCatalog", min_age_ms: int = 3_600_000) -> dict:
    """Collect transactions that died between INTENT and COMMIT: for each
    intent marker older than ``min_age_ms`` with no commit marker, delete
    the participants' txn-tagged log commits (never visible to filtered
    readers), their staged data files (from the intent manifest), and
    finally the intent marker itself. Returns per-txn counts.

    The grace window serves two roles: raw readers bypassing the
    catalog may be mid-scan over a partial transaction, AND the intent
    timestamp is stamped at commit START — so ``min_age_ms`` must
    comfortably exceed the longest plausible commit (DML Spark jobs
    included) or a slow-but-healthy transaction could be reaped mid
    flight. The commit marker is re-checked immediately before anything
    is destroyed, which closes the window to the final deletion pass;
    run cleanup like vacuum (scheduled, rare), not beside every commit.
    """
    store = catalog._txn_store
    cutoff = now_ms() - min_age_ms
    # fresh listing, not the shared visibility snapshot: a concurrent
    # consistent() hold makes vis.refresh() a deliberate no-op, and
    # reaping from a frozen committed-set would destroy a transaction
    # that committed during the hold
    listed = store.list("", include_hidden=True)
    committed = {
        k[: -len(".commit.json")]
        for k, _s in listed
        if k.endswith(".commit.json")
    }
    out: dict[str, dict] = {}
    for key, _size in listed:
        if not key.endswith(".intent.json"):
            continue
        tid = key[: -len(".intent.json")]
        if tid in committed:
            # committed: the intent is dead weight (commit() deletes it
            # on the happy path; this sweeps crash stragglers)
            store.delete(key)
            try:
                store.delete(f"{tid}.rewrites.json")
            except Exception:
                pass
            continue
        intent = json.loads(store.get(key).decode())
        if intent.get("ts", 0) > cutoff:
            continue
        # last-instant re-check: the committer may have landed its
        # marker since the listing
        if store.exists(f"{tid}.commit.json"):
            store.delete(key)
            continue
        out[tid] = _reclaim_participants(catalog, intent)
        store.delete(key)
        try:
            store.delete(f"{tid}.rewrites.json")
        except Exception:
            pass
    return out


def _reclaim_participants(catalog: "IceCatalog", intent: dict) -> dict:
    """Undo an uncommitted transaction's footprint from its intent
    manifest: delete its tagged log commits (never visible to filtered
    readers), the rewrite files those logs aliveness-reference, and the
    staged-insert files the manifest lists. Shared by ``abort_orphans``
    (crash cleanup) and ``commit()``'s conflict abort. Returns counts."""
    tid = intent.get("txn")
    counts = {"logs": 0, "files": 0}
    for entry in intent.get("tables", []):
        name = entry.get("name")
        try:
            t = catalog.table(name)
        except KeyError:
            continue
        # tagged log commits of this txn (metadata-only match). A
        # tagged DML log's ALIVE markers are rewrite files the txn
        # itself wrote (uuid-fresh, referenced nowhere else) —
        # delete them with the log; its TOMBSTONE markers reference
        # pre-txn files and are left strictly alone (deleting the
        # log un-tombstones them, which IS the abort).
        deleted: set[str] = set()
        for log_key, _sz in t.log_io.get_current_log_files(
            t.log_storage
        ):
            if parse_txn_id(log_key) != tid:
                continue
            get_log_file_info(log_key)  # validates shape
            try:
                _m, _s, fms, _t = t.log_io.read_log(
                    t.log_storage, log_key
                )
            except Exception:
                fms = []
            for m in fms:
                if m.alive and m.path not in deleted:
                    t.storage.delete(m.path)
                    deleted.add(m.path)
            t.log_storage.delete(log_key)
            counts["logs"] += 1
        for rel in entry.get("files", []):
            if rel not in deleted:  # staged-but-never-published
                t.storage.delete(rel)
                deleted.add(rel)
        counts["files"] += len(deleted)
    return counts
