"""Transactional commit-log table format: every protocol invariant the
module docstring claims, exercised through real Spark writes/reads —
atomic commit, optimistic concurrency, snapshot isolation / time
travel, MERGE delete+insert semantics with footer-stats data skipping,
crash-orphan tolerance + vacuum, and checkpoint-bounded log replay."""

from __future__ import annotations

import json
import os
import re
import tempfile
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from docker_aktin_dwh_spark.operators.streamnative import await_query
from docker_aktin_dwh_spark.sources import txnlog


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="txnlog_") as d:
        yield os.path.join(d, "tbl")


def _mk(spark, lo, hi, tag="a"):
    # coalesce(2): at local[32] a bare range stages ~32 near-empty
    # parquet parts PER COMMIT (32 write tasks + 32 footer reads in
    # _stage_data_files) — pure overhead for 10-400-row protocol
    # frames.  Two partitions keep the multi-file semantics; tests
    # that need a specific file layout repartitionByRange explicitly.
    return (spark.range(lo, hi).coalesce(2).select(
        F.col("id").alias("k"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v")))


def _body_create_read_roundtrip(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 100
    assert {r.v for r in got.filter("k < 3").collect()} == {"a0", "a1", "a2"}


def _body_merge_delete_insert_semantics(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    batch = _mk(spark, 50, 120, tag="b")       # replaces 50-99, inserts 100-119
    txnlog.merge(spark, tdir, batch, key="k")
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 120
    assert got[10] == "a10" and got[50] == "b50" and got[119] == "b119"


def _body_snapshot_isolation_and_time_travel(spark, tdir):
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    v0 = txnlog.snapshot(tdir).version
    pinned = txnlog.read_table(spark, tdir, version=v0)
    txnlog.merge(spark, tdir, _mk(spark, 0, 50, tag="z"), key="k")
    # the pinned frame AND a fresh v0 read both still see the old rows
    assert {r.v for r in pinned.filter("k = 7").collect()} == {"a7"}
    old = txnlog.read_table(spark, tdir, version=v0)
    assert {r.v for r in old.filter("k = 7").collect()} == {"a7"}
    assert {r.v for r in txnlog.read_table(spark, tdir)
            .filter("k = 7").collect()} == {"z7"}


def _body_merge_data_skipping_rewrites_only_hit_files(spark, tdir):
    """Files whose footer [kmin, kmax] interval misses every batch key
    must carry over by log reference — and with merge-on-read (r11)
    even the HIT file carries over: the sparse merge commits the
    batch's own files plus a deletion vector for the replaced rows
    (the 100 TB MERGE economics: rewrite bytes ∝ touched rows)."""
    # 4 disjoint key-range files via repartitionByRange on 4 ranges
    df = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    before = txnlog.snapshot(tdir)
    assert len(before.files) == 4
    batch = _mk(spark, 10, 20, tag="b")        # hits only the first range
    txnlog.merge(spark, tdir, batch, key="k")
    after = txnlog.snapshot(tdir)
    surviving = set(before.files) & set(after.files)
    assert len(surviving) == 4, (
        f"expected all 4 files to carry over (DV route), got "
        f"{len(surviving)}")
    dvd = {n: s["dv"] for n, s in after.files.items() if s.get("dv")}
    assert len(dvd) == 1, "only the hit file carries a deletion vector"
    assert txnlog._ranges_count(next(iter(dvd.values()))) == 10
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 400 and got[15] == "b15" and got[250] == "a250"


def test_interval_hits_uses_binary_search_semantics():
    st = {"kmin": 100, "kmax": 200}
    assert txnlog._interval_hits(st, [150])
    assert txnlog._interval_hits(st, [100]) and txnlog._interval_hits(st, [200])
    assert not txnlog._interval_hits(st, [99, 201])
    assert txnlog._interval_hits({"kmin": None, "kmax": None}, [1])


def _body_concurrent_appends_both_commit(spark, tdir):
    """Two writers racing version claims: the atomic link serializes
    them — both succeed at distinct versions, no rows lost."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    errs = []

    def add(lo, hi):
        try:
            txnlog.append(spark, _mk(spark, lo, hi), tdir, key="k")
        except Exception as e:                  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=add, args=(100, 150)),
          threading.Thread(target=add, args=(200, 250))]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert txnlog.read_table(spark, tdir).count() == 110
    assert txnlog.snapshot(tdir).version == 2


def _body_conflicting_merges_serialize_to_sequential_result(spark, tdir):
    """Two merges rewriting the SAME file: one loses the version race,
    drops its staged files, and re-derives against the winner's state —
    the final table equals some sequential order of the two merges."""
    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    errs = []

    def m(lo, hi, tag):
        try:
            txnlog.merge(spark, tdir, _mk(spark, lo, hi, tag=tag),
                         key="k")
        except Exception as e:                  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=m, args=(0, 50, "x")),
          threading.Thread(target=m, args=(25, 75, "y"))]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 100
    # zones exclusive to one merge are deterministic; keys ≥ 75 untouched
    assert got[10][0] == "x" and got[60][0] == "y" and got[90] == "a90"
    # the overlap zone (25-49) belongs ENTIRELY to whichever merge
    # committed last — serializability means no interleaving within it
    overlap_tags = {got[k][0] for k in range(25, 50)}
    assert len(overlap_tags) == 1 and overlap_tags <= {"x", "y"}


def _body_crash_orphans_invisible_and_vacuumed(spark, tdir):
    """Data files staged by a writer that died before committing are
    invisible to readers and reclaimed by vacuum; committed files
    survive vacuum."""
    txnlog.create_table(spark, _mk(spark, 0, 20), tdir, key="k")
    # simulate the crash: stage files, never commit
    orphans = txnlog._stage_data_files(
        spark, _mk(spark, 900, 950, tag="ghost"), tdir, "k", 99)
    assert orphans
    assert txnlog.read_table(spark, tdir).count() == 20
    # retention guard first (ADVICE r9): the fresh orphans look exactly
    # like a LIVE writer's staged-but-uncommitted files, so a
    # default-retention vacuum must leave them alone...
    assert txnlog.vacuum(tdir) == []
    assert all(os.path.isfile(os.path.join(tdir, a["file"]))
               for a in orphans)
    # ...and reclaim them once they age past the window (backdate)
    for a in orphans:
        p = os.path.join(tdir, a["file"])
        os.utime(p, (os.path.getmtime(p) - 7200, )*2)
    removed = txnlog.vacuum(tdir)
    assert {a["file"] for a in orphans} <= set(removed)
    assert txnlog.read_table(spark, tdir).count() == 20


def _body_checkpoint_bounds_log_replay(spark, tdir):
    """After CHECKPOINT_EVERY commits a checkpoint exists, and a
    snapshot built from it equals full-log replay."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    for i in range(txnlog.CHECKPOINT_EVERY + 2):
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 100 + 10 * i + 5),
                      tdir, key="k")
    log = os.listdir(txnlog._log_dir(tdir))
    assert any(n.endswith(".ckpt.json") for n in log)
    snap = txnlog.snapshot(tdir)
    # re-derive WITHOUT the checkpoint by replaying every commit
    files: dict[str, dict] = {}
    for v in txnlog._list_versions(tdir):
        with open(os.path.join(txnlog._log_dir(tdir),
                               txnlog._commit_name(v))) as f:
            c = json.load(f)
        for name in c.get("remove", []):
            files.pop(name, None)
        for a in c.get("add", []):
            files[a["file"]] = {k: a[k] for k in
                                ("rows", "kmin", "kmax", "cols")
                                if k in a}
    assert snap.files == files
    n = txnlog.read_table(spark, tdir).count()
    assert n == 10 + 5 * (txnlog.CHECKPOINT_EVERY + 2)


def _body_replace_contents_txn_idempotency(spark, tdir):
    """replace_contents with a txn action applies once per app version:
    a replay at the same (or lower) version is a NO-OP — content and
    app version are one atomic commit, so there is no partial state a
    crash could expose between them."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    s1 = txnlog.replace_contents(spark, tdir, _mk(spark, 0, 5, tag="b"),
                                 key="k", txn=("app", 1))
    assert s1 is not None and s1.txns == {"app": 1}
    # replay of version 1 and a stale version 0: both no-ops
    assert txnlog.replace_contents(spark, tdir, _mk(spark, 0, 99, "c"),
                                   key="k", txn=("app", 1)) is None
    assert txnlog.replace_contents(spark, tdir, _mk(spark, 0, 99, "c"),
                                   key="k", txn=("app", 0)) is None
    got = {r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert got == {"b0", "b1", "b2", "b3", "b4"}
    # a HIGHER app version applies
    s2 = txnlog.replace_contents(spark, tdir, _mk(spark, 0, 2, tag="d"),
                                 key="k", txn=("app", 2))
    assert s2 is not None and s2.txns == {"app": 2}
    assert txnlog.read_table(spark, tdir).count() == 2


def _body_txn_versions_survive_checkpoint(spark, tdir):
    """The txn app-version map is part of checkpoint state: a snapshot
    rebuilt from the checkpoint (not full log replay) still refuses a
    replayed application version."""
    txnlog.create_table(spark, _mk(spark, 0, 5), tdir, key="k")
    txnlog.replace_contents(spark, tdir, _mk(spark, 0, 5, tag="b"),
                            key="k", txn=("app", 7))
    for i in range(txnlog.CHECKPOINT_EVERY + 1):
        txnlog.append(spark, _mk(spark, 100 + i, 101 + i), tdir, key="k")
    assert any(n.endswith(".ckpt.json")
               for n in os.listdir(txnlog._log_dir(tdir)))
    assert txnlog.snapshot(tdir).txns == {"app": 7}
    assert txnlog.replace_contents(spark, tdir, _mk(spark, 0, 99, "z"),
                                   key="k", txn=("app", 7)) is None


def _body_compact_preserves_content_and_tightens_stats(spark, tdir):
    """OPTIMIZE semantics: after many small appends, compaction swaps
    the file set atomically — identical content, fewer files, and the
    range-sorted rewrite restores tight per-file key intervals (better
    data skipping for the NEXT merge).  Readers pinned to the
    pre-compaction version still see the old layout (time travel)."""
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    for i in range(5):
        txnlog.append(spark, _mk(spark, 100 * (i + 1), 100 * (i + 1) + 20),
                      tdir, key="k")
    before = txnlog.snapshot(tdir)
    assert len(before.files) >= 6
    content_before = {(r.k, r.v) for r in
                      txnlog.read_table(spark, tdir).collect()}
    snap = txnlog.compact(spark, tdir, key="k", target_files=2)
    assert snap is not None and len(snap.files) == 2
    assert {(r.k, r.v) for r in txnlog.read_table(spark, tdir).collect()} \
        == content_before
    # range-sorted rewrite → disjoint per-file key intervals
    ivals = sorted((s["kmin"], s["kmax"]) for s in snap.files.values())
    assert ivals[0][1] < ivals[1][0]
    # time travel to the pre-compaction version still works
    old = txnlog.read_table(spark, tdir, version=before.version)
    assert {(r.k, r.v) for r in old.collect()} == content_before
    # second compact on an already-compacted table is a cheap no-op
    assert txnlog.compact(spark, tdir, key="k", target_files=2,
                          min_files=3) is None


def _body_empty_table_read_uses_logged_schema(spark, tdir):
    empty = _mk(spark, 0, 0)
    txnlog.create_table(spark, empty, tdir, key="k")
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]


def _body_delete_range_skips_disjoint_files(spark, tdir):
    """DELETE WHERE lo<=k<hi touches only interval-hit files; the
    others carry over by log reference (the GDPR-erasure economics).
    r11: a SPARSE range delete is merge-on-read — zero data files are
    rewritten, the hit file gains a deletion vector; a delete past the
    fold cap rewrites the file live-rows-only."""
    df = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    before = txnlog.snapshot(tdir)
    txnlog.delete_range(spark, tdir, key="k", lo=10, hi=20)
    after = txnlog.snapshot(tdir)
    assert set(before.files) == set(after.files), (
        "sparse delete must be pure metadata (deletion vector)")
    assert sum(1 for s in after.files.values() if s.get("dv")) == 1
    got = {r.k for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 390 and 10 not in got and 9 in got and 20 in got
    # statically-missing range: no rewrite, not even a commit
    v = after.version
    txnlog.delete_range(spark, tdir, key="k", lo=5000, hi=6000)
    assert txnlog.snapshot(tdir).version == v
    # dense delete (60 of the file's remaining rows): folds — the hit
    # file is rewritten without its dead rows and its DV resets
    txnlog.delete_range(spark, tdir, key="k", lo=20, hi=80)
    s2 = txnlog.snapshot(tdir)
    assert len(set(before.files) & set(s2.files)) == 3
    assert all(not s.get("dv") for s in s2.files.values())
    got2 = {r.k for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got2) == 330 and 19 not in got2 and 80 in got2


def _body_changed_file_sets_prune_common_files(spark, tdir):
    """Files present in both snapshots are excluded from the CDC read
    set before any data I/O — the feed's cost scales with churn.
    r11: a sparse merge DV-routes (membership UNCHANGED, the hit file
    gains a deletion vector); a merge past the fold cap rewrites the
    hit file — the membership diff the CDC prune is keyed on."""
    df = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    s0 = txnlog.snapshot(tdir)
    # sparse merge: merge-on-read, no file leaves the snapshot
    txnlog.merge(spark, tdir, _mk(spark, 10, 20, tag="b"), key="k")
    s1 = txnlog.snapshot(tdir)
    old_only, new_only = txnlog.changed_file_sets(s0, s1)
    assert old_only == [], "sparse merge must not rewrite files"
    assert len(new_only) >= 1                 # the batch's own files
    hit = [n for n, s in s1.files.items() if s.get("dv")]
    assert len(hit) == 1 and txnlog._ranges_count(
        s1.files[hit[0]]["dv"]) == 10
    # dense merge on one file (60 of its 100 rows): past the 0.5 fold
    # cap -> that file is rewritten, membership changes
    txnlog.merge(spark, tdir, _mk(spark, 110, 170, tag="c"), key="k")
    s2 = txnlog.snapshot(tdir)
    old_only2, new_only2 = txnlog.changed_file_sets(s1, s2)
    assert len(old_only2) == 1                # only the folded file left
    assert set(old_only2).isdisjoint(s2.files)
    assert set(new_only2).isdisjoint(s1.files)
    common = set(s1.files) & set(s2.files)
    assert common.isdisjoint(old_only2) and common.isdisjoint(new_only2)


def _body_table_changes_matches_bruteforce_snapshot_diff(spark, tdir):
    """The file-set-pruned feed must equal the semantic diff of the two
    full snapshots (insert/delete/update classification), with
    unchanged-but-rewritten rows suppressed."""
    df = _mk(spark, 0, 200).repartitionByRange(2, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    v0 = txnlog.snapshot(tdir).version
    # update 20-29, insert 200-209 (one merge), delete 0-9
    batch = _mk(spark, 20, 30, tag="u").unionByName(
        _mk(spark, 200, 210, tag="n"))
    txnlog.merge(spark, tdir, batch, key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=0, hi=10)
    feed = txnlog.table_changes(spark, tdir, v0, key="k")
    got = {(r.k, r.v, r.change_type) for r in feed.collect()}
    old = {r.k: r.v for r in
           txnlog.read_table(spark, tdir, version=v0).collect()}
    new = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    want = set()
    for k in old.keys() | new.keys():
        if k not in old:
            want.add((k, new[k], "insert"))
        elif k not in new:
            want.add((k, old[k], "delete"))
        elif old[k] != new[k]:
            want.add((k, old[k], "update_preimage"))
            want.add((k, new[k], "update_postimage"))
    assert got == want
    assert len(got) == 10 + 10 + 2 * 10
    # rows 10-19 were rewritten by the delete with identical values:
    # physical churn, no CDC event
    assert all(not (10 <= k < 20) for k, _, _ in got)


def _body_table_changes_compaction_is_silent(spark, tdir):
    """Compaction rewrites every file but changes no row — the feed
    across a compact-only version range must be empty."""
    txnlog.create_table(
        spark, _mk(spark, 0, 100).repartitionByRange(3, "k"),
        tdir, key="k")
    v0 = txnlog.snapshot(tdir).version
    txnlog.compact(spark, tdir, key="k", target_files=1)
    feed = txnlog.table_changes(spark, tdir, v0, key="k")
    assert feed.count() == 0


def _body_stream_reader_sees_only_committed_files(spark, tdir):
    """The streaming source derives its read set from COMMITS, not the
    directory: a crashed writer's staged orphan parquet sits beside
    the data files but never becomes an input partition; offsets
    resume per version (start exclusive, end inclusive)."""
    from docker_aktin_dwh_spark.sources.txnstream import TxnlogStreamReader

    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    txnlog.append(spark, _mk(spark, 50, 80, tag="b"), tdir, key="k")
    # plant an orphan (staged-but-never-committed writer output)
    _mk(spark, 900, 950, tag="x").write.parquet(tdir + "/_stage-orphan")
    import shutil as _sh
    import os as _os
    src = next(p for p in _os.listdir(tdir + "/_stage-orphan")
               if p.endswith(".parquet"))
    _sh.move(_os.path.join(tdir, "_stage-orphan", src),
             _os.path.join(tdir, "p-orphan-0-deadbeef.parquet"))

    r = TxnlogStreamReader(tdir)
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}
    all_parts = r.partitions({"version": -1}, {"version": 1})
    assert all_parts and all(
        "orphan" not in p.path for p in all_parts)
    committed = {n for v in (0, 1)
                 for n in txnlog.snapshot(tdir, v).files}
    assert {_os.path.basename(p.path) for p in all_parts} == committed
    # resume from version 0: only the v1 files remain
    tail = r.partitions({"version": 0}, {"version": 1})
    assert {_os.path.basename(p.path) for p in tail} \
        == set(txnlog.snapshot(tdir, 1).files) \
        - set(txnlog.snapshot(tdir, 0).files)
    assert all(p.version == 1 for p in tail)


def _body_stream_reader_append_only_guard(spark, tdir):
    """A commit that removes files (merge/compact/delete) must RAISE
    when the tail crosses it — silent emission would be wrong
    streaming semantics for a rewrite."""
    import pytest as _pytest

    from docker_aktin_dwh_spark.sources.txnstream import TxnlogStreamReader

    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 10, 20, tag="b"), key="k")
    r = TxnlogStreamReader(tdir)
    with _pytest.raises(ValueError, match="APPEND-ONLY"):
        r.partitions({"version": -1}, {"version": 1})
    # tailing only the append history still works
    assert r.partitions({"version": -1}, {"version": 0})


def _body_table_changes_rejects_reversed_range(spark, tdir):
    """A reversed version range would silently emit the INVERTED feed
    (inserts read as deletes) — it must raise instead."""
    import pytest as _pytest

    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    txnlog.append(spark, _mk(spark, 10, 20, tag="b"), tdir, key="k")
    with _pytest.raises(ValueError, match="precedes"):
        txnlog.table_changes(spark, tdir, 1, 0, key="k")


def _body_truncate_history_retention(spark, tdir):
    """Retention: keep_last versions still replay (content identical),
    older versions raise, and data files referenced ONLY by dropped
    history are physically reclaimed while retained-version files
    survive — including files carried solely by the cutoff
    checkpoint."""
    import os as _os

    import pytest as _pytest

    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    for i in range(4):                      # v1..v4: four full rewrites
        txnlog.replace_contents(spark, tdir,
                                _mk(spark, 0, 100, tag=f"t{i}"), key="k")
    latest_before = {(r.k, r.v) for r in
                     txnlog.read_table(spark, tdir).collect()}
    n_files_before = len([n for n in _os.listdir(tdir)
                          if n.endswith(".parquet")])
    # retention_seconds=0: no writer is live in this test, and the
    # dropped-history files were written seconds ago (in production
    # they'd be older than any sane retention window)
    res = txnlog.truncate_history(tdir, keep_last=2,
                                  retention_seconds=0.0)
    assert res["dropped_versions"] == 3 and res["cut"] == 3
    assert res["removed_files"], "dropped-history files must reclaim"
    # retained versions replay; content identical
    assert {(r.k, r.v) for r in txnlog.read_table(spark, tdir)
            .collect()} == latest_before
    assert txnlog.read_table(spark, tdir, version=3).count() == 100
    # history below the cutoff is gone
    with _pytest.raises(ValueError, match="not in log"):
        txnlog.snapshot(tdir, 1)
    n_files_after = len([n for n in _os.listdir(tdir)
                         if n.endswith(".parquet")])
    assert n_files_after < n_files_before
    # vacuum after truncation never touches checkpoint-referenced files
    assert txnlog.vacuum(tdir, retention_seconds=0.0) == []
    assert txnlog.read_table(spark, tdir, version=3).count() == 100
    # the table stays writable after truncation
    txnlog.append(spark, _mk(spark, 100, 110), tdir, key="k")
    assert txnlog.read_table(spark, tdir).count() == 110
    # under-threshold truncation is a no-op
    assert txnlog.truncate_history(tdir, keep_last=50) \
        == {"dropped_versions": 0, "removed_files": []}


def test_txnstream_layout_constants_match_txnlog():
    """The layout constants exist once, in logcore: txnlog re-exports
    them and the stream source keeps no copy of its own."""
    from docker_aktin_dwh_spark.sources import logcore, txnstream

    assert txnlog._LOG == logcore.LOG == "_txnlog"
    assert logcore.W == 20
    assert not hasattr(txnstream, "_LOG") and not hasattr(txnstream, "_W")


def test_datasource_replays_match_txnlog_snapshot():
    """The DataSources replay through logcore — the same replay
    txnlog.snapshot runs: on a synthetic (sparkless) log the core
    yields the expected file set, DV ranges, stats, schema and
    colmap at every version, and range subtraction gives the expected
    result on every edge shape."""
    from docker_aktin_dwh_spark.sources import logcore

    cases = [
        ([[0, 10]], [[3, 5]], [[0, 2], [6, 10]]),
        ([[0, 10]], [], [[0, 10]]),
        ([], [[1, 2]], []),
        ([[0, 3], [7, 9]], [[2, 8]], [[0, 1], [9, 9]]),
        ([[0, 100]], [[0, 100]], []),
        ([[5, 5], [7, 7]], [[6, 6]], [[5, 5], [7, 7]]),
    ]
    for a, b, want in cases:
        assert logcore.ranges_subtract(a, b) == want, (a, b)

    # a synthetic log: commits with adds, removes, dv actions and a
    # column-mapping change — written with txnlog's own primitives
    import tempfile as _tf

    with _tf.TemporaryDirectory() as d:
        tbl = os.path.join(d, "tbl")
        os.makedirs(txnlog._log_dir(tbl))
        sc0 = '{"type":"struct","fields":[]}'
        txnlog._try_commit(tbl, 0, {
            "op": "create", "add": [{"file": "a.parquet", "rows": 10,
                                     "kmin": 0, "kmax": 9}],
            "remove": [], "schema": sc0})
        txnlog._try_commit(tbl, 1, {
            "op": "merge", "add": [{"file": "b.parquet", "rows": 2,
                                    "kmin": 3, "kmax": 4}],
            "remove": [], "dv": [{"file": "a.parquet",
                                  "ranges": [[3, 4]], "n": 2,
                                  "n_new": 2}]})
        txnlog._try_commit(tbl, 2, {
            "op": "delete", "add": [], "remove": ["b.parquet"]})
        txnlog._try_commit(tbl, 3, {
            "op": "rename_column", "add": [], "remove": [],
            "schema": sc0, "colmap": {"x": "y"}, "key": "x"})
        a0 = {"rows": 10, "kmin": 0, "kmax": 9}
        a1 = {**a0, "dv": [[3, 4]]}
        want = {0: ({"a.parquet": a0}, None),
                1: ({"a.parquet": a1,
                     "b.parquet": {"rows": 2, "kmin": 3, "kmax": 4}},
                    None),
                2: ({"a.parquet": a1}, None),
                3: ({"a.parquet": a1}, {"x": "y"})}
        for v, (files, colmap) in want.items():
            core = logcore.replay(tbl, v)
            snap = txnlog.snapshot(tbl, v)
            assert core.files == snap.files == files, v
            assert core.colmap == snap.colmap == colmap, v
            assert json.loads(core.schema_json)["fields"] == []
        assert txnlog.snapshot(tbl, 3).key == "x"


def _body_txnstream_versions_match_txnlog_listing(spark, tdir):
    from docker_aktin_dwh_spark.sources import logcore

    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    txnlog.append(spark, _mk(spark, 10, 20, tag="b"), tdir, key="k")
    assert logcore.list_versions(tdir) == txnlog._list_versions(tdir) \
        == [0, 1]
    assert logcore.commit_name(1) == txnlog._commit_name(1) \
        == "00000000000000000001.json"
    assert os.path.exists(os.path.join(
        txnlog._log_dir(tdir), logcore.commit_name(1)))


def _body_schema_evolution_append(spark, tdir):
    """SRC-08 on the ACID format: an evolving append widens the LOGGED
    schema in the same atomic commit; readers of later versions see
    the new column (NULL on pre-evolution files), time travel keeps
    the old shape, and post-evolution MERGE/compact preserve the new
    column on rewritten old files.  Un-flagged widening raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    wide = _mk(spark, 100, 120, tag="n").withColumn("score", F.lit(7))
    with _pytest.raises(ValueError, match="evolve_schema"):
        txnlog.append(spark, wide, tdir, key="k")
    txnlog.append(spark, wide, tdir, key="k", evolve_schema=True)
    got = txnlog.read_table(spark, tdir)
    assert [f.name for f in got.schema.fields] == ["k", "v", "score"]
    rows = {r.k: r.score for r in got.collect()}
    assert len(rows) == 120
    assert rows[5] is None and rows[110] == 7
    # time travel below the evolution keeps the narrow shape
    old = txnlog.read_table(spark, tdir, version=0)
    assert [f.name for f in old.schema.fields] == ["k", "v"]
    # a post-evolution MERGE rewriting a PRE-evolution file keeps the
    # widened schema (internal reads honor the log, not the files)
    batch = (_mk(spark, 10, 15, tag="m")
             .withColumn("score", F.lit(9)))
    txnlog.merge(spark, tdir, batch, key="k")
    rows = {r.k: (r.v, r.score) for r in
            txnlog.read_table(spark, tdir).collect()}
    assert rows[12] == ("m12", 9)
    assert rows[5] == ("a5", None) and rows[110] == ("n110", 7)
    # compact preserves content incl. the NULL-filled column
    txnlog.compact(spark, tdir, key="k", target_files=1)
    rows2 = {r.k: (r.v, r.score) for r in
             txnlog.read_table(spark, tdir).collect()}
    assert rows2 == rows


def _body_per_version_feed_replays_to_final_state(spark, tdir):
    """The CDC consumer contract: folding table_changes_range's
    per-version events IN ORDER over the v0 state must reconstruct
    the latest table exactly — the feed is sufficient to maintain a
    replica (deletes drop keys, inserts/postimages set them)."""
    txnlog.create_table(spark, _mk(spark, 0, 60), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 20, 40, tag="u"), key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=0, hi=10)
    txnlog.merge(spark, tdir, _mk(spark, 0, 3), key="k")  # re-insert
    state = {r.k: r.v for r in
             txnlog.read_table(spark, tdir, version=0).collect()}
    feed = txnlog.table_changes_range(spark, tdir, 0, key="k").collect()
    versions = sorted({r.commit_version for r in feed})
    for v in versions:                    # removals before additions
        for r in feed:
            if r.commit_version == v and r.change_type in (
                    "delete", "update_preimage"):
                state.pop(r.k, None)
        for r in feed:
            if r.commit_version == v and r.change_type in (
                    "insert", "update_postimage"):
                state[r.k] = r.v
    final = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert state == final
    assert final[25] == "u25" and 5 not in final and final[1] == "a1"


def _body_table_changes_across_schema_evolution(spark, tdir):
    """ADVICE r9: CDC spanning a schema-evolving commit must read BOTH
    sides under the endpoint's logged (wider) schema — pre-evolution
    files NULL-fill the new column consistently instead of raising
    from F.struct over a missing column, and no side lets Spark infer
    a schema from one file of a mixed pre/post set."""
    from pyspark.sql import functions as F

    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    wide = _mk(spark, 10, 20, tag="n").withColumn("score", F.lit(7))
    txnlog.append(spark, wide, tdir, key="k", evolve_schema=True)
    upd = _mk(spark, 0, 3, tag="u").withColumn("score", F.lit(9))
    txnlog.merge(spark, tdir, upd, key="k")
    feed = txnlog.table_changes(spark, tdir, 0, key="k").collect()
    by = {(r.change_type, r.k): r for r in feed}
    # inserts from the evolving append carry the new column
    assert by[("insert", 15)].score == 7
    # updated pre-evolution rows: preimage NULL-fills, postimage set
    assert by[("update_preimage", 1)].score is None
    assert by[("update_postimage", 1)].score == 9
    # untouched pre-evolution rows (k 3..9) are silent: same logical
    # content, merely co-resident in a rewritten file or not at all
    assert not any(k in range(3, 10) for (_, k) in by)


def test_append_schema_race_remerges_schemas(spark, tdir, monkeypatch):
    """ADVICE r9: two concurrent evolving appends adding DIFFERENT
    columns must both survive in the logged schema — the loser of the
    version race re-reads the snapshot and re-derives the widened
    schema (logged ∪ its own) instead of committing a stale payload
    that silently drops the winner's column."""
    from pyspark.sql import functions as F

    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    real = txnlog._try_commit
    state = {"injected": False}

    def racing(path, version, payload):
        if not state["injected"] and payload.get("op") == "append":
            state["injected"] = True
            # a concurrent writer wins THIS version with its own
            # evolved schema (column x) before our claim lands
            other = _mk(spark, 100, 110, tag="o").withColumn(
                "x", F.lit(1))
            txnlog.append(spark, other, tdir, key="k",
                          evolve_schema=True)
        return real(path, version, payload)

    monkeypatch.setattr(txnlog, "_try_commit", racing)
    mine = _mk(spark, 200, 210, tag="m").withColumn("y", F.lit(2.5))
    txnlog.append(spark, mine, tdir, key="k", evolve_schema=True)
    got = txnlog.read_table(spark, tdir)
    assert [f.name for f in got.schema.fields] == ["k", "v", "x", "y"]
    rows = {r.k: (r.x, r.y) for r in got.collect()}
    assert len(rows) == 30
    assert rows[105] == (1, None)      # winner's column intact
    assert rows[205] == (None, 2.5)    # loser's column intact
    assert rows[5] == (None, None)     # pre-evolution NULL-fills both


def test_append_race_revalidates_constraints(spark, tdir, monkeypatch):
    """ADVICE r11: an append that loses its version race to a
    concurrent set_constraint must re-validate against the FRESH
    snapshot inside the retry loop — the pre-race check ran before the
    constraint existed, and committing anyway would land unvalidated
    rows (a silent constraint violation)."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    real = txnlog._try_commit
    state = {"injected": False}

    def racing(path, version, payload):
        if not state["injected"] and payload.get("op") == "append":
            state["injected"] = True
            # concurrent writer wins this version with a CHECK the
            # pending append violates (its keys are 100..109 ≥ 50)
            txnlog.set_constraint(spark, tdir, name="k_small",
                                  expr="k < 50")
        return real(path, version, payload)

    monkeypatch.setattr(txnlog, "_try_commit", racing)
    with pytest.raises(ValueError, match="violate CHECK constraint"):
        txnlog.append(spark, _mk(spark, 100, 110, tag="m"), tdir,
                      key="k")
    # nothing committed: latest version is the constraint commit, and
    # content is untouched
    snap = txnlog.snapshot(tdir)
    assert snap.version == 1 and "k_small" in snap.constraints
    assert txnlog.read_table(spark, tdir).count() == 10


def test_append_race_revalidates_types(spark, tdir, monkeypatch):
    """ADVICE r11: an evolving append that loses its race to a
    concurrent evolving append whose NEW column's type conflicts with
    ours must trip the retype guard on retry — the schema re-merge
    alone would drop the column from new_cols (it is now logged) and
    commit physically retyped files undetected."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    real = txnlog._try_commit
    state = {"injected": False}

    def racing(path, version, payload):
        if not state["injected"] and payload.get("op") == "append":
            state["injected"] = True
            other = _mk(spark, 100, 110, tag="o").withColumn(
                "score", F.lit(1))                    # score int
            txnlog.append(spark, other, tdir, key="k",
                          evolve_schema=True)
        return real(path, version, payload)

    monkeypatch.setattr(txnlog, "_try_commit", racing)
    mine = _mk(spark, 200, 210, tag="m").withColumn(
        "score", F.lit(2.5))                          # score double
    with pytest.raises(ValueError, match="retypes logged column"):
        txnlog.append(spark, mine, tdir, key="k", evolve_schema=True)
    # the winner's commit stands; ours landed nothing
    got = txnlog.read_table(spark, tdir)
    assert [f.name for f in got.schema.fields] == ["k", "v", "score"]
    assert got.count() == 20


def test_merge_wide_batch_envelope_pruning(spark, tdir, monkeypatch):
    """VERDICT r9 item 4: above MERGE_KEYS_COLLECT_MAX distinct keys
    the merge must NOT collect the key set — it prunes files by the
    batch's [min, max] envelope (one aggregate row).  Skipping still
    works (files disjoint from the envelope carry over by reference)
    and the result is identical to the per-key path."""
    monkeypatch.setattr(txnlog, "MERGE_KEYS_COLLECT_MAX", 5)
    df = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    before = txnlog.snapshot(tdir)
    assert len(before.files) == 4
    batch = _mk(spark, 10, 40, tag="b")        # 30 distinct keys > 5
    txnlog.merge(spark, tdir, batch, key="k")
    after = txnlog.snapshot(tdir)
    carried = set(before.files) & set(after.files)
    assert len(carried) >= 2, "envelope-disjoint files must carry over"
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 400
    assert got[5] == "a5" and got[25] == "b25" and got[350] == "a350"


#: each row-level verb over the key band [lo, hi) with tag ``t``: the
#: call, the op tag its commit carries, and its effect on {k: v}
_RACE_VERBS = {
    "merge": (
        lambda spark, tdir, lo, hi, t: txnlog.merge(
            spark, tdir, _mk(spark, lo, hi, tag=t), key="k"),
        "merge",
        lambda got, lo, hi, t: got.update(
            {k: f"{t}{k}" for k in range(lo, hi)})),
    "apply_changes": (
        lambda spark, tdir, lo, hi, t: txnlog.apply_changes(
            spark, tdir, _mk(spark, lo, hi, tag=t).withColumn(
                "op", F.when(F.col("k") < lo + 6, "update")
                .otherwise("delete")), key="k"),
        "apply",
        lambda got, lo, hi, t: [
            got.update({k: f"{t}{k}"}) if k < lo + 6 else got.pop(k, None)
            for k in range(lo, hi)]),
    "update_where": (
        lambda spark, tdir, lo, hi, t: txnlog.update_where(
            spark, tdir, key="k", filters=[("k", ">=", lo), ("k", "<", hi)],
            assignments={"v": F.concat(F.lit(t),
                                       F.col("k").cast("string"))}),
        "update",
        lambda got, lo, hi, t: got.update(
            {k: f"{t}{k}" for k in range(lo, hi) if k in got})),
    "delete_where": (
        lambda spark, tdir, lo, hi, t: txnlog.delete_where(
            spark, tdir, key="k", filters=[("k", ">=", lo), ("k", "<", hi)]),
        "delete",
        lambda got, lo, hi, t: [got.pop(k, None) for k in range(lo, hi)]),
    "delete_range": (
        lambda spark, tdir, lo, hi, t: txnlog.delete_range(
            spark, tdir, key="k", lo=lo, hi=hi),
        "delete",
        lambda got, lo, hi, t: [got.pop(k, None) for k in range(lo, hi)]),
}


@pytest.mark.parametrize("verb", sorted(_RACE_VERBS))
def test_disjoint_race_reclaims_without_restaging(spark, tdir, monkeypatch,
                                                  verb):
    """Logical conflict detection (r13), the same for every row-level
    verb: a verb that loses its version race to a DISJOINT append must
    NOT re-read and re-stage — commits are deltas, so the staged output
    stays valid verbatim and only the claim retries (Delta's conflict
    rule; what lets a write land under append churn instead of
    starving).  A winner that TOUCHES the verb's files (overlapping
    keys → DV change) must force a full re-derive, and the result must
    still be exact."""
    run, op, effect = _RACE_VERBS[verb]
    df = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    want = {k: f"a{k}" for k in range(400)}

    derives = {"n": 0}
    real_dv = txnlog._compute_dv
    state = {"interfered": False, "winner": False}

    def counting_dv(*a, **kw):
        derives["n"] += not state["winner"]
        return real_dv(*a, **kw)

    real_commit = txnlog._try_commit

    def racing(winner):
        def commit(path, version, payload):
            if payload.get("op") == op and not state["interfered"]:
                state["interfered"] = state["winner"] = True
                winner()                    # steals the version first
                state["winner"] = False
            return real_commit(path, version, payload)
        return commit

    monkeypatch.setattr(txnlog, "_compute_dv", counting_dv)
    monkeypatch.setattr(txnlog, "_try_commit", racing(
        lambda: txnlog.append(spark, _mk(spark, 500, 520, tag="x"),
                              tdir, key="k")))
    run(spark, tdir, 10, 20, "m")
    assert derives["n"] == 1, (
        f"disjoint race must reuse the staged commit (got "
        f"{derives['n']} derive rounds)")
    want.update({k: f"x{k}" for k in range(500, 520)})
    effect(want, 10, 20, "m")
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert got == want

    # overlapping winner: a merge DVs the same file this verb read —
    # must re-derive, and the verb's effect lands on the winner's rows
    derives["n"] = 0
    state["interfered"] = False
    monkeypatch.setattr(txnlog, "_try_commit", racing(
        lambda: txnlog.merge(spark, tdir, _mk(spark, 32, 35, tag="w"),
                             key="k")))
    run(spark, tdir, 30, 40, "z")
    assert derives["n"] >= 2, "overlapping race must re-derive"
    want.update({k: f"w{k}" for k in range(32, 35)})
    effect(want, 30, 40, "z")
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert got == want


def _body_append_txn_idempotency(spark, tdir):
    """append with a txn action: content and application version
    commit atomically; a replayed (same app, same or lower version)
    append is a no-op — the foreachBatch at-least-once primitive on
    the append path (clean_ingest's store discipline)."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    assert txnlog.append(spark, _mk(spark, 10, 20), tdir, key="k",
                         txn=("ing", 0)) is not None
    # replay of batch 0 (possibly with nondeterministically different
    # content): skipped, no duplicate rows
    assert txnlog.append(spark, _mk(spark, 10, 20, tag="dup"), tdir,
                         key="k", txn=("ing", 0)) is None
    assert txnlog.read_table(spark, tdir).count() == 20
    assert txnlog.append(spark, _mk(spark, 20, 30), tdir, key="k",
                         txn=("ing", 1)) is not None
    assert txnlog.read_table(spark, tdir).count() == 30
    assert txnlog.snapshot(tdir).txns["ing"] == 1


def test_txnstream_schema_error_names_table(tmp_path):
    """ADVICE r9: a txnlog dir whose retained history records no
    schema must raise a descriptive error naming the table, not
    json.loads(None)'s opaque TypeError."""
    from docker_aktin_dwh_spark.sources.txnstream import (
        TxnlogStreamDataSource)

    table = str(tmp_path / "tbl")
    log = os.path.join(table, "_txnlog")
    os.makedirs(log)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        json.dump({"version": 1, "op": "append", "add": []}, f)
    src = TxnlogStreamDataSource(options={"path": table})
    with pytest.raises(FileNotFoundError, match="no schema recorded"):
        src.schema()


def _body_apply_changes_mixed_batch_one_commit(spark, tdir):
    """apply_changes (r10): inserts, updates and deletes land in ONE
    atomic commit; files disjoint from every feed key carry over by
    reference; the result equals the sequential delete+merge."""
    df = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, df, tdir, key="k")
    before = txnlog.snapshot(tdir)
    ups = _mk(spark, 10, 20, tag="u").withColumn("op", F.lit("update"))
    ins = _mk(spark, 400, 410, tag="n").withColumn("op", F.lit("insert"))
    dels = _mk(spark, 30, 40).withColumn("op", F.lit("delete"))
    txnlog.apply_changes(spark, tdir,
                         ups.unionByName(ins).unionByName(dels), key="k")
    after = txnlog.snapshot(tdir)
    assert after.version == before.version + 1, "ONE commit"
    # ranges 100-199, 200-299, 300-399 files untouched by any feed key
    carried = set(before.files) & set(after.files)
    assert len(carried) >= 3
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 400                  # -10 deleted, +10 inserted
    assert got[15] == "u15" and got[405] == "n405" and got[5] == "a5"
    assert all(k not in got for k in range(30, 40))


def _body_apply_changes_rejects_conflicting_ops(spark, tdir):
    """A feed carrying two op rows for one key is a malformed endpoint
    diff — raise, don't pick a winner silently."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    bad = (_mk(spark, 3, 5, tag="u").withColumn("op", F.lit("update"))
           .unionByName(_mk(spark, 4, 6).withColumn(
               "op", F.lit("delete"))))
    with pytest.raises(ValueError, match="more than one op"):
        txnlog.apply_changes(spark, tdir, bad, key="k")


def _body_apply_changes_pure_delete_and_empty(spark, tdir):
    """Edge arms: a delete-only feed removes its keys (no inserts); an
    empty feed is a committed no-op (returns the current snapshot)."""
    txnlog.create_table(spark, _mk(spark, 0, 100), tdir, key="k")
    v0 = txnlog.snapshot(tdir).version
    dels = _mk(spark, 0, 10).withColumn("op", F.lit("delete"))
    txnlog.apply_changes(spark, tdir, dels, key="k")
    assert txnlog.read_table(spark, tdir).count() == 90
    empty = dels.filter(F.lit(False))
    snap = txnlog.apply_changes(spark, tdir, empty, key="k")
    assert snap.version == v0 + 1           # no new commit for empty



def _body_stream_reader_skip_change_commits(spark, tdir):
    """Delta's skipChangeCommits analogue: with the flag, a commit
    that removes files (merge/compact) is skipped ENTIRELY — its adds
    are rewritten files carrying old rows — while pure appends before
    and after keep flowing; without the flag the guard still
    raises."""
    import pytest as _pytest

    from docker_aktin_dwh_spark.sources.txnstream import (
        TxnlogStreamReader)

    txnlog.create_table(spark, _mk(spark, 0, 30), tdir, key="k")       # v0
    txnlog.append(spark, _mk(spark, 30, 60, tag="b"), tdir, key="k")   # v1
    txnlog.merge(spark, tdir, _mk(spark, 0, 10, tag="u"), key="k")     # v2
    txnlog.append(spark, _mk(spark, 60, 90, tag="c"), tdir, key="k")   # v3

    strict = TxnlogStreamReader(tdir)
    with _pytest.raises(ValueError, match="skipChangeCommits"):
        strict.partitions({"version": -1}, {"version": 3})

    lax = TxnlogStreamReader(tdir, skip_change_commits=True)
    parts = lax.partitions({"version": -1}, {"version": 3})
    versions = {p.version for p in parts}
    assert versions == {0, 1, 3}, "merge commit v2 skipped entirely"
    import os as _os
    v3_files = (set(txnlog.snapshot(tdir, 3).files)
                - set(txnlog.snapshot(tdir, 2).files))
    assert {_os.path.basename(p.path) for p in parts
            if p.version == 3} == v3_files


def _body_stream_skips_compact_commits(spark, tdir):
    """Delta stream parity (r15): OPTIMIZE/compact commits declare
    data_change=false — the commit-log stream skips them WITHOUT any
    option (no error, no re-delivery), while appends on both sides
    keep flowing; genuinely row-changing commits still trip the
    strict guard."""
    import pytest as _pytest

    from docker_aktin_dwh_spark.sources.txnstream import (
        TxnlogStreamReader)

    txnlog.create_table(spark, _mk(spark, 0, 30), tdir, key="k")       # v0
    txnlog.append(spark, _mk(spark, 30, 60, tag="b"), tdir, key="k")   # v1
    assert txnlog.compact(spark, tdir, key="k",
                          target_files=1) is not None                  # v2
    txnlog.append(spark, _mk(spark, 60, 90, tag="c"), tdir, key="k")   # v3

    strict = TxnlogStreamReader(tdir)
    parts = strict.partitions({"version": -1}, {"version": 3})
    assert {p.version for p in parts} == {0, 1, 3}, \
        "compact commit must be skipped silently, appends delivered"
    # a data-changing rewrite still requires skipChangeCommits
    txnlog.merge(spark, tdir, _mk(spark, 0, 5, tag="u"), key="k")      # v4
    with _pytest.raises(ValueError, match="skipChangeCommits"):
        strict.partitions({"version": -1}, {"version": 4})


def _body_cdc_skips_compact_commits(spark, tdir):
    """CDC across OPTIMIZE (r15): a data_change=false commit emits
    NOTHING in the change feed — batch table_changes_range skips the
    version without scanning either side, a range of ONLY no-data
    commits is an empty frame (not an error), and the streaming CDC
    reader builds no partition for it."""
    from docker_aktin_dwh_spark.sources.cdcstream import (
        TxnlogCdcStreamReader)

    txnlog.create_table(spark, _mk(spark, 0, 30), tdir, key="k")       # v0
    txnlog.append(spark, _mk(spark, 30, 60, tag="b"), tdir, key="k")   # v1
    assert txnlog.compact(spark, tdir, key="k",
                          target_files=1) is not None                  # v2
    txnlog.append(spark, _mk(spark, 60, 90, tag="c"), tdir, key="k")   # v3

    feed = txnlog.table_changes_range(spark, tdir, 0, 3, key="k")
    got = {(r.commit_version, r.change_type)
           for r in feed.select("commit_version",
                                "change_type").distinct().collect()}
    assert got == {(1, "insert"), (3, "insert")}, \
        "compact version must be absent from the feed"
    only = txnlog.table_changes_range(spark, tdir, 1, 2, key="k")
    assert only.count() == 0, \
        "a compact-only range is an empty feed, not an error"
    cdc = TxnlogCdcStreamReader(tdir, "k", 0)
    parts = cdc.partitions({"version": 0}, {"version": 3})
    assert {p.version for p in parts} == {1, 3}


def _body_compact_zorder_two_dim_envelopes(spark, tdir):
    """OPTIMIZE ZORDER BY on the txn table: content unchanged, and the
    z-ordered layout keeps per-file envelopes tight in BOTH dimensions
    — each file's (k, v2) envelope must cover at most ~a quadrant of
    the space, which single-key range packing cannot do for the
    second column."""
    df = (_mk(spark, 0, 1024)
          .withColumn("v2", (F.col("k") * 7919) % 1024))
    txnlog.create_table(spark, df.repartition(6), tdir, key="k")
    before = {r.k: (r.v, r.v2) for r in
              txnlog.read_table(spark, tdir).collect()}
    snap = txnlog.compact(spark, tdir, key="k", target_files=4,
                          zorder_by=("k", "v2"))
    assert snap is not None and len(snap.files) == 4
    after = {r.k: (r.v, r.v2) for r in
             txnlog.read_table(spark, tdir).collect()}
    assert after == before, "compaction must not change content"
    # per-file two-dim envelopes: read each file, measure widths
    import os as _os
    import pyarrow.parquet as pq
    for name in snap.files:
        t = pq.read_table(_os.path.join(tdir, name))
        ks, vs = t.column("k").to_pylist(), t.column("v2").to_pylist()
        wk = max(ks) - min(ks)
        wv = max(vs) - min(vs)
        # a random 4-way split has expected width ~1023 in BOTH dims;
        # one z-level split halves ONE dimension per file — demand
        # at least that (width <= ~3/4 of the range in one dimension)
        assert min(wk, wv) <= 768, (name, wk, wv)
    # r12: the point of tight envelopes is the read path — after
    # Z-order compaction a selective predicate on EITHER dimension
    # must let prune_files skip files (the pre-compact repartition(6)
    # layout is random, so every file spans ~the full range and
    # nothing can prune)
    for col in ("k", "v2"):
        hit = txnlog.prune_files(snap, [(col, "<", 256)])
        assert len(hit) < len(snap.files), (
            f"Z-order layout must make {col}-pruning effective")



def _body_describe_history_audit_trail(spark, tdir):
    """DESCRIBE HISTORY: one control-plane row per commit with op,
    file/row deltas, the schema-evolution flag (and WHICH columns),
    and the txn action — the audit verb an operator reads before
    trusting or time-traveling a table."""
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    txnlog.append(spark, _mk(spark, 50, 60, tag="b"), tdir, key="k",
                  txn=("ing", 7))
    wide = _mk(spark, 60, 70, tag="c").withColumn("score", F.lit(1))
    txnlog.append(spark, wide, tdir, key="k", evolve_schema=True)
    txnlog.merge(spark, tdir, _mk(spark, 0, 5, tag="m"), key="k")
    h = {r.version: r for r in
         txnlog.describe_history(spark, tdir).collect()}
    assert h[0].op == "create" and h[0].rows_added == 50
    assert not h[0].schema_changed
    assert h[1].op == "append" and h[1].txn_app == "ing" \
        and h[1].txn_version == 7
    assert h[2].schema_changed and h[2].new_columns == ["score"]
    # r11 merge-on-read: the sparse merge removes no files — the audit
    # row reports its deletion vector instead
    assert h[3].op == "merge" and h[3].n_removed == 0
    assert h[3].n_dv_files == 1 and h[3].rows_dv_deleted == 5
    assert h[3].rows_added >= 5 and not h[3].schema_changed


def _body_append_merge_reject_retyped_columns(spark, tdir):
    """ADVICE r10: schema merging is by NAME, so a frame that retypes
    a logged column (v string vs logged v long) used to commit files
    whose physical type conflicts with the logged schema — the write
    succeeded and the corruption surfaced at read time.  Every write
    verb now rejects type conflicts at commit time (Delta's rule)."""
    txnlog.create_table(spark, _mk(spark, 0, 20), tdir, key="k")
    retyped = (spark.range(20, 25).coalesce(1)
               .select(F.col("id").alias("k"),
                       F.col("id").alias("v")))       # v long, logged string
    with pytest.raises(ValueError, match="retypes logged column"):
        txnlog.append(spark, retyped, tdir, key="k")
    with pytest.raises(ValueError, match="retypes logged column"):
        txnlog.merge(spark, tdir, retyped, key="k")
    with pytest.raises(ValueError, match="retypes logged column"):
        txnlog.apply_changes(
            spark, tdir, retyped.withColumn("op", F.lit("update")),
            key="k")
    # table untouched: still v0, still readable under the logged schema
    assert txnlog.snapshot(tdir).version == 0
    assert txnlog.read_table(spark, tdir).count() == 20


def _body_apply_changes_rejects_null_and_unknown_ops(spark, tdir):
    """ADVICE r10: `op != 'delete'` is NULL for a NULL op, so an
    unvalidated row was neither upsert nor delete — yet its key was
    anti-joined out of existing files, a SILENT DELETE.  NULL and
    out-of-vocabulary ops now raise up front, like the duplicate-key
    feed check."""
    txnlog.create_table(spark, _mk(spark, 0, 20), tdir, key="k")
    null_op = _mk(spark, 3, 5, tag="u").withColumn(
        "op", F.lit(None).cast("string"))
    with pytest.raises(ValueError, match="NULL or not in"):
        txnlog.apply_changes(spark, tdir, null_op, key="k")
    weird = _mk(spark, 3, 5, tag="u").withColumn("op", F.lit("upsort"))
    with pytest.raises(ValueError, match="NULL or not in"):
        txnlog.apply_changes(spark, tdir, weird, key="k")
    # nothing was deleted by the rejected feeds
    assert txnlog.read_table(spark, tdir).count() == 20


def _body_describe_history_after_truncation(spark, tdir):
    """ADVICE r10: describe_history used to seed prev_cols only from
    commit JSONs, so after truncate_history the first schema-bearing
    retained commit (an evolving append right after truncation)
    reported schema_changed=False and lost its new_columns.  The seed
    now comes from the cutoff checkpoint — the same replay source
    snapshot() uses."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")   # v0
    for i in range(3):                                             # v1-v3
        txnlog.append(spark, _mk(spark, 10 + i, 11 + i, tag="b"),
                      tdir, key="k")
    txnlog.truncate_history(tdir, keep_last=2, retention_seconds=0)
    wide = (_mk(spark, 20, 25, tag="c")
            .withColumn("score", F.lit(1)))
    txnlog.append(spark, wide, tdir, key="k", evolve_schema=True)
    h = {r.version: r for r in
         txnlog.describe_history(spark, tdir).collect()}
    assert min(h) == 2, "history below the cutoff is gone"
    evolved = h[max(h)]
    assert evolved.schema_changed, (
        "evolution right after truncation must still be flagged")
    assert evolved.new_columns == ["score"]
    # the retained pre-evolution commit is NOT flagged (its schema
    # equals the checkpoint seed)
    assert not h[min(h)].schema_changed


def _body_describe_history_evolution_at_cutoff(spark, tdir):
    """ADVICE r11: when the retention checkpoint coincided with the
    oldest retained commit, that commit's own schema evolution
    reported schema_changed=False (the checkpoint already contained
    its post-state).  truncate_history now checkpoints STRICTLY BELOW
    the cutoff (cut-1) and describe_history seeds from strictly-below
    checkpoints only, so the oldest retained commit is compared
    against true pre-commit state."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")   # v0
    txnlog.append(spark, _mk(spark, 10, 12, tag="b"), tdir, key="k")
    wide = (_mk(spark, 20, 25, tag="c")
            .withColumn("score", F.lit(1)))
    txnlog.append(spark, wide, tdir, key="k",
                  evolve_schema=True)                              # v2
    txnlog.append(spark, _mk(spark, 30, 32, tag="d")
                  .withColumn("score", F.lit(2)), tdir, key="k")   # v3
    # keep_last=2 → cut=v2: the EVOLVING commit is the oldest retained
    txnlog.truncate_history(tdir, keep_last=2, retention_seconds=0)
    h = {r.version: r for r in
         txnlog.describe_history(spark, tdir).collect()}
    assert sorted(h) == [2, 3]
    assert h[2].schema_changed, (
        "evolution IN the cutoff commit must stay in the audit trail")
    assert h[2].new_columns == ["score"]
    assert not h[3].schema_changed
    # replay below the cut still raises; retained versions replay fine
    with pytest.raises(ValueError, match="not in log"):
        txnlog.read_table(spark, tdir, version=1).count()
    assert txnlog.read_table(spark, tdir, version=2).count() == 17


def _body_replace_contents_rejects_retyped_columns(spark, tdir):
    """ADVICE r11: replace_contents gained _check_constraints in r10
    but not _check_types, so a frame retyping a logged column staged
    files whose physical type conflicts with the logged schema — the
    same commit-time-undetected corruption closed for append/merge,
    still open on this verb."""
    txnlog.create_table(spark, _mk(spark, 0, 20), tdir, key="k")
    retyped = (spark.range(5).coalesce(1)
               .select(F.col("id").alias("k"),
                       F.col("id").alias("v")))   # v long, logged string
    with pytest.raises(ValueError, match="retypes logged column"):
        txnlog.replace_contents(spark, tdir, retyped, key="k")
    assert txnlog.snapshot(tdir).version == 0
    assert txnlog.read_table(spark, tdir).count() == 20


def _body_dv_compact_folds_vectors(spark, tdir):
    """OPTIMIZE folds deletion vectors: the compacted files carry live
    rows only and start with empty DVs — content identical before and
    after, scan cost restored (no masking join left in the plan)."""
    txnlog.create_table(spark, _mk(spark, 0, 200)
                        .repartitionByRange(2, "k"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 10, 25, tag="b"), key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=150, hi=160)
    pre = txnlog.snapshot(tdir)
    assert sum(1 for s in pre.files.values() if s.get("dv")) == 2
    before = {(r.k, r.v) for r in txnlog.read_table(spark, tdir).collect()}
    txnlog.compact(spark, tdir, key="k", target_files=2)
    post = txnlog.snapshot(tdir)
    assert all(not s.get("dv") for s in post.files.values()), (
        "compaction must fold every deletion vector")
    after = {(r.k, r.v) for r in txnlog.read_table(spark, tdir).collect()}
    assert after == before
    assert len(after) == 190 and ("b15" in {v for _, v in after})
    # physical row counts now match live rows (dead rows gone)
    assert sum(s["rows"] for s in post.files.values()) == 190


def _body_dv_cumulative_across_commits_and_checkpoint(spark, tdir):
    """DVs are CUMULATIVE per file (each action supersedes with the
    union) and survive checkpoint-bounded replay: after crossing
    CHECKPOINT_EVERY commits the snapshot replays from the checkpoint
    and the masking stays exact; time travel below a DV commit still
    sees its rows alive."""
    txnlog.create_table(spark, _mk(spark, 0, 1000).coalesce(1),
                        tdir, key="k")
    # 11 sparse merges against the SAME file: DV grows monotonically,
    # version 10 writes a checkpoint that must carry the vector
    for i in range(11):
        txnlog.merge(spark, tdir,
                     _mk(spark, 10 * i, 10 * i + 5, tag=f"m{i}"),
                     key="k")
    snap = txnlog.snapshot(tdir)
    assert snap.version == 11
    assert os.path.exists(os.path.join(
        tdir, "_txnlog", f"{10:020d}.ckpt.json"))
    dv_files = {n: s["dv"] for n, s in snap.files.items()
                if s.get("dv")}
    assert len(dv_files) == 1
    assert txnlog._ranges_count(next(iter(dv_files.values()))) == 55
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 1000
    assert got[42] == "m442" and got[103] == "m10103" and got[999] == "a999"
    # time travel: at v3 only merges 0-2 applied
    old = {r.k: r.v for r in
           txnlog.read_table(spark, tdir, version=3).collect()}
    assert old[4] == "m04" and old[24] == "m224" and old[30] == "a30"
    assert len(old) == 1000


def _body_dv_rewrite_proportional_to_rows_not_files(spark, tdir):
    """The 100 TB contract VERDICT r10 item 2 asked for: a sparse
    point update against a WIDE table (8 files x 500 rows) stages only
    the batch's own rows — staged bytes ∝ touched rows, while the
    copy-on-write path would have rewritten the whole hit file."""
    txnlog.create_table(spark, _mk(spark, 0, 4000)
                        .repartitionByRange(8, "k"), tdir, key="k")
    sizes_before = {n: os.path.getsize(os.path.join(tdir, n))
                    for n in txnlog.snapshot(tdir).files}
    txnlog.merge(spark, tdir, _mk(spark, 7, 9, tag="b"), key="k")
    snap = txnlog.snapshot(tdir)
    new_files = [n for n in snap.files if n not in sizes_before]
    assert sum(snap.files[n]["rows"] for n in new_files) == 2, (
        "only the 2 batch rows may be staged")
    assert len(set(sizes_before) - set(snap.files)) == 0, (
        "no existing file rewritten")


def _body_batch_datasource_parity_with_native_read(spark, tdir):
    """The batch DataSource (sources/txnbatch, r11) must equal
    txnlog.read_table EXACTLY in every state the protocol can produce:
    plain, after a deletion-vector merge (masking in the source),
    after schema evolution (NULL-fill under the logged schema), and at
    a pinned versionAsOf (time travel below both) — plus compose with
    plain SQL via a temp view."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnlog.create_table(spark, _mk(spark, 0, 200)
                        .repartitionByRange(2, "k"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 10, 25, tag="b"), key="k")
    wide = _mk(spark, 200, 210, tag="c").withColumn("score", F.lit(1))
    txnlog.append(spark, wide, tdir, key="k", evolve_schema=True)
    txnbatch.register(spark)

    def eq(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    cur = spark.read.format("txnlog").option("path", tdir).load()
    assert eq(cur, txnlog.read_table(spark, tdir))
    assert cur.count() == 210
    for v in (0, 1):
        pinned = (spark.read.format("txnlog").option("path", tdir)
                  .option("versionAsOf", v).load())
        assert eq(pinned, txnlog.read_table(spark, tdir, version=v))
    v0 = (spark.read.format("txnlog").option("path", tdir)
          .option("versionAsOf", 0).load())
    assert v0.columns == ["k", "v"], "pre-evolution schema is narrow"
    # SQL surface
    cur.createOrReplaceTempView("txnds_parity")
    row = spark.sql("SELECT count(*) n, sum(score) s FROM txnds_parity "
                    "WHERE k >= 100").collect()[0]
    assert (row.n, row.s) == (110, 10)
    spark.catalog.dropTempView("txnds_parity")
    # option errors: out-of-log version
    with pytest.raises(Exception, match="versionAsOf"):
        (spark.read.format("txnlog").option("path", tdir)
         .option("versionAsOf", 99).load().count())


def _body_restore_rolls_back_state_as_a_new_commit(spark, tdir):
    """RESTORE (r11): rolls file set, deletion vectors AND schema back
    to the target version as ONE NEW metadata-only commit — history
    stays append-only (the rollback is auditable), no data file is
    read or written, and the change feed across the restore classifies
    resurrected rows as inserts (the one case a DV ever shrinks)."""
    txnlog.create_table(spark, _mk(spark, 0, 100)
                        .repartitionByRange(2, "k"), tdir, key="k")  # v0
    txnlog.merge(spark, tdir, _mk(spark, 10, 20, tag="b"), key="k")  # v1 dv
    txnlog.delete_range(spark, tdir, key="k", lo=90, hi=100)         # v2 dv
    wide = _mk(spark, 100, 105, tag="c").withColumn("s", F.lit(1))
    txnlog.append(spark, wide, tdir, key="k", evolve_schema=True)    # v3
    v0_rows = {(r.k, r.v) for r in
               txnlog.read_table(spark, tdir, version=0).collect()}

    snap = txnlog.restore(spark, tdir, version=0)                    # v4
    assert snap.version == 4, "restore is a NEW commit"
    got = txnlog.read_table(spark, tdir)
    assert got.columns == ["k", "v"], "schema restored (s gone)"
    assert {(r.k, r.v) for r in got.collect()} == v0_rows
    # intermediate versions still readable (append-only history)
    assert txnlog.read_table(spark, tdir, version=3).count() == 95
    # audit row
    h = {r.version: r for r in
         txnlog.describe_history(spark, tdir).collect()}
    assert h[4].op == "restore"
    # CDC across the restore: the 10 deleted rows (90-99) resurrect as
    # inserts; the merged rows 10-19 revert b->a (update pre/post)
    feed = txnlog.table_changes(spark, tdir, 3, 4, key="k")
    by_type: dict = {}
    for r in feed.collect():
        by_type.setdefault(r.change_type, set()).add(r.k)
    assert by_type["insert"] >= {90, 99}
    assert by_type["delete"] == {100, 101, 102, 103, 104}
    assert by_type["update_postimage"] >= {10, 19}
    # idempotent: restoring to the state we're already in is a no-op
    assert txnlog.restore(spark, tdir, version=0).version == 4


def _body_restore_respects_retention_boundaries(spark, tdir):
    """RESTORE vs the retention lifecycle: a target version dropped by
    truncate_history raises (not in log); a RETAINED version whose
    files were vacuumed away raises FileNotFoundError BEFORE
    committing anything — never a commit referencing missing data."""
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")   # v0
    for i in range(4):                                             # v1-4
        txnlog.merge(spark, tdir, _mk(spark, 10 * i, 10 * i + 5,
                                      tag=f"m{i}"), key="k")
    txnlog.truncate_history(tdir, keep_last=2, retention_seconds=0)
    with pytest.raises(ValueError, match="not in log"):
        txnlog.restore(spark, tdir, version=0)
    # a retained version restores fine after truncation (its files
    # are still referenced)
    vkeep = txnlog._list_versions(tdir)[0]
    before = txnlog.read_table(spark, tdir, version=vkeep).count()
    txnlog.restore(spark, tdir, version=vkeep)
    assert txnlog.read_table(spark, tdir).count() == before
    # simulate a vacuumed-away file for a retained version: remove a
    # data file only the target still references... all files here are
    # shared with latest (DV route), so instead delete one live file
    # and check restore to the CURRENT state still no-ops while a
    # restore NEEDING a missing file raises
    snap = txnlog.snapshot(tdir)
    victim = sorted(snap.files)[0]
    # rewrite table fully so `victim` leaves the current file set
    txnlog.replace_contents(spark, tdir,
                            _mk(spark, 0, 20, tag="z"), key="k")
    os.remove(os.path.join(tdir, victim))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        txnlog.restore(spark, tdir, version=snap.version)


def _body_clone_table_zero_copy_and_independent(spark, tdir):
    """Zero-copy clone (r11): the destination hardlinks the live data
    files (same inode — no bytes copied), carries DVs and schema
    exactly, and evolves independently — a merge on the clone never
    disturbs the source, and vacuum on either side cannot break the
    other (the inode survives until both names drop)."""
    txnlog.create_table(spark, _mk(spark, 0, 100)
                        .repartitionByRange(2, "k"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 5, 10, tag="b"), key="k")
    dest = tdir + "_clone"
    snap = txnlog.clone_table(tdir, dest)
    assert snap.version == 0
    src_rows = {(r.k, r.v) for r in txnlog.read_table(spark, tdir).collect()}
    assert {(r.k, r.v) for r in
            txnlog.read_table(spark, dest).collect()} == src_rows
    # zero-copy: same inode for every shared file
    for n in txnlog.snapshot(dest).files:
        assert (os.stat(os.path.join(tdir, n)).st_ino
                == os.stat(os.path.join(dest, n)).st_ino)
    # independent evolution: merge on the clone, source unchanged
    txnlog.merge(spark, dest, _mk(spark, 0, 3, tag="z"), key="k")
    assert {(r.k, r.v) for r in
            txnlog.read_table(spark, tdir).collect()} == src_rows
    got = {r.k: r.v for r in txnlog.read_table(spark, dest).collect()}
    assert got[0] == "z0" and got[5] == "b5" and got[50] == "a50"
    # vacuum on the source cannot break the clone
    txnlog.vacuum(tdir, retention_seconds=0)
    assert {(r.k, r.v) for r in
            txnlog.read_table(spark, dest).collect()} | set() >= {
        (0, "z0")}


def _body_check_constraints_enforced_on_every_write_verb(spark, tdir):
    """CHECK constraints (r11, Delta's table constraints): recorded in
    the log (latest-wins map, checkpoint-carried), validated against
    EXISTING content when added, enforced on append/merge/apply/
    replace — including NULL-filled omitted columns (`v IS NOT NULL`
    on a narrower batch is a violation, not a free pass) — and rolled
    back by RESTORE with the rest of the metadata."""
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")   # v0
    txnlog.set_constraint(spark, tdir, name="k_nonneg",
                          expr="k >= 0")                           # v1
    txnlog.set_constraint(spark, tdir, name="v_notnull",
                          expr="v IS NOT NULL")                    # v2
    assert txnlog.snapshot(tdir).constraints == {
        "k_nonneg": "k >= 0", "v_notnull": "v IS NOT NULL"}

    # adding a constraint the data violates refuses
    with pytest.raises(ValueError, match="existing table content"):
        txnlog.set_constraint(spark, tdir, name="small", expr="k < 10")

    bad = spark.range(-5, -1).coalesce(1).select(
        F.col("id").alias("k"), F.lit("x").alias("v"))
    with pytest.raises(ValueError, match="k_nonneg"):
        txnlog.append(spark, bad, tdir, key="k")
    with pytest.raises(ValueError, match="k_nonneg"):
        txnlog.merge(spark, tdir, bad, key="k")
    with pytest.raises(ValueError, match="k_nonneg"):
        txnlog.apply_changes(
            spark, tdir, bad.withColumn("op", F.lit("update")),
            key="k")
    with pytest.raises(ValueError, match="k_nonneg"):
        txnlog.replace_contents(spark, tdir, bad, key="k")
    # a batch OMITTING v null-fills it -> violates v_notnull
    narrow = (spark.range(60, 62).coalesce(1)
              .select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="v_notnull"):
        txnlog.merge(spark, tdir, narrow, key="k")
    assert txnlog.snapshot(tdir).version == 2, "no write landed"
    # a clean batch passes
    txnlog.merge(spark, tdir, _mk(spark, 10, 15, tag="b"), key="k")  # v3
    # drop + restore semantics: restore to v1 brings k_nonneg only
    txnlog.drop_constraint(spark, tdir, name="k_nonneg")             # v4
    assert txnlog.snapshot(tdir).constraints == {
        "v_notnull": "v IS NOT NULL"}
    txnlog.restore(spark, tdir, version=1)                           # v5
    assert txnlog.snapshot(tdir).constraints == {"k_nonneg": "k >= 0"}
    # constraints survive checkpoint replay (cross CHECKPOINT_EVERY)
    for i in range(6):
        txnlog.append(spark, _mk(spark, 100 + i, 101 + i), tdir,
                      key="k")                                       # ..v11
    assert txnlog.snapshot(tdir).constraints == {"k_nonneg": "k >= 0"}
    with pytest.raises(ValueError, match="k_nonneg"):
        txnlog.append(spark, bad, tdir, key="k")


def _body_writer_datasource_create_append_overwrite(spark, tdir):
    """The write surface (r12, VERDICT r11 item 1):
    ``df.write.format("txnlog")`` CREATES a table when no log exists
    (option("key") recording the merge key), mode("append") appends,
    mode("overwrite") replaces contents — each an atomic commit that
    txnlog's native verbs read back exactly, with footer stats (key
    interval + per-column cols map) recorded on every added file."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnbatch.register(spark)
    (_mk(spark, 0, 100).write.format("txnlog")
     .option("path", tdir).option("key", "k").mode("append").save())
    assert txnlog.snapshot(tdir).key == "k", \
        "create-by-write records the merge key"
    assert txnlog.read_table(spark, tdir).count() == 100
    (_mk(spark, 100, 150, tag="b").write.format("txnlog")
     .option("path", tdir).mode("append").save())
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 150
    assert got.filter(F.col("v").startswith("b")).count() == 50
    # every writer-staged file carries stats usable by MERGE and
    # by the read path's pruning
    snap = txnlog.snapshot(tdir)
    for st in snap.files.values():
        assert st["kmin"] is not None and "k" in st["cols"]
    # native MERGE composes with writer-created tables (data skipping
    # runs off the writer's recorded intervals)
    txnlog.merge(spark, tdir, _mk(spark, 10, 20, tag="m"), key="k")
    assert txnlog.read_table(spark, tdir) \
        .filter(F.col("v").startswith("m")).count() == 10
    (_mk(spark, 0, 7, tag="o").write.format("txnlog")
     .option("path", tdir).mode("overwrite").save())
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 7
    assert got.filter(~F.col("v").startswith("o")).count() == 0
    # overwrite was a commit, not a reset: time travel still works
    assert txnlog.read_table(spark, tdir, version=1).count() == 150


def _body_writer_datasource_guards(spark, tdir):
    """Writer-path safety gates (same contract as the Python verbs):
    new columns need evolveSchema, retyped columns are rejected at
    commit time, CHECK constraints gate the commit (validated via
    duckdb over the staged parquet — including NULL-filled omitted
    columns), and a failed write leaves NO live change and no staged
    orphan garbage."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnbatch.register(spark)
    (_mk(spark, 0, 50).write.format("txnlog")
     .option("path", tdir).option("key", "k").mode("append").save())
    wide = _mk(spark, 50, 60).withColumn("extra", F.lit(1))
    with pytest.raises(Exception, match="evolveSchema"):
        (wide.write.format("txnlog").option("path", tdir)
         .mode("append").save())
    (wide.write.format("txnlog").option("path", tdir)
     .option("evolveSchema", "true").mode("append").save())
    got = txnlog.read_table(spark, tdir)
    assert got.columns == ["k", "v", "extra"] and got.count() == 60
    retyped = spark.range(0, 3).select(
        F.col("id").alias("k"), F.col("id").alias("v"))  # v long, logged string
    with pytest.raises(Exception, match="retypes"):
        (retyped.write.format("txnlog").option("path", tdir)
         .mode("append").save())
    # constraint arm on its own table where the constraint HOLDS on
    # existing content, then a NARROWER batch omits the column ->
    # NULL-filled -> must violate and commit nothing
    cdir = tdir + "_c"
    (_mk(spark, 0, 30).withColumn("extra", F.lit(1))
     .write.format("txnlog").option("path", cdir).option("key", "k")
     .mode("append").save())
    txnlog.set_constraint(spark, cdir, name="extra_set",
                          expr="extra IS NOT NULL")
    before = txnlog.snapshot(cdir)
    with pytest.raises(Exception, match="extra_set"):
        (_mk(spark, 100, 103).write.format("txnlog")
         .option("path", cdir).mode("append").save())
    after = txnlog.snapshot(cdir)
    assert after.version == before.version, "failed write committed"
    live = set(after.files)
    orphans = [n for n in os.listdir(cdir)
               if n.endswith(".parquet") and n.startswith("p-w-")
               and n not in live]
    assert not orphans, "aborted writer write left staged files"


def _body_writer_stream_sink_exactly_once(spark, tdir):
    """``df.writeStream.format("txnlog")`` (r12): each micro-batch
    commits its files AND the (txnAppId, batchId) marker in ONE atomic
    log entry.  A restart on the same checkpoint re-delivers nothing;
    a replay of the SAME batch ids under a fresh checkpoint (same
    txnAppId) is a no-op — the exactly-once contract, held by the log
    itself rather than the checkpoint."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnbatch.register(spark)
    base = os.path.dirname(tdir)
    src = os.path.join(base, "src")
    _mk(spark, 0, 40).write.parquet(src)

    def run(ck):
        q = (spark.readStream.schema("k long, v string").parquet(src)
             .writeStream.format("txnlog").option("path", tdir)
             .option("key", "k").option("txnAppId", "ds02-sink")
             .option("checkpointLocation", os.path.join(base, ck))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run("ck1")
    assert txnlog.read_table(spark, tdir).count() == 40
    run("ck1")      # restart, no new files
    assert txnlog.read_table(spark, tdir).count() == 40
    run("ck2")      # fresh checkpoint replays batch 0: txn no-op
    assert txnlog.read_table(spark, tdir).count() == 40
    snap = txnlog.snapshot(tdir)
    assert snap.txns.get("ds02-sink") == 0


def _body_read_pruning_opens_only_interval_hit_files(spark, tdir):
    """Per-column footer-stats file skipping (r12, VERDICT r11 item
    4): a NON-KEY predicate must plan only the interval-hit files —
    through txnlog.prune_files / read_table(filters=...) AND through
    the DataSource's pushFilters — while never changing results
    (skipping is an optimization, the row filter stays)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from docker_aktin_dwh_spark.sources import txnbatch

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("score"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string"))
        .alias("cat"))
    txnlog.create_table(spark, df.repartitionByRange(3, "k"), tdir,
                        key="k")
    snap = txnlog.snapshot(tdir)
    assert len(snap.files) == 3
    # non-key numeric predicate: score >= 2500 lives in the top file
    hit = txnlog.prune_files(snap, [("score", ">=", 2500)])
    assert len(hit) == 1
    # conjunction can prove emptiness
    assert txnlog.prune_files(
        snap, [("score", ">=", 2500), ("score", "<", 0)]) == []
    # string column intervals prune too
    assert len(txnlog.prune_files(snap, [("cat", "=", "zzz")])) == 0
    # read_table(filters=...) plans only the hit files, result exact
    got = (txnlog.read_table(spark, tdir,
                             filters=[("score", ">=", 2500)])
           .filter(F.col("score") >= 2500))
    assert got.count() == 50
    assert txnlog.read_table(
        spark, tdir, filters=[("cat", "=", "zzz")]).count() == 0
    # DataSource: pushed filters shrink the partition list (the
    # observable plan-level proof files are SKIPPED, not re-filtered)
    txnbatch.register(spark)
    ds = txnbatch.TxnlogBatchDataSource(
        options={"path": tdir, "dataSkipping": "true"})
    rd = ds.reader(ds.schema())
    residual = rd.pushFilters([GreaterThanOrEqual(("score",), 2500)])
    assert list(residual), "row-level predicate must stay with Spark"
    assert len(rd.partitions()) == 1
    rd2 = ds.reader(ds.schema())
    rd2.pushFilters([EqualTo(("cat",), "zzz")])
    assert len(rd2.partitions()) == 0 or rd2.partitions() == []
    # IN-list pruning: any member inside the interval keeps the file
    assert len(txnlog.prune_files(
        snap, [("score", "in", (2500, 2600))])) == 1
    assert txnlog.prune_files(
        snap, [("score", "in", (-5, 99999))]) == []
    from pyspark.sql.datasource import In
    rin = ds.reader(ds.schema())
    rin.pushFilters([In(("score",), (10, 20))])
    assert len(rin.partitions()) == 1
    # end to end through SQL with opt-in skipping: pruned plan, exact
    # rows (one-shot relation per query — the documented usage)
    sk = (spark.read.format("txnlog").option("path", tdir)
          .option("dataSkipping", "true").load())
    assert sk.filter("score >= 2500").rdd.getNumPartitions() == 1
    assert (spark.read.format("txnlog").option("path", tdir)
            .option("dataSkipping", "true").load()
            .filter("score >= 2500").count()) == 50
    # load-time declared pruning: pinned at load, safe under reuse
    decl = (spark.read.format("txnlog").option("path", tdir)
            .option("filters", '[["score", ">=", 2500]]').load())
    assert decl.rdd.getNumPartitions() == 1
    assert decl.filter("score >= 2500").count() == 50


def _body_datasource_plan_reuse_stays_correct(spark, tdir):
    """Regression for the Spark 4.1 one-plan-per-relation cache
    (PythonDataSourceV2.setReadInfo): with dataSkipping OFF (the
    default) the partition list never depends on pushed filters, so
    reusing one loaded DataFrame across differently-filtered queries
    stays exact — the silent-wrong-count repro (filtered query, then
    bare count on the same relation returns the pruned count) must
    not reproduce through the default read path."""
    from docker_aktin_dwh_spark.sources import txnbatch

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("score"))
    txnlog.create_table(spark, df.repartitionByRange(3, "k"), tdir,
                        key="k")
    txnbatch.register(spark)
    r = spark.read.format("txnlog").option("path", tdir).load()
    assert r.count() == 300
    assert r.filter("score >= 2500").count() == 50
    assert r.count() == 300, \
        "plan reuse after a filtered query lost rows (file skipping " \
        "must be opt-in per load)"
    assert r.filter("score < 1000").count() == 100


def _body_delta_export_conformance(spark, tdir):
    """export_delta_log (r12, VERDICT r11 item 6): the exported
    _delta_log commit must follow the PUBLIC Delta protocol action
    shapes (delta-io/delta PROTOCOL.md) so a real Delta reader opens
    it — validated structurally here, and differentially the moment a
    delta package is importable (gated arm below).  Also pins: DV-
    carrying snapshots refuse (compact folds them first), data files
    are hardlinked (zero-copy), stats carry the commit's footer
    intervals, and txn appIds survive the export."""
    import pyarrow.parquet as pq

    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk(spark, 0, 100)
                        .repartitionByRange(2, "k"), tdir, key="k")
    txnlog.append(spark, _mk(spark, 100, 130, tag="b"), tdir, key="k",
                  txn=("exp-app", 7))
    # r14: DV-carrying snapshots now export (inline roaring bitmaps,
    # covered by the differential tests below); this conformance body
    # pins the BASE protocol shape, so fold the DVs first
    txnlog.merge(spark, tdir, _mk(spark, 10, 20, tag="m"), key="k")
    dest = tdir + "_delta"
    if any(st.get("dv") for st in txnlog.snapshot(tdir).files.values()):
        txnlog.compact(spark, tdir, key="k")
    delta_export.export_delta_log(tdir, dest)

    log = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    assert all(len(a) == 1 for a in actions), "one action per line"
    by_kind: dict[str, list] = {}
    for a in actions:
        k, v = next(iter(a.items()))
        by_kind.setdefault(k, []).append(v)
    assert set(by_kind) <= {"protocol", "metaData", "add", "txn"}
    # protocol: exactly one, spec'd fields
    (proto,) = by_kind["protocol"]
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    # metaData: exactly one; schemaString is Spark StructType JSON
    (meta,) = by_kind["metaData"]
    assert meta["format"] == {"provider": "parquet", "options": {}}
    from pyspark.sql.types import StructType
    st = StructType.fromJson(json.loads(meta["schemaString"]))
    assert [f.name for f in st.fields] == ["k", "v"]
    assert meta["partitionColumns"] == [] and isinstance(meta["id"], str)
    # adds: required keys, real sizes, numRecords == footer rows,
    # hardlinked (same inode)
    snap = txnlog.snapshot(tdir)
    assert len(by_kind["add"]) == len(snap.files)
    for add in by_kind["add"]:
        assert set(add) >= {"path", "partitionValues", "size",
                            "modificationTime", "dataChange"}
        assert add["dataChange"] is True
        assert add["partitionValues"] == {}
        src = os.path.join(tdir, add["path"])
        dst = os.path.join(dest, add["path"])
        assert os.stat(src).st_ino == os.stat(dst).st_ino, "zero-copy"
        assert add["size"] == os.stat(src).st_size
        stats = json.loads(add["stats"])
        assert stats["numRecords"] == \
            pq.ParquetFile(dst).metadata.num_rows
        assert stats["minValues"]["k"] <= stats["maxValues"]["k"]
    # txn: streaming idempotence ids survive
    assert {"appId": "exp-app", "version": 7,
            "lastUpdated": by_kind["txn"][0]["lastUpdated"]} \
        in by_kind["txn"]
    # exported data == txnlog read (via plain parquet over the adds)
    got = spark.read.parquet(
        *[os.path.join(dest, a["path"]) for a in by_kind["add"]])
    want = txnlog.read_table(spark, tdir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # differential arm: runs automatically once a delta package lands
    try:
        import delta  # noqa: F401
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return
    real = spark.read.format("delta").load(dest)   # pragma: no cover
    assert real.exceptAll(want).count() == 0       # pragma: no cover


def _body_timestamp_as_of_resolution(spark, tdir):
    """timestampAsOf (r12, Delta's rule): resolved against commit-file
    mtimes with monotonization; before-first-commit raises; the
    DataSource accepts epoch seconds or ISO strings.  mtimes pinned
    with os.utime so the test is clock-independent, including a
    deliberately NON-monotonic middle commit (skewed writer clock)
    that monotonization must absorb."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")    # v0
    txnlog.append(spark, _mk(spark, 10, 30, tag="b"), tdir, key="k")  # v1
    txnlog.append(spark, _mk(spark, 30, 60, tag="c"), tdir, key="k")  # v2
    log = os.path.join(tdir, "_txnlog")
    t0 = 1_700_000_000.0
    for v, t in ((0, t0), (1, t0 + 100), (2, t0 + 50)):  # v2 skewed EARLY
        os.utime(os.path.join(log, f"{v:020d}.json"), (t, t))
    assert txnlog.resolve_timestamp(tdir, t0) == 0
    assert txnlog.resolve_timestamp(tdir, t0 + 99) == 0
    # monotonization: v2's effective time is max(t0+100, t0+50) =
    # t0+100 — version order beats its skewed clock, and the query at
    # t0+100 sees the LATEST version committed by then (v2, like Delta)
    assert txnlog.resolve_timestamp(tdir, t0 + 100) == 2
    assert txnlog.resolve_timestamp(tdir, t0 + 1e6) == 2
    with pytest.raises(ValueError, match="predates"):
        txnlog.resolve_timestamp(tdir, t0 - 1)
    assert txnlog.read_table(spark, tdir, timestamp=t0).count() == 10
    with pytest.raises(ValueError, match="not both"):
        txnlog.read_table(spark, tdir, version=1, timestamp=t0)
    txnbatch.register(spark)
    assert (spark.read.format("txnlog").option("path", tdir)
            .option("timestampAsOf", str(t0 + 99)).load().count()) == 10
    # ISO form parses; far-future resolves to latest regardless of the
    # local timezone's rendering of t0
    assert (spark.read.format("txnlog").option("path", tdir)
            .option("timestampAsOf", "2999-01-01 00:00:00").load()
            .count()) == 60


def _body_stream_replication_source_to_sink(spark, tdir):
    """Composition (r12): the commit-log streaming SOURCE feeding the
    txnlog streaming SINK — CDC-style table replication entirely
    through registered formats (readStream.format('txnlog_stream') →
    writeStream.format('txnlog')), exactly-once on BOTH ends: the
    source replays committed versions only, the sink commits each
    micro-batch with its (appId, batchId) txn action, and a full
    restart replays nothing.  New commits on the primary propagate on
    the next trigger."""
    from docker_aktin_dwh_spark.sources import txnbatch, txnstream

    txnbatch.register(spark)
    txnstream.register(spark)
    base = os.path.dirname(tdir)
    replica = os.path.join(base, "replica")
    txnlog.create_table(spark, _mk(spark, 0, 60), tdir, key="k")
    txnlog.append(spark, _mk(spark, 60, 100, tag="b"), tdir, key="k")

    def run(ck):
        await_query(lambda: (
            spark.readStream.format("txnlog_stream")
            .option("path", tdir).load()
            .drop("_commit_version")
            .writeStream.format("txnlog")
            .option("path", replica).option("key", "k")
            .option("txnAppId", "repl")
            .option("checkpointLocation", os.path.join(base, ck))
            .trigger(availableNow=True).start()))

    run("ck1")
    got = txnlog.read_table(spark, replica)
    assert got.count() == 100
    # restart: nothing re-delivered, nothing re-committed
    run("ck1")
    assert txnlog.read_table(spark, replica).count() == 100
    # primary advances; replica catches up on the next trigger
    txnlog.append(spark, _mk(spark, 100, 120, tag="c"), tdir, key="k")
    run("ck1")
    rep = txnlog.read_table(spark, replica)
    assert rep.count() == 120
    want = txnlog.read_table(spark, tdir)
    assert rep.exceptAll(want).count() == 0
    assert want.exceptAll(rep).count() == 0


def _mk3(spark, lo, hi, tag="a"):
    """Three-column protocol frame for the column-mapping bodies."""
    return (spark.range(lo, hi).coalesce(2).select(
        F.col("id").alias("k"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v"),
        (F.col("id") % 5).alias("grp")))


def _body_colmap_rename_metadata_only(spark, tdir):
    """rename_column (r13): a METADATA-ONLY commit — identical file
    set, logical reads under the new name, time travel below the
    rename keeps the old name, merges address the renamed column, and
    renaming the merge key updates the logged key so data skipping
    stays keyed."""
    txnlog.create_table(spark, _mk3(spark, 0, 100)
                        .repartitionByRange(4, "k"), tdir, key="k")
    before = txnlog.snapshot(tdir)
    s1 = txnlog.rename_column(spark, tdir, old="v", new="val")
    assert s1.files == before.files, "rename must not touch data files"
    assert s1.colmap == {"k": "k", "v": None, "val": "v",
                         "grp": "grp"} or s1.colmap == {
        "k": "k", "val": "v", "grp": "grp"}
    got = txnlog.read_table(spark, tdir)
    assert got.columns == ["k", "val", "grp"]
    assert {r.val for r in got.filter("k < 2").collect()} == {"a0", "a1"}
    # time travel below the rename reads the OLD logical shape
    assert txnlog.read_table(spark, tdir, 0).columns == ["k", "v", "grp"]
    # merge under the new logical name
    batch = (_mk3(spark, 10, 20, tag="m")
             .withColumnRenamed("v", "val"))
    txnlog.merge(spark, tdir, batch, key="k")
    cur = {r.k: r.val for r in txnlog.read_table(spark, tdir).collect()}
    assert len(cur) == 100 and cur[15] == "m15" and cur[50] == "a50"
    # rename the MERGE KEY; the logged key follows and skipping works
    txnlog.rename_column(spark, tdir, old="k", new="kid")
    assert txnlog.snapshot(tdir).key == "kid"
    b2 = (_mk3(spark, 30, 35, tag="z")
          .withColumnRenamed("v", "val").withColumnRenamed("k", "kid"))
    txnlog.merge(spark, tdir, b2, key="kid")
    out = txnlog.read_table(spark, tdir)
    assert {r.val for r in out.filter("kid = 32").collect()} == {"z32"}
    # footer pruning addresses the RENAMED column (stats are physical)
    pruned = txnlog.prune_files(txnlog.snapshot(tdir),
                                [("kid", "<", 5)])
    assert 0 < len(pruned) < len(txnlog.snapshot(tdir).files), \
        "renamed-key pruning must still skip disjoint files"


def _body_colmap_drop_readd_no_resurrection(spark, tdir):
    """drop_column + evolving re-add (r13): the drop is metadata-only;
    a column re-added under the SAME logical name gets a FRESH
    physical name, so the dropped data never resurrects (Delta's
    columnMapping drop semantics); compact physically removes the
    dropped storage."""
    txnlog.create_table(spark, _mk3(spark, 0, 50), tdir, key="k")
    before = txnlog.snapshot(tdir)
    s1 = txnlog.drop_column(spark, tdir, column="v")
    assert s1.files == before.files, "drop must not touch data files"
    assert txnlog.read_table(spark, tdir).columns == ["k", "grp"]
    # re-add "v" by evolving append: fresh physical name
    add = _mk3(spark, 50, 60, tag="NEW")
    txnlog.append(spark, add, tdir, key="k", evolve_schema=True)
    snap = txnlog.snapshot(tdir)
    assert snap.colmap["v"] != "v", "re-added column needs a fresh " \
        "physical name (identity would resurrect the dropped data)"
    got = txnlog.read_table(spark, tdir)
    alive = got.filter(F.col("v").isNotNull())
    assert alive.count() == 10, "old rows must read NULL, not the " \
        "dropped column's data"
    assert {r.v for r in alive.filter("k = 55").collect()} == {"NEW55"}
    # compact rewrites live logical columns only: dropped storage gone
    txnlog.compact(spark, tdir, key="k")
    import pyarrow.parquet as pq
    snap2 = txnlog.snapshot(tdir)
    for n in snap2.files:
        names = set(pq.ParquetFile(os.path.join(tdir, n))
                    .schema_arrow.names)
        assert names == {"k", "grp", snap2.colmap["v"]}, names
    assert txnlog.read_table(spark, tdir).filter(
        F.col("v").isNotNull()).count() == 10


def _body_colmap_all_write_verbs(spark, tdir):
    """Every write verb stages under the physical map: append, merge,
    apply_changes, delete_range, replace_contents, compact — and
    restore across the activation rolls the mapping back."""
    txnlog.create_table(spark, _mk3(spark, 0, 100)
                        .repartitionByRange(4, "k"), tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="val")

    def mk(lo, hi, tag):
        return _mk3(spark, lo, hi, tag).withColumnRenamed("v", "val")

    txnlog.append(spark, mk(100, 110, "ap"), tdir, key="k")
    txnlog.merge(spark, tdir, mk(10, 15, "mg"), key="k")
    feed = (mk(20, 25, "up").withColumn("op", F.lit("update"))
            .unionByName(mk(110, 115, "in")
                         .withColumn("op", F.lit("insert")))
            .unionByName(mk(0, 5, "x")
                         .withColumn("op", F.lit("delete"))))
    txnlog.apply_changes(spark, tdir, feed, key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=90, hi=95)
    got = {r.k: r.val for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 105      # 115 - 5 deleted - 5 ranged
    assert got[12] == "mg12" and got[22] == "up22" and \
        got[112] == "in112" and got[50] == "a50"
    assert 0 not in got and 92 not in got
    txnlog.compact(spark, tdir, key="k")
    assert len(txnlog.read_table(spark, tdir).collect()) == 105
    v_pre = txnlog.snapshot(tdir).version
    txnlog.replace_contents(spark, tdir, mk(0, 7, "rc"), key="k")
    assert {r.val for r in txnlog.read_table(spark, tdir).collect()} \
        == {f"rc{i}" for i in range(7)}
    # restore to the pre-replace state under the SAME mapping
    txnlog.restore(spark, tdir, version=v_pre)
    assert len(txnlog.read_table(spark, tdir).collect()) == 105
    # restore BELOW the activation: colmap rolls back to identity-None
    txnlog.restore(spark, tdir, version=0)
    s = txnlog.snapshot(tdir)
    assert s.colmap is None
    assert txnlog.read_table(spark, tdir).columns == ["k", "v", "grp"]
    assert txnlog.read_table(spark, tdir).count() == 100


def _body_colmap_datasource_parity_and_writes(spark, tdir):
    """The SQL surface under mapping: the batch DataSource read equals
    the native read after rename/drop/evolution (versionAsOf across
    the rename included), declared-filter pruning addresses logical
    names, df.write.format('txnlog') stages under physical names, and
    an EVOLVING DataSource write assigns a fresh physical name."""
    from docker_aktin_dwh_spark.sources import txnbatch
    txnbatch.register(spark)
    txnlog.create_table(spark, _mk3(spark, 0, 100)
                        .repartitionByRange(4, "k"), tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="val")
    txnlog.merge(spark, tdir,
                 _mk3(spark, 10, 15, tag="m")
                 .withColumnRenamed("v", "val"), key="k")

    def ds(**opts):
        r = spark.read.format("txnlog").option("path", tdir)
        for kk, vv in opts.items():
            r = r.option(kk, vv)
        return r.load()

    native = txnlog.read_table(spark, tdir)
    got = ds()
    assert got.columns == native.columns == ["k", "val", "grp"]
    assert got.exceptAll(native).count() == 0
    assert native.exceptAll(got).count() == 0
    # versionAsOf BELOW the rename: old logical shape
    assert ds(versionAsOf=0).columns == ["k", "v", "grp"]
    assert ds(versionAsOf=0).count() == 100
    # declared pruning on the RENAMED logical column skips files
    flt = ds(filters=json.dumps([["k", "<", 5]]))
    assert flt.count() < 100 and flt.filter("k < 5").count() == 5
    # DataSource write post-rename: logical frame, physical staging
    (_mk3(spark, 200, 205, tag="w").withColumnRenamed("v", "val")
     .write.format("txnlog").option("path", tdir).mode("append").save())
    assert txnlog.read_table(spark, tdir).filter("k >= 200").count() == 5
    # evolving DataSource write: fresh physical for the new column
    (_mk3(spark, 300, 303, tag="e").withColumnRenamed("v", "val")
     .withColumn("extra", F.lit("E"))
     .write.format("txnlog").option("path", tdir)
     .option("evolveSchema", "true").mode("append").save())
    snap = txnlog.snapshot(tdir)
    assert snap.colmap["extra"].startswith("c-"), snap.colmap
    out = txnlog.read_table(spark, tdir)
    assert out.filter(F.col("extra").isNotNull()).count() == 3
    # DataSource read agrees on the evolved mapped table
    got2 = ds()
    assert got2.exceptAll(out).count() == 0
    assert out.exceptAll(got2).count() == 0


def _body_colmap_cdc_and_stream_sources(spark, tdir):
    """CDC across a rename (r13): physical names are rename-stable, so
    table_changes classifies the SAME column across the rename instead
    of delete+insert storms; the rename commit itself emits no change
    rows; the streaming CDC source and the append-only stream source
    agree under mapping."""
    from docker_aktin_dwh_spark.sources import txnstream
    txnlog.create_table(spark, _mk3(spark, 0, 60)
                        .repartitionByRange(2, "k"), tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="val")     # v1
    txnlog.merge(spark, tdir,
                 _mk3(spark, 5, 10, tag="m")
                 .withColumnRenamed("v", "val"), key="k")     # v2
    # the rename alone contributes NO change rows
    assert txnlog.table_changes(spark, tdir, 0, 1, key="k") \
        .count() == 0
    feed = txnlog.table_changes(spark, tdir, 0, key="k")
    assert set(feed.columns) == {"k", "val", "grp", "change_type"}
    by = {(r.k, r.change_type): r.val for r in feed.collect()}
    assert by[(7, "update_preimage")] == "a7"
    assert by[(7, "update_postimage")] == "m7"
    assert len(by) == 10, "only the 5 merged keys changed (pre+post)"
    # streaming CDC source under mapping
    from docker_aktin_dwh_spark.sources import cdcstream
    cdcstream.register(spark)
    base = os.path.dirname(tdir)
    rows = []
    await_query(lambda: (
        spark.readStream.format("txnlog_cdc")
        .option("path", tdir).option("key", "k")
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: rows.extend(df.collect()))
        .option("checkpointLocation", os.path.join(base, "cdc_ck"))
        .trigger(availableNow=True).start()))
    got = {(r.k, r.change_type): r.val for r in rows}
    assert got[(7, "update_preimage")] == "a7"
    assert got[(7, "update_postimage")] == "m7"
    # append-only stream source aligns physical files to logical names
    txnstream.register(spark)
    txnlog.append(spark, _mk3(spark, 60, 70, tag="n")
                  .withColumnRenamed("v", "val"), tdir, key="k")
    srows = []
    await_query(lambda: (
        spark.readStream.format("txnlog_stream")
        .option("path", tdir)
        .option("skipChangeCommits", "true").load()
        .writeStream.foreachBatch(
            lambda df, _b: srows.extend(df.collect()))
        .option("checkpointLocation", os.path.join(base, "st_ck"))
        .trigger(availableNow=True).start()))
    svals = {r.k: r.val for r in srows}
    assert svals[65] == "n65" and svals[0] == "a0"


def _body_colmap_guards(spark, tdir):
    """Refusal surface: rename to an existing name, rename/drop of
    constraint-referenced columns, dropping the merge key or the last
    column, unknown columns — each a loud error, never a guess."""
    txnlog.create_table(spark, _mk3(spark, 0, 20), tdir, key="k")
    txnlog.set_constraint(spark, tdir, name="v_nn",
                          expr="v IS NOT NULL")
    with pytest.raises(ValueError, match="already exists"):
        txnlog.rename_column(spark, tdir, old="v", new="grp")
    with pytest.raises(KeyError, match="no column"):
        txnlog.rename_column(spark, tdir, old="nope", new="x")
    with pytest.raises(ValueError, match="CHECK constraint"):
        txnlog.rename_column(spark, tdir, old="v", new="val")
    with pytest.raises(ValueError, match="CHECK constraint"):
        txnlog.drop_column(spark, tdir, column="v")
    with pytest.raises(ValueError, match="merge key"):
        txnlog.drop_column(spark, tdir, column="k")
    # constraint dropped → rename proceeds; then the re-added
    # constraint addresses the NEW name
    txnlog.drop_constraint(spark, tdir, name="v_nn")
    txnlog.rename_column(spark, tdir, old="v", new="val")
    txnlog.set_constraint(spark, tdir, name="val_nn",
                          expr="val IS NOT NULL")
    with pytest.raises(ValueError, match="violate CHECK"):
        txnlog.append(
            spark,
            spark.range(1).select(
                (F.col("id") + 500).alias("k"),
                F.lit(None).cast("string").alias("val"),
                F.lit(0).cast("long").alias("grp")),
            tdir, key="k")


def _body_colmap_checkpoint_and_truncate_replay(spark, tdir):
    """The mapping survives checkpoint-bounded replay and history
    truncation: >CHECKPOINT_EVERY commits after a rename, then
    truncate_history — the checkpoint (not any retained commit) is the
    only carrier of the colmap/key, and both snapshot() and the
    DataSource mirror must replay it."""
    from docker_aktin_dwh_spark.sources import txnbatch
    txnlog.create_table(spark, _mk3(spark, 0, 30), tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="val")
    for i in range(12):
        txnlog.append(spark,
                      _mk3(spark, 100 + 10 * i, 110 + 10 * i, tag="b")
                      .withColumnRenamed("v", "val"), tdir, key="k")
    txnlog.truncate_history(tdir, keep_last=3, retention_seconds=0)
    snap = txnlog.snapshot(tdir)
    assert snap.colmap == {"k": "k", "val": "v", "grp": "grp"}
    assert snap.key == "k"
    got = txnlog.read_table(spark, tdir)
    assert got.columns == ["k", "val", "grp"] and got.count() == 150
    # DataSource mirror replays the same colmap through the checkpoint
    txnbatch.register(spark)
    ds = spark.read.format("txnlog").option("path", tdir).load()
    assert ds.columns == ["k", "val", "grp"]
    assert ds.exceptAll(got).count() == 0
    assert got.exceptAll(ds).count() == 0


def _body_colmap_add_column_metadata_only(spark, tdir):
    """add_column (r13): metadata-only ADD — identical file set,
    NULL-filled on existing rows, fresh physical name under an active
    mapping, non-nullable refusal, writes address it afterwards."""
    txnlog.create_table(spark, _mk3(spark, 0, 40), tdir, key="k")
    before = txnlog.snapshot(tdir)
    s1 = txnlog.add_column(spark, tdir, column="note", dtype="string")
    assert s1.files == before.files, "add_column must not touch files"
    got = txnlog.read_table(spark, tdir)
    assert got.columns == ["k", "v", "grp", "note"]
    assert got.filter(F.col("note").isNotNull()).count() == 0
    with pytest.raises(ValueError, match="already exists"):
        txnlog.add_column(spark, tdir, column="note", dtype="string")
    with pytest.raises(ValueError, match="non-nullable"):
        txnlog.add_column(spark, tdir, column="x", dtype="long",
                          nullable=False)
    # writes address the added column like any logged column
    batch = (_mk3(spark, 5, 10, tag="m")
             .withColumn("note", F.lit("N")))
    txnlog.merge(spark, tdir, batch, key="k")
    out = {r.k: r.note for r in txnlog.read_table(spark, tdir).collect()}
    assert out[7] == "N" and out[20] is None
    # under an ACTIVE mapping the addition takes a fresh physical name
    txnlog.rename_column(spark, tdir, old="v", new="val")
    s2 = txnlog.add_column(spark, tdir, column="extra2", dtype="long")
    assert s2.colmap["extra2"].startswith("c-"), s2.colmap
    # time travel below the add keeps the narrow shape
    assert txnlog.read_table(spark, tdir, 0).columns == ["k", "v",
                                                         "grp"]


def _body_widen_column_type_metadata_only(spark, tdir):
    """widen_column_type (r13, Delta 4.0's type widening): a
    metadata-only int→long / float→double / decimal-precision widen —
    identical file set, reads widen at scan time on every path
    (native + the batch DataSource's Arrow cast), writes must carry
    the wide type afterwards, compact physically normalizes, the
    Delta exporter refuses pre-compact and succeeds post-compact,
    time travel below the widen keeps the narrow type, and lossy
    transitions refuse."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docker_aktin_dwh_spark.sources import (delta_export,
                                                txnbatch)

    df = (spark.range(100).coalesce(2)
          .select(F.col("id").cast("int").alias("k"),
                  (F.col("id") / 4).cast("float").alias("x"),
                  F.col("id").cast("decimal(5,2)").alias("m")))
    txnlog.create_table(spark, df, tdir, key="k")
    before = txnlog.snapshot(tdir)
    txnlog.widen_column_type(spark, tdir, column="k", to="long")
    txnlog.widen_column_type(spark, tdir, column="x", to="double")
    txnlog.widen_column_type(spark, tdir, column="m",
                             to="decimal(12,2)")
    snap = txnlog.snapshot(tdir)
    assert snap.files == before.files, "widen must not touch files"
    got = txnlog.read_table(spark, tdir)
    assert [f.dataType.simpleString() for f in got.schema.fields] \
        == ["bigint", "double", "decimal(12,2)"]
    assert got.agg(F.sum("k")).first()[0] == sum(range(100))
    # lossy transitions refuse
    with pytest.raises(ValueError, match="not a safe widening"):
        txnlog.widen_column_type(spark, tdir, column="k", to="int")
    with pytest.raises(ValueError, match="not a safe widening"):
        txnlog.widen_column_type(spark, tdir, column="m",
                                 to="decimal(14,4)")
    # narrow frames now trip the retype guard; wide frames append
    with pytest.raises(ValueError, match="retypes logged column"):
        txnlog.append(spark, df.limit(1), tdir, key="k")
    wide = (spark.range(100, 110).coalesce(1)
            .select(F.col("id").alias("k"),
                    (F.col("id") / 4.0).alias("x"),
                    F.col("id").cast("decimal(12,2)").alias("m")))
    txnlog.append(spark, wide, tdir, key="k")
    assert txnlog.read_table(spark, tdir).count() == 110
    # r14: the physically-narrow table EXPORTS, declaring Delta's
    # typeWidening table feature (reader 3/writer 7) with per-field
    # delta.typeChanges metadata — and the independent reader widens
    # at scan time (differential below, read-widen arm)
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from independent_delta_reader import read_delta_table

    d0 = delta_export.export_delta_log(tdir, tdir + "_d0")
    log0 = os.path.join(d0, "_delta_log", f"{0:020d}.json")
    acts0 = [json.loads(line) for line in open(log0)]
    proto0 = next(a["protocol"] for a in acts0 if "protocol" in a)
    assert proto0["minReaderVersion"] == 3 \
        and "typeWidening" in proto0["readerFeatures"]
    meta0 = next(a["metaData"] for a in acts0 if "metaData" in a)
    fld_k = next(f for f in json.loads(meta0["schemaString"])["fields"]
                 if f["name"] == "k")
    assert fld_k["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}]
    cols0, rows0, _ = read_delta_table(d0)
    want0 = sorted((tuple(r) for r in
                    txnlog.read_table(spark, tdir).collect()),
                   key=lambda r: tuple((v is None, str(type(v)), v)
                                       for v in r))
    assert [tuple(r) for r in rows0] == [tuple(r) for r in want0], \
        "independent reader must widen the narrow files to the schema"
    # merge addressing the widened key (old narrow files DV'd fine)
    txnlog.merge(spark, tdir,
                 wide.withColumn("k", F.col("k") - F.lit(100)),
                 key="k")
    assert txnlog.read_table(spark, tdir).count() == 110
    # the batch DataSource widens through its Arrow cast
    txnbatch.register(spark)
    ds = spark.read.format("txnlog").option("path", tdir).load()
    native = txnlog.read_table(spark, tdir)
    assert ds.schema == native.schema
    assert ds.exceptAll(native).count() == 0
    assert native.exceptAll(ds).count() == 0
    # compact normalizes the physical type; export then succeeds
    txnlog.compact(spark, tdir, key="k")
    for n in txnlog.snapshot(tdir).files:
        sch = pq.ParquetFile(os.path.join(tdir, n)).schema_arrow
        assert sch.field("k").type == pa.int64()
        assert sch.field("x").type == pa.float64()
    delta_export.export_delta_log(tdir, tdir + "_d")
    # time travel below the widen reads the NARROW logged type
    tt = txnlog.read_table(spark, tdir, 0)
    assert tt.schema.fields[0].dataType.simpleString() == "int"


def _body_delta_export_differential_independent_reader(spark, tdir):
    """VERDICT r12 item 2: a second, INDEPENDENT implementation reads
    the export — tests/independent_delta_reader.py replays the
    _delta_log from the public protocol alone (zero shared code with
    the exporter) and materializes through DuckDB (a third engine).
    Exported contents must equal the txnlog snapshot for: a plain
    snapshot, a schema-evolved table, and a post-compact DV-folded
    table; txn appIds must survive."""
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from independent_delta_reader import read_delta_table

    from docker_aktin_dwh_spark.sources import delta_export

    def check(dest):
        cols, rows, txns = read_delta_table(dest)
        want = txnlog.read_table(spark, tdir).select(*cols).collect()
        want = sorted((tuple(r) for r in want), key=lambda r: tuple(
            (v is None, str(type(v)), v) for v in r))
        assert [tuple(r) for r in rows] == [tuple(r) for r in want], \
            f"independent reader disagrees at {dest}"
        return txns

    # 1. plain snapshot
    txnlog.create_table(spark, _mk(spark, 0, 80)
                        .repartitionByRange(2, "k"), tdir, key="k",)
    txnlog.append(spark, _mk(spark, 80, 100, tag="b"), tdir, key="k",
                  txn=("ind-app", 3))
    txns = check(delta_export.export_delta_log(tdir, tdir + "_d1"))
    assert txns.get("ind-app") == 3
    # 2. schema evolution: pre-evolution files NULL-fill via the
    # reader's union_by_name + logical projection
    txnlog.append(spark, _mk(spark, 100, 110).withColumn(
        "extra", F.lit("E")), tdir, key="k", evolve_schema=True)
    check(delta_export.export_delta_log(tdir, tdir + "_d2"))
    # 3. DVs folded by compact, then export
    txnlog.merge(spark, tdir, _mk(spark, 10, 20, tag="m"), key="k")
    if any(st.get("dv") for st in txnlog.snapshot(tdir).files.values()):
        txnlog.compact(spark, tdir, key="k")
    check(delta_export.export_delta_log(tdir, tdir + "_d3"))


def _body_delta_export_column_mapping(spark, tdir):
    """A RENAMED table exports with Delta columnMapping mode "name"
    (physicalName/id field metadata, protocol 2/5) and the independent
    reader resolves the indirection; an identity table keeps the base
    protocol 1/2."""
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from independent_delta_reader import read_delta_table

    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk3(spark, 0, 40), tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="val")
    txnlog.append(spark, _mk3(spark, 40, 50, tag="n")
                  .withColumnRenamed("v", "val"), tdir, key="k")
    dest = delta_export.export_delta_log(tdir, tdir + "_dm")
    log = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["configuration"]["delta.columnMapping.mode"] == "name"
    flds = json.loads(meta["schemaString"])["fields"]
    by_name = {f["name"]: f["metadata"] for f in flds}
    assert by_name["val"]["delta.columnMapping.physicalName"] == "v"
    ids = [f["metadata"]["delta.columnMapping.id"] for f in flds]
    assert sorted(ids) == list(range(1, len(flds) + 1))
    cols, rows, _ = read_delta_table(dest)
    assert cols == ["k", "val", "grp"]
    want = sorted((tuple(r) for r in
                   txnlog.read_table(spark, tdir).collect()),
                  key=lambda r: tuple((v is None, str(type(v)), v)
                                      for v in r))
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]


def test_file_stats_attributes_by_leaf_path(tmp_path):
    """Regression (r12): parquet row-group chunks enumerate LEAVES, so
    positional indexing against the arrow field list misattributes
    intervals once a struct/list column appears — z would inherit
    s.y's [20, 20] and a filter z = 100 would prune EVERY file (silent
    wrong answer).  Stats must key by path_in_schema, top-level
    primitives only, and the DataSource writer must use the same
    function."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docker_aktin_dwh_spark.sources import txnbatch

    t = pa.table({"a": [1, 2, 3],
                  "s": [{"x": 10, "y": 20}] * 3,
                  "emb": [[1.0, 2.0], [3.0], [4.0]],
                  "z": [100, 200, 300]})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p, row_group_size=2)
    st = txnlog._file_stats(p, "a")
    assert st["cols"]["z"] == [100, 300]
    assert st["cols"]["a"] == [1, 3]
    assert "s" not in st["cols"] and "emb" not in st["cols"], \
        "nested columns are unprunable, never misattributed"
    assert txnbatch.file_stats is txnlog._file_stats
    assert txnlog._interval_hit(st, "z", "=", 100)
    assert not txnlog._interval_hit(st, "z", ">", 300)
    assert txnlog._interval_hit(st, "s", "=", 5), \
        "un-stats'd column keeps the file"


# ------------------------------------------------------------ pooled run
# Each _body_* is an independent protocol scenario against its OWN
# table dir — latency-bound on small Spark jobs, not CPU — so a module
# fixture runs all bodies through a thread pool against the shared
# session (the test_streaming discipline; VERDICT r9 item 6's
# suite-time guard).  The monkeypatching tests (envelope pruning,
# schema-race injection) stay SERIAL above: patching module attrs
# would leak across pooled threads.

_TXN_BODIES = {
    name[len("_body_"):]: fn
    for name, fn in sorted(globals().items())
    if name.startswith("_body_")
}


@pytest.fixture(scope="module")
def txn_outcomes(spark, request, tmp_path_factory):
    from concurrent.futures import ThreadPoolExecutor

    selected: set[str] = set()
    for item in request.session.items:
        if getattr(item, "module", None) is not request.module:
            continue
        cs = getattr(item, "callspec", None)
        if cs is not None and "name" in cs.params:
            selected.add(cs.params["name"])
    todo = [n for n in _TXN_BODIES if n in selected] if selected \
        else list(_TXN_BODIES)
    dirs = {n: str(tmp_path_factory.mktemp(f"txn_{n}"[:40]) / "tbl")
            for n in todo}

    def run(name):
        try:
            _TXN_BODIES[name](spark, dirs[name])
            return None
        except BaseException as e:      # re-raised by the test
            return e

    with ThreadPoolExecutor(max_workers=16) as ex:
        return dict(zip(todo, ex.map(run, todo)))


@pytest.mark.parametrize("name", list(_TXN_BODIES))
def test_txnlog(txn_outcomes, name):
    err = txn_outcomes[name]
    if err is not None:
        raise err


def test_claim_backend_seam_serializes_writers(spark, tmp_path):
    """The object-store coordination seam (set_claim_backend): a
    NON-LINK backend with conditional-put semantics (external
    coordinator stand-in: mutex + exists-check + plain copy — nothing
    relies on POSIX link atomicity) must drive the identical protocol:
    racing appends both commit at distinct versions, conflicting
    merges serialize, reads see exactly the committed state.  SERIAL
    test (the backend is module-global)."""
    import shutil as _sh
    import threading as _th

    tdir = str(tmp_path / "tbl")
    coord = _th.Lock()          # the "external coordinator"

    def conditional_put(tmp, target):
        with coord:
            if os.path.exists(target):
                return False    # lost: another writer holds the slot
            _sh.copyfile(tmp, target)   # plain PUT under the lock
            return True

    txnlog.set_claim_backend(conditional_put)
    try:
        txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
        errs = []

        def add(lo, hi):
            try:
                txnlog.append(spark, _mk(spark, lo, hi), tdir, key="k")
            except Exception as e:      # pragma: no cover
                errs.append(e)

        ts = [_th.Thread(target=add, args=(100, 130)),
              _th.Thread(target=add, args=(200, 230))]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert not errs
        txnlog.merge(spark, tdir, _mk(spark, 0, 10, tag="m"), key="k")
        got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
        assert len(got) == 110 and got[5] == "m5" and got[205] == "a205"
        assert txnlog.snapshot(tdir).version == 3
    finally:
        txnlog.set_claim_backend(None)


def test_append_race_refuses_silent_widening(spark, tdir, monkeypatch):
    """ADVICE r13: an append (evolve_schema=False) that loses its
    version race to a concurrent drop_column removing a logical name
    the frame carries must RAISE, not silently commit a widened
    schema that re-adds the dropped column under a fresh physical
    name — Delta fails this as a concurrent-metadata conflict."""
    base = _mk(spark, 0, 10).withColumn("extra", F.lit(1))
    txnlog.create_table(spark, base, tdir, key="k")
    real = txnlog._try_commit
    state = {"injected": False}

    def racing(path, version, payload):
        if not state["injected"] and payload.get("op") == "append":
            state["injected"] = True
            txnlog.drop_column(spark, tdir, column="extra")
        return real(path, version, payload)

    monkeypatch.setattr(txnlog, "_try_commit", racing)
    mine = _mk(spark, 100, 110, tag="m").withColumn("extra", F.lit(2))
    with pytest.raises(txnlog.CommitConflictError,
                       match="concurrent schema change"):
        txnlog.append(spark, mine, tdir, key="k")
    # the drop stands, the append landed nothing, schema stays narrow
    got = txnlog.read_table(spark, tdir)
    assert [f.name for f in got.schema.fields] == ["k", "v"]
    assert got.count() == 10


def test_set_constraint_race_revalidates_after_schema_change(
        spark, tdir, monkeypatch):
    """ADVICE r13: set_constraint's re-validation skip must key on the
    SCHEMA too — a concurrent drop_column between validation and claim
    leaves file state unchanged, so a rows/DV-only key would skip
    re-validation and record a constraint referencing a column that no
    longer exists, poisoning every subsequent write."""
    base = _mk(spark, 0, 10).withColumn("extra", F.lit(1))
    txnlog.create_table(spark, base, tdir, key="k")
    real = txnlog._try_commit
    state = {"injected": False}

    def racing(path, version, payload):
        if not state["injected"] \
                and payload.get("op") == "set_constraint":
            state["injected"] = True
            txnlog.drop_column(spark, tdir, column="extra")
        return real(path, version, payload)

    monkeypatch.setattr(txnlog, "_try_commit", racing)
    with pytest.raises(Exception) as ei:
        txnlog.set_constraint(spark, tdir, name="extra_pos",
                              expr="extra > 0")
    assert "extra" in str(ei.value)
    # the poisoned constraint was never recorded; writes still work
    snap = txnlog.snapshot(tdir)
    assert "extra_pos" not in snap.constraints
    txnlog.append(spark, _mk(spark, 100, 105, tag="m"), tdir, key="k")
    assert txnlog.read_table(spark, tdir).count() == 15


def test_legacy_checkpoint_without_key_recovers_from_create(
        spark, tdir):
    """ADVICE r13: a checkpoint written before the key/colmap fields
    existed must not reset snap.key to None — snapshot() falls back to
    the retained create commit, keeping drop_column's merge-key guard
    armed."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    for i in range(10):          # force a periodic checkpoint at v10
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 105 + 10 * i,
                                 tag=f"t{i}"), tdir, key="k")
    log = txnlog._log_dir(tdir)
    ckpt = os.path.join(log, txnlog._ckpt_name(10))
    assert os.path.exists(ckpt)
    with open(ckpt) as f:
        ck = json.load(f)
    del ck["key"], ck["colmap"]          # simulate the legacy shape
    with open(ckpt, "w") as f:
        json.dump(ck, f)
    snap = txnlog.snapshot(tdir)
    assert snap.key == "k"
    with pytest.raises(ValueError, match="merge key"):
        txnlog.drop_column(spark, tdir, column="k")


def test_legacy_checkpoint_txnbatch_replay_matches(spark, tdir):
    """ADVICE r14: the DataSource writer's replay must apply the SAME
    pre-r13-checkpoint key/colmap recovery as txnlog.snapshot —
    otherwise it stages logical-named files into a physically-mapped
    layout.  Both now run logcore.replay."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    txnlog.rename_column(spark, tdir, old="v", new="w")  # logs colmap
    for i in range(9):           # periodic checkpoint lands at v10
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 105 + 10 * i,
                                 tag=f"t{i}")
                      .withColumnRenamed("v", "w"), tdir, key="k")
    log = txnlog._log_dir(tdir)
    ckpt = os.path.join(log, txnlog._ckpt_name(10))
    assert os.path.exists(ckpt)
    with open(ckpt) as f:
        ck = json.load(f)
    del ck["key"], ck["colmap"]          # simulate the legacy shape
    with open(ckpt, "w") as f:
        json.dump(ck, f)
    snap = txnlog.snapshot(tdir)
    assert snap.key == "k" and snap.colmap == {"k": "k", "w": "v"}
    meta = txnbatch._meta(tdir, None)
    assert meta.key == snap.key
    assert meta.colmap == snap.colmap


# ------------------------------------------------ partitioned tables (r14)

def _mkp(spark, lo, hi, tag="a", nparts=4):
    return (spark.range(lo, hi).coalesce(2).select(
        F.col("id").alias("k"),
        (F.col("id") % nparts).cast("int").alias("region"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v")))


def test_merge_refuses_missing_partition_column_on_every_arm(spark,
                                                              tdir):
    """ADVICE r16: a MERGE batch missing a partition column raised only
    when the DV arm folded no file; with a fold, the union NULL-filled
    the column and wrote the batch into the null partition.  Every arm
    now refuses before anything is staged."""
    txnlog.create_table(spark, _mkp(spark, 0, 100), tdir, key="k",
                        partition_by=["region"])

    def narrow(lo, hi, step):
        return spark.range(lo, hi, step).coalesce(1).select(
            F.col("id").alias("k"), F.lit("x").alias("v"))

    # every region-0 key: the DV arm folds those files (their whole
    # rows are dead); keys of no existing row: nothing is folded
    for batch in (narrow(0, 100, 4), narrow(1000, 1004, 1)):
        with pytest.raises(ValueError, match="omits partition column"):
            txnlog.merge(spark, tdir, batch, key="k")
    assert txnlog.snapshot(tdir).version == 0
    assert txnlog.read_table(spark, tdir).count() == 100


def test_partitioned_create_read_prune(spark, tdir):
    """r14: partitioned create_table lays files out in hive dirs, logs
    per-file partition values, and a partition filter prunes the read
    to exactly the matching files (plan-asserted via inputFiles)."""
    snap = txnlog.create_table(spark, _mkp(spark, 0, 100), tdir,
                               key="k", partition_by=["region"])
    assert snap.partition_by == ["region"]
    assert all("/" in n and n.split("/")[0].startswith("region=")
               for n in snap.files)
    assert all((s.get("pv") or {}).get("region") is not None
               for s in snap.files.values())
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 100
    # LOGGED order, not Spark's partition-cols-last scan order
    assert [f.name for f in got.schema.fields] == ["k", "region", "v"]
    # partition pruning: control-plane file selection, then the scan
    # reads ONLY those files
    keep = txnlog.prune_files(snap, [("region", "=", 2)])
    assert keep and all(n.startswith("region=2/") for n in keep)
    pruned = txnlog.read_table(spark, tdir,
                               filters=[("region", "=", 2)])
    assert len(pruned.inputFiles()) == len(keep)
    assert pruned.filter("region = 2").count() == 25
    # partition values survive the round trip typed (int, not string)
    assert {r.region for r in pruned.select("region").distinct()
            .collect()} == {2, 0, 1, 3} - {0, 1, 3} | {2} - {0}


def test_partitioned_merge_scoped_and_race_disjoint(spark, tdir,
                                                    monkeypatch):
    """r14, the serializability claim: a partition-scoped merge that
    loses its version race to an append in a DIFFERENT partition with
    OVERLAPPING key range must commit WITHOUT re-staging (partition
    disjointness, not key disjointness, is what scopes the conflict);
    and a batch row outside the declared scope raises."""
    txnlog.create_table(spark, _mkp(spark, 0, 400), tdir, key="k",
                        partition_by=["region"])
    # contract violation: batch carries region 1 under a region-2 scope
    bad = _mkp(spark, 0, 10, tag="b")
    with pytest.raises(ValueError, match="outside partition_filter"):
        txnlog.merge(spark, tdir, bad, key="k",
                     partition_filter={"region": 2})

    stages = {"n": 0}
    real_stage = txnlog._stage_data_files

    def counting_stage(*a, **kw):
        stages["n"] += 1
        return real_stage(*a, **kw)

    real_commit = txnlog._try_commit
    state = {"interfered": False}

    def interfering_commit(path, version, payload):
        if payload.get("op") == "merge" and not state["interfered"]:
            state["interfered"] = True
            # an append into region 0 with keys INSIDE the merge's key
            # envelope steals the version — partition-disjoint, so the
            # staged merge output stays valid verbatim
            other = (spark.range(0, 20).coalesce(1).select(
                (F.col("id") * 4).alias("k"),
                F.lit(0).cast("int").alias("region"),
                F.concat(F.lit("x"), (F.col("id") * 4).cast("string"))
                 .alias("v")))
            txnlog.merge(spark, tdir, other, key="k",
                         partition_filter={"region": 0})
            return real_commit(path, version, payload)
        return real_commit(path, version, payload)

    monkeypatch.setattr(txnlog, "_stage_data_files", counting_stage)
    monkeypatch.setattr(txnlog, "_try_commit", interfering_commit)
    mine = (spark.range(0, 20).coalesce(1).select(
        (F.col("id") * 4 + 2).alias("k"),
        F.lit(2).cast("int").alias("region"),
        F.concat(F.lit("m"), (F.col("id") * 4 + 2).cast("string"))
         .alias("v")))
    txnlog.merge(spark, tdir, mine, key="k",
                 partition_filter={"region": 2})
    assert stages["n"] == 2, (
        f"partition-disjoint race must reuse staged files (got "
        f"{stages['n']} staging rounds)")
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 400
    assert got[2] == "m2" and got[4] == "x4" and got[1] == "a1"


def test_partitioned_drop_partition_cdc_timetravel_vacuum(spark, tdir):
    """r14 retention fast path: drop_partition is metadata-only, CDC
    classifies its rows as deletes, time travel below it still sees
    the partition, restore resurrects it, and vacuum reclaims the
    bytes and the emptied directory after retention."""
    txnlog.create_table(spark, _mkp(spark, 0, 80), tdir, key="k",
                        partition_by=["region"])
    txnlog.append(spark, _mkp(spark, 100, 120, tag="b"), tdir, key="k")
    v_before = txnlog.snapshot(tdir).version
    snap = txnlog.drop_partition(spark, tdir, values={"region": 3})
    assert snap.version == v_before + 1
    assert txnlog.read_table(spark, tdir).filter(
        "region = 3").count() == 0
    assert txnlog.read_table(spark, tdir).count() == 75
    # CDC: exactly the dropped partition's rows, all deletes
    tc = txnlog.table_changes(spark, tdir, v_before, snap.version,
                              key="k")
    rows = tc.collect()
    assert len(rows) == 25
    assert all(r.change_type == "delete" and r.region == 3
               for r in rows)
    # time travel below the drop
    assert txnlog.read_table(spark, tdir, version=v_before).filter(
        "region = 3").count() == 25
    # restore resurrects the partition by log reference
    txnlog.restore(spark, tdir, version=v_before)
    assert txnlog.read_table(spark, tdir).count() == 100
    # drop again, move on, truncate history past it, vacuum reclaims
    # (one more commit so the cutoff checkpoint lands ABOVE the drop —
    # the checkpoint is the replay base and must not pin the bytes)
    snap2 = txnlog.drop_partition(spark, tdir, values={"region": 3})
    filler = (spark.range(200, 204).coalesce(1).select(
        F.col("id").alias("k"), F.lit(0).cast("int").alias("region"),
        F.col("id").cast("string").alias("v")))
    txnlog.append(spark, filler, tdir, key="k")
    got = txnlog.truncate_history(tdir, keep_last=1,
                                  retention_seconds=0)
    assert any(n.startswith("region=3/") for n in got["removed_files"])
    assert not os.path.exists(os.path.join(tdir, "region=3"))
    assert txnlog.read_table(spark, tdir).count() == 79
    # a second drop on an empty partition is a no-op (no new commit)
    v_now = txnlog.snapshot(tdir).version
    assert v_now > snap2.version
    assert txnlog.drop_partition(
        spark, tdir, values={"region": 3}).version == v_now


def test_partitioned_alter_refusals_and_dv(spark, tdir):
    """r14: partition columns refuse rename/drop/widen (their names
    and values are baked into directory paths); merge-on-read DVs
    work inside partition dirs (basename-keyed)."""
    txnlog.create_table(spark, _mkp(spark, 0, 100), tdir, key="k",
                        partition_by=["region"])
    with pytest.raises(ValueError, match="partition column"):
        txnlog.rename_column(spark, tdir, old="region", new="r2")
    with pytest.raises(ValueError, match="partition column"):
        txnlog.drop_column(spark, tdir, column="region")
    with pytest.raises(ValueError, match="partition column"):
        txnlog.widen_column_type(spark, tdir, column="region",
                                 to="long")
    # sparse delete: DV, no rewrite of partition files
    snap = txnlog.delete_range(spark, tdir, key="k", lo=8, hi=10)
    assert any(s.get("dv") for s in snap.files.values())
    assert txnlog.read_table(spark, tdir).count() == 98
    assert txnlog.read_table(spark, tdir).filter(
        "k in (8, 9)").count() == 0
    # merge key may BE a partition column: stats fall back to pv
    t2 = tdir + "_bykey"
    txnlog.create_table(
        spark, _mkp(spark, 0, 40), t2, key="region",
        partition_by=["region"])
    s2 = txnlog.snapshot(t2)
    assert all(s["kmin"] == s["kmax"] ==
               int(s["pv"]["region"]) for s in s2.files.values())


def test_partitioned_null_and_string_values(spark, tdir):
    """r14: NULL and special-character partition values roundtrip
    (hive escaping), NULL partitions prune under any comparison."""
    df = spark.createDataFrame(
        [(1, "x y", "a"), (2, "p=q%r", "b"), (3, None, "c")],
        "k long, cat string, v string").coalesce(1)
    snap = txnlog.create_table(spark, df, tdir, key="k",
                               partition_by=["cat"])
    got = {r.k: r.cat for r in txnlog.read_table(spark, tdir).collect()}
    assert got == {1: "x y", 2: "p=q%r", 3: None}
    keep = txnlog.prune_files(snap, [("cat", "=", "x y")])
    assert len(keep) == 1 and keep[0].startswith("cat=x")
    # NULL partition satisfies no equality: pruned everywhere
    assert not any("HIVE_DEFAULT" in n for n in keep)
    # clone carries the layout
    dest = tdir + "_clone"
    csnap = txnlog.clone_table(tdir, dest)
    assert csnap.partition_by == ["cat"]
    assert txnlog.read_table(spark, dest).count() == 3


# -------------------------------------------- delta export, r14 arms

def _ind_reader():
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from independent_delta_reader import read_delta_table
    return read_delta_table


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple((v is None, str(type(v)), v)
                                      for v in r))


def test_delta_export_deletion_vectors(spark, tdir):
    """r14 (VERDICT r13 item 3): a snapshot with LIVE deletion vectors
    exports without compacting — the run-length DVs serialize to
    Delta's inline roaring-bitmap form (storageType 'i', Z85), the
    protocol declares the deletionVectors feature, and the independent
    reader's second bitmap-decode implementation masks the dead rows
    to exactly txnlog's own view."""
    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(4, "k"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 10, 25, tag="m"), key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=390, hi=395)
    snap = txnlog.snapshot(tdir)
    dvd = [n for n, st in snap.files.items() if st.get("dv")]
    assert dvd, "precondition: live DVs exist"
    dest = delta_export.export_delta_log(tdir, tdir + "_dv")
    log = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 3 \
        and proto["minWriterVersion"] == 7 \
        and "deletionVectors" in proto["readerFeatures"]
    adds = [a["add"] for a in actions if "add" in a]
    with_dv = [a for a in adds if a.get("deletionVector")]
    assert len(with_dv) == len(dvd)
    for a in with_dv:
        d = a["deletionVector"]
        assert d["storageType"] == "i" and d["cardinality"] > 0
        assert len(d["pathOrInlineDv"]) % 5 == 0
        assert json.loads(a["stats"])["tightBounds"] is False
    cols, rows, _ = _ind_reader()(dest)
    want = _sorted_rows(txnlog.read_table(spark, tdir).select(*cols))
    assert [tuple(r) for r in rows] == [tuple(r) for r in want], \
        "independent DV decode must mask exactly txnlog's dead rows"


def test_delta_export_remove_carries_superseded_dv(spark, tdir):
    """ADVICE r14: Delta log reconciliation keys file actions by
    (path, dvId) — when a file's DV changes a SECOND time between
    exported versions, the remove superseding the old add must carry
    the OLD add's deletionVector descriptor, byte-identical, or
    spec-compliant readers keep both adds live and see duplicate
    rows."""
    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(4, "k"), tdir, key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=5, hi=8)
    txnlog.delete_range(spark, tdir, key="k", lo=20, hi=23)
    dest = delta_export.export_delta_history(tdir, tdir + "_rdv")
    log_dir = os.path.join(dest, "_delta_log")

    def commit(v):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            return [json.loads(line) for line in f]

    adds1 = {a["add"]["path"]: a["add"] for a in commit(1)
             if "add" in a}
    dvd = [p for p, a in adds1.items() if a.get("deletionVector")]
    assert len(dvd) == 1, "precondition: one file DV'd at v1"
    removes1 = [a["remove"] for a in commit(1) if "remove" in a]
    # v0→v1: the file had NO DV before, so its remove carries none
    assert all("deletionVector" not in r for r in removes1
               if r["path"] == dvd[0])
    removes2 = {a["remove"]["path"]: a["remove"] for a in commit(2)
                if "remove" in a}
    assert dvd[0] in removes2, "DV growth must re-emit remove+add"
    assert removes2[dvd[0]].get("deletionVector") \
        == adds1[dvd[0]]["deletionVector"], \
        "remove must carry the superseded add's exact DV descriptor"
    # the reader still sees exactly txnlog's live rows
    cols, rows, _ = _ind_reader()(dest)
    want = _sorted_rows(txnlog.read_table(spark, tdir).select(*cols))
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]


def test_truncation_never_frees_version_numbers(spark, tdir):
    """r15 (found by the serializability lane's vacuum verb): dropping
    a commit FILE must not make its version number claimable again — a
    writer stalled since before the truncation would otherwise
    resurrect a version below the cutoff checkpoint with state derived
    against ancient history, and the direct replay of that version is
    inconsistent (KeyError on its dv action).  Two guards: (1)
    truncate_history refuses to drop versions younger than
    retention_seconds; (2) _try_commit refuses any claim at or below
    the newest checkpoint."""
    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    for i in range(14):
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 105 + 10 * i,
                                 tag=f"t{i}"), tdir, key="k")
    # guard 1: young versions never drop, regardless of keep_last
    r = txnlog.truncate_history(tdir, keep_last=5,
                                retention_seconds=3600.0)
    assert r["dropped_versions"] == 0
    assert txnlog._list_versions(tdir)[0] == 0
    # aged-out history drops (retention 0 = everything is old enough)
    r = txnlog.truncate_history(tdir, keep_last=5,
                                retention_seconds=0.0)
    assert r["dropped_versions"] == 10
    versions = txnlog._list_versions(tdir)
    assert versions[0] == 10
    # guard 2: a stalled writer's claim at a dropped number REFUSES —
    # the number space below the cutoff checkpoint stays sealed
    assert not txnlog._try_commit(
        tdir, 2, {"op": "append", "add": [], "remove": []})
    assert not os.path.exists(os.path.join(
        txnlog._log_dir(tdir), txnlog._commit_name(2)))
    # guard 3 (r15 post-review): the truncation floor is re-checked
    # AFTER a won link — simulate a truncate landing inside the claim
    # window (pre-check saw no floor, post-check sees it) and assert
    # the writer self-reverts instead of resurrecting the number
    import unittest.mock as _mock
    from docker_aktin_dwh_spark.sources import logcore
    real_floor = logcore.truncated_floor
    calls = {"n": 0}

    def raced(path):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real_floor(path)

    with _mock.patch.object(logcore, "truncated_floor",
                            side_effect=raced):
        assert not txnlog._try_commit(
            tdir, 3, {"op": "append", "add": [], "remove": []})
    assert calls["n"] >= 2
    assert not os.path.exists(os.path.join(
        txnlog._log_dir(tdir), txnlog._commit_name(3)))
    # honest claims above the checkpoint still work
    txnlog.append(spark, _mk(spark, 900, 905, tag="z"), tdir, key="k")
    assert txnlog.read_table(spark, tdir).count() == 125
    # replay of every retained version stays consistent
    for v in txnlog._list_versions(tdir):
        s = txnlog.snapshot(tdir, v)
        meta = sum(st["rows"] - txnlog._ranges_count(st.get("dv")
                                                     or [])
                   for st in s.files.values())
        assert txnlog.read_table(spark, tdir, v).count() == meta


def test_partitioned_mirror_writer_edges(spark, tdir):
    """r15 partitioned DataSource writer edges: merge key AS a
    partition column gets partition-borne kmin/kmax (merge skipping
    works on the written files), null + special-char partition values
    round-trip, a frame omitting the partition column refuses, and the
    exactly-once STREAMING sink stages hive layouts too."""
    from docker_aktin_dwh_spark.sources import txnbatch

    txnbatch.register(spark)
    df = spark.createDataFrame(
        [(0, "x y", "a"), (1, "p=q%r", "b"), (2, None, "c")],
        "k long, cat string, v string").coalesce(1)
    txnlog.create_table(spark, df, tdir, key="cat",
                        partition_by=["cat"])
    more = spark.createDataFrame(
        [(10, "x y", "d"), (11, "new cat", "e")],
        "k long, cat string, v string").coalesce(1)
    (more.write.format("txnlog").option("path", tdir)
     .option("key", "cat").mode("append").save())
    snap = txnlog.snapshot(tdir)
    fresh = {n: s for n, s in snap.files.items()
             if "/p-w-" in n}
    assert fresh, "writer-staged files land under hive dirs"
    for s in fresh.values():
        assert s["kmin"] == s["kmax"] \
            and s["kmin"] in ("x y", "new cat"), \
            "partition-key bounds come from the partition value"
    got = {(r.k, r.cat) for r in
           txnlog.read_table(spark, tdir).collect()}
    assert got == {(0, "x y"), (1, "p=q%r"), (2, None),
                   (10, "x y"), (11, "new cat")}
    keep = txnlog.prune_files(snap, [("cat", "=", "new cat")])
    assert len(keep) == 1
    with pytest.raises(Exception, match="omits partition"):
        (spark.createDataFrame([(5, "z")], "k long, v string")
         .coalesce(1).write.format("txnlog").option("path", tdir)
         .mode("append").save())
    # streaming sink on a partitioned table (exactly-once txn + hive
    # staging through the same base)
    src = os.path.join(os.path.dirname(tdir), "pm_src")
    ck = os.path.join(os.path.dirname(tdir), "pm_ck")
    (spark.createDataFrame([(20, "x y", "s0"), (21, None, "s1")],
                           "k long, cat string, v string")
     .coalesce(1).write.mode("overwrite").parquet(src))
    q = (spark.readStream.schema("k long, cat string, v string")
         .parquet(src)
         .writeStream.format("txnlog").option("path", tdir)
         .option("txnAppId", "pm-app")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert txnlog.read_table(spark, tdir).count() == 7
    s2 = txnlog.snapshot(tdir)
    assert s2.txns.get("pm-app") == 0
    assert all((s.get("pv") or {}).get("cat") is not None
               or n.split("/")[0].endswith("__HIVE_DEFAULT_PARTITION__")
               for n, s in s2.files.items() if "/p-w-" in n)


def test_delta_export_on_disk_dv(spark, tdir):
    """r15 (VERDICT r14 item 3): a DV whose serialized bitmap exceeds
    the inline threshold exports as an on-disk DV file — storageType
    "u", Z85-encoded UUID in pathOrInlineDv, offset=1 past the 1-byte
    format version, big-endian size framing and CRC-32 — and the
    independent reader's file arm + checksum verify reads it back to
    exactly txnlog's live rows.  The scattered (non-run-compressible)
    delete pattern makes the size threshold trip ORGANICALLY."""
    import zlib

    from docker_aktin_dwh_spark.sources import delta_export

    df = (spark.range(0, 2000).coalesce(1).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("parity"),
        F.concat(F.lit("a"), F.col("id").cast("string")).alias("v")))
    txnlog.create_table(spark, df, tdir, key="k")
    txnlog.delete_where(spark, tdir, key="k",
                        filters=[("parity", "=", 0)])
    snap = txnlog.snapshot(tdir)
    assert any(s.get("dv") for s in snap.files.values()), \
        "precondition: a 1/3 scattered delete stays merge-on-read"
    dest = delta_export.export_delta_log(tdir, tdir + "_u")
    log = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    dvs = [a["add"]["deletionVector"] for a in actions
           if "add" in a and a["add"].get("deletionVector")]
    assert dvs and all(d["storageType"] == "u" for d in dvs), \
        "a 667-row scattered DV must exceed DV_INLINE_MAX"
    for d in dvs:
        assert len(d["pathOrInlineDv"]) == 20 and d["offset"] == 1
        assert d["sizeInBytes"] > delta_export.DV_INLINE_MAX
        import uuid as _uuid
        raw = d["pathOrInlineDv"]
        ub = b""
        for i in range(0, 20, 5):
            val = 0
            for c in raw[i:i + 5]:
                val = val * 85 + delta_export._Z85.index(c)
            ub += val.to_bytes(4, "big")
        u = _uuid.UUID(bytes=ub)
        fp = os.path.join(dest, f"deletion_vector_{u}.bin")
        assert os.path.exists(fp)
        blob = open(fp, "rb").read()
        assert blob[0] == 1                     # format version byte
        import struct as _struct
        (size,) = _struct.unpack_from(">i", blob, 1)
        assert size == d["sizeInBytes"]
        body = blob[5:5 + size]
        (crc,) = _struct.unpack_from(">I", blob, 5 + size)
        assert crc == zlib.crc32(body)
    cols, rows, _ = _ind_reader()(dest)
    want = _sorted_rows(txnlog.read_table(spark, tdir).select(*cols))
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]
    # corrupting the DV file must fail the checksum, not mis-decode
    with open(fp, "r+b") as f:
        f.seek(9)
        b = f.read(1)
        f.seek(9)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(ValueError, match="checksum"):
        _ind_reader()(dest)


def test_delta_export_history_on_disk_dv_descriptor_reuse(spark, tdir):
    """r15: with on-disk DVs the descriptor carries a random UUID — the
    history exporter must re-emit the SAME descriptor (same uuid) in
    the remove superseding a DV'd add and in checkpoint state, or
    (path, dvId) reconciliation breaks.  Forced via dv_inline_max=0 so
    even tiny DVs take the file path."""
    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(4, "k"), tdir, key="k")
    txnlog.delete_range(spark, tdir, key="k", lo=5, hi=8)
    txnlog.delete_range(spark, tdir, key="k", lo=20, hi=23)
    for i in range(4):
        txnlog.append(spark, _mk(spark, 1000 + 10 * i, 1005 + 10 * i,
                                 tag=f"t{i}"), tdir, key="k")
    dest = delta_export.export_delta_history(
        tdir, tdir + "_hu", checkpoint_every=5, dv_inline_max=0)
    log_dir = os.path.join(dest, "_delta_log")

    def commit(v):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            return [json.loads(line) for line in f]

    adds1 = {a["add"]["path"]: a["add"] for a in commit(1)
             if "add" in a}
    dvd = [p for p, a in adds1.items() if a.get("deletionVector")]
    assert len(dvd) == 1
    assert adds1[dvd[0]]["deletionVector"]["storageType"] == "u"
    removes2 = {a["remove"]["path"]: a["remove"] for a in commit(2)
                if "remove" in a}
    assert removes2[dvd[0]]["deletionVector"] \
        == adds1[dvd[0]]["deletionVector"], \
        "on-disk DV descriptor (incl. uuid) must be reused verbatim"
    rd = _ind_reader()
    cols_c, rows_c, _ = rd(dest, from_checkpoint=True)
    cols_f, rows_f, _ = rd(dest, from_checkpoint=False)
    assert cols_c == cols_f and rows_c == rows_f
    want = _sorted_rows(txnlog.read_table(spark, tdir).select(*cols_c))
    assert [tuple(r) for r in rows_c] == [tuple(r) for r in want]
    # per-version time travel across the growing on-disk DV
    for dv_ver, txn_ver in ((1, 1), (2, 2)):
        cols_v, rows_v, _ = rd(dest, version=dv_ver)
        want_v = _sorted_rows(
            txnlog.read_table(spark, tdir, version=txn_ver)
            .select(*cols_v))
        assert [tuple(r) for r in rows_v] == [tuple(r) for r in want_v]


def test_update_where_assignments_see_pre_update_row(spark, tdir):
    """ADVICE r14: all SET assignments evaluate against the PRE-update
    row at once (SQL/Delta UPDATE semantics) — {'a': b, 'b': a} swaps
    instead of copying b into both."""
    df = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40), (3, 50, 60)],
        "k long, a long, b long").coalesce(1)
    txnlog.create_table(spark, df, tdir, key="k")
    txnlog.update_where(spark, tdir, key="k",
                        filters=[("k", "<=", 2)],
                        assignments={"a": F.col("b"),
                                     "b": F.col("a")})
    got = {r.k: (r.a, r.b)
           for r in txnlog.read_table(spark, tdir).collect()}
    assert got == {1: (20, 10), 2: (40, 30), 3: (50, 60)}
    # string-expression assignments get the same one-projection view
    txnlog.update_where(spark, tdir, key="k",
                        filters=[("k", "=", 3)],
                        assignments={"a": "a + b", "b": "a - b"})
    got = {r.k: (r.a, r.b)
           for r in txnlog.read_table(spark, tdir).collect()}
    assert got[3] == (110, -10)


def test_delta_export_history_and_checkpoint(spark, tdir):
    """r14 (VERDICT r13 item 5): export_delta_history writes one Delta
    commit per retained txnlog version plus N.checkpoint.parquet +
    _last_checkpoint every 10 commits; the independent reader seeded
    from the checkpoint must equal its own full JSON replay AND
    txnlog's snapshot."""
    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    for i in range(22):
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 105 + 10 * i,
                                 tag=f"t{i}"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 0, 5, tag="m"), key="k")
    txnlog.append(spark, _mk(spark, 900, 905, tag="z")
                  .withColumn("extra", F.lit(1)), tdir, key="k",
                  evolve_schema=True)
    dest = delta_export.export_delta_history(tdir, tdir + "_h")
    log_dir = os.path.join(dest, "_delta_log")
    names = set(os.listdir(log_dir))
    n_versions = len(txnlog._list_versions(tdir))
    assert f"{n_versions - 1:020d}.json" in names
    assert f"{10:020d}.checkpoint.parquet" in names
    assert f"{20:020d}.checkpoint.parquet" in names
    assert "_last_checkpoint" in names
    with open(os.path.join(log_dir, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 20
    rd = _ind_reader()
    cols_c, rows_c, txns_c = rd(dest, from_checkpoint=True)
    cols_f, rows_f, txns_f = rd(dest, from_checkpoint=False)
    assert cols_c == cols_f and rows_c == rows_f, \
        "checkpoint seed and full replay must agree"
    want = _sorted_rows(txnlog.read_table(spark, tdir).select(*cols_c))
    assert [tuple(r) for r in rows_c] == [tuple(r) for r in want]


def test_delta_export_partitioned(spark, tdir):
    """r14: a hive-partitioned txnlog table exports with real
    partitionValues maps (null marker -> JSON null, escapes decoded)
    and metaData.partitionColumns; the independent reader injects the
    partition constants typed by the schema."""
    from docker_aktin_dwh_spark.sources import delta_export

    df = spark.createDataFrame(
        [(1, "x y", "a"), (2, "x y", "b"), (3, "p=q%r", "c"),
         (4, None, "d")],
        "k long, cat string, v string").coalesce(1)
    txnlog.create_table(spark, df, tdir, key="k",
                        partition_by=["cat"])
    dest = delta_export.export_delta_log(tdir, tdir + "_p")
    log = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["partitionColumns"] == ["cat"]
    adds = [a["add"] for a in actions if "add" in a]
    pvs = {tuple(sorted(a["partitionValues"].items())) for a in adds}
    assert ("cat", "x y") in {p for pv in pvs for p in pv}
    assert ("cat", None) in {p for pv in pvs for p in pv}
    assert ("cat", "p=q%r") in {p for pv in pvs for p in pv}
    cols, rows, _ = _ind_reader()(dest)
    want = _sorted_rows(txnlog.read_table(spark, tdir).select(*cols))
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]


def test_partitioned_datasource_mirrors(spark, tdir):
    """r14: the three self-contained DataSource mirrors handle
    partitioned tables — the batch reader surfaces partition columns
    as typed constants (equality vs txnlog.read_table), its
    file-skipping pushdown prunes whole partitions, the writer
    REFUSES (flat staging would break the hive layout), the streaming
    tail source and the CDC feed both reconstruct partition values."""
    from docker_aktin_dwh_spark.sources import cdcstream, txnbatch

    txnlog.create_table(spark, _mkp(spark, 0, 80), tdir, key="k",
                        partition_by=["region"])
    txnlog.merge(spark, tdir,
                 (spark.range(0, 10).coalesce(1).select(
                     (F.col("id") * 4 + 1).alias("k"),
                     F.lit(1).cast("int").alias("region"),
                     F.concat(F.lit("m"), (F.col("id") * 4 + 1)
                              .cast("string")).alias("v"))),
                 key="k", partition_filter={"region": 1})
    txnbatch.register(spark)
    ds = (spark.read.format("txnlog").option("path", tdir).load())
    native = txnlog.read_table(spark, tdir)
    assert ds.schema == native.schema
    assert ds.exceptAll(native).count() == 0
    assert native.exceptAll(ds).count() == 0
    # partition pruning through the pushdown arm: region = 2 keeps
    # only that partition's files
    pruned = (spark.read.format("txnlog").option("path", tdir)
              .option("dataSkipping", "true").load()
              .filter("region = 2"))
    n_files = len({r[0] for r in pruned.select(
        F.input_file_name()).distinct().collect()} - {""})
    snap = txnlog.snapshot(tdir)
    n_r2 = sum(1 for n in snap.files if n.startswith("region=2/"))
    assert pruned.count() == 20
    if n_files:                     # input_file_name may be opaque
        assert n_files <= n_r2      # for python datasources; never
        # MORE files than the partition holds
    # r15 (VERDICT r14 item 4): the writer mirror stages hive layouts
    # — df.write.format("txnlog") appends to the partitioned table
    # with per-file partition values, at parity with txnlog.append
    pre = txnlog.snapshot(tdir)
    twin = tdir + "_twin"
    txnlog.clone_table(tdir, twin)          # same pre-state
    batch = _mkp(spark, 900, 910)
    (batch.write.format("txnlog")
     .option("path", tdir).option("key", "k").mode("append")
     .save())
    txnlog.append(spark, batch, twin, key="k")   # the native verb
    post = txnlog.snapshot(tdir)
    fresh = {n: s for n, s in post.files.items()
             if n not in pre.files}
    assert fresh and all("/" in n and n.split("/")[0]
                         .startswith("region=") for n in fresh)
    assert all((s.get("pv") or {}).get("region") is not None
               for s in fresh.values())
    assert txnlog.read_table(spark, tdir).count() == 90
    assert txnlog.read_table(
        spark, tdir, filters=[("k", ">=", 900)]).count() == 10
    # parity: DataSource append ≡ txnlog.append, rows AND pruning
    assert _sorted_rows(txnlog.read_table(spark, tdir)) \
        == _sorted_rows(txnlog.read_table(spark, twin))
    keep = txnlog.prune_files(post, [("region", "=", 2)])
    assert keep and all(n.startswith("region=2/") for n in keep)
    # CDC stream source over the partitioned history: partition
    # values reconstruct from the file paths
    cdcstream.register(spark)
    base = os.path.dirname(tdir)
    rows = []
    q = (spark.readStream.format("txnlog_cdc")
         .option("path", tdir).option("key", "k").load()
         .writeStream.foreachBatch(
             lambda df, _b: rows.extend(df.collect()))
         .option("checkpointLocation", os.path.join(base, "pcdc_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    ups = [r for r in rows if r.change_type == "update_postimage"]
    assert len(ups) == 10
    assert {r.region for r in ups} == {1}
    # append-only tail source: partition columns surface typed
    from docker_aktin_dwh_spark.sources import txnstream
    txnstream.register(spark)
    filler = (spark.range(500, 510).coalesce(1).select(
        F.col("id").alias("k"), F.lit(3).cast("int").alias("region"),
        F.col("id").cast("string").alias("v")))
    txnlog.append(spark, filler, tdir, key="k")
    srows = []
    q2 = (spark.readStream.format("txnlog_stream")
          .option("path", tdir)
          .option("skipChangeCommits", "true").load()
          .writeStream.foreachBatch(
              lambda df, _b: srows.extend(df.collect()))
          .option("checkpointLocation", os.path.join(base, "pst_ck"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    by_k = {r.k: r.region for r in srows}
    assert by_k[505] == 3 and by_k[0] == 0


def test_update_where_merge_on_read(spark, tdir):
    """r14 UPDATE verb: matched rows DV in place, updated versions
    stage as new files (rewrite bytes ~ updated rows); pruning uses
    the same conjunction semantics as read_table; CDC classifies
    update pre/post pairs; key assignment and schema violations
    refuse; constraints validate the UPDATED rows."""
    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(4, "k"), tdir, key="k")
    v0 = txnlog.snapshot(tdir)
    snap = txnlog.update_where(
        spark, tdir, key="k", filters=[("k", ">=", 10), ("k", "<", 15)],
        assignments={"v": F.concat(F.lit("u"), F.col("v"))})
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 400
    assert got[12] == "ua12" and got[9] == "a9" and got[15] == "a15"
    # merge-on-read: a sparse update DV'd, did not rewrite the table
    assert any(s.get("dv") for s in snap.files.values())
    assert sum(1 for n in snap.files if n not in v0.files) <= 2
    # CDC: exactly the 5 updated keys as pre/post pairs
    tc = txnlog.table_changes(spark, tdir, v0.version, snap.version,
                              key="k").collect()
    by = {(r.change_type, r.k) for r in tc}
    assert len(tc) == 10
    assert ("update_preimage", 12) in by \
        and ("update_postimage", 12) in by
    # statically-empty predicate: no-op, no commit
    assert txnlog.update_where(
        spark, tdir, key="k", filters=[("k", ">=", 10_000)],
        assignments={"v": F.lit("x")}).version == snap.version
    # refusals
    with pytest.raises(ValueError, match="merge key"):
        txnlog.update_where(spark, tdir, key="k",
                            filters=[("k", "=", 1)],
                            assignments={"k": F.lit(99)})
    with pytest.raises(ValueError, match="empty filters"):
        txnlog.update_where(spark, tdir, key="k", filters=[],
                            assignments={"v": F.lit("x")})
    with pytest.raises(ValueError, match="not in the table schema"):
        txnlog.update_where(spark, tdir, key="k",
                            filters=[("k", "=", 1)],
                            assignments={"nope": F.lit(1)})
    # constraints gate the UPDATED rows
    txnlog.set_constraint(spark, tdir, name="v_not_bad",
                          expr="v <> 'bad'")
    with pytest.raises(ValueError, match="violate CHECK"):
        txnlog.update_where(spark, tdir, key="k",
                            filters=[("k", "=", 1)],
                            assignments={"v": F.lit("bad")})
    # SQL-string assignment referencing old values
    txnlog.update_where(spark, tdir, key="k",
                        filters=[("k", "=", 20)],
                        assignments={"v": "upper(v)"})
    assert txnlog.read_table(spark, tdir).filter("k = 20") \
        .first().v == "A20"


def test_update_where_partitioned_and_scoped_compact(spark, tdir):
    """r14: update_where prunes partitions first on a partitioned
    table; compact(partition_filter=...) rewrites ONLY the matching
    partition's files (others carry over by log reference)."""
    txnlog.create_table(spark, _mkp(spark, 0, 200), tdir, key="k",
                        partition_by=["region"])
    snap = txnlog.update_where(
        spark, tdir, key="k",
        filters=[("region", "=", 2), ("k", "<", 50)],
        assignments={"v": F.concat(F.lit("u"), F.col("v"))})
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert got[2] == "ua2" and got[46] == "ua46"
    assert got[50] == "a50" and got[3] == "a3"       # outside scope
    # new files landed only in region=2
    v0_files = {n for n in txnlog.snapshot(tdir, 0).files}
    new = [n for n in snap.files if n not in v0_files]
    assert new and all(n.startswith("region=2/") for n in new)
    # scoped compact: many small files in region 2 fold to one; other
    # partitions' file sets are untouched
    for i in range(3):
        txnlog.append(spark, (spark.range(1000 + i, 1001 + i)
                              .coalesce(1).select(
            F.col("id").alias("k"),
            F.lit(2).cast("int").alias("region"),
            F.lit("z").alias("v"))), tdir, key="k")
    pre = txnlog.snapshot(tdir)
    pre_r3 = {n for n in pre.files if n.startswith("region=3/")}
    txnlog.compact(spark, tdir, key="k",
                   partition_filter={"region": 2})
    post = txnlog.snapshot(tdir)
    assert {n for n in post.files if n.startswith("region=3/")} \
        == pre_r3, "unscoped partitions must carry over by reference"
    assert sum(1 for n in post.files
               if n.startswith("region=2/")) == 1
    assert txnlog.read_table(spark, tdir).count() == 203
    # unpartitioned tables refuse a partition_filter
    t2 = tdir + "_flat"
    txnlog.create_table(spark, _mk(spark, 0, 10), t2, key="k")
    with pytest.raises(ValueError, match="not partition columns"):
        txnlog.compact(spark, t2, key="k",
                       partition_filter={"region": 1})


def test_date_keyed_merge_and_delete(spark, tdir):
    """r14 regression: date/timestamp merge keys store their footer
    stats JSON-ENCODED (tagged dicts) — interval pruning must decode
    before comparing, or every merge/delete on a date-keyed table
    crashes with TypeError (caught by probe, fixed in
    _interval_hits/_envelope_hits/_range_hits)."""
    import datetime
    df = (spark.range(0, 40).coalesce(2).select(
        F.expr("date_add(date'2024-01-01', cast(id as int))")
         .alias("d"),
        F.col("id").alias("v")))
    txnlog.create_table(spark, df, tdir, key="d")
    batch = (spark.range(5, 8).coalesce(1).select(
        F.expr("date_add(date'2024-01-01', cast(id as int))")
         .alias("d"),
        (F.col("id") * 100).alias("v")))
    txnlog.merge(spark, tdir, batch, key="d")
    got = {r.d: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 40
    assert got[datetime.date(2024, 1, 6)] == 500
    assert got[datetime.date(2024, 1, 2)] == 1
    txnlog.delete_range(spark, tdir, key="d",
                        lo=datetime.date(2024, 1, 1),
                        hi=datetime.date(2024, 1, 3))
    assert txnlog.read_table(spark, tdir).count() == 38


def test_delta_export_history_time_travel(spark, tdir):
    """r14: versionAsOf over the EXPORTED history — the independent
    reader pinned at Delta version K must equal txnlog's own time
    travel to retained version K, across sampled versions spanning a
    merge (DV rewrite) and a schema evolution."""
    from docker_aktin_dwh_spark.sources import delta_export

    txnlog.create_table(spark, _mk(spark, 0, 50), tdir, key="k")
    for i in range(6):
        txnlog.append(spark, _mk(spark, 100 + 10 * i, 105 + 10 * i,
                                 tag=f"t{i}"), tdir, key="k")
    txnlog.merge(spark, tdir, _mk(spark, 0, 5, tag="m"), key="k")
    txnlog.append(spark, _mk(spark, 900, 905, tag="z")
                  .withColumn("extra", F.lit(1)), tdir, key="k",
                  evolve_schema=True)
    dest = delta_export.export_delta_history(tdir, tdir + "_tt",
                                             checkpoint_every=4)
    rd = _ind_reader()
    versions = txnlog._list_versions(tdir)
    for dv_ver, v in [(0, versions[0]), (3, versions[3]),
                      (7, versions[7]),
                      (len(versions) - 1, versions[-1])]:
        cols, rows, _ = rd(dest, version=dv_ver)
        want = _sorted_rows(
            txnlog.read_table(spark, tdir, v).select(*cols))
        assert [tuple(r) for r in rows] == [tuple(r) for r in want], \
            f"export time travel diverges at delta v{dv_ver}"
        # checkpoint-seeded pin (when one is at or below the pin)
        cols2, rows2, _ = rd(dest, version=dv_ver,
                             from_checkpoint=True)
        assert rows2 == rows


def test_delete_where_conjunction(spark, tdir):
    """r14 predicate DELETE: arbitrary conjunction (non-key columns
    included), merge-on-read for sparse hits, partition pruning on a
    partitioned table, CDC classifies plain deletes, empty filters
    refuse."""
    txnlog.create_table(spark, _mkp(spark, 0, 200), tdir, key="k",
                        partition_by=["region"])
    v0 = txnlog.snapshot(tdir)
    snap = txnlog.delete_where(
        spark, tdir, key="k",
        filters=[("region", "=", 2), ("k", "<", 30)])
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 193            # keys 2,6,...,26 (7 rows) gone
    assert got.filter("region = 2 AND k < 30").count() == 0
    assert got.filter("k = 3").count() == 1      # other partitions kept
    assert any(s.get("dv") for s in snap.files.values()), \
        "sparse predicate delete must commit merge-on-read"
    tc = txnlog.table_changes(spark, tdir, v0.version, snap.version,
                              key="k").collect()
    assert len(tc) == 7
    assert all(r.change_type == "delete" and r.region == 2 for r in tc)
    # statically-empty predicate: no-op
    assert txnlog.delete_where(
        spark, tdir, key="k",
        filters=[("k", ">=", 10_000)]).version == snap.version
    with pytest.raises(ValueError, match="empty filters"):
        txnlog.delete_where(spark, tdir, key="k", filters=[])


def test_partitioned_streaming_sink_and_default_store(spark, tdir):
    """r14: the SNK-01 store accepts partition_by, merge rides
    partition staging transparently, and a foreachBatch streaming
    append into a PARTITIONED table lands hive-laid files with
    partition values logged (the exactly-once ingest path on a
    partitioned table)."""
    base = _mkp(spark, 0, 80).withColumnRenamed("k", "encounter_num")
    txnlog.create_table(spark, base.repartitionByRange(8, "encounter_num"),
                        tdir, key="encounter_num", partition_by=["region"])
    snap = txnlog.snapshot(tdir)
    assert snap.partition_by == ["region"]
    batch = (spark.range(0, 10).coalesce(1).select(
        F.col("id").alias("encounter_num"),
        (F.col("id") % 4).cast("int").alias("region"),
        F.lit("m").alias("v")))
    txnlog.merge(spark, tdir, batch, key="encounter_num")
    got = txnlog.read_table(spark, tdir)
    assert got.count() == 80
    assert got.filter("encounter_num = 5").first().v == "m"
    # streaming micro-batches append into the partitioned table with
    # txn idempotence (replayed batch is a no-op)
    txnlog.append(spark, _mkp(spark, 100, 110, tag="s")
                  .withColumnRenamed("k", "encounter_num"),
                  tdir, key="encounter_num", txn=("ing", 0))
    assert txnlog.append(spark, _mkp(spark, 100, 110, tag="dup")
                         .withColumnRenamed("k", "encounter_num"),
                         tdir, key="encounter_num",
                         txn=("ing", 0)) is None
    snap2 = txnlog.snapshot(tdir)
    new = [n for n in snap2.files if n not in snap.files]
    assert new and all("region=" in n for n in new)
    assert txnlog.read_table(spark, tdir).count() == 90


def test_create_table_refuses_non_empty_directory(spark, tmp_path):
    """create_table over a directory that already holds files (here a
    batch_id-partitioned plain parquet store) must raise, naming the
    path: a table built there would let vacuum reclaim the foreign
    files as unreferenced.  Absent and empty directories stay fine."""
    foreign = str(tmp_path / "plain")
    (spark.range(12).withColumn("batch_id", F.col("id") % 3)
     .repartition(4).write.partitionBy("batch_id").parquet(foreign))
    before = sorted(p.relative_to(foreign)
                    for p in Path(foreign).rglob("*.parquet"))
    with pytest.raises(FileExistsError, match=re.escape(foreign)):
        txnlog.create_table(spark, _mk(spark, 0, 5), foreign, key="k")
    assert not os.path.exists(os.path.join(foreign, "_txnlog"))
    assert sorted(p.relative_to(foreign)
                  for p in Path(foreign).rglob("*.parquet")) == before

    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(empty), str(tmp_path / "absent")):
        assert txnlog.create_table(spark, _mk(spark, 0, 5), path,
                                   key="k").version == 0
        assert txnlog.read_table(spark, path).count() == 5


def test_variant_column_refused_before_staging(spark, tdir):
    """A VARIANT column, top-level or nested, is refused by name before
    anything touches disk: Spark writes it with a parquet logical type
    whose footer pyarrow cannot open, so file stats would fail after
    the log directory exists.  The path stays usable afterwards, and
    verbs that would add such a column to a table refuse as well."""
    doc = F.parse_json(F.concat(F.lit('{"a": '), F.col("k").cast("string"),
                                F.lit("}")))
    base = _mk(spark, 0, 20)
    flat = base.withColumn("doc", doc)
    nested = base.withColumn("s", F.struct("v", F.array(doc).alias("docs")))
    for df, col in ((flat, "doc"), (nested, "s.docs.element")):
        with pytest.raises(ValueError, match=re.escape(repr(col))):
            txnlog.create_table(spark, df, tdir, key="k")
        assert not os.path.exists(tdir)

    txnlog.create_table(spark, base.withColumn("doc", F.to_json(doc)),
                        tdir, key="k")
    assert txnlog.read_table(spark, tdir).count() == 20
    extra = base.withColumn("doc", F.to_json(doc)).withColumn("x", doc)
    with pytest.raises(ValueError, match="'x'"):
        txnlog.append(spark, extra, tdir, key="k", evolve_schema=True)
    with pytest.raises(ValueError, match="'x'"):
        txnlog.add_column(spark, tdir, column="x", dtype="variant")
    from docker_aktin_dwh_spark.sources import txnbatch

    txnbatch.register(spark)
    with pytest.raises(Exception, match="'x'"):
        (extra.write.format("txnlog").option("evolveSchema", "true")
         .mode("append").save(tdir))
    assert txnlog.snapshot(tdir).version == 0
    assert sorted(os.listdir(tdir)) == sorted(
        ["_txnlog"] + list(txnlog.snapshot(tdir).files))


def test_partitioned_with_column_mapping(spark, tdir):
    """r14 interaction: NON-partition columns stay renameable on a
    partitioned table (partition dirs use physical names, which the
    rename never touches) — staging under the map + partitionBy,
    partition-pruned reads under the renamed schema, merge on the
    renamed column, and time travel across the rename all line up."""
    txnlog.create_table(spark, _mkp(spark, 0, 80), tdir, key="k",
                        partition_by=["region"])
    txnlog.rename_column(spark, tdir, old="v", new="val")
    snap = txnlog.snapshot(tdir)
    assert snap.colmap["val"] == "v" and snap.partition_by == ["region"]
    got = txnlog.read_table(spark, tdir)
    assert [f.name for f in got.schema.fields] == ["k", "region",
                                                   "val"]
    assert got.filter("k = 5").first().val == "a5"
    # write under the mapping into partition dirs
    batch = (spark.range(0, 10).coalesce(1).select(
        (F.col("id") * 4 + 1).alias("k"),
        F.lit(1).cast("int").alias("region"),
        F.concat(F.lit("m"), (F.col("id") * 4 + 1).cast("string"))
         .alias("val")))
    txnlog.merge(spark, tdir, batch, key="k",
                 partition_filter={"region": 1})
    got2 = {r.k: r.val for r in txnlog.read_table(spark, tdir)
            .collect()}
    assert len(got2) == 80 and got2[5] == "m5" and got2[4] == "a4"
    # partition-pruned read under the renamed schema
    pruned = txnlog.read_table(spark, tdir,
                               filters=[("region", "=", 1)])
    assert pruned.count() == 20
    assert all(n.startswith("region=1/")
               for n in [p.split(tdir + "/")[-1]
                         for p in pruned.inputFiles()])
    # time travel below the rename keeps the old name
    tt = txnlog.read_table(spark, tdir, 0)
    assert [f.name for f in tt.schema.fields] == ["k", "region", "v"]
    # update_where on the renamed column, partition-scoped filters
    txnlog.update_where(spark, tdir, key="k",
                        filters=[("region", "=", 1), ("k", "=", 5)],
                        assignments={"val": F.lit("u5")})
    assert txnlog.read_table(spark, tdir).filter("k = 5") \
        .first().val == "u5"


# ------------------------------------- one bounded decision per commit
def _job_ids(spark, fn):
    """Job ids of the Spark jobs ``fn`` submits from this thread.  A
    job group scopes them (broadcast and AQE stage jobs inherit it), so
    jobs of other threads in the shared session do not count."""
    import uuid
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_row_level_verbs_job_counts(spark, tdir):
    """Each row-level verb decides from one bounded collect with no
    shuffle and reuses the driver-held answer: merge and apply_changes
    run 3 jobs (the key collect, the DV hit scan with the keys as an
    IN list, the staging write), update_where 2 (the DV hit scan and
    the staging write — the re-read is unmasked when no hit row was
    dead already, and its DV mask runs no job when one was),
    delete_where and delete_range 1.  Batches are one
    partition each: Spark's limit collect runs one job per scale-up
    round over a batch's partitions."""
    txnlog.create_table(spark, _mk(spark, 0, 4000)
                        .repartitionByRange(4, "k"), tdir, key="k")
    # a DV on the first file: every later verb plans against a file
    # holding dead rows
    n = _job_ids(spark, lambda: txnlog.delete_where(
        spark, tdir, key="k", filters=[("k", ">=", 500), ("k", "<", 503)]))
    assert len(n) == 1, n
    n = _job_ids(spark, lambda: txnlog.merge(
        spark, tdir, _mk(spark, 10, 20, tag="m").coalesce(1), key="k"))
    assert len(n) <= 3, n
    feed = (_mk(spark, 100, 110, tag="u").withColumn("op", F.lit("update"))
            .unionByName(_mk(spark, 200, 205).withColumn(
                "op", F.lit("delete")))
            .unionByName(_mk(spark, 5000, 5003, tag="i").withColumn(
                "op", F.lit("insert"))).coalesce(1))
    n = _job_ids(spark, lambda: txnlog.apply_changes(
        spark, tdir, feed, key="k"))
    assert len(n) <= 3, n
    n = _job_ids(spark, lambda: txnlog.update_where(
        spark, tdir, key="k", filters=[("k", ">=", 300), ("k", "<", 305)],
        assignments={"v": "upper(v)"}))
    assert len(n) <= 2, n
    # over rows already dead the re-read is masked: still no extra job
    n = _job_ids(spark, lambda: txnlog.update_where(
        spark, tdir, key="k", filters=[("k", ">=", 498), ("k", "<", 505)],
        assignments={"v": "upper(v)"}))
    assert len(n) <= 2, n
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 4000 - 3 - 5 + 3
    assert got[15] == "m15" and got[105] == "u105" and 202 not in got
    assert got[5001] == "i5001" and got[302] == "A302" \
        and got[305] == "a305" and 501 not in got
    assert got[498] == "A498" and got[504] == "A504" and got[505] == "a505"
    n = _job_ids(spark, lambda: txnlog.delete_range(
        spark, tdir, key="k", lo=700, hi=703))
    assert len(n) == 1, n
    assert txnlog.read_table(spark, tdir).filter(
        "k >= 698 AND k < 705").count() == 4


def test_dv_masked_read_and_compact_job_counts(spark, tdir):
    """The DV mask is a constant filter over the scan, not a broadcast
    join: a masked read written to a noop sink runs one job, and
    compacting a DV'd table into one file two (the shuffle and the
    write) — each one fewer than with a broadcast of the DV map."""
    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(2, "k"), tdir, key="k")
    txnlog.delete_where(spark, tdir, key="k",
                        filters=[("k", ">=", 10), ("k", "<", 13)])
    assert any(s.get("dv") for s in txnlog.snapshot(tdir).files.values())
    n = _job_ids(spark, lambda: txnlog.read_table(spark, tdir)
                 .write.format("noop").mode("overwrite").save())
    assert len(n) == 1, n
    n = _job_ids(spark, lambda: txnlog.compact(spark, tdir, key="k"))
    assert len(n) == 2, n
    got = sorted(r.k for r in txnlog.read_table(spark, tdir).collect())
    assert got == sorted(set(range(400)) - {10, 11, 12})
    assert len(txnlog.snapshot(tdir).files) == 1


@pytest.mark.parametrize("cap", [100_000, 3], ids=["driver", "aggregate"])
def test_apply_changes_validation_same_on_both_arms(spark, tdir,
                                                    monkeypatch, cap):
    """The driver-side validation (feeds up to MERGE_KEYS_COLLECT_MAX
    rows) and the two-level aggregate (past it) refuse the same feeds
    with the same counts; nothing commits."""
    monkeypatch.setattr(txnlog, "MERGE_KEYS_COLLECT_MAX", cap)
    txnlog.create_table(spark, _mk(spark, 0, 20), tdir, key="k")

    def feed(*parts):
        out = None
        for lo, hi, op in parts:
            f = _mk(spark, lo, hi, tag="f").withColumn(
                "op", F.lit(op).cast("string"))
            out = f if out is None else out.unionByName(f)
        return out

    with pytest.raises(ValueError, match=r"carries 2 keys with more "
                                         r"than one op"):
        txnlog.apply_changes(spark, tdir, feed(
            (3, 5, "update"), (4, 6, "delete"), (5, 7, "insert")),
            key="k")
    with pytest.raises(ValueError, match=r"carries 2 rows whose 'op' is "
                                         r"NULL or not in"):
        txnlog.apply_changes(spark, tdir, feed(
            (3, 5, None), (7, 9, "update")), key="k")
    with pytest.raises(ValueError, match=r"carries 3 rows whose 'op' is "
                                         r"NULL or not in"):
        txnlog.apply_changes(spark, tdir, feed(
            (3, 6, "upsort"), (7, 9, "delete")), key="k")
    assert txnlog.snapshot(tdir).version == 0
    assert txnlog.read_table(spark, tdir).count() == 20


def test_apply_changes_nan_and_signed_zero_keys_are_duplicates(spark,
                                                               tdir):
    """Keys compare as Spark's groupBy compares them: a feed holding a
    NaN key twice, or 0.0 and -0.0, carries a duplicate key — the
    driver-side count must equal Spark's own grouping count."""
    from docker_aktin_dwh_spark.session import local_frame
    nan = float("nan")
    ddl = "k double, v string, op string"
    txnlog.create_table(spark, local_frame(
        spark, [(float(i), f"a{i}") for i in range(5)],
        "k double, v string"), tdir, key="k")
    feeds = {
        "nan": [(nan, "x", "update"), (1.0, "y", "update"),
                (nan, "z", "delete")],
        "zero": [(0.0, "x", "update"), (-0.0, "y", "delete"),
                 (2.0, "z", "update")],
        "both": [(nan, "x", "update"), (nan, "y", "update"),
                 (0.0, "z", "delete"), (-0.0, "w", "update")],
    }
    for name, rows in feeds.items():
        f = local_frame(spark, rows, ddl)
        spark_dups = f.groupBy("k").count().filter("count > 1").count()
        assert spark_dups == (2 if name == "both" else 1)
        with pytest.raises(ValueError,
                           match=f"carries {spark_dups} keys with more"):
            txnlog.apply_changes(spark, tdir, f, key="k")
    assert txnlog.snapshot(tdir).version == 0


def test_group_key_matches_spark_grouping_equality():
    g = txnlog._group_key
    nan1, nan2 = float("nan"), float("nan")
    assert len({g(nan1), g(nan2), g(-0.0), g(0.0), g(1.5)}) == 3
    assert g(-0.0) == 0.0 and str(g(-0.0)) == "0.0"
    assert g(bytearray(b"ab")) == b"ab"
    assert {g([1.0, nan1]), g([1.0, nan2])} == {(1.0, txnlog._NAN)}
    assert g(None) is None and g("s") == "s" and g(7) == 7


def test_apply_changes_delete_only_partitioned_stages_nothing(
        spark, tdir, monkeypatch):
    """A delete-only feed carrying only the key and op columns commits
    deletion vectors and stages no data file on a partitioned table
    (whose staging would refuse a frame without the partition column)."""
    txnlog.create_table(spark, _mkp(spark, 0, 100), tdir, key="k",
                        partition_by=["region"])
    calls = []
    real = txnlog._stage_data_files

    def spy(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(txnlog, "_stage_data_files", spy)
    dels = spark.range(10, 14).coalesce(1).select(
        F.col("id").alias("k"), F.lit("delete").alias("op"))
    snap = txnlog.apply_changes(spark, tdir, dels, key="k")
    assert calls == []
    assert snap.version == 1
    assert {r.k for r in txnlog.read_table(spark, tdir).collect()} \
        == set(range(100)) - {10, 11, 12, 13}


def test_apply_changes_delete_only_no_match_commits_nothing(spark, tdir):
    """A key-only delete feed whose keys no file holds changes nothing:
    on a partitioned table it returns the current snapshot instead of
    staging the feed (which lacks the partition column and raised)."""
    txnlog.create_table(spark, _mkp(spark, 0, 100), tdir, key="k",
                        partition_by=["region"])
    dels = spark.range(5000, 5004).coalesce(1).select(
        F.col("id").alias("k"), F.lit("delete").alias("op"))
    snap = txnlog.apply_changes(spark, tdir, dels, key="k")
    assert snap.version == 0
    assert txnlog.read_table(spark, tdir).count() == 100


def test_apply_changes_wide_feed_envelope_pruning(spark, tdir,
                                                  monkeypatch):
    """Past MERGE_KEYS_COLLECT_MAX feed rows apply_changes validates
    and prunes through the two-level aggregate (envelope arm, copy-on-
    write): files outside the feed's [min, max] carry over, and the
    result equals the narrow arm's."""
    monkeypatch.setattr(txnlog, "MERGE_KEYS_COLLECT_MAX", 5)
    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(4, "k"), tdir, key="k")
    before = txnlog.snapshot(tdir)
    feed = (_mk(spark, 10, 25, tag="u").withColumn("op", F.lit("update"))
            .unionByName(_mk(spark, 30, 45).withColumn(
                "op", F.lit("delete"))))
    after = txnlog.apply_changes(spark, tdir, feed, key="k")
    assert len(set(before.files) & set(after.files)) == 3
    assert not any(s.get("dv") for s in after.files.values())
    got = {r.k: r.v for r in txnlog.read_table(spark, tdir).collect()}
    assert len(got) == 385
    assert got[12] == "u12" and 35 not in got and got[50] == "a50"


def _key_of(ddl, i):
    import datetime
    import decimal
    return {
        "bigint": lambda: i,
        "int": lambda: i,
        "string": lambda: f"k{i:03d}",
        "date": lambda: datetime.date(2024, 1, 1)
        + datetime.timedelta(days=i),
        "timestamp": lambda: datetime.datetime(2024, 1, 1, 0, 30)
        + datetime.timedelta(hours=i),
        "timestamp_ntz": lambda: datetime.datetime(2024, 1, 1)
        + datetime.timedelta(minutes=i),
        "double": lambda: -0.0 if i == 0 else i / 4,
        "binary": lambda: bytes([i, 7]),
        "decimal(10,2)": lambda: decimal.Decimal(i) / 4,
    }[ddl]()


@pytest.mark.parametrize("ddl", ["bigint", "int", "string", "date",
                                 "timestamp", "timestamp_ntz", "double",
                                 "binary", "decimal(10,2)"])
@pytest.mark.parametrize("inlist", [True, False],
                         ids=["in_list", "broadcast"])
def test_merge_key_join_every_key_type(spark, tdir, monkeypatch, inlist,
                                       ddl):
    """The driver-held key set joins the DV hit scan and the fold the
    same way for every key type, whether it becomes an IN list or a
    broadcast LocalRelation: each batch key replaces its row (0.0
    replaces -0.0), no other row moves."""
    from docker_aktin_dwh_spark.session import local_frame
    if not inlist:
        monkeypatch.setattr(txnlog, "KEY_INLIST_MAX", 0)
    schema = f"k {ddl}, v string"
    txnlog.create_table(spark, local_frame(
        spark, [(_key_of(ddl, i), f"a{i}") for i in range(40)], schema)
        .coalesce(2), tdir, key="k")
    batch = [(0.0 if ddl == "double" and i == 0 else _key_of(ddl, i),
              f"b{i}")
             for i in (0, 3, 4, 17, 39, 45)]
    snap = txnlog.merge(spark, tdir, local_frame(spark, batch, schema)
                        .coalesce(1), key="k")
    assert any(s.get("dv") for s in snap.files.values())
    got = sorted((r.v for r in txnlog.read_table(spark, tdir).collect()))
    want = sorted([f"a{i}" for i in range(40)
                   if i not in (0, 3, 4, 17, 39)]
                  + [v for _, v in batch])
    assert got == want


def test_update_where_over_dead_rows_matches_duckdb(spark, tdir):
    """A second update_where over the same band hits rows the first
    one already deleted (DV'd): it must take the DV-masked read, and
    the table and change feed equal DuckDB's UPDATE replay."""
    import duckdb
    base = _mk(spark, 0, 400).repartitionByRange(4, "k")
    txnlog.create_table(spark, base, tdir, key="k")
    con = duckdb.connect()
    con.register("b", base.toPandas())
    con.execute("CREATE TABLE t AS SELECT * FROM b")
    band = [("k", ">=", 10), ("k", "<", 16)]
    versions = [txnlog.snapshot(tdir).version]
    for expr, sql in (("concat('u', v)", "'u' || v"),
                      ("concat('w', v)", "'w' || v")):
        versions.append(txnlog.update_where(
            spark, tdir, key="k", filters=band,
            assignments={"v": expr}).version)
        con.execute(f"CREATE TABLE s{len(versions) - 1} AS "
                    f"SELECT * FROM t")
        con.execute(f"UPDATE t SET v = {sql} WHERE k >= 10 AND k < 16")
    got = sorted((r.k, r.v) for r in txnlog.read_table(spark, tdir)
                 .collect())
    assert got == sorted(con.execute("SELECT k, v FROM t").fetchall())
    assert got[12] == (12, "wua12")
    changes = txnlog.table_changes(spark, tdir, versions[1], versions[2],
                                   key="k").collect()
    pre = con.execute("SELECT k, v FROM s2 WHERE k >= 10 AND k < 16") \
        .fetchall()
    post = con.execute("SELECT k, v FROM t WHERE k >= 10 AND k < 16") \
        .fetchall()
    assert sorted((r.change_type, r.k, r.v) for r in changes) == sorted(
        [("update_preimage", k, v) for k, v in pre]
        + [("update_postimage", k, v) for k, v in post])
    con.close()


def test_snapshot_warns_when_recovery_fails(spark, tdir):
    """A claim backend whose read-side recover_table raises must not
    take reads down, and must not fail silently either."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")

    class Broken:
        def __call__(self, tmp, target):  # pragma: no cover - no commit
            raise AssertionError("no commit expected")

        def recover_table(self, log_dir):
            raise OSError("coordinator unreachable")

    txnlog.set_claim_backend(Broken())
    try:
        with pytest.warns(RuntimeWarning,
                          match="OSError: coordinator unreachable"):
            snap = txnlog.snapshot(tdir)
    finally:
        txnlog.set_claim_backend(None)
    assert snap.version == 0 and len(snap.files) == 2


def test_append_interrupt_during_retry_drops_staged_files(spark, tdir,
                                                          monkeypatch):
    """An interrupt while append re-validates after a lost version race
    drops the files it staged, like any other failure there."""
    txnlog.create_table(spark, _mk(spark, 0, 10), tdir, key="k")
    before = {p.name for p in Path(tdir).rglob("*.parquet")}
    real_commit = txnlog._try_commit

    def lose_once(path, version, payload):
        monkeypatch.setattr(txnlog, "_try_commit", real_commit)

        def interrupted(*a, **kw):
            raise KeyboardInterrupt
        monkeypatch.setattr(txnlog, "_check_types", interrupted)
        return False

    monkeypatch.setattr(txnlog, "_try_commit", lose_once)
    with pytest.raises(KeyboardInterrupt):
        txnlog.append(spark, _mk(spark, 10, 20), tdir, key="k")
    assert {p.name for p in Path(tdir).rglob("*.parquet")} == before
    assert txnlog.snapshot(tdir).version == 0


# ------------------------------- one change feed for batch and stream
def _drain_cdc(spark, path, ck):
    """Every row an ``availableNow`` drain of the txnlog_cdc stream
    emits, from a fresh checkpoint."""
    from docker_aktin_dwh_spark.sources import cdcstream
    cdcstream.register(spark)
    rows = []
    await_query(lambda: (
        spark.readStream.format("txnlog_cdc").option("path", path)
        .option("key", "k").load().writeStream.foreachBatch(
            lambda df, _b: rows.extend(df.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()))
    return rows


def _feed_rows(rows, version_col):
    return sorted((tuple(r[c] for c in r.__fields__ if c != version_col)
                   + (r[version_col],) for r in rows),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


def test_change_feed_across_add_column(spark, tdir):
    """A range crossing an ``add_column`` reads every version under one
    schema, the range end's: versions before the column NULL-fill it,
    in the batch read and in a stream drain alike.  A stream whose
    schema predates a later data version's column raises, naming that
    version, instead of dropping the column."""
    from docker_aktin_dwh_spark.sources.cdcstream import (
        TxnlogCdcStreamReader)

    txnlog.create_table(spark, _mk(spark, 0, 20), tdir, key="k")      # v0
    txnlog.merge(spark, tdir, _mk(spark, 5, 8, tag="m"), key="k")      # v1
    txnlog.add_column(spark, tdir, column="score", dtype="int")        # v2
    txnlog.merge(spark, tdir, _mk(spark, 10, 12, tag="n")
                 .withColumn("score", F.lit(7)), key="k")              # v3
    feed = txnlog.table_changes_range(spark, tdir, 0, key="k")
    assert feed.columns == ["k", "v", "score", "change_type",
                            "commit_version"]
    got = {(r.k, r.change_type): (r.v, r.score, r.commit_version)
           for r in feed.collect()}
    assert len(got) == 10
    assert got[(5, "update_postimage")] == ("m5", None, 1)
    assert got[(10, "update_preimage")] == ("a10", None, 3)
    assert got[(10, "update_postimage")] == ("n10", 7, 3)
    stream = _drain_cdc(spark, tdir, os.path.dirname(tdir) + "/ck")
    assert _feed_rows(stream, "_commit_version") \
        == _feed_rows(feed.collect(), "commit_version")
    old = TxnlogCdcStreamReader(tdir, "k", 0, schema_version=1)
    assert [p.version for p in old.partitions(
        {"version": 0}, {"version": 1})] == [1]
    with pytest.raises(ValueError, match=r"version 3 .*\['score'\]"):
        old.partitions({"version": 0}, {"version": 3})


@pytest.mark.parametrize("n_versions", [3, 12])
def test_table_changes_range_is_one_job(spark, tdir, n_versions):
    """Collecting the per-version feed runs one Spark job whatever the
    number of versions: planning reads only the log, and each
    version is one partition of a single DataSource scan."""
    txnlog.create_table(spark, _mk(spark, 0, 400)
                        .repartitionByRange(4, "k"), tdir, key="k")
    for i in range(n_versions):
        txnlog.merge(spark, tdir, _mk(spark, 30 * i, 30 * i + 5,
                                      tag=f"m{i}").coalesce(1), key="k")
    rows = []
    n = _job_ids(spark, lambda: rows.extend(txnlog.table_changes_range(
        spark, tdir, 0, key="k").collect()))
    assert len(n) == 1, n
    assert len(rows) == 10 * n_versions
    assert {r.commit_version for r in rows} \
        == set(range(1, n_versions + 1))


def test_change_feed_batch_equals_stream_drain(spark, tdir):
    """The batch read and a stream drain of one range give the same
    rows across a restore that shrinks a deletion vector, a
    partitioned drop_partition, a rename_column and a compact."""
    txnlog.create_table(spark, _mkp(spark, 0, 80), tdir, key="k",
                        partition_by=["region"])                     # v0
    txnlog.delete_where(spark, tdir, key="k",
                        filters=[("k", ">=", 40), ("k", "<", 44)])   # v1
    txnlog.restore(spark, tdir, version=0)                           # v2
    txnlog.drop_partition(spark, tdir, values={"region": 2})         # v3
    txnlog.rename_column(spark, tdir, old="v", new="val")            # v4
    txnlog.merge(spark, tdir, _mkp(spark, 0, 6, tag="m")
                 .withColumnRenamed("v", "val").filter("region != 2"),
                 key="k")                                            # v5
    assert txnlog.compact(spark, tdir, key="k") is not None          # v6
    txnlog.append(spark, _mkp(spark, 100, 104, tag="z")
                  .withColumnRenamed("v", "val"), tdir, key="k")     # v7
    batch = txnlog.table_changes_range(spark, tdir, 0, key="k").collect()
    by = {}
    for r in batch:
        by.setdefault(r.commit_version, set()).add((r.change_type, r.k))
    assert by[1] == {("delete", k) for k in range(40, 44)}
    assert by[2] == {("insert", k) for k in range(40, 44)}, \
        "restore resurrects the vectored rows"
    assert by[3] == {("delete", k) for k in range(80) if k % 4 == 2}
    assert 4 not in by and 6 not in by, "rename and compact: no rows"
    assert {k for _t, k in by[5]} == {0, 1, 3, 4, 5}
    assert by[7] == {("insert", k) for k in range(100, 104)}
    assert set(batch[0].__fields__) == {"k", "region", "val",
                                        "change_type", "commit_version"}
    stream = _drain_cdc(spark, tdir, os.path.dirname(tdir) + "/ck")
    assert _feed_rows(stream, "_commit_version") \
        == _feed_rows(batch, "commit_version")


def test_merge_nan_key_batch_replaces_rows(spark, tdir):
    """A double key column holding NaN: no NaN footer bound is logged
    (an old log's NaN bound reads as missing stats), and a batch whose
    key set holds NaN keeps every file, because footer bounds do not
    cover NaN — so merging {NaN, -0.0, 3.0} into a one-file table
    holding NaN and 0.0 replaces all three rows."""
    from docker_aktin_dwh_spark.sources import logcore

    nan = float("nan")
    base = spark.createDataFrame(
        [(float(i), f"a{i}") for i in range(10)] + [(nan, "anan")],
        "k double, v string").coalesce(1)
    txnlog.create_table(spark, base, tdir, key="k")
    (st,) = txnlog.snapshot(tdir).files.values()
    txnlog.merge(spark, tdir, spark.createDataFrame(
        [(nan, "mnan"), (-0.0, "mz"), (3.0, "m3")], "k double, v string"),
        key="k")
    got = sorted((r.v, r.k) for r in txnlog.read_table(spark, tdir)
                 .filter("k = 0 OR k = 3 OR isnan(k)").collect())
    assert [v for v, _k in got] == ["m3", "mnan", "mz"], got
    assert txnlog.read_table(spark, tdir).count() == 11
    assert all(b == b for b in (st["kmin"], st["kmax"])
               if b is not None), st
    old = {"kmin": 0.0, "kmax": nan, "cols": {"k": [0.0, nan]}}
    assert txnlog._interval_hits(old, [3.0])
    assert txnlog._envelope_hits(old, 2.0, 4.0)
    assert txnlog._range_hits(old, 2.0, 4.0)
    assert logcore.interval_hit(old, "k", ">=", 2.0)


# ------------------------------------------- DV mask: both arms agree
@pytest.mark.parametrize("layout", ["plain", "partitioned", "renamed"])
def test_dv_mask_arms_agree(spark, tdir, monkeypatch, layout):
    """The inline DV mask (one constant filter) and the broadcast-join
    arm (forced by making ``_dv_inline`` false) give the same rows for
    latest and time-travel reads, for the change feed —
    across merge-on-read commits (newly dead rows) and a restore that
    shrinks the DVs (resurrected rows, the ``keep_dead`` read) — and
    for compaction, on a plain, a partitioned and a column-mapped
    table."""
    if layout == "partitioned":
        txnlog.create_table(spark, _mkp(spark, 0, 200), tdir, key="k",
                            partition_by=["region"])
    else:
        txnlog.create_table(spark, _mk(spark, 0, 200)
                            .repartitionByRange(4, "k"), tdir, key="k")
    if layout == "renamed":
        txnlog.rename_column(spark, tdir, old="v", new="val")
    v0 = txnlog.snapshot(tdir).version
    txnlog.delete_where(spark, tdir, key="k",
                        filters=[("k", ">=", 10), ("k", "<", 20)])
    batch = txnlog.read_table(spark, tdir).filter("k BETWEEN 50 AND 54")
    batch = batch.withColumn(batch.columns[-1], F.lit("m"))
    txnlog.merge(spark, tdir, batch.coalesce(1), key="k")
    txnlog.delete_where(spark, tdir, key="k",
                        filters=[("k", ">=", 100), ("k", "<", 103)])
    v_dv = txnlog.snapshot(tdir).version
    assert sum(bool(s.get("dv"))
               for s in txnlog.snapshot(tdir).files.values()) >= 2
    txnlog.restore(spark, tdir, version=v0 + 1)
    v_rs = txnlog.snapshot(tdir).version

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def observe(dest):
        out = {
            "latest": rows(txnlog.read_table(spark, tdir)),
            "travel": rows(txnlog.read_table(spark, tdir, v_dv)),
            "dead": rows(txnlog.table_changes(spark, tdir, v0, v_dv,
                                              key="k")),
            "restored": rows(txnlog.table_changes(spark, tdir, v_dv,
                                                  v_rs, key="k")),
        }
        txnlog.clone_table(tdir, dest)
        txnlog.compact(spark, dest, key="k")
        out["compact"] = rows(txnlog.read_table(spark, dest))
        return out

    inline = observe(tdir + "_inline")
    monkeypatch.setattr(txnlog, "_dv_inline", lambda *a: False)
    joined = observe(tdir + "_joined")
    assert inline == joined
    types = {r[-1] for r in inline["restored"]}
    assert "insert" in types and len(inline["restored"]) >= 3, \
        inline["restored"]
    assert len(inline["travel"]) == 200 - 10 - 3
    assert len(inline["latest"]) == 200 - 10
    assert inline["compact"] == inline["latest"]


def test_dv_mask_arm_follows_scan_size(spark, tdir, monkeypatch):
    """The mask arm weighs the DV'd file count against the logged rows
    of the scan: many DV'd files stay inline over a small scan (the
    broadcast job costs more than the lookups) and go to the join over
    a large one, where a K-only bound would have kept 32 files inline;
    a few DV'd files stay inline at any size.  Reads and the change
    feed pass the logged rows of the files they scan."""
    assert txnlog._dv_inline(256, 30_000)
    assert not txnlog._dv_inline(256, 8_000_000)
    assert not txnlog._dv_inline(32, 32_000_000)
    assert txnlog._dv_inline(8, 10 ** 12)

    txnlog.create_table(spark, _mk(spark, 0, 200)
                        .repartitionByRange(4, "k"), tdir, key="k")
    v0 = txnlog.snapshot(tdir).version
    txnlog.delete_where(spark, tdir, key="k", filters=[("k", "<", 3)])
    (dv_rows,) = [s["rows"] for s in txnlog.snapshot(tdir).files.values()
                  if s.get("dv")]
    seen = []
    real = txnlog._dv_inline
    monkeypatch.setattr(txnlog, "_dv_inline",
                        lambda n, rows: seen.append((n, rows))
                        or real(n, rows))
    assert txnlog.read_table(spark, tdir).count() == 197
    assert txnlog.table_changes(spark, tdir, v0, v0 + 1,
                                key="k").count() == 3
    assert seen == [(1, 200), (1, dv_rows)]


@pytest.mark.parametrize("flt, sql", [
    (("k", ">", 100.0), "k > 100.0"),
    (("k", ">=", 100.0), "k >= 100.0"),
    (("k", "=", float("nan")), "k = double('NaN')"),
    (("k", "<", float("nan")), "k < double('NaN')"),
    (("k", "<=", float("nan")), "k <= double('NaN')"),
    (("k", "in", [float("nan")]), "k IN (double('NaN'))"),
], ids=["gt", "ge", "eq_nan", "lt_nan", "le_nan", "in_nan"])
def test_nan_rows_survive_file_pruning(spark, tdir, flt, sql):
    """A pyarrow-written file leaves NaN out of a double column's
    footer [min, max] ({0.0, 1.0, NaN, 9.0} logs [-0.0, 9.0]), while
    Spark orders NaN above every number and equal to itself.  File
    pruning must keep every file a NaN row could match: read_table
    with ``filters``, delete_where and update_where agree with a plain
    Spark filter over the same file.  Parquet filter pushdown is off
    here: with it, the parquet reader's own row-group check drops the
    NaN row under ``>``, ``=`` and ``IN`` by the same footer bounds,
    before any txnlog code runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    name = "p-0-0-nan.parquet"
    schema = StructType([StructField("id", LongType()),
                         StructField("k", DoubleType())])

    def build(path):
        os.makedirs(os.path.join(path, "_txnlog"))
        f = os.path.join(path, name)
        pq.write_table(pa.table({
            "id": pa.array([0, 1, 2, 3], pa.int64()),
            "k": pa.array([0.0, 1.0, float("nan"), 9.0], pa.float64())}), f)
        add = {"file": name, **txnlog._file_stats(f, "id")}
        assert txnlog._try_commit(path, 0, {
            "op": "create", "key": "id", "add": [add], "remove": [],
            "schema": schema.json()})
        return f

    pushdown = "spark.sql.parquet.filterPushdown"
    spark.conf.set(pushdown, "false")
    try:
        f = build(tdir)
        want = {r.id for r in spark.read.parquet(f).filter(sql).collect()}
        assert want, "every case matches at least one row"
        got = txnlog.read_table(spark, tdir, filters=[flt]).filter(sql)
        assert {r.id for r in got.collect()} == want

        dpath = tdir + "_del"
        build(dpath)
        txnlog.delete_where(spark, dpath, key="id", filters=[flt])
        assert {r.id for r in txnlog.read_table(spark, dpath).collect()} \
            == {0, 1, 2, 3} - want

        upath = tdir + "_upd"
        build(upath)
        txnlog.update_where(spark, upath, key="id", filters=[flt],
                            assignments={"k": F.lit(-1.0)})
        assert {r.id for r in txnlog.read_table(spark, upath).collect()
                if r.k == -1.0} == want
    finally:
        spark.conf.unset(pushdown)
