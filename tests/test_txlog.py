"""Transaction-log semantics over parquet: snapshot isolation, optimistic
concurrency, time travel, merge conflict-retry, vacuum."""

import os

import pytest

from azuredataengineering_deeplearning_spark.sources import txlog as TX


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _assert_no_orphans(p):
    """Every data and change file on disk is referenced by a commit, and
    no staging directory is left."""
    referenced = set()
    for v in TX._versions(p):
        c = TX._read_commit(p, v)
        referenced |= set(c.get("add", [])) | set(c.get("cdf", []))
    on_disk = {f for f in os.listdir(p) if f.startswith("data_")}
    cdf_dir = os.path.join(p, "_cdf")
    if os.path.isdir(cdf_dir):
        on_disk |= {f"_cdf/{f}" for f in os.listdir(cdf_dir)}
    assert on_disk <= referenced, on_disk - referenced
    assert not [f for f in os.listdir(p) if f.startswith("_stage_")]


def test_append_and_snapshot_read(spark, tmp_path):
    p = str(tmp_path / "t")
    v0 = TX.append(_df(spark, [(1, "a")]), p)
    v1 = TX.append(_df(spark, [(2, "b")]), p)
    assert (v0, v1) == (0, 1)
    got = {(r.k, r.v) for r in TX.read(spark, p).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_time_travel_and_history(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p)
    TX.overwrite(_df(spark, [(9, "z")]), p)
    assert {r.k for r in TX.read(spark, p, version=0).collect()} == {1}
    assert {r.k for r in TX.read(spark, p).collect()} == {9}
    ops = [h["op"] for h in TX.history(p)]
    assert ops == ["APPEND", "OVERWRITE"]


def test_uncommitted_staged_files_invisible(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p)
    # simulate a crashed writer: staged data file, no commit
    TX._stage(_df(spark, [(666, "crash")]), p, None)
    got = {r.k for r in TX.read(spark, p).collect()}
    assert got == {1}


def test_commit_conflict_detected_and_append_retries(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p)
    # interloper claims version 1 directly
    TX._try_commit(p, 1, {"op": "APPEND", "add": []})
    with pytest.raises(TX.CommitConflict):
        TX._try_commit(p, 1, {"op": "APPEND", "add": []})
    # append auto-retries past the taken version
    v = TX.append(_df(spark, [(2, "b")]), p)
    assert v == 2
    assert {r.k for r in TX.read(spark, p).collect()} == {1, 2}


def test_merge_upsert_and_conflict_rerun(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "old"), (2, "keep")]), p)
    # concurrent append lands between merge's read and claim on first try:
    # monkeypatch _try_commit to inject a conflict once
    calls = {"n": 0}
    real = TX._try_commit

    def flaky(path, version, actions):
        if actions.get("op") == "MERGE" and calls["n"] == 0:
            calls["n"] += 1
            TX.append(_df(spark, [(3, "sneak")]), p)  # advance the log
            raise TX.CommitConflict("injected")
        return real(path, version, actions)

    TX._try_commit = flaky
    try:
        TX.merge(spark, p, _df(spark, [(1, "new"), (4, "ins")]), ["k"])
    finally:
        TX._try_commit = real
    got = {(r.k, r.v) for r in TX.read(spark, p).collect()}
    # the re-run merged against the post-append snapshot: sneak survives
    assert got == {(1, "new"), (2, "keep"), (3, "sneak"), (4, "ins")}


def test_compact_preserves_rows_and_vacuum_removes_dead_files(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(3):
        TX.append(_df(spark, [(i, str(i))]), p, target_files=1)
    before = {r.k for r in TX.read(spark, p).collect()}
    TX.compact(spark, p, target_files=1)
    assert {r.k for r in TX.read(spark, p).collect()} == before
    dead = TX.vacuum(p, dry_run=True)
    assert len(dead) >= 3  # the three pre-compaction files
    assert all(os.path.exists(os.path.join(p, f)) for f in dead)  # dry run
    TX.vacuum(p, dry_run=False)
    assert not any(os.path.exists(os.path.join(p, f)) for f in dead)
    # latest snapshot still reads
    assert {r.k for r in TX.read(spark, p).collect()} == before
    # but time travel to pre-compaction versions is now gone (documented)
    with pytest.raises(Exception):
        TX.read(spark, p, version=0).collect()


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a"), (2, "b")]), p)
    evolved = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 1.5)], "k long, v string, score double"
    )
    TX.merge(spark, p, evolved, ["k"])
    got = {r.k: (r.v, r.score) for r in TX.read(spark, p).collect()}
    assert got == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 1.5)}


def test_change_data_feed_types_and_versions(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a"), (2, "b")]), p)          # v0
    TX.merge(spark, p, _df(spark, [(2, "b2"), (3, "c")]), ["k"])  # v1
    TX.merge(spark, p, _df(spark, [(4, "d")]), ["k"])             # v2
    ch = TX.read_changes(spark, p, from_version=1).collect()
    by = {(r._commit_version, r._change_type, r.k) for r in ch}
    assert (1, "update_preimage", 2) in by
    assert (1, "update_postimage", 2) in by
    assert (1, "insert", 3) in by
    assert (2, "insert", 4) in by
    # preimage carries the OLD value
    pre = [r for r in ch if r._change_type == "update_preimage"][0]
    assert pre.v == "b"
    # window filter works
    only_v2 = TX.read_changes(spark, p, from_version=2).collect()
    assert {r.k for r in only_v2} == {4}


def test_vacuum_keeps_cdf_files(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a")]), p)
    TX.merge(spark, p, _df(spark, [(1, "a2")]), ["k"])
    TX.vacuum(p, dry_run=False)
    # CDF still readable after vacuum removed the replaced snapshot files
    ch = TX.read_changes(spark, p).collect()
    assert {r._change_type for r in ch} == {"update_preimage", "update_postimage"}


def test_file_stats_skipping(spark, tmp_path):
    p = str(tmp_path / "t")
    # three appends with disjoint key ranges -> three stat'd file sets
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, "v") for i in range(10)], "k long, v string"
        )
        TX.append_with_stats(df, p, ["k"], target_files=1)
    out, info = TX.read_skipping(spark, p, {"k": (105, 107)})
    assert info["skipped"] == 2 and info["scanned"] == 1
    assert sorted(r.k for r in out.collect()) == [105, 106, 107]
    # out-of-range probe scans nothing
    empty, info2 = TX.read_skipping(spark, p, {"k": (900, 999)})
    assert info2["scanned"] == 0 and empty.count() == 0
    # files written without stats are conservatively scanned
    TX.append(
        spark.createDataFrame([(500, "x")], "k long, v string"), p, target_files=1
    )
    _, info3 = TX.read_skipping(spark, p, {"k": (105, 107)})
    assert info3["scanned"] == 2  # the matching file + the stats-less one


def test_stream_changes_tails_cdf(spark, tmp_path):
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    TX.overwrite(_df(spark, [(1, "a"), (2, "b")]), table)
    TX.merge(spark, table, _df(spark, [(2, "b2")]), ["k"])
    stream = TX.stream_changes(
        spark, table, "k long, v string, _change_type string"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cdf_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("select * from cdf_stream").collect()
        assert {(r.k, r._change_type) for r in first} == {
            (2, "update_preimage"), (2, "update_postimage")
        }
        TX.merge(spark, table, _df(spark, [(3, "c")]), ["k"])
        q.processAllAvailable()
        second = spark.sql("select * from cdf_stream").collect()
        assert (3, "insert") in {(r.k, r._change_type) for r in second}
    finally:
        q.stop()


def test_compact_restat_and_multi_column_skipping(spark, tmp_path):
    p = str(tmp_path / "t")
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, float(lo + i) / 10) for i in range(10)], "k long, x double"
        )
        TX.append_with_stats(df, p, ["k", "x"], target_files=1)
    # multi-range: k in [100,109] AND x in [10.0, 10.5] → only middle file
    out, info = TX.read_skipping(spark, p, {"k": (100, 109), "x": (10.0, 10.5)})
    assert info["skipped"] == 2 and info["scanned"] == 1
    assert sorted(r.k for r in out.collect()) == [100, 101, 102, 103, 104, 105]
    # compact WITH re-stat keeps skipping effective on the rewritten file
    TX.compact(spark, p, target_files=1, stats_cols=["k", "x"])
    out2, info2 = TX.read_skipping(spark, p, {"k": (500, 600)})
    assert info2["scanned"] == 0 and info2["skipped"] == 1
    # and in-range reads still return the same rows after compaction
    out3, _ = TX.read_skipping(spark, p, {"k": (100, 109)})
    assert out3.count() == 10


def test_concurrent_appends_serialize_without_lost_updates(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "t")
    TX.append(_df(spark, [(999, "seed")]), p, target_files=1)

    def worker(i):
        return TX.append(_df(spark, [(i, "w")]), p, target_files=1)

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(worker, range(12)))
    # every append claimed a distinct version; none lost
    assert sorted(versions) == list(range(1, 13))
    got = {r.k for r in TX.read(spark, p).collect()}
    assert got == set(range(12)) | {999}
    assert [h["version"] for h in TX.history(p)] == list(range(13))


def test_merge_rejects_duplicate_key_changeset(spark, tmp_path):
    """Delta MERGE parity: multiple source rows per key must raise, not
    silently insert duplicates with mis-paired CDF images."""
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p)
    with pytest.raises(ValueError, match=r"multiple rows for key \{'k': 1\}"):
        TX.merge(spark, p, _df(spark, [(1, "x"), (1, "y"), (2, "z")]), ["k"])
    # table unchanged, no extra commit, nothing staged left behind
    assert {(r.k, r.v) for r in TX.read(spark, p).collect()} == {(1, "a")}
    assert len(TX.history(p)) == 1
    _assert_no_orphans(p)
    assert not os.path.exists(os.path.join(p, "_cdf"))


def test_vacuum_spares_young_unreferenced_files(spark, tmp_path):
    """A concurrent writer's staged-but-uncommitted data_* file (never
    referenced by any commit, young mtime) must survive vacuum; once
    older than the retention window it becomes a victim."""
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p)
    orphan = os.path.join(p, "data_orphan_part-0.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not yet committed")
    assert TX.vacuum(p, dry_run=False) == []          # young → spared
    assert os.path.exists(orphan)
    assert TX.vacuum(p, dry_run=False, orphan_retention_s=0.0) == [
        "data_orphan_part-0.parquet"
    ]
    assert not os.path.exists(orphan)


def test_vacuum_still_removes_commit_dereferenced_files_immediately(
    spark, tmp_path
):
    """Files a commit removed (superseded snapshots) are vacuumable
    regardless of age — the retention window only guards never-
    referenced orphans."""
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p, target_files=1)
    TX.overwrite(_df(spark, [(2, "b")]), p, target_files=1)
    dead = TX.vacuum(p, dry_run=False)   # default retention, fresh files
    assert len(dead) == 1
    assert {r.k for r in TX.read(spark, p).collect()} == {2}


def test_stats_serialize_date_and_decimal_columns(spark, tmp_path):
    """Date/decimal stats_cols must not blow up json.dump after staging
    (that would leak orphaned data files with no commit), and skipping
    on the encoded stats must stay correct."""
    import datetime

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (datetime.date(2024, 1, 1), "1.50"),
            (datetime.date(2024, 1, 31), "2.25"),
        ],
        "d date, amt string",
    ).selectExpr("d", "CAST(amt AS DECIMAL(10,2)) AS amt")
    TX.append_with_stats(df.filter("d = DATE '2024-01-01'"), p, ["d", "amt"],
                         target_files=1)
    TX.append_with_stats(df.filter("d = DATE '2024-01-31'"), p, ["d", "amt"],
                         target_files=1)
    # date-range prune: only the January-1 file overlaps
    got, info = TX.read_skipping(
        spark, p, {"d": (datetime.date(2023, 12, 1), datetime.date(2024, 1, 10))}
    )
    assert info == {"scanned": 1, "skipped": 1}
    assert [r.d for r in got.collect()] == [datetime.date(2024, 1, 1)]
    # decimal prune, boundary-inclusive despite float widening
    import decimal

    got2, info2 = TX.read_skipping(
        spark, p, {"amt": (decimal.Decimal("2.25"), decimal.Decimal("9.99"))}
    )
    assert info2["scanned"] == 1 and info2["skipped"] == 1
    assert [str(r.amt) for r in got2.collect()] == ["2.25"]


def test_commit_files_written_atomically(spark, tmp_path):
    """No *.json.tmp residue after commits, and every commit file parses
    (the os.link claim can never publish a truncated JSON)."""
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p)
    TX.merge(spark, p, _df(spark, [(1, "a2")]), ["k"])
    log_dir = os.path.join(p, "_txlog")
    assert [f for f in os.listdir(log_dir) if f.endswith(".tmp")] == []
    import json

    for f in os.listdir(log_dir):
        with open(os.path.join(log_dir, f)) as fh:
            assert json.load(fh)["version"] >= 0


def test_append_meta_records_batch_id(spark, tmp_path):
    """TX.append(meta=...) lands in the commit record — the streaming
    bootstrap path's replay-detection contract."""
    p = str(tmp_path / "t")
    TX.append(_df(spark, [(1, "a")]), p, meta={"batch_id": 0})
    c = TX._read_commit(p, 0)
    assert c["batch_id"] == 0


@pytest.mark.slow
def test_checkpoint_bounds_replay_and_preserves_snapshots(spark, tmp_path):
    """Snapshot resolution from checkpoint + tail must equal a full
    replay; time travel works across the checkpoint boundary."""
    p = str(tmp_path / "t")
    for i in range(6):
        TX.append(_df(spark, [(i, f"v{i}")]), p, target_files=1)
    full_live, full_v = TX.snapshot_files(p)
    ck_v = TX.checkpoint_log(p)
    assert ck_v == full_v == 5
    # post-checkpoint commits replay on top of the checkpoint base
    TX.overwrite(_df(spark, [(99, "z")]), p, target_files=1)
    TX.append(_df(spark, [(100, "zz")]), p, target_files=1)
    assert {r.k for r in TX.read(spark, p).collect()} == {99, 100}
    # time travel: at the checkpoint version and below it (commits kept)
    assert TX.snapshot_files(p, version=5)[0] == full_live
    assert {r.k for r in TX.read(spark, p, version=2).collect()} == {0, 1, 2}
    # maybe_checkpoint: below threshold → None, at threshold → version
    assert TX.maybe_checkpoint(p, every=10) is None
    assert TX.maybe_checkpoint(p, every=2) == 7


def test_clean_log_keeps_reads_loses_deep_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(4):
        TX.append(_df(spark, [(i, str(i))]), p, target_files=1)
    TX.checkpoint_log(p)
    TX.append(_df(spark, [(9, "after")]), p, target_files=1)
    victims = TX.clean_log(p, dry_run=False)
    assert victims == [f"0000000{i}.json" for i in range(4)]
    # current snapshot intact (checkpoint + tail)
    assert {r.k for r in TX.read(spark, p).collect()} == {0, 1, 2, 3, 9}
    # history below the horizon is gone, with a clear error
    with pytest.raises(ValueError, match="predates the oldest checkpoint"):
        TX.snapshot_files(p, version=1)


def test_checkpoint_carries_stats_for_skipping(spark, tmp_path):
    """After checkpoint + clean_log, stats-skipping must still prune —
    proof the checkpoint carries the merged per-file stats."""
    p = str(tmp_path / "t")
    lo = spark.createDataFrame([(i, "x") for i in range(10)], "k long, v string")
    hi = spark.createDataFrame([(i, "y") for i in range(100, 110)], "k long, v string")
    TX.append_with_stats(lo, p, ["k"], target_files=1)
    TX.append_with_stats(hi, p, ["k"], target_files=1)
    TX.checkpoint_log(p)
    TX.clean_log(p, dry_run=False)
    got, info = TX.read_skipping(spark, p, {"k": (100, 200)})
    assert info == {"scanned": 1, "skipped": 1}
    assert got.count() == 10


def test_clone_deep_and_shallow(spark, tmp_path):
    from azuredataengineering_deeplearning_spark.sources import txlog as TX

    src = str(tmp_path / "src")
    df = spark.range(100).withColumnRenamed("id", "k")
    TX.append(df, src)
    TX.append(spark.range(100, 150).withColumnRenamed("id", "k"), src)

    # deep clone of the LATEST version, then diverge both sides
    deep = str(tmp_path / "deep")
    assert TX.clone(spark, src, deep, deep=True) == 0
    assert TX.read(spark, deep).count() == 150
    TX.append(spark.range(500, 510).withColumnRenamed("id", "k"), deep)
    assert TX.read(spark, deep).count() == 160
    assert TX.read(spark, src).count() == 150  # source untouched

    # time-travel clone of the first commit (version 0)
    v1 = str(tmp_path / "v1")
    TX.clone(spark, src, v1, version=0, deep=True)
    assert TX.read(spark, v1).count() == 100

    # shallow clone: zero copy, reads the source's files
    sh = str(tmp_path / "shallow")
    TX.clone(spark, src, sh, deep=False)
    assert TX.read(spark, sh).count() == 150
    import glob, os
    assert not glob.glob(os.path.join(sh, "*.parquet"))  # no data copied

    # clone target must be empty
    import pytest as _pt
    with _pt.raises(FileExistsError):
        TX.clone(spark, src, deep)


def test_restore_rolls_back_and_preserves_history(spark, tmp_path):
    from azuredataengineering_deeplearning_spark.sources import txlog as TX

    t = str(tmp_path / "restore_t")
    TX.append(spark.range(10).withColumnRenamed("id", "k"), t)        # v0
    TX.overwrite(spark.range(100, 105).withColumnRenamed("id", "k"), t)  # v1
    assert TX.read(spark, t).count() == 5
    v = TX.restore(t, 0)
    assert TX.read(spark, t).count() == 10          # back to v0 content
    assert TX.read(spark, t, version=1).count() == 5  # history intact
    assert TX.read(spark, t, version=v).count() == 10
    ops = [h["op"] for h in TX.history(t)]
    assert "RESTORE" in ops
    import pytest as _pt
    with _pt.raises(FileNotFoundError):
        TX.restore(t, 99)


def test_schema_evolution_append_and_merge_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.sources import txlog as TX

    t = str(tmp_path / "evolve_t")
    TX.append(spark.range(5).withColumnRenamed("id", "k"), t)
    TX.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("new").alias("extra")
        ),
        t,
    )
    merged = TX.read(spark, t, merge_schema=True)
    assert set(merged.columns) == {"k", "extra"}
    assert merged.count() == 8
    # rows from the pre-widen files surface NULL in the new column
    assert merged.filter(F.col("extra").isNull()).count() == 5


def test_compact_zorder_tightens_skipping(spark, tmp_path):
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.sources import txlog as TX

    t = str(tmp_path / "zorder_t")
    # interleaved keys: every file spans the whole key range pre-compact
    df = spark.range(4000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("payload")
    )
    TX.append(df, t, target_files=4)
    # plain compact: files still span everything
    TX.compact(spark, t, target_files=4, stats_cols=["k"])
    plain, plain_stats = TX.read_skipping(spark, t, {"k": (5, 10)})
    # zorder compact: range layout -> narrow per-file min/max
    TX.compact(spark, t, target_files=4, stats_cols=["k"], zorder_by=["k"])
    zz, zz_stats = TX.read_skipping(spark, t, {"k": (5, 10)})
    want = df.filter(F.col("k").between(5, 10)).count()
    assert zz.count() == plain.count() == want
    assert plain_stats["skipped"] == 0      # every file spans the range
    assert zz_stats["skipped"] >= 2         # range layout prunes files
    assert zz_stats["scanned"] == 1


def test_reads_launch_no_job_and_merge_at_most_four(spark, tmp_path, count_jobs):
    """The recorded schema spares every read its footer-inference job,
    and MERGE with its change feed is one plan: the snapshot and the
    changeset shuffle once each, then one write."""
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(i, "a") for i in range(50)]), p)
    v, merge_jobs = count_jobs(
        lambda: TX.merge(spark, p, _df(spark, [(3, "b"), (70, "c")]), ["k"])
    )
    assert merge_jobs <= 4
    snap, read_jobs = count_jobs(lambda: TX.read(spark, p))
    changes, cdf_jobs = count_jobs(lambda: TX.read_changes(spark, p, v, v))
    assert (read_jobs, cdf_jobs) == (0, 0)
    assert snap.count() == 51
    assert {(r.k, r._change_type) for r in changes.collect()} == {
        (3, "update_preimage"), (3, "update_postimage"), (70, "insert")
    }


def test_merge_commit_records_operation_metrics(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), p)
    TX.merge(spark, p, _df(spark, [(2, "b2"), (3, "c2"), (4, "d")]), ["k"])
    h = TX.history(p)[-1]
    c = TX._read_commit(p, h["version"])
    m = h["metrics"]
    assert (m["rows_updated"], m["rows_inserted"]) == (2, 1)
    assert (h["n_added"], h["n_removed"]) == (m["files_added"], m["files_removed"])
    size = lambda names: sum(os.path.getsize(os.path.join(p, n)) for n in names)
    assert m["bytes_added"] == size(c["add"]) > 0
    assert m["cdf_bytes_added"] == size(c["cdf"]) > 0
    assert m["bytes_removed"] == size(TX._read_commit(p, 0)["add"]) > 0
    assert TX.history(p)[0]["metrics"] == {}  # only MERGE records them


def test_merge_matches_replay_over_many_merges(spark, tmp_path):
    """Snapshot and change feed of a run of random merges (updates,
    inserts, a NULL key) equal a dict replay."""
    import random

    rng = random.Random(7)
    p = str(tmp_path / "t")
    table = {k: f"v{k}" for k in range(40)}
    TX.overwrite(_df(spark, list(table.items())), p)
    for step in range(6):
        keys = rng.sample(range(60), 12)
        rows = [(k, f"s{step}_{k}") for k in keys] + [(None, f"null{step}")]
        v = TX.merge(spark, p, _df(spark, rows), ["k"])
        want = set()
        for k, val in rows:
            if k is not None and k in table:
                want |= {(k, table[k], "update_preimage"), (k, val, "update_postimage")}
            else:
                want.add((k, val, "insert"))
            if k is not None:
                table[k] = val
        got = {(r.k, r.v, r._change_type) for r in TX.read_changes(spark, p, v, v).collect()}
        assert got == want
        snap = {(r.k, r.v) for r in TX.read(spark, p).collect()}
        assert snap == set(table.items()) | {(None, f"null{i}") for i in range(step + 1)}


def test_lost_race_leaves_no_staged_files(spark, tmp_path, monkeypatch):
    """overwrite and compact whose next version another writer already
    claimed: compact deletes its rewrite and raises, overwrite claims
    again against the fresh snapshot and deletes its files only once it
    runs out of retries."""
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a")]), p)
    TX.append(_df(spark, [(2, "b")]), p)
    real = TX._try_commit

    def claimed_first(path, version, actions):
        real(path, version, {"op": "APPEND", "add": []})  # the other writer
        return real(path, version, actions)

    monkeypatch.setattr(TX, "_try_commit", claimed_first)
    with pytest.raises(TX.CommitConflict):
        TX.compact(spark, p, target_files=1)
    with pytest.raises(TX.CommitConflict):
        TX.overwrite(_df(spark, [(9, "z")]), p)
    _assert_no_orphans(p)
    assert {r.k for r in TX.read(spark, p).collect()} == {1, 2}

    lost = []

    def claimed_once(path, version, actions):
        if not lost:
            lost.append(version)
            real(path, version, {"op": "APPEND", "add": []})
        return real(path, version, actions)

    monkeypatch.setattr(TX, "_try_commit", claimed_once)
    v = TX.overwrite(_df(spark, [(3, "c")]), p)
    assert v == lost[0] + 1
    assert {r.k for r in TX.read(spark, p).collect()} == {3}
    _assert_no_orphans(p)


def test_time_travel_across_column_adding_merge(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a")]), p)
    TX.merge(
        spark, p,
        spark.createDataFrame([(2, "b", 0.5)], "k long, v string, score double"),
        ["k"],
    )
    assert TX.read(spark, p, version=0).columns == ["k", "v"]
    assert TX.read(spark, p, version=1).columns == ["k", "v", "score"]
    assert {tuple(r) for r in TX.read(spark, p, version=1).collect()} == {
        (1, "a", None), (2, "b", 0.5)
    }


def test_engine_columns_never_surface(spark, tmp_path):
    """MERGE data files also hold the change columns (one write routes
    data and change rows); no read shows them, nor the route column."""
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a"), (2, "b")]), p)
    TX.merge(spark, p, _df(spark, [(2, "b2"), (3, "c")]), ["k"])
    data_file = os.path.join(p, TX._read_commit(p, 1)["add"][0])
    assert "_change_type" in spark.read.parquet(data_file).columns
    assert TX.read(spark, p).columns == ["k", "v"]
    assert TX.read(spark, p, merge_schema=True).columns == ["k", "v"]
    assert TX.read_changes(spark, p).columns == ["k", "v", "_change_type", "_commit_version"]
    TX.compact(spark, p, target_files=1)
    assert TX.read(spark, p).columns == ["k", "v"]
    assert "_change_type" not in spark.read.parquet(
        os.path.join(p, TX._read_commit(p, 2)["add"][0])
    ).columns


def test_schema_survives_checkpoint_clean_restore_and_clone(spark, tmp_path, count_jobs):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a")]), p)                           # v0
    TX.merge(
        spark, p,
        spark.createDataFrame([(2, "b", 7)], "k long, v string, n int"),
        ["k"],
    )                                                                 # v1
    TX.checkpoint_log(p)
    TX.clean_log(p, dry_run=False)
    df, jobs = count_jobs(lambda: TX.read(spark, p))
    assert jobs == 0 and df.columns == ["k", "v", "n"]
    assert df.count() == 2

    TX.overwrite(_df(spark, [(5, "e")]), p)                           # v2
    TX.restore(p, 1)                                                  # v3
    assert TX.read(spark, p).columns == ["k", "v", "n"]
    assert TX.history(p)[-1]["op"] == "RESTORE"

    for deep in (True, False):
        dst = str(tmp_path / f"clone_{deep}")
        TX.clone(spark, p, dst, version=2, deep=deep)
        df, jobs = count_jobs(lambda: TX.read(spark, dst))
        assert jobs == 0 and df.columns == ["k", "v"]
        assert [tuple(r) for r in df.collect()] == [(5, "e")]


def test_old_format_commits_still_read(spark, tmp_path):
    """A table whose commits predate the schema field (hand-written
    old-format log) reads by inference, and merges into it record the
    schema from then on."""
    import json
    import shutil

    p = str(tmp_path / "t")
    raw = str(tmp_path / "raw")
    _df(spark, [(1, "a"), (2, "b")]).coalesce(1).write.parquet(raw)
    os.makedirs(os.path.join(p, "_txlog"))
    part = [f for f in os.listdir(raw) if f.endswith(".parquet")][0]
    shutil.copyfile(os.path.join(raw, part), os.path.join(p, "data_old_0.parquet"))
    with open(os.path.join(p, "_txlog", "00000000.json"), "w") as f:
        json.dump({"version": 0, "ts": 0.0, "op": "APPEND", "add": ["data_old_0.parquet"]}, f)
    assert {(r.k, r.v) for r in TX.read(spark, p).collect()} == {(1, "a"), (2, "b")}
    TX.merge(spark, p, _df(spark, [(2, "b2")]), ["k"])
    assert "schema" in TX._read_commit(p, 1)
    assert {(r.k, r.v) for r in TX.read(spark, p).collect()} == {(1, "a"), (2, "b2")}
    assert {r._change_type for r in TX.read_changes(spark, p).collect()} == {
        "update_preimage", "update_postimage"
    }


def test_merge_of_empty_changeset_has_empty_change_feed(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.overwrite(_df(spark, [(1, "a")]), p)
    v = TX.merge(spark, p, _df(spark, []), ["k"])
    assert {(r.k, r.v) for r in TX.read(spark, p).collect()} == {(1, "a")}
    ch = TX.read_changes(spark, p, v, v)
    assert ch.columns == ["k", "v", "_change_type", "_commit_version"]
    assert ch.count() == 0
    # nothing into nothing leaves a snapshot without files: still a table
    q = str(tmp_path / "empty")
    TX.overwrite(_df(spark, []), q)
    TX.merge(spark, q, _df(spark, []), ["k"])
    assert TX.read(spark, q).columns == ["k", "v"]
    assert TX.read(spark, q).count() == 0
