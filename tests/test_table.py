"""ManifestTable: atomic commits, time travel, concurrency, compaction.

The table layer owns what Delta/Iceberg would (their jars are absent):
snapshot isolation over immutable manifests + optimistic concurrency on
an atomic manifest create.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.sinks.table import CommitConflict, ManifestTable


@pytest.fixture()
def table(tmp_path):
    return ManifestTable(str(tmp_path / "t"))


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag"), (F.col("id") * 2).alias("v")
    )


def test_overwrite_append_and_read_head(spark, table):
    s0 = table.overwrite(_df(spark, 0, 10, "a"))
    assert (s0.version, s0.operation) == (0, "overwrite")
    s1 = table.append(_df(spark, 10, 15, "b"))
    assert (s1.version, s1.parent) == (1, 0)
    assert table.read(spark).count() == 15
    assert table.current_version() == 1


def test_time_travel_reads_old_snapshots(spark, table):
    table.overwrite(_df(spark, 0, 10, "a"))
    table.append(_df(spark, 10, 15, "b"))
    table.overwrite(_df(spark, 0, 3, "c"))
    assert table.read(spark, version=0).count() == 10
    assert table.read(spark, version=1).count() == 15
    assert table.read(spark, version=2).count() == 3
    ops = [s.operation for s in table.history()]
    assert ops == ["overwrite", "append", "overwrite"]


def test_append_carries_old_files_by_reference(spark, table):
    s0 = table.overwrite(_df(spark, 0, 10, "a"))
    s1 = table.append(_df(spark, 10, 12, "b"))
    assert set(s0.files) <= set(s1.files)  # no rewrite of existing data


def test_commit_conflict_on_racing_writers(spark, table):
    table.overwrite(_df(spark, 0, 5, "a"))
    # writer B stages + commits v1 while writer A is still staged on v0
    files_a = table._stage_files(_df(spark, 5, 8, "A"))
    table.append(_df(spark, 8, 9, "B"))
    with pytest.raises(CommitConflict):
        table._commit(files_a, "append", expected_parent=0)
    # loser retries against the new head and succeeds
    head = table.current_version()
    base = list(table.snapshot(head).files)
    s = table._commit(base + files_a, "append", expected_parent=head)
    assert s.version == head + 1
    assert table.read(spark).count() == 5 + 1 + 3


def test_failed_stage_is_invisible_to_readers(spark, table):
    table.overwrite(_df(spark, 0, 5, "a"))
    table._stage_files(_df(spark, 0, 100, "junk"))  # staged, never committed
    assert table.read(spark).count() == 5  # readers pin the manifest


def test_delete_where_copy_on_write(spark, table):
    table.overwrite(_df(spark, 0, 10, "a").repartition(4))
    s = table.delete_where(spark, "id >= 7")
    assert s.operation == "delete"
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == list(range(7))
    # prior version still has everything (time travel preserved)
    assert table.read(spark, version=0).count() == 10


def test_delete_where_no_match_is_noop_version(spark, table):
    s0 = table.overwrite(_df(spark, 0, 5, "a"))
    s = table.delete_where(spark, "id > 100")
    assert s.version == s0.version  # nothing touched, no new commit


def test_compact_then_vacuum_bounds_storage(spark, table):
    table.overwrite(_df(spark, 0, 1000, "a").repartition(16))
    assert table.snapshot().n_files >= 16
    s = table.compact(spark, target_file_mb=128)
    assert s.operation == "compact" and s.n_files < 16
    assert table.read(spark).count() == 1000
    # old files still on disk for time travel...
    assert table.read(spark, version=0).count() == 1000
    deleted = table.vacuum(retain_versions=1)
    assert len(deleted) >= 16
    # ...gone after vacuum; head still reads fine
    assert table.read(spark).count() == 1000
    assert table.versions() == [s.version]
    for f in deleted:
        assert not os.path.exists(f)


def test_read_empty_table_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.read(spark)


def test_delete_where_keeps_null_predicate_rows(spark, table):
    """SQL DELETE semantics: only rows where the predicate is TRUE go;
    rows where it evaluates to NULL must survive."""
    df = spark.createDataFrame(
        [(1, 15.0), (2, None), (3, 5.0)], "id long, value double"
    )
    table.overwrite(df)
    table.delete_where(spark, "value > 10")
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == [2, 3]  # the NULL row survives


def test_commit_leaves_no_temp_manifests(spark, table):
    import os

    table.overwrite(_df(spark, 0, 5, "a"))
    table.append(_df(spark, 5, 8, "b"))
    # losing-writer path also cleans up its temp file
    files = table._stage_files(_df(spark, 8, 9, "c"))
    import pytest as _pytest

    from datalake_public_spark.sinks.table import CommitConflict

    with _pytest.raises(CommitConflict):
        table._commit(files, "append", expected_parent=0)
    leftovers = [f for f in os.listdir(table.manifest_dir) if f.startswith(".tmp")]
    assert leftovers == []


def test_append_batch_idempotent(spark, tmp_path):
    """append_batch: same tag twice → second call is a no-op (the
    exactly-once guarantee a streaming replay relies on); different tag
    appends normally."""
    from datalake_public_spark.sinks.table import ManifestTable

    t = ManifestTable(str(tmp_path / "tbl"))
    df = spark.range(0, 10).withColumnRenamed("id", "v")
    assert t.append_batch(df, "batch-0") is not None
    assert t.append_batch(df, "batch-0") is None  # replay → no-op
    assert t.read(spark).count() == 10
    assert t.append_batch(df, "batch-1") is not None
    assert t.read(spark).count() == 20
    assert [s.operation for s in t.history()] == ["append:batch-0", "append:batch-1"]


# ---------------------------------------------------------------------------
# Schema tracking + additive evolution (Delta mergeSchema contract subset)
# ---------------------------------------------------------------------------


def test_append_mismatched_schema_raises_without_merge(spark, table):
    from datalake_public_spark.sinks.table import SchemaMismatch

    table.overwrite(_df(spark, 0, 5, "a"))
    wider = _df(spark, 5, 10, "b").withColumn("extra", F.lit(1))
    with pytest.raises(SchemaMismatch, match="extra"):
        table.append(wider)


def test_append_merge_schema_evolves_and_old_files_read_null(spark, table):
    table.overwrite(_df(spark, 0, 5, "a"))
    wider = _df(spark, 5, 10, "b").withColumn("extra", F.lit(7))
    table.append(wider, merge_schema=True)
    head = table.read(spark)
    assert set(head.columns) == {"id", "tag", "v", "extra"}
    got = {r.id: r.extra for r in head.collect()}
    assert all(got[i] is None for i in range(5))      # pre-evolution files
    assert all(got[i] == 7 for i in range(5, 10))
    # appends at the merged schema may OMIT the evolved column too
    table.append(_df(spark, 10, 12, "c"))
    assert table.read(spark).count() == 12


def test_append_type_change_never_merges(spark, table):
    from datalake_public_spark.sinks.table import SchemaMismatch

    table.overwrite(_df(spark, 0, 5, "a"))
    retyped = _df(spark, 5, 10, "b").withColumn("v", F.col("v").cast("string"))
    with pytest.raises(SchemaMismatch, match="type changes"):
        table.append(retyped, merge_schema=True)


def test_time_travel_reads_each_versions_own_schema(spark, table):
    table.overwrite(_df(spark, 0, 5, "a"))
    table.append(
        _df(spark, 5, 10, "b").withColumn("extra", F.lit(1)), merge_schema=True
    )
    assert "extra" not in table.read(spark, version=0).columns
    assert "extra" in table.read(spark, version=1).columns


def test_overwrite_replaces_schema(spark, table):
    table.overwrite(_df(spark, 0, 5, "a").withColumn("extra", F.lit(1)))
    table.overwrite(_df(spark, 0, 5, "a"))  # narrower — full replace
    assert "extra" not in table.read(spark).columns


def test_compact_and_delete_preserve_evolved_schema(spark, table):
    table.overwrite(_df(spark, 0, 20, "a"))
    table.append(
        _df(spark, 20, 40, "b").withColumn("extra", F.lit(3)), merge_schema=True
    )
    # delete on the EVOLVED column: pre-evolution rows read it as null →
    # predicate NULL → rows survive (SQL DELETE semantics)
    table.delete_where(spark, "extra = 3 AND id >= 30")
    got = table.read(spark)
    assert got.count() == 30
    assert "extra" in got.columns
    snap = table.compact(spark, target_file_mb=1024)
    assert "extra" in table.read(spark).columns
    assert table.read(spark).count() == 30


# -- data skipping (manifest-level per-file min/max stats) -----------------


def test_stats_recorded_on_write(spark, table):
    snap = table.overwrite(_df(spark, 0, 100, "a").repartition(4))
    assert snap.stats is not None and len(snap.stats) == snap.n_files
    all_lo = min(s["id"][0] for s in snap.stats.values())
    all_hi = max(s["id"][1] for s in snap.stats.values())
    assert (all_lo, all_hi) == (0, 99)
    # string column stats collected too
    assert all(s["tag"] == ["a", "a"] for s in snap.stats.values())


def test_read_pruned_equals_filtered_read_and_skips_files(spark, table):
    # 4 disjoint-range batches → one file each carries a tight id box
    for lo in (0, 100, 200, 300):
        df = _df(spark, lo, lo + 100, f"b{lo}").coalesce(1)
        table.overwrite(df) if lo == 0 else table.append(df)
    pruned_files = table.files_for({"id": (120, 180)})
    assert len(pruned_files) == 1  # only the 100..199 batch survives
    got = table.read_pruned(spark, {"id": (120, 180)})
    want = table.read(spark).filter(F.col("id").between(120, 180))
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in want.collect()
    )


def test_append_carries_stats_by_reference(spark, table):
    s0 = table.overwrite(_df(spark, 0, 50, "a").coalesce(1))
    s1 = table.append(_df(spark, 50, 100, "b").coalesce(1))
    # the carried file keeps its v0 stats entry verbatim
    for f in s0.files:
        assert s1.stats[f] == s0.stats[f]
    assert len(s1.stats) == len(s1.files) == 2


def test_pre_stats_manifest_prunes_nothing(spark, table):
    import json

    snap = table.overwrite(_df(spark, 0, 100, "a").repartition(4))
    # simulate a manifest written before stats tracking existed
    p = table._manifest_path(snap.version)
    m = json.load(open(p))
    del m["stats"]
    json.dump(m, open(p, "w"))
    assert table.files_for({"id": (0, 1)}) == list(table.snapshot().files)
    got = table.read_pruned(spark, {"id": (0, 1)}).count()
    assert got == 2


def test_empty_prune_returns_empty_frame(spark, table):
    table.overwrite(_df(spark, 0, 10, "a").coalesce(1))
    df = table.read_pruned(spark, {"id": (500, 600)})
    assert df.count() == 0
    assert "id" in df.columns


def test_delete_and_compact_refresh_stats(spark, table):
    table.overwrite(_df(spark, 0, 100, "a").repartition(4))
    s_del = table.delete_where(spark, "id >= 50")
    assert all(s["id"][1] <= 49 for s in s_del.stats.values())
    s_cmp = table.compact(spark)
    assert set(s_cmp.stats) == set(s_cmp.files)


def test_zordered_table_prunes_both_dimensions(spark, table):
    # z-order the staged data → every file's min/max box is tight in x
    # AND y, so manifest pruning skips files for predicates on either
    from datalake_public_spark.sinks import zorder

    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    keyed = (
        grid.withColumn("_zkey", zorder.morton_key(["x", "y"], bits=6))
        .repartitionByRange(16, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    snap = table.overwrite(keyed)
    assert snap.n_files == 16
    for ranges in ({"y": (8, 15)}, {"x": (8, 15)}):
        kept = table.files_for(ranges)
        assert len(kept) <= snap.n_files // 2, ranges
        got = table.read_pruned(spark, ranges).count()
        assert got == 8 * n


# -- O(1) replay detection (tag markers) -----------------------------------


def test_append_batch_marker_written_and_checked(spark, table):
    table.append_batch(_df(spark, 0, 5, "a"), "b1")
    assert os.path.exists(table._tag_marker("b1"))
    # replay: no new version even with different rows (same tag)
    v = table.current_version()
    assert table.append_batch(_df(spark, 5, 9, "b"), "b1") is None
    assert table.current_version() == v


def test_append_batch_missing_marker_falls_back_and_heals(spark, table):
    table.append_batch(_df(spark, 0, 5, "a"), "b1")
    os.remove(table._tag_marker("b1"))  # crash window: commit, no marker
    v = table.current_version()
    assert table.append_batch(_df(spark, 0, 5, "a"), "b1") is None  # history scan
    assert table.current_version() == v
    assert os.path.exists(table._tag_marker("b1"))  # healed


def test_tags_survive_vacuum(spark, table):
    table.append_batch(_df(spark, 0, 5, "a"), "b1")
    table.overwrite(_df(spark, 0, 5, "c"))
    table.vacuum(retain_versions=1)  # b1's manifest is gone
    v = table.current_version()
    assert table.append_batch(_df(spark, 0, 5, "a"), "b1") is None
    assert table.current_version() == v


def test_bad_tag_names_rejected(spark, table):
    import pytest as _pytest

    for bad in ("", "..", f"a{os.sep}b"):
        with _pytest.raises(ValueError):
            table._tag_marker(bad)


# -- maintenance policy / version diff -------------------------------------


def test_maintain_compacts_small_file_buildup(spark, table):
    table.overwrite(_df(spark, 0, 10, "a").coalesce(1))
    for i in range(6):  # streaming-append shape: one small file per batch
        table.append_batch(_df(spark, 10 + i * 5, 15 + i * 5, "b").coalesce(1), f"t{i}")
    before = table.snapshot()
    assert before.n_files == 7
    after = table.maintain(spark, max_files=4, retain_versions=2)
    assert after.operation == "compact"
    assert after.n_files < before.n_files
    assert table.read(spark).count() == 40
    assert len(table.versions()) == 2  # vacuumed to the retention window
    # below threshold → no-op
    assert table.maintain(spark, max_files=4).version == after.version


def test_file_diff_is_metadata_only(spark, table):
    s0 = table.overwrite(_df(spark, 0, 10, "a").coalesce(1))
    s1 = table.append(_df(spark, 10, 20, "b").coalesce(1))
    d = table.file_diff(s0.version, s1.version)
    assert d["removed"] == [] and len(d["added"]) == 1
    s2 = table.delete_where(spark, "id < 5")
    d2 = table.file_diff(s1.version, s2.version)
    assert len(d2["removed"]) == 1 and len(d2["added"]) == 1


def test_maintain_on_empty_table_is_noop(spark, table):
    assert table.maintain(spark) is None


# -- bloom-filter file index (equality skipping) ---------------------------


def test_bloom_index_prunes_point_lookups(spark, table):
    # 4 disjoint-id batches, one file each; ids are NOT range-clustered
    # inside a file for strings, so we use md5 content keys where
    # min/max bounds are useless but blooms are exact
    from pyspark.sql import functions as F

    for lo in (0, 100, 200, 300):
        df = (
            spark.range(lo, lo + 100)
            .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
            .coalesce(1)
        )
        table.overwrite(df) if lo == 0 else table.append(df)
    snap = table.index_blooms(spark, ["h"])
    assert snap.operation == "index" and snap.n_files == 4
    # a value from the 2nd batch: bloom keeps exactly its file (md5
    # bounds straddle everything, so min/max alone cannot prune)
    import hashlib

    target = hashlib.md5(b"150").hexdigest()
    kept = table.files_for(eq={"h": target})
    assert len(kept) == 1
    got = table.read_pruned(spark, eq={"h": target}).collect()
    assert len(got) == 1 and got[0].id == 150
    # absent value: every file's bloom rejects it
    assert table.files_for(eq={"h": "not-a-real-hash"}) == []
    assert table.read_pruned(spark, eq={"h": "zzz"}).count() == 0


def test_bloom_and_range_pruning_compose(spark, table):
    from pyspark.sql import functions as F

    for lo in (0, 100):
        df = (
            spark.range(lo, lo + 100)
            .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
            .coalesce(1)
        )
        table.overwrite(df) if lo == 0 else table.append(df)
    table.index_blooms(spark, ["h"])
    import hashlib

    t = hashlib.md5(b"50").hexdigest()
    # eq on h (bloom) + range on id (min/max) must agree with a filter
    got = table.read_pruned(spark, {"id": (0, 99)}, eq={"h": t}).collect()
    assert len(got) == 1 and got[0].id == 50
    # contradictory range and eq: zero files, empty result
    assert table.read_pruned(spark, {"id": (100, 199)}, eq={"h": t}).count() == 0


def test_unindexed_column_eq_is_conservative(spark, table):
    from pyspark.sql import functions as F

    table.overwrite(
        spark.range(10).select(F.col("id"), F.lit("x").alias("s")).coalesce(1)
    )
    # no bloom built: eq prunes only by min/max (id bounds apply)
    assert table.files_for(eq={"id": 5}) == list(table.snapshot().files)
    assert table.files_for(eq={"id": 500}) == []  # bounds still work
    assert table.read_pruned(spark, eq={"id": 5}).count() == 1


# -- MERGE (upsert) --------------------------------------------------------


def test_merge_updates_and_inserts_atomically(spark, table):
    table.overwrite(_df(spark, 0, 10, "a").coalesce(1))
    table.append(_df(spark, 10, 20, "a").coalesce(1))
    src = spark.createDataFrame(
        [(5, "UPDATED", 500), (99, "NEW", 990)],
        "id long, tag string, v long",
    )
    snap = table.merge(spark, src, ["id"])
    assert snap.operation == "merge"
    rows = {r.id: (r.tag, r.v) for r in table.read(spark).collect()}
    assert rows[5] == ("UPDATED", 500)   # matched → replaced
    assert rows[99] == ("NEW", 990)      # unmatched → inserted
    assert rows[3] == ("a", 6)           # untouched row intact
    assert len(rows) == 21


def test_merge_rewrites_only_affected_files(spark, table):
    s0 = table.overwrite(_df(spark, 0, 10, "a").coalesce(1))
    s1 = table.append(_df(spark, 10, 20, "b").coalesce(1))
    untouched = set(s1.files) - set(s0.files)  # the 10..19 file
    src = spark.createDataFrame([(5, "u", 0)], "id long, tag string, v long")
    s2 = table.merge(spark, src, ["id"])
    # the batch-b file (no id 5) carries over by reference, stats intact
    assert untouched <= set(s2.files)
    for f in untouched:
        assert s2.stats[f] == s1.stats[f]
    assert set(s0.files) & set(s2.files) == set()  # affected file rewritten


def test_merge_pure_insert_keeps_all_files(spark, table):
    s0 = table.overwrite(_df(spark, 0, 10, "a").coalesce(1))
    src = spark.createDataFrame([(50, "n", 1)], "id long, tag string, v long")
    s1 = table.merge(spark, src, ["id"])
    assert set(s0.files) <= set(s1.files)
    assert table.read(spark).count() == 11


def test_merge_rejects_duplicate_source_keys(spark, table):
    import pytest as _p

    table.overwrite(_df(spark, 0, 5, "a").coalesce(1))
    src = spark.createDataFrame(
        [(1, "x", 0), (1, "y", 0)], "id long, tag string, v long"
    )
    with _p.raises(ValueError, match="duplicate keys"):
        table.merge(spark, src, ["id"])


def test_merge_keeps_callers_cached_source(spark, table):
    """merge persists and releases only a source it cached itself: a
    source the caller cached is still cached afterwards."""
    table.overwrite(_df(spark, 0, 5, "a").coalesce(1))
    src = spark.createDataFrame([(1, "u", 7)], "id long, tag string, v long")
    src.cache()
    try:
        table.merge(spark, src, ["id"])
        assert src.storageLevel.useMemory
    finally:
        src.unpersist()
    src2 = spark.createDataFrame([(2, "u", 8)], "id long, tag string, v long")
    table.merge(spark, src2, ["id"])
    assert not src2.storageLevel.useMemory  # its own persist was released
    assert {r.id: r.v for r in table.read(spark).collect()}[1] == 7


def test_merge_time_travel_sees_pre_merge_state(spark, table):
    s0 = table.overwrite(_df(spark, 0, 5, "a").coalesce(1))
    src = spark.createDataFrame([(0, "u", -1)], "id long, tag string, v long")
    table.merge(spark, src, ["id"])
    old = {r.id: r.tag for r in table.read(spark, s0.version).collect()}
    assert old[0] == "a"  # snapshot isolation across the merge


def test_maintain_rebuilds_bloom_index_after_compaction(spark, table):
    from pyspark.sql import functions as F

    for lo in (0, 100, 200, 300, 400):
        df = (
            spark.range(lo, lo + 100)
            .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
            .coalesce(1)
        )
        table.overwrite(df) if lo == 0 else table.append(df)
    table.index_blooms(spark, ["h"])
    snap = table.maintain(spark, max_files=2, retain_versions=1)
    assert snap.operation == "index"  # compact then re-index
    import hashlib

    t = hashlib.md5(b"250").hexdigest()
    kept = table.files_for(eq={"h": t})
    assert 0 < len(kept) < snap.n_files or snap.n_files == 1
    assert table.read_pruned(spark, eq={"h": t}).count() == 1


def test_index_blooms_conflicts_instead_of_rolling_back(spark, table):
    """An index build based on a non-head snapshot must raise
    CommitConflict, not silently republish the stale file list (which
    would drop concurrently-appended files from the head and let vacuum
    delete them). Same code path as an append landing mid-build: the
    commit's expected parent is the snapshot read at build start."""
    table.overwrite(_df(spark, 0, 10, "a"))
    table.append(_df(spark, 10, 20, "b"))
    head = table.current_version()
    head_files = set(table.snapshot().files)
    with pytest.raises(CommitConflict):
        table.index_blooms(spark, ["tag"], version=0)
    assert table.current_version() == head
    assert set(table.snapshot().files) == head_files


def test_bloom_probes_int_column_containing_nulls(spark, table):
    """int64 + null reaches the pandas bloom build as float64 (5 → 5.0);
    without value canonicalization the probe for 5 hashes '5' against an
    index of '5.0' and read_pruned silently drops matching rows."""
    df1 = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "id long, v long"
    ).coalesce(1)
    df2 = spark.createDataFrame(
        [(4, 100), (5, 200)], "id long, v long"
    ).coalesce(1)
    table.overwrite(df1)
    table.append(df2)
    table.index_blooms(spark, ["v"])
    # min/max already rejects the second file; the bloom must KEEP the
    # first (this is the contract: pruning never changes results)
    assert len(table.files_for(eq={"v": 5})) == 1
    got = table.read_pruned(spark, eq={"v": 5}).collect()
    want = table.read(spark).filter("v = 5").collect()
    assert [r.id for r in got] == [r.id for r in want] == [1]
    # float-form probe canonicalizes to the same key
    assert len(table.files_for(eq={"v": 5.0})) == 1


def test_collect_stats_drops_partially_decodable_columns(tmp_path):
    """A binary column whose stats decode in some row groups only must
    have NO per-file entry (keeping the decodable groups' bounds
    under-covers: files_for would wrongly skip the file, merge would
    leave stale duplicate keys, read_pruned would drop rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t1 = pa.table({"k": pa.array([1, 2]), "b": pa.array([b"aa", b"ab"])})
    t2 = pa.table(
        {"k": pa.array([3, 4]), "b": pa.array([b"\xff\xfe", b"\xff\xff"])}
    )
    path = str(tmp_path / "f.parquet")
    with pq.ParquetWriter(path, t1.schema) as w:
        w.write_table(t1)
        w.write_table(t2)
    stats = ManifestTable._collect_stats([path])
    assert stats[path]["k"] == [1, 4]  # full-file bounds, both row groups
    assert "b" not in stats[path]  # conservative: no under-covering entry


class _RacingTable(ManifestTable):
    """ManifestTable that lets another writer land a commit right before
    this table's own commit — a deterministic interleaving of the race
    window (work done against a stale parent, commit attempted after the
    head advanced)."""

    def __init__(self, root, interloper):
        super().__init__(root)
        self._interloper = interloper
        self._fired = False

    def _commit(self, *a, **k):
        if not self._fired and self._interloper is not None:
            self._fired = True
            self._interloper()
        return super()._commit(*a, **k)


def _merge_src(spark, rows):
    return spark.createDataFrame(rows, "id long, tag string, v long")


def test_concurrent_merges_disjoint_keys_conflict_then_succeed(spark, table):
    """Two interleaved MERGEs on disjoint keys: the loser gets a clean
    CommitConflict (optimistic concurrency — never a silent lost
    update), and a retry against the new head lands BOTH updates."""
    table.overwrite(_df(spark, 0, 20, "base").repartition(2))
    other = ManifestTable(table.root)
    fired = lambda: other.merge(  # noqa: E731
        spark, _merge_src(spark, [(5, "writerB", 500)]), ["id"]
    )
    racing = _RacingTable(table.root, fired)
    src_a = _merge_src(spark, [(15, "writerA", 1500)])
    with pytest.raises(CommitConflict):
        racing.merge(spark, src_a, ["id"])
    # retry against the advanced head succeeds and preserves B's commit
    snap = ManifestTable(table.root).merge(spark, src_a, ["id"])
    assert snap.operation == "merge"
    got = {
        r.id: (r.tag, r.v)
        for r in table.read(spark).filter("id in (5, 15)").collect()
    }
    assert got == {5: ("writerB", 500), 15: ("writerA", 1500)}
    assert table.read(spark).count() == 20  # no duplicate or lost rows


def test_append_retrying_survives_interleaved_commits(spark, table):
    """append_retrying: a writer that stages, loses the commit race to
    an interleaved append, and must transparently re-base onto the new
    head — both writers' rows land exactly once, data staged once."""
    table.overwrite(_df(spark, 0, 10, "base").repartition(2))
    other = ManifestTable(table.root)
    fired = lambda: other.append(_df(spark, 100, 105, "writerB"))  # noqa: E731
    racing = _RacingTable(table.root, fired)
    snap = racing.append_retrying(_df(spark, 200, 203, "writerA"))
    assert snap.operation == "append"
    got = table.read(spark)
    assert got.count() == 10 + 5 + 3  # no lost update, no duplicates
    assert got.filter("id >= 200").count() == 3
    assert got.filter("id >= 100 and id < 200").count() == 5
    # the retry re-used the staged files: exactly one data file set for
    # writer A appears in the final manifest beyond base + writer B's
    assert len(ManifestTable(table.root).versions()) == 3  # v0,B,A


def test_append_retrying_exhausts_and_raises(spark, table):
    """When every retry loses (a pathologically hot table), the writer
    surfaces CommitConflict instead of looping forever."""
    table.overwrite(_df(spark, 0, 5, "base"))
    other = ManifestTable(table.root)

    class _AlwaysLosing(ManifestTable):
        def _commit(self, *a, **k):
            other.append(_df(spark, 900, 902, "hot"))  # head advances
            return super()._commit(*a, **k)

    with pytest.raises(CommitConflict, match="consecutive commit races"):
        _AlwaysLosing(table.root).append_retrying(
            _df(spark, 200, 203, "writerA"), max_retries=2
        )


def test_concurrent_merges_overlapping_keys_conflict_then_last_wins(
    spark, table
):
    """Same key from both writers: loser conflicts cleanly; its retry
    re-reads the winner's head and replaces the row (last-writer-wins
    at retry time — exactly one row per key, never two versions)."""
    table.overwrite(_df(spark, 0, 10, "base").repartition(2))
    other = ManifestTable(table.root)
    fired = lambda: other.merge(  # noqa: E731
        spark, _merge_src(spark, [(7, "writerB", 700)]), ["id"]
    )
    racing = _RacingTable(table.root, fired)
    src_a = _merge_src(spark, [(7, "writerA", 777)])
    with pytest.raises(CommitConflict):
        racing.merge(spark, src_a, ["id"])
    ManifestTable(table.root).merge(spark, src_a, ["id"])
    rows = table.read(spark).filter("id = 7").collect()
    assert len(rows) == 1 and (rows[0].tag, rows[0].v) == ("writerA", 777)
    assert table.read(spark).count() == 10
    # history shows both merges + the conflict left no partial version
    ops = [s.operation for s in table.history()]
    assert ops.count("merge") == 2


def test_concurrent_bloom_index_build_conflicts_with_append(spark, table):
    """An append landing during a bloom-index build: the index commit
    must raise CommitConflict (its file list predates the append) —
    the deterministic twin of the mid-build race."""
    table.overwrite(_df(spark, 0, 50, "a").coalesce(1))
    other = ManifestTable(table.root)
    import datalake_public_spark.sinks.table as table_mod

    fired = lambda: other.append(_df(spark, 50, 60, "late").coalesce(1))  # noqa: E731
    racing = _RacingTable(table.root, fired)
    with pytest.raises(CommitConflict):
        racing.index_blooms(spark, ["tag"])
    # the append's rows are still on the head — nothing rolled back
    assert table.read(spark).count() == 60
    # a clean rebuild against the new head succeeds
    snap = ManifestTable(table.root).index_blooms(spark, ["tag"])
    assert snap.operation == "index"


def test_change_feed_append_delete_merge_compact(spark, table):
    """read_changes: appends are pure inserts, deletes pure deletes,
    merge updates appear as delete+insert pairs, and a compaction
    (pure rewrite) yields an EMPTY feed. The feed always equals the
    full-table multiset diff — pinned directly."""
    table.overwrite(_df(spark, 0, 10, "base").repartition(2))  # v0
    table.append(_df(spark, 10, 14, "more").coalesce(1))  # v1
    feed = table.read_changes(spark, 0, 1)
    assert {r._change_type for r in feed.collect()} == {"insert"}
    assert {r.id for r in feed.collect()} == {10, 11, 12, 13}

    table.delete_where(spark, "id >= 12")  # v2
    feed = table.read_changes(spark, 1, 2).collect()
    assert {(r.id, r._change_type) for r in feed} == {
        (12, "delete"),
        (13, "delete"),
    }

    src = spark.createDataFrame(
        [(5, "updated", 555), (99, "fresh", 990)], "id long, tag string, v long"
    )
    table.merge(spark, src, ["id"])  # v3
    feed = table.read_changes(spark, 2, 3).collect()
    got = {(r.id, r.tag, r._change_type) for r in feed}
    assert (5, "updated", "insert") in got
    assert (5, "base", "delete") in got
    assert (99, "fresh", "insert") in got
    # rows that were only REWRITTEN (same file as id=5) cancel out
    assert all(r.id in (5, 99) for r in feed)

    # feed == full-table multiset diff, both directions
    old, new = table.read(spark, 2), table.read(spark, 3)
    want_ins = {tuple(r) for r in new.exceptAll(old).collect()}
    want_del = {tuple(r) for r in old.exceptAll(new).collect()}
    assert {tuple(r)[:-1] for r in feed if r._change_type == "insert"} == want_ins
    assert {tuple(r)[:-1] for r in feed if r._change_type == "delete"} == want_del

    table.compact(spark, target_file_mb=128)  # v4: pure rewrite
    assert table.read_changes(spark, 3, 4).count() == 0


def test_change_feed_pure_append_has_no_shuffle(spark, table):
    """Appends short-circuit: the feed plan is a scan of the new files
    only — no Exchange (the O(changed files) contract, trivially)."""
    table.overwrite(_df(spark, 0, 1000, "a").coalesce(1))
    table.append(_df(spark, 1000, 1100, "b").coalesce(1))
    feed = table.read_changes(spark, 0, 1)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert feed.count() == 100


def test_restore_rolls_back_as_new_commit(spark, table):
    table.overwrite(_df(spark, 0, 10, "good"))  # v0
    table.overwrite(_df(spark, 0, 3, "bad"))  # v1: destructive mistake
    table.append(_df(spark, 100, 105, "worse"))  # v2
    snap = table.restore(0)  # v3: back to the good contents
    assert snap.version == 3 and snap.operation == "restore:v0"
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == list(range(10))
    # history intact: the bad versions remain readable
    assert table.read(spark, 1).count() == 3
    # stats carried by reference: pruning still works on the restored head
    assert table.snapshot().stats
    pruned = table.read_pruned(spark, {"id": (0, 2)}).collect()
    assert sorted(r.id for r in pruned) == [0, 1, 2]


def test_restore_conflicts_with_racing_writer(spark, table):
    table.overwrite(_df(spark, 0, 5, "a"))
    table.append(_df(spark, 5, 8, "b"))
    racing = _RacingTable(
        table.root,
        lambda: ManifestTable(table.root).append(_df(spark, 8, 9, "c")),
    )
    with pytest.raises(CommitConflict):
        racing.restore(0)
    assert table.read(spark).count() == 9  # nothing rolled back


def test_shallow_clone_is_zero_copy_and_independent(spark, table, tmp_path):
    import glob

    table.overwrite(_df(spark, 0, 20, "src").coalesce(1))
    clone = table.clone_to(str(tmp_path / "clone"))
    assert clone.read(spark).count() == 20
    # zero data copied: the clone root has no data files of its own
    assert glob.glob(f"{clone.root}/data/*/*.parquet") == []
    # independent evolution: clone appends under its own root; the
    # source never sees them
    clone.append(_df(spark, 100, 103, "clone-only").coalesce(1))
    assert clone.read(spark).count() == 23
    assert table.read(spark).count() == 20
    # cloning onto a non-empty root refuses
    with pytest.raises(FileExistsError):
        table.clone_to(str(tmp_path / "clone"))


def test_clone_vacuum_never_deletes_source_files(spark, table, tmp_path):
    table.overwrite(_df(spark, 0, 10, "src").coalesce(1))
    clone = table.clone_to(str(tmp_path / "clone"))
    clone.overwrite(_df(spark, 50, 55, "replaced").coalesce(1))
    deleted = clone.vacuum(retain_versions=1)
    # the clone's v0 referenced SOURCE files — ownership boundary: they
    # must survive the clone's vacuum
    assert deleted == []
    assert table.read(spark).count() == 10
    # and the clone's own staged files DO vacuum normally
    clone.overwrite(_df(spark, 60, 70, "again").coalesce(1))
    assert len(clone.vacuum(retain_versions=1)) > 0
    assert clone.read(spark).count() == 10


def test_compact_zorder_clusters_both_dimensions(spark, table):
    from pyspark.sql import functions as F

    # 2-d uniform grid, written in x-sorted order (y unclustered); big
    # enough that the 1 MB target produces several output files
    df = (
        spark.range(524288)
        .select(
            (F.col("id") % 512).alias("x"),
            (F.col("id") / 512).cast("long").alias("y"),
            F.xxhash64("id").alias("v"),  # incompressible: forces >=4 files
        )
        .orderBy("x")
        .coalesce(1)
    )
    table.overwrite(df)
    snap = table.compact(spark, target_file_mb=1, zorder_by=["x", "y"])
    assert snap.operation == "compact-zorder"
    all_files = set(snap.files)
    assert len(all_files) > 2
    # manifest min/max boxes now prune BOTH dimensions — every file of an
    # x-sorted layout spans all of y, so a y-slice would open them all;
    # here it opens at most half (x holds the lower interleave bit, so
    # an x-slice prunes less, but still prunes)
    x_slice = set(table.files_for({"x": (0, 63)}))
    y_slice = set(table.files_for({"y": (0, 63)}))
    assert len(x_slice) < len(all_files)
    assert len(y_slice) <= len(all_files) // 2
    # and pruned reads stay exact
    want = table.read(spark).filter("y between 0 and 63").count()
    got = table.read_pruned(spark, {"y": (0, 63)}).count()
    assert got == want > 0


def test_compact_zorder_autoreduces_bits_for_many_dims(spark, table):
    """Four z-order columns at the default 16 bits would set a long's
    sign bit (``morton_key`` raises); compaction reduces the resolution
    to 15 bits per column instead, and the rows survive."""
    df = spark.range(200).select(
        F.col("id").alias("a"),
        (F.col("id") * 3 % 97).alias("b"),
        (F.col("id") * 7 % 89).alias("c"),
        (F.col("id") * 11 % 83).alias("d"),
    )
    table.overwrite(df)
    snap = table.compact(spark, target_file_mb=1, zorder_by=["a", "b", "c", "d"])
    assert snap.operation == "compact-zorder"
    assert sorted(table.read(spark).collect()) == sorted(df.collect())


def test_compact_zorder_all_null_column_clusters_on_the_rest(spark, table):
    """An all-null z-order column contributes a constant key term (the
    degenerate-range behavior) instead of crashing normalize_to_bits
    with None bounds (ADVICE r4) — clustering on the usable columns
    still happens, and the commit is honestly labeled compact-zorder."""
    df = spark.range(262144).select(
        (F.col("id") % 256).alias("x"),
        F.lit(None).cast("long").alias("y"),
        F.xxhash64("id").alias("v"),
    )
    table.overwrite(df.coalesce(1))
    snap = table.compact(spark, target_file_mb=1, zorder_by=["x", "y"])
    assert snap.operation == "compact-zorder"
    assert len(snap.files) > 1
    # x still prunes (the usable dimension got clustered)
    assert len(table.files_for({"x": (0, 31)})) < len(snap.files)
    assert table.read(spark).count() == 262144


def test_compact_zorder_no_usable_bounds_falls_back_to_plain(spark, table):
    """When EVERY z-order column is all-null there is nothing to cluster
    — the rewrite must commit as plain 'compact', not lie to readers
    that the files are z-clustered (ADVICE r4)."""
    df = spark.range(65536).select(
        F.lit(None).cast("long").alias("x"),
        F.lit(None).cast("long").alias("y"),
        F.xxhash64("id").alias("v"),
    )
    table.overwrite(df.coalesce(1))
    snap = table.compact(spark, target_file_mb=1, zorder_by=["x", "y"])
    assert snap.operation == "compact"
    assert table.read(spark).count() == 65536


def test_append_retrying_real_concurrent_writers(spark, table):
    """VERDICT r6 item 6: two ACTUAL threads race append_retrying under
    contention (the serial test above simulates staleness; this one
    exercises the live retry loop). Files are pre-staged so both writers
    enter the commit loop together through a barrier, maximizing
    collisions on the same parent. Both must land, history must be a
    linear parent chain, and the head must contain every writer's rows."""
    import threading

    table.overwrite(_df(spark, 0, 5, "base"))
    n_writers = 4
    staged = [
        table._stage_files(_df(spark, 100 * (i + 1), 100 * (i + 1) + 10, f"w{i}"))
        for i in range(n_writers)
    ]
    barrier = threading.Barrier(n_writers)
    results: list = [None] * n_writers
    errors: list = [None] * n_writers

    def writer(i: int) -> None:
        try:
            barrier.wait()
            results[i] = table.append_retrying(
                _df(spark, 100 * (i + 1), 100 * (i + 1) + 10, f"w{i}"),
                _staged=staged[i],
                max_retries=n_writers + 2,
            )
        except Exception as e:  # noqa: BLE001 — reported via assert below
            errors[i] = e

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert all(e is None for e in errors), errors
    assert all(r is not None for r in results)
    # every writer landed on a distinct version; history is one linear chain
    versions = sorted(r.version for r in results)
    assert versions == list(range(1, n_writers + 1))
    hist = table.history()
    assert [s.version for s in hist] == list(range(n_writers + 1))
    assert [s.parent for s in hist] == [None] + list(range(n_writers))
    # the head sees base + all four writers' rows exactly once
    got = table.read(spark)
    assert got.count() == 5 + 10 * n_writers
    tags = {r["tag"] for r in got.select("tag").distinct().collect()}
    assert tags == {"base"} | {f"w{i}" for i in range(n_writers)}
