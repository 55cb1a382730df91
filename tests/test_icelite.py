"""IcebergLite snapshot layer (SURVEY.md §7.4): append, dynamic partition
overwrite, incremental read, manifest-level partition pruning, atomicity."""

from __future__ import annotations

import os

import pytest

from antnre_spark.icelite import IceLite


@pytest.fixture()
def table(tmp_path):
    return IceLite(str(tmp_path / "tbl"))


def df_of(spark, rows):
    return spark.createDataFrame(rows, ["k", "part", "v"])


class TestAppend:
    def test_append_accumulates(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10)]), ["part"])
        table.append(df_of(spark, [(2, "b", 20)]), ["part"])
        assert table.snapshots() == [0, 1]
        got = {(r["k"], r["part"], r["v"]) for r in table.load(spark).collect()}
        assert got == {(1, "a", 10), (2, "b", 20)}
        assert table.total_rows() == 2

    def test_time_travel(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10)]), ["part"])
        table.append(df_of(spark, [(2, "b", 20)]), ["part"])
        old = table.load(spark, snapshot=0)
        assert [r["k"] for r in old.collect()] == [1]


class TestOverwritePartitions:
    def test_only_touched_partitions_replaced(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10), (2, "b", 20)]), ["part"])
        table.overwrite_partitions(df_of(spark, [(3, "a", 30)]), ["part"])
        got = {(r["k"], r["part"]) for r in table.load(spark).collect()}
        assert got == {(3, "a"), (2, "b")}

    def test_one_file_per_partition_value(self, spark, table):
        """A partitioned write emits one file per partition value however
        many tasks feed it (Iceberg's hash write distribution), not one
        per (upstream task, partition value) pair."""
        rows = [(i, "abc"[i % 3], i * 10) for i in range(96)]
        df = df_of(spark, rows).repartition(16)
        table.overwrite_partitions(df, ["part"])
        files = table.manifest(table.current_snapshot())["files"]
        assert sorted(f["partitions"]["part"] for f in files) == ["a", "b", "c"]
        got = sorted(tuple(r) for r in table.load(spark).select("k", "part", "v").collect())
        assert got == sorted(rows)

    def test_overwrite_is_idempotent(self, spark, table):
        data = df_of(spark, [(1, "a", 10)])
        table.overwrite_partitions(data, ["part"])
        table.overwrite_partitions(data, ["part"])
        assert table.load(spark).count() == 1


class TestFullOverwrite:
    def test_replaces_everything_keeps_time_travel(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10), (2, "b", 20)]), ["part"])
        table.overwrite(df_of(spark, [(3, "c", 30)]))
        got = {(r["k"], r["part"]) for r in table.load(spark).collect()}
        assert got == {(3, "c")}  # prior rows GONE from the live view
        # but snapshot 0 still readable until expiry
        assert table.load(spark, snapshot=0).count() == 2
        rep = table.expire_snapshots(keep_last=1)
        assert rep["expired_snapshots"] == 1 and rep["removed_files"] > 0
        assert table.load(spark).count() == 1

    def test_rerun_does_not_stack(self, spark, table):
        data = df_of(spark, [(1, "a", 10), (2, "b", 20)])
        for _ in range(3):
            table.overwrite(data)
        assert table.total_rows() == 2


class TestIncremental:
    def test_incremental_reads_only_new_files(self, spark, table):
        s0 = table.append(df_of(spark, [(1, "a", 10)]), ["part"])
        table.append(df_of(spark, [(2, "b", 20)]), ["part"])
        inc = table.incremental(spark, since_snapshot=s0)
        assert [r["k"] for r in inc.collect()] == [2]

    def test_incremental_from_none_is_full(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10)]), ["part"])
        assert table.incremental(spark, None).count() == 1


class TestPartitionPruning:
    def test_manifest_prunes_files(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]), ["part"])
        pruned = table.load(spark, partition_filter={"part": ["a", "c"]})
        assert {r["part"] for r in pruned.collect()} == {"a", "c"}
        # and the partition column survives the read
        assert "part" in pruned.columns
        # manifest row counts honour the same filter, no scan
        assert table.total_rows(partition_filter={"part": ["a", "c"]}) == 2
        assert table.total_rows(partition_filter={"part": ["z"]}) == 0


class TestAtomicity:
    def test_no_partial_manifest_visible(self, spark, table):
        table.append(df_of(spark, [(1, "a", 10)]), ["part"])
        # a leftover tmp manifest must be invisible to readers
        tmp = os.path.join(table.manifest_dir, ".tmp-snap-99.json")
        with open(tmp, "w") as f:
            f.write("{}")
        assert table.snapshots() == [0]
        assert table.current_snapshot() == 0

    def test_concurrent_commit_loses_instead_of_clobbering(self, spark, table):
        """Two writers racing to the same snapshot id: the second commit
        must raise ConcurrentCommitError, not silently overwrite the
        winner's manifest (r5 ADVICE — jobs/compact.py vs a live
        streaming micro-batch). Simulated by handing _commit a stale
        parent after another commit landed."""
        from antnre_spark.icelite import ConcurrentCommitError

        table.append(df_of(spark, [(1, "a", 10)]), ["part"])  # snap 0
        parent = table.current_snapshot()
        # winner commits snap 1 first
        table.append(df_of(spark, [(2, "b", 20)]), ["part"])
        winner = table.manifest(1)
        # loser tries to commit snap 1 from the stale parent read
        with pytest.raises(ConcurrentCommitError):
            table._commit([], parent, "compact")
        assert table.manifest(1) == winner  # untouched
        # no tmp litter left behind
        assert not [
            n for n in os.listdir(table.manifest_dir) if n.startswith(".tmp")
        ]

    def test_losing_writer_cannot_touch_winner_data(self, spark, table):
        """The full data-level race (r6 review): both writers derive snap
        id 1, BOTH write their data files (writer-unique dirs mean neither
        rmtrees/renames over the other), the loser's commit raises and its
        orphaned data dir is cleaned; the winner's rows stay intact."""
        from antnre_spark.icelite import ConcurrentCommitError

        table.append(df_of(spark, [(1, "a", 10)]), ["part"])  # snap 0
        parent = table.current_snapshot()
        table.append(df_of(spark, [(2, "b", 20)]), ["part"])  # winner snap 1
        loser_files = table._write_files(
            df_of(spark, [(3, "c", 30)]), 1, ["part"]
        )
        loser_dir = loser_files[0]["path"].split(os.sep)[0]
        assert os.path.isdir(os.path.join(table.data_dir, loser_dir))
        with pytest.raises(ConcurrentCommitError):
            table._commit_or_clean(loser_files, parent, "append", loser_files)
        # loser's published-but-uncommitted data dir got cleaned up
        assert not os.path.isdir(os.path.join(table.data_dir, loser_dir))
        # winner's table is exactly as committed
        assert sorted(r["part"] for r in table.load(spark).collect()) == ["a", "b"]


class TestMaintenance:
    """r4 verdict task 8: small-file compaction + snapshot expiry."""

    def test_compact_reduces_files_keeps_rows(self, spark, table):
        # 6 appends x 1 row per partition -> many small files
        for i in range(6):
            table.append(df_of(spark, [(i, "a", i * 10), (i, "b", i * 10 + 1)]), ["part"])
        before = table.manifest(table.current_snapshot())["files"]
        rows_before = sorted(
            tuple(r) for r in table.load(spark).select("k", "part", "v").collect()
        )
        assert len(before) >= 12
        rep = table.compact(spark)
        assert rep["compacted_partitions"] == 2
        after = table.manifest(table.current_snapshot())["files"]
        assert len(after) == 2  # one file per partition
        assert table.manifest(table.current_snapshot())["operation"] == "compact"
        rows_after = sorted(
            tuple(r) for r in table.load(spark).select("k", "part", "v").collect()
        )
        assert rows_after == rows_before
        assert table.total_rows() == len(rows_before)
        # idempotent: second compact is a no-op commit-skip
        rep2 = table.compact(spark)
        assert rep2["compacted_partitions"] == 0

    def test_compact_unpartitioned_table(self, spark, table):
        for i in range(4):
            table.append(df_of(spark, [(i, "a", i)]))
        rows_before = sorted(tuple(r) for r in table.load(spark).collect())
        rep = table.compact(spark)
        assert rep["files_after"] == 1
        assert sorted(tuple(r) for r in table.load(spark).collect()) == rows_before

    def test_expire_snapshots_removes_dead_files(self, spark, table):
        import pathlib

        # overwrite the same partition 5 times: 4 dead file generations
        for i in range(5):
            table.overwrite_partitions(df_of(spark, [(i, "a", i)]), ["part"])
        all_parquet = lambda: [
            p for p in pathlib.Path(table.data_dir).rglob("*.parquet")
        ]
        n_before = len(all_parquet())
        assert n_before >= 5
        rows_before = sorted(tuple(r) for r in table.load(spark).collect())
        rep = table.expire_snapshots(keep_last=2)
        assert rep["expired_snapshots"] == 3
        assert table.snapshots() == [3, 4]
        assert len(all_parquet()) < n_before
        # current snapshot still reads, rows identical
        assert sorted(tuple(r) for r in table.load(spark).collect()) == rows_before
        # every kept manifest's files still exist on disk
        for s in table.snapshots():
            for f in table.manifest(s)["files"]:
                assert os.path.exists(os.path.join(table.data_dir, f["path"]))

    def test_maintenance_after_resume_style_commits(self, spark, table):
        """compact + expire on a table shaped like the pipeline's
        per-bucket resume commits (many overwrite_partitions snapshots),
        then verify load() equality — the jobs/compact.py contract."""
        for b in range(4):
            table.overwrite_partitions(
                df_of(spark, [(b, str(b % 2), b * 7)]), ["part"]
            )
        rows = sorted(tuple(r) for r in table.load(spark).collect())
        table.compact(spark)
        table.expire_snapshots(keep_last=2)
        assert sorted(tuple(r) for r in table.load(spark).collect()) == rows
