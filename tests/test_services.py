"""Table services: schema evolution, partition evolution, snapshot
management (tags/branches/rollback), expiration + orphan GC, inspect
tables."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark import spec_from_names
from iceberg_python_spark.schema import schema_from_spark
from iceberg_python_spark.types import DoubleType, LongType, StringType


@pytest.fixture()
def table(catalog, spark):
    df = spark.createDataFrame([(i, f"n{i}", float(i)) for i in range(20)], "id: long, name: string, val: double")
    t = catalog.create_table("db.svc", schema_from_spark(df.schema))
    t.append(df)
    return t


def test_schema_evolution_rename_add_read_old_files(table, spark):
    t = table
    t.update_schema().rename_column("name", "label").add_column("extra", StringType()).commit()
    t.refresh()
    assert t.schema().column_names == ["id", "label", "val", "extra"]
    # old files resolve by field id: renamed column keeps its values
    rows = t.scan().to_df().collect()
    assert {r.label for r in rows} == {f"n{i}" for i in range(20)}
    assert all(r.extra is None for r in rows)
    # new appends carry the new schema; both file generations union correctly
    t.append(spark.createDataFrame([(100, "new", 1.0, "x")], "id: long, label: string, val: double, extra: string"))
    got = t.scan(row_filter="id = 100").to_df().collect()
    assert got[0].extra == "x"
    assert t.scan().to_df().count() == 21


@pytest.mark.parametrize("op", ["compact", "cow_delete", "mor_delete", "upsert", "filtered_count"])
def test_renamed_column_survives_rewrites_and_counts(catalog, spark, op):
    """Files written before a rename resolve the renamed column by field
    id on every read path: compaction, copy-on-write delete and upsert
    rewrite their rows with the old values, a merge-on-read delete
    filtering on the renamed column finds its rows, and a filtered count
    sees them."""
    schema = schema_from_spark(spark.createDataFrame([], "id: long, v: long").schema)
    t = catalog.create_table("db.ren_rw", schema)
    for lo in (0, 5):  # one file per append, so rewrites carry untouched rows
        t.append(spark.range(lo, lo + 5).select("id", (F.col("id") * 10).alias("v")).coalesce(1))
    t.update_schema().rename_column("v", "w").commit()
    t.refresh()
    expected = {i: i * 10 for i in range(10)}
    if op == "filtered_count":
        assert t.scan(row_filter="w >= 50").count() == 5
        return
    if op == "compact":
        t.compact()
    elif op == "cow_delete":
        t.delete("id = 3", mode="copy-on-write")
        del expected[3]
    elif op == "mor_delete":
        t.delete("w = 30", mode="merge-on-read")
        del expected[3]
    else:
        t.upsert(spark.createDataFrame([(3, 333), (42, 420)], "id: long, w: long"), join_cols=["id"])
        expected.update({3: 333, 42: 420})
    assert {r.id: r.w for r in t.scan().to_df().collect()} == expected


def test_schema_evolution_type_promotion(catalog, spark):
    df = spark.createDataFrame([(1, 2.0)], "a: int, b: float")
    t = catalog.create_table("db.promo", schema_from_spark(df.schema))
    t.append(df)
    t.update_schema().update_column_type("a", LongType()).update_column_type("b", DoubleType()).commit()
    t.refresh()
    row = t.scan().to_df().collect()[0]
    assert row.a == 1 and abs(row.b - 2.0) < 1e-6
    with pytest.raises(ValueError):
        t.update_schema().update_column_type("a", StringType()).commit()


def test_delete_column(table):
    t = table
    t.update_schema().delete_column("val").commit()
    t.refresh()
    assert t.schema().column_names == ["id", "name"]
    assert "val" not in t.scan().to_df().columns


def test_partition_evolution(catalog, spark):
    df = spark.createDataFrame([(i, f"g{i%3}") for i in range(30)], "id: long, grp: string")
    t = catalog.create_table("db.pevo", schema_from_spark(df.schema))
    t.append(df)
    t.update_spec().add_field("grp", "identity").commit()
    t.refresh()
    assert t.spec().field_names() == ["grp"]
    t.append(df)
    # scan covers both old (unpartitioned) and new (partitioned) files
    assert t.scan().to_df().count() == 60
    # pruning works on the new files; old-spec files can't prune but still scan
    tasks = t.scan(row_filter="grp = 'g0'").plan_files()
    assert t.scan(row_filter="grp = 'g0'").to_df().count() == 20


def test_tags_branches_rollback(table, spark):
    t = table
    s1 = t.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([(999, "z", 0.0)], "id: long, name: string, val: double"))
    s2 = t.current_snapshot().snapshot_id
    t.manage_snapshots().create_tag(s1, "v1").create_branch(s2, "dev").commit()
    t.refresh()
    assert t.refs()["v1"].snapshot_id == s1
    assert t.scan(use_ref="v1").to_df().count() == 20
    assert t.scan(use_ref="dev").to_df().count() == 21
    t.manage_snapshots().rollback_to_snapshot(s1).commit()
    t.refresh()
    assert t.scan().to_df().count() == 20
    with pytest.raises(ValueError):
        t.manage_snapshots().create_tag(12345, "bad").commit()


def test_expire_snapshots_gc(table, spark):
    t = table
    s1 = t.current_snapshot().snapshot_id
    t.delete("id < 10")  # rewrites files -> s1's originals become unreferenced
    t.refresh()
    files_before = set()
    for task in t.scan(snapshot_id=s1).plan_files():
        files_before.add(task.file_path)
    removed = t.expire_snapshots().expire_snapshot_id(s1).commit()
    t.refresh()
    assert len(t.snapshots()) == 1
    assert t.scan().to_df().count() == 10  # current state intact
    # orphaned data files physically removed
    assert any(p in files_before for p in removed)
    for p in removed:
        assert not os.path.exists(p)


def test_inspect_tables(table, spark):
    t = table
    t.append(spark.createDataFrame([(55, "x", 5.0)], "id: long, name: string, val: double"))
    snaps = t.inspect.snapshots()
    assert snaps.count() == 2
    assert set(snaps.select("operation").distinct().toPandas()["operation"]) == {"append"}
    files = t.inspect.files()
    assert files.count() >= 2
    total = t.inspect.partitions().agg(F.sum("record_count")).collect()[0][0]
    assert total == 21
    assert t.inspect.refs().count() >= 1
    assert t.inspect.history().count() == 2
    assert t.inspect.entries().count() >= 2
    assert t.inspect.metadata_log_entries().count() >= 2


def test_manifest_merge_on_append(catalog, spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "id: long")
    t = catalog.create_table(
        "db.merge_manifests", schema_from_spark(df.schema),
        properties={"commit.manifest-merge.enabled": "true", "commit.manifest.min-count-to-merge": "4"},
    )
    snaps = []
    for i in range(6):
        t.append(df.withColumn("id", df.id + i * 100))
        snaps.append(t.current_snapshot().snapshot_id)
    t.refresh()
    # far fewer manifests than commits
    assert t.inspect.manifests().count() < 6
    assert t.scan().to_df().count() == 60
    assert t.scan(row_filter="id >= 500").to_df().count() == 10
    # incremental scans across merged history still see exactly each batch
    inc = t.incremental_append_scan(from_snapshot_id_exclusive=snaps[3], to_snapshot_id_inclusive=snaps[4])
    assert inc.to_df().count() == 10
    assert {r.id for r in inc.to_df().collect()} == {400 + i for i in range(10)}


def test_rewrite_manifests(catalog, spark):
    """Manifest consolidation: many per-commit manifests collapse to one
    without touching data files; scans and incremental history unaffected."""
    from iceberg_python_spark.schema import schema_from_spark
    from pyspark.sql import functions as F

    df0 = spark.range(10).withColumn("v", F.col("id"))
    t = catalog.create_table("db.rwm", schema_from_spark(df0.schema))
    snaps = []
    for i in range(5):
        t.append(spark.range(i * 10, i * 10 + 10).withColumn("v", F.col("id")))
        t.refresh()
        snaps.append(t.current_snapshot().snapshot_id)
    before_files = {e["data_file"]["file_path"] for e in t._live_entries(t.current_snapshot())}
    n_manifests_before = len(t._live_manifests(t.current_snapshot()))
    assert n_manifests_before == 5
    n_after = t.rewrite_manifests()
    t.refresh()
    assert n_after == 1
    assert len(t.metadata.snapshots) == 6
    assert t.current_snapshot().operation == "replace"
    # identical data files, identical rows
    after_files = {e["data_file"]["file_path"] for e in t._live_entries(t.current_snapshot())}
    assert after_files == before_files
    assert t.scan().to_df().count() == 50
    # incremental scan over the historical range still works (old
    # snapshots keep their own manifest lists)
    inc = t.incremental_append_scan(from_snapshot_id_exclusive=snaps[2]).to_df()
    assert inc.count() == 20
    # idempotent: second call is a no-op
    assert t.rewrite_manifests() == 0


def test_upgrade_format_version_and_position_deletes(catalog, spark):
    from iceberg_python_spark.schema import schema_from_spark
    from pyspark.sql import functions as F
    import pytest as _pytest

    df = spark.range(50).withColumn("v", F.col("id"))
    t = catalog.create_table("db.upgr", schema_from_spark(df.schema))
    t.append(df)
    assert t.metadata.format_version == 2
    t.delete("id < 5", mode="merge-on-read")
    t.refresh()
    # position_deletes metadata table exposes the live (file, pos) rows
    pd_rows = t.inspect.position_deletes().collect()
    assert len(pd_rows) == 5
    # upgrade to v3: next-row-id starts past the current row count
    t.upgrade_format_version(3)
    t.refresh()
    assert t.metadata.format_version == 3
    assert t.metadata.next_row_id == 50
    # pre-upgrade rows have no ids (never assigned); new appends do
    out = {r.id: r._row_id for r in t.scan().to_df(row_lineage=True).collect()}
    assert all(v is None for k, v in out.items() if k < 50)
    t.append(spark.createDataFrame([(100, 1)], "id: long, v: long"))
    t.refresh()
    out2 = {r.id: r._row_id for r in t.scan().to_df(row_lineage=True).collect()}
    assert out2[100] == 50
    with _pytest.raises(ValueError, match="downgrade"):
        t.upgrade_format_version(2)


def test_rewrite_manifests_replayed_on_cas_retry(catalog, spark):
    """A CAS-retry rebase replays only staged ops; rewrite_manifests must
    stage a replayable marker or a mixed transaction silently drops its
    consolidation snapshot."""
    from iceberg_python_spark.schema import schema_from_spark
    from pyspark.sql import functions as F

    df0 = spark.range(10).withColumn("v", F.col("id"))
    t = catalog.create_table("db.rwm_cas", schema_from_spark(df0.schema))
    for i in range(5):
        t.append(spark.range(i * 10, i * 10 + 10).withColumn("v", F.col("id")))
        t.refresh()
    t2 = catalog.load_table("db.rwm_cas")
    with t.transaction() as tx:
        assert tx.rewrite_manifests() == 1
        # concurrent append lands first -> tx's commit CAS-fails and
        # replays its staged ops on the fresh base
        t2.append(spark.range(100, 110).withColumn("v", F.col("id")))
    t.refresh()
    ops = [s.operation for s in t.metadata.snapshots]
    assert "replace" in ops, ops
    assert t.scan().to_df().count() == 60  # 5x10 + concurrent 10
    # the replayed consolidation really ran on the fresh base
    assert len(t._live_manifests(t.current_snapshot())) == 1


def test_update_column_and_write_default(catalog, spark):
    """update_column (combined type/required/doc) and set_default_value:
    the v3 write-default fills the column when absent from incoming data
    (spec write-default; reference update/schema.py:284,:439), while
    existing rows keep their values; initial-default stays immutable."""
    from iceberg_python_spark.types import DoubleType, IntegerType, LongType, StringType

    df = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")], "id: long, v: double, s: string")
    t = catalog.create_table("db.defaults_t", schema_from_spark(df.schema))
    t.append(df)

    t.update_schema().update_column("s", doc="label column").commit()
    assert t.schema().find_field("s").doc == "label column"
    with pytest.raises(ValueError, match="required"):
        t.update_schema().update_column("s", required=True).commit()

    t.update_schema().add_column("region", StringType()).commit()
    t.update_schema().set_default_value("region", "unknown").commit()
    assert t.schema().find_field("region").write_default == "unknown"

    # incoming data WITHOUT the column gets the write default...
    t.append(spark.createDataFrame([(3, 3.0, "c")], "id: long, v: double, s: string"))
    rows = {r.id: r.region for r in t.scan().to_df().collect()}
    assert rows[3] == "unknown"
    # ...pre-default rows read as their stored value (null — the column
    # was added with no initial default)
    assert rows[1] is None and rows[2] is None
    # explicit values still win over the default
    t.append(spark.createDataFrame([(4, 4.0, "d", "emea")], "id: long, v: double, s: string, region: string"))
    rows = {r.id: r.region for r in t.refresh().scan().to_df().collect()}
    assert rows[4] == "emea" and rows[3] == "unknown"


def test_transaction_scoped_ddl(catalog, spark):
    """Reference Transaction.update_schema/update_spec parity: DDL staged
    inside a transaction lands in ONE atomic metadata swap with the data
    ops; later writes in the same transaction already see the new
    schema; nothing is visible before commit_transaction; a CAS-retry
    rebase replays the DDL on the refreshed base."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, s: string")
    t = catalog.create_table("db.txn_ddl", schema_from_spark(df.schema))
    t.append(df)
    v0 = t.metadata_location

    with t.transaction() as tx:
        tx.update_schema().add_column("score", DoubleType()).commit()
        tx.update_sort_order().asc("id").commit()
        # the SAME transaction writes data carrying the new column
        tx.append(spark.createDataFrame([(3, "c", 1.5)], "id: long, s: string, score: double"))
        # nothing visible outside the transaction yet
        outside = catalog.load_table("db.txn_ddl")
        assert outside.metadata_location == v0
        assert len(outside.schema().fields) == 2
    t.refresh()
    assert [f.name for f in t.schema().fields] == ["id", "s", "score"]
    assert t.sort_order().fields and t.sort_order().fields[0].direction == "asc"
    rows = {r.id: r.score for r in t.scan().to_df().collect()}
    assert rows[3] == 1.5 and rows[1] is None

    # CAS-retry: a concurrent commit lands between the transaction's read
    # and its commit; staged DDL + append must replay onto the new base
    t1 = catalog.load_table("db.txn_ddl")
    tx2 = t1.transaction()
    tx2.update_schema().add_column("extra", StringType()).commit()
    tx2.append(spark.createDataFrame([(4, "d", 2.0, "x")], "id: long, s: string, score: double, extra: string"))
    # concurrent writer wins first
    t2 = catalog.load_table("db.txn_ddl")
    t2.append(spark.createDataFrame([(9, "z", 9.0)], "id: long, s: string, score: double"))
    tx2.commit_transaction()
    t1.refresh()
    assert {f.name for f in t1.schema().fields} == {"id", "s", "score", "extra"}
    got = {r.id: r.extra for r in t1.scan().to_df().collect()}
    assert got[4] == "x" and got[9] is None and len(got) == 5


def test_manifest_merge_target_size_bytes(catalog, spark):
    """commit.manifest.target-size-bytes (the reference's byte-sized
    merge knob) bounds merged manifest size via the observed
    bytes-per-entry: a tiny target forces multiple output manifests."""
    from iceberg_python_spark.schema import schema_from_spark

    df = spark.createDataFrame([(i, f"v{i}") for i in range(8)], "id: long, v: string")
    t = catalog.create_table(
        "db.merge_bytes",
        schema_from_spark(df.schema),
        properties={
            "commit.manifest-merge.enabled": "true",
            "commit.manifest.min-count-to-merge": "4",
            # far below one entry's size -> per_entry floor keeps
            # target at >=1 entry per manifest (no merge collapse)
            "commit.manifest.target-size-bytes": "1",
        },
    )
    for i in range(6):
        t.append(df.where(F.col("id") == i).repartition(1))
        t = catalog.load_table("db.merge_bytes")
    from iceberg_python_spark.table.manifests import read_manifest_list

    mfs = read_manifest_list(
        t.current_snapshot().manifest_list, t.metadata.spec_by_id, t.metadata.schema()
    )
    # merge ran (min-count hit) but the 1-byte target kept one entry per
    # output manifest: count stays >= entries, and the table still reads
    assert len(mfs) >= 6
    assert t.scan().to_df().count() == 6
    # a generous byte target consolidates down to one manifest
    t.set_properties({"commit.manifest.target-size-bytes": str(64 * 1024 * 1024)})
    t = catalog.load_table("db.merge_bytes")
    t.rewrite_manifests()
    t = catalog.load_table("db.merge_bytes")
    mfs2 = read_manifest_list(
        t.current_snapshot().manifest_list, t.metadata.spec_by_id, t.metadata.schema()
    )
    assert len(mfs2) == 1 and t.scan().to_df().count() == 6
