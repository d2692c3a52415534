"""ORC as a write format (reference io/fileformat.py:147-191
FileFormatModel registry, table property ``write.format.default``): an
ORC table must scan identically to its parquet twin, carry real manifest
stats (so metrics pruning still works), and register ORC in inspect.files."""

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark import spec_from_names
from iceberg_python_spark.schema import schema_from_spark

from .conftest import SF_DIR


@pytest.fixture()
def nation_df(spark):
    return spark.read.parquet(f"{SF_DIR}/nation.parquet")


def _twin_tables(catalog, df, partitioned: bool):
    schema = schema_from_spark(df.schema)
    spec = spec_from_names(schema, ("n_regionkey", "identity")) if partitioned else None
    kw = {"partition_spec": spec} if spec else {}
    orc = catalog.create_table(
        f"db.orc_{partitioned}", schema, properties={"write.format.default": "orc"}, **kw
    )
    pq = catalog.create_table(f"db.pq_{partitioned}", schema, **kw)
    orc.append(df)
    pq.append(df)
    return orc, pq


def test_orc_append_scan_equals_parquet_twin(catalog, nation_df):
    orc, pq = _twin_tables(catalog, nation_df, partitioned=False)
    a = sorted(map(tuple, orc.scan().to_df().collect()))
    b = sorted(map(tuple, pq.scan().to_df().collect()))
    assert a == b
    files = orc.inspect.files()
    assert files.count() > 0
    assert [r.file_format for r in files.select("file_format").distinct().collect()] == ["ORC"]
    assert all(r.file_path.endswith(".orc") for r in files.select("file_path").collect())


def test_orc_partitioned_stats_per_file(catalog, nation_df):
    """Partitioned ORC append: per-file record counts from the manifest
    must equal the data (guards the full-path stats mapping — part-file
    basenames repeat across partition dirs)."""
    orc, _pq = _twin_tables(catalog, nation_df, partitioned=True)
    files = orc.inspect.files().select("file_path", "record_count").collect()
    assert len(files) == nation_df.select("n_regionkey").distinct().count()
    by_manifest = sum(r.record_count for r in files)
    assert by_manifest == nation_df.count()
    for r in files:
        got = orc.spark.read.orc(r.file_path).count()
        assert got == r.record_count


def test_orc_filter_scan_and_metrics_pruning(catalog, nation_df):
    orc, _pq = _twin_tables(catalog, nation_df, partitioned=True)
    got = orc.scan(row_filter="n_regionkey >= 2").to_df().count()
    want = nation_df.where("n_regionkey >= 2").count()
    assert got == want
    # identity-partitioned filter prunes files at plan time
    tasks = orc.scan(row_filter="n_regionkey = 0").plan_files()
    assert len(tasks) == 1


def test_orc_delete_cow(catalog, nation_df):
    orc, _pq = _twin_tables(catalog, nation_df, partitioned=False)
    orc.delete("n_nationkey < 5")
    orc.refresh()
    assert orc.scan().to_df().count() == nation_df.where("n_nationkey >= 5").count()
    files = orc.inspect.files()
    assert [r.file_format for r in files.select("file_format").distinct().collect()] == ["ORC"]


def test_orc_mor_delete_raises_honestly(catalog, nation_df):
    """Spark only exposes per-row positions (_metadata.row_index) for
    parquet, so position-delete MoR over ORC must refuse loudly rather
    than write null positions."""
    orc, _pq = _twin_tables(catalog, nation_df, partitioned=False)
    with pytest.raises(NotImplementedError, match="row_index"):
        orc.delete("n_nationkey < 5", mode="merge-on-read")


def test_bad_format_rejected(catalog, nation_df):
    schema = schema_from_spark(nation_df.schema)
    t = catalog.create_table("db.badfmt", schema, properties={"write.format.default": "avro"})
    with pytest.raises(ValueError, match="write.format.default"):
        t.append(nation_df)


def test_orc_row_lineage_raises_honestly(catalog, nation_df):
    """v3 _row_id is first_row_id + row position, which Spark only exposes
    for parquet: a lineage scan over ORC files must refuse, not return
    NULL row ids."""
    schema = schema_from_spark(nation_df.schema)
    orc = catalog.create_table(
        "db.orc_v3", schema, properties={"write.format.default": "orc", "format-version": "3"}
    )
    orc.append(nation_df)
    orc.refresh()
    with pytest.raises(NotImplementedError, match="row_index"):
        orc.scan().to_df(row_lineage=True)


def test_orc_changelog_position_delete_raises_honestly(catalog, nation_df, spark):
    """The changelog recovers position-deleted rows by joining on row
    positions; over ORC files (no positions in Spark's reader) it must
    refuse rather than drop the delete rows."""
    from iceberg_python_spark.table.snapshots import Operation

    orc, _pq = _twin_tables(catalog, nation_df, partitioned=False)
    orc.refresh()
    path = orc.scan().plan_files()[0].file_path
    with orc.transaction() as tx:
        dels = tx._write_pos_delete_rows(spark.createDataFrame([(path, 0)], "file_path: string, pos: long"))
        tx._commit_snapshot(Operation.DELETE, dels)
    orc.refresh()
    with pytest.raises(NotImplementedError, match="row_index"):
        orc.incremental_changelog_scan().to_df()
