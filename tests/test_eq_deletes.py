"""Equality-delete read path (reference plans these via
pyiceberg/manifest.py:66 DataFileContent.EQUALITY_DELETES +
table/delete_file_index.py:105; Flink/CDC writers produce them).

Semantics under test: a row is deleted when an equality-delete file with
a STRICTLY HIGHER sequence number matches it on the equality field set;
rows appended at or after the delete's sequence number survive."""

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark.schema import schema_from_spark


@pytest.fixture()
def table(catalog, spark):
    df = spark.createDataFrame([(i, i % 5, float(i)) for i in range(100)], "id: long, grp: int, val: double")
    schema = schema_from_spark(df.schema)
    t = catalog.create_table("db.eqdel_t", schema)
    t.append(df)
    return t


def test_eq_delete_basic(table, spark):
    t = table
    keys = spark.createDataFrame([(i,) for i in range(0, 100, 10)], "id: long")
    t.add_equality_deletes(keys, ["id"])
    t.refresh()
    rows = {r.id for r in t.scan().to_df().collect()}
    assert rows == {i for i in range(100) if i % 10 != 0}
    assert t.scan().count() == 90
    assert t.scan(row_filter="id < 50").count() == 45


def test_eq_delete_sequence_semantics(table, spark):
    """Rows appended AFTER the equality delete are NOT affected (strictly-
    newer rule) — the CDC re-insert case."""
    t = table
    t.add_equality_deletes(spark.createDataFrame([(7,), (8,)], "id: long"), ["id"])
    t.refresh()
    assert {7, 8}.isdisjoint({r.id for r in t.scan().to_df().collect()})
    # re-insert id=7 in a later snapshot: must survive
    t.append(spark.createDataFrame([(7, 2, 777.0)], "id: long, grp: int, val: double"))
    t.refresh()
    vals = {r.id: r.val for r in t.scan().to_df().collect()}
    assert vals[7] == 777.0 and 8 not in vals
    assert t.scan().count() == 99


def test_eq_delete_multi_column(table, spark):
    t = table
    keys = spark.createDataFrame([(1, 1), (2, 2)], "id: long, grp: int")
    t.add_equality_deletes(keys, ["id", "grp"])
    t.refresh()
    rows = {(r.id, r.grp) for r in t.scan().to_df().collect()}
    assert (1, 1) not in rows and (2, 2) not in rows
    assert (3, 3) in rows
    assert len(rows) == 98


def test_eq_delete_with_pos_deletes_and_compact(table, spark):
    t = table
    t.delete("id >= 90", mode="merge-on-read")  # position deletes
    t.refresh()
    t.add_equality_deletes(spark.createDataFrame([(5,)], "id: long"), ["id"])
    t.refresh()
    assert t.scan().to_df().count() == 89
    t.compact()
    t.refresh()
    assert t.scan().to_df().count() == 89
    # compaction cleared both delete kinds
    assert all(not x.delete_files and not x.eq_delete_files for x in t.scan().plan_files())
    assert {r.id for r in t.scan().to_df().collect()} == set(range(90)) - {5}


def test_cow_delete_does_not_resurrect_eq_deleted(table, spark):
    t = table
    t.add_equality_deletes(spark.createDataFrame([(3,)], "id: long"), ["id"])
    t.refresh()
    t.delete("val > 50.0")  # CoW rewrite of partially-matching files
    t.refresh()
    rows = {r.id for r in t.scan().to_df().collect()}
    assert 3 not in rows, "CoW rewrite resurrected an equality-deleted row"
    assert rows == {i for i in range(51) if i != 3}


def test_upsert_on_table_with_eq_deletes(table, spark):
    t = table
    t.add_equality_deletes(spark.createDataFrame([(10,)], "id: long"), ["id"])
    t.refresh()
    src = spark.createDataFrame([(11, 0, -11.0), (10, 0, -10.0)], "id: long, grp: int, val: double")
    res = t.upsert(src, join_cols=["id"])
    # id=10 is eq-deleted, so it's unmatched -> insert; id=11 matched+changed
    assert res.rows_updated == 1 and res.rows_inserted == 1
    t.refresh()
    vals = {r.id: r.val for r in t.scan().to_df().collect()}
    assert vals[10] == -10.0 and vals[11] == -11.0
    assert len(vals) == 100


def test_eq_deletes_round_trip_avro_export(table, spark, tmp_path):
    """A table with live equality deletes exports to real Iceberg Avro
    metadata and reopens via StaticTable with identical content — the
    Flink-written-MoR-table shape end to end."""
    from iceberg_python_spark.table import StaticTable
    from iceberg_python_spark.table.avro_manifests import export_avro_metadata

    t = table
    t.add_equality_deletes(spark.createDataFrame([(4,), (44,)], "id: long"), ["id"])
    t.refresh()
    json_path = export_avro_metadata(t, str(tmp_path / "exported"))
    st = StaticTable.from_metadata(json_path, spark)
    tasks = st.scan().plan_files()
    assert any(x.eq_delete_files for x in tasks), "eq deletes lost in Avro round-trip"
    rows = {r.id for r in st.scan().to_df().collect()}
    assert rows == set(range(100)) - {4, 44}


def test_upsert_eq_delete_matches_cow(spark, tmp_path_factory):
    """upsert(mode='eq-delete') — MERGE as eq-delete files + append,
    O(source) commit — produces the SAME table content as the CoW
    upsert on an identical scenario, with correct counts, and
    compact() reclaims the deletes."""
    from iceberg_python_spark import SqliteCatalog
    from iceberg_python_spark.schema import schema_from_spark

    cat = SqliteCatalog("equps", str(tmp_path_factory.mktemp("wh")), spark)
    base = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(50)], "id: long, s: string, x: double"
    )
    # updates for 0..9 (id%5==0 keep identical values: CoW skips them,
    # eq-delete rewrites them — content must still match), inserts 100..104
    upd = spark.createDataFrame(
        [(i, f"v{i}" if i % 5 == 0 else f"u{i}", float(i)) for i in range(10)]
        + [(100 + i, f"n{i}", -1.0) for i in range(5)],
        "id: long, s: string, x: double",
    )
    for name, mode in (("db.ups_cow", "copy-on-write"), ("db.ups_eq", "eq-delete")):
        t = cat.create_table(name, schema_from_spark(base.schema))
        t.append(base)
        t = cat.load_table(name)
        res = t.upsert(upd, join_cols=["id"], mode=mode)
        if mode == "eq-delete":
            assert (res.rows_updated, res.rows_inserted) == (10, 5)
    get = lambda n: sorted(
        (r.id, r.s, r.x) for r in cat.load_table(n).scan().to_df().collect()
    )
    assert get("db.ups_eq") == get("db.ups_cow")
    # second round on the eq table: re-upsert over rows kept alive only
    # by sequence numbers (delete + re-append of the same keys)
    upd2 = spark.createDataFrame([(3, "w3", 9.0), (200, "n200", 0.0)], "id: long, s: string, x: double")
    t = cat.load_table("db.ups_eq")
    res2 = t.upsert(upd2, join_cols=["id"], mode="eq-delete")
    assert (res2.rows_updated, res2.rows_inserted) == (1, 1)
    rows = {r.id: r.s for r in cat.load_table("db.ups_eq").scan().to_df().collect()}
    assert rows[3] == "w3" and rows[200] == "n200" and rows[5] == "v5" and len(rows) == 56
    # compaction reclaims the delete files; content unchanged
    t = cat.load_table("db.ups_eq")
    t.compact()
    t = cat.load_table("db.ups_eq")
    assert not any(x.eq_delete_files for x in t.scan().plan_files())
    rows2 = {r.id: r.s for r in t.scan().to_df().collect()}
    assert rows2 == rows
    # partial merges are rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="eq-delete"):
        cat.load_table("db.ups_eq").upsert(
            upd2, join_cols=["id"], mode="eq-delete", when_matched_update_all=False
        )


@pytest.mark.parametrize("case", ["delete_then_rename", "rename_then_delete", "delete_then_drop"])
@pytest.mark.parametrize("threshold", ["200000", "0"])
def test_eq_delete_keys_read_under_their_own_schema(table, spark, case, threshold):
    """Equality-delete files are read under the schema they were written
    with and matched to data by field id: a key column renamed or dropped
    after the delete, or renamed before it, keeps deleting the same rows
    (driver-side and streamed distributed reads)."""
    t = table
    t.set_properties({"read.plan.distributed-threshold": threshold})
    keys = {3, 42, 77}
    if case == "rename_then_delete":
        t.update_schema().rename_column("id", "key").commit()
        t.refresh()
        t.add_equality_deletes(spark.createDataFrame([(k,) for k in keys], "key: long"), ["key"])
    else:
        t.add_equality_deletes(spark.createDataFrame([(k,) for k in keys], "id: long"), ["id"])
        t.refresh()
        if case == "delete_then_rename":
            t.update_schema().rename_column("id", "key").commit()
        else:
            t.update_schema().delete_column("id").commit()
    t.refresh()
    rows = t.scan().to_df().collect()
    assert len(rows) == 100 - len(keys)
    assert t.scan().count() == 100 - len(keys)
    if case == "delete_then_drop":
        assert {r.val for r in rows} == {float(i) for i in range(100) if i not in keys}
    else:
        assert {r.key for r in rows} == set(range(100)) - keys


def test_eq_delete_on_column_added_after_data(table, spark):
    """A key column added after a data file was written reads as NULL in
    that file, so a NULL delete key matches the file's rows."""
    from iceberg_python_spark.types import StringType

    t = table
    t.update_schema().add_column("tag", StringType()).commit()
    t.refresh()
    t.append(spark.createDataFrame([(500, 0, 5.0, "x")], "id: long, grp: int, val: double, tag: string"))
    t.refresh()
    t.add_equality_deletes(spark.createDataFrame([(None,)], "tag: string"), ["tag"])
    t.refresh()
    assert [(r.id, r.tag) for r in t.scan().to_df().collect()] == [(500, "x")]
