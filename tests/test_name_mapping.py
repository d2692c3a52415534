"""Name mapping + partitioned add_files (reference
pyiceberg/table/name_mapping.py and table/__init__.py:972-1007,
tests/test_add_files.py)."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark import spec_from_names
from iceberg_python_spark.name_mapping import PROPERTY_KEY, NameMapping
from iceberg_python_spark.schema import schema_from_spark


def _parquet_files(d):
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


def test_name_mapping_round_trip():
    import iceberg_python_spark.types as it
    from iceberg_python_spark.schema import Schema

    s = Schema(it.NestedField(1, "id", it.LongType()), it.NestedField(2, "v", it.DoubleType()))
    nm = NameMapping.from_schema(s)
    back = NameMapping.from_json(nm.to_json())
    assert back.id_for("id") == 1 and back.id_for("v") == 2
    assert back.id_for("missing") is None
    aliased = NameMapping.from_json('[{"field-id": 1, "names": ["id", "IDENT"]}]')
    assert aliased.id_for("IDENT") == 1


def test_add_files_partitioned(catalog, spark, tmp_path):
    df = spark.createDataFrame([(i, f"g{i % 2}", float(i)) for i in range(100)], "id: long, grp: string, val: double")
    schema = schema_from_spark(df.schema)
    t = catalog.create_table("db.addp_t", schema, partition_spec=spec_from_names(schema, "grp"))
    # one external file per partition value (written by plain Spark)
    for g in ("g0", "g1"):
        df.where(F.col("grp") == g).coalesce(1).write.mode("append").parquet(str(tmp_path / g))
    paths = _parquet_files(str(tmp_path / "g0")) + _parquet_files(str(tmp_path / "g1"))
    t.add_files(paths)
    assert t.scan().to_df().count() == 100
    # partition values derived from footer bounds -> pruning works
    tasks = t.scan(row_filter="grp = 'g0'").plan_files()
    assert len(tasks) == 1 and tasks[0].data_file["partition"]["grp"] == "g0"
    got = sorted(r.id for r in t.scan(row_filter="grp = 'g1'").to_df().collect())
    assert got == [i for i in range(100) if i % 2 == 1]


def test_add_files_spanning_partition_rejected(catalog, spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, grp: string")
    schema = schema_from_spark(df.schema)
    t = catalog.create_table("db.adds_t", schema, partition_spec=spec_from_names(schema, "grp"))
    df.coalesce(1).write.parquet(str(tmp_path / "span"))
    with pytest.raises(ValueError, match="spans partition values"):
        t.add_files(_parquet_files(str(tmp_path / "span")))


def test_add_files_transform_partition(catalog, spark, tmp_path):
    """Non-identity transform: bucket partition value derived by applying
    the transform to the (single-valued) source bound."""
    df = spark.createDataFrame([(7, "x"), (7, "y")], "id: long, s: string")
    schema = schema_from_spark(df.schema)
    t = catalog.create_table("db.addb_t", schema, partition_spec=spec_from_names(schema, ("id", "bucket[8]")))
    df.coalesce(1).write.parquet(str(tmp_path / "b"))
    t.add_files(_parquet_files(str(tmp_path / "b")))
    from iceberg_python_spark.transforms import BucketTransform
    from iceberg_python_spark.types import LongType

    expected = BucketTransform(8).transform(LongType())(7)
    tasks = t.scan().plan_files()
    assert tasks[0].data_file["partition"]["id_bucket"] == expected
    assert t.scan().to_df().count() == 2


def test_add_files_idless_aliased_names_via_mapping(catalog, spark, tmp_path):
    """ID-less parquet whose physical column names differ from the schema:
    the name mapping resolves them for stats AND the scan reads through a
    per-file rename recorded in the manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id: long, val: double")
    schema = schema_from_spark(df.schema)
    mapping = '[{"field-id": 1, "names": ["id", "IDENT"]}, {"field-id": 2, "names": ["val", "AMOUNT"]}]'
    t = catalog.create_table("db.addnm_t", schema, properties={PROPERTY_KEY: mapping})
    # write ID-less parquet with the aliased physical names via pyarrow
    foreign = pa.table({"IDENT": pa.array([5, 6], pa.int64()), "AMOUNT": pa.array([50.0, 60.0])})
    p = str(tmp_path / "foreign.parquet")
    pq.write_table(foreign, p)
    t.append(df)
    t.add_files([p])
    rows = sorted((r.id, r.val) for r in t.scan().to_df().collect())
    assert rows == [(1, 10.0), (2, 20.0), (5, 50.0), (6, 60.0)]
    # stats resolved through the mapping -> metrics pruning sees the file
    assert t.scan(row_filter="id >= 5").count() == 2
    got = {r.id for r in t.scan(row_filter="id >= 5").to_df().collect()}
    assert got == {5, 6}


@pytest.mark.parametrize("op", ["cow_delete", "upsert", "incremental_scan", "eq_delete"])
def test_add_files_name_mapped_column_survives_rewrites(catalog, spark, tmp_path, op):
    """An added file whose physical column ``legacy_v`` maps to field
    ``v``: a copy-on-write delete or upsert rewrite carries its rows
    with their ``v`` values, an incremental append scan reads them, and
    an equality delete on ``v`` matches them by field id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = schema_from_spark(spark.createDataFrame([], "id: long, v: double").schema)
    mapping = '[{"field-id": 1, "names": ["id"]}, {"field-id": 2, "names": ["v", "legacy_v"]}]'
    t = catalog.create_table("db.addnm_rw", schema, properties={PROPERTY_KEY: mapping})
    p = str(tmp_path / "legacy.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()), "legacy_v": [10.0, 20.0, 30.0]}), p)
    t.add_files([p])
    if op == "incremental_scan":
        rows = t.incremental_append_scan().to_df().collect()
        assert {r.id: r.v for r in rows} == {1: 10.0, 2: 20.0, 3: 30.0}
        return
    if op == "cow_delete":
        t.delete("id = 2", mode="copy-on-write")
        expected = {1: 10.0, 3: 30.0}
    elif op == "eq_delete":
        t.add_equality_deletes(spark.createDataFrame([(20.0,)], "v: double"), ["v"])
        expected = {1: 10.0, 3: 30.0}
    else:
        t.upsert(spark.createDataFrame([(2, 22.0)], "id: long, v: double"), join_cols=["id"])
        expected = {1: 10.0, 2: 22.0, 3: 30.0}
    assert {r.id: r.v for r in t.scan().to_df().collect()} == expected


def test_add_files_unmappable_column_rejected(catalog, spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame([(1,)], "id: long")
    schema = schema_from_spark(df.schema)
    t = catalog.create_table("db.addrej_t", schema)
    foreign = pa.table({"mystery": pa.array([1], pa.int64())})
    p = str(tmp_path / "m.parquet")
    pq.write_table(foreign, p)
    with pytest.raises(ValueError, match="name mapping"):
        t.add_files([p])
