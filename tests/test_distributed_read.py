"""Streaming distributed read: above the distributed-planning threshold
the scan must stay distributed INTO the read — the surviving file list is
written as a transient path manifest by a Spark job and consumed by the
Python DataSource's planned-manifest mode; the driver never materializes
file paths (r08 SCALE.md known limit, VERDICT r08 #2).

Covered here:
- plan parity: the streamed path reads exactly the files the exact
  task-list planner would (file count via metrics pruning) and returns
  value-identical rows;
- plan shape: ``plan_files`` is never called on the streamed path (a
  raising monkeypatch proves no driver task list is built);
- fallbacks: delete files (MoR), renamed-column schema evolution, and
  the ``read.plan.distributed-read=false`` opt-out all take the exact
  task-list path;
- empty results and limit/projection behavior.
"""

import pytest
from pyspark.sql import functions as F

from iceberg_python_spark.schema import schema_from_spark

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    from iceberg_python_spark import SqliteCatalog

    return SqliteCatalog("distread", str(tmp_path_factory.mktemp("wh")), spark)


@pytest.fixture(scope="module")
def table(cat, spark):
    """Four appends split by ORDERKEY RANGE, so an orderkey filter
    genuinely prunes files via min/max metrics. threshold=0 forces the
    distributed path at test scale."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    t = cat.create_table(
        "db.li_ranges",
        schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    hi = df.agg(F.max("l_orderkey")).first()[0]
    step = hi // 4 + 1
    for i in range(4):
        t.append(df.where((F.col("l_orderkey") >= i * step) & (F.col("l_orderkey") < (i + 1) * step)))
    return cat.load_table("db.li_ranges")


def _exact_twin(cat, name):
    t = cat.load_table(name)
    t.set_properties({"read.plan.distributed-read": "false"})
    return cat.load_table(name)


def test_streamed_matches_tasklist_values_and_pruning(cat, table, spark):
    flt = "l_orderkey < 100 and l_quantity > 10"
    sel = ("l_orderkey", "l_quantity", "l_shipdate")
    scan = table.scan(row_filter=flt, selected_fields=sel)
    streamed = scan.to_df()
    info = scan._streaming_plan_info
    assert info["plan_dir"] is not None

    exact = _exact_twin(cat, "db.li_ranges")
    tasks = exact.scan(row_filter=flt).plan_files()
    # metrics pruning: the low-orderkey filter must prune the upper
    # range files on BOTH paths, identically
    assert 1 <= len(tasks) < 4
    assert info["n_files"] == len(tasks)

    a = streamed.toPandas().sort_values(list(sel)).reset_index(drop=True)
    b = (
        exact.scan(row_filter=flt, selected_fields=sel)
        .to_df()
        .toPandas()
        .sort_values(list(sel))
        .reset_index(drop=True)
    )
    assert a.equals(b)
    # restore the property for other tests
    cat.load_table("db.li_ranges").set_properties({"read.plan.distributed-read": "true"})


def test_streamed_path_never_builds_task_list(cat, table, monkeypatch, spark):
    import iceberg_python_spark.table as tbl

    def boom(*a, **k):
        raise AssertionError("plan_files called on the streamed path")

    monkeypatch.setattr(tbl.DataScan, "plan_files", boom)
    scan = cat.load_table("db.li_ranges").scan(
        row_filter="l_quantity > 45", selected_fields=("l_orderkey",)
    )
    n = scan.to_df().count()
    assert n > 0 and scan._streaming_plan_info["n_files"] == 4


def test_streamed_empty_result_schema(cat, table):
    scan = cat.load_table("db.li_ranges").scan(
        row_filter="l_quantity > 1000000", selected_fields=("l_orderkey", "l_quantity")
    )
    df = scan.to_df()
    assert df.columns == ["l_orderkey", "l_quantity"] and df.count() == 0


def test_streamed_limit(cat, table):
    df = cat.load_table("db.li_ranges").scan(selected_fields=("l_orderkey",), limit=7).to_df()
    assert df.count() == 7


def test_opt_out_property_falls_back(cat, table):
    t = cat.load_table("db.li_ranges")
    t.set_properties({"read.plan.distributed-read": "false"})
    try:
        scan = cat.load_table("db.li_ranges").scan(selected_fields=("l_orderkey",))
        scan.to_df()
        assert not hasattr(scan, "_streaming_plan_info")
    finally:
        cat.load_table("db.li_ranges").set_properties({"read.plan.distributed-read": "true"})


def test_delete_files_stream(cat, spark):
    """A MoR table (position deletes) STREAMS through the planned read
    (r09 known limit, closed r10): the reader synthesizes
    (_ips_file, _ips_pos) and the deletes anti-join executor-side."""
    df = spark.range(100).select(F.col("id").cast("long").alias("k"), (F.col("id") * 2).alias("v"))
    t = cat.create_table(
        "db.mor_stream",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.delete.mode": "merge-on-read",
        },
    )
    t.append(df)
    t = cat.load_table("db.mor_stream")
    t.delete("k >= 90")
    t = cat.load_table("db.mor_stream")
    scan = t.scan()
    out = scan.to_df()
    assert out.count() == 90
    info = scan._streaming_plan_info
    assert info["plan_dir"] is not None and info["n_pos_deletes"] >= 1
    # values survive exactly (not just counts), and a filter composes
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {i: i * 2 for i in range(90)}
    assert cat.load_table("db.mor_stream").scan(row_filter="k < 5").to_df().count() == 5


def test_mor_streamed_never_builds_task_list(cat, spark, monkeypatch):
    """The MoR variant of the no-collect proof: plan_files is never
    called when a deleted-from table streams."""
    import iceberg_python_spark.table as tbl

    df = spark.range(60).select(F.col("id").alias("k"), (F.col("id") + 7).alias("v"))
    t = cat.create_table(
        "db.mor_nocollect",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.delete.mode": "merge-on-read",
        },
    )
    t.append(df)
    t = cat.load_table("db.mor_nocollect")
    t.delete("k >= 20 and k < 40")
    t = cat.load_table("db.mor_nocollect")

    def boom(*a, **k):
        raise AssertionError("plan_files called on the streamed MoR path")

    monkeypatch.setattr(tbl.DataScan, "plan_files", boom)
    scan = t.scan()
    assert scan.to_df().count() == 40
    assert scan._streaming_plan_info["n_pos_deletes"] >= 1


def test_mor_dv_puffin_streams(cat, spark):
    """v3 deletion vectors (Puffin) apply on the streamed path too —
    dv_positions_df expands bitmaps executor-side."""
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    t = cat.create_table(
        "db.mor_dv_stream",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.delete.mode": "merge-on-read",
            "write.delete.format": "puffin",
            "format-version": "3",
        },
    )
    t.append(df)
    t = cat.load_table("db.mor_dv_stream")
    t.delete("k >= 40")
    t = cat.load_table("db.mor_dv_stream")
    scan = t.scan()
    rows = {r.k for r in scan.to_df().collect()}
    assert rows == set(range(40))
    assert scan._streaming_plan_info["n_pos_deletes"] >= 1


def test_eq_deletes_stream_with_seq_rule(cat, spark):
    """Equality deletes stream with the strictly-newer sequence rule: a
    row RE-INSERTED after the delete (data seq > delete seq) survives,
    while the older incarnation is dropped."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k: long, s: string")
    t = cat.create_table(
        "db.eqdel_stream",
        schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.eqdel_stream")
    t.add_equality_deletes(spark.createDataFrame([(2,)], "k: long"), ["k"])
    t = cat.load_table("db.eqdel_stream")
    # re-insert k=2 AFTER the delete: newer data seq -> must survive
    t.append(spark.createDataFrame([(2, "b2")], "k: long, s: string"))
    t = cat.load_table("db.eqdel_stream")
    scan = t.scan()
    rows = {r.k: r.s for r in scan.to_df().collect()}
    assert rows == {1: "a", 2: "b2", 3: "c"}
    assert scan._streaming_plan_info["n_eq_deletes"] == 1


def test_schema_rename_falls_back(cat, spark):
    """Files written before a column RENAME need field-id alignment the
    name-projection read cannot express -> exact path, correct values."""
    df = spark.range(50).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    t = cat.create_table(
        "db.renamed", schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.renamed")
    t.update_schema().rename_column("b", "b2").commit()
    t = cat.load_table("db.renamed")
    scan = t.scan()
    out = scan.to_df()
    assert out.columns == ["a", "b2"] and out.count() == 50
    assert not hasattr(scan, "_streaming_plan_info")


def test_rename_then_readd_name_falls_back(cat, spark):
    """Rename a->a2 then ADD a new column named a: old files carry a
    column NAMED a under the old field id, so a by-name read would
    surface the renamed column's values where the new column must be
    null -> exact path (ADVICE r09 high)."""
    df = spark.range(5).select(F.col("id").alias("a"), (F.col("id") + 100).alias("z"))
    t = cat.create_table(
        "db.readd", schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.readd")
    t.update_schema().rename_column("a", "a2").commit()
    t = cat.load_table("db.readd")
    from iceberg_python_spark.types import LongType

    t.update_schema().add_column("a", LongType()).commit()
    t = cat.load_table("db.readd")
    # project ONLY (z, a) — a2 (the renamed column) is not projected, so
    # the per-id check alone would pass; the name-collision check must
    # force the exact field-id-aligned path
    scan = t.scan(selected_fields=("z", "a"))
    out = scan.to_df()
    rows = {r.z: r.a for r in out.collect()}
    assert len(rows) == 5 and all(v is None for v in rows.values())
    assert not hasattr(scan, "_streaming_plan_info")


def test_added_column_streams_with_null_fill(cat, spark):
    """Added-column evolution IS name-projection safe: old files
    null-fill the new column on the streamed path."""
    df = spark.range(30).select(F.col("id").alias("a")).repartition(1)
    t = cat.create_table(
        "db.added", schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "0"},
    )
    t.append(df)
    t = cat.load_table("db.added")
    from iceberg_python_spark.types import LongType

    t.update_schema().add_column("c", LongType()).commit()
    t = cat.load_table("db.added")
    df2 = spark.range(30, 40).select(F.col("id").alias("a"), (F.col("id") * 10).alias("c")).repartition(1)
    t.append(df2)
    t = cat.load_table("db.added")
    scan = t.scan()
    out = scan.to_df()
    assert scan._streaming_plan_info["n_files"] == 2
    rows = {r.a: r.c for r in out.collect()}
    assert len(rows) == 40 and rows[5] is None and rows[35] == 350


def test_clean_scan_plans_age_guard(cat, table):
    """Streamed scans leave timestamped plan dirs under
    metadata/scan-plans; the sweeper removes only dirs older than the
    age guard (in-flight plans survive), and expire_snapshots'
    clean_files pass includes the sweep."""
    import os

    t = cat.load_table("db.li_ranges")
    scan = t.scan(selected_fields=("l_orderkey",))
    scan.to_df().count()
    base = os.path.join(t.location, "metadata", "scan-plans")
    dirs = os.listdir(base)
    assert dirs, "streamed scan should have left a plan dir"
    # young plans survive a sweep at the default guard
    assert t.clean_scan_plans() == []
    assert set(os.listdir(base)) == set(dirs)
    # everything ages out when 'now' is far in the future
    future = int(__import__("time").time() * 1000) + 48 * 3600_000
    removed = t.clean_scan_plans(now_ms=future)
    assert len(removed) == len(dirs) and os.listdir(base) == []


def test_name_mapped_add_files_falls_back(cat, spark, tmp_path):
    """add_files tables whose files carry a name mapping (different
    physical column names) must take the exact path — name projection
    would silently null the mapped columns on the streamed read."""
    from iceberg_python_spark.name_mapping import PROPERTY_KEY, MappedField, NameMapping

    ext = spark.createDataFrame([(1, "x"), (2, "y")], "k: long, v: string")
    schema = schema_from_spark(ext.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    mapping = NameMapping(
        [MappedField(fid["k"], ["k", "key_renamed"]), MappedField(fid["v"], ["v", "val_renamed"])]
    )
    t = cat.create_table(
        "db.addf_nm",
        schema,
        properties={
            "read.plan.distributed-threshold": "0",
            PROPERTY_KEY: mapping.to_json(),
        },
    )
    # external file under DIFFERENT physical names, registered via the
    # name mapping (schema.name-mapping.default aliases)
    foreign = ext.toDF("key_renamed", "val_renamed")
    d = str(tmp_path / "ext")
    foreign.coalesce(1).write.mode("overwrite").parquet(d)
    import os as _os

    paths = [f"{d}/{f}" for f in _os.listdir(d) if f.endswith(".parquet")]
    t.add_files(paths)
    t = cat.load_table("db.addf_nm")
    scan = t.scan()
    rows = {r.k: r.v for r in scan.to_df().collect()}
    assert rows == {1: "x", 2: "y"}
    assert not hasattr(scan, "_streaming_plan_info")


def test_orc_through_distributed_planner(cat, spark):
    """ORC data files keep their format through the collect-based
    distributed planner (file_format was hardcoded PARQUET) and fall
    back off the streamed path (parquet-only by design)."""
    df = spark.range(20).select(F.col("id").alias("a"), (F.col("id") * 3).alias("b"))
    t = cat.create_table(
        "db.orc_dist",
        schema_from_spark(df.schema),
        properties={
            "read.plan.distributed-threshold": "0",
            "write.format.default": "orc",
        },
    )
    t.append(df)
    t = cat.load_table("db.orc_dist")
    scan = t.scan(row_filter="a >= 5")
    out = scan.to_df()
    assert out.count() == 15 and {r.b for r in out.collect()} == {i * 3 for i in range(5, 20)}
    assert not hasattr(scan, "_streaming_plan_info")


def test_to_df_reads_manifest_list_once(cat, spark, monkeypatch):
    """Below the distributed threshold, the threshold check and the
    task-list planner share one manifest-list read."""
    import iceberg_python_spark.table as tbl

    df = spark.range(20).select("id", (F.col("id") * 2).alias("v"))
    t = cat.create_table("db.read_list_once", schema_from_spark(df.schema))
    t.append(df)
    t = cat.load_table("db.read_list_once")
    calls = []
    real = tbl.read_manifest_list

    def counting(*a, **k):
        calls.append(a[0])
        return real(*a, **k)

    monkeypatch.setattr(tbl, "read_manifest_list", counting)
    assert t.scan(row_filter="id < 5").to_df().count() == 5
    assert len(calls) == 1


def test_delete_index_parity_driver_vs_distributed(cat, spark):
    """Driver-side and distributed planning match delete files to data
    files identically: position deletes apply at delete seq >= data seq,
    equality deletes only when strictly newer."""
    df = spark.range(30).select("id", (F.col("id") % 3).alias("g"))
    t = cat.create_table(
        "db.del_index_parity",
        schema_from_spark(df.schema),
        properties={"read.plan.distributed-threshold": "1000000"},
    )
    t.append(df.where("id < 10"))
    t.delete("id = 3", mode="merge-on-read")
    t.append(df.where("id >= 10 and id < 20"))
    t.add_equality_deletes(spark.createDataFrame([(5,), (12,), (25,)], "id: long"), ["id"])
    t.append(df.where("id >= 20"))
    t.delete("id = 21", mode="merge-on-read")
    t = cat.load_table("db.del_index_parity")

    def deletes_by_file(tasks):
        return {
            x.file_path: (
                x.sequence_number,
                sorted(x.delete_files),
                sorted(zip(x.eq_delete_files, x.eq_delete_schema_ids)),
            )
            for x in tasks
        }

    driver = deletes_by_file(t.scan().plan_files())
    t.metadata.properties["read.plan.distributed-threshold"] = "0"
    dist = deletes_by_file(t.scan().plan_files())
    assert driver == dist
    with_eq = [path for path, (_s, _p, eq) in driver.items() if eq]
    without_eq = [path for path, (_s, _p, eq) in driver.items() if not eq]
    assert with_eq and without_eq  # the newest append is not eq-deleted
    assert all(pos for _s, pos, _e in driver.values())
    assert sorted(r.id for r in t.scan().to_df().collect()) == [
        i for i in range(30) if i not in (3, 5, 12, 21)
    ]
