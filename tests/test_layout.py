"""Storage-layer tests: date-partition pruning on the positions store,
ORC/JSON/CSV round-trips, parquet schema evolution, and the
dataset-version diff (operators/maintenance.py:snapshot_diff)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_date_partitioned_store_prunes_partitions(spark, tmp_path):
    """ST10 payoff: a date filter on the partitioned positions store must
    reach the scan as a PartitionFilter (pruned directories, zero I/O for
    other days) — the layout contract the daily sink exists for."""
    from kyiv_traffic_bigdata_spark.plans.checks import physical_plan

    df = spark.createDataFrame(
        [(1, "2026-02-07T10:00:00"), (2, "2026-02-08T10:00:00")],
        "vehicle_id long, ingest_ts string",
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))
    out = str(tmp_path / "store")
    (
        df.withColumn("date", F.date_format("ingest_ts", "yyyyMMdd"))
        .write.partitionBy("date")
        .parquet(out)
    )
    import re

    back = spark.read.parquet(out).where(F.col("date") == "20260207")
    plan = physical_plan(back)
    # the date predicate must appear under PartitionFilters, not DataFilters
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "20260207" in m.group(1), plan
    assert back.count() == 1


def test_columnar_and_text_format_roundtrips(spark, sf_dir, tmp_path):
    """Format-layer breadth: the store layer isn't parquet-only — ORC
    (columnar twin), JSON lines, and headered CSV all round-trip the
    same rows bit-for-bit (timestamps through CSV get an explicit
    format; ORC/JSON preserve types natively)."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
        .limit(200)
    )
    rows = sorted(map(tuple, li.collect()))

    orc = str(tmp_path / "orc")
    li.write.mode("overwrite").orc(orc)
    assert sorted(map(tuple, spark.read.orc(orc).collect())) == rows

    js = str(tmp_path / "json")
    li.write.mode("overwrite").json(js)
    got_js = (
        spark.read.schema(li.schema).json(js).collect()
    )
    assert sorted(map(tuple, got_js)) == rows

    csv = str(tmp_path / "csv")
    li.write.mode("overwrite").option("header", True).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss"
    ).csv(csv)
    got_csv = (
        spark.read.schema(li.schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(csv)
        .collect()
    )
    assert sorted(map(tuple, got_csv)) == rows


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema drift across parquet batches — a certainty over a 100 TB
    store's lifetime — must be readable with mergeSchema: old files
    surface the new column as null, new files keep it, and the unified
    schema is the union."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, "a")], "id long, val string"
    ).write.mode("append").parquet(store)
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, val string, score double"
    ).write.mode("append").parquet(store)

    merged = spark.read.option("mergeSchema", True).parquet(store)
    assert set(merged.columns) == {"id", "val", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 0.5


def test_snapshot_diff_classifies_and_guards_null_collisions(spark):
    from kyiv_traffic_bigdata_spark.operators.maintenance import snapshot_diff

    schema = "doc_id long, text string, lang string, source string"
    old = spark.createDataFrame(
        [(1, "a", "x", "s"), (2, "b", "y", "s"), (3, "c", None, "s"), (4, "d", "z", "s")],
        schema,
    )
    new = spark.createDataFrame(
        [(1, "a", "x", "s"), (2, "B", "y", "s"), (3, "c\x00null", None, "s"), (5, "e", "w", "s")],
        schema,
    )
    got = {r.doc_id: r for r in snapshot_diff(old, new).collect()}
    assert set(got) == {2, 3, 4, 5}          # id 1 unchanged -> dropped
    assert got[2].change_type == "changed"
    assert got[4].change_type == "removed" and got[4].new_fp is None
    assert got[5].change_type == "added" and got[5].old_fp is None
    # ("c", NULL) vs ("c\x00null", NULL): the field separator + null token
    # must keep these DISTINCT fingerprints (no concat collision)
    assert got[3].change_type == "changed"
