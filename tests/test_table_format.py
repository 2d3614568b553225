"""Contract tests for the table-format seam (VERDICT r4 item 4): the
engine's lineage tables (checkpoint / run metrics / profiles) talk to
storage only through sources/table_format.py, so swapping parquet for
Iceberg is a constructor argument. ParquetFormat is exercised end-to-end;
IcebergFormat's generated procedure SQL and identifier validation are
pinned (no Iceberg jars in this sandbox — the runtime path is Spark's own
catalog machinery, which these tests cannot fake honestly)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from skyline_spark.sources.table_format import (
    DEFAULT_FORMAT,
    IcebergFormat,
    ParquetFormat,
    conform_to_schema,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


@pytest.fixture()
def fmt():
    return ParquetFormat()


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_default_format_is_parquet_in_sandbox():
    assert isinstance(DEFAULT_FORMAT, ParquetFormat)
    assert DEFAULT_FORMAT.name == "parquet"


def test_read_or_empty_missing_table_is_first_run(spark, fmt, tmp_path):
    out = fmt.read_or_empty(spark, str(tmp_path / "nope"), SCHEMA)
    assert out.count() == 0
    assert out.schema == SCHEMA


def test_read_or_empty_corrupt_table_raises(spark, fmt, tmp_path):
    """The loud-failure contract: only MISSING maps to empty — a corrupt
    footer must raise, never silently reset lineage."""
    p = tmp_path / "corrupt"
    p.mkdir()
    (p / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        fmt.read_or_empty(spark, str(p), SCHEMA).collect()


def test_append_accumulates_and_read_round_trips(spark, fmt, tmp_path):
    loc = str(tmp_path / "t")
    fmt.append(_df(spark, [("a", 1)]), loc)
    fmt.append(_df(spark, [("b", 2)]), loc)
    rows = sorted((r["k"], r["v"]) for r in fmt.read(spark, loc).collect())
    assert rows == [("a", 1), ("b", 2)]
    assert fmt.read_or_empty(spark, loc, SCHEMA).count() == 2


def test_overwrite_replaces(spark, fmt, tmp_path):
    loc = str(tmp_path / "t2")
    fmt.append(_df(spark, [("a", 1), ("b", 2)]), loc)
    fmt.overwrite(_df(spark, [("c", 3)]), loc)
    assert [(r["k"], r["v"]) for r in fmt.read(spark, loc).collect()] == [("c", 3)]


def test_overwrite_partitioned_layout(spark, fmt, tmp_path):
    loc = str(tmp_path / "t3")
    fmt.overwrite(_df(spark, [("a", 1), ("b", 2)]), loc, partition_by=["k"])
    import os

    names = set(os.listdir(loc))
    assert any(n.startswith("k=a") for n in names)
    assert fmt.read(spark, loc).count() == 2


def test_parquet_maintenance_is_explicit_noop(spark, fmt, tmp_path):
    """Parquet has no snapshot log: expiry/compaction are documented no-ops
    (row-level retention is plans/maintenance.py's relational vacuum) and
    must not touch the data."""
    loc = str(tmp_path / "t4")
    fmt.append(_df(spark, [("a", 1)]), loc)
    fmt.snapshot_expiry(spark, loc, older_than_ts=4_102_444_800.0)
    fmt.compaction(spark, loc)
    assert fmt.read(spark, loc).count() == 1


# --- IcebergFormat: pinned procedure SQL + identifier hygiene --------------


def test_conform_converts_compatible_evolution(spark):
    # the catalog-table conform IcebergFormat.read_or_empty applies, run on
    # a plain frame: a widened/retyped live table with an extra column
    live = spark.createDataFrame(
        [("a", "5", 1), ("b", None, 2)], "k string, v string, extra int"
    )
    out = conform_to_schema(live, SCHEMA, "cat.db.t")
    assert out.schema == SCHEMA
    assert sorted(out.collect()) == [("a", 5), ("b", None)]


def test_conform_fails_loudly_on_incompatible_evolution(spark):
    live = spark.createDataFrame([("a", "5"), ("b", "not-a-number")], "k string, v string")
    with pytest.raises(Exception, match="'v' holds a value that does not convert"):
        conform_to_schema(live, SCHEMA, "cat.db.t").collect()


def test_conform_missing_contract_column_raises(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        conform_to_schema(spark.createDataFrame([("a",)], "k string"), SCHEMA, "cat.db.t")


def test_iceberg_maintenance_sql_pinned():
    f = IcebergFormat()
    # the +00:00 zone suffix is load-bearing: a zone-less literal is read in
    # the Spark session timezone, shifting the expiry cutoff by its offset
    assert f.snapshot_expiry_sql("lake.validation.checkpoint", 1_706_572_800.0) == (
        "CALL lake.system.expire_snapshots(table => 'validation.checkpoint', "
        "older_than => TIMESTAMP '2024-01-30 00:00:00+00:00')"
    )
    assert f.compaction_sql("lake.validation.checkpoint") == (
        "CALL lake.system.rewrite_data_files(table => 'validation.checkpoint')"
    )


@pytest.mark.parametrize(
    "bad",
    [
        "no_catalog_part",
        "lake.t'; DROP TABLE x; --",
        "lake..t",
        "/a/path/not/a/table",
        "lake.db.t; CALL x",
    ],
)
def test_iceberg_rejects_non_identifiers(bad):
    f = IcebergFormat()
    with pytest.raises(ValueError):
        f.snapshot_expiry_sql(bad, 0.0)
    with pytest.raises(ValueError):
        f.compaction_sql(bad)


def test_lineage_tables_route_through_seam(spark, tmp_path, monkeypatch):
    """checkpoint/run-metrics/profile I/O goes through DEFAULT_FORMAT: a
    swapped format sees every call (proved by counting through a spy), so
    an Iceberg deployment changes ONE binding, not call sites."""
    import skyline_spark.sources.table_format as tf
    from skyline_spark.plans.checkpoint import (
        RUN_METRICS_SCHEMA,
        append_run_metrics,
        load_checkpoint,
        load_run_metrics,
    )
    from skyline_spark.plans.ionosphere import load_profiles

    calls = []

    class Spy(ParquetFormat):
        def read_or_empty(self, spark, location, schema):
            calls.append(("read_or_empty", location))
            return super().read_or_empty(spark, location, schema)

        def append(self, df, location):
            calls.append(("append", location))
            return super().append(df, location)

    monkeypatch.setattr(tf, "DEFAULT_FORMAT", Spy())
    load_checkpoint(spark, str(tmp_path / "ck"))
    load_run_metrics(spark, str(tmp_path / "runs"))
    load_profiles(spark, str(tmp_path / "prof"))
    append_run_metrics(
        spark.createDataFrame([], RUN_METRICS_SCHEMA), str(tmp_path / "runs")
    )
    assert [c[0] for c in calls] == [
        "read_or_empty",
        "read_or_empty",
        "read_or_empty",
        "append",
    ]
