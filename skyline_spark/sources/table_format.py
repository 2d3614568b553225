"""Table-format seam: the read/write/maintenance surface the engine needs
from its storage layer, behind one small adapter (VERDICT r4 item 4).

The engine targets Iceberg (north star: snapshot lineage, snapshot-isolated
appends, `expire_snapshots` maintenance) but this sandbox carries no Iceberg
runtime jars, so production code runs on :class:`ParquetFormat` — plain
parquet directories with the engine's own content fingerprint standing in
for the snapshot id (plans/stats.py) and Roomba-style relational vacuuming
standing in for snapshot expiry (plans/maintenance.py). On an Iceberg
deployment the SAME call sites take :class:`IcebergFormat`, which maps:

    read/append/overwrite      -> catalog-table reads / ``writeTo`` v2 ops
    read_or_empty missing-path -> missing-TABLE (first run) contract
    snapshot_expiry            -> CALL <catalog>.system.expire_snapshots
    compaction                 -> CALL <catalog>.system.rewrite_data_files

Contract tests (tests/test_table_format.py) pin the shared behavior on
ParquetFormat end-to-end and pin IcebergFormat's generated procedure SQL,
so the swap is a constructor argument, not a code edit. The checkpoint /
run-metrics / profiles tables (plans/checkpoint.py, plans/ionosphere.py)
route their I/O through :data:`DEFAULT_FORMAT`.

Reference analog: the lineage store these tables replace is Panorama's
MySQL schema (`skyline/skyline.sql:77-124`) plus Redis WATCH/retry write
loops (`horizon/roomba.py:60-196`); snapshot-isolated table formats make
the optimistic-concurrency loop native.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

__all__ = [
    "TableFormat",
    "ParquetFormat",
    "IcebergFormat",
    "DEFAULT_FORMAT",
    "conform_to_schema",
    "literal_frame",
]


def literal_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order, possibly none) as a
    frame whose schema is exactly ``schema``, nullability included, planned
    in the JVM: one row of ``range`` exploded into the literal rows.
    ``createDataFrame`` on local rows makes a Python RDD instead, and every
    read of it starts Python worker tasks."""
    structs = [
        F.struct(*(
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(row, schema.fields)
        ))
        for row in rows
    ]
    rows_col = F.array(*structs).cast(T.ArrayType(schema, containsNull=False))
    return spark.range(0, 1, 1, 1).select(F.inline(rows_col))


def conform_to_schema(
    df: DataFrame, schema: T.StructType, location: str
) -> DataFrame:
    """Project ``df`` onto ``schema``'s exact column set and types.

    An evolved/widened live table must still hand callers the columns the
    engine's lineage readers select on. A missing contract column fails
    here (analysis error), not deep in a plan. A type-incompatible
    evolution fails too: each column is ``try_cast`` and a row whose
    non-NULL value casts to NULL raises when read — a plain ``cast``
    would silently turn it into NULL lineage. Same-typed columns pass
    through uncast."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        src = F.col(f.name)
        if have.get(f.name) == f.dataType:
            cols.append(src)
            continue
        conv = src.try_cast(f.dataType)
        msg = (
            f"{location}: column {f.name!r} holds a value that does not "
            f"convert to {f.dataType.simpleString()}"
        )
        cols.append(
            F.when(src.isNotNull() & conv.isNull(), F.raise_error(F.lit(msg)))
            .otherwise(conv)
            .alias(f.name)
        )
    return df.select(*cols)


class TableFormat:
    """The storage surface the engine uses. ``location`` is a path for
    path-addressed formats (parquet) and a catalog table identifier for
    catalog-addressed ones (Iceberg)."""

    name: str = "abstract"

    def read(self, spark: SparkSession, location: str) -> DataFrame:
        raise NotImplementedError

    def read_or_empty(
        self, spark: SparkSession, location: str, schema: T.StructType
    ) -> DataFrame:
        """Empty frame with ``schema`` iff the table does not exist yet
        (first run). ONLY the missing-table case maps to empty: permission
        errors, corrupt footers and transient store failures must raise —
        swallowing them would silently mark every partition pending and
        re-validate the whole 10^12-row table with no signal (the
        load_checkpoint contract, plans/checkpoint.py)."""
        raise NotImplementedError

    def append(self, df: DataFrame, location: str) -> None:
        raise NotImplementedError

    def overwrite(
        self, df: DataFrame, location: str, partition_by: Sequence[str] = ()
    ) -> None:
        raise NotImplementedError

    def snapshot_expiry(
        self, spark: SparkSession, location: str, older_than_ts: float
    ) -> None:
        """Drop storage snapshots older than ``older_than_ts`` (epoch s)."""
        raise NotImplementedError

    def compaction(self, spark: SparkSession, location: str) -> None:
        """Rewrite small files into target-sized ones."""
        raise NotImplementedError


class ParquetFormat(TableFormat):
    """Plain parquet directories — the in-sandbox production format."""

    name = "parquet"

    def read(self, spark: SparkSession, location: str) -> DataFrame:
        return spark.read.parquet(location)

    def read_or_empty(
        self, spark: SparkSession, location: str, schema: T.StructType
    ) -> DataFrame:
        from pyspark.errors import AnalysisException

        try:
            return spark.read.schema(schema).parquet(location)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return literal_frame(spark, [], schema)
            raise

    def append(self, df: DataFrame, location: str) -> None:
        df.write.mode("append").parquet(location)

    def overwrite(
        self, df: DataFrame, location: str, partition_by: Sequence[str] = ()
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(location)

    def snapshot_expiry(
        self, spark: SparkSession, location: str, older_than_ts: float
    ) -> None:
        """Parquet keeps no snapshot log — there is nothing to expire.
        Row-level retention for the lineage tables is the relational vacuum
        (plans/maintenance.py::vacuum_checkpoint), which rewrites the table
        content instead of dropping storage snapshots. Explicit no-op."""
        return None

    def compaction(self, spark: SparkSession, location: str) -> None:
        """No-op: the writers already compact (one file per partition for
        the bench layout; checkpoint appends are checkpoint-sized)."""
        return None


#: catalog.table identifiers only — refuse anything that could smuggle SQL
#: into the generated CALL statements
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)+$")


class IcebergFormat(TableFormat):
    """Iceberg catalog tables. ``location`` is ``<catalog>.<db>.<table>``.

    Needs the Iceberg runtime + SQL extensions on the session
    (``spark.sql.extensions=...IcebergSparkSessionExtensions`` and a
    configured catalog); absent those, every operation surfaces Spark's own
    missing-catalog/extension error. The procedure SQL this class generates
    is pinned by contract tests so the mapping documented in the README is
    tested code, not prose."""

    name = "iceberg"

    @staticmethod
    def _check_ident(location: str) -> str:
        if not _IDENT_RE.match(location):
            raise ValueError(
                f"IcebergFormat needs a <catalog>.<db>.<table> identifier, "
                f"got {location!r}"
            )
        return location

    @staticmethod
    def _catalog_of(location: str) -> str:
        return location.split(".", 1)[0]

    def read(self, spark: SparkSession, location: str) -> DataFrame:
        return spark.read.table(self._check_ident(location))

    def read_or_empty(
        self, spark: SparkSession, location: str, schema: T.StructType
    ) -> DataFrame:
        from pyspark.errors import AnalysisException

        self._check_ident(location)
        try:
            df = spark.read.table(location)
        except AnalysisException as e:
            # both the modern error class and the legacy message text —
            # older Spark builds phrase the same condition differently
            msg = str(e)
            if (
                "TABLE_OR_VIEW_NOT_FOUND" in msg
                or "Table or view not found" in msg
            ):
                return literal_frame(spark, [], schema)
            raise
        # conform to the contract schema like the parquet impl does
        # (spark.read.schema() is not honored for catalog tables)
        return conform_to_schema(df, schema, location)

    def append(self, df: DataFrame, location: str) -> None:
        # v2 writeTo: snapshot-isolated append (the WATCH/retry replacement)
        df.writeTo(self._check_ident(location)).append()

    def overwrite(
        self, df: DataFrame, location: str, partition_by: Sequence[str] = ()
    ) -> None:
        w = df.writeTo(self._check_ident(location))
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    # -- maintenance procedure SQL (pinned by contract tests) ---------------

    def snapshot_expiry_sql(self, location: str, older_than_ts: float) -> str:
        self._check_ident(location)
        cat = self._catalog_of(location)
        tbl = location.split(".", 1)[1]
        when = _dt.datetime.fromtimestamp(
            older_than_ts, _dt.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S")
        # explicit +00:00 zone: a zone-less literal would be read in the
        # Spark session timezone, shifting the expiry boundary by the
        # session's UTC offset — up to hours of snapshots deleted (or
        # retained) beyond the epoch cutoff the caller passed
        return (
            f"CALL {cat}.system.expire_snapshots(table => '{tbl}', "
            f"older_than => TIMESTAMP '{when}+00:00')"
        )

    def compaction_sql(self, location: str) -> str:
        self._check_ident(location)
        cat = self._catalog_of(location)
        tbl = location.split(".", 1)[1]
        return f"CALL {cat}.system.rewrite_data_files(table => '{tbl}')"

    def snapshot_expiry(
        self, spark: SparkSession, location: str, older_than_ts: float
    ) -> None:
        spark.sql(self.snapshot_expiry_sql(location, older_than_ts))

    def compaction(self, spark: SparkSession, location: str) -> None:
        spark.sql(self.compaction_sql(location))


#: the format every lineage-table call site routes through; swap to
#: IcebergFormat() on a deployment with the Iceberg runtime
DEFAULT_FORMAT: TableFormat = ParquetFormat()
