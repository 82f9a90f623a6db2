"""Swappable collection backends for the Mongo-collection surface.

The reference stores collections in MongoDB and tails change streams
(App.java:650-683); SURVEY.md §1.3 maps that to Delta tables + Change
Data Feed.  This sandbox has no Delta jars, so the default backend is
the dependency-free parquet commit log (``ChangeLogCollection``,
sources/changelog.py) — but the WRITE/READ surface is a small protocol
so production can swap in Delta without touching any caller:

=================  ==========================  =========================
operation          ChangeLogCollection          DeltaCollection
=================  ==========================  =========================
upsert(df)         append full-doc versions     MERGE INTO ... WHEN
                                                MATCHED UPDATE SET * /
                                                NOT MATCHED INSERT *
delete(df)         append tombstones            MERGE ... WHEN MATCHED
                                                THEN DELETE
snapshot(spark)    last-writer-wins window      plain Delta read
change_stream()    file stream + keyed state    readChangeFeed stream
streaming_sink()   foreachBatch upsert          foreachBatch MERGE
compact()          log rewrite                  OPTIMIZE
=================  ==========================  =========================

``DeltaCollection`` activates only when ``delta-spark`` is importable
and the session carries the Delta SQL extensions; otherwise it raises a
clear error instead of silently degrading.  ``open_collection`` picks
the best available backend.
"""

from __future__ import annotations

from typing import Optional, Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pincette_json_streams_spark.sources.changelog import (
    ChangeLogCollection,
)

__all__ = ["CollectionStore", "DeltaCollection", "open_collection",
           "delta_available", "delta_session_ok"]


@runtime_checkable
class CollectionStore(Protocol):
    """The collection surface every backend must provide — the contract
    ``toCollection`` sinks and ``fromCollection`` sources compile
    against (streaming/runtime.py collection_change_stream)."""

    def upsert(self, df: DataFrame) -> None: ...

    def delete(self, df: DataFrame) -> None: ...

    def snapshot(self, spark: SparkSession) -> DataFrame: ...

    def change_stream(
        self, spark: SparkSession,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame: ...

    def streaming_sink(self, df: DataFrame, checkpoint: str): ...

    def compact(self, spark: SparkSession) -> None: ...


def delta_available() -> bool:
    try:
        import delta  # noqa: F401
        return True
    except ImportError:
        return False


def delta_session_ok(spark: SparkSession) -> bool:
    """True only when the SESSION can actually execute Delta plans:
    the package imports AND the Delta SQL extension is registered
    (a pip-installed delta with a plain session still fails with an
    obscure 'Failed to find data source: delta' at first use)."""
    if not delta_available():
        return False
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        cat = spark.conf.get(
            "spark.sql.catalog.spark_catalog", "") or ""
    except Exception:
        return False
    return ("DeltaSparkSessionExtension" in ext
            or "DeltaCatalog" in cat)


class DeltaCollection:
    """Delta-backed collection: MERGE-INTO upserts, Change-Data-Feed
    change stream (SURVEY.md §1.3).  Requires ``delta-spark`` on the
    session (``DeltaTable`` importable AND the Delta catalog/extension
    configs) — constructor fails fast otherwise.

    Change-kind mapping (Delta CDF ``_change_type`` -> Mongo
    ``operationType``): ``insert`` -> insert, ``update_postimage`` ->
    replace, ``delete`` -> delete; ``update_preimage`` rows are
    dropped.  A MERGE whose source replaces an existing document
    surfaces as an update pair, exactly the reference's replace
    event."""

    def __init__(self, spark: SparkSession, path: str, schema: str):
        if not delta_available():
            raise ImportError(
                "DeltaCollection needs the delta-spark package (and a "
                "session built with configure_spark_with_delta_pip); "
                "use ChangeLogCollection / open_collection(backend="
                "'changelog') in environments without Delta jars")
        if not delta_session_ok(spark):
            raise ImportError(
                "delta-spark imports but this SparkSession lacks the "
                "Delta SQL extension/catalog configs — build it with "
                "configure_spark_with_delta_pip(builder) or set "
                "spark.sql.extensions/spark.sql.catalog.spark_catalog")
        self.spark = spark
        self.path = path
        self.schema = schema
        self._ensure_table()

    def _ensure_table(self) -> None:
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(self.spark, self.path):
            (self.spark.createDataFrame([], self.schema)
             .write.format("delta")
             .option("delta.enableChangeDataFeed", "true")
             .save(self.path))

    def _table(self):
        from delta.tables import DeltaTable

        return DeltaTable.forPath(self.spark, self.path)

    # -- writes ------------------------------------------------------------

    def upsert(self, df: DataFrame) -> None:
        (self._table().alias("t")
         .merge(df.alias("s"), "t._id = s._id")
         .whenMatchedUpdateAll()
         .whenNotMatchedInsertAll()
         .execute())

    def delete(self, df: DataFrame) -> None:
        (self._table().alias("t")
         .merge(df.select("_id").alias("s"), "t._id = s._id")
         .whenMatchedDelete()
         .execute())

    # -- reads -------------------------------------------------------------

    def snapshot(self, spark: SparkSession) -> DataFrame:
        return spark.read.format("delta").load(self.path)

    def change_stream(
        self, spark: SparkSession,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame:
        src = (
            spark.readStream.format("delta")
            .option("readChangeFeed", "true")
        )
        if max_files_per_trigger:
            src = src.option("maxFilesPerTrigger",
                             str(max_files_per_trigger))
        cdf = src.load(self.path)
        doc_cols = [c for c in cdf.columns if c not in
                    ("_change_type", "_commit_version", "_commit_timestamp")]
        return (
            cdf.filter(F.col("_change_type") != "update_preimage")
            .select(
                F.when(F.col("_change_type") == "insert", "insert")
                 .when(F.col("_change_type") == "delete", "delete")
                 .otherwise("replace").alias("operationType"),
                *doc_cols,
            )
        )

    def streaming_sink(self, df: DataFrame, checkpoint: str):
        def write_batch(batch_df, _epoch):
            if not batch_df.isEmpty():
                self.upsert(batch_df)

        writer = (
            df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
        )
        writer.foreach_batch = write_batch  # for an aggregate fan-out
        return writer

    def compact(self, spark: SparkSession) -> None:
        self._table().optimize().executeCompaction()


def open_collection(
    root: str,
    schema: str,
    spark: Optional[SparkSession] = None,
    backend: str = "auto",
) -> CollectionStore:
    """Backend factory: ``"changelog"`` (parquet commit log, always
    available), ``"delta"`` (requires delta-spark + a session), or
    ``"auto"`` (Delta when importable and a session is given, else
    changelog)."""
    if backend == "auto":
        # auto requires the session to be Delta-CAPABLE, not merely the
        # package importable — otherwise fall back to the log backend
        backend = "delta" if (spark is not None
                              and delta_session_ok(spark)) \
            else "changelog"
    if backend == "changelog":
        return ChangeLogCollection(root, schema)
    if backend == "delta":
        if spark is None:
            raise ValueError("backend='delta' needs a SparkSession")
        return DeltaCollection(spark, root, schema)
    raise ValueError(f"unknown collection backend {backend!r}")
