"""TableIO — the storage seam (Parquet now, Iceberg when a runtime is present).

The north rule targets Iceberg tables of image+caption rows. This sandbox
ships no Iceberg runtime jar, so the engine talks to storage through this
seam: every operator reads/writes via :class:`TableIO`, which resolves to

* **iceberg** when the session has an Iceberg catalog configured (jar on the
  classpath + ``spark.sql.catalog.<name>`` set) — identifiers like
  ``catalog.db.table`` read via ``spark.table`` and support snapshot /
  incremental options natively;
* **parquet** otherwise — a directory of files; snapshot semantics are
  provided by :mod:`osmgraft.checkpoint` (sorted-file-list batches with
  atomic lineage manifests, the same commit model as Iceberg snapshot files).

Write discipline (SURVEY.md §2.6): the reference assumes id-sorted input
(osmio lib.rs:592-602 ``assume_sorted``); the Spark equivalent is writing
sorted-within-partitions so Parquet footer min/max stats give range pruning
for free. ``TableIO.write`` therefore always takes ``sort_within`` and
``partition_by`` and applies them before the sink.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def read_fixture(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """The fixture table ``table`` of the scale-factor directory ``sf_dir``.

    The only code that knows the fixture layout ``{sf_dir}/{table}.parquet``.
    The schema comes from the file's own parquet footer (read on the driver),
    so Spark runs no schema-inference job and the read launches none. The
    footer is the read-only fixture's single source of its schema: timestamps
    map to ``TimestampNTZType``, as Spark's inference maps them. A directory
    at that path is a table Spark wrote (tests build such fixtures); Spark's
    own inference reads it, since its footers carry Spark's schema.
    """
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        return spark.read.parquet(path)
    schema = from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)
    return spark.read.schema(schema).parquet(path)


def has_iceberg(spark: SparkSession, catalog: str | None = None) -> bool:
    """True when an Iceberg catalog is usable in this session.

    Probes the RUNTIME conf (``SET``), not just the SparkContext conf — a
    catalog registered after session start via ``spark.conf.set(...)`` must
    be visible too (ADVICE r1)."""
    keys: set[str] = set()
    try:
        keys.update(k for k, _ in spark.sparkContext.getConf().getAll())
    except Exception:
        pass
    try:
        keys.update(r["key"] for r in spark.sql("SET").collect())
    except Exception:
        pass
    cats = [k for k in keys if k.startswith("spark.sql.catalog.")]
    if catalog is not None:
        cats = [k for k in cats if k == f"spark.sql.catalog.{catalog}"]
    if not cats:
        return False
    # the catalog key may be set with no jar present; probe the class
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@dataclass
class TableIO:
    """Format-resolving reader/writer. ``ident`` is a path (parquet) or a
    ``catalog.db.table`` identifier (iceberg)."""

    spark: SparkSession
    catalog: str | None = None

    @property
    def fmt(self) -> str:
        return "iceberg" if has_iceberg(self.spark, self.catalog) else "parquet"

    # -- read ---------------------------------------------------------------
    def read(self, ident: str, snapshot_id: int | None = None) -> DataFrame:
        if self.fmt == "iceberg":
            r = self.spark.read.format("iceberg")
            if snapshot_id is not None:
                r = r.option("snapshot-id", str(snapshot_id))
            return r.load(ident)
        if snapshot_id is not None:
            raise ValueError(
                "snapshot reads on the parquet seam go through "
                "osmgraft.checkpoint (lineage-manifest batches)"
            )
        return self.spark.read.parquet(ident)

    def read_increment(self, ident: str, after_snapshot_id: int) -> DataFrame:
        """Rows appended after a snapshot (Iceberg incremental scan). On the
        parquet seam, incremental processing is file-diff based — use
        ``osmgraft.checkpoint.run_incremental`` which skips committed batches."""
        if self.fmt != "iceberg":
            raise ValueError("parquet seam: use osmgraft.checkpoint.run_incremental")
        return (
            self.spark.read.format("iceberg")
            .option("start-snapshot-id", str(after_snapshot_id))
            .load(ident)
        )

    # -- write --------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        ident: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
    ) -> None:
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if self.fmt == "iceberg":
            w.format("iceberg").saveAsTable(ident)
        else:
            w.parquet(ident)

    # -- snapshots ----------------------------------------------------------
    def snapshots(self, ident: str) -> DataFrame:
        """Snapshot metadata table (Iceberg) or committed lineage batches
        (parquet seam) as a DataFrame."""
        if self.fmt == "iceberg":
            return self.spark.sql(f"SELECT * FROM {ident}.snapshots")
        import glob as _glob
        import json as _json
        import os as _os

        rows = []
        for p in sorted(_glob.glob(_os.path.join(ident, "_lineage", "*.json"))):
            with open(p) as fh:
                m = _json.load(fh)
            rows.append(
                (
                    m["batch_id"],
                    int(m.get("input_rows", 0)),
                    int(m.get("output_rows", 0)),
                    float(m.get("wall_sec", 0.0)),
                )
            )
        return self.spark.createDataFrame(
            rows, "batch_id string, input_rows long, output_rows long, wall_sec double"
        )
