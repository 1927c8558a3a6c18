"""Delta Lake table-format option for the log lake.

``BASELINE.json`` names "Parquet/Delta on object storage" as the
reference deployment's storage answer; plain-parquet ``LogLake`` covers
the Parquet half, and this module covers Delta where ``delta-spark`` is
installed. What the transaction log buys over the hand-rolled path:

- **atomic compaction** — ``OPTIMIZE``-style bin-packing commits a new
  table version in one log entry, so readers never see a partition
  mid-rewrite (``compact_lake``'s window between publishing its targets
  and deleting its sources, documented in ``sources/compact.py``,
  disappears);
- **concurrent writers** — optimistic concurrency on the log replaces
  "snapshot the listing and hope";
- **time travel / VACUUM** — superseded small files stay referencable
  until vacuumed.

Everything is gated behind :func:`delta_available`; the engine never
hard-imports ``delta``. The write layout mirrors ``LogLake`` exactly
(hive partitioning on NATIVE_PARTITIONING, time-clustered files) so a
lake can be migrated table-format-only.

**Documented substitution where delta-spark is absent** (delta-spark
is not a dependency of this package, and without it the OPTIMIZE path
cannot execute): the plain ``LogLake`` plus
``sources.compact.compact_lake`` provide the same write layout and
compaction behavior minus transactional atomicity. ``compact_lake``
publishes under a claim protocol (manifest → publish → published
record → delete sources → retire), so a crash is finished or undone by
the next run, but readers see rewritten rows twice between publish and
delete. Every Delta API in this module maps 1:1 onto that fallback
(write_batch ↔ write_batch, compact ↔ compact_lake, read_stream ↔
LogLake.read_stream) so code written against either surface migrates
mechanically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.schema import NATIVE_PARTITIONING


def delta_available() -> bool:
    """True when the delta-spark package is importable. The jars must
    also be on the session classpath — ``delta_session_builder`` wires
    both when building a new session."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def delta_session_builder(builder):
    """Wrap a ``SparkSession.Builder`` with the Delta extension confs
    (SQL extension + catalog). Raises if delta-spark is missing."""
    if not delta_available():
        raise ImportError(
            "delta-spark is not installed; the parquet LogLake is the "
            "available storage path"
        )
    from delta import configure_spark_with_delta_pip

    builder = builder.config(
        "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
    ).config(
        "spark.sql.catalog.spark_catalog",
        "org.apache.spark.sql.catalog.DeltaCatalog",
    )
    return configure_spark_with_delta_pip(builder)


@dataclass
class DeltaLogLake:
    """Delta-format twin of ``LogLake`` (same layout, same clustering).

    Usage requires a session built via ``delta_session_builder``; all
    methods raise ImportError through :func:`delta_available` guards
    otherwise, keeping the engine importable without delta-spark.
    """

    root: str
    max_records_per_file: int = 5_000_000

    def _require(self) -> None:
        if not delta_available():
            raise ImportError("delta-spark is not installed")

    def write_batch(self, df: DataFrame, mode: str = "append") -> None:
        """Append a batch with the same physical clustering contract as
        the parquet lake: range-partitioned and sorted on (partition
        cols, time_ns) → disjoint-time files, zone-map skipping."""
        self._require()
        from kubernetes_logs_datalake_spark.sources.logs import _ensure_date

        df = _ensure_date(df)
        cols = [F.col(c) for c in NATIVE_PARTITIONING] + [F.col("time_ns")]
        (
            df.repartitionByRange(*cols)
            .sortWithinPartitions(*cols)
            .write.format("delta")
            .mode(mode)
            .option("maxRecordsPerFile", self.max_records_per_file)
            .partitionBy(*NATIVE_PARTITIONING)
            .save(self.root)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        self._require()
        return spark.read.format("delta").load(self.root)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """Tail the table as a stream (the Delta log is itself the
        exactly-once file source)."""
        self._require()
        return spark.readStream.format("delta").load(self.root)

    def compact(self, spark: SparkSession) -> None:
        """OPTIMIZE bin-packing — the transactional replacement for
        ``sources.compact.compact_lake``: one atomic log commit, no
        reader-visible intermediate state, concurrent-writer-safe."""
        self._require()
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, self.root).optimize().executeCompaction()

    def vacuum(self, spark: SparkSession, retention_hours: float = 168.0) -> None:
        """Physically remove files superseded by compaction once no
        reader can need them."""
        self._require()
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, self.root).vacuum(retention_hours)
