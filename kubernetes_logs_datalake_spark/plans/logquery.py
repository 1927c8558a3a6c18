"""LogQuery — the engine's logical plan for the reference's query
surface (``y-logcli query '{selectors}' [--since] [-o mode] [-f fmt]``).

The reference assembles SQL strings; here the plan is declared with the
DataFrame API so Catalyst performs what the CLI does manually:

- selector → partition pruning (native hive layout) or glob pruning
  (positional layout), reference ``y-logcli:104-123``;
- ``--since`` → a pushed-down timestamp predicate, ``y-logcli:160-171``,
  and on the native layout a ``date`` partition predicate;
- ``-f both`` → ``unionByName`` of the parquet and arrow scans,
  ``y-logcli:243-255`` (Spark needs no select-list gymnastics: by-name
  union + a sort on a post-projection column is legal);
- global ``ORDER BY time`` with ``time_ns`` as tiebreaker so same-µs
  bursts keep exact nanosecond order, ``y-logcli:229``.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.functions.time_ns import fmt_ns_iso
from kubernetes_logs_datalake_spark.session import shuffle_partitions
from kubernetes_logs_datalake_spark.sources.logs import LogLake

FULL_COLUMNS = [
    "cluster",
    "namespace",
    "node",
    "pod",
    "container",
    "time",
    "stream",
    "logtag",
    "message",
]
OUTPUT_MODES = ("table", "raw", "lines", "columns")
FORMATS = ("parquet", "arrow", "both")


@dataclass
class LogQuery:
    """A declarative log query over a :class:`LogLake`."""

    lake: LogLake
    cluster: str | None = None
    selectors: dict[str, str] = field(default_factory=dict)
    since: str | None = None
    fmt: str = "both"
    output: str = "table"

    def __post_init__(self) -> None:
        if self.output not in OUTPUT_MODES:
            raise ValueError(f"unknown output mode {self.output!r} (use {OUTPUT_MODES})")
        if self.fmt not in FORMATS:
            raise ValueError(f"unknown format {self.fmt!r} (use {FORMATS})")

    # ------------------------------------------------------------ plan

    def _scan(self, spark: SparkSession, fmt: str) -> DataFrame:
        df = self.lake.read(
            spark, fmt=fmt, selectors=self.selectors, cluster=self.cluster, since=self.since
        )
        cols = [c if c in df.columns else F.lit(None).cast("string").alias(c) for c in FULL_COLUMNS]
        df = df.select("time_ns", *cols)
        if fmt == "arrow":
            # The global sort samples its input in a job of its own to
            # pick range bounds. Straight over mapInArrow, that job would
            # run the Python decode of every file a second time; behind
            # a shuffle it reads the shuffle's output instead.
            df = df.repartition(shuffle_partitions(spark))
        return df

    def df(self, spark: SparkSession) -> DataFrame:
        """Full-column result, globally ordered by event time (ns-exact).

        ``-f both`` tolerates a single-format lake (the reference always
        writes both formats, so its UNION never sees a missing side; our
        lake may legitimately hold only parquet) — but at least one
        format must exist. Reference-parity caveat carried over from the
        CLI (default FORMAT="both", ``y-logcli:45``): a dual-format lake
        stores every record in BOTH formats, so ``both`` returns each
        record twice — pick one format for deduplicated counts.
        """
        if self.fmt == "both":
            scans = []
            errors = []
            for fmt in ("arrow", "parquet"):
                try:
                    scans.append(self._scan(spark, fmt))
                except FileNotFoundError as e:
                    # ONLY a format whose listing holds no file of its
                    # extension may be skipped; corrupt files / auth
                    # failures must surface, never silently shrink
                    # results to one format
                    warnings.warn(
                        f"lake has no {fmt} side; querying the rest ({e})",
                        stacklevel=2,
                    )
                    errors.append(e)
            if not scans:
                raise errors[0]
            out = scans[0]
            for s in scans[1:]:
                out = out.unionByName(s)
        else:
            out = self._scan(spark, self.fmt)
        return out.orderBy("time_ns")

    def projected(self, spark: SparkSession) -> DataFrame:
        """Output-mode projection (reference ``y-logcli:177-187``).

        Projection happens *after* the global sort; a narrow ``select``
        preserves ordering, and Catalyst still prunes the scan columns
        through the sort.
        """
        df = self.df(spark)
        if self.output == "raw":
            return df.select("message")
        if self.output == "columns":
            return df.select(
                fmt_ns_iso("time_ns").alias("time"),
                "pod",
                "container",
                "stream",
                F.substring("message", 1, 60).alias("message"),
            )
        # table / lines: the full column list
        return df.select(*FULL_COLUMNS)

    # ---------------------------------------------------------- explain

    def describe(self, spark: SparkSession) -> list[tuple[str, str]]:
        """(column, type) pairs of the projected result — the schema
        pre-pass the reference prints for table mode (``y-logcli:267-273``)."""
        from kubernetes_logs_datalake_spark.sources.metadata import describe

        return describe(self.projected(spark))

    def explain_str(self, spark: SparkSession) -> str:
        """The executed-plan echo (reference prints its generated SQL,
        ``y-logcli:277-279``); here it's the Catalyst plan."""
        return self.projected(spark)._jdf.queryExecution().toString()
