"""Core data model: DataStream over DataFrame (SURVEY.md §1).

The reference models data as a named pair-RDD ``JavaPairRDD<Object,
DataRecord<?>>`` whose key only drives partitioning (reference
``S3DirectColumnarInput.java:96``, ``JdbcColumnarInput.java:136``).

Here a DataStream is a thin wrapper around a lazy ``DataFrame`` plus its name
and record shape. There is no key column: partitioning intent is expressed
through :meth:`DataStream.repartitioned`, which maps the reference's
``Partitioning`` enum onto ``DataFrame.repartition`` so Catalyst/AQE stay in
charge of the physical plan.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class StreamType(Enum):
    """Record-shape tags (reference ``StreamType``, SURVEY §1.2).

    COLUMNAR   rows under a StructType (reference ``Columnar`` records)
    PLAIN_TEXT single ``value: string`` column (reference ``PlainText``)
    STRUCTURED nested/JSON records (upstream commons BSON family)
    """

    COLUMNAR = "Columnar"
    PLAIN_TEXT = "PlainText"
    STRUCTURED = "Structured"


class Partitioning(Enum):
    """Shuffle-placement strategies (reference ``Partitioning``, SURVEY §1.4).

    HASHCODE  deterministic hash of the whole record (the reference keys each
              record by its ``hashCode()``; we use ``xxhash64`` over all
              columns — distribution parity, not bit parity, per SURVEY §7.3)
    RANDOM    round-robin (reference keys by ``Random.nextInt()``)
    SOURCE    keep the source partitioning (no shuffle)
    BY_SOURCE co-locate records by originating file (``input_file_name()``)
              — the by-source mode the commons enum implies beyond the two
              JDBC supports ("Supports only PARTITION BY HASHCODE and
              RANDOM", reference ``JdbcColumnarInput.java:39-40``); file
              sources group all records of one input file into one
              partition, e.g. for per-source dedup or per-file sessionizing
    """

    HASHCODE = "HASHCODE"
    RANDOM = "RANDOM"
    SOURCE = "SOURCE"
    BY_SOURCE = "BY_SOURCE"


@dataclass
class DataStream:
    """A named, typed wrapper around a lazy DataFrame."""

    name: str
    df: DataFrame
    stream_type: StreamType = StreamType.COLUMNAR

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def with_df(self, df: DataFrame) -> "DataStream":
        return replace(self, df=df)

    def select_columns(self, columns: list[str] | None) -> "DataStream":
        """Column select + reorder with ``_`` placeholder skip (reference
        A10/A11: ``S3DirectColumnarInputStream.java:44-66``,
        ``JdbcColumnarOutput.java:116-120``). ``None`` keeps all columns."""
        if not columns:
            return self
        kept = [c for c in columns if c != "_"]
        return self.with_df(self.df.select(*kept))

    def repartitioned(
        self, part_count: int | None, partitioning: Partitioning = Partitioning.HASHCODE
    ) -> "DataStream":
        """Reference A13/A14 repartitioning semantics on DataFrames.

        HASHCODE → hash-partition on ``xxhash64(*columns)`` (stable record
        hash); RANDOM → round-robin; BY_SOURCE → hash-partition on
        ``input_file_name()`` so each originating file's records co-locate
        (must run before any projection that severs file lineage); SOURCE →
        leave as-is. ``part_count`` of ``None``/0 keeps the current
        partition count for SOURCE and lets Spark's default parallelism
        rule for the others (the reference treats part_count<=0 as "one
        partition" only for JdbcRDD bounds — a quirk we do not reproduce,
        SURVEY §2.A bugs note 4).
        """
        if partitioning is Partitioning.SOURCE or not part_count or part_count <= 0:
            return self
        if partitioning is Partitioning.HASHCODE:
            cols = [F.col(c) for c in self.df.columns]
            return self.with_df(self.df.repartition(part_count, F.xxhash64(*cols)))
        if partitioning is Partitioning.BY_SOURCE:
            return self.with_df(
                self.df.repartition(part_count, F.input_file_name())
            )
        return self.with_df(self.df.repartition(part_count))
