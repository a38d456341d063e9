"""JDBC storage adapters (reference A1/A6 — ``datacooker-jdbc`` module).

The reference runs a SELECT with two ``?`` placeholders bound per partition
(``JdbcColumnarInput.java:62-77``) and hand-batches INSERTs
(``JdbcColumnarOutput.java:84-147``). Spark's JDBC source supplies both
natively: predicate-bounded partitioned reads and batched writes. Three
reference bugs disappear by construction (SURVEY §2.A notes): the 0-based
column-index bug, the uninitialized-delimiter NPE, and the off-by-one batch
flush.

No JDBC driver jar ships in this environment, so the runtime path is gated:
tests exercise option-plumbing and registry wiring; a deployment provides
``spark.jars``.
"""

from __future__ import annotations

from ..model import DataStream, Partitioning, StreamType
from ..registry import Param, input_adapter, output_adapter
from .base import InputAdapter, OutputAdapter

_CONN_PARAMS = (
    Param("url", "str", required=True,
          doc="JDBC URL (reference JDBCAdapter meta 'url')"),
    Param("driver", "str", doc="JDBC driver class name"),
    Param("user", "str", doc="connection user"),
    Param("password", "str", doc="connection password"),
)


def _props(params: dict) -> dict:
    out = {}
    if params.get("driver"):
        out["driver"] = str(params["driver"])
    if params.get("user") is not None:
        out["user"] = str(params["user"])
    if params.get("password") is not None:
        out["password"] = str(params["password"])
    return out


def _jdbc_partition_bounds(part_count: int) -> list[tuple[int, int]]:
    """Per-partition (lower, upper) binds, reproducing Spark JdbcRDD's
    range split EXACTLY as the reference invokes it
    (``JdbcColumnarInput.java:66-73``: JdbcRDD(…, 0, max(partCount, 0),
    max(partCount, 1), …)). JdbcRDD splits the INCLUSIVE range
    [lowerBound, upperBound] — length = 1 + upper - lower — so partition
    i of n gets start = i·length/n, end = (i+1)·length/n − 1 (integer
    division). With upper = partCount that makes every partition bind
    (i, i) EXCEPT the last, which binds (n−1, n): the reference's
    configs therefore also read rows whose partition expression equals
    part_count itself (ADVICE r03 — a real JdbcRDD quirk, reproduced
    here rather than papered over, since a ported ``BETWEEN ? AND ?``
    config must see identical rows). The part_count=0 edge keeps the
    reference's upper = 0 over 1 partition → a single (0, 0) bind."""
    upper = max(part_count, 0)
    n = max(part_count, 1)
    length = 1 + upper - 0
    return [
        (i * length // n, (i + 1) * length // n - 1)
        for i in range(n)
    ]


def _bind_partition_query(query: str, lo: int, hi: int) -> str:
    """Bind one partition's (lower, upper) pair into a
    two-``?``-placeholder SELECT, the way the reference's JdbcRDD binds
    its computed range into the user's arbitrary statement
    (``JdbcColumnarInput.java:62-77,119-141``; bounds from
    :func:`_jdbc_partition_bounds`). Textual substitution — ``?`` inside
    string literals is not supported (same practical contract as
    JdbcRDD: the placeholders are the partition binds)."""
    parts = query.split("?")
    if len(parts) != 3:
        raise ValueError(
            f"placeholder query must contain exactly two '?', found "
            f"{len(parts) - 1}: {query!r}"
        )
    return f"{parts[0]}{lo}{parts[1]}{hi}{parts[2]}"


@input_adapter("jdbcColumnar")
class JdbcColumnarInput(InputAdapter):
    """Partitioned JDBC read. ``path`` is the query or table (reference:
    path = SELECT text). Three partitioning modes:

    - ``partition_column`` + ``lower_bound``/``upper_bound`` with
      ``part_count`` slices — Spark's native range-bounded reads;
    - a SELECT containing two ``?`` placeholders — exact reference parity
      (``JdbcColumnarInput.java:62-77``): partition i of ``part_count``
      runs the statement with the (lower, upper) pair JdbcRDD's range
      split computes — (i, i) for every partition except the last, which
      binds (n-1, n) (see :func:`_jdbc_partition_bounds`) — so
      modulo-partitioned reference configs (``WHERE MOD(k, n) BETWEEN ?
      AND ?``) port unchanged, including the reference's quirky inclusion
      of a partition-expression value equal to part_count. Each partition
      issues its own bound statement (a union of single-partition JDBC
      reads — the same per-partition-connection execution profile as
      JdbcRDD);
    - neither: single statement, then engine-side repartition.
    """

    PARAMS = _CONN_PARAMS + (
        Param("partition_column", "str",
              doc="numeric column for range-partitioned reads"),
        Param("lower_bound", "int", default=0,
              doc="partition range lower bound"),
        Param("upper_bound", "int",
              doc="partition range upper bound (default: part_count)"),
    )

    def _base_reader(self):
        return (
            self.spark.read.format("jdbc")
            .option("url", self.params["url"])
            .options(**_props(self.params))
        )

    def reader(self, part_count: int | None):
        params = self.params
        r = self._base_reader()
        query = self.path.strip()
        if query.lower().startswith("select"):
            r = r.option("query", query)
        else:
            r = r.option("dbtable", query)
        if part_count and params.get("partition_column"):
            r = (
                r.option("numPartitions", int(part_count))
                .option("partitionColumn", params["partition_column"])
                .option("lowerBound", params.get("lower_bound", 0))
                .option("upperBound", params.get("upper_bound", part_count))
            )
        return r

    def _load_placeholder_query(self, part_count: int):
        """One single-partition read per bound statement, unioned: the
        plan's JDBC partitions each run exactly the statement the
        reference's partition would."""
        from functools import reduce

        query = self.path.strip()
        dfs = [
            self._base_reader()
            .option("query", _bind_partition_query(query, lo, hi))
            .load()
            for lo, hi in _jdbc_partition_bounds(part_count)
        ]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    def load(self, name, part_count=None, partitioning=Partitioning.HASHCODE):
        query = self.path.strip()
        if "?" in query and query.lower().startswith("select"):
            # Bounds math (incl. the part_count=0 edge, where JdbcRDD(0,0,1)
            # still ran one partition — SURVEY §2.A bug note 4) lives in
            # _jdbc_partition_bounds, which mirrors JdbcRDD exactly.
            df = self._load_placeholder_query(int(part_count or 0))
        else:
            df = self.reader(part_count).load()
        ds = DataStream(name, df, StreamType.COLUMNAR)
        # Reference JDBC supports only HASHCODE/RANDOM (JdbcColumnarInput.java:39-40).
        # Placeholder queries are already partitioned by their binds — the
        # reference keys records for shuffle placement but never moves them
        # off the JdbcRDD's own partitions at load.
        if not self.params.get("partition_column") and "?" not in query:
            ds = ds.repartitioned(part_count, partitioning)
        return {name: ds}


@output_adapter("jdbcColumnar")
class JdbcColumnarOutput(OutputAdapter):
    """Batched JDBC append. ``path`` is the table name; ``batch_size``
    defaults to the reference's 500 (``JdbcColumnarOutput.java:49-50``);
    ``columns`` projects/reorders with ``_`` skips before insert
    (``JdbcColumnarOutput.java:116-120``)."""

    PARAMS = _CONN_PARAMS + (
        Param("batch_size", "int", default=500,
              doc="INSERT batch size (reference JdbcColumnarOutput.java:49-50)"),
        Param("columns", "list[str]",
              doc="column select + reorder with '_' skips before insert"),
    )

    def save(self, name: str, stream: DataStream) -> None:
        df = stream.select_columns(self.params.get("columns")).df
        (
            df.write.format("jdbc")
            .option("url", self.params["url"])
            .option("dbtable", self.path)
            .option("batchsize", int(self.params.get("batch_size", 500)))
            .options(**_props(self.params))
            .mode("append")
            .save()
        )
