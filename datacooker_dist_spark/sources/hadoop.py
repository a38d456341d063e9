"""Hadoop-filesystem storage adapters (reference A2-A5, A7-A19).

Every ``hadoop*``/``s3direct*`` verb runs through one load path and one save
path; a format contributes only what differs.

- ``_HadoopInputBase.load`` resolves the URI, splits first-level
  subdirectories into sub-streams when ``sub_dirs`` is set (A15), asks the
  format's ``_read(uri)`` for the raw reader, then applies ``columns``
  (select + reorder with ``_`` skips, A10/A11) and only after that
  ``part_count`` + partitioning (A13/A14) — so HASHCODE hashes the kept
  columns only.
- ``_HadoopOutputBase.save`` projects ``columns``, lets the format's
  ``_frame(df)`` reshape the frame and add writer options, then writes
  ``mode("overwrite").format(FORMAT)`` with the codec (A18) and any
  ``partition_by``, under the write-scoped ``content_type`` conf.

The reference's hand-rolled mechanics map onto Spark's file sources:

- whole-file grouping / non-splittable gzip (A16/A17) → file-source
  partitioning + built-in codec detection
- multipart S3 streaming upload (A19) → the committer protocol on s3a
- decompress-by-suffix (A17) / compress-on-write (A18) → ``compression``
- schema-from-header (A12) → ``header`` option
- declared loose schema with ``_`` skips (§1.3.2) → all-string StructType +
  drop

One columnar adapter covers delimited text AND parquet (the reference
dispatches on the ``.parquet`` filename suffix — ``S3DirectColumnarInput
Function.java:60-76``). The reference's ``s3d://`` direct-S3 scheme is an s3a
URI here: the adapters rewrite the scheme and push credentials/endpoint
params into the Hadoop conf (``fs.s3a.*``), which is the idiomatic-Spark
replacement for its hand-held AWS SDK client (``S3DirectStorage.java``-family).
The ``s3direct*`` verbs are empty subclasses of their ``hadoop*`` adapters.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..model import DataStream, Partitioning, StreamType
from ..registry import Param, input_adapter, output_adapter
from .base import InputAdapter, OutputAdapter

DEFAULT_DELIMITER = "\t"  # reference default (S3DirectColumnarInput.java:60-61)
PARSE_MODES = ("PERMISSIVE", "DROPMALFORMED", "FAILFAST")

# Every hadoop-family adapter accepts the s3d:// credential params
# (reference ``S3DirectStorage`` metas, pushed to fs.s3a.* in resolve_uri).
S3_PARAMS = (
    Param("access_key", "str", doc="S3 access key for s3d:// paths"),
    Param("secret_key", "str", doc="S3 secret key for s3d:// paths"),
    Param("endpoint", "str", doc="S3 endpoint override for s3d:// paths"),
    Param("region", "str", doc="S3 endpoint region for s3d:// paths"),
)
COLUMNS_PARAM = Param(
    "columns", "list[str]",
    doc="column select + reorder; '_' skips a physical column (A10/A11)",
)
SUB_DIRS_PARAM = Param(
    "sub_dirs", "bool",
    doc="split first-level subdirectories into sub-streams (A15)",
)
CODEC_PARAM = Param(
    "codec", "str", default="none",
    doc="compression codec on write: none/gzip/snappy/zstd/... (A18)",
)
CONTENT_TYPE_PARAM = Param(
    "content_type", "str",
    doc="S3 object Content-Type metadata on upload (reference "
        "S3DirectTextOutput.java:34-44); set through Hadoop 3.4's "
        "documented custom-header conf fs.s3a.create.header.Content-Type "
        "for s3a/s3d targets (requires hadoop-aws >= 3.4 at deploy time); "
        "a documented no-op on filesystems without object metadata",
)
PARTITION_BY_PARAM = Param(
    "partition_by", "list[str]", doc="hive-style partition columns on write",
)


def resolve_uri(path: str, params: dict, spark) -> str:
    """Map the reference's ``s3d://`` scheme to s3a and install the
    direct-endpoint credentials into the Hadoop conf (reference
    ``S3DirectStorage`` params: access_key/secret_key/endpoint/region)."""
    if path.startswith("s3d://"):
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        if params.get("access_key"):
            hconf.set("fs.s3a.access.key", str(params["access_key"]))
        if params.get("secret_key"):
            hconf.set("fs.s3a.secret.key", str(params["secret_key"]))
        if params.get("endpoint"):
            hconf.set("fs.s3a.endpoint", str(params["endpoint"]))
        if params.get("region"):
            hconf.set("fs.s3a.endpoint.region", str(params["region"]))
        return "s3a://" + path[len("s3d://"):]
    return path


def list_subdirs(spark, uri: str) -> list[str] | None:
    """First-level 'subdirectories' under a prefix via the Hadoop FileSystem
    API (works for file:, hdfs:, s3a: — the reference pages the S3 listing
    by hand, ``S3DirectInput.java:56-91``); None when the prefix does not
    exist."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(uri)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return None
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory()
    )


class _HadoopInputBase(InputAdapter):
    stream_type = StreamType.COLUMNAR

    def load(self, name, part_count=None, partitioning=Partitioning.HASHCODE):
        uri = resolve_uri(self.path, self.params, self.spark)
        if self.params.get("sub_dirs"):
            subs = list_subdirs(self.spark, uri)
            if not subs:
                # A copy that finds nothing to copy must not report success.
                why = "does not exist" if subs is None else "has no sub-directories"
                raise FileNotFoundError(
                    f"Input '{self.verb}' with sub_dirs: source {uri} {why}"
                )
            uris = {f"{name}/{sub}": posixpath.join(uri, sub) for sub in subs}
        else:
            uris = {name: uri}
        # Project before repartitioning: HASHCODE hashes the kept columns only.
        return {
            n: DataStream(n, self._read(u), self.stream_type)
            .select_columns(self.params.get("columns"))
            .repartitioned(part_count, partitioning)
            for n, u in uris.items()
        }

    def _read(self, uri: str) -> DataFrame:
        """The format's raw reader for one directory or file."""
        raise NotImplementedError

    def _parse_mode(self) -> str:
        mode = str(self.params["parse_mode"]).upper()
        if mode not in PARSE_MODES:
            raise ValueError(
                f"Unknown parse_mode '{mode}'; expected {'/'.join(PARSE_MODES)}"
            )
        return mode


@input_adapter("hadoopColumnar")
class HadoopColumnarInput(_HadoopInputBase):
    """Delimited-text / parquet → columnar rows (reference A2/A3/A5).

    Params (reference names): ``delimiter`` (default TAB),
    ``schema_from_file`` (default true → header row), ``schema_default``
    (declared loose schema, ``_`` = skip physical column), ``columns``
    (select + reorder), ``sub_dirs``.
    """

    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        Param("delimiter", "str", default=DEFAULT_DELIMITER,
              doc="field delimiter for delimited text (A2)"),
        Param("schema_from_file", "bool", default=True,
              doc="read the header row as the schema (A12)"),
        Param("schema_default", "list[str]",
              doc="declared loose schema when schema_from_file=false; "
                  "'_' positions drop the physical column"),
        Param("parquet", "bool",
              doc="force the parquet branch regardless of path suffix (A3)"),
        SUB_DIRS_PARAM,
        Param("parse_mode", "str", default="PERMISSIVE",
              doc="malformed-row policy for delimited text: PERMISSIVE "
                  "(null-fill, keep raw line in _corrupt_record), "
                  "DROPMALFORMED, or FAILFAST — the reference's parser "
                  "silently misparses short rows (SURVEY §2.A bugs); here "
                  "the policy is explicit and auditable"),
    )

    def _read(self, uri: str) -> DataFrame:
        if uri.rstrip("/").endswith(".parquet") or self.params.get("parquet"):
            return self.spark.read.parquet(uri)
        r = self.spark.read.options(
            sep=self.params["delimiter"],
            mode=self._parse_mode(),
        )
        if self.params["schema_from_file"]:
            return r.options(header=True).csv(uri)
        declared = self.params.get("schema_default")
        if not declared:
            raise ValueError(
                "schema_default is required when schema_from_file=false "
                "(reference S3DirectColumnarInput.java:56-59)"
            )
        # Loose schema: names only, everything string, `_` positions are
        # placeholders for physical columns to drop.
        names = [c if c != "_" else f"__skip_{i}" for i, c in enumerate(declared)]
        schema = StructType([StructField(n, StringType()) for n in names])
        df = r.options(header=False).schema(schema).csv(uri)
        return df.drop(*[n for n in names if n.startswith("__skip_")])


@input_adapter("hadoopText")
class HadoopTextInput(_HadoopInputBase):
    """Line stream → single ``value: string`` column (reference A4)."""

    stream_type = StreamType.PLAIN_TEXT
    PARAMS = S3_PARAMS + (SUB_DIRS_PARAM,)

    def _read(self, uri: str) -> DataFrame:
        return self.spark.read.text(uri)


@input_adapter("hadoopStructured")
class HadoopStructuredInput(_HadoopInputBase):
    """JSON-lines → structured records (the upstream commons BSON/JSON
    record family, SURVEY §1.2/§1.5): nested values land as native
    struct/array/map columns. ``schema_json`` pins an explicit DDL schema;
    otherwise Spark samples to infer. ``columns`` selects/reorders
    (dotted paths allowed)."""

    stream_type = StreamType.STRUCTURED
    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        Param("schema_json", "str",
              doc="explicit DDL schema; omitted → Spark samples to infer"),
        SUB_DIRS_PARAM,
        Param("parse_mode", "str", default="PERMISSIVE",
              doc="malformed-record policy: PERMISSIVE (null-fill), "
                  "DROPMALFORMED, or FAILFAST"),
    )

    def _read(self, uri: str) -> DataFrame:
        r = self.spark.read.option("mode", self._parse_mode())
        if self.params.get("schema_json"):
            r = r.schema(self.params["schema_json"])
        return r.json(uri)


@input_adapter("hadoopOrc")
class HadoopOrcInput(_HadoopInputBase):
    """ORC → columnar rows (engine extension of the reference's A5
    'any Hadoop format' base — dist itself only shipped text/parquet).
    ORC is the other self-describing columnar lake format Spark reads
    vectorized with predicate pushdown; ``columns`` selects/reorders."""

    PARAMS = S3_PARAMS + (COLUMNS_PARAM, SUB_DIRS_PARAM)

    def _read(self, uri: str) -> DataFrame:
        return self.spark.read.orc(uri)


@input_adapter("hadoopXml")
class HadoopXmlInput(_HadoopInputBase):
    """XML → columnar rows via Spark 4's native XML source (engine
    extension; ``row_tag`` picks the repeating record element,
    ``schema_ddl`` pins an explicit schema instead of inference)."""

    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        Param("row_tag", "str", default="row",
              doc="repeating record element name"),
        Param("schema_ddl", "str",
              doc="explicit DDL schema instead of inference"),
        SUB_DIRS_PARAM,
    )

    def _read(self, uri: str) -> DataFrame:
        r = self.spark.read.format("xml").option("rowTag", self.params["row_tag"])
        if self.params.get("schema_ddl"):
            r = r.schema(self.params["schema_ddl"])
        return r.load(uri)


@input_adapter("hadoopFixedWidth")
class HadoopFixedWidthInput(_HadoopInputBase):
    """Fixed-width text → columnar rows (engine extension of the A5
    any-Hadoop-format base): the classic mainframe/ERP feed layout where
    each field occupies a declared character span. ``widths`` and
    ``schema_default`` must align positionally; ``_`` names skip their
    span (A11 semantics). Values read back as trimmed strings — type
    them downstream (the format carries no type information, exactly
    like the reference's loose delimited schema, SURVEY §1.3). Parsing
    is pure ``substring`` projection: narrow, codegen, no shuffle."""

    PARAMS = S3_PARAMS + (
        Param("widths", "list[int]", required=True,
              doc="character width of each field, in order"),
        Param("schema_default", "list[str]", required=True,
              doc="field names, positionally matching widths; '_' skips"),
        Param("trim", "bool", default=True,
              doc="strip the pad characters from each value"),
        SUB_DIRS_PARAM,
    )

    def _read(self, uri: str) -> DataFrame:
        widths = [int(w) for w in self.params["widths"]]
        names = list(self.params["schema_default"])
        if len(widths) != len(names):
            raise ValueError(
                f"widths ({len(widths)}) and schema_default ({len(names)}) "
                "must have the same length"
            )
        cols, off = [], 0
        for name, width in zip(names, widths):
            if name != "_":
                c = F.substring("value", off + 1, width)
                cols.append((F.trim(c) if self.params["trim"] else c).alias(name))
            off += width
        return self.spark.read.text(uri).select(*cols)


@input_adapter("s3directColumnar")
class S3DirectColumnarInput(HadoopColumnarInput):
    """``hadoopColumnar`` input under the reference's s3direct verb."""


@input_adapter("s3directText")
class S3DirectTextInput(HadoopTextInput):
    """``hadoopText`` input under the reference's s3direct verb."""


_CT_KEY = "fs.s3a.create.header.Content-Type"


class _HadoopOutputBase(OutputAdapter):
    #: Spark writer format name.
    FORMAT = "text"

    def save(self, name: str, stream: DataStream) -> None:
        df, options = self._frame(stream.select_columns(self.params.get("columns")).df)
        codec = str(self.params["codec"]).lower()
        if codec == "none" and self.FORMAT == "parquet":
            codec = "snappy"
        w = (
            df.write.mode("overwrite").format(self.FORMAT)
            .options(compression=codec, **options)
        )
        if self.params.get("partition_by"):
            w = w.partitionBy(*self.params["partition_by"])
        cleanup = self._apply_content_type()
        try:
            w.save(self._target(name))
        finally:
            cleanup()

    def _frame(self, df: DataFrame) -> tuple[DataFrame, dict]:
        """Reshape the projected frame for the format; return it with any
        extra writer options."""
        return df, {}

    def _apply_content_type(self):
        """content_type (reference S3DirectTextOutput.java:34-44): S3 object
        Content-Type metadata. Hadoop 3.4's s3a attaches custom object
        headers from conf keys under the documented `fs.s3a.create.header.`
        prefix (hadoop-aws index.md "Custom S3 headers") — every object the
        writers create then carries the header on its multipart upload,
        which is where the reference sets its content type. The key is
        session-global Hadoop conf, so :meth:`save` sets it only for the
        duration of the write and restores the prior value after —
        otherwise one output's content type would contaminate every later
        s3a write in the session. (Copy-runner tasks execute serially, like
        the reference's Main loop; concurrent multi-threaded writes with
        DIFFERENT content types would race on the shared conf — inherent
        to the Hadoop-conf mechanism.) On file:// and hdfs:// there is no
        object metadata to set — accepted, documented no-op. Requires
        hadoop-aws >= 3.4 at deploy time. Returns a cleanup callable."""
        uri = resolve_uri(self.path, self.params, self.spark)
        if not (self.params.get("content_type") and uri.startswith("s3a://")):
            return lambda: None
        hc = self.spark.sparkContext._jsc.hadoopConfiguration()
        prev = hc.get(_CT_KEY)
        hc.set(_CT_KEY, str(self.params["content_type"]))

        def cleanup():
            if prev is None:
                hc.unset(_CT_KEY)
            else:
                hc.set(_CT_KEY, prev)

        return cleanup

    def _target(self, name: str) -> str:
        uri = resolve_uri(self.path, self.params, self.spark)
        # Sub-stream names ("dest/sub") land in subdirectories, mirroring the
        # reference's dest-name rewrite (Main.java:139-145).
        sub = name.split("/", 1)[1] if "/" in name else None
        return posixpath.join(uri, sub) if sub else uri


@output_adapter("hadoopColumnar")
class HadoopColumnarOutput(_HadoopOutputBase):
    """Columnar → delimited text with codec (reference A7), or parquet when
    ``format=parquet`` (A8). Accepts PlainText or Columnar streams, like the
    reference's union-typed text output (``S3DirectTextOutput.java:34``)."""

    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        CODEC_PARAM,
        CONTENT_TYPE_PARAM,
        Param("format", "str", default="csv",
              doc="'csv' (delimited text, A7) or 'parquet' (A8)"),
        Param("delimiter", "str", default=DEFAULT_DELIMITER,
              doc="field delimiter for the csv branch"),
    )

    @property
    def FORMAT(self) -> str:
        return "parquet" if str(self.params["format"]).lower() == "parquet" else "csv"

    def _frame(self, df):
        if self.FORMAT == "parquet":
            return df, {}
        return df, {"header": True, "sep": self.params["delimiter"]}


@output_adapter("hadoopParquet")
class HadoopParquetOutput(_HadoopOutputBase):
    """Columnar → parquet (reference A8/A9). ``partition_by`` writes
    hive-style partition directories (beyond the reference's surface —
    partition values prune at scan time, the organizing principle for
    time/tenant-partitioned 100 TB lakes)."""

    FORMAT = "parquet"
    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        CONTENT_TYPE_PARAM,
        Param("codec", "str", default="snappy",
              doc="parquet compression codec (none → snappy)"),
        PARTITION_BY_PARAM,
    )


@output_adapter("hadoopText")
class HadoopTextOutput(_HadoopOutputBase):
    """Plain-text sink: one line per record (reference A7 text branch)."""

    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        CODEC_PARAM,
        CONTENT_TYPE_PARAM,
        Param("delimiter", "str", default=DEFAULT_DELIMITER,
              doc="join delimiter when the stream has >1 column"),
    )

    def _frame(self, df):
        if len(df.columns) > 1:
            df = df.select(
                F.concat_ws(
                    self.params["delimiter"],
                    *[F.col(c).cast("string") for c in df.columns],
                ).alias("value")
            )
        return df, {}


@output_adapter("hadoopStructured")
class HadoopStructuredOutput(_HadoopOutputBase):
    """Structured records → JSON-lines with codec (completes the
    structured family: the reference's commons has the JSON record type
    but dist never shipped a JSON sink — engine extension). Nested
    struct/array/map columns serialize natively."""

    FORMAT = "json"
    PARAMS = S3_PARAMS + (COLUMNS_PARAM, CODEC_PARAM, CONTENT_TYPE_PARAM)


@output_adapter("hadoopOrc")
class HadoopOrcOutput(_HadoopOutputBase):
    """Columnar → ORC with codec (zlib/snappy/zstd/none) and optional
    hive-style ``partition_by`` — mirrors the parquet sink for the other
    columnar lake format."""

    FORMAT = "orc"
    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        CONTENT_TYPE_PARAM,
        Param("codec", "str", default="snappy", doc="ORC compression codec"),
        PARTITION_BY_PARAM,
    )


@output_adapter("hadoopXml")
class HadoopXmlOutput(_HadoopOutputBase):
    """Columnar → XML documents (``row_tag``/``root_tag`` name the
    elements; codec compresses whole files, XML is not splittable)."""

    FORMAT = "xml"
    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        CODEC_PARAM,
        CONTENT_TYPE_PARAM,
        Param("row_tag", "str", default="row", doc="record element name"),
        Param("root_tag", "str", default="rows", doc="root element name"),
    )

    def _frame(self, df):
        return df, {"rowTag": self.params["row_tag"], "rootTag": self.params["root_tag"]}


@output_adapter("hadoopFixedWidth")
class HadoopFixedWidthOutput(_HadoopOutputBase):
    """Columnar → fixed-width text lines: each column cast to string and
    right-padded (or truncated) to its declared width. A value longer
    than its span raises by default (silent truncation corrupts adjacent
    fields on read-back) unless ``truncate=true``."""

    PARAMS = S3_PARAMS + (
        COLUMNS_PARAM,
        CODEC_PARAM,
        CONTENT_TYPE_PARAM,
        Param("widths", "list[int]", required=True,
              doc="character width of each output field, in order"),
        Param("truncate", "bool", default=False,
              doc="silently truncate overlong values instead of failing"),
    )

    def _frame(self, df):
        widths = [int(w) for w in self.params["widths"]]
        if len(widths) != len(df.columns):
            raise ValueError(
                f"widths ({len(widths)}) must match the projected column "
                f"count ({len(df.columns)})"
            )
        parts = []
        for col, width in zip(df.columns, widths):
            sc = F.col(col).cast("string")
            padded = F.rpad(sc, width, " ")
            if not self.params["truncate"]:
                # raise_error on overflow: a too-wide value shifting every
                # later field is the classic fixed-width corruption.
                overflow = F.concat(
                    F.lit(f"fixed-width overflow in '{col}' (width {width}): "), sc
                )
                padded = F.when(F.length(sc) > width, F.raise_error(overflow)).otherwise(padded)
            parts.append(padded)
        return df.select(F.concat(*parts).alias("value")), {}


@output_adapter("s3directText")
class S3DirectTextOutput(HadoopColumnarOutput):
    """``hadoopColumnar`` output under the reference's s3direct verb."""


@output_adapter("s3directParquet")
class S3DirectParquetOutput(HadoopParquetOutput):
    """``hadoopParquet`` output under the reference's s3direct verb."""
