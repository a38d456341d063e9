"""Adapter-surface tests per FIXTURES.md §2 — each exercises a cited
reference behavior (SURVEY §2.A) through the registry + adapter lifecycle,
round-tripping against the synthetic tables."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from datacooker_dist_spark.model import Partitioning
from datacooker_dist_spark.plans import Configuration, run
from datacooker_dist_spark.registry import INPUTS, OUTPUTS, resolve_input, resolve_output


def load_one(spark, verb, path, params=None, part_count=None):
    ad = resolve_input(verb)().configure(params).initialize(spark, path)
    streams = ad.load("t", part_count)
    return streams


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def nation(spark):
    return spark.read.parquet(f"{SF_SMALL}/nation.parquet")


def test_registry_has_reference_verbs():
    # reference verbs (s3direct/jdbc modules) plus the hadoop generalization
    for verb in ["s3directColumnar", "s3directText", "jdbcColumnar", "hadoopColumnar", "hadoopText"]:
        assert verb in INPUTS
    for verb in ["s3directText", "s3directParquet", "jdbcColumnar", "hadoopColumnar", "hadoopParquet", "hadoopText"]:
        assert verb in OUTPUTS


def test_csv_header_roundtrip(spark, nation, tmp_path):
    """Header-schema inference + default TAB delimiter (A12; FIXTURES
    nation_header.tsv)."""
    p = str(tmp_path / "nation_header")
    nation.coalesce(1).write.options(header=True, sep="\t").csv(p)
    [ds] = load_one(spark, "hadoopColumnar", p).values()
    assert ds.columns == ["n_nationkey", "n_name", "n_regionkey"]
    got = rows(ds.df.select([F.col(c).cast("int") if c != "n_name" else F.col(c) for c in ds.columns]))
    assert got == rows(nation)


def test_declared_schema_with_skips(spark, nation, tmp_path):
    """Declared loose schema + `_` placeholder skip, no header (§1.3.2,
    A11; FIXTURES nation_noheader.csv)."""
    p = str(tmp_path / "nation_noheader")
    nation.coalesce(1).write.options(header=False, sep=",").csv(p)
    [ds] = load_one(
        spark,
        "hadoopColumnar",
        p,
        params={
            "schema_from_file": False,
            "delimiter": ",",
            "schema_default": ["n_nationkey", "_", "n_regionkey"],
        },
    ).values()
    assert ds.columns == ["n_nationkey", "n_regionkey"]
    got = rows(ds.df.select(F.col("n_nationkey").cast("int"), F.col("n_regionkey").cast("int")))
    assert got == rows(nation.select("n_nationkey", "n_regionkey"))


def test_column_select_reorder(spark, tmp_path):
    """columns param selects AND reorders (A10; FIXTURES customer_subset)."""
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    p = str(tmp_path / "customer")
    cust.coalesce(1).write.options(header=True, sep="\t").csv(p)
    [ds] = load_one(
        spark, "hadoopColumnar", p, params={"columns": ["c_name", "c_custkey"]}
    ).values()
    assert ds.columns == ["c_name", "c_custkey"]


def test_plain_text_lines(spark, tmp_path):
    """Plain-text input: line → record (A4; FIXTURES events_lines.txt)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    p = str(tmp_path / "lines")
    docs.select("text").coalesce(1).write.text(p)
    [ds] = load_one(spark, "hadoopText", p).values()
    assert ds.columns == ["value"]
    assert ds.df.count() == docs.count()


def test_gzip_codec_roundtrip(spark, nation, tmp_path):
    """Codec on write + decompress-by-suffix on read (A17/A18; FIXTURES
    orders_part.tsv.gz)."""
    p = str(tmp_path / "nation_gz")
    out = resolve_output("hadoopColumnar")().configure(
        {"codec": "gzip", "delimiter": "\t"}
    ).initialize(spark, p)
    from datacooker_dist_spark.model import DataStream, StreamType

    out.save("t", DataStream("t", nation, StreamType.COLUMNAR))
    import glob

    assert glob.glob(f"{p}/*.gz"), "expected .gz part files"
    [ds] = load_one(spark, "hadoopColumnar", p).values()
    assert ds.df.count() == nation.count()


def test_sub_dirs_split(spark, tmp_path):
    """sub_dirs=true explodes first-level subdirectories into named
    sub-streams (A15; FIXTURES lineitem_subdirs)."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").limit(300)
    base = str(tmp_path / "byyear")
    for year in [1995, 1996]:
        li.filter(F.year("l_shipdate") == year).coalesce(1).write.options(
            header=True, sep="\t"
        ).csv(f"{base}/{year}")
    streams = load_one(spark, "hadoopColumnar", base, params={"sub_dirs": True})
    assert sorted(streams) == ["t/1995", "t/1996"]
    for s in streams.values():
        assert s.df.count() > 0


def test_sub_dirs_missing_root_raises(spark, tmp_path):
    """A sub_dirs load from a root that does not exist fails, naming the
    verb and the URI (it used to return no streams, so the copy saved
    nothing and still succeeded)."""
    base = str(tmp_path / "absent")
    with pytest.raises(
        FileNotFoundError,
        match=f"'hadoopColumnar'.*{re.escape(base)} does not exist",
    ):
        load_one(spark, "hadoopColumnar", base, params={"sub_dirs": True})


def test_sub_dirs_root_without_subdirs_raises(spark, tmp_path):
    """A sub_dirs root holding only files has no sub-stream to copy."""
    base = tmp_path / "flat"
    base.mkdir()
    (base / "part-0.tsv").write_text("id\n1\n")
    with pytest.raises(
        FileNotFoundError,
        match=f"'hadoopText'.*{re.escape(str(base))} has no sub-directories",
    ):
        load_one(spark, "hadoopText", str(base), params={"sub_dirs": True})


def test_part_count_partitioning(spark, nation, tmp_path):
    """part_count + HASHCODE/RANDOM repartitioning (A13/A14)."""
    p = str(tmp_path / "nation_parts")
    nation.coalesce(1).write.options(header=True, sep="\t").csv(p)
    [ds] = load_one(spark, "hadoopColumnar", p, part_count=4).values()
    assert ds.df.rdd.getNumPartitions() == 4
    ds_rand = ds.repartitioned(3, Partitioning.RANDOM)
    assert ds_rand.df.rdd.getNumPartitions() == 3


def test_parquet_suffix_dispatch(spark, nation, tmp_path):
    """.parquet suffix selects the parquet branch of the columnar adapter
    (A3; reference S3DirectColumnarInputFunction.java:60-76)."""
    p = str(tmp_path / "nation_out.parquet")
    nation.write.parquet(p)
    [ds] = load_one(spark, "hadoopColumnar", p, params={"columns": ["n_name"]}).values()
    assert ds.columns == ["n_name"]
    assert ds.df.count() == nation.count()


def test_text_output_concat(spark, nation, tmp_path):
    """Columnar stream through the text sink becomes delimited lines (A7
    union-typed output)."""
    from datacooker_dist_spark.model import DataStream, StreamType

    p = str(tmp_path / "nation_text")
    resolve_output("hadoopText")().configure({"delimiter": "|"}).initialize(
        spark, p
    ).save("t", DataStream("t", nation.select("n_nationkey", "n_name"), StreamType.COLUMNAR))
    back = spark.read.text(p)
    assert back.count() == nation.count()
    assert back.filter(F.col("value").contains("|")).count() == nation.count()


def test_dist_runner_end_to_end(spark, tmp_path):
    """JSON config → direction select → load/save loop (A20/A22; FIXTURES
    copy_config.json). Copies nation csv→parquet and verifies content."""
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst.parquet")
    nation.coalesce(1).write.options(header=True, sep="\t").csv(src)
    cfg_path = tmp_path / "copy_config.json"
    cfg_path.write_text(
        json.dumps(
            {
                "t1": [
                    {
                        "source": {
                            "adapter": "hadoopColumnar",
                            "path": src,
                            "name": "nation",
                            "part_count": 2,
                            "params": {"delimiter": "\t"},
                        },
                        "dest": {
                            "adapter": "hadoopParquet",
                            "path": dst,
                            "name": "nation",
                            "params": {},
                        },
                    }
                ]
            }
        )
    )
    config = Configuration.load(spark, str(cfg_path))
    run(spark, config, "t1")
    back = spark.read.parquet(dst)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)


def test_direction_selection_errors():
    cfg = Configuration.from_json(
        '{"a": [], "b": []}'
    )
    with pytest.raises(ValueError):
        cfg.direction(None)
    with pytest.raises(KeyError):
        cfg.direction("missing")


def test_structured_json_input(spark, tmp_path):
    """JSON-lines adapter: nested structs survive, declared DDL schema
    pins types, columns select dotted paths (STRUCTURED stream type)."""
    p = tmp_path / "j"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": 1, "meta": {"lang": "en", "score": 0.5}, "tags": ["a", "b"]}\n'
        '{"id": 2, "meta": {"lang": "de", "score": 0.9}, "tags": []}\n'
    )
    streams = load_one(
        spark,
        "hadoopStructured",
        str(p),
        params={"schema_json": "id bigint, meta struct<lang:string, score:double>, tags array<string>"},
    )
    [ds] = streams.values()
    from datacooker_dist_spark.model import StreamType

    assert ds.stream_type is StreamType.STRUCTURED
    rows = {r.id: r for r in ds.df.collect()}
    assert rows[1].meta.lang == "en" and rows[1].tags == ["a", "b"]
    assert rows[2].meta.score == 0.9
    flat = ds.df.select("id", "meta.lang").collect()
    assert sorted((r.id, r.lang) for r in flat) == [(1, "en"), (2, "de")]


def test_declared_schema_required_error(spark, tmp_path):
    """schema_from_file=false without schema_default errors, mirroring the
    reference's required-param contract (S3DirectColumnarInput.java:56-59)."""
    p = str(tmp_path / "x")
    (tmp_path / "x").mkdir()
    (tmp_path / "x" / "f.csv").write_text("1,2\n")
    with pytest.raises(ValueError, match="schema_default"):
        load_one(spark, "hadoopColumnar", p, params={"schema_from_file": False})


def test_unknown_verb_error():
    with pytest.raises(KeyError, match="Unknown input adapter"):
        resolve_input("nope")
    with pytest.raises(KeyError, match="Unknown output adapter"):
        resolve_output("nope")


def test_zstd_parquet_roundtrip(spark, nation, tmp_path):
    """zstd codec on the parquet sink (modern default for cold data)."""
    from datacooker_dist_spark.model import DataStream, StreamType

    p = str(tmp_path / "nation_zstd.parquet")
    resolve_output("hadoopParquet")().configure({"codec": "zstd"}).initialize(
        spark, p
    ).save("t", DataStream("t", nation, StreamType.COLUMNAR))
    import glob

    assert glob.glob(f"{p}/*.zstd.parquet"), "expected zstd parquet parts"
    assert spark.read.parquet(p).count() == nation.count()


def test_jdbc_reader_options(spark):
    """JDBC option plumbing (A1): partitioned bounds land in the reader
    options (no driver jar in this env — asserts the option surface only;
    the reference's 0-based index bug has no analogue by construction)."""
    from datacooker_dist_spark.sources.jdbc import JdbcColumnarInput

    ad = JdbcColumnarInput().configure(
        {
            "url": "jdbc:postgresql://db/x",
            "driver": "org.postgresql.Driver",
            "user": "u",
            "password": "p",
            "partition_column": "id",
            "lower_bound": 0,
            "upper_bound": 100,
        }
    ).initialize(spark, "SELECT * FROM t")
    reader = ad.reader(part_count=8)
    # Options are stored JVM-side; building the reader without error and the
    # query-vs-dbtable dispatch is the testable surface here.
    ad2 = JdbcColumnarInput().configure({"url": "jdbc:x"}).initialize(spark, "tbl")
    assert ad2.reader(None) is not None
    assert reader is not None


def test_orc_roundtrip(spark, nation, tmp_path):
    from datacooker_dist_spark.model import DataStream, StreamType
    from datacooker_dist_spark.registry import resolve_input, resolve_output

    base = str(tmp_path / "orc")
    out = resolve_output("hadoopOrc")().configure({"codec": "zlib"}).initialize(
        spark, base
    )
    out.save("nation", DataStream("nation", nation, StreamType.COLUMNAR))
    inp = resolve_input("hadoopOrc")().configure(
        {"columns": ["n_name", "n_nationkey"]}
    ).initialize(spark, base)
    [ds] = inp.load("nation").values()
    assert ds.df.columns == ["n_name", "n_nationkey"]
    assert ds.df.count() == nation.count()
    assert dict(ds.df.collect()) == {
        r["n_name"]: r["n_nationkey"] for r in nation.collect()
    }


def test_xml_roundtrip(spark, nation, tmp_path):
    from datacooker_dist_spark.model import DataStream, StreamType
    from datacooker_dist_spark.registry import resolve_input, resolve_output

    base = str(tmp_path / "xml")
    out = resolve_output("hadoopXml")().configure(
        {"row_tag": "nation", "root_tag": "nations"}
    ).initialize(spark, base)
    out.save("nation", DataStream("nation", nation, StreamType.COLUMNAR))
    inp = resolve_input("hadoopXml")().configure(
        {"row_tag": "nation", "schema_ddl": "n_nationkey BIGINT, n_name STRING"}
    ).initialize(spark, base)
    [ds] = inp.load("nation").values()
    assert dict(ds.df.collect()) == {
        r["n_nationkey"]: r["n_name"] for r in nation.collect()
    }


def test_custom_python_datasource_partitions(spark):
    from datacooker_dist_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("synthseq")
        .option("n", "1000")
        .option("parts", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000
    rows = dict(df.filter("id < 3").collect())
    assert rows == {0: 0, 1: 2654435761 % 1000, 2: (2 * 2654435761) % 1000}


def test_typoed_param_raises(spark):
    """A21 param metadata: unknown names error instead of silently no-oping
    (reference typed-param contract, DocGen.java:68-76)."""
    with pytest.raises(ValueError, match="delimitter"):
        resolve_input("hadoopColumnar")().configure({"delimitter": "|"})
    with pytest.raises(ValueError, match="Unknown param"):
        resolve_output("hadoopParquet")().configure({"partitionby": ["x"]})


def test_missing_required_param_raises(spark):
    from datacooker_dist_spark.sources.jdbc import JdbcColumnarInput

    with pytest.raises(ValueError, match="url"):
        JdbcColumnarInput().configure({"user": "u"})


def test_param_defaults_applied(spark):
    ad = resolve_input("hadoopColumnar")().configure({})
    assert ad.params["delimiter"] == "\t"
    assert ad.params["schema_from_file"] is True


def test_adapter_docs_cover_registry():
    from datacooker_dist_spark.registry import INPUTS, OUTPUTS, adapter_docs

    docs = adapter_docs()
    for verb in list(INPUTS) + list(OUTPUTS):
        assert f"`{verb}`" in docs
    assert "| `delimiter` |" in docs
    # Committed page stays in sync with the registry.
    import pathlib

    page = pathlib.Path(__file__).resolve().parents[1] / "docs" / "ADAPTERS.md"
    assert page.read_text() == docs + "\n"


def test_by_source_partitioning(spark, nation, tmp_path):
    """Partitioning.BY_SOURCE co-locates each input file's records in one
    partition (commons enum gap, JdbcColumnarInput.java:39-40 note)."""
    base = str(tmp_path / "multi")
    # Three physical files → three sources.
    nation.repartition(3).write.options(header=True, sep="\t").csv(base)
    [ds] = load_one(spark, "hadoopColumnar", base).values()
    # Pin the file name as a data column BEFORE the exchange —
    # input_file_name() is only defined on the scan side of a shuffle.
    ds = ds.with_df(ds.df.withColumn("f", F.input_file_name()))
    n_files = ds.df.select("f").distinct().count()
    assert n_files >= 2
    parted = ds.repartitioned(8, Partitioning.BY_SOURCE)
    # Each file maps to exactly one partition id (hash of file name), so
    # counting distinct partition ids per file must give 1 for every file.
    from pyspark.sql.functions import spark_partition_id

    per_file = (
        parted.df.select("f", spark_partition_id().alias("p"))
        .groupBy("f")
        .agg(F.countDistinct("p").alias("np"))
        .collect()
    )
    assert len(per_file) == n_files
    assert all(r["np"] == 1 for r in per_file)


def test_content_type_param_accepted(spark, nation, tmp_path):
    """content_type (S3DirectTextOutput.java:34-44) is declared and accepted;
    on file:// targets it is a documented no-op."""
    from datacooker_dist_spark.model import DataStream, StreamType

    p = str(tmp_path / "ct")
    out = resolve_output("hadoopText")().configure(
        {"content_type": "text/tab-separated-values"}
    ).initialize(spark, p)
    out.save("nation", DataStream("nation", nation, StreamType.COLUMNAR))
    assert spark.read.text(p).count() == nation.count()


def test_content_type_sets_s3a_create_header_scoped(spark, nation):
    """On an s3a target the param must land in Hadoop 3.4's documented
    custom-header conf (`fs.s3a.create.header.Content-Type`) — the key the
    s3a writers attach to every created object's upload — FOR THE WRITE
    ONLY: the previous conf value is restored afterwards, so one output's
    content type never contaminates later s3a writes in the session.
    (The old `fs.s3a.object.content.type` was not a real Hadoop property:
    silent no-op, VERDICT r02 task 5.) Conf-level assertion only: no s3
    endpoint nor hadoop-aws jar exists offline."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    key = "fs.s3a.create.header.Content-Type"
    out = resolve_output("hadoopText")().configure(
        {"content_type": "text/csv"}
    ).initialize(spark, "s3a://bucket/prefix")
    cleanup = out._apply_content_type()
    assert hc.get(key) == "text/csv"
    cleanup()
    assert hc.get(key) is None  # restored: no session leak

    # nested/previous value round-trips too
    hc.set(key, "application/json")
    cleanup = out._apply_content_type()
    assert hc.get(key) == "text/csv"
    cleanup()
    assert hc.get(key) == "application/json"
    hc.unset(key)


def test_config_partitioning_plumb_through(spark, nation, tmp_path):
    """The copy-config 'partitioning' key reaches the adapter's load()
    (HASHCODE default; BY_SOURCE/RANDOM/SOURCE accepted; typos raise)."""
    import json as _json

    from datacooker_dist_spark.plans import Configuration, run

    src = str(tmp_path / "cfg_src")
    dst = str(tmp_path / "cfg_dst")
    nation.write.options(header=True, sep="\t").csv(src)
    conf = {
        "copy": [{
            "source": {"adapter": "hadoopColumnar", "path": src,
                       "name": "nation", "part_count": 4,
                       "partitioning": "RANDOM"},
            "dest": {"adapter": "hadoopColumnar", "path": dst,
                     "name": "nation", "params": {"delimiter": "\t"}},
        }]
    }
    cfg = Configuration.from_json(_json.dumps(conf))
    assert cfg.direction("copy")[0].source.partitioning == "RANDOM"
    run(spark, cfg, "copy")
    assert spark.read.options(header=True, sep="\t").csv(dst).count() == 25

    bad = {"copy": [{"source": {"adapter": "x", "path": "p",
                                "partitioning": "BYSRC"},
                     "dest": {"adapter": "y", "path": "q"}}]}
    with pytest.raises(ValueError, match="BYSRC"):
        Configuration.from_json(_json.dumps(bad))


def test_parse_mode_drops_or_fails_malformed(spark, tmp_path):
    """parse_mode policy on delimited text: DROPMALFORMED skips short rows,
    FAILFAST raises, PERMISSIVE null-fills — explicit where the reference's
    parser silently misparsed (SURVEY §2.A bugs note)."""
    p = tmp_path / "bad"
    p.mkdir()
    (p / "data.csv").write_text("a,b,c\n1,2,3\nmalformed\n4,5,6\n")
    declared = {
        "schema_from_file": False,
        "delimiter": ",",
        "schema_default": ["a", "b", "c"],
    }
    # Declared 3-col schema: the 1-field line is malformed.
    [ds] = load_one(
        spark, "hadoopColumnar", str(p),
        params={**declared, "parse_mode": "DROPMALFORMED"},
    ).values()
    vals = sorted(r["a"] for r in ds.df.collect())
    assert vals == ["1", "4", "a"]  # header line is data without a header
    [ds_p] = load_one(
        spark, "hadoopColumnar", str(p),
        params={**declared, "parse_mode": "PERMISSIVE"},
    ).values()
    assert ds_p.df.count() == 4  # malformed row kept, null-filled
    with pytest.raises(ValueError, match="parse_mode"):
        load_one(
            spark, "hadoopColumnar", str(p),
            params={**declared, "parse_mode": "LENIENT"},
        )


def test_structured_parse_mode_drops_malformed(spark, tmp_path):
    p = tmp_path / "badjson"
    p.mkdir()
    (p / "d.jsonl").write_text('{"id": 1}\nnot json\n{"id": 2}\n')
    [ds] = load_one(
        spark, "hadoopStructured", str(p),
        params={"schema_json": "id bigint",
                "parse_mode": "DROPMALFORMED"},
    ).values()
    assert sorted(r["id"] for r in ds.df.collect()) == [1, 2]


def test_cli_docgen_prints_registry():
    import contextlib
    import io

    from datacooker_dist_spark.plans.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["--docgen"]) == 0
    out = buf.getvalue()
    assert "### `hadoopColumnar` (input)" in out
    assert "| `parse_mode` |" in out
    assert main([]) == 2  # config required when not docgen


def test_query_index_doc_is_fresh():
    """docs/QUERIES.md is generated from the registry; adding a query
    without re-running tools/gen_query_index.py fails here."""
    import os
    import re

    from datacooker_dist_spark.suite import ORACLES, QUERIES

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "docs", "QUERIES.md")
    with open(path) as fh:
        head = fh.read(400)
    m = re.search(r"(\d+) queries, (\d+) with exact DuckDB oracles", head)
    assert m, "QUERIES.md header not found"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)


def test_fixedwidth_overflow_raises(spark, tmp_path):
    """A value longer than its declared span must fail the write loudly —
    silent truncation shifts every later field on read-back."""
    from datacooker_dist_spark.model import DataStream, StreamType
    from datacooker_dist_spark.registry import resolve_output

    df = spark.createDataFrame([("toolongvalue", 1)], "a string, b int")
    out = resolve_output("hadoopFixedWidth")().configure(
        {"widths": [4, 4]}
    ).initialize(spark, str(tmp_path / "fw"))
    with pytest.raises(Exception, match="fixed-width overflow"):
        out.save("t", DataStream("t", df, StreamType.COLUMNAR))


def test_fixedwidth_widths_schema_mismatch_raises(spark, tmp_path):
    from datacooker_dist_spark.registry import resolve_input

    inp = resolve_input("hadoopFixedWidth")().configure(
        {"widths": [4, 4], "schema_default": ["a"]}
    ).initialize(spark, str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="same length"):
        inp.load("t")


def test_adapter_docs_are_fresh():
    """docs/ADAPTERS.md is generated from the registry (--docgen);
    adding or changing an adapter without regenerating fails here."""
    import os

    from datacooker_dist_spark import sources  # noqa: F401 — populate
    from datacooker_dist_spark.registry import adapter_docs

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "docs", "ADAPTERS.md")
    with open(path) as fh:
        on_disk = fh.read()
    assert on_disk.strip() == adapter_docs().strip()


def test_alias_verbs_keep_their_own_names():
    """The s3direct verbs are separate registrations: a typo in a
    hadoopColumnar config is reported against hadoopColumnar, not the
    alias registered after it."""
    with pytest.raises(ValueError, match="adapter 'hadoopColumnar'"):
        resolve_input("hadoopColumnar")().configure({"bogus": 1})
    for verb in ("s3directColumnar", "s3directText"):
        assert resolve_input(verb).verb == verb
    for verb in ("s3directText", "s3directParquet"):
        assert resolve_output(verb).verb == verb


def test_fixedwidth_truncate_false_string_raises(spark, tmp_path):
    """`truncate: "false"` from a JSON/string config is a real False: an
    overlong value still fails the write instead of being cut."""
    from datacooker_dist_spark.model import DataStream, StreamType

    df = spark.createDataFrame([("toolongvalue", 1)], "a string, b int")
    out = resolve_output("hadoopFixedWidth")().configure(
        {"widths": [4, 4], "truncate": "false"}
    ).initialize(spark, str(tmp_path / "fw"))
    with pytest.raises(Exception, match="fixed-width overflow"):
        out.save("t", DataStream("t", df, StreamType.COLUMNAR))


def test_fixedwidth_trim_false_string_keeps_padding(spark, tmp_path):
    p = tmp_path / "fwin"
    p.mkdir()
    (p / "d.txt").write_text("ab  cd  \n")
    [ds] = load_one(
        spark, "hadoopFixedWidth", str(p),
        params={"widths": [4, 4], "schema_default": ["a", "b"], "trim": "false"},
    ).values()
    assert [tuple(r) for r in ds.df.collect()] == [("ab  ", "cd  ")]


def test_bool_param_rejects_non_bool_word():
    with pytest.raises(ValueError, match="'sub_dirs' of adapter 'hadoopText'"):
        resolve_input("hadoopText")().configure({"sub_dirs": "maybe"})


def test_cli_ignores_reference_tmp_and_local_options():
    from datacooker_dist_spark.plans.cli import make_parser

    args, _unknown = make_parser().parse_known_args(
        ["-l", "-t", "/x", "-c", "c.json", "-d", "d"]
    )
    assert (args.config, args.direction) == ("c.json", "d")


def test_projection_precedes_hashcode_repartition(spark, tmp_path):
    """The copy-job load shape (gzip TSV sub-dirs, `_`-skip columns,
    HASHCODE part_count) hashes exactly the kept columns: the projection
    is applied before the repartition."""
    import re

    rows_ = spark.createDataFrame(
        [(i, f"u{i}", f"t{i}", f"n{i}") for i in range(20)],
        "id int, user string, ts string, note string",
    )
    base = str(tmp_path / "copy_src")
    for year in ("2021", "2022"):
        rows_.coalesce(1).write.options(
            header=True, sep="\t", compression="gzip"
        ).csv(f"{base}/{year}")
    streams = load_one(
        spark, "hadoopColumnar", base,
        params={"sub_dirs": True, "columns": ["id", "_", "note", "user"]},
        part_count=3,
    )
    assert sorted(streams) == ["t/2021", "t/2022"]
    for ds in streams.values():
        plan = ds.df._jdf.queryExecution().optimizedPlan().toString()
        [key] = re.findall(r"RepartitionByExpression \[xxhash64\(([^)]*)\)\], 3", plan)
        hashed = [re.sub(r"#\d+L?$", "", c) for c in key.split(", ")[:-1]]
        assert hashed == ["id", "note", "user"]
