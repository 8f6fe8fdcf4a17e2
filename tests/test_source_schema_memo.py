"""Per-session source-schema memo (``sources._read_file``): a re-compile of
an unchanged mapping starts no Spark job, the memoized read equals Spark's
own read, a changed file is re-read, and the memo is neither shared across
sessions nor applied to directories. Also guards the engine session's
call-site-capture setting, the other half of a cheap re-compile."""

import glob
import os

import pytest

from jobcount import count_jobs
from perfbench import gen
from pyrml_spark.compiler import RMLCompiler
from pyrml_spark.model import LogicalSource
from pyrml_spark.parse_mapping import parse_mapping, parse_mapping_file
from pyrml_spark.sources import SourceLoader, apply_json_iterator

SF_DIR = "/root/testdata/sf0.001"


def _spark_read(spark, ls: LogicalSource):
    """Spark's own read of ``ls``: the same reader options, no memo."""
    if ls.kind == "csv":
        reader = (spark.read.option("header", True)
                  .option("sep", ls.separator).option("inferSchema", False))
        if ls.encoding:
            reader = reader.option("encoding", ls.encoding)
        return reader.csv(ls.source)
    if ls.kind == "json":
        return apply_json_iterator(
            spark.read.option("multiLine", True).json(ls.source), ls.iterator)
    return spark.read.parquet(ls.source)


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _assert_memoized_read_matches_spark(spark, ls: LogicalSource):
    SourceLoader(spark).load(ls)  # first read fills the memo
    df, jobs = count_jobs(spark, lambda: SourceLoader(spark).load(ls))
    assert jobs == 0, f"{ls.source}: memoized load ran {jobs} jobs"
    ref = _spark_read(spark, ls)
    assert df.schema == ref.schema, ls.source
    assert _rows(df) == _rows(ref), ls.source


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    return gen.star_tables(str(tmp_path_factory.mktemp("star")), 7, 400)


def test_recompile_starts_no_job(spark, star):
    plan = parse_mapping_file(star["mapping"])
    RMLCompiler(spark, plan).compile()
    _, jobs = count_jobs(spark, lambda: RMLCompiler(spark, plan).compile())
    assert jobs == 0


def test_memoized_star_sources_match_spark_read(spark, star):
    d = star["dir"]
    # pyarrow quotes every CSV header name
    with open(os.path.join(d, "lineitem.csv"), encoding="utf-8") as f:
        assert f.readline().startswith('"l_orderkey"')
    for ls in [LogicalSource("csv", os.path.join(d, "lineitem.csv")),
               LogicalSource("parquet", os.path.join(d, "orders.parquet")),
               LogicalSource("json", os.path.join(d, "nation.json"),
                             iterator="$[*]")]:
        _assert_memoized_read_matches_spark(spark, ls)


def test_memoized_csv_with_separator_and_encoding(spark, tmp_path):
    path = tmp_path / "latin.csv"
    path.write_bytes("id;name;city\n1;Zoë;Besançon\n2;Åsa;\n3;;Málaga\n"
                     .encode("iso-8859-1"))
    _assert_memoized_read_matches_spark(spark, LogicalSource(
        "csv", str(path), separator=";", encoding="ISO-8859-1"))


def test_memoized_nested_json_through_iterator(spark, tmp_path):
    path = tmp_path / "nested.json"
    path.write_text(
        '{"data": {"items": ['
        '{"id": 1, "loc": {"city": "Rome", "geo": [41.9, 12.5]}},'
        '{"id": 2, "loc": {"city": "Oslo"}, "tags": ["a", "b"]},'
        '{"id": 3.5}]}}', encoding="utf-8")
    _assert_memoized_read_matches_spark(spark, LogicalSource(
        "json", str(path), iterator="$.data.items[*]"))


def test_memoized_parquet_testdata(spark):
    paths = sorted(glob.glob(os.path.join(SF_DIR, "*.parquet")))
    assert paths
    for path in paths:
        _assert_memoized_read_matches_spark(
            spark, LogicalSource("parquet", path))


_MAP = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://ex.com/> .

<#T> rml:logicalSource [ rml:source "{{ path }}" ;
    rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/t/{a}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:v ;
    rr:objectMap [ rml:reference "{{ col }}" ] ] .
"""


def test_changed_file_is_read_again(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("a,b\n1,x\n", encoding="utf-8")

    def objects(col):
        plan = parse_mapping(_MAP, template_vars={"path": str(path),
                                                  "col": col})
        return {r.o for r in RMLCompiler(spark, plan).compile().collect()}

    assert objects("b") == {'"x"'}
    path.write_text("a,b,c\n1,x,added\n", encoding="utf-8")
    assert objects("c") == {'"added"'}


def test_new_session_does_not_reuse_entries(spark, tmp_path):
    path = tmp_path / "s.csv"
    path.write_text("a,b\n1,2\n", encoding="utf-8")
    ls = LogicalSource("csv", str(path))
    SourceLoader(spark).load(ls)
    _, same = count_jobs(spark, lambda: SourceLoader(spark).load(ls))
    other = spark.newSession()
    _, fresh = count_jobs(spark, lambda: SourceLoader(other).load(ls))
    assert same == 0 and fresh >= 1


def test_directory_source_reads_schema_every_time(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    (d / "part-0.csv").write_text("a,b\n1,2\n", encoding="utf-8")
    ls = LogicalSource("csv", str(d))
    SourceLoader(spark).load(ls)
    _, jobs = count_jobs(spark, lambda: SourceLoader(spark).load(ls))
    assert jobs >= 1


def test_build_session_turns_off_call_site_capture(monkeypatch):
    """Recorded on a stand-in builder: the shared test session is not
    rebuilt."""
    from pyrml_spark.plans import tuning

    confs = {}

    class Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, key, value):
            confs[key] = value
            return self

        def getOrCreate(self):
            return None

    class Session:
        builder = Builder()

    monkeypatch.setattr(tuning, "SparkSession", Session)
    tuning.build_session()
    assert confs["spark.python.sql.dataFrameDebugging.enabled"] == "false"
