"""CLI parity test (the reference CLI crashes with a NameError,
pyrml-mapper.py:27 — ours must actually work)."""

import os
import subprocess
import sys
import tempfile

import pytest

from rdf_readers import parse_nquads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STUDENT_CSV = os.path.join(REPO, "tests", "fixtures", "rml", "RMLTC0002a-CSV",
                           "student.csv")
ARTIST_MAP = "/root/reference/examples/artists/artist-map.ttl"
NEEDS_ARTIST_MAP = pytest.mark.skipif(
    not os.path.exists(ARTIST_MAP),
    reason=f"needs the pyRML checkout that holds {ARTIST_MAP}")


@NEEDS_ARTIST_MAP
def test_cli_ntriples_stdout():
    out = subprocess.run(
        [sys.executable, "-m", "pyrml_spark",
         "/root/reference/examples/artists/artist-map.ttl", "-p", "2"],
        capture_output=True, text=True, cwd="/root/reference",
        env={**os.environ, "PYTHONPATH": REPO},
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.endswith(" .")]
    quads = parse_nquads("\n".join(lines))
    assert len(quads) == 9
    subjects = {s for s, _, _, _ in quads}
    assert "<http://ex.com/RTM19>" in subjects


@NEEDS_ARTIST_MAP
def test_cli_table_sink(tmp_path):
    """-f table routes through the subject-bucketed triples-table sink and
    reads back via read_triples_table."""
    import subprocess, sys, os
    REF = "/root/reference"
    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "tbl")
    proc = subprocess.run(
        [sys.executable, "-m", "pyrml_spark",
         os.path.join(REF, "examples/artists/artist-map.ttl"),
         "-f", "table", "-o", out, "-p", "2", "--buckets", "4"],
        capture_output=True, text=True, timeout=300, cwd=REF,
        env={**os.environ, "PYTHONPATH": REPO})
    assert proc.returncode == 0, proc.stderr[-2000:]
    # bucketed layout on disk + normalized read-back
    assert any(d.startswith("subject_bucket=") for d in os.listdir(out))
    import duckdb
    n = duckdb.sql(
        f"select count(*) from '{out}/*/*.parquet'").fetchone()[0]
    assert n == 9


@NEEDS_ARTIST_MAP
def test_cli_sparql_query_mode(spark, tmp_path, capsys):
    """--sparql over a materialized --triples table and over a fresh
    conversion, all three query forms, in-process (main() reuses the
    session via getOrCreate)."""
    from pyrml_spark.__main__ import main

    tbl = str(tmp_path / "triples")
    assert main([ARTIST_MAP, "-f", "parquet", "-o", tbl, "-p", "2"]) == 0

    # SELECT → TSV on stdout, header first
    rc = main(["--triples", tbl, "--sparql",
               "SELECT ?s ?o WHERE { ?s <http://ex.com/birth_place> ?o }"
               " ORDER BY ?s"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "s\to"
    assert lines[1:] == [
        "<http://ex.com/RNA29>\t<http://ex.com/2>",
        "<http://ex.com/RTM19>\t<http://ex.com/1>",
    ]

    # ASK → true / false
    assert main(["--triples", tbl, "--sparql",
                 "ASK { ?s <http://ex.com/birth_place> ?o }"]) == 0
    assert capsys.readouterr().out.strip() == "true"
    assert main(["--triples", tbl, "--sparql",
                 "ASK { ?s <http://ex.com/death_place> ?o }"]) == 0
    assert capsys.readouterr().out.strip() == "false"

    # CONSTRUCT straight off a conversion → N-Triples on stdout
    rc = main([ARTIST_MAP, "-p", "2", "--sparql",
               "PREFIX ex: <http://ex.com/> "
               "CONSTRUCT { ?o ex:birthPlaceOf ?s } "
               "WHERE { ?s ex:birth_place ?o }"])
    assert rc == 0
    nt = [l for l in capsys.readouterr().out.splitlines()
          if l.endswith(" .")]
    assert sorted(nt) == [
        "<http://ex.com/1> <http://ex.com/birthPlaceOf> "
        "<http://ex.com/RTM19> .",
        "<http://ex.com/2> <http://ex.com/birthPlaceOf> "
        "<http://ex.com/RNA29> .",
    ]


def test_cli_sparql_arg_validation(tmp_path):
    import pytest

    from pyrml_spark.__main__ import main

    with pytest.raises(SystemExit):
        main([])  # neither mapping nor --triples
    with pytest.raises(SystemExit):
        main([ARTIST_MAP, "--triples", str(tmp_path)])  # both
    with pytest.raises(SystemExit):
        main(["--triples", str(tmp_path)])  # --triples without --sparql


# one predicate-object map asserted into two named graphs
TWO_GRAPHS = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix ex: <http://example.com/> .

<#TM> rml:logicalSource [
    rml:source "%s" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/{ID}" ] ;
  rr:predicateObjectMap [
    rr:predicate foaf:name ;
    rr:objectMap [ rml:reference "Name" ] ;
    rr:graphMap [ rr:constant ex:g1 ] ;
    rr:graphMap [ rr:constant ex:g2 ] ] .
"""


def test_cli_ntriples_directory_is_a_set(spark, tmp_path):
    """-f ntriples -o DIR writes the union graph once per triple: the
    triple asserted in two graphs is one line across the part files, as
    it is on stdout."""
    from pyrml_spark.__main__ import main

    mapping = tmp_path / "m.ttl"
    mapping.write_text(TWO_GRAPHS % STUDENT_CSV, encoding="utf-8")
    out = tmp_path / "nt"
    assert main([str(mapping), "-f", "ntriples", "-o", str(out),
                 "-p", "2"]) == 0
    lines = [line for part in sorted(out.glob("part-*"))
             for line in part.read_text(encoding="utf-8").splitlines()
             if line]
    assert lines == ['<http://example.com/10> <http://xmlns.com/foaf/0.1/name>'
                     ' "Venus" .']
