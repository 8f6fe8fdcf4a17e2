"""Edge inputs for the RML referencing-object-map (ROM) join: an empty
parent, child join keys that are all null, and one hot key holding most
child rows. Each runs with Spark's default join strategy (the small
parent broadcasts), with broadcasts off (a shuffle join) and salted over
four buckets; all three must give the same, expected triple set, and a
null key never matches."""

import pytest

from pyrml_spark.compiler import RMLCompiler
from pyrml_spark.parse_mapping import parse_mapping

_MAP = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://ex.com/> .

<#Child> rml:logicalSource [ rml:source "child.csv" ;
    rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/c/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:parent ;
    rr:objectMap [ rr:parentTriplesMap <#Parent> ;
      rr:joinCondition [ rr:child "pid" ; rr:parent "id" ] ] ] .
<#Parent> rml:logicalSource [ rml:source "parent.csv" ;
    rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/p/{id}" ] .
"""

_EX = "<http://ex.com/parent>"


def _csv(header: str, rows) -> str:
    return "\n".join([header] + [",".join(map(str, r)) for r in rows]) + "\n"


def _hot_key_case():
    # 180 of 220 child rows point at parent 1; pid 21 has no parent
    child = [(i, 1 if i < 180 else 2 + i % 20) for i in range(220)]
    parent = [(i,) for i in range(1, 21)]
    expected = {(f"<http://ex.com/c/{i}>", _EX, f"<http://ex.com/p/{p}>")
                for i, p in child if p <= 20}
    return child, parent, expected


def _cases():
    hot_child, hot_parent, hot_expected = _hot_key_case()
    return {
        "empty_parent": ([(1, 10), (2, 20)], [], set()),
        # the parent holds a null id too: null = null must not join
        "all_null_child_keys": ([(1, ""), (2, "")], [("",), (10,)], set()),
        "hot_key": (hot_child, hot_parent, hot_expected),
    }


@pytest.mark.parametrize("case", sorted(_cases()))
def test_rom_join_edge_inputs_agree_across_strategies(spark, tmp_path, case):
    child, parent, expected = _cases()[case]
    (tmp_path / "child.csv").write_text(_csv("id,pid", child),
                                        encoding="utf-8")
    (tmp_path / "parent.csv").write_text(_csv("id", parent),
                                         encoding="utf-8")
    plan = parse_mapping(_MAP)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)

    def run(salt: int):
        df = RMLCompiler(spark, plan, search_roots=[str(tmp_path)],
                         salt_joins=salt).compile()
        rows = {(r.s, r.p, r.o) for r in df.collect()}
        return rows, df._jdf.queryExecution().executedPlan().toString()

    try:
        default, _ = run(0)
        spark.conf.set(key, "-1")
        shuffled, shuffled_plan = run(0)
        salted, salted_plan = run(4)
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" not in shuffled_plan, shuffled_plan
    assert "__salt_l" in salted_plan, salted_plan
    assert default == shuffled == salted == expected
