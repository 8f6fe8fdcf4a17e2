"""Salted-join correctness: identical results to the plain join, and the
salted RML compile matches the unsalted one."""

from pyspark.sql import functions as F

from pyrml_spark.compiler import RMLCompiler
from pyrml_spark.parse_mapping import parse_mapping
from pyrml_spark.plans.salting import salted_join


def test_salted_join_equals_plain_join(spark):
    left = spark.range(500).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("lv"))
    right = spark.range(7).select(
        F.col("id").alias("rk"), (F.col("id") * 10).alias("rv"))
    plain = {tuple(r) for r in
             left.join(right, left.k == right.rk).select("lv", "rv").collect()}
    salted = {tuple(r) for r in
              salted_join(left, right, left.k == right.rk, salt=4)
              .select("lv", "rv").collect()}
    assert plain == salted


_MAP = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ex: <http://ex.com/> .

<#O> rml:logicalSource [ rml:source "{{ sf }}/orders.parquet" ] ;
  rr:subjectMap [ rr:template "http://ex.com/order/{o_orderkey}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:customer ;
    rr:objectMap [ rr:parentTriplesMap <#C> ;
      rr:joinCondition [ rr:child "o_custkey" ; rr:parent "c_custkey" ] ] ] .
<#C> rml:logicalSource [ rml:source "{{ sf }}/customer.parquet" ] ;
  rr:subjectMap [ rr:template "http://ex.com/cust/{c_custkey}" ] .
"""


def test_salted_rml_join_matches_unsalted(spark):
    sf = "/root/testdata/sf0.001"
    plan = parse_mapping(_MAP, template_vars={"sf": sf})
    plain = RMLCompiler(spark, plan).compile()
    # force the salted shuffle path: Spark broadcasts nothing + salt buckets
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        salted = RMLCompiler(spark, plan, salt_joins=4).compile()
        a = {tuple(r) for r in plain.collect()}
        b = {tuple(r) for r in salted.collect()}
        assert a == b and len(a) > 0
        # and the salted plan actually avoids broadcast on the parent
        splan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__salt_l" in splan
    finally:
        spark.conf.set(key, prev)
