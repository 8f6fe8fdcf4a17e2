"""Drop-in API compatibility with the reference's entry points
(README.md:28-47 of the reference):

    from pyrml_spark.compat import PyRML
    mapper = PyRML.get_mapper()
    triples_df = mapper.convert('mapping.ttl')          # DataFrame[s,p,o,g]
    mapper.convert_('mapping.ttl', template_vars={...}) # templated batch API

Differences by design: ``convert`` returns a lazy Spark DataFrame instead of
an rdflib graph (call ``.collect()`` / ``write_nquads`` to materialize);
``multiprocessed`` is accepted and ignored (the reference's ThreadPool over
TriplesMaps, pyrml_mapper.py:145-158, is subsumed by Spark task parallelism).
"""

from __future__ import annotations

import io
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from .compiler import convert as _convert
from .functions.registry import FunctionRegistry, default_registry


class RMLConverter:
    def __init__(self, spark: Optional[SparkSession] = None):
        self._spark = spark
        self.functions: FunctionRegistry = default_registry()

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from .plans.tuning import build_session

            self._spark = build_session("pyrml_spark_compat")
        return self._spark

    def convert(self, rml_file: str, multiprocessed: bool = False,
                template_vars: Optional[dict] = None) -> DataFrame:
        # multiprocessed accepted for signature parity; Spark parallelizes
        return _convert(self.spark, rml_file, template_vars=template_vars,
                        functions=self.functions,
                        infer_literal_datatypes=PyRML.INFER_LITERAL_DATATYPES)

    # templated batch API (reference: RMLConverter.convert_,
    # pyrml_mapper.py:240-290)
    def convert_(self, rml_file: str,
                 template_vars: Optional[dict] = None) -> DataFrame:
        return _convert(self.spark, rml_file, template_vars=template_vars,
                        functions=self.functions)


class PyRML:
    """Singleton facade mirroring pyrml_api.PyRML."""

    # reference flag (pyrml_api.py:705, default False): plain literals from
    # natively-typed source columns get an inferred xsd datatype
    INFER_LITERAL_DATATYPES: bool = False

    _mapper: Optional[RMLConverter] = None

    @classmethod
    def get_mapper(cls, spark: Optional[SparkSession] = None) -> RMLConverter:
        if cls._mapper is None or spark is not None:
            cls._mapper = RMLConverter(spark)
        return cls._mapper

    @classmethod
    def register_function(cls, fun_id: str, f: Callable,
                          return_type: str = "string") -> None:
        cls.get_mapper().functions.register_python(fun_id, f, return_type)

    @classmethod
    def has_registerd_function(cls, fun_id: str) -> bool:  # sic — reference name
        return cls.get_mapper().functions.has(fun_id)

    @classmethod
    def unregister_function(cls, fun_id: str) -> None:
        cls.get_mapper().functions.unregister(fun_id)


def serialize(df: DataFrame, format: str = "nt",
              destination: Optional[str] = None) -> Optional[str]:
    """rdflib ``Graph.serialize``-alike over a (s,p,o[,g]) DataFrame — the
    reference workflow is ``g = mapper.convert(...); g.serialize(format=f)``
    (pyrml_mapper.py:137-140); here ``serialize(convert(...), f)`` covers
    the same format list: nt/ntriples, nquads/nq, turtle/ttl/n3, trig,
    xml, pretty-xml, trix.

    Returns the text when ``destination`` is None, else writes one file.
    The text is streamed from the DataFrame through
    :func:`pyrml_spark.rdfserialize.write_rdf` (a set, like rdflib's
    graph); for bulk output use :func:`pyrml_spark.nquads.write_nquads`
    or :func:`pyrml_spark.kg.table.write_triples_table`."""
    from .rdfserialize import rdf_format, write_rdf

    if destination is None:
        buf = io.StringIO()
        write_rdf(df, format, buf)
        return buf.getvalue()
    rdf_format(format)  # an unsupported name fails before the file opens
    with open(destination, "w", encoding="utf-8") as fh:
        write_rdf(df, format, fh)
    return None
