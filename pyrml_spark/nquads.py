"""N-Quads sink.

Sink (SURVEY.md S8): the reference serializes via rdflib
(``pyrml_mapper.py:137-140``); here the formatter is a single JVM-side concat
over the (s,p,o,g) string table, written with the distributed text writer.
The primary large-scale sink is the partitioned Parquet/Iceberg writer in
:mod:`pyrml_spark.kg.table`; N-Quads text is the interchange/golden format.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nquads_line_col() -> Column:
    """(s,p,o,g) columns → one N-Quads line (g NULL ⇒ N-Triples line:
    ``concat_ws`` skips NULLs)."""
    return F.concat(F.concat_ws(" ", "s", "p", "o", "g"), F.lit(" ."))


def write_nquads(df: DataFrame, path: str) -> None:
    df.select(nquads_line_col().alias("value")).write.mode("overwrite").text(path)
