"""N-Quads sink and the collected-rows view of a triple table.

Sink (SURVEY.md S8): the reference serializes via rdflib
(``pyrml_mapper.py:137-140``); here the formatter is a single JVM-side concat
over the (s,p,o,g) string table, written with the distributed text writer.
The primary large-scale sink is the partitioned Parquet/Iceberg writer in
:mod:`pyrml_spark.kg.table`; N-Quads text is the interchange/golden format.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Quad = Tuple[str, str, str, Optional[str]]


def nquads_line_col(g_nullable: bool = True) -> Column:
    """(s,p,o,g) columns → one N-Quads line (g NULL ⇒ N-Triples line)."""
    base = F.concat_ws(" ", F.col("s"), F.col("p"), F.col("o"))
    if g_nullable:
        return F.concat(
            base,
            F.when(F.col("g").isNull(), F.lit("")).otherwise(
                F.concat(F.lit(" "), F.col("g"))
            ),
            F.lit(" ."),
        )
    return F.concat(base, F.lit(" ."))


def write_nquads(df: DataFrame, path: str, coalesce: Optional[int] = None) -> None:
    out = df.select(nquads_line_col().alias("value"))
    if coalesce:
        out = out.coalesce(coalesce)
    out.write.mode("overwrite").text(path)


def df_to_quads(df: DataFrame) -> List[Quad]:
    cols = df.columns
    rows = df.collect()
    if "g" in cols:
        return [(r["s"], r["p"], r["o"], r["g"]) for r in rows]
    return [(r["s"], r["p"], r["o"], None) for r in rows]
