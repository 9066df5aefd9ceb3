"""Set operations with BigQuery-dialect semantics (SURVEY.md §2.7).

BigQuery's UNION/EXCEPT/INTERSECT are DISTINCT by default; Spark's
``union`` is ALL and ``subtract``/``intersect`` are already DISTINCT.
These wrappers pin the exact semantics the reference's generated SQL uses.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_all(dfs: Iterable[DataFrame]) -> DataFrame:
    """N-way ``UNION ALL`` fold (reference:
    GDC-Metadata-Processing/build_release_metadata_bq_tables_v2.py:758-768
    union_sql). Positional, like BQ UNION ALL."""
    return reduce(DataFrame.unionAll, dfs)


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """``UNION DISTINCT`` (reference: …v2.py:611-678)."""
    return a.union(b).distinct()


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """``EXCEPT DISTINCT`` (reference: common_etl/support.py:2090-2103
    compare_two_tables_sql). Not ``exceptAll`` — BQ EXCEPT deduplicates."""
    return a.distinct().subtract(b.distinct())


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """``INTERSECT DISTINCT`` (reference:
    CDA/compare_and_publish_tables.py:306-328). Spark intersect is DISTINCT."""
    return a.intersect(b)


def union_by_name_padded(dfs: Iterable[DataFrame], provenance: list[str] | None = None, provenance_col: str = "dataset") -> DataFrame:
    """UNION with schema padding + literal provenance column (reference:
    build_regulome_explorer_sql_import_v2.py:424-449 glue_features_sql —
    missing columns become ``NULL AS c``, each branch gets
    ``"{table}" AS dataset``)."""
    dfs = list(dfs)
    if provenance is not None:
        dfs = [df.withColumn(provenance_col, F.lit(name)) for df, name in zip(dfs, provenance)]
    return reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), dfs)


def symmetric_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Full-table symmetric ``EXCEPT DISTINCT`` diff, tagged by side
    (reference: common_etl/support.py:2090-2123 — the publish gate that
    decides whether a new release differs from the old).

    One shuffle: each side's rows are tagged, unioned positionally (so column
    types widen as EXCEPT widens them) and grouped on every column; a group
    whose rows all carry one side's tag is a row of that side's EXCEPT
    DISTINCT, ``diff_side`` ``old`` (only in ``a``) or ``new`` (only in
    ``b``). Grouping, like EXCEPT, treats NULLs as equal and normalizes NaN
    and -0.0, so the rows are exactly those of
    ``except_distinct(a, b) ∪ except_distinct(b, a)``. Columns are matched
    by position and named after ``a``'s."""
    pos = [f"_{i}" for i in range(len(a.columns))]
    tagged = a.toDF(*pos).withColumn("__side", F.lit(0)).union(
        b.toDF(*pos).withColumn("__side", F.lit(1))
    )
    return (
        tagged.groupBy(*pos)
        .agg(F.min("__side").alias("__lo"), F.max("__side").alias("__hi"))
        .filter(F.col("__lo") == F.col("__hi"))
        .select(
            *(F.col(p).alias(c) for p, c in zip(pos, a.columns)),
            F.when(F.col("__lo") == 0, "old").otherwise("new").alias("diff_side"),
        )
    )
