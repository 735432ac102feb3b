"""Multi-table SQL entry point — the extension the reference explicitly
could not offer (single-table only, ``vinum/api/table.py:213-218``).

``vinum_spark.sql("SELECT ... FROM a JOIN b ON ...", a=t1, b=t2)`` runs
one SQL statement over any number of Tables/DataFrames, through the same
pre-pass (np.* resolution, dialect rewrites, naming contract) as
``Table.sql``.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import DataFrame

from vinum_spark.api.table import Table
from vinum_spark.functions.udf import (
    ensure_udfs_registered,
    lowered_sql,
    registered_udf_names,
)
from vinum_spark.sqlprep.naming import output_column_names
from vinum_spark.sqlprep.rewrite import rewrite_sql


def sql(query: str, **tables: Union[Table, DataFrame]) -> Table:
    """Run SQL over named tables; each kwarg becomes a temp view.

    Returns a lazy :class:`Table`. Session comes from the first table
    (they must share one — always true in-process).
    """
    if not tables:
        raise ValueError("provide at least one table, e.g. sql(q, t=table)")
    dfs = {
        name: (t.df if isinstance(t, Table) else t) for name, t in tables.items()
    }
    spark = next(iter(dfs.values())).sparkSession
    rewritten, np_funcs = rewrite_sql(
        query, udf_names=registered_udf_names(), lower=lowered_sql
    )
    ensure_udfs_registered(spark, np_funcs)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    out = spark.sql(rewritten)
    names = output_column_names(query)
    if names and len(names) == len(out.columns):
        out = out.toDF(*names)
    return Table(out)
