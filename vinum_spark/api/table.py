"""The ``Table`` API — the reference's only queryable object
(``vinum/api/table.py:15-93``) backed here by a lazy Spark DataFrame.

Differences by design (Spark-first, not a port):

- A ``Table`` wraps a **lazy** DataFrame; materialization happens only on
  ``to_pandas()/to_arrow()/head()``, where the reference always
  materializes the full result (``vinum/core/algebra.py:290-295``). On
  100 TB this laziness is the point: ``tbl.sql(...)`` composes plans that
  Catalyst optimizes end-to-end (pushdown through chained queries).
- The FROM clause may name any table; like the reference
  (``vinum/api/table.py:219-220``) the queried table is this one — we
  register the DataFrame as a temp view both under ``t`` and under the
  FROM name so either works.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from vinum_spark.session import get_spark
from vinum_spark.sqlprep.naming import output_column_names
from vinum_spark.sqlprep.rewrite import has_aggregate_call, rewrite_sql
from vinum_spark.sqlprep.tokens import KIND_IDENT, Token, render, tokenize
from vinum_spark.functions.udf import (
    ensure_udfs_registered,
    lowered_sql,
    registered_udf_names,
)

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa


class Table:
    """Named columns of equal length, queryable with SQL."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- ingestion ---------------------------------------------------------

    @classmethod
    def from_pydict(cls, data: Dict[str, list], spark: Optional[SparkSession] = None) -> "Table":
        import pyarrow as pa

        return cls.from_arrow(pa.Table.from_pydict(data), spark)

    @classmethod
    def from_pandas(cls, pdf: "pd.DataFrame", spark: Optional[SparkSession] = None) -> "Table":
        spark = spark or get_spark()
        return cls(spark.createDataFrame(pdf).coalesce(1))

    @classmethod
    def from_arrow(cls, tbl: "pa.Table", spark: Optional[SparkSession] = None) -> "Table":
        # Driver-resident ingestion keeps one partition: preserves the
        # reference's row-order semantics (stable sorts, LIMIT/OFFSET on
        # input order). Large data belongs in read_parquet/read_csv.
        spark = spark or get_spark()
        try:
            # Spark 4: native Arrow ingestion (zero pandas hop).
            df = spark.createDataFrame(tbl)
        except Exception:
            df = spark.createDataFrame(tbl.to_pandas())
        return cls(df.coalesce(1))

    # -- query -------------------------------------------------------------

    def sql(self, query: str) -> "Table":
        """Run a SQL query against this table and return a new Table.

        Pipeline: pre-pass rewrites (traceable NumPy calls inlined as
        Catalyst expressions) → lazy UDF registration → temp views →
        ``spark.sql`` (Catalyst plans/optimizes/executes) → output-name
        normalization per the reference naming contract.
        """
        spark = self._df.sparkSession
        rewritten, np_funcs = rewrite_sql(
            query, udf_names=registered_udf_names(), lower=lowered_sql
        )
        from_dropped = _references_no_columns(query, self._df.columns)
        if from_dropped:
            rewritten = _drop_top_level_from(rewritten)
        ensure_udfs_registered(spark, np_funcs)
        if from_dropped:
            # OneRowRelation: nothing to stabilize, and the row-id shim's
            # sort key would be unresolvable without the table scan
            view_df = self._df
        else:
            view_df, rewritten = self._stabilized(query, rewritten)
        view_df.createOrReplaceTempView("t")
        from_name = _from_table_name(query)
        if from_name and from_name.lower() != "t":
            view_df.createOrReplaceTempView(from_name)
        out = spark.sql(rewritten)
        if _ROW_ID in out.columns:
            out = out.drop(_ROW_ID)
        names = output_column_names(query)
        if names and len(names) == len(out.columns):
            out = out.toDF(*names)
        return Table(out)

    def _stabilized(self, query: str, rewritten: str):
        """The reference's sort is stable on input order (Arrow
        SortIndices, ``vinum_cpp/src/operators/sort/sort.cpp:11-63``);
        Spark's is not. For row-level ORDER BY queries (no aggregation /
        DISTINCT), expose a hidden sequential row id and append it as the
        final sort key."""
        tokens = tokenize(rewritten)
        has_order = any(
            t.is_kw("ORDER") and i + 1 < len(tokens) and tokens[i + 1].is_kw("BY")
            for i, t in enumerate(tokens)
        )
        if not has_order or has_aggregate_call(tokens) or any(
            # set operations combine branch projections, and CTEs /
            # derived tables re-project through their own SELECT lists:
            # in all of these the hidden row id does not survive into
            # the sorted relation, so the ORDER BY tiebreaker would be
            # unresolvable (fuzz-found, mirrors the FROM-dropped case)
            t.is_kw("GROUP", "DISTINCT", "UNION", "EXCEPT", "INTERSECT",
                    "WITH")
            or (
                t.is_kw("FROM")
                and i + 1 < len(tokens)
                and tokens[i + 1].text == "("
            )
            for i, t in enumerate(tokens)
        ):
            return self._df, rewritten
        from pyspark.sql import functions as F

        df = self._df.withColumn(_ROW_ID, F.monotonically_increasing_id())
        return df, _append_order_key(rewritten, _ROW_ID)

    def sql_pd(self, query: str) -> "pd.DataFrame":
        return self.sql(query).to_pandas()

    def explain(
        self,
        query: Optional[str] = None,
        print_query_tree: bool = False,
        mode: str = "formatted",
    ) -> None:
        """Print the physical plan (reference: ``vinum/api/table.py:358``).

        ``print_query_tree=True`` additionally prints the analyzed logical
        plan — the Catalyst analogue of the reference's Query-AST dump.
        """
        df = self.sql(query)._df if query else self._df
        if print_query_tree:
            df.explain("extended")
        else:
            df.explain(mode)

    # -- materialization / inspection ---------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def schema(self):
        return self._df.schema

    @property
    def column_names(self) -> List[str]:
        return list(self._df.columns)

    def head(self, n: int = 5) -> "pd.DataFrame":
        return self._df.limit(n).toPandas()

    def to_pandas(self) -> "pd.DataFrame":
        return self._df.toPandas()

    def to_arrow(self) -> "pa.Table":
        try:
            return self._df.toArrow()
        except AttributeError:  # pragma: no cover - pre-4.0 fallback
            import pyarrow as pa

            return pa.Table.from_pandas(self._df.toPandas())

    def to_string(self) -> str:
        return self._df._jdf.showString(20, 20, False)

    # -- writers (extension: the reference has no sinks beyond memory,
    # vinum/api/table.py; a pipeline engine needs durable outputs) -------

    def write_parquet(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: Optional[List[str]] = None,
        compression: str = "snappy",
    ) -> None:
        """Write as parquet; ``partition_by`` creates hive-style layout
        (→ partition pruning for every future reader)."""
        w = self._df.write.mode(mode).option("compression", compression)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_csv(self, path: str, mode: str = "overwrite", header: bool = True) -> None:
        self._df.write.mode(mode).option("header", str(header).lower()).csv(path)

    def write_json(self, path: str, mode: str = "overwrite") -> None:
        self._df.write.mode(mode).json(path)

    def write_orc(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: Optional[List[str]] = None,
    ) -> None:
        w = self._df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.orc(path)

    def __repr__(self) -> str:
        return f"Table({self._df.schema.simpleString()})"

    def __str__(self) -> str:
        return self.to_string()


_ROW_ID = "__vinum_row_id"


def _references_no_columns(sql: str, schema_cols: List[str]) -> bool:
    """True when the query references no table column (outside
    function-name position), no ``*``, and no aggregate. The reference
    prunes the table scan entirely in that case
    (``vinum/planner/planner.py:346-371``): ``SELECT 2+2 FROM t`` yields
    ONE row. Decided on the ORIGINAL sql so rewrite-introduced keywords
    (TIMESTAMP, DAY, …) can't collide with column names."""
    tokens = tokenize(sql)
    cols = {c.lower() for c in schema_cols}
    if has_aggregate_call(tokens):
        return False
    for i, t in enumerate(tokens):
        if t.text == "*":
            # select-star only when not a multiplication: preceded by
            # SELECT / comma / '(' / '.'; otherwise it's an operator.
            prev = tokens[i - 1] if i > 0 else None
            if prev is None or prev.text in ("(", ",", ".") or prev.is_kw(
                "SELECT", "DISTINCT"
            ):
                return False
            continue
        if t.kind == KIND_IDENT and not (
            i + 1 < len(tokens) and tokens[i + 1].text == "("
        ):
            base = t.text.lower().split(".")[-1]
            if base in cols:
                return False
    return True


def _drop_top_level_from(sql: str) -> str:
    tokens = tokenize(sql)
    out: List[Token] = []
    depth = 0
    skip_next = False
    for i, t in enumerate(tokens):
        if skip_next:
            skip_next = False
            continue
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if (
            depth == 0
            and t.is_kw("FROM")
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == KIND_IDENT
        ):
            skip_next = True
            continue
        out.append(t)
    return render(out)


def _append_order_key(sql: str, key: str) -> str:
    """Insert ``, key`` at the end of the top-level ORDER BY key list
    (before LIMIT/OFFSET if present)."""
    tokens = tokenize(sql)
    depth = 0
    insert_at = None
    in_order = False
    for i, t in enumerate(tokens):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("ORDER") and i + 1 < len(tokens) and tokens[
            i + 1
        ].is_kw("BY"):
            in_order = True
        elif depth == 0 and in_order and t.is_kw("LIMIT", "OFFSET"):
            insert_at = i
            break
    if not in_order:
        return sql
    if insert_at is None:
        insert_at = len(tokens)
    extra = [Token(KIND_IDENT, f", {key}")]
    return render(tokens[:insert_at] + extra + tokens[insert_at:])


def _from_table_name(sql: str) -> Optional[str]:
    tokens = tokenize(sql)
    depth = 0
    for i, t in enumerate(tokens):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("FROM") and i + 1 < len(tokens):
            nxt = tokens[i + 1]
            if nxt.kind == KIND_IDENT:
                return nxt.text
            return None
    return None
