"""The paper's own user: an analyst sends PostgreSQL-style SQL with NumPy
functions and waits for a pandas result.

Each operation is ``vinum_spark.read_parquet(...)`` then
``Table.sql(q).to_pandas()``, or ``vinum_spark.sql(q, lineitem=..., ...)``
for the joins. A pass sends every template once; the seed draws the
literals of each pass and the order of the templates. Seven templates
cover the mix: filter and project, GROUP BY with HAVING, ORDER BY ...
LIMIT OFFSET, COUNT DISTINCT and CASE, LIKE and string functions,
datetime, ``np.*`` in SELECT and GROUP BY, one ``register_numpy`` UDF and
two joins.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import numpy as np

from perfbench import gen
from perfbench.workloads import Op, Workload

# name -> (tables, SQL with {literals}); one SQL text serves both the
# program and the DuckDB oracle, except where DUCK overrides it.
TEMPLATES: Dict[str, tuple] = {
    # filter and project; ORDER BY ... LIMIT OFFSET
    "filter_project": (("lineitem",), """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 2) AS rev
        FROM lineitem
        WHERE l_quantity > {qty} AND l_discount BETWEEN {d_lo} AND {d_hi}
          AND l_returnflag = '{flag}'
        ORDER BY rev DESC, l_orderkey, l_linenumber
        LIMIT 50 OFFSET {offset}"""),
    # GROUP BY with HAVING; COUNT DISTINCT and CASE
    "group_having": (("lineitem",), """
        SELECT l_suppkey, count(DISTINCT l_partkey) AS parts,
               sum(CASE WHEN l_discount > {disc} THEN 1 ELSE 0 END) AS disc_lines,
               round(sum(l_quantity), 2) AS qty
        FROM lineitem
        WHERE l_shipdate < '{date}'
        GROUP BY l_suppkey
        HAVING count(*) > {min_n}
        ORDER BY qty DESC, l_suppkey
        LIMIT 20"""),
    # LIKE and string functions; datetime
    "strings_dates": (("orders",), """
        SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
               upper(substr(o_orderpriority, 3, 4)) AS prio, count(*) AS n,
               round(avg(o_totalprice), 2) AS avg_price
        FROM orders
        WHERE o_orderpriority LIKE '%{word}%'
          AND o_orderdate >= '{d_from}' AND o_orderdate < '{d_to}'
        GROUP BY year(o_orderdate), month(o_orderdate), upper(substr(o_orderpriority, 3, 4))
        ORDER BY y, m, prio"""),
    # np.* in SELECT and GROUP BY
    "numpy": (("lineitem",), """
        SELECT np.floor(l_quantity / {width}) AS bucket, count(*) AS n,
               round(sum(np.log(l_extendedprice)), 4) AS log_rev
        FROM lineitem
        WHERE l_tax <= {tax}
        GROUP BY np.floor(l_quantity / {width})
        ORDER BY bucket"""),
    # a register_numpy UDF
    "udf": (("lineitem",), """
        SELECT l_linestatus, round(sum(disc_price(l_extendedprice, l_discount)), 2) AS rev
        FROM lineitem
        WHERE l_quantity < {qty}
        GROUP BY l_linestatus
        ORDER BY l_linestatus"""),
    # two joins
    "join_orders": (("lineitem", "orders"), """
        SELECT o.o_orderpriority, count(*) AS n, round(sum(l.l_extendedprice), 2) AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= '{date}' AND l.l_quantity > {qty}
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority"""),
    "join_customer": (("lineitem", "orders", "customer"), """
        SELECT c.c_mktsegment, count(DISTINCT o.o_orderkey) AS orders,
               round(sum(l.l_quantity), 2) AS qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_nationkey = {nation}
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment"""),
}

# DuckDB spellings of the NumPy parts
DUCK = {
    "numpy": """
        SELECT floor(l_quantity / {width}) AS bucket, count(*) AS n,
               round(sum(ln(l_extendedprice)), 4) AS log_rev
        FROM lineitem
        WHERE l_tax <= {tax}
        GROUP BY floor(l_quantity / {width})
        ORDER BY bucket""",
    "udf": """
        SELECT l_linestatus, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS rev
        FROM lineitem
        WHERE l_quantity < {qty}
        GROUP BY l_linestatus
        ORDER BY l_linestatus""",
}


def _date(rng, lo_year: int, hi_year: int) -> str:
    return f"{rng.integers(lo_year, hi_year + 1)}-{rng.integers(1, 13):02d}-01"


def draw_literals(rng) -> Dict[str, Dict]:
    """One pass's literals. Ranges are narrow where a literal sets how
    many rows a query touches, so passes do similar work."""
    y = int(rng.integers(1993, 1997))
    return {
        "filter_project": {"qty": int(rng.integers(25, 36)),
                           "d_lo": 0.02, "d_hi": round(0.01 * int(rng.integers(5, 8)), 2),
                           "flag": str(rng.choice(["R", "A", "N"])),
                           "offset": int(rng.integers(0, 200))},
        "group_having": {"date": _date(rng, 1995, 1996), "min_n": int(rng.integers(150, 300)),
                         "disc": round(0.01 * int(rng.integers(2, 9)), 2)},
        "strings_dates": {"word": str(rng.choice(["URGENT", "HIGH", "MEDIUM", "LOW", "SPEC"])),
                          "d_from": f"{y}-01-01", "d_to": f"{y + 1}-07-01"},
        "numpy": {"width": int(rng.integers(5, 11)), "tax": round(0.01 * int(rng.integers(4, 6)), 2)},
        "udf": {"qty": int(rng.integers(25, 31))},
        "join_orders": {"date": _date(rng, 1994, 1995), "qty": int(rng.integers(20, 31))},
        "join_customer": {"nation": int(rng.integers(0, 25))},
    }


def disc_price(price, discount):
    return price * (1.0 - discount)


class SqlAnalyst(Workload):
    # three passes: the JVM is still compiling during the first few
    # passes, so a single pass would measure its warm-up
    min_ops = 3 * len(TEMPLATES)

    def __init__(self):
        super().__init__("sql_analyst", "query")

    def generate(self, seed: int, out_dir: str) -> None:
        self.seed = seed
        self.dir = out_dir
        self.props = gen.gen_tpch(seed, out_dir)
        self.rng = np.random.default_rng([seed, 7])

    def _path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def setup(self, spark) -> None:
        import vinum_spark

        vinum_spark.register_numpy("disc_price", disc_price, "double")

    def pass_ops(self, index: int) -> List[Op]:
        import vinum_spark

        lits = draw_literals(self.rng)
        names = list(TEMPLATES)
        ops = []
        for name in (names[i] for i in self.rng.permutation(len(names))):
            tables, sql = TEMPLATES[name]
            q = sql.format(**lits[name])

            def fn(tables=tables, q=q):
                if len(tables) == 1:
                    t = vinum_spark.read_parquet(self._path(tables[0]))
                    return 1, t.sql(q).to_pandas()
                kw = {t: vinum_spark.read_parquet(self._path(t)) for t in tables}
                return 1, vinum_spark.sql(q, **kw).to_pandas()

            ops.append(Op(name, fn, meta={
                "query": q, "duck": DUCK.get(name, sql).format(**lits[name]),
            }))
        return ops

    def install_tracing(self, tracer) -> None:
        import vinum_spark
        from vinum_spark.api import multi, table

        tracer.wrap(table.Table, "sql", "api.table_sql")
        tracer.wrap(table.Table, "to_pandas", "api.to_pandas")
        tracer.wrap(vinum_spark, "sql", "api.multi_sql")
        # sqlprep and functions are bound by name at import in both
        # callers; they start no Spark jobs
        for mod in (table, multi):
            tracer.wrap(mod, "rewrite_sql", "sqlprep.rewrite_sql", job_group=False)
            tracer.wrap(mod, "output_column_names", "sqlprep.output_column_names",
                        job_group=False)
            tracer.wrap(mod, "ensure_udfs_registered",
                        "functions.ensure_udfs_registered", job_group=False)

    def check(self, ops: List[Op]) -> List[Tuple[int, str]]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for t in ("lineitem", "orders", "customer"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._path(t)}')"
                )
            fails = []
            for i, op in enumerate(ops):
                if op.error:
                    continue
                want = con.execute(op.meta["duck"]).df()
                msg = compare_frames(op.result, want)
                if msg:
                    fails.append((i, f"{msg} :: {' '.join(op.meta['query'].split())}"))
            return fails
        finally:
            con.close()


def compare_frames(got, want) -> str:
    """Empty when equal: same columns, rows in the same order, floats
    within one unit of the rounding both engines applied."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.isclose(a.astype(float), b.astype(float), rtol=1e-9, atol=0.01 + 1e-9)
            if not ok.all():
                i = int(np.flatnonzero(~ok)[0])
                return f"column {c} row {i}: {a[i]} != {b[i]}"
        elif not (a.astype(str) == b.astype(str)).all():
            i = int(np.flatnonzero(a.astype(str) != b.astype(str))[0])
            return f"column {c} row {i}: {a[i]} != {b[i]}"
    return ""
