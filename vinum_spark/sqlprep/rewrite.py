"""Dialect/semantics rewrites applied before ``spark.sql``.

Each rewrite reproduces a reference behavior that Spark SQL does not share:

- vinum builtin functions (``vinum/core/functions.py:353-387``) that have a
  different name or shape in Spark (``to_int`` → CAST, ``from_timestamp`` →
  ``timestamp_seconds``, …);
- ``np.<fn>(...)`` and registered NumPy UDFs callable directly from SQL
  (``vinum/core/udf.py:46-54``) — rendered inline as the Catalyst
  expression the caller's ``lower`` hook traced for them; an ``np.*``
  call without one is rewritten to a flat registered name ``np_<fn>``
  and reported to the caller for lazy pandas_udf registration;
- ``expr = NULL`` / ``!= NULL`` → ``IS [NOT] NULL``
  (``vinum/parser/parser.py:143-146``);
- pg ``#`` xor → Spark ``^`` (``vinum/parser/parser.py:77-80``);
- ``||`` / ``concat()`` casting every argument to string with Python
  ``str(None) == 'None'`` semantics (``vinum/core/functions.py:250-276``).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Set, Tuple

from vinum_spark.sqlprep.tokens import (
    KIND_IDENT,
    KIND_NUMBER,
    KIND_OP,
    KIND_QIDENT,
    KIND_STRING,
    Token,
    match_paren,
    render,
    split_top_level,
    tokenize,
)

# ---------------------------------------------------------------------------
# Function templates. Each maps (rewritten_args) -> SQL string.
# ---------------------------------------------------------------------------


def _cast_tpl(sql_type: str) -> Callable[[List[str]], str]:
    def tpl(args: List[str]) -> str:
        if len(args) == 1:
            return f"CAST({args[0]} AS {sql_type})"
        # Variadic form: args become the column's rows
        # (vinum/core/functions.py:148-165, test_query_results.py:792-796).
        inner = ", ".join(f"CAST({a} AS {sql_type})" for a in args)
        return f"EXPLODE(ARRAY({inner}))"

    return tpl


def _date_tpl(args: List[str]) -> str:
    if args and args[0].strip().upper() in ("'NOW'", "'TODAY'"):
        return "CURRENT_DATE()"
    return f"TO_DATE({args[0]})"


def _datetime_tpl(args: List[str]) -> str:
    # Optional unit arg controls resolution in the reference
    # (vinum/core/functions.py:56-89): 'D' truncates to day; sub-second
    # units are all microseconds on Spark.
    a = args[0].strip()
    ts = "CURRENT_TIMESTAMP()" if a.upper() == "'NOW'" else f"CAST({a} AS TIMESTAMP)"
    unit = args[1].strip().strip("'\"") if len(args) > 1 else "s"
    if unit == "D":
        return f"DATE_TRUNC('DAY', {ts})"
    return ts


def _from_timestamp_tpl(args: List[str]) -> str:
    unit = args[1].strip().strip("'\"").lower() if len(args) > 1 else "s"
    fn = {
        "s": "TIMESTAMP_SECONDS",
        "ms": "TIMESTAMP_MILLIS",
        "us": "TIMESTAMP_MICROS",
    }.get(unit, "TIMESTAMP_SECONDS")
    return f"{fn}({args[0]})"


_TIMEDELTA_UNIT = {
    "w": "0,0,({n}),0,0,0,0",
    "d": "0,0,0,({n}),0,0,0",
    "h": "0,0,0,0,({n}),0,0",
    "m": "0,0,0,0,0,({n}),0",
    "s": "0,0,0,0,0,0,({n})",
    "y": "({n}),0,0,0,0,0,0",
    # sub-second units ride the fractional-seconds slot (DECIMAL(18,6)):
    # exact for ms/us; ns ROUNDS half-up to Spark's microsecond
    # timestamp precision via the DECIMAL cast (1500 ns -> 2 us,
    # pinned in test_query_results; numpy keeps ns, Spark cannot)
    "ms": "0,0,0,0,0,0,(({n})/1000.0)",
    "us": "0,0,0,0,0,0,(({n})/1000000.0)",
    "ns": "0,0,0,0,0,0,(({n})/1000000000.0)",
}


def _timedelta_tpl(args: List[str]) -> str:
    n = args[0]
    unit = args[1].strip().strip("'\"").lower() if len(args) > 1 else "s"
    if unit == "m":
        # numpy 'm' = minutes; 'M' (months) arrives lowercased identically —
        # the reference distinguishes case, we follow numpy minutes for 'm'.
        pass
    slots = _TIMEDELTA_UNIT.get(unit, _TIMEDELTA_UNIT["s"]).format(n=n)
    return f"MAKE_INTERVAL({slots})"


def _is_busday_tpl(args: List[str]) -> str:
    # np.is_busday: Mon..Fri. Spark WEEKDAY: Monday=0..Sunday=6.
    return f"(WEEKDAY({args[0]}) <= 4)"


def _concat_tpl(args: List[str]) -> str:
    # vinum concat casts every arg via Python str(), so NULL -> 'None'
    # (vinum/core/functions.py:250-276, test_query_results.py:1303-1327).
    inner = ", ".join(f"COALESCE(CAST({a} AS STRING), 'None')" for a in args)
    return f"CONCAT({inner})"


def _now_tpl(args: List[str]) -> str:
    # Reference now() is seconds-resolution (vinum/core/functions.py:25-38).
    return "DATE_TRUNC('second', CURRENT_TIMESTAMP())"


_FUNCTION_TEMPLATES: Dict[str, Callable[[List[str]], str]] = {
    "to_int": _cast_tpl("BIGINT"),
    "to_float": _cast_tpl("DOUBLE"),
    "to_str": _cast_tpl("STRING"),
    "to_bool": _cast_tpl("BOOLEAN"),
    "date": _date_tpl,
    "datetime": _datetime_tpl,
    "from_timestamp": _from_timestamp_tpl,
    "timedelta": _timedelta_tpl,
    "is_busday": _is_busday_tpl,
    "concat": _concat_tpl,
    "now": _now_tpl,
    # numpy aggregate names remap to SQL aggregates
    # (vinum/core/functions.py:402-406 NUMPY_AGG_MAPPING).
    "np.sum": lambda a: f"SUM({', '.join(a)})",
    "np.min": lambda a: f"MIN({', '.join(a)})",
    "np.max": lambda a: f"MAX({', '.join(a)})",
    "np.datetime64": _datetime_tpl,
    "np.timedelta64": _timedelta_tpl,
    # power/log/log2/log10/abs/sqrt/cos/sin/tan/pi/e/upper/lower are
    # native Spark SQL functions with matching semantics — no rewrite.
}


#: Lowering hook: ``(name, arity) -> SQL template or None`` (see
#: ``vinum_spark.functions.udf.lowered_sql``).
Lower = Callable[[str, int], Optional[str]]


def rewrite_sql(
    sql: str, udf_names: Set[str] | None = None, lower: Optional[Lower] = None
) -> Tuple[str, Set[Tuple[str, int]]]:
    """Apply all pre-pass rewrites.

    Returns ``(rewritten_sql, numpy_functions_used)`` where the second
    element is a set of ``(dotted_np_name, arity)`` pairs that must be
    registered as pandas UDFs (under flat names ``np_<fn>``) before
    execution.

    ``udf_names``: names registered via register_python/register_numpy —
    excluded from builtin templating so user UDFs win (the reference lets
    re-registration shadow builtins, ``vinum/core/udf.py:11-25``).

    ``lower``: for a UDF or ``np.*`` call, the SQL template (argument
    ``i``'s SQL fills ``{i}``) that computes it in Catalyst, or None to
    keep the call a UDF.
    """
    tokens = tokenize(sql)
    np_funcs: Set[Tuple[str, int]] = set()
    tokens = _rewrite_quoted_idents(tokens)
    tokens = _rewrite_null_comparisons(tokens)
    tokens = _rewrite_xor(tokens)
    tokens = _rewrite_modulo(tokens)
    tokens = _rewrite_concat_operator(tokens)
    tokens = _rewrite_timedelta_promotion(tokens)
    tokens = _rewrite_having_without_groupby(tokens)
    tokens = _rewrite_orderby_nulls_last(tokens)
    tokens = _rewrite_limit_comma(tokens)
    out_sql = _rewrite_functions(tokens, np_funcs, udf_names or set(), lower)
    return out_sql, np_funcs


def _rewrite_quoted_idents(tokens: List[Token]) -> List[Token]:
    """PostgreSQL double-quoted identifiers → Spark backticks
    (``"id"`` is an identifier in the pg dialect, a string in Spark)."""
    out = []
    for t in tokens:
        if t.kind == KIND_QIDENT and t.text.startswith('"'):
            inner = t.text[1:-1].replace('""', '"')
            out.append(Token(KIND_QIDENT, f"`{inner}`"))
        else:
            out.append(t)
    return out


AGG_FUNCTION_NAMES = {
    "count", "sum", "min", "max", "avg",
    "np.sum", "np.min", "np.max",
    # extension aggregates: misclassifying one as row-level breaks the
    # HAVING-as-WHERE and stable-sort shims
    "stddev", "stddev_samp", "stddev_pop", "std",
    "variance", "var_samp", "var_pop",
    "median", "percentile", "percentile_approx", "approx_percentile",
    "approx_count_distinct", "count_if", "any_value", "first", "last",
    "first_value", "last_value", "collect_list", "collect_set",
    "corr", "covar_samp", "covar_pop", "mode", "bool_and", "bool_or",
    "bit_and", "bit_or", "bit_xor", "sum_distinct", "grouping",
}


def has_aggregate_call(tokens: List[Token]) -> bool:
    for i, t in enumerate(tokens):
        if (
            t.kind == KIND_IDENT
            and t.text.lower() in AGG_FUNCTION_NAMES
            and i + 1 < len(tokens)
            and tokens[i + 1].text == "("
        ):
            return True
    return False


def _rewrite_having_without_groupby(tokens: List[Token]) -> List[Token]:
    """The reference allows HAVING without GROUP BY as a plain row filter
    (test_query_results.py:515-523); Spark requires aggregation. When no
    GROUP BY and no aggregate call exist, HAVING becomes WHERE."""
    has_group = any(
        t.is_kw("GROUP") and i + 1 < len(tokens) and tokens[i + 1].is_kw("BY")
        for i, t in enumerate(tokens)
    )
    if has_group or has_aggregate_call(tokens):
        return tokens
    return [Token(KIND_IDENT, "WHERE") if t.is_kw("HAVING") else t for t in tokens]


_ORDER_END_KWS = {"LIMIT", "OFFSET"}


def _rewrite_orderby_nulls_last(tokens: List[Token]) -> List[Token]:
    """Append NULLS LAST to every top-level ORDER BY key: the reference
    sorts nulls last in both directions (Arrow SortIndices default,
    test_query_results.py:1253-1263), Spark ASC defaults to NULLS FIRST."""
    depth = 0
    start = None
    for i, t in enumerate(tokens):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif (
            depth == 0
            and t.is_kw("ORDER")
            and i + 1 < len(tokens)
            and tokens[i + 1].is_kw("BY")
        ):
            start = i + 2
            break
    if start is None:
        return tokens
    end = len(tokens)
    depth = 0
    for i in range(start, len(tokens)):
        t = tokens[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == KIND_IDENT and t.upper() in _ORDER_END_KWS:
            end = i
            break
    keys = split_top_level(tokens[start:end])
    new_keys: List[Token] = []
    for k, key in enumerate(keys):
        if k:
            new_keys.append(Token(KIND_OP, ","))
        new_keys.extend(key)
        if not any(t.is_kw("NULLS") for t in key):
            new_keys.append(Token(KIND_IDENT, "NULLS"))
            new_keys.append(Token(KIND_IDENT, "LAST"))
    return tokens[:start] + new_keys + tokens[end:]


def _rewrite_xor(tokens: List[Token]) -> List[Token]:
    return [Token(KIND_OP, "^") if t.text == "#" else t for t in tokens]


_CMP_EQ = {"="}
_CMP_NE = {"!=", "<>"}


def _rewrite_null_comparisons(tokens: List[Token]) -> List[Token]:
    """``x = NULL`` → ``x IS NULL``; ``x != NULL`` → ``x IS NOT NULL``;
    reversed ``NULL = x`` / ``NULL != x`` likewise
    (``vinum/parser/parser.py:143-146``)."""
    out: List[Token] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        nxt = tokens[i + 1] if i + 1 < n else None
        if (
            t.kind == KIND_OP
            and (t.text in _CMP_EQ or t.text in _CMP_NE)
            and nxt is not None
            and nxt.is_kw("NULL")
        ):
            out.append(Token(KIND_IDENT, "IS"))
            if t.text in _CMP_NE:
                out.append(Token(KIND_IDENT, "NOT"))
            out.append(Token(KIND_IDENT, "NULL"))
            i += 2
            continue
        # reversed: NULL <op> <primary>  →  <primary> IS [NOT] NULL
        if (
            t.is_kw("NULL")
            and nxt is not None
            and nxt.kind == KIND_OP
            and (nxt.text in _CMP_EQ or nxt.text in _CMP_NE)
            and i + 2 < n
        ):
            rend = _grab_right_primary(tokens, i + 2)
            out.extend(tokens[i + 2 : rend + 1])
            out.append(Token(KIND_IDENT, "IS"))
            if nxt.text in _CMP_NE:
                out.append(Token(KIND_IDENT, "NOT"))
            out.append(Token(KIND_IDENT, "NULL"))
            i = rend + 1
            continue
        out.append(t)
        i += 1
    return out


def _is_primary_end(tokens: List[Token], i: int) -> int:
    """Given index of a token that ends a primary expression (ident, literal,
    ``)``, or CASE...END), return the start index of that primary
    (inclusive)."""
    t = tokens[i]
    if t.is_kw("END"):
        depth = 0
        j = i
        while j >= 0:
            if tokens[j].is_kw("END"):
                depth += 1
            elif tokens[j].is_kw("CASE"):
                depth -= 1
                if depth == 0:
                    return j
            j -= 1
        return 0
    if t.text == ")":
        depth = 0
        j = i
        while j >= 0:
            if tokens[j].text == ")":
                depth += 1
            elif tokens[j].text == "(":
                depth -= 1
                if depth == 0:
                    # include preceding function name if present (keywords
                    # like SELECT/WHERE are clause markers, not functions)
                    if (
                        j > 0
                        and tokens[j - 1].kind == KIND_IDENT
                        and tokens[j - 1].upper() not in _SQL_KEYWORDS_NOT_FUNCTIONS
                    ):
                        return j - 1
                    return j
            j -= 1
        return 0
    if t.text == "]":
        # array index: absorb the [...] and recurse on the indexed primary
        # (e.g. ``transform(...)[0]`` — the modulo rewrite emits these)
        depth = 0
        j = i
        while j >= 0:
            if tokens[j].text == "]":
                depth += 1
            elif tokens[j].text == "[":
                depth -= 1
                if depth == 0:
                    return _is_primary_end(tokens, j - 1) if j > 0 else 0
            j -= 1
        return 0
    return i


def _grab_right_primary(tokens: List[Token], j: int) -> int:
    """End index (inclusive) of the primary expression starting at j,
    including any trailing array-index suffixes (``f(x)[0]``, ``arr[i]``)."""
    if (
        j < len(tokens)
        and tokens[j].kind == KIND_IDENT
        and j + 1 < len(tokens)
        and tokens[j + 1].text == "("
    ):
        end = match_paren(tokens, j + 1)
    elif j < len(tokens) and tokens[j].text == "(":
        end = match_paren(tokens, j)
    else:
        end = j
    # absorb [...] suffixes so `a % arr[0]` binds arr[0], not arr
    while end + 1 < len(tokens) and tokens[end + 1].text == "[":
        depth = 0
        k = end + 1
        while k < len(tokens):
            if tokens[k].text == "[":
                depth += 1
            elif tokens[k].text == "]":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        if k >= len(tokens):
            break
        end = k
    return end


def _rewrite_modulo(tokens: List[Token]) -> List[Token]:
    """``a % b`` → np.mod semantics (result sign follows the DIVISOR —
    ``vinum/core/expressions.py:13-25``); Spark's ``%``/``MOD`` follow the
    dividend and PMOD only matches when the divisor is positive.

    Emitted form binds both operands ONCE inside a single-element
    higher-order ``transform`` lambda::

        transform(array(named_struct('a', a, 'b', b)),
                  __vs_m -> MOD(__vs_m.a, __vs_m.b)
                            + IF(MOD(__vs_m.a, __vs_m.b) != 0
                                 AND (MOD(__vs_m.a, __vs_m.b) < 0)
                                     != (__vs_m.b < 0),
                                 __vs_m.b, 0))[0]

    Why this shape:

    - *sign-conditional add*, not ``MOD(MOD(a,b)+b, b)``: the add only
      fires when dividend/divisor signs differ, so ``|result| < |b|`` and
      the sum never overflows the integer type (the double-MOD form
      wrapped for ``|b| > INT_MAX/2`` with ANSI off, threw with ANSI on);
    - *single evaluation* of each operand: a nondeterministic divisor
      (``rand()``) sees one value, and nested ``%`` chains grow linearly
      in the rewritten SQL instead of 3^depth.

    The lambda is interpreted (not codegen'd), but it runs once per row on
    a one-element array — negligible against the scan, and ``%`` does not
    appear in any bulk-throughput operator path. Emitted tokens contain no
    ``%``, so this loop terminates."""
    while True:
        idx = next((i for i, t in enumerate(tokens) if t.text == "%"), None)
        if idx is None:
            return tokens
        lstart = _is_primary_end(tokens, idx - 1)
        # absorb a unary minus so the sign participates in the modulo
        # (np.mod(-5, 2) == 1, not -(5 % 2))
        if (
            lstart > 0
            and tokens[lstart - 1].text == "-"
            and (
                lstart == 1
                or tokens[lstart - 2].kind == KIND_OP
                or tokens[lstart - 2].text in ("(", ",")
                or tokens[lstart - 2].is_kw(
                    "SELECT", "WHERE", "AND", "OR", "NOT", "BY", "THEN", "ELSE", "WHEN"
                )
            )
        ):
            lstart -= 1
        rend = _grab_right_primary(tokens, idx + 1)
        if tokens[idx + 1].text == "-" and idx + 2 < len(tokens):
            rend = _grab_right_primary(tokens, idx + 2)
        left = render(tokens[lstart:idx])
        right = render(tokens[idx + 1 : rend + 1])
        m = "MOD(__vs_m.a, __vs_m.b)"
        # re-tokenize so later passes still see inner function calls
        repl = tokenize(
            f"transform(array(named_struct('a', {left}, 'b', {right})), "
            f"__vs_m -> {m} + IF({m} != 0 AND ({m} < 0) != (__vs_m.b < 0), "
            f"__vs_m.b, 0))[0]"
        )
        tokens = tokens[:lstart] + repl + tokens[rend + 1 :]


_SUBDAY_TIMEDELTA_UNITS = ("h", "m", "s", "ms", "us", "ns")


def _rewrite_timedelta_promotion(tokens: List[Token]) -> List[Token]:
    """``date_expr +/- timedelta(n, sub-day-unit)`` must promote to a
    timestamp: numpy's datetime64 arithmetic widens the RESULT to the
    finer granularity (np.datetime64('2024-03-05') + np.timedelta64(1,
    'h') -> 2024-03-05T01), but Spark's DATE + INTERVAL HOUR stays a
    DATE and silently drops the sub-day part (found by the round-10
    cross-engine differential fuzz). CAST the non-timedelta operand to
    TIMESTAMP when the unit is sub-day (h/m/s/ms/us/ns, or the default
    's'); day/week/
    year additions keep numpy's date granularity, which Spark already
    matches. The cast is a no-op on values that are already
    timestamps."""
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if not (
            t.kind == KIND_IDENT
            and t.text.lower() == "timedelta"
            and i + 1 < len(tokens)
            and tokens[i + 1].text == "("
        ):
            i += 1
            continue
        close = match_paren(tokens, i + 1)
        args = split_top_level(tokens[i + 2 : close])
        unit = "s"  # the reference's default unit is seconds
        if len(args) > 1 and args[1]:
            unit = render(args[1]).strip().strip("'\"").lower()
        if unit not in _SUBDAY_TIMEDELTA_UNITS:
            i = close + 1
            continue
        # date_expr [+/- timedelta(...)]* +/- timedelta(sub-day) —
        # walk LEFT past earlier timedelta terms to the chain's base
        # operand and wrap THAT (wrapping a sibling interval would cast
        # an interval to timestamp); a base already starting with CAST
        # is one of our own wraps — don't double-wrap
        if i > 0 and tokens[i - 1].text in ("+", "-"):
            j = i - 1  # operator position
            lstart = None
            while j > 0:
                cand = _is_primary_end(tokens, j - 1)
                head = tokens[cand]
                if (
                    head.kind == KIND_IDENT
                    and head.text.lower() == "timedelta"
                ):
                    if cand > 0 and tokens[cand - 1].text in ("+", "-"):
                        j = cand - 1
                        continue
                    lstart = None  # chain starts at an interval: nothing
                    break          # date-typed to promote
                if head.kind == KIND_IDENT and head.upper() == "CAST":
                    # Only a CAST whose TARGET is TIMESTAMP is one of
                    # our own promotion wraps (or user code that needs
                    # no promotion). A user-written CAST(x AS DATE)
                    # still needs wrapping — skipping it would silently
                    # drop the sub-day part, the exact numpy divergence
                    # this pass exists to fix.
                    if (
                        j - 2 >= 0
                        and tokens[j - 1].text == ")"
                        and tokens[j - 2].upper() == "TIMESTAMP"
                    ):
                        lstart = None  # already timestamp-typed
                    else:
                        lstart = cand  # wrap the whole CAST primary
                    break
                lstart = cand
                break
            if lstart is not None:
                wrapped = (
                    tokenize("CAST(")
                    + tokens[lstart:j]
                    + tokenize("AS TIMESTAMP)")
                )
                tokens = tokens[:lstart] + wrapped + tokens[j:]
                i = close + 1 + (len(wrapped) - (j - lstart))
                continue
            i = close + 1
            continue
        # timedelta(...) + date_expr — wrap the RIGHT primary
        if close + 1 < len(tokens) and tokens[close + 1].text == "+":
            rend = _grab_right_primary(tokens, close + 2)
            wrapped = (
                tokenize("CAST(")
                + tokens[close + 2 : rend + 1]
                + tokenize("AS TIMESTAMP)")
            )
            tokens = tokens[: close + 2] + wrapped + tokens[rend + 1 :]
            i = close + 2 + len(wrapped)
            continue
        i = close + 1
    return tokens


def _rewrite_concat_operator(tokens: List[Token]) -> List[Token]:
    """Fold ``a || b || c`` into ``concat(a, b, c)`` (then the concat
    template applies the None-cast semantics)."""
    while True:
        idx = next((i for i, t in enumerate(tokens) if t.text == "||"), None)
        if idx is None:
            return tokens
        # Left operand
        lstart = _is_primary_end(tokens, idx - 1)
        operands: List[List[Token]] = [tokens[lstart:idx]]
        i = idx
        while i < len(tokens) and tokens[i].text == "||":
            # Right operand: primary starting at i+1
            j = i + 1
            if j < len(tokens) and tokens[j].kind == KIND_IDENT and j + 1 < len(
                tokens
            ) and tokens[j + 1].text == "(":
                end = match_paren(tokens, j + 1)
            elif j < len(tokens) and tokens[j].text == "(":
                end = match_paren(tokens, j)
            else:
                end = j
            operands.append(tokens[j : end + 1])
            i = end + 1
        new: List[Token] = [Token(KIND_IDENT, "concat"), Token(KIND_OP, "(")]
        for k, op in enumerate(operands):
            if k:
                new.append(Token(KIND_OP, ","))
            new.extend(op)
        new.append(Token(KIND_OP, ")"))
        tokens = tokens[:lstart] + new + tokens[i:]


def _rewrite_limit_comma(tokens: List[Token]) -> List[Token]:
    """``LIMIT n, m`` → ``LIMIT n OFFSET m`` (the comma form the reference
    documents, ``doc/source/select.rst``)."""
    out: List[Token] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if (
            t.is_kw("LIMIT")
            and i + 3 < n
            and tokens[i + 1].kind == KIND_NUMBER
            and tokens[i + 2].text == ","
            and tokens[i + 3].kind == KIND_NUMBER
        ):
            out.extend(
                [
                    t,
                    tokens[i + 1],
                    Token(KIND_IDENT, "OFFSET"),
                    tokens[i + 3],
                ]
            )
            i += 4
            continue
        out.append(t)
        i += 1
    return out


_SQL_KEYWORDS_NOT_FUNCTIONS = {
    "AND", "OR", "NOT", "IN", "AS", "ON", "BY", "FROM", "WHERE", "GROUP",
    "HAVING", "ORDER", "LIMIT", "OFFSET", "SELECT", "DISTINCT", "BETWEEN",
    "LIKE", "IS", "NULL", "CASE", "WHEN", "THEN", "ELSE", "END", "JOIN",
    "UNION", "EXCEPT", "INTERSECT", "ALL", "EXISTS", "OVER", "PARTITION",
    "VALUES", "INTERVAL",
}


#: A lowered template may repeat an argument; Catalyst evaluates a
#: repeated deterministic expression once, these functions per use.
_NONDETERMINISTIC = {
    "rand", "randn", "random", "uniform", "randstr", "uuid", "shuffle",
    "monotonically_increasing_id",
}


def _rewrite_functions(
    tokens: List[Token],
    np_funcs: Set[Tuple[str, int]],
    udf_names: Set[str],
    lower: Optional[Lower],
) -> str:
    """Recursively rewrite function calls via templates / lowering /
    np.* flattening."""

    def lowered(lname: str, args: List[str], inner: List[Token]) -> Optional[str]:
        tpl = lower(lname, len(args)) if lower is not None else None
        if tpl is None or any(
            t.kind == KIND_IDENT
            and t.text.lower() in _NONDETERMINISTIC
            and nxt.text == "("
            for t, nxt in zip(inner, inner[1:])
        ):
            return None
        return tpl.format(*args)

    def walk(toks: List[Token]) -> str:
        parts: List[Token] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            is_call = (
                t.kind == KIND_IDENT
                and i + 1 < len(toks)
                and toks[i + 1].text == "("
                and t.upper() not in _SQL_KEYWORDS_NOT_FUNCTIONS
            )
            if is_call:
                close = match_paren(toks, i + 1)
                inner = toks[i + 2 : close]
                args = [
                    walk(a) for a in split_top_level(inner) if a
                ]  # recursively rewritten arg strings
                name = t.text
                lname = name.lower()
                if lname in udf_names:
                    rendered = lowered(lname, args, inner) or (
                        f"{lname}({', '.join(args)})"
                    )
                elif lname in _FUNCTION_TEMPLATES:
                    rendered = _FUNCTION_TEMPLATES[lname](args)
                elif lname.startswith("np."):
                    rendered = lowered(lname, args, inner)
                    if rendered is None:
                        # arity-qualified flat name: np.round(x) and
                        # np.round(x, 2) need two distinct registrations
                        flat = f"np_{lname[3:].replace('.', '_')}_a{len(args)}"
                        np_funcs.add((lname, len(args)))
                        rendered = f"{flat}({', '.join(args)})"
                else:
                    # count(*): render raw; otherwise use the recursively
                    # rewritten args (walk preserves a leading DISTINCT
                    # keyword inside the first arg).
                    if len(inner) == 1 and inner[0].text == "*":
                        inner_sql = render(inner)
                    else:
                        inner_sql = ", ".join(args) if args else render(inner)
                    rendered = f"{name}({inner_sql})"
                parts.append(Token(KIND_IDENT, rendered))
                i = close + 1
                continue
            parts.append(t)
            i += 1
        return render(parts)

    return walk(tokens)
