"""The filter contract: the one owner of filter semantics, shared by
every pruning tier and every reader (the reference's DNF ``filters``,
fastparquet/api.py:948-999).

Shape.  A filter is in disjunctive normal form: a flat AND-list
``[(col, op, val), ...]`` or an OR of AND-lists ``[[...], [...]]``.
``None`` and ``[]`` match every row, and so does a DNF holding an empty
AND-list.  :func:`dnf` normalises every shape to a list of AND-lists.

Ops.  ``==`` (alias ``=``), ``!=``, ``<``, ``<=``, ``>``, ``>=``
compare with a scalar; ``in`` / ``not in`` test membership in a
collection; ``is_null`` / ``is_not_null`` ignore ``val``.  Any other op
raises ``ValueError("unsupported filter op ...")`` at every entry point.

Nulls.  SQL three-valued logic: a comparison, ``in`` or ``not in`` on a
null value is unknown, and unknown rows do not match; ``not in`` a
collection holding None matches nothing.  Only ``is_null`` matches a
null.  A column a file predates reads as all-null.

Pruning is conservative, the residual is exact.  Min/max/null stats of
row groups, hive partition values, ColumnIndex pages, bloom filters and
FPSC footers may keep a unit without a matching row but never drop one
with a matching row; a term on an unknown column, or whose value cannot
be compared with the stats, keeps the unit.  The residual (Arrow mask,
Spark Column, per-file constant test) returns exactly the matching rows.
"""

from __future__ import annotations

import operator
from functools import reduce

# comparison op -> (Python/Spark operator, Arrow compute function)
_COMPARE = {
    "==": (operator.eq, "equal"), "=": (operator.eq, "equal"),
    "!=": (operator.ne, "not_equal"),
    "<": (operator.lt, "less"), "<=": (operator.le, "less_equal"),
    ">": (operator.gt, "greater"), ">=": (operator.ge, "greater_equal"),
}
OPS = (*_COMPARE, "in", "not in", "is_null", "is_not_null")


def dnf(filters) -> list[list[tuple]]:
    """Every filter shape as a list of AND-clauses (``[[]]`` matches
    all); raises ValueError on an unknown op."""
    if not filters:
        return [[]]
    clauses = [list(filters)] if isinstance(filters[0], tuple) \
        else [list(c) for c in filters]
    for clause in clauses:
        for _col, op, _val in clause:
            if op not in OPS:
                raise ValueError(f"unsupported filter op {op!r}")
    return clauses


def match_all(clauses) -> bool:
    """True when some AND-clause is empty, so every row matches."""
    return any(not c for c in clauses)


def constant_stats(v, n: int) -> tuple:
    """Stats of a column holding ``v`` in all ``n`` rows (a partition
    value; None is the hive null partition)."""
    return (v, v, n if v is None else 0, n)


def _bounds_may_match(op, val, lo, hi) -> bool:
    """Can a non-null value in [lo, hi] satisfy ``<op> val``?  A None
    bound is unknown on that side."""
    if op == "in":
        return any(_bounds_may_match("==", v, lo, hi) for v in val)
    if op in ("!=", "not in"):
        # only a constant unit whose value is excluded can be pruned
        return not (lo is not None and lo == hi
                    and (lo == val if op == "!=" else lo in val))
    cmp = _COMPARE[op][0]
    if op in ("<", "<="):
        return lo is None or cmp(lo, val)
    if op in (">", ">="):
        return hi is None or cmp(hi, val)
    return (lo is None or lo <= val) and (hi is None or val <= hi)


def may_match(cols: dict, clause) -> bool:
    """Can any row of a unit satisfy the AND-clause, given its stats
    ``{col: (lo, hi, nulls, nvals)}`` (None = unknown)?  Conservative:
    False only when no row can match."""
    for col, op, val in clause:
        st = cols.get(col)
        if st is None:
            continue
        lo, hi, nulls, nvals = st
        if op == "is_null":
            if nulls == 0:
                return False
        elif nulls is not None and nulls == nvals:
            return False  # all null: only is_null can match
        elif op != "is_not_null":
            try:
                if not _bounds_may_match(op, val, lo, hi):
                    return False
            except TypeError:
                pass  # incomparable stat/filter types: cannot prune
    return True


def filter_val(op, val, vmin=None, vmax=None) -> bool:
    """Can a row group whose column spans [vmin, vmax] be EXCLUDED by
    ``col <op> val``?  True means "filter out" (the reference's
    filter_val, fastparquet/api.py:1042-1081).  A ``None`` bound is
    unknown on that side and can never justify exclusion."""
    return not may_match({"": (vmin, vmax, None, None)},
                         dnf([("", op, val)])[0])


def filter_in(values, vmin=None, vmax=None) -> bool:
    """Exclude a [vmin, vmax] row group for ``col in values``?  True
    when no member of ``values`` can lie in the range (reference
    fastparquet/api.py:1084-1113); an empty set excludes everything."""
    return filter_val("in", list(values), vmin, vmax)


def filter_not_in(values, vmin=None, vmax=None) -> bool:
    """Exclude a [vmin, vmax] row group for ``col not in values``?
    Only a CONSTANT group (vmin == vmax) whose single value is a member
    can be excluded — any wider range may hold rows outside ``values``.
    The reference (fastparquet/api.py:1116-1139) also drops groups when
    merely the min OR the max is a member, which discards surviving
    rows; this implementation keeps those groups."""
    return filter_val("not in", list(values), vmin, vmax)


def point_terms(clause):
    """(col, values) of each ``==`` / ``in`` term: the term holds only
    where ``col`` equals one of ``values``, so a bloom filter answers
    it."""
    for col, op, val in clause:
        if op in ("==", "="):
            yield col, [val]
        elif op == "in":
            yield col, list(val)


def eval_constant(v, op, val) -> bool:
    """Exact ``v <op> val`` for a constant ``v``.  A string ``v`` facing
    a non-string ``val`` belongs to a partition column that resolved to
    string (mixed spellings, k=3 beside k=abc): equality-class ops
    compare stringified, and ordering against a number raises rather
    than silently dropping the file."""
    if op == "is_null":
        return v is None
    if op == "is_not_null":
        return v is not None
    if v is None:
        return False
    if op in ("in", "not in"):
        vals = list(val)
        if isinstance(v, str):
            vals = [x if x is None or isinstance(x, str) else str(x)
                    for x in vals]
        if op == "in":
            return v in vals
        return v not in vals and None not in vals
    if val is None:
        return False
    if isinstance(v, str) and not isinstance(val, str):
        if op in ("==", "=", "!="):
            val = str(val)
        elif isinstance(val, (int, float)):
            raise ValueError(
                f"cannot order-compare numeric filter value {val!r} "
                f"against string-typed partition value {v!r} — the "
                f"column resolved to string (mixed value spellings); "
                f"pass a string bound")
    return _COMPARE[op][0](v, val)


def file_clauses(clauses, consts: dict):
    """The DNF for one file whose columns ``consts`` hold one value
    each (partition values; None for a column the file predates).
    Terms on those columns are decided here: a false term drops its
    clause for this file, a true one is stripped.  An empty result
    means no row of the file matches."""
    out = []
    for clause in clauses:
        resid = []
        for col, op, val in clause:
            if col not in consts:
                resid.append((col, op, val))
            elif not eval_constant(consts[col], op, val):
                break
        else:
            out.append(resid)
    return out


def _arrow_term(c, op, val):
    import pyarrow as pa
    import pyarrow.compute as pc

    if op == "is_null":
        return pc.is_null(c)
    if op == "is_not_null":
        return pc.is_valid(c)
    if op in ("in", "not in"):
        vals = list(val)
        hit = pc.is_in(c, value_set=pa.array(vals), skip_nulls=True)
        if op == "in":
            return hit
        m = pc.and_(pc.is_valid(c), pc.invert(hit))
        return pc.and_(m, pa.scalar(False)) if None in vals else m
    return getattr(pc, _COMPARE[op][1])(c, val)


def arrow_filter(table, clauses):
    """Rows of ``table`` matching the DNF.  Terms on columns the table
    lacks are skipped (the caller decided them, or cannot)."""
    import pyarrow.compute as pc

    mask = None
    for clause in clauses:
        m = None
        for col, op, val in clause:
            if col not in table.column_names:
                continue
            t = pc.fill_null(_arrow_term(table.column(col), op, val), False)
            m = t if m is None else pc.and_(m, t)
        if m is None:
            return table
        mask = m if mask is None else pc.or_(mask, m)
    return table.slice(0, 0) if mask is None else table.filter(mask)


def _spark_term(c, op, val):
    if op == "is_null":
        return c.isNull()
    if op == "is_not_null":
        return c.isNotNull()
    if op == "in":
        return c.isin(*val)
    if op == "not in":
        return c.isNotNull() & ~c.isin(*val)
    return _COMPARE[op][0](c, val)


def spark_column(clauses):
    """The DNF as one Spark Column, or None when it matches all rows."""
    from pyspark.sql import functions as F

    if match_all(clauses):
        return None
    return reduce(operator.or_, (
        reduce(operator.and_, (_spark_term(F.col(col), op, val)
                               for col, op, val in clause))
        for clause in clauses))


def from_catalyst(filters) -> list[tuple]:
    """The AND-clause of the pushed Spark data-source filters this
    contract expresses; the rest are left out, which only widens
    pruning."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull,
        LessThan, LessThanOrEqual,
    )

    ops = {EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
           LessThan: "<", LessThanOrEqual: "<=", In: "in",
           IsNull: "is_null", IsNotNull: "is_not_null"}
    return [(f.attribute[0], ops[type(f)], getattr(f, "value", None))
            for f in filters
            if type(f) in ops and len(f.attribute) == 1]
