"""Column promise — lazy handle to one column of a Table.

Reference parity: ``seaserpent.base.Column`` (base.py:1704-2258). A Column is
constructed with no I/O; comparisons return predicates; materialization
happens only at explicit edges (``.values`` / ``.to_series()``,
base.py:1882-1893).

Spark-first design: wraps a ``pyspark.sql.Column`` bound to the parent
Table's DataFrame. Every predicate builder returns a :class:`Filter` holding
a boolean Column — Catalyst pushes these into the parquet scan
(PushedFilters), so "pushdown-by-construction" (SURVEY §4) is preserved and
strengthened. Materializing edges collect through Arrow.
"""

from __future__ import annotations

from typing import Any, Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column as SparkColumn

from .filter import Filter

#: Above this many literals, ``isin`` switches from an IN-list to a
#: broadcast semi-join against a literal DataFrame (the reference's
#: ``online=False`` client-side fallback, base.py:1974-2012, made
#: distributed). IN-lists beyond a few thousand entries bloat the plan.
ISIN_LITERAL_CAP = 4096

_NUMERIC_KINDS = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal")


class Column:
    """Lazy column handle. No I/O at construction (base.py:1704-1708)."""

    def __init__(self, name: str, table):
        self.name = name
        self.table = table

    # -- plumbing ----------------------------------------------------------
    @property
    def expr(self) -> SparkColumn:
        # UNBOUND (name-based) reference, not ``df[name]``: predicates
        # built here must also resolve against the stats-pruned re-read
        # of the same table files (store.scan_stats_pruned) — a bound
        # AttributeReference only resolves against the exact plan it was
        # captured from. Existence is still validated eagerly; backticks
        # keep literal dots/spaces in names from parsing as field access.
        #
        # RESTRICTION (documented contract): being name-based, the
        # expression resolves by NAME in whatever plan it is applied to.
        # Filters/Columns built from one table must be applied through
        # that table's own verbs (filter/loc/assign) — using one inside
        # a context holding ANOTHER frame with the same column name
        # (self-joins, post-merge frames with duplicate names) is
        # ambiguous and raises AMBIGUOUS_REFERENCE instead of silently
        # picking a side, which is the safe failure mode. Every engine
        # join (link/merge/fuzzy/temporal) aliases or drops duplicate
        # names before exposing the result, so the ambiguity cannot be
        # hit through the public API.
        if self.name not in self.table.df.columns:
            raise KeyError(self.name)
        return F.col("`" + self.name.replace("`", "``") + "`")

    @property
    def _bound(self) -> SparkColumn | None:
        """BOUND twin of :attr:`expr` — ``df[name]`` captures the source
        plan's attribute, which resolves uniquely where the name-based
        expr is ambiguous (raw-df mixing). None when the source frame
        itself holds duplicate names. Predicate builders carry it on
        the Filter (r12, ``Filter.bound``); ``Table._where_named``
        falls back to it on AMBIGUOUS_REFERENCE."""
        try:
            return self.table.df[self.name]
        except Exception:
            return None

    def _both(self, build, terms: tuple = ()) -> Filter:
        """Filter with the predicate built in BOTH resolution modes:
        ``build(expr)`` as the primary name-based form, ``build(bound)``
        as the bound fallback (skipped when no bound twin exists)."""
        b = self._bound
        return Filter(
            build(self.expr), terms,
            bound=None if b is None else build(b),
        )

    def _term(self, op: str, value) -> tuple:
        """One prunable conjunct, or () when the comparison is not a
        plain literal (col-to-col, NULL, bool checkbox values).
        datetime/date literals are carried as-is — the store converts
        them to its integer stat representation at prune time (r10
        temporal data skipping); ISO strings prune the same way."""
        import datetime as _dt

        if isinstance(value, bool) or not isinstance(
            value, (int, float, str, _dt.date)
        ):
            return ()
        return ((self.name, op, value),)

    @property
    def dtype(self) -> str:
        for n, t in self.table.df.dtypes:
            if n == self.name:
                return t
        raise KeyError(self.name)

    def _is_numeric(self) -> bool:
        return self.dtype.startswith(_NUMERIC_KINDS)

    def _is_string(self) -> bool:
        return self.dtype == "string"

    def _col_meta(self) -> dict:
        store = self.table.store
        if store is None:
            return {}
        return store.meta(self.table.name).get("columns", {}).get(
            self.name, {}
        )

    @property
    def key(self) -> str:
        """Stable column identifier (base.py:1795-1805) — survives
        renames. Unmanaged tables fall back to the name."""
        return self._col_meta().get("key", self.name)

    @property
    def options(self) -> list[str]:
        """Allowed options of a select column (base.py:1824-1828)."""
        meta = self._col_meta()
        if "select" not in str(meta.get("type", "")):
            raise TypeError(
                "`options` only exists for single- or multi-select columns"
            )
        return list(meta.get("options", []))

    # -- comparisons → Filter (base.py:1724-1752) --------------------------
    def __eq__(self, other) -> Filter:  # type: ignore[override]
        return self._both(lambda c: c == _rhs(other), self._term("=", other))

    def __ne__(self, other) -> Filter:  # type: ignore[override]
        return self._both(lambda c: c != _rhs(other))

    def __lt__(self, other) -> Filter:
        return self._both(lambda c: c < _rhs(other), self._term("<", other))

    def __le__(self, other) -> Filter:
        return self._both(lambda c: c <= _rhs(other), self._term("<=", other))

    def __gt__(self, other) -> Filter:
        return self._both(lambda c: c > _rhs(other), self._term(">", other))

    def __ge__(self, other) -> Filter:
        return self._both(lambda c: c >= _rhs(other), self._term(">=", other))

    # -- boolean algebra on checkbox columns (base.py:1754-1780) -----------
    def __and__(self, other) -> Filter:
        from .filter import _bound_of, _combine

        b = _combine(self._bound, _bound_of(other), lambda a, c: a & c)
        return Filter(self.expr & _pred(other), bound=b)

    def __or__(self, other) -> Filter:
        from .filter import _bound_of, _combine

        b = _combine(self._bound, _bound_of(other), lambda a, c: a | c)
        return Filter(self.expr | _pred(other), bound=b)

    def __invert__(self) -> Filter:
        return self._both(lambda c: ~c)

    # -- string predicates (base.py:1938-1972) -----------------------------
    def contains(self, pat: str) -> Filter:
        return self._both(lambda c: c.contains(pat))

    def startswith(self, pat: str) -> Filter:
        return self._both(lambda c: c.startswith(pat))

    def endswith(self, pat: str) -> Filter:
        return self._both(lambda c: c.endswith(pat))

    def rlike(self, pattern: str) -> Filter:
        """Regex predicate — beyond-reference (the remote dialect had none)."""
        return self._both(lambda c: c.rlike(pattern))

    # -- membership (base.py:1974-2012) ------------------------------------
    def isin(self, other: Iterable | Any, online: bool = True) -> Filter:
        """Membership test.

        Reference semantics: scalar degrades to ``==``; ``online=False``
        downloaded the column and ran pandas isin client-side for huge
        literal lists. Here the large-list path is a *broadcast semi-join*
        against a literal DataFrame — distributed, no driver materialization.
        """
        if isinstance(other, str) or not isinstance(other, Iterable):
            return self == other
        vals = list(other)
        if online and len(vals) <= ISIN_LITERAL_CAP:
            terms = ()
            if vals and all(
                isinstance(v, (int, float, str))
                and not isinstance(v, bool)
                for v in vals
            ):
                terms = ((self.name, "in", tuple(vals)),)
            return self._both(lambda c: c.isin(vals), terms)
        spark = self.table.spark
        lit_df = spark.createDataFrame([(v,) for v in vals], [self.name])
        # Consumed by Table.filter as a semi-join marker.
        return _SemiJoinFilter(self.name, lit_df)

    def between(self, low, high) -> Filter:
        return self._both(
            lambda c: c.between(_rhs(low), _rhs(high)),
            self._term(">=", low) + self._term("<=", high),
        )

    # -- null tests with ''≡NULL duality (base.py:2014-2050) ---------------
    def isnull(self, empty_str: bool = True) -> Filter:
        if empty_str and self._is_string():
            return self._both(lambda c: c.isNull() | (c == F.lit("")))
        return self._both(lambda c: c.isNull())

    def notnull(self, empty_str: bool = True) -> Filter:
        if empty_str and self._is_string():
            return self._both(lambda c: c.isNotNull() & (c != F.lit("")))
        return self._both(lambda c: c.isNotNull())

    # -- existence probe (base.py:1782-1792) -------------------------------
    def __contains__(self, value) -> bool:
        """``value in column`` → a pushdown 1-row take: one job that
        stops each partition at its first match, with no limit operator
        (whose JVM-wide numbered counter would recompile every call)."""
        from ..operators.util import has_rows

        return has_rows(self.table.df.where(self.expr == _rhs(value)))

    # -- aggregates --------------------------------------------------------
    def __len__(self) -> int:  # base.py:1720-1722
        return self.table.df.count()

    def unique(self):
        """DISTINCT pushed into the engine (base.py:2158-2169) → list."""
        rows = self.table.df.select(self.name).distinct().collect()
        return [r[0] for r in rows]

    def value_counts(self, normalize: bool = False, sort: bool = True,
                     ascending: bool = False, dropna: bool = True):
        """Group-by count (base.py:2205-2219 did this client-side in pandas
        via ``**kwargs`` passthrough; here it is a distributed partial-agg
        groupBy with the pandas signature mapped into the plan:
        ``normalize`` divides by the total in-plan, ``sort=False`` keeps
        group order unspecified like pandas)."""
        df = self.table.df
        if dropna:
            df = df.where(F.col(self.name).isNotNull())
        out = df.groupBy(self.name).agg(F.count(F.lit(1)).alias("count"))
        if normalize:
            # broadcast the scalar total instead of an empty window —
            # a global window would single-partition every group
            total = out.agg(F.sum("count").alias("__total"))
            out = (
                out.crossJoin(F.broadcast(total))
                .withColumn("count", F.col("count") / F.col("__total"))
                .drop("__total")
            )
        if sort:
            order = F.asc("count") if ascending else F.desc("count")
            out = out.orderBy(order, F.asc(self.name))
        pdf = out.toPandas()
        name = "proportion" if normalize else "count"
        return pdf.set_index(self.name)["count"].rename(name)

    def min(self):
        return self.table.df.agg(F.min(self.name)).collect()[0][0]

    def max(self):
        return self.table.df.agg(F.max(self.name)).collect()[0][0]

    def sum(self):
        return self.table.df.agg(F.sum(self.name)).collect()[0][0]

    def mean(self):
        return self.table.df.agg(F.avg(self.name)).collect()[0][0]

    def quantile(self, q: float | list[float] = 0.5, accuracy: int = 10000):
        """Approximate quantile(s) via the Greenwald-Khanna sketch
        (``percentile_approx`` — bounded memory, one pass; an exact
        percentile needs a full sort). Scalar in → scalar out."""
        qs = [q] if isinstance(q, (int, float)) else list(q)
        row = self.table.df.agg(
            F.percentile_approx(self.name, qs, accuracy).alias("q")
        ).collect()[0]["q"]
        return row[0] if isinstance(q, (int, float)) else list(row)

    def median(self, accuracy: int = 10000):
        return self.quantile(0.5, accuracy)

    def fillna(self, value) -> SparkColumn:
        """NULL-replaced expression (pandas Series.fillna analogue);
        compose with select/assignment. Empty-string≡NULL duality applies
        to string columns (the reference's download sanitizer,
        utils.py:177-182)."""
        expr = self.expr
        if self._is_string():
            expr = F.when(expr == "", None).otherwise(expr)
        return F.coalesce(
            expr, F.lit(value).cast(self.table.df.schema[self.name].dataType)
        ).alias(self.name)

    # -- scalar transforms (base.py:1861-1880, 2052-2069) ------------------
    def astype(self, dtype: str, errors: str = "raise") -> SparkColumn:
        """Cast; ``errors='ignore'`` maps to try_cast (NULL on failure)."""
        if errors == "ignore":
            return F.try_cast(self.expr, dtype).alias(self.name)
        return self.expr.cast(dtype).alias(self.name)

    def map(self, arg, na_action: str | None = None,
            returns: str = "string") -> SparkColumn:
        """Element mapping (base.py:2052-2069).

        dict → literal MAP lookup (stays JVM-side, codegen'd);
        callable → Arrow-batched pandas UDF with result type ``returns``
        (the scale path for the reference's client-side ``Series.map``).
        """
        if isinstance(arg, dict):
            pairs = []
            for k, v in arg.items():
                pairs.extend([F.lit(k), F.lit(v)])
            mapped = F.element_at(F.create_map(*pairs), self.expr)
            if na_action == "ignore":
                mapped = F.when(self.expr.isNull(), None).otherwise(mapped)
            return mapped.alias(self.name)
        if callable(arg):
            import pandas
            from pyspark.sql.functions import pandas_udf

            def _mapper(s: pandas.Series) -> pandas.Series:
                return s.map(arg, na_action=na_action)

            # explicit annotations (not PEP-563 strings) so pandas_udf
            # resolves the scalar signature regardless of module context
            _mapper.__annotations__ = {
                "s": pandas.Series, "return": pandas.Series
            }
            return pandas_udf(returns)(_mapper)(self.expr).alias(self.name)
        raise TypeError(f"map() expects dict or callable, got {type(arg)}")

    # -- mutation (managed tables; base.py:2171, 1897, 1922, 2073) ---------
    def update(self, values) -> None:
        """Diff-write: only changed cells hit the oplog (base.py:2171-2203)."""
        self.table._require_store().update_column(self.table, self.name, values)

    def clear(self) -> None:
        """Set every cell to NULL (base.py:1897-1918)."""
        self.table._require_store().clear_column(self.table, self.name)

    def delete(self) -> None:
        """Drop this column (base.py:1922-1936)."""
        self.table._require_store().drop_column(self.table, self.name)

    def resize(self, width: int) -> None:
        """Set display width (base.py:2106-2128) — column metadata only."""
        self.table._require_store().update_column_meta(
            self.table, self.name, width=int(width)
        )

    def freeze(self) -> None:
        """Freeze column (base.py:2132-2143) — metadata only."""
        self.table._require_store().update_column_meta(
            self.table, self.name, frozen=True
        )

    def unfreeze(self) -> None:
        """Unfreeze column (base.py:2146-2156) — metadata only."""
        self.table._require_store().update_column_meta(
            self.table, self.name, frozen=False
        )

    def add_options(self, options) -> None:
        """Extend allowed options of a select column (base.py:2222-2258)."""
        self.table._require_store().add_select_options(
            self.table, self.name, options
        )

    def rename(self, new_name: str) -> None:
        """Rename this column (base.py:2073-2102)."""
        self.table._require_store().rename_column(self.table, self.name, new_name)
        self.name = new_name

    # -- materialization edges (base.py:1830-1832, 1882-1893) --------------
    def to_series(self):
        """SELECT _id?, col → pandas Series (Arrow transfer)."""
        cols = [self.name]
        index_col = None
        if self.table.id_col and self.table.id_col in self.table.columns:
            cols = [self.table.id_col, self.name]
            index_col = self.table.id_col
        pdf = self.table.df.select(*cols).toPandas()
        if index_col:
            pdf = pdf.set_index(index_col)
            pdf.index.name = "row_id"
        return pdf[self.name]

    @property
    def values(self):
        return self.to_series().values

    def __repr__(self) -> str:
        return f"<Column {self.table.name}.{self.name} [{self.dtype}]>"


class _SemiJoinFilter(Filter):
    """isin() over a huge literal list → broadcast LEFT SEMI join marker.

    Carries the literal DF; ``Table.filter`` detects it and plans
    ``df.join(broadcast(lit_df), on, 'left_semi')`` instead of an IN-list.
    """

    __slots__ = ("col_name", "lit_df")

    def __init__(self, col_name: str, lit_df):
        self.col_name = col_name
        self.lit_df = lit_df
        # Dummy boolean expr; never used directly.
        self.expr = F.lit(True)


def _rhs(other):
    """Unwrap Column→expr for col-to-col comparison; pass scalars through."""
    if isinstance(other, Column):
        return other.expr
    return other


def _pred(other) -> SparkColumn:
    if isinstance(other, (Filter,)):
        return other.expr
    if isinstance(other, Column):
        return other.expr
    if isinstance(other, SparkColumn):
        return other
    raise TypeError(f"cannot AND/OR with {type(other)}")
