"""J3 — dataset diff: the native-Spark compare the reference wished for.

Reference: src/glue/jobs/compare_parquet_datasets.py:554-587 runs
datacompy.Compare (pandas, driver memory) on (staging, main) with
``join_columns=index``, abs_tol=0, rel_tol=0; unique-row extraction at
:510-532, duplicate detection (A4) at :488-507, column set ops (A7) at
:154-182.  The reference itself notes the pandas scaling problem and
names SparkCompare as the fix (:568-572) — this module is that operator.

Spark-first design
------------------
ONE full-outer join on the index keys produces everything:

- presence flags -> rows only in left / only in right;
- per-column equality (with abs/rel tolerance for numerics, null-safe
  ``<=>`` for the rest) -> per-column match counts in a single
  aggregation pass (no per-column joins, no driver-side rows);
- match stats aggregate map-side before the final reduce.

Duplicate-key detection and column set ops stay driver-light: column set
ops use ``df.columns`` (metadata only), duplicates are one groupBy.

Each of ``left_only``/``right_only``/``mismatched`` is its own plan over
the join: counting all three runs the join three times.  A caller that
reads several of them repeatedly can pin ``joined`` first.

Why SQL text
------------
Every derived frame is built from a handful of ``selectExpr``/``where``
calls over backtick-quoted identifiers, not from Python ``Column``
chains.  A Column chain costs a py4j round trip per node (``col``,
``alias``, ``<=>``, ``NOT``, ``OR``, ``struct``, ``count``, ``sum``),
some 300-400 per compared column, and the weekly diff compares 30-61
columns: building the frames, not running them, was most of the diff's
wall time.  An expression string crosses as one value and is parsed in
the JVM, so a frame costs about one round trip per column.  The
optimized plans are the Column-built ones: OR chains are parenthesised
left-deep, as a Column fold builds them (the parser would balance an
unparenthesised chain).  ``column_stats`` builds its rows with
``named_struct`` where the Column form used ``struct``; the rows are the
same, the plan text is not.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_L, _R = "__present_l", "__present_r"


def _quote(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _string(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _double(value: float) -> str:
    return f"{float(value)!r}D"


def _any_of(terms: Sequence[str]) -> str:
    """SQL text true when any of the SQL ``terms`` is, ORed left-deep."""
    if not terms:
        return "false"
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} OR {t})"
    return out


def differs(pairs: Sequence[tuple[str, str]]) -> str:
    """SQL text true when any ``(a, b)`` column pair differs, null-safe:
    NULL vs NULL is equal, NULL vs a value differs."""
    return _any_of([f"NOT ({_quote(a)} <=> {_quote(b)})" for a, b in pairs])


@dataclass
class CompareResult:
    """Structured diff output (mirrors datacompy's report surface)."""

    joined: DataFrame  # full-outer join with presence + per-column match flags
    left_only: DataFrame
    right_only: DataFrame
    mismatched: DataFrame  # present in both but >=1 compared column differs
    column_stats: DataFrame  # (column, rows_compared, rows_equal, rows_unequal)
    left_dup_keys: DataFrame
    right_dup_keys: DataFrame
    common_columns: list[str] = field(default_factory=list)
    left_only_columns: list[str] = field(default_factory=list)
    right_only_columns: list[str] = field(default_factory=list)


def duplicate_index_rows(df: DataFrame, index_cols: Sequence[str]) -> DataFrame:
    """A4 — keys appearing more than once (compare_parquet_datasets.py:488-507)."""
    return (
        df.groupBy(*[_quote(k) for k in index_cols])
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def _match(l: str, r: str, tolerant: bool, abs_tol: float, rel_tol: float) -> str:
    if not tolerant:
        return f"{l} <=> {r}"
    # datacompy's rule: a NULL on exactly one side is a mismatch, so the
    # comparison's NULL must become false, not stay NULL (NOT NULL would
    # drop the row from ``mismatched``).
    return (
        f"coalesce(abs({l} - {r}) <= {_double(abs_tol)} + {_double(rel_tol)}"
        f" * abs({r}), false) OR ({l} IS NULL AND {r} IS NULL)"
    )


def compare_datasets(
    left: DataFrame,
    right: DataFrame,
    index_cols: Sequence[str],
    abs_tol: float = 0.0,
    rel_tol: float = 0.0,
) -> CompareResult:
    """Full-outer diff of two datasets on composite ``index_cols``.

    Numeric columns match when ``abs(l - r) <= abs_tol + rel_tol*abs(r)``
    (datacompy's tolerance rule; a NULL on one side only never matches);
    all other types use null-safe equality.
    Columns outside the intersection are reported, not compared
    (compare_parquet_datasets.py:154-182).
    """
    keys = list(index_cols)
    lschema = left.schema
    rcols = set(right.columns)
    common = [c for c in lschema.names if c in rcols and c not in keys]
    left_only_cols = sorted(set(lschema.names) - rcols)
    right_only_cols = sorted(rcols - set(lschema.names))
    numeric = {f.name for f in lschema.fields if isinstance(f.dataType, T.NumericType)}
    qkeys = [_quote(k) for k in keys]
    ql = {c: _quote(f"{c}__l") for c in common}
    qr = {c: _quote(f"{c}__r") for c in common}
    qm = {c: _quote(f"{c}__match") for c in common}

    lsel = left.selectExpr(
        *qkeys, *[f"{_quote(c)} AS {ql[c]}" for c in common], f"true AS {_L}"
    )
    rsel = right.selectExpr(
        *qkeys, *[f"{_quote(c)} AS {qr[c]}" for c in common], f"true AS {_R}"
    )
    tolerant = bool(abs_tol or rel_tol)
    joined = lsel.join(rsel, on=keys, how="full_outer").selectExpr(
        "*",
        *[
            _match(ql[c], qr[c], tolerant and c in numeric, abs_tol, rel_tol)
            + f" AS {qm[c]}"
            for c in common
        ],
    )

    both = joined.where(f"{_L} IS NOT NULL AND {_R} IS NOT NULL")
    left_only = joined.where(f"{_R} IS NULL").selectExpr(
        *qkeys, *[f"{ql[c]} AS {_quote(c)}" for c in common]
    )
    right_only = joined.where(f"{_L} IS NULL").selectExpr(
        *qkeys, *[f"{qr[c]} AS {_quote(c)}" for c in common]
    )
    mismatched = both.where(_any_of([f"NOT {qm[c]}" for c in common]))

    # Per-column stats in ONE aggregation (map-side partial -> tiny
    # result), kept LAZY: the single agg row is unpivoted with explode,
    # so callers that never read column_stats pay nothing.
    if common:
        n = {c: _quote(f"{c}__n") for c in common}
        eq = {c: _quote(f"{c}__eq") for c in common}
        aggs = []
        for c in common:
            aggs.append(f"count(1) AS {n[c]}")
            aggs.append(f"sum(CAST({qm[c]} AS BIGINT)) AS {eq[c]}")
        per_col = ", ".join(
            f"named_struct('column', {_string(c)}, 'rows_compared', {n[c]},"
            f" 'rows_equal', coalesce({eq[c]}, 0))"
            for c in common
        )
        column_stats = (
            both.selectExpr(*aggs)
            .selectExpr(f"explode(array({per_col})) AS s")
            .selectExpr(
                "s.`column` AS `column`",
                "CAST(s.rows_compared AS BIGINT) AS rows_compared",
                "CAST(s.rows_equal AS BIGINT) AS rows_equal",
                "CAST(s.rows_compared - s.rows_equal AS BIGINT) AS rows_unequal",
            )
        )
    else:
        column_stats = left.sparkSession.createDataFrame(
            [],
            schema="column string, rows_compared long, rows_equal long, rows_unequal long",
        )

    return CompareResult(
        joined=joined,
        left_only=left_only,
        right_only=right_only,
        mismatched=mismatched,
        column_stats=column_stats,
        left_dup_keys=duplicate_index_rows(left, keys),
        right_dup_keys=duplicate_index_rows(right, keys),
        common_columns=common,
        left_only_columns=left_only_cols,
        right_only_columns=right_only_cols,
    )


def comparison_report(result: CompareResult, max_sample_rows: int = 20) -> str:
    """K8 — human-readable diff report (the reference writes datacompy's
    text report to S3, compare_parquet_datasets.py:763-791)."""
    lines = ["Dataset comparison report", "=" * 32]
    lines.append(f"common columns:      {len(result.common_columns)}")
    if result.left_only_columns:
        lines.append(f"columns only left:   {result.left_only_columns}")
    if result.right_only_columns:
        lines.append(f"columns only right:  {result.right_only_columns}")
    n_lo = result.left_only.count()
    n_ro = result.right_only.count()
    n_mm = result.mismatched.count()
    lines.append(f"rows only in left:   {n_lo}")
    lines.append(f"rows only in right:  {n_ro}")
    lines.append(f"rows with mismatch:  {n_mm}")
    lines.append("")
    lines.append("per-column match stats:")
    for r in result.column_stats.collect():
        lines.append(
            f"  {r.column}: compared={r.rows_compared} "
            f"equal={r.rows_equal} unequal={r.rows_unequal}"
        )
    if n_mm:
        lines.append("")
        lines.append(f"mismatch sample (up to {max_sample_rows}):")
        for r in result.mismatched.limit(max_sample_rows).collect():
            lines.append(f"  {r.asDict()}")
    return "\n".join(lines)
