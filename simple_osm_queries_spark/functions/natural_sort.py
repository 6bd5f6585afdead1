"""Natural-sort comparison for tag values.

The reference orders each key's value dictionary with a "natural" comparator
(/root/reference/src/common/sort.go:17-29) and the query's ``>,>=,<,<=``
operators compare dictionary POSITIONS (/root/reference/src/query/filter.go:
117-124), with parse-time next-lower-value rewrites for literals missing from
the dictionary (/root/reference/src/parser/parser.go:412-444).

Comparing the raw values directly under the same natural order is provably
equivalent (the dictionary contains exactly the values present in the data, so
position(a) < position(b) iff natural_less(a, b); when the literal is absent,
"next lower value + operator adjustment" collapses to the same direct
comparison — covered by tests mirroring parser_test.go:485-562).

Comparator semantics (sort.go):
* a value's "number" is the float parsed from ALL of its digit/./- characters
  collected in order from anywhere in the string (extractNumberPrefix,
  sort.go:78-96) — "12 ft" -> 12, "a1b2" -> 12 — provided that collection is a
  valid number (dash only first, at most one dot, sort.go:98-118; "." and "-"
  count as valid with numeric value 0, matching Go's ParseFloat failure -> 0);
* if BOTH sides have a number: compare numbers; on ties a pure number sorts
  before a number-with-text (sort.go:18-25); we refine the remaining
  undefined ties (two distinct impure strings with equal numbers) with a raw
  string tiebreak to get a deterministic total order;
* otherwise: plain (byte-order) string comparison.

Everything is built-in column math — JVM-side, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DIGIT_STRIP = r"[^0-9.\-]"
_NUMBER_RE = r"^-?[0-9]*(\.[0-9]*)?$"


def _digits(col: Column) -> Column:
    return F.regexp_replace(col, _DIGIT_STRIP, "")


def _has_num(col: Column, digits: Column) -> Column:
    return (F.length(digits) > 0) & digits.rlike(_NUMBER_RE)


def _num(digits: Column) -> Column:
    # Go ParseFloat on "-" / "." fails and leaves 0 (sort.go:42) -> coalesce 0.
    return F.coalesce(digits.try_cast("double"), F.lit(0.0))


def _pure(col: Column, digits: Column) -> Column:
    """True when the string IS the number (isNumber==len match, sort.go:40)."""
    return F.length(digits) == F.length(col)


def natural_key_py(s: str) -> tuple:
    """Driver-side natural key for a literal. Returns (has_num, num, pure, raw)."""
    import re

    s = s.strip()  # dictionary values are trimmed on sort (sort.go:51)
    digits = re.sub(_DIGIT_STRIP, "", s)
    has_num = bool(digits) and bool(re.fullmatch(r"-?[0-9]*(\.[0-9]*)?", digits))
    num = 0.0
    if has_num:
        try:
            num = float(digits)
        except ValueError:
            num = 0.0
    pure = has_num and len(digits) == len(s)
    return (has_num, num, pure, s)


def natural_cmp(value_col: Column, op: str, literal: str) -> Column:
    """Column predicate ``value_col <op> literal`` under natural order.

    ``op`` is one of ``> >= < <=``. The literal's key is computed on the
    driver so the hot path stays pure column math.
    """
    lit_has, lit_num, lit_pure, lit_raw = natural_key_py(literal)

    col = F.trim(value_col)
    digits = _digits(col)
    col_has = _has_num(col, digits)
    col_num = _num(digits)
    col_impure = F.when(_pure(col, digits), F.lit(0)).otherwise(F.lit(1))
    lit_impure = 0 if lit_pure else 1

    def str_cmp(strict_less: bool, invert: bool) -> Column:
        if invert:
            return col > F.lit(lit_raw) if strict_less else col >= F.lit(lit_raw)
        return col < F.lit(lit_raw) if strict_less else col <= F.lit(lit_raw)

    def num_cmp(strict_less: bool, invert: bool) -> Column:
        # total order key within the both-have-number group:
        # (num, impure, raw string)
        if invert:
            tie = (col_impure > F.lit(lit_impure)) | (
                (col_impure == F.lit(lit_impure)) & (col > F.lit(lit_raw))
            )
            strictly = (col_num > F.lit(lit_num)) | ((col_num == F.lit(lit_num)) & tie)
        else:
            tie = (col_impure < F.lit(lit_impure)) | (
                (col_impure == F.lit(lit_impure)) & (col < F.lit(lit_raw))
            )
            strictly = (col_num < F.lit(lit_num)) | ((col_num == F.lit(lit_num)) & tie)
        if strict_less:
            return strictly
        return strictly | (col == F.lit(lit_raw))

    if op not in (">", ">=", "<", "<="):
        raise ValueError(f"unsupported natural comparison operator {op!r}")
    strict = op in (">", "<")
    invert = op in (">", ">=")

    if lit_has:
        return F.when(col_has, num_cmp(strict, invert)).otherwise(str_cmp(strict, invert))
    # literal has no number: ALWAYS plain string comparison (sort.go:27-28)
    return str_cmp(strict, invert)


def natural_cmp_sql(value_expr: str, op: str, literal: str) -> str:
    """ANSI-SQL (DuckDB-compatible) rendering of :func:`natural_cmp`.

    Used to build oracle SQL for the driver's correctness gate. NB: DuckDB
    regexp flavor matches for the simple classes used here.
    """
    lit_has, lit_num, lit_pure, lit_raw = natural_key_py(literal)
    lr = lit_raw.replace("'", "''")
    v = f"trim({value_expr})"
    digits = f"regexp_replace({v}, '[^0-9.-]', '', 'g')"
    col_has = f"(length({digits}) > 0 AND regexp_full_match({digits}, '-?[0-9]*(\\.[0-9]*)?'))"
    col_num = f"coalesce(try_cast({digits} AS DOUBLE), 0.0)"
    col_impure = f"(CASE WHEN length({digits}) = length({v}) THEN 0 ELSE 1 END)"
    lit_impure = 0 if lit_pure else 1

    strict = op in (">", "<")
    invert = op in (">", ">=")
    s_op = (">" if strict else ">=") if invert else ("<" if strict else "<=")
    n_op = ">" if invert else "<"

    str_cmp = f"({v} {s_op} '{lr}')"
    if not lit_has:
        return str_cmp

    tie = (
        f"({col_impure} {n_op} {lit_impure} OR ({col_impure} = {lit_impure} AND {v} {n_op} '{lr}'))"
    )
    strictly = f"({col_num} {n_op} {lit_num} OR ({col_num} = {lit_num} AND {tie}))"
    num_cmp = strictly if strict else f"({strictly} OR {v} = '{lr}')"
    return f"(CASE WHEN {col_has} THEN {num_cmp} ELSE {str_cmp} END)"
