"""AST -> native Column compiler for the transform DSL (D1-D14).

Each ``fn_transform_*`` is folded into built-in `pyspark.sql.functions`
expressions with the exact semantics of the reference implementations
(file:line cited per function), including its documented quirks — these
are bug-compatible by design and covered by unit tests:

* ``Case`` has no ``otherwise`` and each rule overwrites the whole
  column, so only the LAST rule is effective; non-matching rows are
  NULL (aje-stage-dms-load.py:167-175).
* ``Case_with_default`` with compound (``&``) keys accumulates the
  match condition across rules (``condition_expr |= ...``), so every
  row matching ANY rule ends with the LAST rule's label
  (aje-stage-dms-load.py:188-215). The simple variant folds
  sequentially (later rules win only on overlap), which is the sane
  semantics (:217-224).
* ``ClearDouble`` defaults to the reference's ``Concatenate_ws``
  alias (marked "pending review" there, :237-239);
  ``Dialect(strict_clear_double=True)`` opts into a numeric-clean
  variant instead.
* Intermediate results of nested calls are cast to the column's target
  type at every level (the reference applies ``.cast(data_type)`` per
  ``transform_df`` call, :419-424).

Dialect differences between the two reference jobs (SJ vs
transform_light.py) are captured in :class:`Dialect`.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from cdk_datalake_ingest_spark.dsl.parser import (
    FuncCall,
    Raw,
    TransformParseError,
    parse_transformation,
)

MAGIC_EPOCH_OFFSET = 693596  # day-number of 1900-01-01 in the ERP's proleptic count
MAGIC_BASE_DATE = "1900-01-01"
# Validity window for magic day numbers (700000..3599999), SJ:272.
MAGIC_DATE_PATTERN = r"^([7-9]\d{5}|[1-2]\d{6}|3[0-5]\d{5})$"
# HHMMSS packed time validity, SJ:291.
MAGIC_TIME_PATTERN = r"^([01][0-9]|2[0-3])([0-5][0-9])([0-5][0-9])$"
DEFAULT_PERIOD = "190001"  # PeriodMagic null sentinel, SJ:311-322


class TransformError(ValueError):
    pass


class UnknownTransformError(TransformError):
    """Strict-mode replacement for the reference's silent pass-through
    on unknown function names (aje-stage-dms-load.py:324-325)."""


@dataclass(frozen=True)
class Dialect:
    """Behavioral switches between the reference's two DSL interpreters."""

    name: str = "bigmagic"
    concat_separator: str = "|"  # SJ:152 uses '|'; TL:154 uses '-'
    # transform_light matches Salesforce byte-string renderings b'T'/b'F'
    # in addition to plain T/F (transform_light.py:161-166).
    byte_string_literals: bool = False
    timezone: str = "America/Lima"  # fn_transform_Datetime() now() tz, SJ:231
    # ClearDouble semantics. The reference marks the function "pending
    # review" and implements it as a Concatenate_ws alias
    # (aje-stage-dms-load.py:237-239) — False keeps that bug-compatible
    # behavior. True opts into the name's evident intent: a
    # numeric-clean (strip thousands separators / currency symbols /
    # stray text, cast to double, NULL when nothing numeric survives).
    strict_clear_double: bool = False


BIGMAGIC = Dialect()
SALESFORCE = Dialect(name="salesforce", concat_separator="-", byte_string_literals=True)


def compile_transformation(
    text: str,
    data_type: str = "string",
    dialect: Dialect = BIGMAGIC,
    strict: bool = True,
) -> Column:
    """Compile a DSL string into a single native Column expression.

    Plain (non-``fn_transform_``) text falls through to ``F.expr`` —
    subsuming both reference behaviors (SJ:459 ``col(...)`` and
    TL:348-349 ``expr(...)``) since a bare column name is a valid SQL
    expression.
    """
    node = parse_transformation(text)
    if isinstance(node, Raw):
        return F.expr(node.text.strip()).cast(data_type)
    return _compile_call(node, data_type, dialect, strict)


def _compile_call(
    node: FuncCall, data_type: str, dialect: Dialect, strict: bool
) -> Column:
    fn = _FN_COMPILERS.get(node.name)
    if fn is None:
        if strict:
            raise UnknownTransformError(node.name)
        # lenient mode mirrors the reference: unknown fn leaves the
        # input column untouched; we surface NULL instead of silently
        # keeping stale data.
        return F.lit(None).cast(data_type)
    return fn(node.args, data_type, dialect, strict).cast(data_type)


def _arg_text(node) -> str:
    if isinstance(node, Raw):
        return node.text
    raise TransformError(f"expected literal/column argument, got call {node.name}")


def _col_arg(node, data_type: str, dialect: Dialect, strict: bool) -> Column:
    """An argument in column position: nested call or column reference."""
    if isinstance(node, FuncCall):
        return _compile_call(node, data_type, dialect, strict)
    return F.col(node.text.strip())


def _lit_or_col(text: str) -> Column:
    """`$`-prefixed -> literal (all '$' stripped, matching the
    reference's ``default.replace('$','')``); otherwise a column ref."""
    if "$" in text:
        return F.lit(text.replace("$", ""))
    return F.col(text)


def _split_rules(args: list) -> list[tuple[str, str]]:
    rules = []
    for a in args:
        text = _arg_text(a)
        value_case, label_case = text.split("->", 1)
        rules.append((value_case, label_case))
    return rules


# --- function compilers ---------------------------------------------------


def _fn_concatenate(args, data_type, dialect, strict):
    # D1, SJ:150-152 / TL:152-154.
    cols = [_col_arg(a, data_type, dialect, strict) for a in args]
    return F.concat_ws(dialect.concat_separator, *cols)


def _fn_concatenate_ws(args, data_type, dialect, strict):
    # D2, SJ:154-156: last argument is the separator.
    sep = _arg_text(args[-1])
    cols = [_col_arg(a, data_type, dialect, strict) for a in args[:-1]]
    return F.concat_ws(sep, *cols)


def _fn_clear_double(args, data_type, dialect, strict):
    # D7: bug-compatible Concatenate_ws alias by default (the
    # reference's "pending review" implementation); a metadata author
    # can opt out via Dialect(strict_clear_double=True), which cleans
    # ONE column down to sign/digits/decimal-point and casts to
    # double — unparseable remnants (multiple dots, bare '-', empty)
    # become NULL instead of a crash or a silently wrong concat.
    if not dialect.strict_clear_double:
        return _fn_concatenate_ws(args, data_type, dialect, strict)
    if len(args) != 1:
        raise TransformError(
            "fn_transform_ClearDouble takes exactly one column argument "
            "under Dialect(strict_clear_double=True); the multi-arg "
            "concat form is the bug-compatible default dialect"
        )
    origin = _col_arg(args[0], data_type, dialect, strict)
    # Exactly ONE numeric token (optional sign adjacent to the digits,
    # optionally comma-grouped thousands, optional decimal part),
    # decorated only by digit-free sign-free DOT-FREE edge junk
    # (currency symbols, units, whitespace). Anything else — exponent
    # forms ('1.2e3'), multiple digit runs ('12 apples 34'), European
    # decimal commas ('3,14'), a detached decimal point ('.5', '$.50' —
    # eating the dot as junk would misparse the fraction as a whole
    # number) — is NULL, never a silently wrong concat of the
    # surviving digit groups.
    token = F.regexp_extract(
        origin.cast("string"),
        r"^[^0-9+\-.]*([+-]?(?:[0-9]{1,3}(?:,[0-9]{3})+|[0-9]+)(?:\.[0-9]+)?)"
        r"[^0-9]*$",
        1,
    )
    return (
        F.when(token != "", F.translate(token, ",+", ""))
        .otherwise(F.lit(None))
        .cast("double")
    )


def _fn_byte_magic(args, data_type, dialect, strict):
    # D3, SJ:158-165 — 'T'/'F' byte flags with $literal or column default.
    origin = _col_arg(args[0], data_type, dialect, strict)
    default = _lit_or_col(_arg_text(args[1]))
    t_vals, f_vals = ["T"], ["F"]
    if dialect.byte_string_literals:  # TL:161-166
        t_vals.append("b'T'")
        f_vals.append("b'F'")
    return (
        F.when(origin.isin(t_vals), "T")
        .when(origin.isin(f_vals), "F")
        .otherwise(default)
    )


def _fn_case(args, data_type, dialect, strict):
    # D4, SJ:167-175. Each iteration REPLACES the whole column with a
    # when() that has no otherwise — so the final expression is the last
    # rule only, and non-matching rows are NULL. Bug-compatible.
    origin = _col_arg(args[0], data_type, dialect, strict)
    expr = F.lit(None)
    for value_case, label_case in _split_rules(args[1:]):
        expr = F.when(origin.isin(value_case.split("|")), label_case)
    return expr


def _fn_case_with_default(args, data_type, dialect, strict):
    # D5, SJ:177-225.
    default = _lit_or_col(_arg_text(args[-1]))
    rules = _split_rules(args[1:-1])
    acc = default.cast(data_type)
    if isinstance(args[0], FuncCall):
        # nested call as origin (e.g. Case_with_default(ClearString(c),...))
        origin = _compile_call(args[0], data_type, dialect, strict)
        for value_case, label_case in rules:
            acc = F.when(
                origin.isin(value_case.split("|")), F.lit(label_case)
            ).otherwise(acc)
        return acc
    origin_text = _arg_text(args[0]).strip()
    if "&" in origin_text:
        # Compound keys: colA&colB matched against a&b|c&d. The
        # reference accumulates condition_expr across rules (SJ:188-215),
        # so any row matching an earlier rule is overwritten by every
        # later rule's label. Replicated exactly.
        key_cols = origin_text.split("&")
        cum_cond = None
        for value_case, label_case in rules:
            rule_cond = None
            for value in value_case.split("|"):
                parts = value.split("&")
                eqs = [
                    F.col(c) == F.lit(parts[i]) for i, c in enumerate(key_cols)
                ]
                conj = reduce(operator.and_, eqs)
                rule_cond = conj if rule_cond is None else (rule_cond | conj)
            cum_cond = rule_cond if cum_cond is None else (cum_cond | rule_cond)
            acc = F.when(cum_cond, F.lit(label_case)).otherwise(acc)
    else:
        origin = F.col(origin_text)
        for value_case, label_case in rules:
            acc = F.when(
                origin.isin(value_case.split("|")), F.lit(label_case)
            ).otherwise(acc)
    return acc


def _fn_datetime(args, data_type, dialect, strict):
    # D6, SJ:227-234: no arg -> now() in the dialect timezone; else
    # to_timestamp(column).
    first = _arg_text(args[0]).strip() if args else ""
    if first == "":
        return F.from_utc_timestamp(F.current_timestamp(), dialect.timezone)
    return F.to_timestamp(first)


def _fn_clear_string(args, data_type, dialect, strict):
    # D8, SJ:241-258.
    origin = _col_arg(args[0], data_type, dialect, strict)
    if len(args) > 1:
        default = _lit_or_col(_arg_text(args[1]))
        return F.when(origin.isNotNull(), F.trim(origin)).otherwise(default)
    return F.trim(origin)


def _fn_date_to_string(args, data_type, dialect, strict):
    # D9, SJ:260-261.
    origin = _col_arg(args[0], data_type, dialect, strict)
    return F.date_format(origin, _arg_text(args[1]))


def _magic_date_expr(origin: Column) -> Column:
    """1900-epoch day-number decode shared by DateMagic/DatetimeMagic."""
    return F.date_add(
        F.to_date(F.lit(MAGIC_BASE_DATE)),
        origin.cast("int") - F.lit(MAGIC_EPOCH_OFFSET),
    )


def _fn_date_magic(args, data_type, dialect, strict):
    # D10, SJ:263-277.
    origin = _col_arg(args[0], data_type, dialect, strict)
    fmt = _arg_text(args[1])
    default = _arg_text(args[-1])
    valid = F.regexp_extract(origin.cast("string"), MAGIC_DATE_PATTERN, 1) != ""
    return F.when(valid, F.to_date(_magic_date_expr(origin), fmt)).otherwise(
        F.to_date(F.lit(default), fmt)
    )


def _fn_datetime_magic(args, data_type, dialect, strict):
    # D11, SJ:279-308, including the fmt[:8] quirk on the non-time
    # branches (the reference truncates 'yyyy-MM-dd HH:mm:ss' to
    # 'yyyy-MM-' there; under the LEGACY parser that prefix-parses to
    # the first of the month).
    d_col = _col_arg(args[0], data_type, dialect, strict)
    t_col = _col_arg(args[1], data_type, dialect, strict)
    fmt = _arg_text(args[2])
    default = _arg_text(args[-1])
    d_valid = F.regexp_extract(d_col.cast("string"), MAGIC_DATE_PATTERN, 1) != ""
    t_valid = F.regexp_extract(t_col.cast("string"), MAGIC_TIME_PATTERN, 1) != ""
    decoded_date = _magic_date_expr(d_col)
    hms = F.concat_ws(
        ":", t_col.substr(1, 2), t_col.substr(3, 2), t_col.substr(5, 2)
    )
    full = F.to_timestamp(F.concat_ws(" ", decoded_date, hms), fmt)
    date_only = F.to_timestamp(decoded_date, fmt[:8])
    return F.when(d_valid, F.when(t_valid, full).otherwise(date_only)).otherwise(
        F.to_timestamp(F.lit(default), fmt[:8])
    )


def _fn_period_magic(args, data_type, dialect, strict):
    # D12, SJ:311-322: NULL period -> '190001', else period || lpad(ej,2,'0').
    period = _col_arg(args[0], data_type, dialect, strict)
    ejercicio = _col_arg(args[1], data_type, dialect, strict)
    return F.when(period.isNull(), DEFAULT_PERIOD).otherwise(
        F.concat(period, F.lpad(ejercicio, 2, "0"))
    )


_FN_COMPILERS = {
    "fn_transform_Concatenate": _fn_concatenate,
    "fn_transform_Concatenate_ws": _fn_concatenate_ws,
    "fn_transform_ByteMagic": _fn_byte_magic,
    "fn_transform_Case": _fn_case,
    "fn_transform_Case_with_default": _fn_case_with_default,
    "fn_transform_Datetime": _fn_datetime,
    "fn_transform_ClearDouble": _fn_clear_double,  # D7: dialect-gated
    "fn_transform_ClearString": _fn_clear_string,
    "fn_transform_Date_to_String": _fn_date_to_string,
    "fn_transform_DateMagic": _fn_date_magic,
    "fn_transform_DatetimeMagic": _fn_datetime_magic,
    "fn_transform_PeriodMagic": _fn_period_magic,
}

#: Timestamp timezone shift applied to Salesforce landing reads
#: (extract_salesforce_to_raw.py:107-112): UTC -> Lima = minus 5 hours.
def utc_to_lima_shift(col: Column) -> Column:
    return col - F.expr("INTERVAL 5 HOURS")
