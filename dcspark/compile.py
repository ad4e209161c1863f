"""Rule -> executable-check compiler: the engine's planner front-end.

Functional parity with the reference's check generators
(/root/reference/datacontract/engines/data_contract_checks.py:12-738), which compile
contract rules to SodaCL fragments. Here each rule compiles to a ``CompiledCheck``
declaring its Spark execution strategy instead:

- ``schema_present`` / ``schema_type``: driver-side schema assertions — never scan data.
- ``agg``: contributes one named aggregate column (plus optional diagnostic
  aggregates) to a SINGLE shared multi-aggregate pass per table, and a row-level
  violation predicate for the violations pass.
- ``unique``: a dedicated shuffle job (groupBy-key duplicate count; skew handled by
  AQE + a pre-aggregation that combines map-side).
- ``reference``: anti-join against a parent table (broadcast when small).
- ``sql``: scalar user query + threshold comparison (temp view + spark.sql).
- ``freshness`` / ``retention``: max/min timestamp aggregates folded into the shared
  pass, compared against a period on the driver.
- ``row_count``: deprecated root-quality passthrough subset (row_count only; parity
  with data_contract_checks.py:716-738).
- ``drift``: KS/PSI distribution drift (engine extension, SURVEY.md §2.5).
- ``audio``: pandas-UDF decode-conformance pass (engine extension).

Soda metric semantics preserved (see SURVEY.md §2.1): ``missing_count`` counts
NULLs; ``invalid_count`` counts only non-missing violating values (missing and
invalid are disjoint); ``duplicate_count`` counts distinct non-null values occurring
more than once; exclusiveMinimum/Maximum emit an additional not-equal check
(data_contract_checks.py:48-53).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from .run_model import ResultEnum
from .spec import DataContractSpecification, Field, Model, Quality, to_spark_data_type

# Built-in format regexes (reference TODO at data_contract_checks.py:63; uuid regex
# from engines/fastjsonschema/check_jsonschema.py:245).
FORMAT_REGEX = {
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    "uri": r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^\s]+$",
}

#: the ``format`` row's bound for a declared format that FORMAT_REGEX has no
#: regex for: the row then compiles to a check that records ``error``
NO_REGEX = object()

Evaluator = Callable[[Optional[float], Dict[str, Any]], Tuple[ResultEnum, Optional[str]]]


@dataclass
class CompiledCheck:
    key: str
    check_type: str
    category: str
    name: str
    model: str
    field: Optional[str] = None
    kind: str = "agg"
    # agg kind: metric aggregate + diagnostics that join the shared multi-agg pass.
    # All Column-producing attributes are ZERO-ARG THUNKS so compilation never
    # needs a live SparkContext (driver-pure, like the reference's rule->SodaCL
    # compilation which needs no DB connection).
    agg_alias: Optional[str] = None
    agg_expr: Optional[Callable[[], Column]] = None
    extra_aggs: Dict[str, Callable[[], Column]] = dc_field(default_factory=dict)
    # row-level violation predicate thunk (True = this row violates the rule)
    violation_predicate: Optional[Callable[[], Column]] = None
    # human-readable expected value for the violations table
    expected: Optional[str] = None
    # thunk producing the observed value for a violating row
    observed_expr: Optional[Callable[[], Column]] = None
    # kind-specific parameters (reference table, sql text, thresholds, ...)
    params: Dict[str, Any] = dc_field(default_factory=dict)
    implementation: Optional[str] = None
    evaluate: Optional[Evaluator] = None

    def eval_metric(self, metric: Optional[float], diagnostics: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        if self.evaluate is not None:
            return self.evaluate(metric, diagnostics)
        return zero_is_pass(metric, self.name)


def zero_is_pass(metric: Optional[float], name: str) -> Tuple[ResultEnum, Optional[str]]:
    if metric is None:
        return ResultEnum.error, f"{name}: metric not computed"
    if metric == 0:
        return ResultEnum.passed, None
    return ResultEnum.failed, f"{name}: {int(metric)} violating value(s)"


def _key(model: str, field_: Optional[str], check_type: str) -> str:
    # Key scheme parity: data_contract_checks.py:106 et al.
    if field_:
        return f"{model}__{field_}__{check_type}"
    return f"{model}__{check_type}"


def _count_rows(pred: Column) -> Column:
    """Rows matching ``pred``: every row-level check's metric."""
    return F.coalesce(F.sum(F.when(pred, 1).otherwise(0)), F.lit(0))


# ---------------------------------------------------------------------------
# Field-level generators (parity: data_contract_checks.py:104-447)
# ---------------------------------------------------------------------------

def check_field_is_present(model: str, fname: str) -> CompiledCheck:
    return CompiledCheck(
        key=_key(model, fname, "field_is_present"),
        check_type="field_is_present",
        category="schema",
        name=f"Check that field {fname} is present",
        model=model,
        field=fname,
        kind="schema_present",
        implementation=f"'{fname}' in df.schema.fieldNames()",
    )


def check_field_type(model: str, fname: str, field_: Field) -> CompiledCheck:
    """A declared type Spark has no type for compiles to a check that records
    ``error`` with the reason, never one that passes on some stand-in type."""
    try:
        dtype = to_spark_data_type(field_)
        expected, params = dtype.simpleString(), {"expected_spark_type": dtype}
    except ValueError as e:
        expected, params = f"<{e}>", {"type_error": str(e)}
    return CompiledCheck(
        key=_key(model, fname, "field_type"),
        check_type="field_type",
        category="schema",
        name=f"Check that field {fname} has type {field_.type}",
        model=model,
        field=fname,
        kind="schema_type",
        params={**params, "declared_type": field_.type},
        expected=expected,
        implementation=f"df.schema['{fname}'].dataType == {expected}",
    )


def check_field_unique(model: str, fname: str) -> CompiledCheck:
    return CompiledCheck(
        key=_key(model, fname, "field_unique"),
        check_type="field_unique",
        category="field",
        name=f"Check that unique field {fname} has no duplicate values",
        model=model,
        field=fname,
        kind="unique",
        observed_expr=lambda: F.col(fname).cast("string"),
        expected="unique",
        implementation=(
            f"duplicate_count({fname}) = 0 :: "
            f"groupBy({fname}).count().filter(count>1) — two-phase partial agg, AQE skew-safe"
        ),
    )


_FILTERABLE_QUALITY = ("metric", "expression", "group")


def _reject_unsupported_filter(model: str, q: Quality,
                               field_level: bool = False) -> None:
    """A ``filter:`` on a quality type that cannot honor it (drift compares
    against an UNSCOPED snapshot, sql is the user's own query, audio/image/
    video ride fused decode passes, history judges stored series) would be
    silently ignored — fail at compile time instead of lying at run time.

    The type NAME alone is not enough: a rule can carry a supported type
    yet still not COMPILE (group without ``column``, metric without
    ``metric``, group at FIELD level where the field loop never compiles
    it) — those would pass the name check and then vanish with their
    filter, the very silent-ignore this guard exists to prevent."""
    if not q.filter:
        return
    t = q.type or ""
    if t not in _FILTERABLE_QUALITY:
        raise ValueError(
            f"model {model}: quality rule type {q.type!r} does not support "
            f"'filter:' (supported: {', '.join(_FILTERABLE_QUALITY)}); for a "
            "scoped slice, filter the table upstream or use an expression "
            "rule")
    if t == "group" and (field_level or not q.column):
        raise ValueError(
            f"model {model}: a filtered 'group' rule needs a 'column' and "
            "is model-level only — this rule would not compile, silently "
            "dropping its filter")
    if t == "metric" and not q.metric:
        raise ValueError(
            f"model {model}: a filtered 'metric' rule needs 'metric' — "
            "this rule would not compile, silently dropping its filter")
    if t == "expression" and not q.expression:
        raise ValueError(
            f"model {model}: a filtered 'expression' rule needs "
            "'expression' — this rule would not compile, silently dropping "
            "its filter")


def _in_scope(flt: str) -> Column:
    """The SodaCL scope predicate: a row is in scope iff the filter
    evaluates TRUE — FALSE **or NULL** puts it out of scope. The single
    home of that invariant for every scoped path."""
    return F.coalesce(F.expr(flt).cast("boolean"), F.lit(False))


def scope_to_filter(chk: CompiledCheck, flt: str) -> CompiledCheck:
    """Scope a compiled field-constraint check to rows matching a SQL filter
    (SodaCL per-check ``filter:`` analog — the reference reaches it only via
    hand-written SodaCL). Every field agg check's metric is by construction
    the count of rows matching its violation predicate, so scoping rebuilds
    the aggregate as ``sum(when(filter AND violation, 1))`` — identical to
    evaluating the rule over ``WHERE filter`` (a FALSE or NULL filter puts
    the row out of scope). The scoped predicate flows unchanged into the
    per-row violations pass. unique / reference checks carry the filter to
    their dedicated jobs, which prepend ``df.filter``. Diagnostic extra
    aggregates (unscopable opaque thunks) are dropped rather than reported
    over the wrong row set. Schema checks never scan rows — no-op."""
    if chk.kind in ("schema_present", "schema_type"):
        return chk
    if chk.kind in ("unique", "reference"):
        chk.params["filter"] = flt
    elif chk.kind == "agg" and chk.violation_predicate is not None:
        vp = chk.violation_predicate
        scoped = lambda: _in_scope(flt) & vp()
        chk.violation_predicate = scoped
        chk.agg_expr = lambda: _count_rows(scoped())
        chk.extra_aggs = {}
        # machine-readable scope marker, like the unique/reference branch:
        # engine._reroute_bytes_aliases must NOT substitute the audio pass's
        # UNSCOPED bytes_null count for a scoped required-check's aggregate
        # (the reroute keys off check_type/field/extra_aggs alone), and the
        # dry-run's filter annotation reads the same key
        chk.params["filter"] = flt
    else:
        # defensive: a future unscopable kind must fail loudly, not run
        # unscoped while claiming the filter (the silent-scope lie this
        # module's _reject_unsupported_filter exists to prevent)
        raise ValueError(
            f"check {chk.key} (kind {chk.kind!r}) cannot be scoped by "
            f"'filter:'")
    chk.name = f"{chk.name} [filter: {flt}]"
    chk.implementation = f"{chk.implementation} WHERE ({flt})"
    return chk


def check_composite_key_null(model: str, key_cols: List[str]) -> CompiledCheck:
    """Composite primary key, NULL-component half: every PK column must be
    non-null in every row (model-level ``primaryKey: [a, b]``, DCS v1.1 —
    the reference parses the list but never executes a check on it,
    data_contract_specification.py:197). One sum(when(any IS NULL)) column
    in the shared scan."""
    def pred() -> Column:
        p = F.col(key_cols[0]).isNull()
        for c in key_cols[1:]:
            p = p | F.col(c).isNull()
        return p

    return CompiledCheck(
        key=_key(model, None, "composite_key_null"),
        check_type="composite_key_null",
        category="field",
        name=f"Check that primary key ({', '.join(key_cols)}) has no NULL components",
        model=model,
        kind="agg",
        agg_alias="__pk__null_count",
        agg_expr=lambda: _count_rows(pred()),
        violation_predicate=pred,
        observed_expr=lambda: F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in key_cols]
        ),
        expected="all primary-key components not null",
        params={"require_cols": list(key_cols)},
        implementation=(
            f"sum(when({' OR '.join(c + ' IS NULL' for c in key_cols)}, 1)) = 0"
        ),
    )


def check_composite_key_unique(model: str, key_cols: List[str]) -> CompiledCheck:
    """Composite primary key, uniqueness half: no two rows share the full key
    tuple. Same two-phase salted groupBy job as field_unique, grouped on ALL
    key columns — shuffle volume is bounded by distinct tuples per input
    partition, never row count. Rows with any NULL component are excluded
    (they belong to composite_key_null). Always exact, even under
    unique_mode=approx: a composite PK is a certification, not an estimate."""
    return CompiledCheck(
        key=_key(model, None, "composite_key_unique"),
        check_type="composite_key_unique",
        category="field",
        name=f"Check that primary key ({', '.join(key_cols)}) is unique",
        model=model,
        kind="unique",
        expected="unique",
        params={"key_cols": list(key_cols), "require_cols": list(key_cols)},
        implementation=(
            f"duplicate_count({', '.join(key_cols)}) = 0 :: "
            f"groupBy({', '.join(key_cols)}).count().filter(count>1) — "
            "two-phase partial agg, AQE skew-safe"
        ),
    )


def check_field_reference(model: str, fname: str, references: str) -> CompiledCheck:
    """Referential integrity (declared but TODO in the reference,
    data_contract_checks.py:62) — implemented here as an anti-join.

    ``references`` format: ``parent_model.parent_field``.
    """
    parent_model, _, parent_field = references.partition(".")
    return CompiledCheck(
        key=_key(model, fname, "field_reference"),
        check_type="field_reference",
        category="field",
        name=f"Check that field {fname} references {references}",
        model=model,
        field=fname,
        kind="reference",
        params={"parent_model": parent_model, "parent_field": parent_field},
        observed_expr=lambda: F.col(fname).cast("string"),
        expected=f"exists in {references}",
        implementation=(
            f"df.join(parent.select({parent_field}), {fname}=={parent_field}, 'left_anti')"
            " — broadcast when parent is small, else sort-merge anti-join"
        ),
    )


# ---------------------------------------------------------------------------
# Field constraints (parity: data_contract_checks.py:31-63,104-447). ONE table
# says which constraints a field declares and which values each rejects; it
# compiles the scalar checks of top-level and dotted nested fields, the
# element checks of array ``items`` and map ``keys``/``values``, and
# repair's rejection predicates (repair._field_fix).
#
# Element checks EXCEED the reference — its native engine never descends
# into collections; element constraints reach only its per-row jsonschema
# engine via the ``items`` property (export/jsonschema_converter.py:84-102).
# Here they are evaluated vectorized with higher-order functions
# (F.exists / F.filter) so they join the SAME shared multi-aggregate scan:
# no explode, no shuffle, no Python. Their metric counts ROWS containing
# >=1 violating element (the jsonschema engine's row-keyed error model,
# check_jsonschema.py:21-48), so violation rows line up 1:1 with it.
# ---------------------------------------------------------------------------

def _non_null(rejects: Callable[[Column, Any], Column]) -> Callable[[Column, Any], Column]:
    # invalid_count counts only non-missing violating values (soda
    # semantics): NULL is the required constraint's business
    return lambda c, v: c.isNotNull() & rejects(c, v)


@dataclass(frozen=True)
class FieldConstraint:
    """One table row. ``attr`` is the ``Field`` attribute declaring the
    constraint; ``rejects(value, bound)`` is True for a violating value.
    The string templates fill ``{f}`` (field), ``{v}`` (bound), ``{fmt}``
    (format name) and ``{tag}``; ``tag(field)`` keeps key and alias apart
    when one field declares two rows of the same ``check_type``. Every
    spelling is a history watch key or a results-table row — byte-stable."""

    attr: str
    rejects: Callable[[Column, Any], Column]
    # scalar spelling
    check_type: str
    alias: str
    name: str
    expected: str
    implementation: str
    # element spelling
    element_type: str
    label: str
    element_expected: str
    observed: Callable[[Column], Column] = lambda c: c.cast("string")
    extra: Optional[Tuple[str, Callable[[Column], Column]]] = None
    tag: Callable[[Field], str] = lambda f_: ""

    def bound(self, f_: Field) -> Any:
        """The declared bound, or None when ``f_`` does not declare this."""
        v = getattr(f_, self.attr)
        if self.attr == "format":
            return FORMAT_REGEX.get(v.lower(), NO_REGEX) if v else None
        if isinstance(v, (bool, str, list)) and not v:
            return None
        return v


_OK_OP = {"<": ">=", ">": "<="}


def _bound_row(attr: str, word: str, op: str, element_type: str,
               tag: Callable[[Field], str] = lambda f_: "") -> FieldConstraint:
    """An inclusive bound, or the bound half of an exclusive one; ``op`` is
    the comparison a violating value makes with it."""
    rejects = ((lambda c, v: c < F.lit(v)) if op == "<"
               else (lambda c, v: c > F.lit(v)))
    return FieldConstraint(
        attr, _non_null(rejects), f"field_{word}", f"{{f}}__{word}{{tag}}_invalid",
        f"Check that field {{f}} has a {word} of {{v}}", f"{_OK_OP[op]} {{v}}",
        f"invalid_count({{f}} {op} {{v}}) = 0",
        element_type, f"{word} {{v}}", f"element {_OK_OP[op]} {{v}}",
        extra=(f"{{f}}__{word[:3]}", F.min if op == "<" else F.max), tag=tag)


def _not_equal_row(attr: str, side: str) -> FieldConstraint:
    # exclusiveMinimum/Maximum emit this besides the bound check (parity:
    # data_contract_checks.py:48-53,354-383); the "_min"/"_max" tag keeps
    # both exclusive bounds' twins apart in the shared scan, which dedups
    # aggregates by alias
    return FieldConstraint(
        attr, _non_null(lambda c, v: c == F.lit(v)), "field_not_equal",
        "{f}__not_equal{tag}_invalid", "Check that field {f} is not equal to {v}",
        "!= {v}", "invalid_count({f} == {v}) = 0",
        f"not_equal_{side}imum", "not equal {v}", "element != {v}",
        tag=lambda f_: f"_{side}")


def _length_row(attr: str, word: str, op: str) -> FieldConstraint:
    rejects = ((lambda c, n: F.length(c) < n) if op == "<"
               else (lambda c, n: F.length(c) > n))
    snake = f"{word}_length"
    return FieldConstraint(
        attr, _non_null(rejects), f"field_{snake}", f"{{f}}__{snake}_invalid",
        f"Check that field {{f}} has a {word} length of {{v}}",
        f"length {_OK_OP[op]} {{v}}", f"invalid_count(length({{f}}) {op} {{v}}) = 0",
        snake, f"{word} length {{v}}", f"element length {_OK_OP[op]} {{v}}",
        observed=lambda c: F.length(c).cast("string"))


def _regex_row(attr: str, check_type: str, element_type: str, label: str,
               element_expected: str) -> FieldConstraint:
    # rlike is unanchored regex-search, matching Soda semantics (SURVEY.md
    # §7 hard parts (b)); contract patterns should anchor explicitly
    return FieldConstraint(
        attr, _non_null(lambda c, p: ~c.rlike(p)), check_type,
        f"{{f}}__{check_type}_invalid", "Check that field {f} matches {v}",
        "matches {v}", "invalid_count(not rlike({f}, '{v}')) = 0",
        element_type, label, element_expected)


#: Scalar checks are emitted in this order. An exclusive bound is two rows:
#: the bound itself, tagged "_excl" when the inclusive bound is declared too,
#: and its not-equal twin.
FIELD_CONSTRAINTS: List[FieldConstraint] = [
    FieldConstraint(
        "required", lambda c, _: c.isNull(), "field_required", "{f}__missing_count",
        "Check that required field {f} has no null values", "not null",
        "missing_count({f}) = 0 :: sum(when({f} is null,1))",
        "required", "no null elements", "element not null",
        observed=lambda c: F.lit(None).cast("string")),
    _length_row("minLength", "min", "<"),
    _length_row("maxLength", "max", ">"),
    _bound_row("minimum", "minimum", "<", "minimum"),
    _bound_row("maximum", "maximum", ">", "maximum"),
    _bound_row("exclusiveMinimum", "minimum", "<", "exclusive_minimum",
               lambda f_: "_excl" if f_.minimum is not None else ""),
    _not_equal_row("exclusiveMinimum", "min"),
    _bound_row("exclusiveMaximum", "maximum", ">", "exclusive_maximum",
               lambda f_: "_excl" if f_.maximum is not None else ""),
    _not_equal_row("exclusiveMaximum", "max"),
    FieldConstraint(
        "enum", _non_null(lambda c, e: ~c.isin(e)), "field_enum", "{f}__enum_invalid",
        "Check that field {f} only contains enum values", "in {v}",
        "invalid_count({f} not in {v}) = 0", "enum", "enum {v}", "element in {v}"),
    _regex_row("pattern", "field_regex", "regex", "pattern {v}", "element matches {v}"),
    _regex_row("format", "field_format_{fmt}", "format_{fmt}", "format {fmt}",
               "element is {fmt}"),
]


def declared_constraints(f_: Field) -> List[Tuple[FieldConstraint, Any]]:
    """(row, bound) of every constraint ``f_`` declares, in table order."""
    return [(con, v) for con in FIELD_CONSTRAINTS
            if (v := con.bound(f_)) is not None]


def _words(con: FieldConstraint, f_: Field, fname: str, v: Any) -> Dict[str, Any]:
    return {"f": fname, "v": v, "fmt": (f_.format or "").lower(), "tag": con.tag(f_)}


def _scalar_check(model: str, fname: str, f_: Field, con: FieldConstraint,
                  v: Any) -> CompiledCheck:
    w = _words(con, f_, fname, v)
    check_type = con.check_type.format(**w)
    if v is NO_REGEX:
        return _format_error(model, fname, fname, check_type, w["fmt"])
    vp = lambda: con.rejects(F.col(fname), v)
    extra = con.extra
    return CompiledCheck(
        key=_key(model, fname, check_type + w["tag"]),
        check_type=check_type,
        category="field",
        name=con.name.format(**w),
        model=model,
        field=fname,
        agg_alias=con.alias.format(**w),
        agg_expr=lambda: _count_rows(vp()),
        extra_aggs={extra[0].format(**w): lambda: extra[1](F.col(fname))} if extra else {},
        violation_predicate=vp,
        observed_expr=lambda: con.observed(F.col(fname)),
        expected=con.expected.format(**w),
        implementation=con.implementation.format(**w),
    )


def _format_error(model: str, fname: str, dotted: str, check_type: str,
                  fmt: str) -> CompiledCheck:
    """A format with no regex compiles to a driver-side check that records
    ``error`` naming the format, the way an unmappable type errors through
    ``field_type`` — never to no check, which would pass any value."""
    reason = (f"format {fmt!r} has no check (supported: "
              f"{', '.join(FORMAT_REGEX)})")
    return CompiledCheck(
        key=_key(model, dotted, check_type),
        check_type=check_type,
        category="field",
        name=f"Check that field {dotted} has format {fmt}",
        model=model,
        field=fname,
        kind="schema_type",
        params={"type_error": reason},
        expected=f"<{reason}>",
        implementation=reason,
    )


def field_constraint_checks(model: str, fname: str, f_: Field) -> List[CompiledCheck]:
    """The scalar checks of every constraint ``f_`` declares."""
    return [_scalar_check(model, fname, f_, con, v)
            for con, v in declared_constraints(f_)]


def _element_check(model: str, fname: str, where: str, f_: Field, path: str,
                   con: FieldConstraint, v: Any) -> CompiledCheck:
    if where == "keys":
        arr = lambda: F.map_keys(F.col(fname))
    elif where == "values":
        arr = lambda: F.map_values(F.col(fname))
    else:
        arr = lambda: F.col(fname)

    # exactly ONE positional parameter: pyspark derives the higher-order
    # function's arity from the Python signature
    def pred(x: Column) -> Column:
        for part in path.split("."):
            if part:
                x = x[part]
        return con.rejects(x, v)

    w = _words(con, f_, fname, v)
    element_type, label = con.element_type.format(**w), con.label.format(**w)
    row_pred = lambda: F.col(fname).isNotNull() & F.exists(arr(), pred)
    dotted = f"{fname}[{where}]" + (f".{path}" if path else "")
    check_type = f"{where}_{element_type}"
    if v is NO_REGEX:
        return _format_error(model, fname, dotted, check_type, w["fmt"])
    return CompiledCheck(
        key=_key(model, dotted, check_type),
        check_type=check_type,
        category="field",
        name=f"Check that {where} of field {fname} satisfy {label}"
        + (f" at {path}" if path else ""),
        model=model,
        field=fname,
        agg_alias=f"{dotted}__{element_type}_invalid",
        agg_expr=lambda: _count_rows(row_pred()),
        violation_predicate=row_pred,
        observed_expr=lambda: F.filter(arr(), pred).cast("string"),
        expected=con.element_expected.format(**w),
        implementation=(
            f"rows_with_invalid_element = sum(when(exists({where}({fname})"
            + (f".{path}" if path else "")
            + f", element violates '{label}'), 1)) :: higher-order fn, no explode"
        ),
    )


def check_collection_elements(model: str, fname: str, where: str, f_: Field,
                              path: str = "") -> List[CompiledCheck]:
    """The element checks of an array/map column: every constraint the
    element field ``f_`` declares, and for a struct element its children's
    at a dotted ``path``.

    ``where`` selects the element stream: ``items`` (the array itself),
    ``keys`` / ``values`` (map projected via map_keys/map_values — both are
    metadata-only projections, no data movement).
    """
    out = [_element_check(model, fname, where, f_, path, con, v)
           for con, v in declared_constraints(f_)]
    if (f_.type or "").lower() in ("object", "record", "struct"):
        for child_name, child in f_.fields.items():
            out += check_collection_elements(
                model, fname, where, child, f"{path}.{child_name}" if path else child_name)
    return out


# ---------------------------------------------------------------------------
# Quality checks (parity: data_contract_checks.py:450-544)
# ---------------------------------------------------------------------------

def to_threshold_evaluator(q: Quality, name: str) -> Tuple[Evaluator, str]:
    """Map the 8 mustBe* forms to a comparison (parity: to_sodacl_threshold :517-544)."""

    def mk(cmp: Callable[[float], bool], desc: str) -> Tuple[Evaluator, str]:
        def ev(metric: Optional[float], _diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
            if metric is None:
                return ResultEnum.error, f"{name}: query returned no scalar"
            if cmp(metric):
                return ResultEnum.passed, None
            return ResultEnum.failed, f"{name}: value {metric} violates '{desc}'"
        return ev, desc

    if q.mustBe is not None:
        return mk(lambda m: m == q.mustBe, f"= {q.mustBe}")
    if q.mustNotBe is not None:
        return mk(lambda m: m != q.mustNotBe, f"!= {q.mustNotBe}")
    if q.mustBeGreaterThan is not None:
        return mk(lambda m: m > q.mustBeGreaterThan, f"> {q.mustBeGreaterThan}")
    if q.mustBeGreaterThanOrEqualTo is not None:
        return mk(lambda m: m >= q.mustBeGreaterThanOrEqualTo, f">= {q.mustBeGreaterThanOrEqualTo}")
    if q.mustBeLessThan is not None:
        return mk(lambda m: m < q.mustBeLessThan, f"< {q.mustBeLessThan}")
    if q.mustBeLessThanOrEqualTo is not None:
        return mk(lambda m: m <= q.mustBeLessThanOrEqualTo, f"<= {q.mustBeLessThanOrEqualTo}")
    if q.mustBeBetween is not None:
        lo, hi = q.mustBeBetween
        return mk(lambda m: lo <= m <= hi, f"between [{lo}, {hi}]")
    if q.mustNotBeBetween is not None:
        lo, hi = q.mustNotBeBetween
        return mk(lambda m: not (lo <= m <= hi), f"not between [{lo}, {hi}]")
    return mk(lambda m: True, "no threshold (informational)")


def prepare_query(q: Quality, model: str, fname: Optional[str] = None) -> Optional[str]:
    """Substitute {model}/{table}/{field}/{column} (parity: prepare_query :499-514)."""
    if not q.query:
        return None
    query = q.query.replace("{model}", model).replace("{table}", model)
    if fname:
        query = query.replace("{field}", fname).replace("{column}", fname)
    return query


def check_quality_sql(model: str, q: Quality, idx: int, fname: Optional[str] = None) -> CompiledCheck:
    name = q.description or f"Quality check {idx}"
    evaluator, desc = to_threshold_evaluator(q, name)
    suffix = f"quality_sql_{idx}"
    return CompiledCheck(
        key=_key(model, fname, suffix),
        check_type="quality_sql",
        category="quality",
        name=name,
        model=model,
        field=fname,
        kind="sql",
        params={"query": prepare_query(q, model, fname), "threshold": desc},
        evaluate=evaluator,
        expected=desc,
        implementation=f"spark.sql({prepare_query(q, model, fname)!r}).first()[0] {desc}",
    )


_THRESHOLD_FIELDS = (
    "mustBe", "mustNotBe", "mustBeGreaterThan", "mustBeGreaterThanOrEqualTo",
    "mustBeLessThan", "mustBeLessThanOrEqualTo", "mustBeBetween", "mustNotBeBetween",
)


def has_threshold(q: Quality) -> bool:
    return any(getattr(q, f) is not None for f in _THRESHOLD_FIELDS)


# Aggregate-metric quality checks (``type: metric``) — Soda-style metric checks
# (avg/min/max/... + threshold) that the reference never compiles natively (its
# SodaCL passthrough executes row_count only, data_contract_checks.py:716-738).
# Every metric is DECOMPOSABLE into sum/count/min/max partials so per-partition
# metric rows merge losslessly on the driver (partitioned == flat, and the
# checkpoint manifest stays mergeable); the final value is produced by a
# driver-side finisher over the merged row. All partials join the shared scan.
# Percentiles (pNN) default to percentile_approx (GK); a GK sketch result is
# NOT driver-mergeable, so its alias carries the "global" merge op and the
# engine recomputes the global value in a dedicated column-pruned pass when
# running partitioned (per-partition values stay exact per partition).
# ValidationConfig(pctl_mode="sketch") swaps in mergeable t-digests
# (dcspark/tdigest.py — the north star's "approx quantiles via t-digest"):
# per-partition digests merge to the global quantile on the driver and
# persist through the checkpoint manifest, so resumes never rescan.
_METRIC_NAMES = ("count", "sum", "avg", "min", "max", "stddev")
_PCTL_RE = re.compile(r"^p(\d{1,2}(?:\.\d+)?)$")


def check_quality_metric(model: str, q: Quality, idx: int, fname: Optional[str] = None) -> CompiledCheck:
    col = q.column or fname
    metric = (q.metric or "").lower()
    name = q.description or f"Metric check {metric}({col})"
    evaluator, desc = to_threshold_evaluator(q, name)
    base = f"__metric__{model}__{fname or 'model'}_{idx}__{col}"

    pctl_m = _PCTL_RE.match(metric)
    if (metric not in _METRIC_NAMES and not pctl_m) or not col:
        def bad(_m: Optional[float], _d: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
            return ResultEnum.warning, (
                f"{name}: unsupported metric '{q.metric}' "
                f"(supported: {', '.join(_METRIC_NAMES)}, pNN)"
            )
        return CompiledCheck(
            key=_key(model, fname, f"quality_metric_{idx}"),
            check_type="quality_metric", category="quality", name=name,
            model=model, field=fname, kind="agg", evaluate=bad,
            implementation=f"unsupported metric {q.metric!r}",
        )

    # per-check row scope (SodaCL filter analog): out-of-scope rows become
    # NULL in the source expression, which every aggregate here (count, sum,
    # min, max, percentile_approx, the avg/stddev partials) ignores — exactly
    # the semantics of aggregating over `WHERE filter`, with zero extra scan
    src: Callable[[], Column]
    if q.filter:
        flt = q.filter
        src = lambda: F.when(F.expr(flt).cast("boolean"), F.col(col))
    else:
        src = lambda: F.col(col)

    agg_alias: str
    extra: Dict[str, Callable[[], Column]] = {}
    if pctl_m:
        frac = float(pctl_m.group(1)) / 100.0
        # rank error <= n/accuracy (GK sketch): exact whenever n <= accuracy,
        # contract-tunable to trade executor memory for precision at scale
        acc = int(q.accuracy or 10000)
        agg_alias = f"{base}__pctl"      # __pctl suffix -> "global" merge op
        agg_expr = lambda: F.percentile_approx(src(), F.lit(frac), F.lit(acc))
        finisher = None
    elif metric == "count":
        agg_alias = f"{base}__cnt"
        agg_expr = lambda: F.count(src())
        finisher = lambda row: _f(row.get(agg_alias))
    elif metric == "sum":
        agg_alias = f"{base}__sum"
        agg_expr = lambda: F.sum(src())
        finisher = lambda row: _f(row.get(agg_alias))
    elif metric == "min":
        agg_alias = f"{base}__min"          # __min suffix -> min merge op
        agg_expr = lambda: F.min(src())
        finisher = lambda row: _f(row.get(agg_alias))
    elif metric == "max":
        agg_alias = f"{base}__max"          # __max suffix -> max merge op
        agg_expr = lambda: F.max(src())
        finisher = lambda row: _f(row.get(agg_alias))
    elif metric == "avg":
        agg_alias = f"{base}__sum"
        agg_expr = lambda: F.sum(src())
        extra = {f"{base}__cnt": lambda: F.count(src())}
        def finisher(row: Dict[str, Any]) -> Optional[float]:
            s, n = row.get(f"{base}__sum"), row.get(f"{base}__cnt")
            return None if not n else float(s) / float(n)
    else:  # stddev (sample, matching Spark stddev / DuckDB stddev defaults)
        agg_alias = f"{base}__sum"
        agg_expr = lambda: F.sum(src())
        extra = {
            f"{base}__sumsq": lambda: F.sum(src() * src()),
            f"{base}__cnt": lambda: F.count(src()),
        }
        def finisher(row: Dict[str, Any]) -> Optional[float]:
            s, ss, n = (row.get(f"{base}__sum"), row.get(f"{base}__sumsq"),
                        row.get(f"{base}__cnt"))
            if not n or n < 2:
                return None
            var = (float(ss) - float(s) * float(s) / float(n)) / (float(n) - 1)
            return max(var, 0.0) ** 0.5

    return CompiledCheck(
        key=_key(model, fname, f"quality_metric_{idx}"),
        check_type="quality_metric",
        category="quality",
        name=name,
        model=model,
        field=fname,
        kind="agg",
        agg_alias=agg_alias,
        agg_expr=agg_expr,
        extra_aggs=extra,
        params={"finisher": finisher, "metric": metric, "column": col,
                "threshold": desc, "filter": q.filter},
        evaluate=evaluator,
        expected=desc,
        implementation=(
            f"{metric}({col}) {desc} :: decomposable partials "
            f"(sum/count/min/max) in the shared scan + driver finisher"
            + (f" WHERE ({q.filter})" if q.filter else "")
        ),
    )


def _f(v: Any) -> Optional[float]:
    return None if v is None else float(v)


def check_quality_expression(model: str, q: Quality, idx: int, fname: Optional[str] = None) -> CompiledCheck:
    """Row-level SQL-expression invariant (``type: expression``) — cross-column
    CHECK-constraint semantics: a row violates when the expression evaluates to
    FALSE; NULL passes (SQL CHECK parity). Compiles to one invalid-count column
    in the shared scan. The metric defaults to must-be-zero; the eight mustBe*
    forms apply to the violating-row count when given."""
    expr_s = q.expression or "true"
    name = q.description or f"Expression check: {expr_s}"
    if q.filter:
        # scoped invariant: only rows matching the filter can violate (a
        # FALSE or NULL filter puts the row out of scope — SodaCL semantics)
        flt = q.filter
        pred = lambda: (
            _in_scope(flt)
            & ~F.coalesce(F.expr(expr_s).cast("boolean"), F.lit(True))
        )
        name = f"{name} [filter: {flt}]"
    else:
        pred = lambda: ~F.coalesce(F.expr(expr_s).cast("boolean"), F.lit(True))
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    impl = f"invalid_count(NOT coalesce(({expr_s}), true)) — SQL CHECK null semantics"
    if q.filter:
        impl += f" WHERE ({q.filter})"
    out = CompiledCheck(
        key=_key(model, fname, f"quality_expression_{idx}"),
        check_type="quality_expression",
        category="quality",
        name=name,
        model=model,
        field=fname,
        kind="agg",
        agg_alias=f"__expr__{model}__{fname or 'model'}_{idx}__invalid",
        agg_expr=lambda: _count_rows(pred()),
        violation_predicate=pred,
        observed_expr=lambda: F.lit(None).cast("string"),
        expected=f"satisfies: {expr_s}",
        evaluate=evaluator,
        implementation=impl,
    )
    if q.filter:
        # machine-readable, matching the metric/group twins — the dry-run
        # annotation and engine filter validation key off params['filter']
        out.params["filter"] = q.filter
    return out


def to_threshold_column(q: Quality) -> Tuple[Callable[[Column], Column], str]:
    """The 8 mustBe* forms as a Spark pass-predicate builder (Column -> Column),
    so group thresholds evaluate DISTRIBUTED — violating groups are counted and
    capped executor-side, never collected wholesale to the driver."""
    if q.mustBe is not None:
        return (lambda c: c == F.lit(q.mustBe)), f"= {q.mustBe}"
    if q.mustNotBe is not None:
        return (lambda c: c != F.lit(q.mustNotBe)), f"!= {q.mustNotBe}"
    if q.mustBeGreaterThan is not None:
        return (lambda c: c > F.lit(q.mustBeGreaterThan)), f"> {q.mustBeGreaterThan}"
    if q.mustBeGreaterThanOrEqualTo is not None:
        return (lambda c: c >= F.lit(q.mustBeGreaterThanOrEqualTo)), f">= {q.mustBeGreaterThanOrEqualTo}"
    if q.mustBeLessThan is not None:
        return (lambda c: c < F.lit(q.mustBeLessThan)), f"< {q.mustBeLessThan}"
    if q.mustBeLessThanOrEqualTo is not None:
        return (lambda c: c <= F.lit(q.mustBeLessThanOrEqualTo)), f"<= {q.mustBeLessThanOrEqualTo}"
    if q.mustBeBetween is not None:
        lo, hi = q.mustBeBetween
        return (lambda c: (c >= F.lit(lo)) & (c <= F.lit(hi))), f"between [{lo}, {hi}]"
    if q.mustNotBeBetween is not None:
        lo, hi = q.mustNotBeBetween
        return (lambda c: ~((c >= F.lit(lo)) & (c <= F.lit(hi)))), f"not between [{lo}, {hi}]"
    return (lambda c: F.lit(True)), "no threshold (informational)"


_GROUP_METRICS = ("count", "sum", "avg", "min", "max")


def check_quality_group(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Per-group aggregate thresholds (``type: group``) — Soda's group-by
    checks analog, absent from the reference's native engine. One groupBy-key
    job per check: shuffles only (key, decomposable partials) with map-side
    combine, threshold applied as a Spark filter, violating groups counted
    distributed and collected capped. A group whose aggregate is NULL counts
    as violating (it cannot satisfy a numeric threshold)."""
    gcol, metric, over = q.column, (q.metric or "").lower(), q.over
    pass_pred, desc = to_threshold_column(q)
    name = q.description or f"Group check {metric}({over or '*'}) by {gcol} {desc}"

    if metric == "count":
        agg_thunk = lambda: F.count(F.lit(1))
    elif metric in _GROUP_METRICS and over:
        agg_thunk = lambda: getattr(F, metric)(F.col(over))
    else:
        agg_thunk = None
    return CompiledCheck(
        key=_key(model, None, f"quality_group_{idx}"),
        check_type="quality_group",
        category="quality",
        name=name,
        model=model,
        kind="group",
        params={
            "group_col": gcol, "metric": metric, "over": over,
            "agg_expr": agg_thunk, "pass_pred": pass_pred, "threshold": desc,
            "filter": q.filter,
        },
        expected=f"{metric}({over or '*'}) {desc} per {gcol}",
        implementation=(
            f"groupBy({gcol}).agg({metric}({over or '*'})).filter(NOT ({desc}))"
            " — map-side combined partials, AQE skew-safe, capped collect"
            + (f" WHERE ({q.filter})" if q.filter else "")
        ),
    )


def check_quality_history(
    model: str, q: Quality, idx: int, fname: Optional[str] = None
) -> CompiledCheck:
    """Change-over-time / anomaly checks on the engine's own metric history
    (``type: history``). SodaCL has both forms (``change avg last 7 for
    row_count < 10%`` and ``anomaly score``), but the reference CLI cannot run
    them — they need Soda Cloud's stored series. Here the series source is the
    results table this engine writes (engine.RESULTS_DDL via
    ValidationConfig.history_path), so the loop closes without a SaaS.

    ``watch`` names the tracked metric: a full check key
    (``clips__clip_id__field_unique``) or a check_type shorthand resolved
    against this rule's model/field (``row_count``, ``field_required``, ...).
    ``method: change`` judges percent change of the current run's metric vs an
    ``agg`` (avg default) of the last ``window`` runs; ``method: anomaly``
    judges the robust z-score 0.6745*(x-median)/MAD over the same frame
    (median/MAD so one past outlier can't widen the band). Thresholds: the
    eight mustBe* forms on the statistic itself, or ``threshold: t`` as the
    symmetric band [-t, t]. Runs with fewer than ``min_history`` prior points
    pass with an explanatory reason — a brand-new table has no past to drift
    from (soda's anomaly warm-up behaves the same way)."""
    watch = q.watch or "row_count"
    watch_key = watch if "__" in watch else _key(model, fname, watch)
    method = (q.method or "change").lower()
    if method not in ("change", "anomaly"):
        raise ValueError(f"history method must be change|anomaly, got {method!r}")
    window = int(q.window or 7)
    agg = (q.agg or "avg").lower()
    min_history = int(
        q.min_history if q.min_history is not None else (3 if method == "anomaly" else 1)
    )
    stat_name = "pct_change" if method == "change" else "robust_z"
    name = q.description or (
        f"{stat_name} of {watch_key} vs {agg} of last {window} runs"
    )
    if has_threshold(q):
        base_ev, desc = to_threshold_evaluator(q, name)
    else:
        t = float(q.threshold) if q.threshold is not None else (
            10.0 if method == "change" else 3.5
        )
        band = Quality(mustBeBetween=[-t, t])
        base_ev, desc = to_threshold_evaluator(band, name)

    def ev(metric: Optional[float], diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        n = int(diag.get("n_history", 0))
        if n < min_history:
            return ResultEnum.passed, (
                f"{name}: insufficient history (n={n} < {min_history}), not judged"
            )
        if metric is None:
            return ResultEnum.error, (
                f"{name}: statistic undefined ({diag.get('undefined', 'no data')})"
            )
        return base_ev(metric, diag)

    return CompiledCheck(
        key=_key(model, fname, f"quality_history_{idx}"),
        check_type="quality_history",
        category="quality",
        name=name,
        model=model,
        field=fname,
        kind="history",
        params={
            "watch_key": watch_key, "method": method, "window": window,
            "agg": agg, "min_history": min_history, "threshold": desc,
        },
        evaluate=ev,
        expected=f"{stat_name} {desc}",
        implementation=(
            f"history.collect_series(results_table, {watch_key!r}, window={window})"
            f" -> point_stats(method={method!r}, agg={agg!r}) {desc}"
        ),
    )


def check_drift(model: str, q: Quality, idx: int) -> CompiledCheck:
    method = (q.method or "ks").lower()
    threshold = q.threshold if q.threshold is not None else (0.05 if method == "ks" else 0.2)
    name = q.description or f"Distribution drift ({method}) on {q.column}"

    def ev(metric: Optional[float], _diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        if metric is None:
            return ResultEnum.error, f"{name}: statistic not computed"
        if metric <= threshold:
            return ResultEnum.passed, None
        return ResultEnum.failed, f"{name}: {method.upper()} statistic {metric:.4f} > {threshold}"

    return CompiledCheck(
        key=_key(model, q.column, f"drift_{method}"),
        check_type=f"drift_{method}",
        category="quality",
        name=name,
        model=model,
        field=q.column,
        kind="drift",
        params={"method": method, "column": q.column, "threshold": threshold},
        evaluate=ev,
        expected=f"{method} <= {threshold}",
        implementation=(
            f"{method}: single agg pass vs ref_stats snapshot "
            f"(ks: CDF at ref quantile grid; psi: F.when bucket + groupBy count)"
        ),
    )


def check_audio(model: str, q: Quality, idx: int) -> CompiledCheck:
    snr = q.snr_db if q.snr_db is not None else 30.0
    name = q.description or "Audio decode conformance"
    return CompiledCheck(
        key=_key(model, None, "audio_decode_conformance"),
        check_type="audio_decode_conformance",
        category="audio",
        name=name,
        model=model,
        kind="audio",
        params={"snr_db": snr, "invariant": q.invariant or "decode-conformance"},
        expected=f"decoded header matches declared sr_hz/dur_ms/codec; PCM SNR >= {snr} dB",
        implementation=(
            "mapInArrow Arrow-batch WAV/RIFF decode (numpy, no per-row Python): "
            "header sr/duration/codec vs columns + PCM allclose at SNR floor"
        ),
    )


def check_audio_near_dup(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Near-duplicate audio content check (``type: audio, invariant:
    content-uniqueness``): the metric is the number of clip pairs whose
    acoustic fingerprints (dcspark/audiofp.py band-occupancy hashes) overlap
    at ``threshold`` or above — gain-scaled or lightly-noised re-encodes of
    the same recording count as duplicates, unlike the exact byte/key
    uniqueness check. Default pass condition is zero pairs; the eight
    mustBe* forms apply to the pair count when given.

    Scale design: the fingerprints ride the engine's one audio decode pass
    (fp rows in the persisted compact frame, next to the decode-conformance
    and signal-quality rows), so the payload is decoded once; pairs come
    from ``audiofp.audio_fingerprint_near_dup``, the exact-hash key of the
    shared blocked matcher (dcspark/hotkey.py): distinct (clip_id, hash)
    rows, a hot-hash bucket cap, one self-join, score = shared hashes / the
    smaller clip's count."""
    name = q.description or "Audio content uniqueness (fingerprint near-dup)"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    return CompiledCheck(
        # idx keeps two content-uniqueness rules on one model (different
        # thresholds or bytes columns) from colliding on key, mirroring
        # audio_signal_quality_{idx}
        key=_key(model, None, f"audio_content_uniqueness_{idx}"),
        check_type="audio_content_uniqueness",
        category="audio",
        name=name,
        model=model,
        kind="audio_fp",
        params={
            "score_threshold": q.threshold if q.threshold is not None else 0.35,
            "bytes_col": q.column or "bytes",
            "evaluator": evaluator,
        },
        expected=(
            f"no clip pairs with fingerprint overlap >= "
            f"{q.threshold if q.threshold is not None else 0.35}"
        ),
        implementation=(
            "mapInArrow decode+FFT -> (clip_id, hash) -> bucketed hash "
            "equi-join (max_bucket skew guard) -> pair count"
        ),
    )


def check_image_decode(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Image decode conformance (``type: image, invariant:
    decode-conformance``): every payload in ``column`` (default "bytes") must
    decode through the sniffing image decoder (BMP/netpbm/PNG/baseline JPEG
    real, WebP a per-row error); with ``width_column``/``height_column``
    given, decoded dimensions must equal those declared columns — the image
    analog of the audio header-conformance invariant (a payload lying about
    its size is invisible to column checks). Metric = violating rows; the
    eight mustBe* forms apply when given, else must be zero.

    Engine extension (the reference has no image path — SURVEY.md §2.5).
    Execution: one mapInArrow decode pass emitting (id, dims, error); the
    declared-dims comparison joins back on the primary key (small rows only —
    payload bytes never shuffle)."""
    if (q.invariant or "decode-conformance") != "decode-conformance":
        # fail at compile time: a typo'd or future invariant must not
        # silently degrade into the decode check and report green
        raise ValueError(
            f"unknown image invariant {q.invariant!r}; supported: "
            "decode-conformance, signal-quality, content-uniqueness, "
            "luminance-drift")
    name = q.description or "Image decode conformance"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    extra = getattr(q, "__pydantic_extra__", None) or {}
    width_col = extra.get("width_column")
    height_col = extra.get("height_column")
    dim_cols = [c for c in (width_col, height_col) if c]
    dims = (f" with decoded dims == ({', '.join(dim_cols)})" if dim_cols else "")
    return CompiledCheck(
        key=_key(model, None, f"image_decode_conformance_{idx}"),
        check_type="image_decode_conformance",
        category="image",
        name=name,
        model=model,
        kind="image",
        params={
            "bytes_col": q.column or "bytes",
            "width_col": width_col,
            "height_col": height_col,
            "evaluator": evaluator,
        },
        expected=f"all image payloads decode{dims}",
        implementation=(
            "mapInArrow sniffing decode -> (id, width, height, decode_error) "
            "-> join declared dims on pk -> violating-row count"
        ),
    )


def check_image_quality(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Per-image decoded-raster bounds (``type: image, invariant:
    signal-quality``): the metric is the number of images whose decoded
    feature (multimodal.IMAGE_FEATURE_FNS) falls outside [minimum, maximum]
    — e.g. an exposure floor (``column: brightness, minimum: 10``), a
    blown-pixel ceiling (``column: clip_ratio, maximum: 0.2``), a blur floor
    (``column: sharpness, minimum: 50``), or a solid-color screen
    (``column: entropy, minimum: 1``). Catches black/white frames, flat
    placeholders, and defocus that header columns cannot see. Default pass
    condition is zero out-of-range images; the eight mustBe* forms apply to
    the count when given. A payload that fails to decode belongs to
    decode-conformance and is never double-counted here.

    Scale design: evaluated from the engine's ONE fused image decode pass
    (imagefp.image_compact) — all image rules on a model share that single
    payload scan, mirroring the audio family's single-decode invariant."""
    from .multimodal import IMAGE_FEATURE_FNS

    feature = q.column or "brightness"
    if feature not in IMAGE_FEATURE_FNS:
        raise ValueError(
            f"unknown image signal-quality feature {feature!r}; "
            f"known: {sorted(IMAGE_FEATURE_FNS)}")
    lo, hi = q.minimum, q.maximum
    if lo is None and hi is None:
        raise ValueError(
            "image signal-quality rule needs 'minimum' and/or 'maximum' "
            "for the feature")
    bounds = " and ".join(
        s for s in (
            f"{feature} >= {lo}" if lo is not None else None,
            f"{feature} <= {hi}" if hi is not None else None,
        ) if s)
    name = q.description or f"Image signal quality ({bounds})"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    extra = getattr(q, "__pydantic_extra__", None) or {}
    return CompiledCheck(
        # idx keeps two bounds on the same feature (floor AND ceiling as
        # separate rules) distinct in metrics and violations
        key=_key(model, feature, f"image_signal_quality_{idx}"),
        check_type="image_signal_quality",
        category="image",
        name=name,
        model=model,
        kind="image_quality",
        params={
            "feature": feature,
            "minimum": lo,
            "maximum": hi,
            # column names the FEATURE (mirroring audio signal-quality);
            # the payload column comes from an optional bytes_column key
            "bytes_col": extra.get("bytes_column", "bytes"),
            "evaluator": evaluator,
        },
        expected=f"decoded {bounds} for every image",
        implementation=(
            "per-image feature bound evaluated from the single fused "
            "mapInArrow decode pass (imagefp.image_compact f_" + feature +
            " column)"
        ),
    )


def check_image_near_dup(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Near-duplicate image content check (``type: image, invariant:
    content-uniqueness``): the metric is the number of image pairs whose
    64-bit dHash fingerprints are within ``threshold`` Hamming bits (default
    3) — re-encoded / resized / brightness-shifted duplicates that byte-level
    uniqueness cannot see. Default pass condition is zero near-dup pairs;
    the eight mustBe* forms apply to the pair count when given.

    Scale design: fingerprints come from the engine's ONE fused image decode
    pass; pairs from imagefp.near_dup_pairs_from_fp's 4-way 16-bit block
    equi-join on the shared blocked matcher (dcspark/hotkey.py;
    pigeonhole-complete for Hamming <= 3, 65,536 keys per block, a
    max_bucket census of distinct (id, dhash) rows per block key against
    solid-color masses). Only 8-byte hashes shuffle — pixels never leave
    their task."""
    max_hamming = int(q.threshold) if q.threshold is not None else 3
    if not (0 <= max_hamming <= 3):
        raise ValueError(
            "image content-uniqueness threshold is the max Hamming distance "
            "of the 4-block dHash join and must be 0..3, got "
            f"{q.threshold!r}")
    name = q.description or "Image content uniqueness (dHash near-dup)"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    extra = getattr(q, "__pydantic_extra__", None) or {}
    max_bucket = extra.get("max_bucket", 1000)
    return CompiledCheck(
        key=_key(model, None, f"image_content_uniqueness_{idx}"),
        check_type="image_content_uniqueness",
        category="image",
        name=name,
        model=model,
        kind="image_fp",
        params={
            "max_hamming": max_hamming,
            "max_bucket": max_bucket,
            "bytes_col": q.column or "bytes",
            "evaluator": evaluator,
        },
        expected=(f"no image pairs within Hamming {max_hamming} "
                  "of each other's dHash"),
        implementation=(
            "fused mapInArrow decode -> (id, dhash) -> 4x16-bit block "
            "equi-join (max_bucket skew guard) -> exact-Hamming pair count"
        ),
    )


def check_image_drift(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Distribution drift on DECODED-RASTER features (``type: image,
    invariant: luminance-drift``): KS/PSI of a per-image scalar feature
    (multimodal.IMAGE_FEATURE_FNS — brightness, contrast, clip_ratio,
    sharpness, entropy) against a reference snapshot built by the CLI
    ``snapshot`` command (stored under ``image:<feature>`` keys). The image
    analog of audio loudness-drift: a pipeline regression that re-encodes
    images darker / blurrier / flatter changes no header column, so only a
    decoded-feature distribution can alarm on it.

    Scale design: the per-image features come from the engine's ONE fused
    image decode pass (imagefp.image_compact); the drift histogram is a
    groupBy over the persisted compact frame's scalar column — never a
    second payload scan."""
    from .multimodal import IMAGE_FEATURE_FNS

    feature = q.column or "brightness"
    method = (q.method or "psi").lower()
    if feature not in IMAGE_FEATURE_FNS:
        raise ValueError(
            f"unknown image drift feature {feature!r}; "
            f"known: {sorted(IMAGE_FEATURE_FNS)}")
    if method not in ("ks", "psi"):
        raise ValueError(f"unknown drift method: {method} (expected ks|psi)")
    threshold = q.threshold if q.threshold is not None else (
        0.05 if method == "ks" else 0.2)
    name = q.description or f"Decoded-image drift ({method}) on {feature}"

    def ev(metric: Optional[float], _diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        if metric is None:
            return ResultEnum.error, f"{name}: statistic not computed"
        if metric <= threshold:
            return ResultEnum.passed, None
        return ResultEnum.failed, (
            f"{name}: {method.upper()} statistic {metric:.4f} > {threshold}")

    extra = getattr(q, "__pydantic_extra__", None) or {}
    return CompiledCheck(
        key=_key(model, feature, f"image_drift_{method}"),
        check_type=f"image_drift_{method}",
        category="image",
        name=name,
        model=model,
        kind="image_drift",
        params={"feature": feature, "method": method, "threshold": threshold,
                "bytes_col": extra.get("bytes_column", "bytes")},
        evaluate=ev,
        expected=f"{method} <= {threshold} on decoded {feature}",
        implementation=(
            "per-image feature from the single fused decode pass, bucketed "
            "vs ref_stats['image:" + feature + "'] (binned "
            + method.upper() + ")"
        ),
    )


def check_video_decode(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Video decode conformance (``type: video, invariant:
    decode-conformance``): every payload in ``column`` (default "bytes")
    must decode through the sniffing video decoder (Motion-JPEG AVI real,
    inter-frame codecs a per-row error); with ``fps_column`` /
    ``frames_column`` / ``width_column`` / ``height_column`` given, the
    decoded stream header must match those declared columns — fps within
    ``fps_tolerance`` (default 0.01), frame count and first-frame dims
    exactly. The video analog of the audio header-conformance invariant
    (a container lying about its frame rate corrupts every
    duration-derived downstream computation and is invisible to column
    checks). Metric = violating rows; mustBe* forms apply when given.

    Engine extension (the reference has no video path — SURVEY.md §2.5).
    Execution: one mapInArrow decode pass emitting scalars; declared-value
    comparison joins back on the primary key — pixels never shuffle."""
    if (q.invariant or "decode-conformance") != "decode-conformance":
        raise ValueError(
            f"unknown video invariant {q.invariant!r}; "
            "supported: decode-conformance")
    name = q.description or "Video decode conformance"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    extra = getattr(q, "__pydantic_extra__", None) or {}
    decl = {k: extra.get(f"{k}_column")
            for k in ("fps", "frames", "width", "height")}
    decl_desc = ", ".join(f"{k}=={v}" for k, v in decl.items() if v)
    return CompiledCheck(
        key=_key(model, None, f"video_decode_conformance_{idx}"),
        check_type="video_decode_conformance",
        category="video",
        name=name,
        model=model,
        kind="video",
        params={
            "bytes_col": q.column or "bytes",
            "decl_cols": decl,
            "fps_tolerance": float(extra.get("fps_tolerance", 0.01)),
            "evaluator": evaluator,
        },
        expected=("all video payloads decode"
                  + (f" with {decl_desc}" if decl_desc else "")),
        implementation=(
            "mapInArrow sniffing decode -> (id, fps, n_frames, dims, "
            "decode_error) -> join declared columns on pk -> violating rows"
        ),
    )


def check_audio_drift(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Distribution drift on DECODED-PCM features (``type: audio, invariant:
    loudness-drift``): KS/PSI of a per-clip scalar feature (rms_dbfs,
    peak_dbfs, clip_ratio — audio.FEATURE_FNS) against a reference snapshot
    built by ``audio.audio_feature_frame`` + ``drift.build_ref_stats`` (CLI
    ``snapshot`` does this automatically when the contract carries this rule).

    This is drift the column-level KS/PSI checks cannot see: a pipeline
    regression that re-encodes audio 12 dB quieter changes no header column.
    Scale design: the validation-time histogram rides the engine's ONE
    mapInArrow decode pass (``feat_bins`` rows in the compact frame), so the
    check costs bin-count accumulation, never a second payload scan."""
    from .audio import FEATURE_FNS

    feature = q.column or "rms_dbfs"
    method = (q.method or "psi").lower()
    # fail at compile time, not after the (expensive) decode scan has run
    if feature not in FEATURE_FNS:
        raise ValueError(
            f"unknown audio drift feature {feature!r}; known: {sorted(FEATURE_FNS)}")
    if method not in ("ks", "psi"):
        raise ValueError(f"unknown drift method: {method} (expected ks|psi)")
    threshold = q.threshold if q.threshold is not None else (0.05 if method == "ks" else 0.2)
    name = q.description or f"Decoded-audio drift ({method}) on {feature}"

    def ev(metric: Optional[float], _diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        if metric is None:
            return ResultEnum.error, f"{name}: statistic not computed"
        if metric <= threshold:
            return ResultEnum.passed, None
        return ResultEnum.failed, f"{name}: {method.upper()} statistic {metric:.4f} > {threshold}"

    return CompiledCheck(
        key=_key(model, feature, f"audio_drift_{method}"),
        check_type=f"audio_drift_{method}",
        category="audio",
        name=name,
        model=model,
        kind="audio_drift",
        params={"feature": feature, "method": method, "threshold": threshold},
        evaluate=ev,
        expected=f"{method} <= {threshold} on decoded {feature}",
        implementation=(
            "per-clip feature binned inside the single mapInArrow decode pass "
            "(row_type='fh' histogram rows) vs ref_stats['audio:" + feature + "']"
        ),
    )


def check_audio_quality(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Per-clip decoded-signal bounds (``type: audio, invariant:
    signal-quality``): the metric is the number of clips whose decoded-PCM
    feature (audio.FEATURE_FNS) falls outside [minimum, maximum] — e.g. a
    silence floor (``column: rms_dbfs, minimum: -40``) or a clipping ceiling
    (``column: clip_ratio, maximum: 0.01``). Catches broken-microphone /
    all-zero / hard-limited payloads whose header columns are perfectly valid
    and which loudness-drift misses when the reference snapshot already
    contains them. Default pass condition is zero out-of-range clips; the
    eight mustBe* forms apply to the count when given. A clip that fails to
    decode belongs to decode-conformance and is never double-counted here.

    Scale design: the bounds are evaluated inside the engine's ONE mapInArrow
    decode pass — 'fq' per-task count rows plus capped 'fv' violation rows in
    the compact frame — so the check costs integer accumulation, never a
    second payload scan; counts merge by summation per partition and through
    the checkpoint manifest."""
    from .audio import FEATURE_FNS

    feature = q.column or "rms_dbfs"
    if feature not in FEATURE_FNS:
        raise ValueError(
            f"unknown audio signal-quality feature {feature!r}; "
            f"known: {sorted(FEATURE_FNS)}")
    lo, hi = q.minimum, q.maximum
    if lo is None and hi is None:
        raise ValueError(
            "signal-quality rule needs 'minimum' and/or 'maximum' for the feature")
    bounds = " and ".join(
        s for s in (
            f"{feature} >= {lo}" if lo is not None else None,
            f"{feature} <= {hi}" if hi is not None else None,
        ) if s)
    name = q.description or f"Audio signal quality ({bounds})"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    return CompiledCheck(
        # idx (position in the quality list) keeps two bounds on the same
        # feature — e.g. a silence floor AND a clipping ceiling — distinct
        # in res.metrics and the violations table
        key=_key(model, feature, f"audio_signal_quality_{idx}"),
        check_type="audio_signal_quality",
        category="audio",
        name=name,
        model=model,
        kind="audio_quality",
        params={"feature": feature, "minimum": lo, "maximum": hi},
        evaluate=evaluator,
        expected=f"decoded {bounds} for every clip",
        implementation=(
            "per-clip feature bound evaluated inside the single mapInArrow "
            "decode pass (row_type='fq' counts + capped 'fv' violation rows)"
        ),
    )


def check_audio_rate(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Cross-modal speaking-rate invariant (``type: audio, invariant:
    speaking-rate``): transcript characters per second of DETECTED speech
    (energy-VAD active frames, audio.speech_seconds) bounded per clip —
    e.g. ``minimum: 5, maximum: 40`` for read speech. No column rule can
    express this: the denominator needs the decoded PCM, and that is the
    point — a transcript pasted onto the wrong clip, a half-truncated
    payload with a full transcript, or dead air billed as speech all show
    an absurd rate while every header column and even the SNR oracle pass.

    ``column`` names the transcript column (default ``transcript``). NULL
    transcripts are skipped (field_required's finding, kept disjoint), as
    are clips that fail to decode (decode-conformance's finding).

    Scale design: identical to signal-quality — the bound is evaluated
    inside the ONE mapInArrow decode pass via the feat_limits machinery;
    only the JVM-computed transcript LENGTH rides the scan (the text never
    crosses the Arrow boundary), and counts merge per partition and
    through the checkpoint manifest."""
    from .audio import RATE_FEATURE

    lo, hi = q.minimum, q.maximum
    if lo is None and hi is None:
        raise ValueError(
            "speaking-rate rule needs 'minimum' and/or 'maximum' "
            "(chars per second of detected speech)")
    text_col = q.column or "transcript"
    bounds = " and ".join(
        s for s in (
            f"rate >= {lo}" if lo is not None else None,
            f"rate <= {hi}" if hi is not None else None,
        ) if s)
    name = q.description or f"Speaking rate ({bounds} chars/speech-sec)"
    evaluator = to_threshold_evaluator(q, name)[0] if has_threshold(q) else None
    return CompiledCheck(
        key=_key(model, RATE_FEATURE, f"audio_speaking_rate_{idx}"),
        check_type="audio_speaking_rate",
        category="audio",
        name=name,
        model=model,
        kind="audio_quality",
        params={"feature": RATE_FEATURE, "minimum": lo, "maximum": hi,
                "text_column": text_col},
        evaluate=evaluator,
        expected=f"len({text_col}) / speech_seconds within [{lo}, {hi}] "
                 "for every decodable clip with a transcript",
        implementation=(
            "per-clip chars/speech-sec bound evaluated inside the single "
            "mapInArrow decode pass (VAD speech_seconds denominator; "
            "transcript length carried as a JVM column)"
        ),
    )


def check_transcript_equality(model: str, q: Quality, idx: int) -> CompiledCheck:
    """Per-row transcript equality vs the oracle reference table (BASELINE.json
    input_hint). Sort-merge equi-join on the key column; at 10^12 scale both
    sides should be bucketed/partitioned by the key so the join is co-located."""
    ref_model = q.ref or "transcripts_ref"
    key = q.key or "clip_id"
    child_col = q.column or "transcript"
    ref_col = q.ref_column or "text"
    name = q.description or f"Transcript equality vs {ref_model}.{ref_col}"
    return CompiledCheck(
        key=_key(model, child_col, "transcript_equality"),
        check_type="transcript_equality",
        category="audio",
        name=name,
        model=model,
        field=child_col,
        kind="join_equality",
        params={"ref_model": ref_model, "key": key, "child_col": child_col, "ref_col": ref_col},
        expected=f"{child_col} == {ref_model}.{ref_col} (joined on {key})",
        implementation=(
            f"df.join({ref_model}, on={key}).filter(NOT ({child_col} <=> {ref_col})).count()"
            " — sort-merge join; bucket both sides by the key at scale"
        ),
    )


def check_row_count_passthrough(model: str, sodacl_line: str) -> Optional[CompiledCheck]:
    """Deprecated root-quality SodaCL passthrough, row_count subset
    (parity: to_quality_check :716-738; supported subset per SURVEY.md §2.1 #15)."""
    m = re.match(r"\s*row_count\s*(>|>=|<|<=|=|==|!=)\s*(\d+(?:\.\d+)?)\s*$", sodacl_line)
    if not m:
        return None
    op, val = m.group(1), float(m.group(2))
    ops: Dict[str, Callable[[float], bool]] = {
        ">": lambda x: x > val, ">=": lambda x: x >= val,
        "<": lambda x: x < val, "<=": lambda x: x <= val,
        "=": lambda x: x == val, "==": lambda x: x == val, "!=": lambda x: x != val,
    }
    cmp = ops[op]
    name = f"row_count {op} {int(val)}"

    def ev(metric: Optional[float], _diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        if metric is None:
            return ResultEnum.error, f"{name}: not computed"
        return (ResultEnum.passed, None) if cmp(metric) else (
            ResultEnum.failed, f"{name}: actual row_count = {int(metric)}")

    return CompiledCheck(
        key=_key(model, None, "row_count"),
        check_type="row_count",
        category="quality",
        name=name,
        model=model,
        agg_alias="__row_count",
        agg_expr=lambda: F.count(F.lit(1)),
        evaluate=ev,
        expected=name,
        implementation=f"F.count(lit(1)) {op} {val}",
    )


# ---------------------------------------------------------------------------
# Service levels (parity: data_contract_checks.py:559-712)
# ---------------------------------------------------------------------------

_PERIOD_RE = re.compile(r"^(\d+)\s*([smhdwySMHDWY])$")
_ISO_RE = re.compile(
    r"^P(?:(?P<days>\d+)D)?(?:T(?:(?P<hours>\d+)H)?(?:(?P<minutes>\d+)M)?(?:(?P<seconds>\d+)S)?)?$",
    re.IGNORECASE,
)


def period_to_seconds(period: str) -> int:
    """'30d' / '24h' / '60m' / '45s' / '1w' / '1y' and ISO-8601 durations
    (semantics parity: period_to_seconds :674-712)."""
    period = period.strip()
    m = _PERIOD_RE.match(period)
    if m:
        n, unit = int(m.group(1)), m.group(2).lower()
        mult = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800, "y": 31536000}[unit]
        return n * mult
    m = _ISO_RE.match(period)
    if m and any(m.groupdict().values()):
        g = {k: int(v or 0) for k, v in m.groupdict().items()}
        return g["days"] * 86400 + g["hours"] * 3600 + g["minutes"] * 60 + g["seconds"]
    raise ValueError(f"Cannot parse period: {period!r}")


def _find_timestamp_field(spec: DataContractSpecification, model_name: str, declared: Optional[str]) -> Optional[str]:
    if declared:
        # may be "model.field" or "field"
        if "." in declared:
            m, _, f_ = declared.partition(".")
            return f_ if m == model_name else None
        return declared
    model = spec.models.get(model_name)
    if model:
        for fname, f_ in model.fields.items():
            if (f_.type or "").lower() in ("timestamp", "timestamp_tz", "timestamp_ntz", "date"):
                return fname
    return None


def check_freshness(model: str, ts_field: str, threshold: str) -> CompiledCheck:
    limit_s = period_to_seconds(threshold)
    name = f"Freshness of {ts_field} below {threshold}"

    def ev(metric: Optional[float], diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        # metric = age in seconds of max(ts_field), computed by the engine
        if metric is None:
            return ResultEnum.error, f"{name}: no max timestamp (empty table?)"
        if metric < limit_s:
            return ResultEnum.passed, None
        return ResultEnum.failed, f"{name}: age {metric:.0f}s >= {limit_s}s"

    return CompiledCheck(
        key=_key(model, ts_field, "servicelevel_freshness"),
        check_type="servicelevel_freshness",
        category="servicelevel",
        name=name,
        model=model,
        field=ts_field,
        kind="freshness",
        agg_alias=f"{ts_field}__max_ts",
        agg_expr=lambda: F.max(F.col(ts_field)),
        params={"limit_seconds": limit_s, "threshold": threshold},
        evaluate=ev,
        expected=f"now - max({ts_field}) < {limit_s}s",
        implementation=f"F.max({ts_field}) in shared agg pass; driver compares to now()",
    )


def check_retention(model: str, ts_field: str, period: str) -> CompiledCheck:
    limit_s = period_to_seconds(period)
    name = f"Retention: oldest {ts_field} within {period}"

    def ev(metric: Optional[float], diag: Dict[str, Any]) -> Tuple[ResultEnum, Optional[str]]:
        # metric = age in seconds of min(ts_field)
        if metric is None:
            return ResultEnum.error, f"{name}: no min timestamp (empty table?)"
        if metric < limit_s:
            return ResultEnum.passed, None
        return ResultEnum.failed, f"{name}: oldest row age {metric:.0f}s >= {limit_s}s"

    return CompiledCheck(
        key=_key(model, ts_field, "servicelevel_retention"),
        check_type="servicelevel_retention",
        category="servicelevel",
        name=name,
        model=model,
        field=ts_field,
        kind="retention",
        agg_alias=f"{ts_field}__min_ts",
        agg_expr=lambda: F.min(F.col(ts_field)),
        params={"limit_seconds": limit_s, "period": period},
        evaluate=ev,
        expected=f"now - min({ts_field}) < {limit_s}s",
        implementation=f"F.min({ts_field}) in shared agg pass; driver compares to now()",
    )


# ---------------------------------------------------------------------------
# Driver: contract -> checks (parity: create_checks :12-19, to_model_checks :22-70)
# ---------------------------------------------------------------------------

def is_check_types(server_format: Optional[str]) -> bool:
    # Type checks skipped for json/csv/avro formats (parity: is_check_types :79-82)
    return server_format not in ("json", "csv", "avro")


def create_checks(
    spec: DataContractSpecification,
    server_format: Optional[str] = None,
) -> Dict[str, List[CompiledCheck]]:
    """Compile every contract rule to a CompiledCheck, grouped by model name."""
    out: Dict[str, List[CompiledCheck]] = {}
    for model_name, model in spec.models.items():
        checks: List[CompiledCheck] = []

        def emit_field(fname: str, f_: Field) -> None:
            """One field's checks; recurses into struct children with a dotted
            path. Nested constraint evaluation EXCEEDS the reference — its
            native engine is top-level-only (data_contract_checks.py:31-63),
            nested fields reach only its jsonschema engine. Spark resolves
            ``F.col("a.b")`` as struct access, so dotted predicates join the
            same shared multi-aggregate scan as top-level ones (and Parquet
            still prunes to the referenced leaves)."""
            # field-level `filter:` scopes every constraint check emitted
            # below to rows matching the SQL predicate (quality rules carry
            # their own Quality.filter instead)
            n0 = len(checks)
            checks.append(check_field_is_present(model_name, fname))
            if f_.type and is_check_types(server_format):
                checks.append(check_field_type(model_name, fname, f_))
            constraints = field_constraint_checks(model_name, fname, f_)
            # `required` leads the table and `unique` follows it: check
            # order is the results order the goldens pin
            lead = 1 if f_.required else 0
            checks.extend(constraints[:lead])
            if f_.unique:
                checks.append(check_field_unique(model_name, fname))
            checks.extend(constraints[lead:])
            if f_.references:
                checks.append(check_field_reference(model_name, fname, f_.references))
            # collection-element constraints are CONSTRAINT checks of this
            # field, so they must be appended before the scoping loop below
            # — a filtered array field's element checks would otherwise
            # silently escape the scope
            ftype = (f_.type or "").lower()
            streams = ({"items": f_.items} if ftype == "array" else
                       {"keys": f_.keys, "values": f_.values} if ftype == "map" else {})
            for where, element in streams.items():
                if element is not None:
                    checks.extend(check_collection_elements(model_name, fname, where, element))
            if f_.filter:
                for c in checks[n0:]:
                    scope_to_filter(c, f_.filter)
            for qi, q in enumerate(f_.quality):
                _reject_unsupported_filter(model_name, q, field_level=True)
                if q.type == "sql" and q.query:
                    checks.append(check_quality_sql(model_name, q, qi, fname))
                elif q.type == "metric" and q.metric:
                    checks.append(check_quality_metric(model_name, q, qi, fname))
                elif q.type == "expression" and q.expression:
                    checks.append(check_quality_expression(model_name, q, qi, fname))
                elif q.type == "history":
                    checks.append(check_quality_history(model_name, q, qi, fname))
            if ftype in ("object", "record", "struct"):
                # children are separate fields: they scope under their OWN
                # `filter:` declarations, not the parent struct's
                for child_name, child in f_.fields.items():
                    emit_field(f"{fname}.{child_name}", child)

        for fname, f_ in model.fields.items():
            emit_field(fname, f_)
        if model.primaryKey:
            # model-level composite primary key (DCS v1.1 `primaryKey: [a,b]`
            # — the reference parses it but executes no check): NULL-component
            # count in the shared scan + an exact tuple-uniqueness job
            checks.append(check_composite_key_null(model_name, model.primaryKey))
            checks.append(check_composite_key_unique(model_name, model.primaryKey))
        for qi, q in enumerate(model.quality):
            _reject_unsupported_filter(model_name, q)
            if q.type == "sql" and q.query:
                checks.append(check_quality_sql(model_name, q, qi))
            elif q.type == "metric" and q.metric:
                checks.append(check_quality_metric(model_name, q, qi))
            elif q.type == "expression" and q.expression:
                checks.append(check_quality_expression(model_name, q, qi))
            elif q.type == "group" and q.column:
                checks.append(check_quality_group(model_name, q, qi))
            elif q.type == "history":
                checks.append(check_quality_history(model_name, q, qi))
            elif q.type == "drift" and q.column:
                checks.append(check_drift(model_name, q, qi))
            elif q.type == "audio" and (q.invariant or "") == "transcript-equality":
                checks.append(check_transcript_equality(model_name, q, qi))
            elif q.type == "audio" and (q.invariant or "") == "content-uniqueness":
                checks.append(check_audio_near_dup(model_name, q, qi))
            elif q.type == "audio" and (q.invariant or "") == "loudness-drift":
                checks.append(check_audio_drift(model_name, q, qi))
            elif q.type == "audio" and (q.invariant or "") == "signal-quality":
                checks.append(check_audio_quality(model_name, q, qi))
            elif q.type == "audio" and (q.invariant or "") == "speaking-rate":
                checks.append(check_audio_rate(model_name, q, qi))
            elif q.type == "audio":
                checks.append(check_audio(model_name, q, qi))
            elif q.type == "image" and (q.invariant or "") == "signal-quality":
                checks.append(check_image_quality(model_name, q, qi))
            elif q.type == "image" and (q.invariant or "") == "content-uniqueness":
                checks.append(check_image_near_dup(model_name, q, qi))
            elif q.type == "image" and (q.invariant or "") == "luminance-drift":
                checks.append(check_image_drift(model_name, q, qi))
            elif q.type == "image":
                checks.append(check_image_decode(model_name, q, qi))
            elif q.type == "video":
                checks.append(check_video_decode(model_name, q, qi))
        # A history rule watching row_count auto-materializes the row_count
        # metric as an always-true check, so the watched series both exists in
        # THIS run's metrics and lands in the results table for future runs —
        # no separate passthrough rule needed.
        rc_key = _key(model_name, None, "row_count")
        if any(
            c.kind == "history" and c.params.get("watch_key") == rc_key
            for c in checks
        ) and all(c.key != rc_key for c in checks):
            rc = check_row_count_passthrough(model_name, "row_count >= 0")
            if rc is not None:
                checks.append(rc)
        out[model_name] = checks

    # service levels attach to the first model that has the timestamp field
    if spec.servicelevels:
        sl = spec.servicelevels
        if sl.freshness and sl.freshness.threshold:
            for model_name in spec.models:
                ts = _find_timestamp_field(spec, model_name, sl.freshness.timestampField)
                if ts and ts in spec.models[model_name].fields:
                    out[model_name].append(check_freshness(model_name, ts, sl.freshness.threshold))
                    break
        if sl.retention and sl.retention.period and not (sl.retention.unlimited or False):
            for model_name in spec.models:
                ts = _find_timestamp_field(spec, model_name, sl.retention.timestampField)
                if ts and ts in spec.models[model_name].fields:
                    out[model_name].append(check_retention(model_name, ts, sl.retention.period))
                    break

    # deprecated root quality: SodaCL passthrough subset
    if spec.quality and isinstance(spec.quality, dict):
        sodacl = spec.quality.get("specification") if "specification" in spec.quality else spec.quality
        if isinstance(sodacl, dict):
            for section, lines in sodacl.items():
                m = re.match(r"checks for (\w+)", str(section))
                if m and m.group(1) in out and isinstance(lines, list):
                    for line in lines:
                        c = check_row_count_passthrough(m.group(1), str(line))
                        if c:
                            out[m.group(1)].append(c)
    return out
