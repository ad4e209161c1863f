"""The one field-constraint table (``compile.FIELD_CONSTRAINTS``): scalar
checks, collection-element checks and repair all read it, and no
hand-written constraint predicate grows back beside it."""

import ast
import os

import pytest

from dcspark.compile import FIELD_CONSTRAINTS, create_checks, declared_constraints
from dcspark.spec import DataContractSpecification, Field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONTRACT = """
id: table
models:
  m:
    fields:
      x: {type: double, required: true, minimum: 1, exclusiveMinimum: 1,
          maximum: 5, exclusiveMaximum: 5}
      s: {type: string, minLength: 2, maxLength: 4, enum: [ab, abc],
          pattern: '^a', format: Email}
      xs:
        type: array
        items: {type: string, required: true, minLength: 1, exclusiveMinimum: 0}
"""


def test_declared_constraints_follow_the_table():
    f_ = Field(type="string", required=False, minimum=0, enum=[], pattern="")
    # a zero bound is declared; false and empty ones are not
    assert [(c.attr, v) for c, v in declared_constraints(f_)] == [("minimum", 0)]
    attrs = {c.attr for c in FIELD_CONSTRAINTS}
    assert attrs == {"required", "minLength", "maxLength", "minimum", "maximum",
                     "exclusiveMinimum", "exclusiveMaximum", "enum", "pattern",
                     "format"}


def test_keys_aliases_and_element_names_are_stable():
    """History watch keys and results-table rows: exclusive bounds keep
    their ``_excl``/``_min``/``_max`` tags, element checks their names,
    and element checks follow the table order."""
    checks = create_checks(DataContractSpecification.from_string(CONTRACT))["m"]
    got = [(c.key, c.agg_alias, c.expected) for c in checks
           if c.kind == "agg"]
    assert got == [
        ("m__x__field_required", "x__missing_count", "not null"),
        ("m__x__field_minimum", "x__minimum_invalid", ">= 1"),
        ("m__x__field_maximum", "x__maximum_invalid", "<= 5"),
        ("m__x__field_minimum_excl", "x__minimum_excl_invalid", ">= 1"),
        ("m__x__field_not_equal_min", "x__not_equal_min_invalid", "!= 1"),
        ("m__x__field_maximum_excl", "x__maximum_excl_invalid", "<= 5"),
        ("m__x__field_not_equal_max", "x__not_equal_max_invalid", "!= 5"),
        ("m__s__field_min_length", "s__min_length_invalid", "length >= 2"),
        ("m__s__field_max_length", "s__max_length_invalid", "length <= 4"),
        ("m__s__field_enum", "s__enum_invalid", "in ['ab', 'abc']"),
        ("m__s__field_regex", "s__field_regex_invalid", "matches ^a"),
        ("m__s__field_format_email", "s__field_format_email_invalid",
         r"matches ^[^@\s]+@[^@\s]+\.[^@\s]+$"),
        ("m__xs[items]__items_required", "xs[items]__required_invalid",
         "element not null"),
        ("m__xs[items]__items_min_length", "xs[items]__min_length_invalid",
         "element length >= 1"),
        ("m__xs[items]__items_exclusive_minimum",
         "xs[items]__exclusive_minimum_invalid", "element >= 0"),
        ("m__xs[items]__items_not_equal_minimum",
         "xs[items]__not_equal_minimum_invalid", "element != 0"),
    ]
    by_key = {c.key: c for c in checks}
    assert set(by_key["m__x__field_minimum_excl"].extra_aggs) == {"x__min"}
    assert by_key["m__x__field_not_equal_max"].extra_aggs == {}


def test_unknown_format_fails_closed(spark):
    """A format without a regex errors its own check, naming the format;
    it never compiles to no check, which would pass whatever the field
    holds. The rest of the run still evaluates."""
    from dcspark import ValidationConfig, validate
    from dcspark.repair import repair
    from dcspark.run_model import ResultEnum

    spec = DataContractSpecification.from_string("""
id: formats
models:
  m:
    fields:
      d: {type: string, format: date, required: true}
      ip: {type: string, format: IPv4}
      xs: {type: array, items: {type: string, format: date}}
""")
    df = spark.createDataFrame([("not a date", "999.1.1.1", ["x"])],
                               "d string, ip string, xs array<string>")
    res = validate(spark, spec, {"m": df}, ValidationConfig())
    by_key = {c.key: c for c in res.run.checks}
    for key, fmt in (("m__d__field_format_date", "date"),
                     ("m__ip__field_format_ipv4", "ipv4"),
                     ("m__xs[items]__items_format_date", "date")):
        assert by_key[key].result == ResultEnum.error, key
        assert f"format '{fmt}'" in by_key[key].reason
    assert by_key["m__d__field_required"].result == ResultEnum.passed
    # repair has no predicate for such a format, so it leaves the value
    assert repair(df, spec, "m").collect() == df.collect()


# ---------------------------------------------------------------------------
# source guard: constraint predicates live in the table only
# ---------------------------------------------------------------------------

def _name(top):
    if isinstance(top, (ast.ClassDef, ast.FunctionDef)):
        return top.name
    if isinstance(top, (ast.Assign, ast.AnnAssign)):
        return ast.unparse(top.targets[0] if isinstance(top, ast.Assign) else top.target)
    return None


def constraint_calls(source, table=False):
    """Line numbers of ``F.length(``, ``.rlike(`` and ``.isin(`` calls; with
    ``table`` the top-level statements from ``class FieldConstraint`` to the
    ``FIELD_CONSTRAINTS`` assignment are exempt."""
    body = ast.parse(source).body
    if table:
        names = [_name(top) for top in body]
        lo, hi = names.index("FieldConstraint"), names.index("FIELD_CONSTRAINTS")
        body = body[:lo] + body[hi + 1:]
    return sorted(
        node.lineno for top in body for node in ast.walk(top)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and (node.func.attr in ("rlike", "isin")
             or (node.func.attr == "length"
                 and isinstance(node.func.value, ast.Name)
                 and node.func.value.id == "F")))


def test_guard_detects_the_old_shapes():
    old_compile = '''
class FieldConstraint:
    pass

FIELD_CONSTRAINTS = [lambda c: c.rlike("x")]

def check_field_min_length(model, fname, n):
    pred = lambda: F.length(F.col(fname)) < n

def _element_constraints(f_):
    add("enum", bind(lambda x, e: at(x).isNotNull() & ~at(x).isin(e), e=f_.enum))
'''
    old_repair = '''
def _field_fix(fname, field_, strategy):
    steps.append((~c.rlike(rx), null))
    steps.append((F.length(c) < field_.minLength, null))
    s = F.col(fname).substr(1, 2), len(fname), x.length()
'''
    assert constraint_calls(old_compile, table=True) == [8, 11]
    assert constraint_calls(old_repair) == [3, 4]


@pytest.mark.parametrize("module,table", [("compile", True), ("repair", False)])
def test_constraint_predicates_live_in_the_table(module, table):
    with open(os.path.join(ROOT, "dcspark", module + ".py"), encoding="utf-8") as f:
        assert constraint_calls(f.read(), table) == []
