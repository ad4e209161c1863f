"""Contract-driven value repair: salvage rows instead of dropping them.

The third member of the act-on-violations family (filter = drop, mask =
redact, repair = coerce): derive per-field fix expressions from the same
contract constraints the validator enforces, so "coerce what is mechanically
fixable, quarantine what remains" becomes two composable one-projection
passes. Default strategy per constraint:

- ``minimum`` / ``maximum`` (numeric): clamp to the bound — the value is
  wrong but its order information is real (sensor saturation semantics);
- ``maxLength``: truncate to the limit (oversize strings usually carry a
  valid prefix);
- ``minLength`` / ``enum`` / ``pattern`` / ``format`` violations: NULL the
  value — there is no mechanical fix, and a typed NULL is visible to the
  required/missing checks downstream instead of masquerading as valid;
- ``exclusiveMinimum`` / ``exclusiveMaximum`` violations: NULL under every
  strategy — an open interval has no well-defined nearest valid value.

A value breaking several constraints ends NULL unless every break is
coercible (NULL-ing fixes take precedence over clamp/truncate).

Per-field ``strategies`` override: "coerce" (the defaults above), "null"
(any violation nulls the value), "keep" (leave the field alone). Everything
compiles to one whole-stage-codegen projection — no UDFs, no shuffle, no
second scan. ``repair_report`` counts prospective repairs per field in one
aggregate so the decision to coerce can be reviewed before it is applied.
"""

from __future__ import annotations

import math
from functools import reduce
from operator import or_
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compile import NO_REGEX, declared_constraints
from .spec import DataContractSpecification


_INT_TYPES = {"int", "integer", "long", "bigint"}


def _clamp_lit(field_, bound: float, rounding) -> Column:
    """Clamp target for an inclusive bound: on integral columns a fractional
    bound rounds toward the INTERIOR of the range (``rounding`` is ceil for
    minimum, floor for maximum), so the clamped value still satisfies the
    constraint after the type cast instead of truncating back outside it."""
    if (field_.type or "").lower() in _INT_TYPES:
        return F.lit(int(rounding(bound)))
    return F.lit(bound)


#: the "coerce" strategy's fix per constraint attribute; every other
#: constraint, and every constraint under "null", NULLs a violating value
#: (``required`` has no repair: a NULL stays NULL)
_COERCE = {
    "maxLength": lambda field_, c, n: F.substring(c, 1, int(n)),
    "minimum": lambda field_, c, v: _clamp_lit(field_, v, math.ceil),
    "maximum": lambda field_, c, v: _clamp_lit(field_, v, math.floor),
}


def _field_fix(fname: str, field_, strategy: str) -> Optional[Column]:
    """Repaired value expression for one field, or None if nothing to fix.
    Each rule's rejection predicate comes from the compiler's constraint
    table, so repair tests exactly what the validator tests."""
    c = F.col(fname)
    nulling, coerced = [], []
    for con, v in declared_constraints(field_):
        # a format with no regex has nothing to test: the validator
        # reports it as error, repair leaves the value alone
        if con.attr == "required" or v is NO_REGEX:
            continue
        fix = _COERCE.get(con.attr) if strategy == "coerce" else None
        if fix is None:
            nulling.append((con, v))
        else:
            coerced.append((con.rejects(c, v), fix(field_, c, v)))
    if not nulling and not coerced:
        return None
    out = c
    for pred, repl in coerced:
        out = F.when(pred, repl).otherwise(out)
    # NULL-ing wins: a value breaking several constraints ends NULL unless
    # every break is coercible (an oversize enum violation must NULL, not
    # truncate to a still-invalid prefix). The NULL-ing rules are tested
    # on the repaired value too: a truncation can NEWLY break a pattern or
    # format the original satisfied ('user@x.com' cut to 6 chars is no
    # email) — the repaired frame must satisfy the contract it repairs toward
    tested = [c, out] if coerced else [c]
    broken = [con.rejects(x, v) for x in tested for con, v in nulling]
    if broken:
        out = F.when(reduce(or_, broken), F.lit(None)).otherwise(out)
    return out


def _plan(
    spec: DataContractSpecification,
    model_name: str,
    strategies: Optional[Dict[str, str]] = None,
) -> Dict[str, Column]:
    model = spec.models.get(model_name)
    if model is None:
        return {}
    unknown = set(strategies or {}) - set(model.fields)
    if unknown:
        raise ValueError(
            f"repair strategies name unknown field(s) {sorted(unknown)} "
            f"(model {model_name!r} declares {sorted(model.fields)})")
    fixes: Dict[str, Column] = {}
    for fname, field_ in model.fields.items():
        strategy = (strategies or {}).get(fname, "coerce")
        if strategy == "keep":
            continue
        if strategy not in ("coerce", "null"):
            raise ValueError(
                f"unknown repair strategy {strategy!r} for field {fname!r} "
                "(expected coerce | null | keep)")
        fix = _field_fix(fname, field_, strategy)
        if fix is not None:
            fixes[fname] = fix
    return fixes


def repaired_fields(
    spec: DataContractSpecification,
    model_name: str,
    strategies: Optional[Dict[str, str]] = None,
) -> List[str]:
    """Field names the repair pass would touch — the static plan, no scan."""
    return sorted(_plan(spec, model_name, strategies))


def repair(
    df: DataFrame,
    spec: DataContractSpecification,
    model_name: str,
    strategies: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Repaired view of ``df`` — schema, column order, and types unchanged;
    only constraint-violating values are clamped/truncated/NULLed."""
    fixes = _plan(spec, model_name, strategies)
    return df.select(*[
        (fixes[c].cast(df.schema[c].dataType).alias(c) if c in fixes
         else F.col(c))
        for c in df.columns
    ])


def repair_report(
    df: DataFrame,
    spec: DataContractSpecification,
    model_name: str,
    strategies: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """(field, would_repair bigint) — per-field count of values the repair
    pass would change, in ONE aggregate over the table (review before
    coercing). Counts compare the fixed expression against the original with
    NULL-safe equality, so a value nulled by repair counts exactly once."""
    # contract fields absent from the frame have nothing to repair (schema
    # presence is the validator's check, not the repairer's crash)
    fixes = {c: fx for c, fx in _plan(spec, model_name, strategies).items()
             if c in df.columns}
    spark = df.sparkSession
    if not fixes:
        return spark.createDataFrame([], "field string, would_repair bigint")
    aggs = [
        F.coalesce(F.sum(F.when(
            ~fix.cast(df.schema[c].dataType).eqNullSafe(F.col(c)), 1
        ).otherwise(0)), F.lit(0)).alias(c)
        for c, fix in fixes.items()
    ]
    row = df.agg(*aggs).first().asDict()
    return spark.createDataFrame(
        sorted((c, int(n)) for c, n in row.items()),
        "field string, would_repair bigint")
