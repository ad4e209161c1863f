"""Run-result writers: console table, JUnit XML, exit code.

Parity: /root/reference/datacontract/output/test_results_writer.py:13-57
(console table + exit(1) on failure) and output/junit_test_results.py:10-84
(JUnit XML). Plain-text table (no rich dependency); identical information.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional
from xml.sax.saxutils import escape

from .run_model import ResultEnum, Run

_RESULT_MARK = {
    "passed": "ok", "warning": "WARN", "failed": "FAIL",
    "error": "ERROR", "info": "info", "unknown": "?",
}


def format_console(run: Run) -> str:
    """Console table: one row per check, summary line, overall verdict."""
    rows = [(c.result.value if c.result else "unknown", c.key or c.id or "",
             c.reason or "") for c in run.checks]
    w1 = max([len(r[0]) for r in rows] + [6])
    w2 = max([len(r[1]) for r in rows] + [5])
    lines = [f"{'RESULT':<{w1}}  {'CHECK':<{w2}}  REASON"]
    for result, key, reason in rows:
        lines.append(f"{result:<{w1}}  {key:<{w2}}  {reason}")
    counts: dict = {}
    for result, _, _ in rows:
        counts[result] = counts.get(result, 0) + 1
    summary = ", ".join(f"{v} {k}" for k, v in sorted(counts.items()))
    lines.append("")
    if run.logs:
        # run-level context the check table can't carry: approx-mode
        # disclosures, sampled-run notices, per-model phase walls
        lines.extend(f"[{lg.level}] {lg.message}" for lg in run.logs)
        lines.append("")
    lines.append(f"checks: {len(rows)} ({summary})")
    lines.append(f"RUN RESULT: {run.result.value if run.result else 'unknown'}")
    return "\n".join(lines)


def print_console(run: Run) -> None:
    print(format_console(run))


def exit_code(run: Run) -> int:
    """Reference parity (test_results_writer.py:18-45): exit 0 for a passed
    OR warning run (the reference prints warnings and returns normally),
    exit 1 for everything else — INCLUDING unknown and info, which must
    fail CLOSED (a run that produced no verdict is not a green gate)."""
    return 0 if run.result in (ResultEnum.passed, ResultEnum.warning) else 1


def to_junit_xml(run: Run) -> str:
    """JUnit XML: one <testcase> per check; failures/errors annotated."""
    started = run.timestampStart or dt.datetime.now(dt.timezone.utc)
    ended = run.timestampEnd or started
    duration = max(0.0, (ended - started).total_seconds())
    n = len(run.checks)
    failures = sum(1 for c in run.checks if c.result == ResultEnum.failed)
    errors = sum(1 for c in run.checks if c.result == ResultEnum.error)
    skipped = sum(1 for c in run.checks if c.result in (ResultEnum.unknown, None))
    # attribute values need the double quote escaped too — plain escape()
    # leaves it alone, and a reason quoting an observed value would
    # terminate the attribute early (malformed XML that CI parsers reject)
    def attr(s: str) -> str:
        return escape(s, {'"': "&quot;"})

    cases = []
    per_case = duration / n if n else 0.0
    for c in run.checks:
        name = attr(c.key or c.id or c.name or "check")
        cls = attr(c.model or run.dataContractId or "contract")
        body = ""
        if c.result == ResultEnum.failed:
            body = f'<failure message="{attr(c.reason or "failed")}"/>'
        elif c.result == ResultEnum.error:
            body = f'<error message="{attr(c.reason or "error")}"/>'
        elif c.result in (ResultEnum.unknown, None):
            body = "<skipped/>"
        cases.append(
            f'  <testcase classname="{cls}" name="{name}" time="{per_case:.3f}">{body}</testcase>'
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<testsuite name="{attr(run.dataContractId or "datacontract")}" '
        f'tests="{n}" failures="{failures}" errors="{errors}" skipped="{skipped}" '
        f'time="{duration:.3f}" timestamp="{started.isoformat()}">\n'
        + "\n".join(cases)
        + "\n</testsuite>\n"
    )


def write_junit_xml(run: Run, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(to_junit_xml(run))
