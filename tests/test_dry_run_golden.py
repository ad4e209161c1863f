"""`test --dry-run` prints the plan the engine's family table runs.

The printed plan of every shipped contract is pinned byte for byte
(``tests/golden/dry_run.json``) under the flag sets that change a job
shape, and so is the plan of the every-family contract of
test_family_golden. A second test checks the table itself: every check
kind the compiler emits belongs to exactly one family.
"""

import ast
import glob
import json
import os

from dcspark.cli import main

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "golden", "dry_run.json")

FLAGS = {
    "default": [],
    "sweep": ["--profile", "sweep"],
    "resume": ["--partition-col", "p", "--checkpoint-dir", "ck"],
    "ref-stats": ["--ref-stats", "snaps"],
}


def _contracts(tmp_dir):
    from test_family_golden import CONTRACT

    every = os.path.join(str(tmp_dir), "every_family.yaml")
    with open(every, "w", encoding="utf-8") as f:
        f.write(CONTRACT)
    paths = {os.path.basename(p): p
             for p in sorted(glob.glob(os.path.join(ROOT, "contracts", "*.yaml")))}
    paths["every_family.yaml"] = every
    return paths


def dry_run_outputs(capsys, tmp_dir):
    """{"<contract> <flag set>": printed plan} for every pinned case."""
    out = {}
    for name, path in _contracts(tmp_dir).items():
        for flag_name, flags in FLAGS.items():
            assert main(["test", path, "--dry-run", *flags]) == 0
            out[f"{name} {flag_name}"] = capsys.readouterr().out
    return out


def test_dry_run_matches_golden(capsys, tmp_path):
    with open(GOLDEN, encoding="utf-8") as f:
        golden = json.load(f)
    got = dry_run_outputs(capsys, tmp_path)
    assert sorted(got) == sorted(golden)
    for case in golden:
        assert got[case] == golden[case], case


def _compiled_kinds():
    """Every literal ``kind="..."`` a CompiledCheck is built with."""
    with open(os.path.join(ROOT, "dcspark", "compile.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return {kw.value.value for node in ast.walk(tree) if isinstance(node, ast.Call)
            for kw in node.keywords
            if kw.arg == "kind" and isinstance(kw.value, ast.Constant)}


def test_every_compiled_kind_has_one_family():
    from dcspark.engine import FAMILIES, Validator

    kinds = _compiled_kinds()
    assert len(kinds) >= 19
    for kind in sorted(kinds):
        owners = [f for f in FAMILIES if kind in f.kinds]
        assert len(owners) == 1, (kind, owners)
    table_kinds = [k for f in FAMILIES for k in f.kinds]
    assert len(table_kinds) == len(set(table_kinds))
    assert set(table_kinds) == kinds
    for family in FAMILIES:
        assert callable(getattr(Validator, family.compute)), family.compute
