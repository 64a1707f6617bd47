"""Static lint that keeps the driver-tier gate single.

Every driver tier reaches the driver through
`core.driver_tier.collect_bounded` and goes back into Spark through
`core.io.local_frame`; a second hand-rolled collect or return path is how
the tiers' decline rules drifted apart before the gate existed. Pure
source/AST checks, no Spark session:

1. ``toPandas(`` and the tier switch ``GENERAL_DRIVER_TIER_ENABLED``
   appear in the package only in ``core/driver_tier.py``.
2. ``createDataFrame(`` outside ``core/io.py`` takes only an inline row
   literal (a list, tuple or comprehension). A lint cannot tell a pandas
   frame from a row list behind a name, so any other first argument fails
   here — literal frames go through `local_frame`.
3. No module outside ``core/driver_tier.py`` assigns a module-level
   ``*_ENABLED`` switch: one switch turns the tiers off, so a tiers-off
   run really is the distributed paths alone.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hadoop_data_lake_spark")
GATE = os.path.join("core", "driver_tier.py")
LITERAL_FRAMES = os.path.join("core", "io.py")
_ROW_LITERALS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)


def _modules():
    for root, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PACKAGE), path


def _lines_outside_gate(needle: str) -> list[str]:
    hits = []
    for rel, path in _modules():
        if rel == GATE:
            continue
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                if needle in line:
                    hits.append(f"{rel}:{n}: {line.strip()}")
    return hits


def test_topandas_only_in_the_gate():
    offenders = _lines_outside_gate("toPandas(")
    assert not offenders, "toPandas( outside core/driver_tier.py:\n" + "\n".join(
        offenders
    )


def test_tier_switch_only_in_the_gate():
    offenders = _lines_outside_gate("GENERAL_DRIVER_TIER_ENABLED")
    assert not offenders, "tier switch outside core/driver_tier.py:\n" + "\n".join(
        offenders
    )


def _module_switches(tree: ast.Module) -> list[tuple[int, str]]:
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        found += [
            (node.lineno, t.id)
            for t in targets
            if isinstance(t, ast.Name) and t.id.endswith("_ENABLED")
        ]
    return found


def test_no_module_switch_outside_the_gate():
    offenders = []
    for rel, path in _modules():
        if rel == GATE:
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        offenders += [f"{rel}:{n}: {name}" for n, name in _module_switches(tree)]
    assert not offenders, "module-level switch outside core/driver_tier.py:\n" + (
        "\n".join(offenders)
    )


def test_lint_flags_a_module_switch():
    """The rule is not vacuous: a module-level switch is caught, a local
    or attribute assignment is not."""
    src = (
        "FAST_PATH_ENABLED = True\n"
        "X: bool = False\n"
        "SLOW_ENABLED: bool = False\n"
        "def f():\n"
        "    LOCAL_ENABLED = 1\n"
        "DT.GENERAL_DRIVER_TIER_ENABLED = False\n"
    )
    assert _module_switches(ast.parse(src)) == [
        (1, "FAST_PATH_ENABLED"),
        (3, "SLOW_ENABLED"),
    ]


def _create_dataframe_calls(tree: ast.AST):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node


def test_create_dataframe_takes_only_row_literals_outside_io():
    offenders = []
    for rel, path in _modules():
        if rel == LITERAL_FRAMES:
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for call in _create_dataframe_calls(tree):
            first = call.args[0] if call.args else None
            if not isinstance(first, _ROW_LITERALS):
                offenders.append(f"{rel}:{call.lineno}")
    assert not offenders, (
        "createDataFrame( with a non-literal first argument outside "
        "core/io.py (use core.io.local_frame):\n" + "\n".join(offenders)
    )


def test_lint_flags_a_pandas_return():
    """The rule is not vacuous: a tier's hand-built pandas return is caught."""
    src = (
        "def tier(spark, pdf, schema):\n"
        "    return spark.createDataFrame(pd.DataFrame(pdf), schema)\n"
        "def rows(spark):\n"
        "    return spark.createDataFrame([], 'a long')\n"
    )
    calls = list(_create_dataframe_calls(ast.parse(src)))
    assert [isinstance(c.args[0], _ROW_LITERALS) for c in calls] == [False, True]
