"""Every query name the measurement scripts hard-code is a registered
query. A query's name is its function name, so a rename would otherwise
break ``bench.py`` and ``tools/dump_plans.py`` only when they run.

Static: the scripts are parsed, not imported, and no Spark session starts.
"""

import ast
from pathlib import Path

import pytest

from autoner_spark.queries import QUERIES

ROOT = Path(__file__).resolve().parent.parent


def _string_list(path: Path, name: str) -> list[str]:
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == name
                for t in node.targets):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{path.name} defines no {name}")


@pytest.mark.parametrize("script,name", [
    ("bench.py", "HEADLINE"),
    ("bench.py", "SF1_QUERIES"),
    ("bench.py", "SF1_DROP_STATS"),
    ("tools/dump_plans.py", "QUERIES"),
])
def test_script_query_names_are_registered(script, name):
    names = _string_list(ROOT / script, name)
    assert names, f"{script}:{name} is empty"
    assert sorted(set(names) - set(QUERIES)) == [], f"{script}:{name}"
