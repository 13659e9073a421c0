"""The slow set (conftest.SLOW_TESTS) must name real tests.

pytest.ini deselects the slow set by node id, so an id whose test was
deleted or renamed no longer deselects anything and nothing reports
it.  These checks parse the test files instead of collecting them, so
they need no Spark session."""

import ast
import pathlib

from heatmap_spark.queries import REGISTRY

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _slow_tests() -> set[str]:
    tree = ast.parse((ROOT / "tests" / "conftest.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "SLOW_TESTS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("tests/conftest.py defines no SLOW_TESTS")


def _test_functions(path: pathlib.Path) -> set[str]:
    tree = ast.parse(path.read_text())
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name.startswith("test")
    }


def test_slow_ids_name_existing_tests():
    defined: dict[str, set[str]] = {}
    stale = []
    for node_id in sorted(_slow_tests()):
        path, _, func = node_id.partition("::")
        func = func.split("[", 1)[0]
        file = ROOT / path
        if not file.is_file():
            stale.append(f"{node_id}: no file {path}")
            continue
        if path not in defined:
            defined[path] = _test_functions(file)
        if func not in defined[path]:
            stale.append(f"{node_id}: {path} defines no {func}")
    assert not stale, "stale SLOW_TESTS ids:\n" + "\n".join(stale)


def test_slow_oracle_ids_name_registry_queries():
    """test_oracle.py parametrizes test_oracle_match over the queries
    with an oracle and test_rows_only_runs over the rest, by name."""
    wants_oracle = {"test_oracle_match": True, "test_rows_only_runs": False}
    stale = []
    for node_id in sorted(_slow_tests()):
        path, _, rest = node_id.partition("::")
        if path != "tests/test_oracle.py" or "[" not in rest:
            continue
        func, _, param = rest.partition("[")
        name = param.rstrip("]")
        if name not in REGISTRY:
            stale.append(f"{node_id}: {name} is not a REGISTRY query")
        elif func in wants_oracle and bool(REGISTRY[name].oracle) != wants_oracle[func]:
            stale.append(f"{node_id}: {name} is not collected by {func}")
    assert not stale, "stale SLOW_TESTS ids:\n" + "\n".join(stale)
