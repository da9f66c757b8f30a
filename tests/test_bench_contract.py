"""The benchmark's calls into the package still bind.

perfbench/ calls library functions by name (its traced replay calls the
pipeline's internal layers one by one), and a benchmark run that raises
counts as a failed run. This test parses perfbench's sources and binds
every call of a `panako_spark` function to that function's signature, so
a renamed function, a deleted keyword or a changed positional count fails
here instead of in a benchmark run. Spark-free: nothing is called.

Covered: imported names (`run_verify(...)`), attributes of imported
modules (`C.landmark_hits(...)`), and methods of a local variable that
was assigned a package class (`store = CheckpointStore(...)`, then
`store.write(...)`).
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
PACKAGE = "panako_spark"


def _imports(tree: ast.AST) -> dict[str, object]:
    """local name -> package object, for every import of the package."""
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
                node.module or "").split(".")[0] == PACKAGE:
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if obj is None:  # a submodule: `from pkg import stages`
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


def _instances(tree: ast.AST, names: dict) -> dict[str, type]:
    """local variable -> package class, for `x = Class(...)`."""
    out: dict[str, type] = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Name)
                and inspect.isclass(names.get(node.value.func.id))):
            out[node.targets[0].id] = names[node.value.func.id]
    return out


def _target(func: ast.expr, names: dict, instances: dict):
    """(package callable a call expression names, or None; whether the
    call passes `self` implicitly)."""
    if isinstance(func, ast.Name):
        return names.get(func.id), False
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        owner = names.get(func.value.id)
        if inspect.ismodule(owner):
            return getattr(owner, func.attr), False
        cls = instances.get(func.value.id)
        if cls is not None:
            raw = inspect.getattr_static(cls, func.attr)
            return getattr(cls, func.attr), inspect.isfunction(raw)
    return None, False


def contract_errors(source: str, where: str = "<source>"
                    ) -> tuple[int, list[str]]:
    """(calls checked, binding errors) for one perfbench source file."""
    tree = ast.parse(source)
    names = _imports(tree)
    instances = _instances(tree, names)
    checked, errors = 0, []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn, has_self = _target(node.func, names, instances)
        if not callable(fn):
            continue
        n_pos = len(node.args) + has_self
        kws = [k.arg for k in node.keywords]
        if None in kws or any(isinstance(a, ast.Starred) for a in node.args):
            continue  # *args / **kwargs: nothing static to bind
        checked += 1
        try:
            inspect.signature(fn).bind(*range(n_pos), **dict.fromkeys(kws))
        except TypeError as e:
            errors.append(f"{where}:{node.lineno}: "
                          f"{ast.unparse(node.func)}(...): {e}")
    return checked, errors


def test_perfbench_calls_bind_to_package_signatures():
    total, errors = 0, []
    for fname in sorted(os.listdir(PERFBENCH)):
        if fname.endswith(".py"):
            with open(os.path.join(PERFBENCH, fname)) as f:
                n, errs = contract_errors(f.read(), f"perfbench/{fname}")
            total += n
            errors += errs
    assert not errors, "\n".join(errors)
    # the replay's layer calls are all seen (guards a vacuous pass)
    assert total >= 20, total


def test_checker_flags_unknown_keyword_and_positional_count():
    src = ("from panako_spark.stages import candidates as C\n"
           "from panako_spark.stages.verify import run_verify\n"
           "from panako_spark.io.checkpoint import CheckpointStore\n"
           "store = CheckpointStore('p')\n"
           "C.landmark_hits(p, cfg, numeric_ids=True, n_images=3)\n"
           "C.landmark_hits(p, cfg, no_such_flag=True)\n"
           "run_verify(h, cfg, True, 1, 2)\n"
           "store.read(spark, 'prints')\n"
           "store.read(spark, 'prints', 'x', 'y', 'z')\n")
    checked, errors = contract_errors(src)
    assert checked == 6
    assert [e.split(":")[1] for e in errors] == ["6", "7", "9"], errors
