"""Modules do not reach into the merge engines' private helpers: any
``_``-prefixed name of ``operators.bucketed_join`` (the bucket kernel)
or ``operators.merge_engines`` (the Catalyst folds) used outside its
own module is a second implementation waiting to drift."""

from __future__ import annotations

import ast
import os

import flink_table_store_spark

PKG_DIR = os.path.dirname(flink_table_store_spark.__file__)
GUARDED = (
    "flink_table_store_spark.operators.bucketed_join",
    "flink_table_store_spark.operators.merge_engines",
)


def _module_name(path: str, pkg_dir: str) -> str:
    rel = os.path.relpath(path, os.path.dirname(pkg_dir))
    return rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")


def _resolve(node: ast.ImportFrom, module: str, is_pkg: bool) -> str:
    if not node.level:
        return node.module or ""
    parts = module.split(".")
    base = parts[: len(parts) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def private_uses(path: str, pkg_dir: str = PKG_DIR) -> list[str]:
    """``file:line name`` for every private name of a guarded module
    that the file imports or reads off an imported guarded module —
    except the module's own file."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    module = _module_name(path, pkg_dir)
    is_pkg = path.endswith("__init__.py")
    guarded = set(GUARDED) - {module}
    aliases: set[str] = set()  # local names bound to a guarded module
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            src = _resolve(node, module, is_pkg)
            for a in node.names:
                if src in guarded and a.name.startswith("_"):
                    found.append(f"{path}:{node.lineno} {a.name}")
                if f"{src}.{a.name}" in guarded:
                    aliases.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name in guarded and a.asname:
                    aliases.add(a.asname)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr.startswith("_")
            and not node.attr.startswith("__")
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            found.append(f"{path}:{node.lineno} {node.value.id}.{node.attr}")
    return found


def test_no_private_imports_of_the_merge_engines():
    found = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                found += private_uses(os.path.join(root, name))
    assert not found, "private merge-engine names used outside their module:\n" + "\n".join(found)


def test_checker_sees_each_import_form(tmp_path):
    pkg = tmp_path / "flink_table_store_spark"
    (pkg / "operators").mkdir(parents=True)
    src = pkg / "operators" / "probe.py"
    src.write_text(
        "from flink_table_store_spark.operators.bucketed_join import _a, ok\n"
        "from .bucketed_join import _b\n"
        "from flink_table_store_spark.operators import bucketed_join as bj\n"
        "bj._c(bj.public)\n"
        "from flink_table_store_spark.operators.merge_engines import _d, ok2\n"
        "from .merge_engines import _e\n"
        "from flink_table_store_spark.operators import merge_engines as me\n"
        "me._f(me.public)\n"
    )
    got = [s.split(" ")[1] for s in private_uses(str(src), str(pkg))]
    assert got == ["_a", "_b", "_d", "_e", "bj._c", "me._f"]
    # a module may use its own private names
    own = pkg / "operators" / "merge_engines.py"
    own.write_text(
        "from flink_table_store_spark.operators.merge_engines import _g\n"
        "from .bucketed_join import _h\n"
    )
    got = [s.split(" ")[1] for s in private_uses(str(own), str(pkg))]
    assert got == ["_h"]
