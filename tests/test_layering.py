"""Layering guard: io.checkpoint.CheckpointStore is the only module that
knows the storage backend. Code outside panako_spark/io/ goes through its
public methods (write/append/delete_ids/drop/read/check_config_fp) and
never reaches the backend flag, the Iceberg writer or the manifest
stamp directly."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "panako_spark"
STORE_INTERNALS = {"_iceberg", "_use_iceberg", "_mark_complete", "iceberg"}


def test_store_internals_stay_inside_io():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] == "io":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Attribute)
                    and node.attr in STORE_INTERNALS):
                offenders.append(f"{rel}:{node.lineno} .{node.attr}")
    assert not offenders, (
        "store internals used outside panako_spark/io/ — add a "
        "CheckpointStore method instead:\n" + "\n".join(offenders))
