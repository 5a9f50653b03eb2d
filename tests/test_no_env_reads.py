"""The engine takes its behaviour from HudiTable/WriteConfig arguments
only: no module under incubator_hudi_spark/ reads an environment variable."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "incubator_hudi_spark"
ENV_READERS = ("environ", "getenv")


def _env_reads(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ENV_READERS:
            yield node.lineno
        elif (isinstance(node, ast.ImportFrom) and node.module == "os"
              and any(a.name in ENV_READERS for a in node.names)):
            yield node.lineno


def test_engine_reads_no_environment_variable():
    found = [f"{p.relative_to(PKG.parent)}:{line}"
             for p in sorted(PKG.rglob("*.py"))
             for line in _env_reads(ast.parse(p.read_text(), str(p)))]
    assert found == []
