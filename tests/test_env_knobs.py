"""The package reads only the deployment settings from the environment.

Pure python, no Spark: every ``os.environ.get(...)``, ``os.getenv(...)``
and ``os.environ[...]`` read under ``grapefruit_spark/`` is collected
from the AST, so a new user-facing env knob cannot appear unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "grapefruit_spark"

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CHECKPOINT_DIR"}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _name(arg: ast.AST, where: str) -> str:
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    return f"<non-literal at {where}>"


def env_reads(root: Path = PACKAGE) -> dict[str, list[str]]:
    """env var name → the ``file:line`` sites that read it."""
    found: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(root.parent)}:{getattr(node, 'lineno', 0)}"
            arg = None
            if isinstance(node, ast.Call) and node.args:
                f = node.func
                if isinstance(f, ast.Attribute) and (
                    (f.attr == "get" and _is_os_environ(f.value))
                    or (
                        f.attr == "getenv"
                        and isinstance(f.value, ast.Name)
                        and f.value.id == "os"
                    )
                ):
                    arg = node.args[0]
            elif (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Load)
                and _is_os_environ(node.value)
            ):
                arg = node.slice
            if arg is not None:
                found.setdefault(_name(arg, where), []).append(where)
    return found


def test_only_deployment_settings_are_read():
    reads = env_reads()
    assert set(reads) == ALLOWED, {k: v for k, v in reads.items() if k not in ALLOWED}


def test_scanner_sees_every_read_form(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import os\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.getenv('B')\n"
        "c = os.environ['C']\n"
        "d = os.environ.get(key)\n"
        "os.environ['IGNORED_WRITE'] = '1'\n"
    )
    assert set(env_reads(pkg)) == {"A", "B", "C", "<non-literal at pkg/m.py:5>"}
