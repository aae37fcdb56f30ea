"""Source scan that keeps two consolidations from eroding:

- every ``LBF_*`` environment read lives in ``lbf_spark/session.py``
  (deployment sizing); engine thresholds are module constants;
- every ``_jdf`` (py4j/Catalyst) reach-in lives in ``lbf_spark/util.py``,
  so a Spark internal that moves breaks one module, not five.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "lbf_spark"


def _name(node) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _lbf_env_reads(tree: ast.AST):
    """Line numbers of ``os.environ[...]``, ``os.environ.<m>(...)`` and
    ``os.getenv(...)`` whose key is an ``LBF_*`` string literal."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.args and (
                node.func.attr == "getenv"
                or _name(node.func.value) == "environ"
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _name(node.value) == "environ":
            key = node.slice
        if isinstance(key, ast.Constant) and str(key.value).startswith("LBF_"):
            yield node.lineno


def test_env_reads_in_session_and_jdf_in_util_only():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if rel != "session.py":
            offenders += [
                f"{rel}:{n}: LBF_* env read"
                for n in _lbf_env_reads(ast.parse(src))
            ]
        if rel != "util.py":
            offenders += [
                f"{rel}:{n}: _jdf"
                for n, line in enumerate(src.splitlines(), 1)
                if "_jdf" in line
            ]
    assert not offenders, "\n".join(offenders)
