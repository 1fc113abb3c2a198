"""Guard: crawlspark/ reads no environment variable except session.py's
deployment settings.

A behaviour switch read from the environment is a configuration that no
config object shows and no test covers by default. Engine and library
behaviour is set through CrawlConfig / AppConfig; the environment only
says where and how big the Spark deployment is.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "crawlspark"

DEPLOYMENT_ENV = {
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_CPUS",
    "CRAWLSPARK_DRIVER_MEM",
    "PYSPARK_GATEWAY_PORT",
    "SPARK_HOME",
}


def _is_environ(node):
    return (
        isinstance(node, ast.Attribute) and node.attr == "environ"
        and isinstance(node.value, ast.Name) and node.value.id == "os"
    ) or (isinstance(node, ast.Name) and node.id == "environ")


def _is_getenv(node):
    return (
        isinstance(node, ast.Attribute) and node.attr == "getenv"
        and isinstance(node.value, ast.Name) and node.value.id == "os"
    ) or (isinstance(node, ast.Name) and node.id == "getenv")


def _const(node):
    return node.value if isinstance(node, ast.Constant) else None


def env_reads(tree):
    """(line, key) for every environment read; key is None when the name
    is not a string literal. A bare `os.environ.setdefault(...)` statement
    (its result unused) exports a default and is not a read."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        if _is_getenv(node):
            call = parent.get(node)
            key = _const(call.args[0]) if isinstance(call, ast.Call) and call.args else None
            reads.append((node.lineno, key))
        elif _is_environ(node):
            up = parent.get(node)
            if isinstance(up, ast.Attribute) and isinstance(parent.get(up), ast.Call):
                call = parent[up]
                if up.attr == "setdefault" and isinstance(parent.get(call), ast.Expr):
                    continue
                reads.append((node.lineno, _const(call.args[0]) if call.args else None))
            elif isinstance(up, ast.Subscript):
                if isinstance(up.ctx, ast.Load):
                    reads.append((node.lineno, _const(up.slice)))
            elif isinstance(up, ast.Compare) and up.comparators[0] is node:
                reads.append((node.lineno, _const(up.left)))
            else:
                reads.append((node.lineno, None))
    return reads


def test_scanner_finds_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.getenv('B')\n"
        "c = os.environ['C']\n"
        "d = 'D' in os.environ\n"
        "e = dict(os.environ)\n"
        "f = os.environ.setdefault('F', '1')\n"
        "os.environ.setdefault('G', '1')\n"
        "os.environ['H'] = '1'\n"
    )
    got = sorted(env_reads(ast.parse(src)), key=lambda r: r[0])
    assert got == [(2, "A"), (3, "B"), (4, "C"), (5, "D"), (6, None), (7, "F")]


def test_only_session_reads_deployment_env():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        for line, key in env_reads(ast.parse(path.read_text(), str(path))):
            if path.name != "session.py" or key not in DEPLOYMENT_ENV:
                bad.append(f"{path.relative_to(PKG.parent)}:{line} reads {key!r}")
    assert not bad, "environment switches outside session.py: " + "; ".join(bad)
