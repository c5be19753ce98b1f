"""The --py-files ship mode: `cli package` builds the zip from the current
sources, and every module imports from that zip alone; every module is
reached from an entry point. No Spark session."""

import ast
import glob
import os
import subprocess
import sys
import zipfile

from sparkextract import cli

PKG = os.path.dirname(os.path.abspath(cli.__file__))
REPO = os.path.dirname(PKG)


def test_zip_members_are_the_package_sources(tmp_path):
    out = cli.build_zip(str(tmp_path / "sx.zip"))
    with zipfile.ZipFile(out) as z:
        members = sorted(z.namelist())
    want = sorted(f"sparkextract/{f}" for f in os.listdir(PKG) if f.endswith(".py"))
    assert members == want
    with zipfile.ZipFile(out) as z:
        for name in members:
            with open(os.path.join(REPO, name), "rb") as f:
                assert z.read(name) == f.read(), name


def test_every_module_imports_from_the_zip_alone(tmp_path):
    out = os.path.abspath(cli.build_zip(str(tmp_path / "sx.zip")))
    with zipfile.ZipFile(out) as z:
        modules = sorted(n[len("sparkextract/"):-3] for n in z.namelist())
    code = f"""
import importlib, os, sys
zp, repo = {out!r}, {REPO!r}
assert zp in sys.path, sys.path
assert not any(os.path.abspath(p or os.getcwd()) == repo for p in sys.path), sys.path
import sparkextract
assert sparkextract.__file__.startswith(zp + os.sep), sparkextract.__file__
for m in {modules!r}:
    if m == "__init__":
        continue
    mod = importlib.import_module("sparkextract." + m)
    assert mod.__file__.startswith(zp + os.sep), mod.__file__
print("ok", len({modules!r}))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = out
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.split() == ["ok", str(len(modules))]


ROOTS = (
    "__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench/*.py",
    "BENCH/*.py", "sparkextract/cli.py", "submit_job.py",
)


def _engine_imports(path: str, modules: set[str]) -> set[str]:
    """The engine modules ``path`` imports anywhere in its body, function-
    level imports included (``import sparkextract.x``, ``from sparkextract
    import x``, ``from sparkextract.x import y`` and, inside the package,
    ``from . import x`` / ``from .x import y``)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(
                a.name.split(".")[1] for a in node.names
                if a.name.startswith("sparkextract.")
            )
        elif isinstance(node, ast.ImportFrom):
            if node.level == 0 and node.module and node.module.startswith("sparkextract."):
                found.add(node.module.split(".")[1])
            elif node.level == 1 and node.module:
                found.add(node.module.split(".")[0])
            elif (node.level == 0 and node.module == "sparkextract") or (
                node.level == 1 and node.module is None
            ):
                found.update(a.name for a in node.names)
    return found & modules


def test_every_module_is_reached():
    """Every engine module is imported, directly or transitively, from a
    query, bench, perfbench or CLI entry point: code no entry point reaches
    is deleted, not carried."""
    modules = {f[:-3] for f in os.listdir(PKG) if f.endswith(".py")} - {"__init__"}
    roots = [p for pat in ROOTS for p in glob.glob(os.path.join(REPO, pat))]
    todo = {os.path.basename(p)[:-3] for p in roots if os.path.dirname(p) == PKG}
    todo |= set().union(*(_engine_imports(p, modules) for p in roots))
    reached = set()
    while todo:
        m = todo.pop()
        reached.add(m)
        todo |= _engine_imports(os.path.join(PKG, m + ".py"), modules) - reached
    assert sorted(modules - reached) == []
