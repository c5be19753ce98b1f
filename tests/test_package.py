"""The --py-files ship mode: `cli package` builds the zip from the current
sources, and every module imports from that zip alone. No Spark session."""

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
