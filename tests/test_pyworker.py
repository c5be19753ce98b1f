"""The Python-worker zipimport hook (``sparkextract.pyworker``).

(a) without Spark: an unchanged archive is not re-read, a rewritten one
is; (b) a reused Spark worker keeps the hook across jobs; (c) every UDF
body in ``sparkextract/`` installs the hook before anything else."""

import ast
import os
import sys
import zipfile
import zipimport

import pandas as pd

from sparkextract import pyworker

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sparkextract")
UDF_METHODS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "applyInPandasWithState",
}


def test_hook_rereads_only_changed_archives(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("a.py", "X = 1\n")
    imp = zipimport.zipimporter(arc)
    reread = pyworker._reread
    calls = []

    def spy(self):
        calls.append(self.archive)
        reread(self)

    # restores the unhooked method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", reread)
    monkeypatch.setattr(pyworker, "_reread", spy)
    monkeypatch.setitem(sys.path_importer_cache, arc, imp)
    pyworker.install()
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker._invalidate_if_changed

    imp.invalidate_caches()
    assert calls == []
    assert imp.find_spec("a") is not None and imp.find_spec("b") is None

    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("a.py", "X = 1\n")
        z.writestr("b.py", "Y = 2\n")
    imp.invalidate_caches()
    assert calls == [arc]
    assert imp.find_spec("b") is not None
    imp.invalidate_caches()
    assert calls == [arc]


def test_hook_survives_in_reused_worker(spark):
    def _report_hooked(it):  # nested: shipped by value, tests/ is not on the workers' path
        import zipimport

        from sparkextract import pyworker

        hooked = zipimport.zipimporter.invalidate_caches is pyworker._invalidate_if_changed
        pyworker.install()
        for _ in it:
            pass
        yield pd.DataFrame({"hooked": [hooked]})

    # the first job runs on every idle worker of the pool (tasks take the
    # oldest idle worker first), so the second job's worker was hooked by it
    spark.range(0, 32, 1, 32).mapInPandas(_report_hooked, "hooked boolean").collect()
    rows = spark.range(0, 1, 1, 1).mapInPandas(_report_hooked, "hooked boolean").collect()
    assert [r.hooked for r in rows] == [True]


def _is_install_call(stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Call)
        and ast.unparse(stmt.value.func) == "pyworker.install"
    )


def _first_stmt_installs(fn) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    return bool(body) and _is_install_call(body[0])


def _udf_bodies(tree):
    """(line, FunctionDef or None) for every function the module hands to a
    Arrow or pandas UDF API; None when the argument cannot be resolved to a def."""
    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node
    defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]

    def scope_of(node):
        node = parents.get(node)
        while node is not None and not isinstance(node, (ast.FunctionDef, ast.Module)):
            node = parents.get(node)
        return node

    def lookup(name, at):
        """The def ``name`` refers to at node ``at`` (innermost scope first)."""
        scope = scope_of(at)
        while scope is not None:
            for d in defs:
                if d.name == name and scope_of(d) is scope:
                    return d
            scope = scope_of(scope)
        return None

    def resolve(arg):
        if isinstance(arg, ast.Name):
            return lookup(arg.id, arg)
        if isinstance(arg, ast.Lambda) and isinstance(arg.body, ast.Call):
            return resolve(arg.body.func)
        if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            # a kernel factory: the UDF body is the def it returns
            factory = lookup(arg.func.id, arg)
            rets = [s for s in factory.body if isinstance(s, ast.Return)] if factory else []
            return resolve(rets[-1].value) if rets else None
        return None

    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in UDF_METHODS
        ):
            yield node.lineno, resolve(node.args[0]) if node.args else None
    for d in defs:
        if any("pandas_udf" in ast.unparse(dec) for dec in d.decorator_list):
            yield d.lineno, d


def test_every_udf_body_installs_hook_first():
    bad, seen = [], 0
    for name in sorted(os.listdir(PKG)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(PKG, name)) as f:
            tree = ast.parse(f.read())
        for line, fn in _udf_bodies(tree):
            seen += 1
            if fn is None or not _first_stmt_installs(fn):
                bad.append(f"{name}:{line}")
    assert seen == 11, seen
    assert bad == [], "UDF bodies that do not call pyworker.install() first: " + ", ".join(bad)
