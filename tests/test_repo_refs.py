"""Every `tools/<name>.py` that the docs, the bench and the code name must
exist, so a deleted tool leaves no dangling reference behind. A path
pinned to a commit (`<sha>:tools/<name>.py`) names a deleted script on
purpose and is not checked. Calls from the scripts into sparkdedup
must bind to the callee's signature."""

import ast
import glob
import importlib
import inspect
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ["README.md", "COVERAGE.md", "bench.py", "tests/*.py", "tools/*.py"]
TOOL_PATH = re.compile(r"(\b[0-9a-f]{7,40}:)?\btools/(\w+)\.py\b")


def test_named_tool_paths_exist():
    missing = []
    for pattern in SCANNED:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for m in TOOL_PATH.finditer(text):
                pinned, name = m.groups()
                if not pinned and not os.path.exists(os.path.join(REPO, "tools", name + ".py")):
                    missing.append(f"{os.path.relpath(path, REPO)}: tools/{name}.py")
    assert not missing, missing


# --- calls into sparkdedup from the scripts no tier-1 test imports --------

CALLERS = ["bench.py", "__spark_entry__.py", "tools/*.py"]


class _AnyField(dict):
    def __missing__(self, key):
        return "_"


def _scripts(path):
    """(AST, line offset) of the file, and of every string in it that is
    itself a script importing sparkdedup (the tools' ``_JOB.format(...)``
    subprocess templates)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    yield tree, 0
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
            continue
        if not re.search(r"^\s*(from|import) sparkdedup", node.value, re.M):
            continue
        try:
            script = ast.parse(node.value)
        except SyntaxError:
            # a str.format template: fill its fields, unescape {{ }}
            script = ast.parse(node.value.format_map(_AnyField()))
        yield script, node.lineno - 1


def _sparkdedup_names(tree):
    """local name -> the sparkdedup object (function, class or module)
    it was imported as, over every import in ``tree``."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("sparkdedup"):
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if obj is None:  # a submodule: from sparkdedup import pipeline
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("sparkdedup.") and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


def _callee(func, names):
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        mod = names.get(func.value.id)
        if inspect.ismodule(mod):
            return getattr(mod, func.attr, None)
    return None


def test_script_calls_bind_to_sparkdedup_signatures():
    """Every call from the entry, the bench and the tools into sparkdedup
    binds to the callee's signature: a keyword or positional argument
    that the callee no longer takes fails here, not in a script run."""
    bad, checked = [], set()
    for pattern in CALLERS:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            rel = os.path.relpath(path, REPO)
            for tree, offset in _scripts(path):
                names = _sparkdedup_names(tree)
                for node in ast.walk(tree):
                    if not isinstance(node, ast.Call):
                        continue
                    f = _callee(node.func, names)
                    if f is None or inspect.ismodule(f):
                        continue
                    try:
                        sig = inspect.signature(f)
                    except (TypeError, ValueError):
                        continue
                    starred = any(isinstance(a, ast.Starred) for a in node.args)
                    n_pos = 0 if starred else len(node.args)
                    kw = {k.arg: None for k in node.keywords if k.arg is not None}
                    try:
                        sig.bind_partial(*[None] * n_pos, **kw)
                    except TypeError as e:
                        bad.append(f"{rel}:{offset + node.lineno}: {f.__name__}: {e}")
                    checked.add((rel, f.__name__))
    assert not bad, bad
    # the templates and the entry's lazy calls are really seen
    assert {
        ("tools/run_scaling.py", "minhash_dedup"),
        ("tools/cluster_scaling.py", "minhash_dedup"),
        ("__spark_entry__.py", "ann_dedup"),
        ("__spark_entry__.py", "substring_dedup"),
    } <= checked
