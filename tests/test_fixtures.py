"""The committed reference fixtures under tests/data/ are exactly what
the documented generator, tests/data/make_fixtures.py, writes — so the
binaries cannot drift from FIXTURES.md. Spark-free."""

import ast
import hashlib
import importlib.util
import os

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
GENERATOR = os.path.join(DATA, "make_fixtures.py")


def _load_generator():
    spec = importlib.util.spec_from_file_location("make_fixtures", GENERATOR)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generator_reproduces_committed_fixtures(tmp_path):
    written = _load_generator().build(str(tmp_path))
    rels = sorted(os.path.relpath(p, tmp_path) for p in written)
    committed = sorted(
        os.path.relpath(os.path.join(root, f), DATA)
        for root, _dirs, files in os.walk(DATA)
        for f in files if f.endswith(".fits"))
    assert rels == committed
    for rel in rels:
        assert _sha256(tmp_path / rel) == _sha256(os.path.join(DATA, rel)), rel


def test_generator_is_independent_of_the_package():
    """Fixtures written by our own writer would only check that reader
    and writer agree; the generator uses numpy and the standard only."""
    with open(GENERATOR) as f:
        tree = ast.parse(f.read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            imported.add((node.module or "").split(".")[0])
    assert "spark_fits_spark" not in imported, imported
