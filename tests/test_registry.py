"""The registry's temporary inputs: every query that writes files does so
under one per-process root that :mod:`padawan_spark.queries.registry`
creates and removes, and a read-only input is built once per process.
The per-process Spark warehouse ``get_spark`` sets is removed the same
way."""

import ast
import os
import pathlib
import subprocess
import sys
import tempfile

_ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_only_the_registry_makes_temp_dirs():
    """No module under padawan_spark/ but queries/registry.py calls
    ``tempfile.mkdtemp`` or ``tempfile.TemporaryDirectory``: a query
    directory elsewhere would outlive the process."""
    banned = {"mkdtemp", "TemporaryDirectory"}
    allowed = _ROOT / "padawan_spark" / "queries" / "registry.py"
    found = []
    for p in sorted((_ROOT / "padawan_spark").rglob("*.py")):
        if p == allowed:
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name)
                    else None)
            if name in banned:
                found.append(f"{p.relative_to(_ROOT)}:{node.lineno}")
            if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                found += [f"{p.relative_to(_ROOT)}:{node.lineno}"
                          for a in node.names if a.name in banned]
    assert not found, found


def _tree(path):
    return sorted((os.path.relpath(os.path.join(d, f), path),
                   os.stat(os.path.join(d, f)).st_size,
                   os.stat(os.path.join(d, f)).st_mtime_ns)
                  for d, _, fs in os.walk(path) for f in fs)


def test_queries_reuse_fixtures_under_one_root(spark, sf_dir, count_jobs,
                                               monkeypatch):
    """Each query called twice in one process, from a fresh registry
    state: everything written lands under one new root in the temp
    directory; a read-only input is built by the first call only, so
    the second leaves its tree as it was and runs fewer build jobs (or
    none, when the build runs none); a query whose subject is the write
    gets a fresh directory each call."""
    from padawan_spark.queries import QUERIES, registry

    read_only = ["src_delta_read", "src_iceberg_read", "src_hudi_read",
                 "mm_binaryfile_ingest"]
    names = read_only + ["adv_csv_roundtrip", "op_delete_rows"]
    # the JVM unpacks its native codecs and Spark its session artifacts
    # into the temp directory on first use: one warm-up call each first
    monkeypatch.setattr(registry, "_FIXTURES", {})
    for name in names:
        QUERIES[name](spark, sf_dir).collect()
    monkeypatch.setattr(registry, "_ROOT", None)
    monkeypatch.setattr(registry, "_FIXTURES", {})
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for name in names:
        (df1, jobs1) = count_jobs(QUERIES[name], spark, sf_dir)
        rows1 = sorted(df1.collect())
        fixtures = [p for (n, _), p in registry._FIXTURES.items() if n == name]
        trees = [_tree(p) for p in fixtures]
        (df2, jobs2) = count_jobs(QUERIES[name], spark, sf_dir)
        assert sorted(df2.collect()) == rows1, name
        if name in read_only:
            assert len(fixtures) == 1, name
            assert [_tree(p) for p in fixtures] == trees, name
            # mm_binaryfile_ingest's payloads are written without Spark
            assert jobs2 < jobs1 if jobs1 else jobs2 == 0, (name, jobs1, jobs2)
        else:
            assert not fixtures, name
    root = registry._root()
    assert os.path.dirname(root) == tmp
    assert set(os.listdir(tmp)) - before == {os.path.basename(root)}


_CHILD = """
import os, sys
from padawan_spark.queries import registry

def build(path):
    os.makedirs(path)
    open(os.path.join(path, "x"), "w").close()

path = registry.fixture(sys.argv[1], "child", build)
assert registry.fixture(sys.argv[1], "child", None) == path
root = registry._root()
pid = os.fork()
if pid == 0:
    sys.exit(0)            # runs the inherited exit hooks
os.waitpid(pid, 0)
assert os.path.isdir(root), "a forked child removed its parent's root"
print(root)
"""


def test_child_process_removes_its_root(sf_dir):
    """The process that created the root removes it at exit, and a child
    it forks leaves it alone."""
    out = subprocess.run([sys.executable, "-c", _CHILD, sf_dir],
                         cwd=_ROOT, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(root).startswith("padawan_")
    assert not os.path.exists(root)


_WAREHOUSE_CHILD = """
import os, sys
from urllib.parse import urlparse
from padawan_spark import get_spark

own = {"spark.sql.warehouse.dir": sys.argv[1]} if sys.argv[1:] else None
spark = get_spark(master="local[1]", extra_conf=own)
spark.range(3).write.saveAsTable("t")
wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
assert os.path.isdir(os.path.join(wh, "t")), wh
print(wh)
"""


def test_child_process_removes_its_warehouse(tmp_path):
    """A process whose session uses the default per-process warehouse
    removes it at exit, tables and all; a session given its own
    ``spark.sql.warehouse.dir`` keeps it."""
    def run(*args):
        out = subprocess.run(
            [sys.executable, "-c", _WAREHOUSE_CHILD, *args], cwd=_ROOT,
            capture_output=True, text=True, timeout=300,
            env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"))
        assert out.returncode == 0, out.stderr
        return out.stdout.strip().splitlines()[-1]

    wh = run()
    assert os.path.basename(wh).startswith("padawan_warehouse_")
    assert not os.path.exists(wh)
    own = str(tmp_path / "wh")
    assert run(own) == own
    assert os.path.isdir(os.path.join(own, "t"))
