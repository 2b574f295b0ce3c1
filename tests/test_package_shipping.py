"""Executor workers import ``huckli_spark`` from a zip the driver ships.

The package ships at two entry points only: ``session.get_spark`` and
the registry's ``query()`` wrapper (``QuerySpec.build``). These tests
pin that, check that the shipped zip holds this checkout's sources,
and run the Python-kernel queries that once went unshipped the way the
driver contract's harness does: its own plain session, a foreign cwd,
no ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import uuid
import zipfile
from types import SimpleNamespace

import huckli_spark
from huckli_spark.session import ensure_package_on_executors
from tests.conftest import SF_SMALL

PKG_DIR = os.path.dirname(os.path.abspath(huckli_spark.__file__))
ROOT = os.path.dirname(PKG_DIR)
CHOKE_POINTS = {"session.py", os.path.join("queries", "__init__.py")}

# queries whose Python kernels (bpe, unigram_lm) no operator shipped
SWEEP = ("q_unigram_serve", "q_bpe_encode", "q_stream_unigram_encode",
         "q_bpe_fertility", "q_bpe_pack")


def _package_sources() -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(PKG_DIR):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, ROOT)] = fh.read()
    return out


def test_only_the_two_entry_points_ship_the_package():
    callers = []
    for rel in _package_sources():
        with open(os.path.join(ROOT, rel)) as fh:
            src = fh.read()
        if re.search(r"\bensure_package_on_executors\s*\(", src):
            callers.append(os.path.relpath(rel, "huckli_spark"))
    assert set(callers) == CHOKE_POINTS


def test_shipped_zip_holds_current_sources():
    """A file left at the old per-PID zip name (a recycled PID's older
    code) is never what ships."""
    stale = os.path.join(
        tempfile.gettempdir(), f"huckli_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("huckli_spark/__init__.py", "STALE = True\n")
    try:
        shipped: list[str] = []
        sc = SimpleNamespace(
            applicationId=f"app-{uuid.uuid4()}", addPyFile=shipped.append
        )
        spark = SimpleNamespace(sparkContext=sc)
        ensure_package_on_executors(spark)
        ensure_package_on_executors(spark)
        assert len(shipped) == 1 and shipped[0] != stale
        with zipfile.ZipFile(shipped[0]) as z:
            got = {n: z.read(n) for n in z.namelist()}
        assert got == _package_sources()
    finally:
        os.remove(stale)


_SWEEP_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
import __spark_entry__
from huckli_spark import session

queries = __spark_entry__.queries()
for name in {names!r}:
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        queries[name](spark, {sf!r}).write.format("noop").mode("overwrite").save()
        print("OK", name)
    except Exception as e:
        lines = str(e).splitlines() or [repr(e)]
        print("FAIL", name, next((ln for ln in lines if "Error" in ln), lines[0])[:300])
    finally:
        spark.stop()
print("ZIP", session._ZIP)
"""


def test_contract_queries_run_from_a_foreign_cwd(tmp_path):
    """Each query runs in a fresh SparkContext built with a plain
    ``SparkSession.builder``, from a cwd outside the repo with
    ``PYTHONPATH`` unset, so executors can only import the package
    from what the registry wrapper ships. The zip and the staged
    stream directories are gone at exit."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env["TMPDIR"] = str(tmpdir)
    script = _SWEEP_SCRIPT.format(root=ROOT, names=SWEEP, sf=SF_SMALL)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert [ln for ln in lines if ln.startswith("OK")] == [
        f"OK {n}" for n in SWEEP
    ], "\n".join(ln for ln in lines if ln.startswith("FAIL"))
    zpath = next(ln.split(" ", 1)[1] for ln in lines if ln.startswith("ZIP"))
    assert zpath != "None" and not os.path.exists(zpath)
    assert os.path.dirname(zpath) == str(tmpdir)
    assert not [d for d in os.listdir(tmpdir) if d.startswith("stream_")]
