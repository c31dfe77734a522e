"""Kernel contract: every module under jionlp_spark/kernels/ imports with
pyspark unavailable, so kernels stay plain Python that any runtime (driver,
Arrow worker, a test without a JVM) can load."""

import os
import pkgutil
import subprocess
import sys

import jionlp_spark.kernels as kernels

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_kernels_import_without_pyspark():
    names = sorted(m.name for m in pkgutil.iter_modules(kernels.__path__))
    assert 'mentions' in names
    # a None entry makes every `import pyspark…` raise ImportError
    script = (
        "import importlib, sys\n"
        "sys.modules['pyspark'] = None\n"
        f"for name in {names!r}:\n"
        "    importlib.import_module('jionlp_spark.kernels.' + name)\n"
        "leaked = sorted(m for m in sys.modules if m.startswith('pyspark.'))\n"
        "assert not leaked, leaked\n")
    res = subprocess.run([sys.executable, '-c', script], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr
