"""The Python daemon of ``worker_daemon``: Spark runs it, and its prune
of cached zipimporters keeps imports from pyspark.zip working."""

import os
import subprocess
import sys
import textwrap

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udfs_run_in_the_package_daemon(spark):
    """A pandas UDF's worker was forked by the package's daemon module."""
    import pandas as pd
    from pyspark.sql import functions as F

    from deepseek_ocr_omnidocbench_spark.session import DAEMON_MODULE

    @F.pandas_udf("string")
    def main_module(s: pd.Series) -> pd.Series:
        return s.map(lambda _: sys.modules["__main__"].__spec__.name)

    got = {r[0] for r in spark.range(4).select(main_module("id")).collect()}
    assert got == {DAEMON_MODULE}


def test_prune_keeps_archive_roots_and_imports():
    """In a fresh interpreter that imports pyspark from pyspark.zip, as
    the workers do: after the prune only archive-root zipimporters stay
    cached, and a subpackage not yet imported still imports from the zip."""
    lib = os.path.join(os.path.dirname(pyspark.__file__), "python", "lib")
    path = [os.path.join(lib, f) for f in sorted(os.listdir(lib)) if f.endswith(".zip")]
    script = textwrap.dedent("""
        import importlib, sys, zipimport
        from deepseek_ocr_omnidocbench_spark.worker_daemon import prune_zip_importers

        def zips():
            return [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]

        assert ".zip" in sys.modules["pyspark"].__file__
        assert any(f.prefix for f in zips())
        prune_zip_importers()
        assert zips() and not any(f.prefix for f in zips())
        importlib.invalidate_caches()
        assert "pyspark.sql.avro" not in sys.modules
        import pyspark.sql.avro.functions as m
        assert ".zip" in m.__file__ and m.from_avro
    """)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path + [ROOT]))
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=60)
