"""Helpers shared by bench_extra.py, scale_bench.py and scaling_bench.py
(bench.py, the frozen driver contract, keeps its own copies)."""

import os
import shutil


def force_full(df):
    """Make ``.count()`` evaluate EVERY column of ``df`` (bench.py's digest
    force).  A bare count lets Catalyst prune whatever doesn't change
    cardinality: aggregate value columns, unused window nodes with their
    exchanges, a keyless final aggregate.  A data-dependent filter on an
    all-columns digest makes the row count depend on every value."""
    from pyspark.sql import functions as F
    return (df.withColumn('__d', F.md5(F.to_json(F.struct('*'))))
            .filter(F.col('__d') >= '0'))


def materialize_pages(spark, path: str, n_pages: int) -> str:
    """Write the deterministic ``n_pages`` synthetic corpus to ``path``
    once, as 256 files.  Each writer stages into its own pid-suffixed dir
    and renames it into place; a writer that loses the race drops its
    copy."""
    if not os.path.exists(path):
        from jionlp_spark.sources.pages import write_pages
        tmp = f'{path}.tmp{os.getpid()}'
        write_pages(spark, tmp, n_pages, num_partitions=256)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return path
