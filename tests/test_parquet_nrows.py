"""catalog.parquet_rows (footer row count) must equal Spark's count() over the
same path, including files and directories Spark's listing skips."""

import os

import pyarrow as pa
import pyarrow.parquet as pq


def _write(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({'x': list(range(n))}), path)


def test_parquet_nrows_matches_spark_count(spark, tmp_path):
    from jionlp_spark.sources.catalog import parquet_rows

    root = str(tmp_path / 'tbl')
    _write(f'{root}/part-00000.parquet', 3)
    _write(f'{root}/nested/part-00001.parquet', 4)
    # skipped by Spark: '_'/'.'-prefixed files and dirs, in-flight copies
    _write(f'{root}/_x.parquet', 5)
    _write(f'{root}/.part-0.parquet', 7)
    _write(f'{root}/_tmp/part-00002.parquet', 11)
    _write(f'{root}/.hidden/part-00003.parquet', 13)
    _write(f'{root}/part-00004.parquet._COPYING_', 17)
    with open(f'{root}/_SUCCESS', 'w'):
        pass

    want = spark.read.option('recursiveFileLookup', 'true') \
        .parquet(root).count()
    assert want == 7
    assert parquet_rows(root) == want
    assert parquet_rows(f'{root}/part-00000.parquet') == 3


def test_parquet_nrows_partition_dirs(spark, tmp_path):
    from jionlp_spark.sources.catalog import parquet_rows

    # '_'-prefixed 'k=v' partition directories are read, not skipped
    root = str(tmp_path / 'parts')
    _write(f'{root}/_k=1/part-00000.parquet', 3)
    _write(f'{root}/_k=2/part-00000.parquet', 4)
    _write(f'{root}/_k=2/_x.parquet', 5)
    want = spark.read.parquet(root).count()
    assert want == 7
    assert parquet_rows(root) == want
