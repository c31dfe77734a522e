"""Stage 1 — cleaning.

pages(url, warc_ts, html, text, lang) → clean(url, warc_ts, clean, meta).

Spark-first notes: the lang filter is a plain Catalyst predicate (pushed to
the parquet/Iceberg scan together with column pruning — only the columns
named here are read); the heavy work is one fused Arrow-batched UDF per row
batch.  Output is repartitioned by xxhash64(url) so downstream stages see a
stable, url-colocated layout (north_rule requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jionlp_spark.functions.udfs import (
    clean_html_text_udf,
    clean_plain_text_udf,
)


def clean_pages(pages: DataFrame, lang: str | None = 'zh',
                use_html: bool = True,
                num_partitions: int | None = None) -> DataFrame:
    """→ (url, warc_ts, clean, extract_text, meta).

    ``clean`` is the reference clean_text output (redacted, byte-identical
    per url); ``extract_text`` keeps urls/emails/phones/brackets for the
    stage-2 mention sweep.
    """
    df = pages
    if lang is not None and 'lang' in df.columns:
        df = df.filter(F.col('lang') == lang)

    keep = ['url'] + (['warc_ts'] if 'warc_ts' in df.columns else [])
    src = clean_html_text_udf(F.col('html')) \
        if use_html and 'html' in df.columns \
        else clean_plain_text_udf(F.col('text'))
    df = df.select(*keep, src.alias('c')) \
        .select(*keep,
                F.col('c.clean').alias('clean'),
                F.col('c.extract_text').alias('extract_text'),
                F.col('c.meta').alias('meta'))

    if num_partitions:
        df = df.repartition(num_partitions, F.xxhash64('url'))
    return df
