"""Stage 1 — cleaning.

pages(url, warc_ts, html, text, lang) → clean(url, warc_ts, clean, meta).

Spark-first notes: the lang filter is a plain Catalyst predicate (pushed to
the parquet/Iceberg scan together with column pruning — only the columns
named here are read); the heavy work is one fused Arrow-batched UDF per row
batch.  The published pipeline repartitions its page frame by xxhash64(url)
so the stage tables share a stable, url-colocated layout (north_rule
requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jionlp_spark.functions.udfs import make_clean_udf


def page_source(pages: DataFrame, lang: str | None = 'zh',
                use_html: bool = True) -> tuple:
    """→ (rows of ``lang``, source, column): raw 'html' when asked for and
    present (source 'html'), else the extracted 'text' (source 'plain')."""
    if lang is not None and 'lang' in pages.columns:
        pages = pages.filter(F.col('lang') == lang)
    if use_html and 'html' in pages.columns:
        return pages, 'html', 'html'
    return pages, 'plain', 'text'


def clean_pages(pages: DataFrame, lang: str | None = 'zh',
                use_html: bool = True) -> DataFrame:
    """→ (url, warc_ts, clean, extract_text, meta).

    ``clean`` is the reference clean_text output (redacted, byte-identical
    per url); ``extract_text`` keeps urls/emails/phones/brackets for the
    stage-2 mention sweep.

    The lazy pipeline's ``clean`` table, and the first step of the
    reference chain (clean_pages → extract_mentions → link_mentions),
    kept for perfbench's correctness check and for the tests; the
    published pipeline projects S1 from its page frame instead.
    """
    df, source, column = page_source(pages, lang, use_html)
    keep = ['url'] + (['warc_ts'] if 'warc_ts' in df.columns else [])
    clean = make_clean_udf(source)(F.col(column))
    return df.select(*keep, clean.alias('c')).select(*keep, 'c.*')
