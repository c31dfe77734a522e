"""Stage 2 — mention detection (and stages 1-3 fused: linked_mentions for
the lazy path, page_frame for the published one; mention_tables projects
both into the same stage-2 and stage-3 tables).

clean(url, warc_ts, clean) → mentions(url, warc_ts, text, offset_start,
offset_end, mention_type, norm): one row per typed mention, long format.

One pandas UDF over kernels/mentions.py runs the rule sweep, the money and
time extractors and, when a lexicon trie is supplied, FMM lexicon NER in a
single pass per Arrow batch; each document row is scanned once and exploded
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jionlp_spark.functions.udfs import (PAGE_MENTION_TYPE,
                                         make_linked_mentions_udf,
                                         make_mentions_udf, make_page_udf)
from jionlp_spark.operators.clean import page_source


def _time_base(df: DataFrame):
    """The time base of time parsing: warc_ts, or a null timestamp."""
    return F.col('warc_ts') if 'warc_ts' in df.columns \
        else F.lit(None).cast('timestamp')


def _explode(df: DataFrame, mention_array, keep_cols) -> DataFrame:
    """One row per mention: the ``keep_cols`` of ``df``, then its fields."""
    keep = [F.col(c) for c in keep_cols if c in df.columns]
    return (df.select(*keep, F.explode(mention_array).alias('m'))
            .select(*keep, 'm.*'))


def extract_mentions(clean_df: DataFrame,
                     lexicon_trie_broadcast=None) -> DataFrame:
    mention_array = make_mentions_udf(lexicon_trie_broadcast)(
        F.col('extract_text'), _time_base(clean_df))
    return _explode(clean_df, mention_array, ('url', 'warc_ts'))


def linked_mentions(pages: DataFrame, bundle_broadcast,
                    lexicon_trie_broadcast=None, lang: str | None = 'zh',
                    use_html: bool = True,
                    keep_cols=('url', 'warc_ts')) -> DataFrame:
    """pages → one row per linked mention (the ``keep_cols``, then the
    PAGE_MENTION_TYPE fields) from ONE ArrowEvalPython node straight off
    the page column, without the redaction chain that only the `clean`
    column needs; mention_tables projects stages 2 and 3."""
    df, source, column = page_source(pages, lang, use_html)
    fused = make_linked_mentions_udf(bundle_broadcast, lexicon_trie_broadcast,
                                     source=source)
    return _explode(df, fused(F.col(column), _time_base(df)), keep_cols)


def page_frame(pages: DataFrame, bundle_broadcast,
               lexicon_trie_broadcast=None, lang: str | None = 'zh',
               use_html: bool = True) -> DataFrame:
    """pages → (url, warc_ts, clean, extract_text, meta, mentions): the
    clean_pages columns plus each page's linked mentions (PAGE_MENTION_TYPE)
    from ONE ArrowEvalPython node; stage_tables projects stages 1-3."""
    df, source, column = page_source(pages, lang, use_html)
    keep = ['url'] + (['warc_ts'] if 'warc_ts' in df.columns else [])
    page = make_page_udf(bundle_broadcast, lexicon_trie_broadcast,
                         source=source)
    return (df.select(*keep, page(F.col(column), _time_base(df)).alias('p'))
            .select(*keep, 'p.*'))


MENTION_COLS = ('text', 'offset_start', 'offset_end', 'mention_type')


def mention_tables(rows: DataFrame) -> tuple:
    """Linked mention rows (linked_mentions, or page_frame's `mentions`
    exploded) → (mentions, entities) with the columns of extract_mentions
    and link_mentions: stage 2 keeps the extractor's pre-link norm,
    stage 3 the linked one."""
    keep = [c for c in rows.columns if c not in PAGE_MENTION_TYPE.names]
    return (rows.select(*keep, *MENTION_COLS, F.col('pre_norm').alias('norm')),
            rows.select(*keep, *MENTION_COLS, 'obj', 'obj_type', 'norm'))


def stage_tables(frame: DataFrame) -> tuple:
    """page_frame → (clean, mentions, entities) with the columns of
    clean_pages, extract_mentions and link_mentions."""
    rows = _explode(frame, F.col('mentions'), ('url', 'warc_ts'))
    return (frame.drop('mentions'), *mention_tables(rows))
