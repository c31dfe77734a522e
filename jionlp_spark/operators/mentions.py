"""Stage 2 — mention detection.

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

from jionlp_spark.functions.udfs import make_mentions_udf


def extract_mentions(clean_df: DataFrame,
                     text_col: str = 'extract_text',
                     lexicon_trie_broadcast=None,
                     keep_cols=('url', 'warc_ts')) -> DataFrame:
    ts_col = F.col('warc_ts') if 'warc_ts' in clean_df.columns \
        else F.lit(None).cast('timestamp')
    mention_array = make_mentions_udf(lexicon_trie_broadcast)(
        F.col(text_col), ts_col)

    keep = [F.col(c) for c in keep_cols if c in clean_df.columns]
    return (
        clean_df
        .select(*keep, F.explode(mention_array).alias('m'))
        .select(*keep, 'm.text', 'm.offset_start', 'm.offset_end',
                'm.mention_type', 'm.norm')
    )
