"""End-to-end KG-construction pipeline (4 checkpointed stages).

Lazy (no ``out_dir``): one plan, one fused Python pass off the page column.

    pages ─linked_mentions─▶ entities ─build_triples─▶ triples

Published (``out_dir``): every stage is a catalog table, and re-runs
resume from the last completed stage.  A fresh run makes ONE Python pass
per page; stages 1-3 are projections of its persisted, url-hash
partitioned frame:

    pages ─page_frame─▶ frame ─┬─▶ S1 clean
                               ├─▶ S2 mentions (explode, pre-link norm)
                               └─▶ S3 entities (explode, linked norm)
                                   ─S4 build_triples─▶ triples

A run that resumes S1 chains the stage operators over the published
tables instead (kill after S2 → resume recomputes only S3/S4):

    S1 ─extract_mentions─▶ S2 ─link_mentions─▶ S3 ─build_triples─▶ S4
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jionlp_spark.operators.clean import clean_pages
from jionlp_spark.operators.link import build_bundle, link_mentions
from jionlp_spark.operators.mentions import (extract_mentions,
                                             linked_mentions, page_frame,
                                             stage_tables)
from jionlp_spark.operators.triples import build_triples
from jionlp_spark.sources import catalog


def run_pipeline(spark: SparkSession, pages: DataFrame,
                 out_dir: str | None = None,
                 input_fingerprint: str | None = None,
                 lang: str | None = 'zh',
                 use_html: bool = True,
                 dict_dir: str | None = None,
                 num_partitions: int | None = None,
                 resume: bool = True) -> dict:
    """→ {'clean','mentions','entities','triples'} DataFrames."""
    from jionlp_spark.functions.udfs import build_location_trie

    bundle = build_bundle(spark, dict_dir)
    loc_trie = build_location_trie(spark, dict_dir)
    n = num_partitions or spark.sparkContext.defaultParallelism

    if out_dir is None:
        # lazy single-plan mode: one fused Python pass straight off the
        # source column (see linked_mentions) — chained ArrowEvalPython
        # nodes each pin a worker per task, and Catalyst can't prune the
        # redaction chain out of clean_pages' struct UDF.  clean_df stays
        # available lazily for callers that consume it; the url-hash
        # repartition belongs to the published layout only (here it would
        # shuffle the clean struct for no load-balancing gain)
        entities_df = linked_mentions(pages, bundle, loc_trie, lang=lang,
                                      use_html=use_html)
        return {'clean': clean_pages(pages, lang=lang, use_html=use_html),
                'mentions': entities_df.drop('obj', 'obj_type'),
                'entities': entities_df,
                'triples': build_triples(entities_df)}

    def stage(name, build, prev_name=None):
        fp = f'{input_fingerprint}|{prev_name}' if prev_name else input_fingerprint
        return catalog.run_stage(
            spark, os.path.join(out_dir, name), name, build,
            input_fingerprint=fp, resume=resume)

    if resume and catalog.is_complete(os.path.join(out_dir, 's1_clean'),
                                      input_fingerprint):
        clean_df = stage('s1_clean', lambda: clean_pages(
            pages, lang=lang, use_html=use_html, num_partitions=n))
        mentions_df = stage('s2_mentions',
                            lambda: extract_mentions(
                                clean_df, lexicon_trie_broadcast=loc_trie),
                            's1_clean')
        entities_df = stage('s3_entities',
                            lambda: link_mentions(mentions_df, bundle),
                            's2_mentions')
    else:
        # stable url-colocated stage-table layout (north_rule); the frame
        # is built by the s1 write and read back by the s2 and s3 writes.
        # persist, not a lazy localCheckpoint: both cost the same on the
        # catalog benchmark, and only a cache can be released on return
        frame = (page_frame(pages, bundle, loc_trie, lang=lang,
                            use_html=use_html)
                 .repartition(n, F.xxhash64('url')).persist())
        try:
            clean_t, mentions_t, entities_t = stage_tables(frame)
            clean_df = stage('s1_clean', lambda: clean_t)
            mentions_df = stage('s2_mentions', lambda: mentions_t,
                                's1_clean')
            entities_df = stage('s3_entities', lambda: entities_t,
                                's2_mentions')
        finally:
            frame.unpersist()
    triples_df = stage('s4_triples', lambda: build_triples(entities_df),
                       's3_entities')

    return {'clean': clean_df, 'mentions': mentions_df,
            'entities': entities_df, 'triples': triples_df}
