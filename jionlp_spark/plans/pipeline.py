"""End-to-end KG-construction pipeline (4 checkpointed stages).

    pages ─S1 clean─▶ clean ─S2 mentions─▶ mentions ─S3 link─▶ entities
          ─S4 triples─▶ triples (partitioned by pred, url-hash bucketed)

Each stage is a DataFrame→DataFrame operator; when ``out_dir`` is given,
stages publish through the manifest catalog and re-runs resume from the
last completed stage (kill after S2 → resume recomputes only S3/S4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from jionlp_spark.operators.clean import clean_pages
from jionlp_spark.operators.link import build_bundle, link_mentions
from jionlp_spark.operators.mentions import (extract_mentions,
                                             linked_mentions)
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

    def s1(repartition=True):
        # the url-hash repartition belongs to the MATERIALIZED path (stable
        # stage-table layout, north_rule); in the lazy single-plan path it
        # would shuffle the full clean struct for no load-balancing gain —
        # scan splits already spread the map-only chain
        return clean_pages(pages, lang=lang, use_html=use_html,
                           num_partitions=n if repartition else None)

    def stage(name, build, prev_name=None):
        if out_dir is None:
            return build()
        fp = f'{input_fingerprint}|{prev_name}' if prev_name else input_fingerprint
        return catalog.run_stage(
            spark, os.path.join(out_dir, name), name, build,
            input_fingerprint=fp, resume=resume)

    clean_df = stage('s1_clean', s1) if out_dir is not None \
        else s1(repartition=False)

    if out_dir is None:
        # lazy single-plan mode: one fused Python pass straight off the
        # source column (see linked_mentions) — chained ArrowEvalPython
        # nodes each pin a worker per task, and Catalyst can't prune the
        # redaction chain out of clean_pages' struct UDF.  clean_df stays
        # available lazily for callers that consume it.
        entities_df = linked_mentions(pages, bundle, loc_trie, lang=lang,
                                      use_html=use_html)
        mentions_df = entities_df.drop('obj', 'obj_type')
        triples_df = build_triples(entities_df)
    else:
        mentions_df = stage('s2_mentions',
                            lambda: extract_mentions(
                                clean_df, lexicon_trie_broadcast=loc_trie),
                            's1_clean')
        entities_df = stage('s3_entities',
                            lambda: link_mentions(mentions_df, bundle),
                            's2_mentions')
        triples_df = stage('s4_triples',
                           lambda: build_triples(entities_df), 's3_entities')

    return {'clean': clean_df, 'mentions': mentions_df,
            'entities': entities_df, 'triples': triples_df}
