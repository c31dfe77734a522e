"""Stage 3 — entity linking / canonicalization.

mentions → entities(url, text, offset_start, offset_end, mention_type,
obj, obj_type, norm): every mention annotated with its canonical entity key
and a JSON canonical detail (phone geo/operator, id-card region/birth/gender,
email domain, ...), via one pandas UDF over broadcast lexicons.

Hot-entity hygiene: canonical keys are heavily skewed (e.g. a handful of
provinces dominate).  ``entity_counts`` shows the two-phase salted
aggregation pattern used wherever a groupBy on a canonical key feeds a wide
shuffle; AQE skew-join handles the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jionlp_spark.functions.udfs import LexiconBundle, make_link_udf
from jionlp_spark.functions.ndet import ndet as _ndet


_BUNDLE_CACHE: dict = {}


def build_bundle(spark: SparkSession, dict_dir: str | None = None):
    """Load lexicons on the driver and broadcast once per session."""
    # applicationId, not id(): CPython can recycle a dead context's id
    key = (spark.sparkContext.applicationId, dict_dir)
    if key not in _BUNDLE_CACHE:
        _BUNDLE_CACHE[key] = LexiconBundle(dict_dir).broadcast(spark)
    return _BUNDLE_CACHE[key]


def link_mentions(mentions: DataFrame, bundle_broadcast) -> DataFrame:
    """Mention rows → the same rows with (obj, obj_type, norm) from a
    link UDF per mention.

    The last step of the reference chain (clean_pages → extract_mentions →
    link_mentions): no pipeline runs it; it is kept for perfbench's
    correctness check and for the tests, which hold the fused passes to
    its rows."""
    link_udf = make_link_udf(bundle_broadcast)
    norm_in = F.col('norm') if 'norm' in mentions.columns \
        else F.lit(None).cast('string')
    keep = [c for c in mentions.columns if c != 'norm']
    return (
        mentions
        .withColumn('l', link_udf(F.col('mention_type'), F.col('text'),
                                  norm_in))
        .select(*keep, 'l.*')
    )


def recognize_location(linked: DataFrame,
                       id_col: str = 'doc_id') -> DataFrame:
    """Per-document home location: the majority vote over its linked
    location mentions.

    Distributed skeleton of the reference LocationRecognizer's merge step
    (gadget/location_recognizer.py:44-450): the reference counts the
    candidate (province, city, county) expansions of every place word and
    returns the top-frequency merged address; here the candidates come from
    the lexicon-NER → LocationParser linking already in the mentions table
    (the reference's jiojio POS tagging stage is model-bound and out of
    scope — SURVEY §2.4), and the vote is a groupBy + per-doc top-1 window.
    Ties break lexically on (province, city, county) for determinism.

    Scale shape: one shuffle keyed (doc, region) with map-side combine,
    then a per-doc window over a handful of rows — no driver state.
    """
    from pyspark.sql.window import Window
    votes = (
        linked.filter(F.col('obj_type') == 'location')
        .select(id_col,
                F.get_json_object('norm', '$.province').alias('province'),
                F.get_json_object('norm', '$.city').alias('city'),
                F.get_json_object('norm', '$.county').alias('county'))
        .groupBy(id_col, 'province', 'city', 'county')
        .agg(F.count('*').alias('votes'))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc('votes'),
        F.coalesce('province', F.lit('')),
        F.coalesce('city', F.lit('')),
        F.coalesce('county', F.lit('')))
    return (votes.withColumn('_rn', F.row_number().over(w))
            .filter(F.col('_rn') == 1).drop('_rn'))


def entity_counts(entities: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Count mentions per canonical entity with two-phase salted agg.

    Phase 1 groups on (obj, obj_type, salt) — map-side partial aggregation
    spreads a hot key over ``salt_buckets`` reducers; phase 2 merges the
    per-salt partials.  Equivalent plan to a plain groupBy for uniform keys,
    strictly better under skew (north_rule: salted-key dedup for hot
    entities).
    """
    salted = entities.withColumn(
        'salt', F.pmod(F.xxhash64('url'), F.lit(salt_buckets)))
    partial = (
        salted.groupBy('obj', 'obj_type', 'salt')
        .agg(F.count('*').alias('partial_cnt'),
             F.countDistinct('url').alias('partial_urls'))
    )
    # the per-salt distinct-url sum is EXACT: salt is a function of url, so
    # no url can appear under two salts of the same entity
    return (
        partial.groupBy('obj', 'obj_type')
        .agg(F.sum('partial_cnt').alias('mention_cnt'),
             F.sum('partial_urls').alias('url_cnt'))
    )


_LOCREC_SINGLETON: list = []


def _get_locrec():
    """Per-worker singleton LocationRecognizer over the vendored maps
    (full JioNLP dicts swap in via JIONLP_SPARK_DICT_DIR)."""
    if not _LOCREC_SINGLETON:
        from jionlp_spark import lexicons
        from jionlp_spark.kernels.locrec import (LocationRecognizer,
                                                 build_china_map,
                                                 build_world_map)
        _LOCREC_SINGLETON.append(LocationRecognizer(
            build_china_map(lexicons.load_admin_divisions()),
            build_world_map(lexicons.load_world_locations())))
    return _LOCREC_SINGLETON[0]


def recognize_location_full(words_per_doc: DataFrame,
                            id_col: str = 'doc_id',
                            words_col: str = 'words') -> DataFrame:
    """Full LocationRecognizer port per document (kernels/locrec.py —
    candidate expansion over china+world admin maps, hierarchical merge,
    top-k, unmatched bucket; reference gadget/location_recognizer.py with
    the jiojio-POS word stage injected).  ``words_col`` is the per-doc
    candidate-word array — feed lexicon-NER mention surfaces (the
    documented POS substitution) or any tagger's place words.

    → (doc_id, dom_province, dom_city, dom_county, dom_votes,
       for_country, for_city, for_votes, others) — top-1 domestic and
    foreign plus 'word:count' unmatched pairs, comma-joined sorted.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    schema = ('dom_province string, dom_city string, dom_county string, '
              'dom_votes long, for_country string, for_city string, '
              'for_votes long, others string')

    def rec(words):
        r = _get_locrec()
        rows = []
        for ws in words:
            res = r(list(ws) if ws is not None else [])
            dom = (res['domestic'] or [[{}, None]])[0]
            for_ = (res['foreign'] or [[{}, None]])[0]
            others = ','.join(
                f'{w}:{c}' for w, c in
                sorted((res['others'] or {}).items()))
            rows.append((dom[0].get('province'), dom[0].get('city'),
                         dom[0].get('county'), dom[1],
                         for_[0].get('country'), for_[0].get('city'),
                         for_[1], others))
        return pd.DataFrame(rows, columns=[
            'dom_province', 'dom_city', 'dom_county', 'dom_votes',
            'for_country', 'for_city', 'for_votes', 'others'])

    # real annotation objects: this module uses `from __future__ import
    # annotations`, so inline hints would be unresolvable strings
    rec.__annotations__ = {'words': pd.Series, 'return': pd.DataFrame}
    rec = _ndet(pandas_udf(rec, schema))

    out = rec(F.col(words_col))
    return words_per_doc.select(
        F.col(id_col).alias('doc_id'),
        *[out[c].alias(c) for c in (
            'dom_province', 'dom_city', 'dom_county', 'dom_votes',
            'for_country', 'for_city', 'for_votes', 'others')])
