"""Vectorized pandas/Arrow UDFs wrapping the pure-Python kernels.

This is the only place reference-equivalent logic executes on executors.
Patterns compile once per Python worker (module-level singletons inside the
kernels); lexicons are built once on the driver and shipped as Spark
broadcasts.  No per-row Python UDFs anywhere (input_hint mandate).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from jionlp_spark import lexicons
from jionlp_spark.kernels.cleaner import get_cleaner
from jionlp_spark.kernels.html_clean import clean_html
from jionlp_spark.kernels.idcard import IdCardParser
from jionlp_spark.kernels.mentions import Linker, lexicon_mentions, mentions
from jionlp_spark.kernels.phone_loc import PhoneLocator
from jionlp_spark.functions.ndet import ndet as _ndet

# ---------------------------------------------------------------------------
# Worker-side broadcast cache.
#
# PySpark's Broadcast.value caches on the INSTANCE, but every task unpickles
# a fresh closure → fresh Broadcast instance → re-reads and re-unpickles the
# executor-local dump file (pyspark/broadcast.py).  For the lexicon bundles
# (tens of MB of dicts) that re-unpickle was costing ~0.5 s per task — more
# than the kernel work itself.  Cache values per PROCESS keyed by the dump
# path (stable per broadcast id on an executor); bounded so a long-lived
# worker holding many session broadcasts cannot grow without limit.

_BC_VALUE_CACHE: dict = {}


def _worker_cached(key, build):
    v = _BC_VALUE_CACHE.get(key)
    if v is None:
        if len(_BC_VALUE_CACHE) >= 8:   # oldest-first eviction
            _BC_VALUE_CACHE.pop(next(iter(_BC_VALUE_CACHE)))
        v = _BC_VALUE_CACHE[key] = build()
    return v


def _bc_value(bc):
    path = getattr(bc, '_path', None)
    if path is None:
        return bc.value
    return _worker_cached(path, lambda: bc.value)


# ---------------------------------------------------------------------------
# Schemas

MENTION_FIELDS = [
    T.StructField('text', T.StringType()),
    T.StructField('offset_start', T.IntegerType()),
    T.StructField('offset_end', T.IntegerType()),
    T.StructField('mention_type', T.StringType()),
    # canonical detail JSON when the extractor itself parses (money/time);
    # null otherwise — stage 3 fills in the rest
    T.StructField('norm', T.StringType()),
]
MENTION_TYPE = T.StructType(MENTION_FIELDS)
MENTIONS_ARRAY = T.ArrayType(MENTION_TYPE)

CLEAN_RESULT = T.StructType([
    # full reference clean_text chain: redacts urls/emails/phones/brackets —
    # the byte-identical-per-url invariant column (training text)
    T.StructField('clean', T.StringType()),
    # normalization WITHOUT redaction: what stage-2 extraction scans.
    # == reference clean_text(remove_parentheses=False, remove_url=False,
    #    remove_email=False, remove_phone_number=False)
    T.StructField('extract_text', T.StringType()),
    T.StructField('meta', T.StringType()),  # JSON meta info from <meta> tags
])

LINK_RESULT = T.StructType([
    T.StructField('obj', T.StringType()),       # canonical entity key
    T.StructField('obj_type', T.StringType()),
    T.StructField('norm', T.StringType()),      # JSON canonical detail
])

LINKED_MENTION_TYPE = T.StructType(MENTION_FIELDS + [
    T.StructField('obj', T.StringType()),
    T.StructField('obj_type', T.StringType()),
])

# a linked mention that also keeps the extractor's own norm (the stage-2
# column; `norm` is the linked detail)
PAGE_MENTION_TYPE = T.StructType(LINKED_MENTION_TYPE.fields + [
    T.StructField('pre_norm', T.StringType()),
])

# everything the published stages 1-3 need of one page
PAGE_RESULT = T.StructType(CLEAN_RESULT.fields + [
    T.StructField('mentions', T.ArrayType(PAGE_MENTION_TYPE)),
])


# ---------------------------------------------------------------------------
# Stage-1 cleaning: the one derivation of page text, shared by the clean
# UDF and every fused mention UDF

def _check_source(source: str) -> None:
    if source not in ('html', 'plain'):
        raise ValueError(f"source must be 'html' or 'plain', not {source!r}")


def _page_body(raw, source: str):
    """Page cell → (body, meta dict or None).  Source 'html' is raw page
    bytes (CleanHTML main-text extraction), 'plain' an extracted body."""
    if source == 'plain':
        return raw, None
    if isinstance(raw, (bytes, bytearray)):
        raw = raw.decode('utf-8', errors='replace')
    return clean_html(raw)


def _clean_body(cleaner, body: str, source: str) -> str:
    """extract_text: the reference clean_text chain's normalization steps
    over a page body — brackets/urls/emails/phones stay for the stage-2
    sweep.  Tags are stripped from a plain body only: CleanHTML already
    removed an html page's."""
    return cleaner.normalize(body, remove_html_tag=source == 'plain')


def _page_text(cleaner, raw, source: str) -> str:
    """Page cell → the text stage 2 scans (clean_pages' extract_text)."""
    return _clean_body(cleaner, _page_body(raw, source)[0], source)


def _clean_row(cleaner, raw, source: str) -> tuple:
    """Page cell → (clean, extract_text, meta json).  clean_text runs its
    span removal strictly after its normalization, so `clean` is
    extract_text redacted: each page is normalized once."""
    body, meta = _page_body(raw, source)
    text = _clean_body(cleaner, body, source)
    return (cleaner.redact(text), text,
            json.dumps(meta, ensure_ascii=False) if meta else None)


@_ndet
@pandas_udf(T.StringType())
def clean_text_udf(text: pd.Series) -> pd.Series:
    cleaner = get_cleaner()
    return text.map(lambda t: cleaner.clean_text(t) if t is not None else None)


def make_clean_udf(source: str):
    """page → (clean, extract_text, meta json), see _clean_row."""
    _check_source(source)

    @_ndet
    @pandas_udf(CLEAN_RESULT)
    def clean_udf(page: pd.Series) -> pd.DataFrame:
        cleaner = get_cleaner()
        return pd.DataFrame(
            [_clean_row(cleaner, raw, source) if raw is not None
             else (None, None, None) for raw in page],
            columns=CLEAN_RESULT.names)
    return clean_udf


# ---------------------------------------------------------------------------
# Broadcast lexicons

class LexiconBundle:
    """Driver-side lexicon container; broadcast once per session."""

    def __init__(self, dict_dir: str | None = None) -> None:
        from jionlp_spark.kernels.location import LocationParser
        cell_map, area_map = lexicons.load_phone_location(dict_dir)
        op_map = lexicons.load_telecom_operator(dict_dir)
        self.phone = PhoneLocator(cell_map, area_map, op_map)
        self.idcard = IdCardParser(lexicons.admin_code_map(dict_dir))
        self.location = LocationParser(
            lexicons.load_admin_divisions(dict_dir),
            lexicons.load_location_changes(dict_dir),
            lexicons.load_town_villages(dict_dir))

    def broadcast(self, spark: SparkSession):
        return spark.sparkContext.broadcast(self)


_TRIE_BC_CACHE: dict = {}


def build_location_trie(spark: SparkSession, dict_dir: str | None = None):
    """Broadcast FMM trie over the admin-division lexicon (the
    'Aho-Corasick dictionary matching' of the north star, with the
    reference's FMM semantics preserved — lexicon_ner.py:59-76).
    Broadcast once per session (applicationId-keyed like build_bundle):
    re-broadcasting per pipeline call made every worker re-deserialize
    the trie on each run."""
    key = (spark.sparkContext.applicationId, dict_dir)
    if key not in _TRIE_BC_CACHE:
        from jionlp_spark.kernels.trie import build_trie
        trie = build_trie({'location': lexicons.location_ner_words(dict_dir)})
        _TRIE_BC_CACHE[key] = spark.sparkContext.broadcast(trie)
    return _TRIE_BC_CACHE[key]


# ---------------------------------------------------------------------------
# Stage-2/3 mentions and linking: per-batch wrappers over kernels/mentions.py

def _time_base(ts):
    """Arrow timestamp cell → datetime, None for a null."""
    return ts.to_pydatetime() if ts is not None and not pd.isna(ts) else None


def _linker(bundle_broadcast) -> Linker:
    """One Linker per broadcast bundle per worker process (cached beside
    _bc_value), so its location memo outlives the task."""
    path = getattr(bundle_broadcast, '_path', None)
    if path is None:
        return Linker(bundle_broadcast.value)
    return _worker_cached((path, 'linker'),
                          lambda: Linker(_bc_value(bundle_broadcast)))


def _mentions_linked(linker: Linker, trie, text: str, ts) -> list:
    """One page's extract_text → its linked mentions (PAGE_MENTION_TYPE),
    each also carrying the extractor's own norm: the per-page
    mention-and-link step of every fused UDF."""
    found = mentions(text, _time_base(ts), trie)
    return [lm + (m[4],) for m, lm in zip(found, linker.linked(found))]


def make_mentions_udf(trie_broadcast=None):
    """(extract_text, warc_ts) → array<mention>: kernels.mentions.mentions
    per row.  ``warc_ts`` is the time base for time parsing; lexicon NER
    runs only when a broadcast CharTrie is given.

    extract_mentions' UDF in the reference chain, kept for perfbench's
    correctness check and for the tests; the pipelines run the fused
    make_linked_mentions_udf / make_page_udf instead."""
    @_ndet
    @pandas_udf(MENTIONS_ARRAY)
    def mentions_udf(text: pd.Series, warc_ts: pd.Series) -> pd.Series:
        trie = _bc_value(trie_broadcast) if trie_broadcast is not None \
            else None
        return pd.Series([mentions(t, _time_base(ts), trie)
                          if t is not None else []
                          for t, ts in zip(text, warc_ts)])
    return mentions_udf


def make_link_udf(bundle_broadcast):
    """(mention_type, text, norm_in) → (obj, obj_type, norm-json):
    Linker.link per row (canonical keys listed there).

    link_mentions' UDF in the reference chain, kept for perfbench's
    correctness check and for the tests; the pipelines link inside the
    fused make_linked_mentions_udf / make_page_udf instead."""
    @_ndet
    @pandas_udf(LINK_RESULT)
    def link_udf(mention_type: pd.Series, text: pd.Series,
                 norm_in: pd.Series) -> pd.DataFrame:
        link = _linker(bundle_broadcast).link
        return pd.DataFrame(
            [link(m, t, n) if t is not None else (None, None, None)
             for m, t, n in zip(mention_type, text, norm_in)],
            columns=['obj', 'obj_type', 'norm'])
    return link_udf


def make_lexicon_linked_udf(trie_broadcast, bundle_broadcast):
    """Plain text → normalized → lexicon NER → linked, in ONE Python pass
    (no second ArrowEvalPython node, no self-join)."""
    @_ndet
    @pandas_udf(T.ArrayType(LINKED_MENTION_TYPE))
    def lexicon_linked_udf(text: pd.Series) -> pd.Series:
        trie = _bc_value(trie_broadcast)
        linker = _linker(bundle_broadcast)
        cleaner = get_cleaner()
        return pd.Series([
            linker.linked(lexicon_mentions(
                _page_text(cleaner, t, 'plain'), trie))
            if t is not None else [] for t in text])
    return lexicon_linked_udf


def make_linked_mentions_udf(bundle_broadcast, trie_broadcast=None, *,
                             source: str):
    """Fused stages 1-3 for a triples-only plan: normalization, the mention
    kernel and the linker in ONE Python pass per batch → array of
    PAGE_MENTION_TYPE, the rows of clean_pages → extract_mentions →
    link_mentions, each also carrying its pre-link norm.

    ``source`` names the input column's form ('html' or 'plain', see
    _page_body).  Neither pays the redaction chain that only the `clean`
    deliverable needs.
    """
    _check_source(source)

    @_ndet
    @pandas_udf(T.ArrayType(PAGE_MENTION_TYPE))
    def linked_mentions_udf(text: pd.Series, warc_ts: pd.Series) -> pd.Series:
        trie = _bc_value(trie_broadcast) if trie_broadcast is not None \
            else None
        linker = _linker(bundle_broadcast)
        cleaner = get_cleaner()
        return pd.Series([
            _mentions_linked(linker, trie, _page_text(cleaner, t, source), ts)
            if t is not None else [] for t, ts in zip(text, warc_ts)])
    return linked_mentions_udf


def make_page_udf(bundle_broadcast, trie_broadcast=None, *, source: str):
    """Fused stages 1-3 for the published path: (page, warc_ts) → the
    clean_udf columns plus the page's mentions as make_linked_mentions_udf
    gives them, in ONE Python pass per batch.  Stage 2 and 3 rows are
    projections of `mentions` (operators.mentions.mention_tables)."""
    _check_source(source)

    @_ndet
    @pandas_udf(PAGE_RESULT)
    def page_udf(page: pd.Series, warc_ts: pd.Series) -> pd.DataFrame:
        trie = _bc_value(trie_broadcast) if trie_broadcast is not None \
            else None
        linker = _linker(bundle_broadcast)
        cleaner = get_cleaner()
        rows = []
        for raw, ts in zip(page, warc_ts):
            if raw is None:
                rows.append((None, None, None, []))
                continue
            clean, text, meta = _clean_row(cleaner, raw, source)
            rows.append((clean, text, meta,
                         _mentions_linked(linker, trie, text, ts)))
        return pd.DataFrame(rows, columns=PAGE_RESULT.names)
    return page_udf


# ---------------------------------------------------------------------------
# Normalization kernels exposed as columnar ops: tra⟷sim conversion,
# stopword filtering, money rendering, per-char pinyin/radical features.
# One fused pandas UDF per op (single ArrowEvalPython node per stage).

NORM_TEXT_RESULT = T.StructType([
    T.StructField('sim_word', T.StringType()),   # tra2sim word (FMM) mode
    T.StructField('sim_char', T.StringType()),   # tra2sim char mode
])

CHARTEXT_RESULT = T.StructType([
    T.StructField('pinyin', T.StringType()),     # space-joined standard form
    T.StructField('radicals', T.StringType()),   # space-joined radicals
    T.StructField('structures', T.StringType()),  # space-joined structures
])


class NormBundle:
    """Driver-side normalization lexicons (tsconv/stopwords/chartext);
    broadcast once per session (~1 MB vendored subsets)."""

    def __init__(self, dict_dir: str | None = None) -> None:
        from jionlp_spark.kernels.chartext import CharRadical, Pinyin
        from jionlp_spark.kernels.stopwords import StopwordFilter
        from jionlp_spark.kernels.tsconv import TSConverter
        ts = lexicons.load_ts_tables(dict_dir)
        self.tsconv = TSConverter(ts['tra2sim_char'], ts['sim2tra_char'],
                                  ts['tra2sim_word'], ts['sim2tra_word'])
        self.stopwords = StopwordFilter(*lexicons.load_stopword_sets(dict_dir))
        phrase, pchar, rad = lexicons.load_char_info(dict_dir)
        self.pinyin = Pinyin(phrase, pchar)
        self.radical = CharRadical(rad)

    def broadcast(self, spark: SparkSession):
        return spark.sparkContext.broadcast(self)


def make_tra2sim_udf(bundle_broadcast):
    @_ndet
    @pandas_udf(NORM_TEXT_RESULT)
    def tra2sim_udf(text: pd.Series) -> pd.DataFrame:
        conv = _bc_value(bundle_broadcast).tsconv
        return pd.DataFrame({
            'sim_word': text.map(lambda t: conv.tra2sim(t, mode='word')),
            'sim_char': text.map(lambda t: conv.tra2sim(t, mode='char'))})
    return tra2sim_udf


def make_stopword_udf(bundle_broadcast, sep: str = '|'):
    """tokens joined by `sep` → filtered tokens joined by `sep` (the full
    reference cascade incl. negation keep-list, remove_stopwords.py:139)."""
    @_ndet
    @pandas_udf(T.StringType())
    def stopword_udf(tokens: pd.Series) -> pd.Series:
        filt = _bc_value(bundle_broadcast).stopwords
        return tokens.map(
            lambda s: sep.join(filt.filter(s.split(sep))))
    return stopword_udf


@_ndet
@pandas_udf(T.StringType())
def money_num2char_sim_udf(num: pd.Series) -> pd.Series:
    from jionlp_spark.kernels.money_fmt import money_num2char
    return num.map(lambda n: money_num2char(n, 'sim'))


@_ndet
@pandas_udf(T.StringType())
def money_num2char_tra_udf(num: pd.Series) -> pd.Series:
    from jionlp_spark.kernels.money_fmt import money_num2char
    return num.map(lambda n: money_num2char(n, 'tra'))


def make_chartext_udf(bundle_broadcast):
    """Fused pinyin + radical/structure lookup (one Python pass per batch)."""
    @_ndet
    @pandas_udf(CHARTEXT_RESULT)
    def chartext_udf(text: pd.Series) -> pd.DataFrame:
        b = _bc_value(bundle_broadcast)
        pys, rads, structs = [], [], []
        for t in text:
            pys.append(' '.join(b.pinyin(t)))
            info = b.radical(t)
            rads.append(' '.join(d['radical'] for d in info))
            structs.append(' '.join(d['structure'] for d in info))
        return pd.DataFrame({'pinyin': pys, 'radicals': rads,
                             'structures': structs})
    return chartext_udf


@_ndet
@pandas_udf(T.BooleanType())
def check_person_name_udf(text: pd.Series) -> pd.Series:
    """Surname-heuristic person-name predicate
    (ref algorithm/ner/check_person_name.py:21-69)."""
    from jionlp_spark.kernels.person import get_person_checker
    ck = get_person_checker()
    return text.map(lambda t: ck(t) if t is not None else None)


def make_sentiment_udf(analyzer_broadcast):
    """Lexicon sentiment score in [0,1]
    (ref algorithm/sentiment/sentiment_analysis.py:94-201)."""
    @_ndet
    @pandas_udf(T.DoubleType())
    def sentiment_udf(text: pd.Series) -> pd.Series:
        sa = _bc_value(analyzer_broadcast)
        return text.map(lambda t: sa(t) if t is not None else None)
    return sentiment_udf


def make_location_town_udf(bundle_broadcast):
    """Five-level address parse, province…village (the reference
    LocationParser's town_village=True mode, :488-523)."""
    schema = T.StructType([
        T.StructField('province', T.StringType()),
        T.StructField('city', T.StringType()),
        T.StructField('county', T.StringType()),
        T.StructField('town', T.StringType()),
        T.StructField('village', T.StringType()),
    ])

    @_ndet
    @pandas_udf(schema)
    def location_town_udf(text: pd.Series) -> pd.DataFrame:
        lp = _bc_value(bundle_broadcast).location
        rows = [lp.parse(t, town_village=True) if t is not None else {}
                for t in text]
        return pd.DataFrame({k: [r.get(k) for r in rows]
                             for k in ('province', 'city', 'county',
                                       'town', 'village')})
    return location_town_udf
