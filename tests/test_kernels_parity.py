"""Kernel ⟷ reference parity: cleaning must be byte-identical, extraction
span-identical, canonicalization field-identical (BASELINE.json input_hint /
north_star gates)."""

import os

import pytest

from jionlp_spark.kernels.cleaner import clean_text, get_cleaner
from jionlp_spark.kernels.extractors import get_extractor
from jionlp_spark.kernels.html_clean import clean_html

REF_DICTS = '/root/reference/jionlp/dictionary'


def _spans(mentions):
    return [(m['text'], tuple(m['offset'])) for m in mentions]


def test_clean_text_byte_identical(reference, sample_texts):
    reference.check('clean_text', sample_texts,
                    ref=lambda jio, t: jio.clean_text(t), ours=clean_text)


def test_clean_text_normalize_only_byte_identical(reference, sample_texts):
    """The stage-2 extract_text variant must also match the reference with
    the same flags."""
    cleaner = get_cleaner()
    flags = dict(remove_parentheses=False, remove_url=False,
                 remove_email=False, remove_phone_number=False)
    reference.check('clean_text', sample_texts,
                    ref=lambda jio, t: jio.clean_text(t, **flags),
                    ours=lambda t: cleaner.clean_text(t, **flags))


_EXTRACTORS = [  # (reference function, our method), all span-compared
    ('extract_phone_number', 'extract_phone_number'),
    ('extract_email', 'extract_email'),
    ('extract_url', 'extract_url'),
    ('extract_id_card', 'extract_id_card'),
    ('extract_ip_address', 'extract_ip_address'),
    ('extract_qq', 'extract_qq'),
    ('extract_wechat_id', 'extract_wechat_id'),
    ('extract_motor_vehicle_licence_plate', 'extract_licence_plate'),
]


def test_extractors_span_identical(reference, sample_texts):
    ex = get_extractor()
    for ref_fn, our_fn in _EXTRACTORS:
        reference.check(
            ref_fn, sample_texts,
            ref=lambda jio, t: _spans(getattr(jio, ref_fn)(t, detail=True)),
            ours=lambda t: _spans(getattr(ex, our_fn)(t)))


def test_clean_html_identical(reference):
    from jionlp_spark.sources.pages import _Pools, _make_row
    pools = _Pools()
    htmls = [_make_row(i, 42, pools)[2].decode('utf-8') for i in range(100)]
    reference.check('clean_html', htmls,
                    ref=lambda jio, h: jio.clean_html(h), ours=clean_html)


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_phone_location_parity(jio, sample_texts):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.phone_loc import PhoneLocator

    cell, area = lexicons.load_phone_location(REF_DICTS)
    ops = lexicons.load_telecom_operator(REF_DICTS)
    loc = PhoneLocator(cell, area, ops)
    ex = get_extractor()
    checked = 0
    for t in sample_texts:
        for m in ex.extract_phone_number(t):
            got = loc.locate(m['text'])
            try:
                ref = jio.phone_location('#' + m['text'])
            except AttributeError:
                # the reference crashes on a cell prefix missing from its
                # dictionary (phone_location.py:91); we map that to
                # province/city None
                assert got['province'] is None and got['city'] is None
                continue
            for k in ('province', 'city', 'type'):
                assert ref.get(k) == got.get(k), (m['text'], ref, got)
            assert ref.get('operator') == got.get('operator')
            checked += 1
    assert checked > 50


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_id_card_parity(jio, sample_texts):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.idcard import IdCardParser

    idp = IdCardParser(lexicons.admin_code_map(REF_DICTS))
    ex = get_extractor()
    checked = 0
    for t in sample_texts:
        for m in ex.extract_id_card(t):
            assert jio.parse_id_card(m['text']) == idp.parse(m['text'])
            checked += 1
    assert checked > 20


def test_vendored_lexicons_self_consistent():
    """The vendored subsets must resolve everything the generator emits."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.idcard import IdCardParser
    from jionlp_spark.kernels.phone_loc import PhoneLocator
    from jionlp_spark.sources.pages import _Pools, _make_row

    cell, area = lexicons.load_phone_location()
    loc = PhoneLocator(cell, area, lexicons.load_telecom_operator())
    idp = IdCardParser(lexicons.admin_code_map())
    ex = get_extractor()
    pools = _Pools()
    phones = ids = 0
    for i in range(200):
        t = _make_row(i, 42, pools)[3]
        for m in ex.extract_phone_number(t):
            res = loc.locate(m['text'])
            assert res['type'] in ('cell_phone', 'landline_phone')
            # separator-formatted cells can't resolve first-7 (reference
            # semantics: the dashy '155-430' never hits the prefix trie)
            if '-' not in m['text'] and ' ' not in m['text']:
                assert res['province'] is not None, m['text']
            phones += 1
        for m in ex.extract_id_card(t):
            assert idp.parse(m['text']) is not None, m['text']
            ids += 1
    assert phones > 50 and ids > 20


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_phone_loc_unknown_prefix(jio):
    """Deliberate divergence (documented in kernels/phone_loc.py): the
    reference crashes on a cell prefix missing from its dictionary
    (phone_location.py:91 ``location.split`` on None); we return
    province/city None.  1344710 is a prefix absent from both lexicons
    (verified against the full reference dictionary)."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.phone_loc import PhoneLocator

    cell, area = lexicons.load_phone_location(REF_DICTS)
    ops = lexicons.load_telecom_operator(REF_DICTS)
    loc = PhoneLocator(cell, area, ops)
    number = '13447104567'
    got = loc.locate(number)
    assert got['province'] is None and got['city'] is None
    assert got['number'] == number
    try:
        jio.phone_location('#' + number)
        crashed = False
    except AttributeError:
        crashed = True
    assert crashed, 'reference no longer crashes; revisit the divergence'


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_env_full_dict_swap_in(monkeypatch):
    """JIONLP_SPARK_DICT_DIR swaps every loader to the full JioNLP
    dictionary tree (the production path): rare chars resolve, town/village
    works, sentiment/idiom tables load at full size."""
    monkeypatch.setenv('JIONLP_SPARK_DICT_DIR', REF_DICTS)
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.chartext import Pinyin
    from jionlp_spark.kernels.location import LocationParser

    phrase, pchar, _rad = lexicons.load_char_info()
    py = Pinyin(phrase, pchar)
    assert py('魑魅魍魉') == ['chī', 'mèi', 'wǎng', 'liǎng']  # not in subset

    lp = LocationParser(lexicons.load_admin_divisions(),
                        lexicons.load_location_changes(),
                        lexicons.load_town_villages())
    res = lp.parse('上海市嘉定区华亭镇华亭村88号', town_village=True)
    assert (res['town'], res['village']) == ('华亭镇', '华亭村')

    assert len(lexicons.load_sentiment_lexicons()[0]) > 30000
    assert len(lexicons.load_idioms()) > 30000


def test_missing_env_dict_dir_raises(monkeypatch, tmp_path):
    """JIONLP_SPARK_DICT_DIR, or an explicit dict_dir= argument, naming a
    missing directory fails loudly, naming the path, instead of falling
    back to the vendored subsets."""
    from jionlp_spark import lexicons
    loaders = (lexicons.load_char_info, lexicons.load_phone_location)
    monkeypatch.delenv('JIONLP_SPARK_DICT_DIR', raising=False)
    for load in loaders:
        with pytest.raises(FileNotFoundError, match='no-such-arg-dicts'):
            load(str(tmp_path / 'no-such-arg-dicts'))
    monkeypatch.setenv('JIONLP_SPARK_DICT_DIR',
                       str(tmp_path / 'no-such-dicts'))
    for load in loaders:
        with pytest.raises(FileNotFoundError, match='no-such-dicts'):
            load()
