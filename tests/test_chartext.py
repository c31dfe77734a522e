"""Pinyin / CharRadical parity vs the reference (full dicts) + vendored
subset sanity."""

import os

import pytest

REF_DICTS = '/root/reference/jionlp/dictionary'

TEXTS = ['中华人民共和国。', '今天L.A.洛杉矶天气好晴朗，一丘之貉，想吃方便面。',
         '佛山', '重庆很重要', '任性的银行行长', '']


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_pinyin_radical_parity(jio):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.chartext import CharRadical, Pinyin
    phrase, pchar, rad = lexicons.load_char_info(REF_DICTS)
    py = Pinyin(phrase, pchar)
    cr = CharRadical(rad)
    for t in TEXTS:
        for fm in ('standard', 'simple', 'detail'):
            assert jio.pinyin(t, formater=fm) == py(t, formater=fm), (t, fm)
        assert jio.char_radical(t) == cr(t), t


def test_chartext_vendored_subset():
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.chartext import CharRadical, Pinyin
    phrase, pchar, rad = lexicons.load_char_info()
    py = Pinyin(phrase, pchar)
    cr = CharRadical(rad)
    assert py('中华人民共和国') == \
        ['zhōng', 'huá', 'rén', 'mín', 'gòng', 'hé', 'guó']
    assert cr('中')[0]['radical'] == '丨'
    assert py('xyz')[0] == '<py_unk>'


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_pinyin_unk_inside_phrase(jio):
    """The unk marker inside a matched PHRASE's pinyin list must keep its
    identity in simple/detail forms (ref pinyin.py:148-151) — a seeded
    formater entry used to be overwritten with '<py_unk>5'."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.chartext import Pinyin
    phrase, pchar, _rad = lexicons.load_char_info(REF_DICTS)
    py = Pinyin(phrase, pchar)
    for t in ['一不做，二不休', '一人之下，万人之上']:
        for fm in ('standard', 'simple', 'detail'):
            assert jio.pinyin(t, formater=fm) == py(t, formater=fm), (t, fm)
