"""Parity suites for the remove/replace variants, predicates, parentheses
extraction, and stopword filtering."""

import os

import pytest

REF_DICTS = '/root/reference/jionlp/dictionary'

EXTRA = [
    '身份证520103201711090020，IP 10.0.12.255，加QQ 987654321',
    'QQ缺失时 987654321，电话13288568202，(021)32830431',
    'E-mail: a@b.com，网址 https://x.cn/p 。', '【新华社】（北京时间）从昨天...',
    'abc(nested(deep))end【外(内)】', '', '2022', '混合ｍｉｘ１２３',
]


# (function name, keyword arguments): the same on both sides
_FUNCS = [
    ('remove_id_card', {}),
    ('remove_ip_address', {}),
    ('remove_qq', {}),
    ('replace_email', {}),
    ('replace_id_card', {}),
    ('replace_ip_address', {}),
    ('replace_phone_number', {}),
    ('replace_qq', {}),
    ('replace_url', {}),
    ('replace_chinese', {}),
    ('extract_parentheses', {}),
    ('extract_parentheses', {'detail': True}),
    ('check_any_chinese_char', {}),
    ('check_all_chinese_char', {}),
    ('check_any_arabic_num', {}),
    ('check_all_arabic_num', {}),
]


def test_remove_replace_checker_parity(reference, sample_texts):
    from jionlp_spark.kernels.extractors import get_extractor
    ex = get_extractor()
    for fn, kw in _FUNCS:
        reference.check(
            fn + ''.join(f',{k}={v}' for k, v in kw.items()),
            sample_texts[:100] + EXTRA,
            ref=lambda jio, t: getattr(jio, fn)(t, **kw),
            ours=lambda t: getattr(ex, fn)(t, **kw))


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_stopword_filter_parity(jio):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.stopwords import StopwordFilter
    sw = StopwordFilter(*lexicons.load_stopword_sets(REF_DICTS))
    token_lists = [
        ['我', '不', '去', '北京', '了', '2021年', '三百', 'hello',
         '上午', '开会'],
        ['他', '没有', '在', '上海市', '工作', '9点半', '12.5', '美国',
         '巴黎', 'Spark'],
        ['第一季度', '财报', '显示', '增长', '百分之三十', '去年', '同期'],
        ['', ' ', '星期二', '杭州', '西湖', '真', '美'],
    ]
    flag_sets = [
        {}, {'remove_time': True}, {'remove_location': True},
        {'remove_number': True}, {'remove_non_chinese': True},
        {'save_negative_words': True},
        {'remove_time': True, 'remove_location': True,
         'remove_number': True, 'remove_non_chinese': True,
         'save_negative_words': True},
    ]
    for toks in token_lists:
        for flags in flag_sets:
            assert jio.remove_stopwords(toks, **flags) == \
                sw.filter(toks, **flags), (toks, flags)


def test_stopword_filter_vendored():
    """The vendored filter-word lists work standalone."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.stopwords import StopwordFilter
    sw = StopwordFilter(*lexicons.load_stopword_sets())
    out = sw.filter(['我', '不', '去', '北京', '开会'],
                    remove_location=True, save_negative_words=True)
    assert '北京' not in out and '不' in out and '开会' in out
