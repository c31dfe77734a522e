"""Pinned outputs of the stage-2/3 kernel (kernels/mentions.py), no Spark.

Both pipeline shapes (lazy fused UDF, published stage tables) run this one
kernel, so comparing them cannot catch a drift in it; these literals can.
They were captured from the per-UDF implementations the kernel replaced.
"""

import datetime

import pytest

from jionlp_spark import lexicons
from jionlp_spark.kernels.mentions import Linker, lexicon_mentions, mentions
from jionlp_spark.kernels.trie import build_trie

TEXT = (
    '联系电话：13812345678，座机010-62345678，身份证号11010519491231002X。'
    '预算为100元，另有3000~5000元。家住湖北省襄樊市幸福路，车牌号川A23047B，'
    '邮箱Zhang.San@Example.COM，详见https://www.baidu.com，QQ：987654321，'
    '微信号：wxid_abc123，服务器地址10.0.12.255。定于2021年9月3日开会，'
    '持续3天，每周一例会，去北京市海淀区。')
TIME_BASE = datetime.datetime(2021, 9, 1, 8, 0, 0)

MONEY_100 = '{"num": "100.00", "case": "元", "definition": "accurate"}'
MONEY_RANGE = ('{"num": ["3000.00", "5000.00"], "case": "元", '
               '"definition": "blur"}')
TIME_POINT = ('{"type": "time_point", "definition": "accurate", "time": '
              '["2021-09-03 00:00:00", "2021-09-03 23:59:59"]}')
TIME_DELTA = ('{"type": "time_delta", "definition": "accurate", "time": '
              '{"day": 3.0}}')
TIME_PERIOD = ('{"type": "time_period", "definition": "accurate", "time": '
               '{"delta": {"day": 7}, "point": {"time": ["2021-08-30 '
               '00:00:00", "2021-08-30 23:59:59"], "string": "周一"}}}')

# sweep, money, time, lexicon — in that order
MENTIONS = [
    ('13812345678', 5, 16, 'cell_phone', None),
    ('010-62345678', 19, 31, 'landline_phone', None),
    ('Zhang.San@Example.COM', 102, 123, 'email', None),
    ('https://www.baidu.com', 126, 147, 'url', None),
    ('11010519491231002X', 36, 54, 'id_card', None),
    ('10.0.12.255', 182, 193, 'ip_address', None),
    ('13812345678', 5, 16, 'qq', None),
    ('62345678', 23, 31, 'qq', None),
    ('987654321', 151, 160, 'qq', None),
    ('wxid_abc123', 165, 176, 'wechat_id', None),
    ('川A23047B', 91, 99, 'licence_plate', None),
    ('100元', 58, 62, 'money', MONEY_100),
    ('3000~5000元', 65, 75, 'money', MONEY_RANGE),
    ('2021年9月3日', 196, 205, 'time_point', TIME_POINT),
    ('3天', 210, 212, 'time_delta', TIME_DELTA),
    ('每周一', 213, 216, 'time_period', TIME_PERIOD),
    ('湖北省襄樊市', 78, 84, 'lexicon:location', None),
    ('北京市海淀区', 220, 226, 'lexicon:location', None),
]

CELL_NORM = ('{"province": null, "city": null, "type": "cell_phone", '
             '"operator": "中国移动", "geo": null}')
LANDLINE_NORM = ('{"province": "北京", "city": "北京", "type": '
                 '"landline_phone", "operator": null, "geo": "北京 北京"}')
ID_NORM = ('{"province": "北京市", "city": "北京市", "county": "朝阳区", '
           '"birth_year": "1949", "birth_month": "12", "birth_day": "31", '
           '"gender": "女", "check_code": "x"}')
PLATE_NORM = '{"car_loc": "川A", "car_type": "PEV", "car_size": "big"}'
XIANGYANG_NORM = '{"province": "湖北省", "city": "襄阳市", "county": null}'
HAIDIAN_NORM = ('{"province": "北京市", "city": "北京市", '
                '"county": "海淀区"}')

# (obj, obj_type, norm) of each entry of MENTIONS
LINKS = [
    ('13812345678', 'phone', CELL_NORM),
    ('01062345678', 'phone', LANDLINE_NORM),
    ('zhang.san@example.com', 'email', '{"domain_name": "Example"}'),
    ('https://www.baidu.com', 'url', None),
    ('11010519491231002x', 'id_card', ID_NORM),
    ('10.0.12.255', 'ip_address', None),
    ('13812345678', 'qq', None),
    ('62345678', 'qq', None),
    ('987654321', 'qq', None),
    ('wxid_abc123', 'wechat_id', None),
    ('川A23047B', 'licence_plate', PLATE_NORM),
    ('100.00元', 'money', MONEY_100),
    ('3000.00~5000.00元', 'money', MONEY_RANGE),
    ('2021-09-03 00:00:00~2021-09-03 23:59:59', 'time', TIME_POINT),
    ('{"day": 3.0}', 'time', TIME_DELTA),
    ('{"delta": {"day": 7}, "point": {"string": "周一", "time": '
     '["2021-08-30 00:00:00", "2021-08-30 23:59:59"]}}', 'time', TIME_PERIOD),
    ('湖北省/襄阳市', 'location', XIANGYANG_NORM),
    ('北京市/北京市/海淀区', 'location', HAIDIAN_NORM),
]

# one case per branch of Linker.link: (mention_type, text, pre_norm) →
# (obj, obj_type, norm)
LINK_CASES = [
    (('cell_phone', '13812345678', None), LINKS[0]),
    (('landline_phone', '010-62345678', None), LINKS[1]),
    (('id_card', '11010519491231002X', None), LINKS[4]),
    (('email', 'Zhang.San@Example.COM', None), LINKS[2]),
    (('email', 'root@localhost', None), ('root@localhost', 'email', None)),
    (('money', '100元', MONEY_100), LINKS[11]),
    (('money', '3000~5000元', MONEY_RANGE), LINKS[12]),
    (('money', '若干', None), ('None', 'money', None)),
    (('time_point', '2021年9月3日', TIME_POINT), LINKS[13]),
    (('time_delta', '3天', TIME_DELTA), LINKS[14]),
    (('time_span', '2021年~2022年',
      '{"time": ["2021-01-01 00:00:00", "x", 3]}'),
     ('["2021-01-01 00:00:00", "x", 3]', 'time',
      '{"time": ["2021-01-01 00:00:00", "x", 3]}')),
    (('time_point', '某天', None), ('null', 'time', None)),
    (('lexicon:location', '湖北省襄樊市', None), LINKS[16]),
    (('lexicon:location', '北京市海淀区', None), LINKS[17]),
    (('lexicon:location', '火星', None),
     ('火星', 'location',
      '{"province": null, "city": null, "county": null}')),
    (('licence_plate', '川A23047B', None), LINKS[10]),
    (('lexicon:person', '张三', None), ('张三', 'person', None)),
    (('url', 'https://www.baidu.com', None), LINKS[3]),
    (('qq', '987654321', None), LINKS[8]),
    ((None, 'abc', None), ('abc', None, None)),
]


@pytest.fixture(scope='module')
def bundle():
    from jionlp_spark.functions.udfs import LexiconBundle
    return LexiconBundle()


@pytest.fixture(scope='module')
def location_trie():
    return build_trie({'location': lexicons.location_ner_words()})


def test_mentions_pinned(location_trie):
    assert mentions(TEXT, TIME_BASE, location_trie) == MENTIONS


def test_mentions_time_only_with_time_base():
    assert mentions('定于2021年9月3日付100元', None, None) == [
        ('100元', 12, 16, 'money', MONEY_100)]


def test_lexicon_adjacent_same_type_merge():
    trie = build_trie({'location': ['湖北省', '襄樊市', '武汉'],
                       'org': ['大学']})
    text = '湖北省襄樊市和武汉大学'
    assert len(trie.scan_fmm(text)) == 4
    # adjacent same type merges; a gap or a type change does not
    assert lexicon_mentions(text, trie) == [
        ('湖北省襄樊市', 0, 6, 'lexicon:location', None),
        ('武汉', 7, 9, 'lexicon:location', None),
        ('大学', 9, 11, 'lexicon:org', None)]


@pytest.mark.parametrize('args,want', LINK_CASES,
                         ids=[f'{a[0]}:{a[1]}' for a, _ in LINK_CASES])
def test_link_pinned(bundle, args, want):
    assert Linker(bundle).link(*args) == want


def test_linked_document_pinned(bundle):
    assert Linker(bundle).linked(MENTIONS) == [
        m[:4] + (norm, obj, obj_type)
        for m, (obj, obj_type, norm) in zip(MENTIONS, LINKS)]


def test_location_memo_per_linker_and_bounded(bundle, monkeypatch):
    from jionlp_spark.kernels import mentions as kernel
    a, b = Linker(bundle), Linker(bundle)
    a.link('lexicon:location', '湖北省襄樊市', None)
    assert list(a._locations) == ['湖北省襄樊市'] and not b._locations
    monkeypatch.setattr(kernel, 'LOCATION_MEMO_MAX', 1)
    assert a.link('lexicon:location', '北京市海淀区', None) == LINKS[17]
    assert list(a._locations) == ['湖北省襄樊市']
