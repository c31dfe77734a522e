"""Seeded compositional fuzz parity: beyond the reference's own golden
files, random template compositions must parse identically (or fail
identically) in our kernels and the reference.

Exception types may differ (our kernels raise their own classes), so an
outcome is ('ok', value) or ('exc',): outcome kind and parsed values must
match."""

import datetime
import os
import random

import pytest

TB = datetime.datetime(2021, 9, 1, 10, 30)
REF_DICTS = '/root/reference/jionlp/dictionary'


def _outcome(fn, *args, project=lambda v: v, **kw):
    try:
        v = fn(*args, **kw)
    except Exception:
        return ('exc',)
    return ('ok', project(v))


def _spans(mentions):
    return [(m['text'], tuple(m['offset'])) for m in mentions]


def time_parse_fuzz_cases() -> list:
    """Random date/time compositions (also the parse gate's soundness
    inputs, tests/test_grid_search_equivalence.py)."""
    rng = random.Random(12345)
    Y = ['2019年', '今年', '去年', '明年', '1997年', '二〇二一年', '98年', '']
    M = ['1月', '12月', '三月', '正月', '腊月', '上个月', '这个月', '']
    D = ['3日', '31号', '十五日', '今天', '明天', '大前天', '']
    H = ['上午8点', '下午三点', '晚上11点半', '8:30', '凌晨1点一刻', '']
    EXTRA = ['左右', '前后', '', '之前', '以来', '以后']
    cases = []
    for _ in range(1200):
        s = (rng.choice(Y) + rng.choice(M) + rng.choice(D) + rng.choice(H)
             + rng.choice(EXTRA))
        if s:
            cases.append(s)
    return cases


def test_time_parse_fuzz(reference):
    from jionlp_spark.kernels.timeparse import get_time_parser
    tp = get_time_parser()
    cases = time_parse_fuzz_cases()
    assert len(cases) > 1000
    reference.check(
        'parse_time', cases,
        ref=lambda jio, s: _outcome(jio.parse_time, s, time_base=TB),
        ours=lambda s: _outcome(tp.parse, s, time_base=TB))


def test_money_parse_fuzz(reference):
    from jionlp_spark.kernels.money import get_money_parser
    mp = get_money_parser()
    rng = random.Random(54321)
    NUMS = ['三', '十二', '一百零五', '3', '12.5', '3万', '五千', '8千万',
            '一个亿', '两', '俩', '仨', '半']
    UNITS = ['元', '块钱', '美元', '港币', '日元', '万元', '元整',
             '人民币', '欧元', '']
    PRE = ['', '约', '大概', '高达', '人民币', '不到']
    cases = [rng.choice(PRE) + rng.choice(NUMS) + rng.choice(NUMS)
             + rng.choice(UNITS) for _ in range(1500)]
    reference.check('parse_money', cases,
                    ref=lambda jio, s: _outcome(jio.parse_money, s),
                    ours=lambda s: _outcome(mp.parse, s))


def test_extractor_fuzz(reference):
    """Random digit/letter/punct soup through the full extractor sweep vs
    the reference extract_* APIs (span-identical)."""
    from jionlp_spark.kernels.extractors import get_extractor
    ex = get_extractor()
    rng = random.Random(99)
    alphabet = ('0123456789' * 3 + 'abcxyz@._-：，。 '
                + '电话号码身份证预算元千军QQ微信号www')
    cases = [''.join(rng.choice(alphabet)
                     for _ in range(rng.randint(5, 80)))
             for _ in range(400)]
    for fn in ('extract_phone_number', 'extract_email', 'extract_url',
               'extract_id_card', 'extract_ip_address', 'extract_qq'):
        reference.check(
            fn, cases,
            ref=lambda jio, s: _outcome(getattr(jio, fn), s, detail=True,
                                        project=_spans),
            ours=lambda s: _outcome(getattr(ex, fn), s, project=_spans))


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_location_parse_fuzz(jio):
    """Shuffled real admin-name compositions + detail noise through the
    full tie-breaking cascade, town/village mode randomly on (full dicts
    both sides)."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.location import LocationParser
    lp = LocationParser(lexicons.load_admin_divisions(REF_DICTS),
                        lexicons.load_location_changes(REF_DICTS),
                        lexicons.load_town_villages(REF_DICTS))
    rows = lexicons.load_admin_divisions(REF_DICTS)
    provs = sorted({r['province'] for r in rows if r['province']})
    cities = sorted({r['city'] for r in rows if r['city']})[:400]
    counties = sorted({r['county'] for r in rows if r['county']})[:800]
    rng = random.Random(777)
    noise = ['', '人民路88号', '附近', '某小区', '第二中学', '火车站',
             '高新区软件园']
    checked = 0
    for _ in range(800):
        parts = []
        if rng.random() < 0.7:
            parts.append(rng.choice(provs))
        if rng.random() < 0.7:
            parts.append(rng.choice(cities))
        if rng.random() < 0.7:
            parts.append(rng.choice(counties))
        rng.shuffle(parts)
        s = ''.join(parts) + rng.choice(noise)
        if not s:
            continue
        checked += 1
        tv = rng.random() < 0.3
        assert jio.parse_location(s, town_village=tv) == \
            lp.parse(s, town_village=tv), (s, tv)
    assert checked > 700


def grid_extractor_fuzz_cases() -> list:
    """Random compositions of time/money phrases + adversarial filler."""
    rng = random.Random(31337)
    timey = ['2019年3月', '去年夏天', '下周三下午3点', '8点半', '三天后',
             '1997年', '腊月初八', '中秋节', '第二季度', '30分钟', '每周五',
             '01年3月']
    moneyy = ['3000元', '五万块钱', '12.5万美元', '三到五千元', '100万',
              '人民币两千元']
    fill = ['该项目', '于', '举行，预计', '完成。', '情况良好', '无关内容',
            '，', '。', '一点也不', '24点5度', '三块砖', 'ID110108', '87.53']

    cases = []
    for _ in range(500):
        parts = []
        for _ in range(rng.randint(2, 6)):
            r = rng.random()
            parts.append(rng.choice(timey) if r < 0.3 else
                         rng.choice(moneyy) if r < 0.5 else rng.choice(fill))
        cases.append(''.join(parts))
    return cases


def test_grid_extractor_fuzz(reference):
    """Random compositions of time/money phrases + adversarial filler
    through BOTH grid-search extractors (with parsing); spans, types and
    parse details must match."""
    from jionlp_spark.kernels.money_extract import get_money_extractor
    from jionlp_spark.kernels.time_extract import get_time_extractor
    tex, mex = get_time_extractor(), get_money_extractor()

    def spans(lst):
        return [(m['text'], tuple(m['offset']), m.get('type'),
                 str(m.get('detail'))) for m in lst]

    cases = grid_extractor_fuzz_cases()
    reference.check(
        'extract_time', cases,
        ref=lambda jio, s: spans(jio.ner.extract_time(s, time_base=TB,
                                                      with_parsing=True)),
        ours=lambda s: spans(tex.extract(s, TB, with_parsing=True)))
    reference.check(
        'extract_money', cases,
        ref=lambda jio, s: spans(jio.ner.extract_money(s,
                                                       with_parsing=True)),
        ours=lambda s: spans(mex.extract(s, with_parsing=True)))


def test_time_flags_fuzz(reference):
    """ret_future / period_results_num flag combinations across time
    families must match the reference exactly."""
    from jionlp_spark.kernels.timeparse import get_time_parser
    tp = get_time_parser()
    texts = ['明天上午8点', '周五', '下个月3号', '每天早上7点', '每周一下午',
             '8月15日', '3月', '中秋节', '正月初一', '第三季度', '5点',
             '清明', '今天', '后天下午', '每月1号', '十一月', '2022年春节']
    cases = [(s, rf, prn) for s in texts for rf in (False, True)
             for prn in (None, 1, 2, 5)]
    reference.check(
        'parse_time', cases,
        ref=lambda jio, c: _outcome(jio.parse_time, c[0], time_base=TB,
                                    ret_future=c[1], period_results_num=c[2]),
        ours=lambda c: _outcome(tp.parse, c[0], time_base=TB,
                                ret_future=c[1], period_results_num=c[2]))


def test_html_clean_fuzz(reference):
    """Random tag-soup documents: cleaned body AND meta dict must match."""
    from jionlp_spark.kernels.html_clean import clean_html
    rng = random.Random(4242)
    tags = ['<div id="nav">菜单</div>', '<p>正文段落', '</p>',
            '<script>var x=1;</script>', '<b>加粗</b>', '<br>',
            '<table><tr><td>表格</td></tr></table>', '<h1>标题</h1>',
            '<style>.x{color:red}</style>', '<div class="sidebar">侧边',
            '</div>', '<!-- comment -->', '&amp;&lt;&gt;',
            '<meta name="a" content="b">', '文本文字',
            '<a href="http://x.com">链接</a>', '<footer>页脚</footer>',
            '<span>行内</span>']
    cases = [('<html><body>'
              + ''.join(rng.choice(tags) for _ in range(rng.randint(2, 12)))
              + '</body></html>') for _ in range(300)]
    reference.check(
        'clean_html', cases,
        ref=lambda jio, s: _outcome(jio.clean_html, s, project=tuple),
        ours=lambda s: _outcome(clean_html, s, project=tuple))
