"""Parity suites for the M2/M4 kernels: money parse/extract, trad⟷simp
conversion, sentence split, location parsing."""

import os

import pytest

REF_DICTS = '/root/reference/jionlp/dictionary'

MONEY_CASES = [
    '六十四万零一百四十三元一角七分', '七千三百万港元', '601,293.11元',
    '一万二千三百四十五元', '7000多万港元', '10k', '15w', '三十五块八毛',
    '两块三毛五', '9300万元', '1.2万元', '9佰元', '三到五万港币', '3到5万港币',
    '五六百美元', '一百二十到一百五十万元', '十八到三十万元', '大约100元',
    '不到1000日元', '超过五千元', '近三万元新台币', '2000余元', '十几块钱',
    '数十元', '十多块钱', '五十块钱人民币', '12.5美金', '1000元整',
    '壹仟贰佰叁拾肆元', '100', '0.5元', '亿元', '三百块', '1,234,567.89美元',
    '五万', '几百块', '从一百到二百元', '300——500元', '打酱油', '元', '多多',
    '三点五元', '5毛', '一块2', '负一百元', '１２３元', '五角', '九分', '3万块',
    '八千八佰捌拾捌元', '1.5亿美元', '两亿三千万元', '12块5毛3', '65万亿韩元',
    '2兆日元', '100元（含）以上', '一到两千块', '四五个亿', '仅5000元',
]

MONEY_TEXTS = [
    '海航亏损7000万港元出售香港公寓。成交价2.6亿港元，较3.3亿港元亏损。股价为二十三块四毛钱。',
    '以8650万港元的价格出售，较去年近1.2亿港元入手的价格亏损了约3350万港元。',
    '一度报价达到几千万美元。折合单价为28000港元/平方英尺（折合243300元/平方米）。',
    '预算为601,293.11元，成交价七千三百万港元，工资10k~15k。',
    '三块砖不值钱，但87.53元是钱。2019-07-18 不是金额。',
    '这件商品卖三十五块八毛，那件卖一万二千三百四十五元。',
    '132017-04-09 编号而已。身份证520103201711090020。',
    '金额 123 与纯数字 456。',
]

LOCATION_CASES = [
    '喀左旗覃家岗街道梨树湾村芭蕉沟村民小组临.222号', '湖北省襄樊市小水街222号',
    '湖南湘潭市湘潭县城塘社区', '上海市嘉定区太原路99号',
    '成都和西安是西部大开发先锋城市。', '北京市朝阳区发布新政策', '青海西宁的风光',
    '海南藏族自治州概况', '科尔沁左翼后旗人民政府', '西安交通大学的校区',
    '海南大学的学生', '北海市重庆路其仓11号', '湖南省长沙市', '鼓楼区的房价',
    '高新区企业发展', '贵州省贵阳市云岩区中华北路', '广东省揭阳市榕城区',
    '黑龙江伊春市美溪区', '今天天气很好没有地名', '重庆市渝中区解放碑',
    '天津市和平区', '香港特别行政区中环',
]

TS_CASES = [
    '今天天氣好晴朗，想喫速食麵。妳還在工作嗎？在太空梭上工作嗎？',
    '今天天气好晴朗，想吃方便面。你还在工作吗？在航天飞机上工作吗？',
    '憂鬱的臺灣烏龜尋釁滋事', '',
]

REF_RAISES = ('raises', 'AssertionError')

SENT_CASES = [
    '央视新闻消息，近日，特朗普老友皮尔斯·摩根喊话特朗普：“美国人的生命比你的选举更重要。'
    '如果你继续以自己为中心，继续玩弄愚蠢的政治……如果你意识不到自己的错误，你就做不对”。'
    '目前，特朗普已“取关”了这位老友。',
    '中华古汉语，泱泱大国，历史传承的瑰宝。', '“开头引号”之后。', '', '。。。',
    'abc\ndef',
]


def test_money_parser_parity(reference):
    from jionlp_spark.kernels.money import MoneyParseError, get_money_parser
    mp = get_money_parser()

    def ref(jio, c):
        try:
            return jio.parse_money(c)
        except Exception:
            return ('ERR',)

    def ours(c):
        try:
            return mp.parse(c)
        except MoneyParseError:
            return ('ERR',)

    reference.check('parse_money', MONEY_CASES, ref=ref, ours=ours)


def _money_spans(mentions):
    return [(m['text'], tuple(m['offset']), str(m.get('detail')))
            for m in mentions]


def test_money_extractor_parity(reference, sample_texts):
    from jionlp_spark.kernels.money_extract import get_money_extractor
    me = get_money_extractor()
    reference.check(
        'extract_money', MONEY_TEXTS + sample_texts[:120],
        ref=lambda jio, t: _money_spans(
            jio.ner.extract_money(t, with_parsing=True)),
        ours=lambda t: _money_spans(me.extract(t, with_parsing=True)))


def test_tsconv_parity(reference):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.tsconv import TSConverter
    ts = TSConverter(**lexicons.load_ts_tables())
    cases = [(t, mode, fn) for t in TS_CASES for mode in ('char', 'word')
             for fn in ('tra2sim', 'sim2tra')]

    def ours(case):
        t, mode, fn = case
        return getattr(ts, fn)(t, mode=mode)

    def ref(jio, case):
        t, mode, fn = case
        try:
            return getattr(jio, fn)(t, mode=mode)
        except AssertionError:
            return REF_RAISES  # reference crashes on tra input to sim2tra

    # A golden captured from the certified tree holds its kernel output for
    # every case (which of them the reference crashed on was not recorded),
    # so golden mode checks those cases against that tree as well.
    want = reference.outputs('ts_conversion', cases, ref=ref, ours=ours)
    for case, w in zip(cases, want):
        if w != REF_RAISES:
            assert ours(case) == w, (case, w)


def test_split_sentence_parity(reference):
    from jionlp_spark.kernels.sentence import split_sentence
    reference.check(
        'split_sentence',
        [(t, cr) for t in SENT_CASES for cr in ('coarse', 'fine')],
        ref=lambda jio, c: jio.split_sentence(c[0], criterion=c[1]),
        ours=lambda c: split_sentence(c[0], criterion=c[1]))


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_location_parser_parity(jio):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.location import LocationParser
    lp = LocationParser(lexicons.load_admin_divisions(REF_DICTS),
                        lexicons.load_location_changes(REF_DICTS))
    for t in LOCATION_CASES:
        for c2n in (True, False):
            ref = jio.parse_location(t, change2new=c2n)
            got = lp.parse(t, change2new=c2n)
            assert ref == got, (t, c2n, ref, got)


def _region(res):
    return (res['province'], res['city'], res['county'])


def test_location_parser_vendored_subset(reference):
    """The vendored subset must agree with the reference on all fixture
    locations it covers."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.location import LocationParser
    lp = LocationParser(lexicons.load_admin_divisions(),
                        lexicons.load_location_changes())
    covered = ['湖北省襄樊市小水街222号', '上海市嘉定区太原路99号',
               '贵州省贵阳市云岩区中华北路', '北京市朝阳区发布新政策',
               '广东省揭阳市榕城区', '湖南湘潭市湘潭县城塘社区']
    reference.check('parse_location', covered,
                    ref=lambda jio, t: _region(jio.parse_location(t)),
                    ours=lambda t: _region(lp.parse(t)))


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_location_town_village_parity(jio):
    """town_village=True five-level parsing vs the reference (full dicts)."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.location import LocationParser
    lp = LocationParser(lexicons.load_admin_divisions(REF_DICTS),
                        lexicons.load_location_changes(REF_DICTS),
                        lexicons.load_town_villages(REF_DICTS))
    cases = ['喀左旗覃家岗街道梨树湾村芭蕉沟村民小组临.222号',
             '上海市嘉定区华亭镇华亭村88号',
             '上海市嘉定区南翔镇东园社区',
             '贵州省贵阳市云岩区黔灵东路街道',
             '北京市海淀区中关村街道',
             '湖北省襄阳市襄城区古城街道',
             '成都是西部大开发先锋城市。',
             '不含地名的一句话。']
    for t in cases:
        ref = jio.parse_location(t, town_village=True)
        got = lp.parse(t, town_village=True)
        assert ref == got, (t, ref, got)
    # flag off keeps the five-level keys absent (three-level dict shape)
    no_tv = lp.parse('上海市嘉定区华亭镇华亭村88号')
    assert 'town' not in no_tv and 'village' not in no_tv


def _town_village(res):
    return (res['town'], res['village'])


def test_location_town_village_vendored(reference):
    """The vendored town/village slice must agree with the reference on
    fixture addresses inside the vendored counties."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.location import LocationParser
    lp = LocationParser(lexicons.load_admin_divisions(),
                        lexicons.load_location_changes(),
                        lexicons.load_town_villages())
    reference.check(
        'parse_location', ['上海市嘉定区华亭镇华亭村88号',
                           '上海市嘉定区南翔镇东园社区',
                           '北京市海淀区中关村街道'],
        ref=lambda jio, t: _town_village(
            jio.parse_location(t, town_village=True)),
        ours=lambda t: _town_village(lp.parse(t, town_village=True)))
