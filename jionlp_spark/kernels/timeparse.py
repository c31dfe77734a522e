"""Time parsing kernel (high-coverage subset).

Behavioral port of the most-used families of the reference TimeParser
(/root/reference/jionlp/gadget/time_parser.py, ~4.9k lines) plus a full port
of its TimeDelta parser (time_parser_new/time_delta.py) and shared utility
layer (time_parser_new/time_utility.py).  Same 6-slot handler model
[Y,M,D,h,m,s] with -1 = unknown, same dispatch (period → delta →
span/point), same longest-match pattern selection inside parse_time_point
(time_parser.py:1570-1630), same rendering/completion rules.

COVERAGE: all families exercised by the reference's own 1215-line golden
test file pass 414/414 (tests/test_time_parity.py) — numeric dates, limit
words (今年/去年…), weekdays, clock times, spans, deltas, periods,
delta→point/span, blur months/days/years, solar seasons, 世纪/年代,
super-blur, lunar calendar + lunar dates (kernels/lunar.py), festivals, the
24 solar terms, lunar seasons, enum days, 第n个星期k, 旬.  API flags
ret_future / period_results_num / lunar_date are ported; virtual_time is
accepted as a documented no-op (the reference stores but never reads it,
time_parser.py:805).
"""

from __future__ import annotations

import datetime
import re
import time as _time

from . import patterns as P
from .money import MoneyParseError, get_money_parser
from .regex_gate import longest_match, required_chars, widen

_b, _ba, _a, I = P._b, P._ba, P._a, P.TP_I


class TimeParseError(ValueError):
    pass


class TimePoint:
    __slots__ = ('year', 'month', 'day', 'hour', 'minute', 'second')

    def __init__(self) -> None:
        self.year = self.month = self.day = -1
        self.hour = self.minute = self.second = -1

    def handler(self) -> list:
        return [self.year, self.month, self.day,
                self.hour, self.minute, self.second]

    def assign(self, *args) -> None:
        for name, val in zip(self.__slots__, args):
            setattr(self, name, val)


class TimeDelta:
    def __init__(self) -> None:
        self.year = 0
        self.month = 0
        self.day = 0
        self.workday = 0
        self.hour = 0
        self.minute = 0
        self.second = 0
        self.millisecond = 0
        self.microsecond = 0
        self.nanosecond = 0
        self.infinite = 0
        self.zero = 0


_BIG_MOON = {1, 3, 5, 7, 8, 10, 12}
_SMALL_MOON = {4, 6, 9, 11}
_FUTURE = 'inf'
_PAST = '-inf'
_CN2AR = str.maketrans('零〇一二三四五六七八九', '00123456789')


# ---------------------------------------------------------------------------
# shared utility layer (time_utility.py)

def compare_handler(a, b) -> int:
    for f, s in zip(a, b):
        if f == -1 or s == -1:
            break
        if f == s:
            continue
        return 1 if f > s else -1
    return 0


def cut_zero_key(d: dict) -> dict:
    return {k: v for k, v in d.items() if v > 0}


def time_completion(handler, base):
    if handler in (_FUTURE, _PAST):
        return handler
    for i in range(len(handler)):
        if handler[i] > -1:
            break
        handler[i] = base[i]
    return handler


def check_handler(handler) -> bool:
    if handler in (_FUTURE, _PAST):
        return True
    if set(handler) == {-1}:
        return False
    first = second = False
    for i in range(5):
        if handler[i] > -1 and handler[i + 1] == -1:
            first = True
        if handler[i] == -1 and handler[i + 1] > -1 and first:
            second = True
    return not (first and second)


def time_base2handler(time_base):
    if isinstance(time_base, (float, int)):
        t = datetime.datetime.fromtimestamp(time_base)
        return [t.year, t.month, t.day, t.hour, t.minute, t.second]
    if isinstance(time_base, datetime.datetime):
        return [time_base.year, time_base.month, time_base.day,
                time_base.hour, time_base.minute, time_base.second]
    if isinstance(time_base, list):
        tb = list(time_base)
        tb.extend([-1] * (6 - len(tb)))
        return tb
    if isinstance(time_base, dict):
        return [time_base.get(k, -1) for k in
                ('year', 'month', 'day', 'hour', 'minute', 'second')]
    if isinstance(time_base, str):
        t = _time.strptime(time_base, '%Y-%m-%d %H:%M:%S')
        return [t.tm_year, t.tm_mon, t.tm_mday,
                t.tm_hour, t.tm_min, t.tm_sec]
    if time_base is None:
        return None
    raise TimeParseError('illegal time_base')


def handler2datetime(handler) -> datetime.datetime:
    vals = []
    for idx, v in enumerate(handler):
        if v > -1:
            vals.append(v)
        else:
            vals.append(1 if idx <= 2 else 0)
    return datetime.datetime(*vals)


def handler2standard(first, second):
    """Render a handler pair to 'YYYY-MM-DD HH:MM:SS' strings, filling the
    start down (01-01 00:00:00) and the end up (12-31 23:59:59 with correct
    month length / leap day) — time_utility.py:212-287."""
    if first == _PAST:
        first_str = _PAST
    else:
        vals = []
        for idx, f in enumerate(first):
            if f > -1:
                vals.append(f)
            elif idx in (1, 2):
                vals.append(1)
            elif idx in (3, 4, 5):
                vals.append(0)
            else:
                raise TimeParseError('illegal first handler')
        try:
            first_str = datetime.datetime(*vals).strftime('%Y-%m-%d %H:%M:%S')
        except Exception as e:
            raise TimeParseError(str(e))

    if second == _FUTURE:
        second_str = _FUTURE
    else:
        vals = []
        for idx, s in enumerate(second):
            if s > -1:
                vals.append(s)
            elif idx == 1:
                vals.append(12)
            elif idx == 2:
                m = vals[1]
                if m in _BIG_MOON:
                    vals.append(31)
                elif m in _SMALL_MOON:
                    vals.append(30)
                else:
                    y = vals[0]
                    leap = (y % 100 != 0 and y % 4 == 0) or \
                        (y % 100 == 0 and y % 400 == 0)
                    vals.append(29 if leap else 28)
            elif idx == 3:
                vals.append(23)
            elif idx in (4, 5):
                vals.append(59)
            else:
                raise TimeParseError('illegal second handler')
        try:
            second_str = datetime.datetime(*vals).strftime(
                '%Y-%m-%d %H:%M:%S')
        except Exception as e:
            raise TimeParseError(str(e))

    return first_str, second_str


def _search(pattern: re.Pattern, s: str) -> str:
    m = pattern.search(s)
    return m.group() if m else ''


# ---------------------------------------------------------------------------
# TimeDelta parser (full port of time_delta.py)

class TimeDeltaParser:
    def __init__(self) -> None:
        # bounded memo of (time_string, time_type) pairs known to yield None
        self._span_none_memo: set = set()
        # lazy regex_gate prescreens for the delta battery
        self._delta_req: list | None = None
        self.exception_standard_delta = re.compile(
            r'(([12]\d{3}|[一二三四五六七八九零〇]{2}|[一二三四五六七八九零〇]{4})年)')
        self.ambivalent_delta_point = re.compile(
            '(' + P.DAY_NUM_STRING + r'日|\d{2}年)')
        self.delta_num = re.compile(P.DELTA_NUM_STRING)
        self.single_num = re.compile(P.SINGLE_NUM_STRING)

        self.year_delta = re.compile(_b(P.YEAR_DELTA_STRING))
        self.season_delta = re.compile(_b(P.SOLAR_SEASON_DELTA_STRING))
        self.month_delta = re.compile(_b(P.MONTH_DELTA_STRING))
        self.workday_delta = re.compile(_b(P.WORKDAY_DELTA_STRING))
        self.day_delta = re.compile(_b(P.DAY_DELTA_STRING))
        self.week_delta = re.compile(_b(P.WEEK_DELTA_STRING))
        self.hour_delta = re.compile(_b(P.HOUR_DELTA_STRING))
        self.quarter_delta = re.compile(_b(P.QUARTER_DELTA_STRING))
        self.minute_delta = re.compile(_b(P.MINUTE_DELTA_STRING))
        self.second_delta = re.compile(_b(P.SECOND_DELTA_STRING))

        self.standard_delta = re.compile(''.join(
            ['^(', _b(P.YEAR_DELTA_STRING), I, _b(P.SOLAR_SEASON_DELTA_STRING),
             I, _b(P.MONTH_DELTA_STRING), I, _b(P.WORKDAY_DELTA_STRING), I,
             _b(P.DAY_DELTA_STRING), I, _b(P.WEEK_DELTA_STRING), I,
             _b(P.HOUR_DELTA_STRING), I, _b(P.QUARTER_DELTA_STRING), I,
             _b(P.MINUTE_DELTA_STRING), I, _b(P.SECOND_DELTA_STRING), ')+$']))
        self.law_delta = re.compile(''.join(
            [P.DELTA_NUM_STRING, '(年|个月|日|天)(以[上下])',
             _ba(''.join(['[、,，]?', P.DELTA_NUM_STRING, '(年|个月|日|天)(以下)']))]))
        self.special_delta = re.compile(
            '(' + P.SINGLE_NUM_STRING + '天' + P.SINGLE_NUM_STRING + '[夜晚]|'
            + P.SINGLE_NUM_STRING + '+[个载度]春秋|一年四季|大半(天|年|(个)?(月|小时|钟头)))')

        self.span_compensation = re.compile(
            r'[\d一两二三四五六七八九十百千万零]{1,10}(到|至|——|－－|--|~~|～～|—|－|-|~|～)'
            r'([\d一两二三四五六七八九十百千万零]{1,10}(年|个月|周|(个)?(星期|礼拜)|日|天|(个)?(小时|钟头)|分钟|秒))')
        self.delta_exception = re.compile(
            '(' + _b(P.YEAR_STRING) + I + _b(P.DAY_STRING) + ')')
        self.first_span = re.compile(r'([^到至\-—~～]+)(?=(——|--|~~|～～|－－|到|至|－|—|-|~|～))')
        self.second_1_span = re.compile(r'(?<=(——|--|~~|～～|－－))([^到至\-—~～]+)')
        self.second_2_span = re.compile(r'(?<=[到至－—\-~～])([^到至－\-—~～]+)')

        self._money = get_money_parser()

    def char_num2num(self, s: str) -> float:
        try:
            res = self._money.parse(s)
        except MoneyParseError:
            return 0
        num = res['num']
        if num is None:
            return 0
        return float(num)

    def _compensate(self, time_string, first, second):
        comp = self.span_compensation.search(time_string)
        if comp and self.delta_exception.search(time_string) is None:
            comp = comp.group()
            if '年' in comp:
                first += '年'
            elif '个月' in comp:
                first += '个月'
            elif '星期' in comp or '周' in comp or '礼拜' in comp:
                first += '个星期'
            elif '日' in comp or '天' in comp:
                first += '天'
            elif '小时' in comp or '钟头' in comp:
                first += '个小时'
            elif '秒' in comp:
                first += '秒钟'
            elif '分' in comp:
                first += '分钟'
        return first, second

    def parse_time_delta_span(self, time_string, time_type=None):
        # Pure in (time_string, time_type); only the None (no-delta) result
        # is memoized — the common grid-search rejection path — so returned
        # delta dicts are always freshly built (no aliasing with callers).
        key = (time_string, time_type)
        if key in self._span_none_memo:
            return None
        res = self._parse_time_delta_span(time_string, time_type)
        if res is None and len(self._span_none_memo) < 200000:
            self._span_none_memo.add(key)
        return res

    def _parse_time_delta_span(self, time_string, time_type=None):
        first = _search(self.first_span, time_string) or None
        second = (_search(self.second_1_span, time_string) or
                  _search(self.second_2_span, time_string) or None)
        if first is not None and second is not None:
            first, second = self._compensate(time_string, first, second)
            fd, _t, _bl = self.parse_time_delta(first, time_type='time_delta')
            sd, _t, _bl = self.parse_time_delta(second, time_type='time_delta')
            if fd != {} and sd != {}:
                return {'type': 'time_delta', 'definition': 'blur',
                        'time': [fd, sd]}
            return None
        delta_dict, time_type, blur = self.parse_time_delta(
            time_string, time_type=time_type)
        if delta_dict != {}:
            return {'type': 'time_delta', 'definition': blur,
                    'time': delta_dict}
        return None

    def parse_time_delta(self, time_string, time_type=None):
        funcs = [(self.standard_delta, self._normalize_standard),
                 (self.law_delta, self._normalize_law),
                 (self.special_delta, self._normalize_special)]
        if self._delta_req is None:
            self._delta_req = [required_chars(p) for p, _f in funcs]
        chars = set(time_string)
        cur_func, cur_string = None, ''
        for (pattern, func), req in zip(funcs, self._delta_req):
            if req is not None and req.isdisjoint(chars):
                s = ''
            else:
                s = _search(pattern, time_string)
            if len(s) > len(cur_string):
                cur_func, cur_string = func, s
            if cur_string == time_string:
                break
        if len(cur_string) < len(time_string):
            return {}, time_type, 'blur'
        delta, time_type, blur = cur_func(time_string, time_type)
        if isinstance(delta, list):
            return [cut_zero_key(d.__dict__) for d in delta], time_type, blur
        return cut_zero_key(delta.__dict__), time_type, blur

    def _normalize_standard(self, time_string, time_type=None):
        delta = TimeDelta()
        if self.exception_standard_delta.search(time_string) is None:
            if self.ambivalent_delta_point.search(time_string):
                if time_type in (None, 'time_point', 'time_span',
                                 'time_period'):
                    return delta, 'time_point', 'blur'
        else:
            return delta, 'time_span', 'blur'

        definition = 'accurate'
        units = [('second', 1, self.second_delta),
                 ('minute', 1, self.minute_delta),
                 ('minute', 15, self.quarter_delta),
                 ('hour', 1, self.hour_delta),
                 ('day', 1, self.day_delta),
                 ('workday', 1, self.workday_delta),
                 ('day', 7, self.week_delta),
                 ('month', 1, self.month_delta),
                 ('month', 3, self.season_delta),
                 ('year', 1, self.year_delta)]
        for unit, multi, pattern in units:
            num, _definition = self._normalize_unit(time_string, pattern)
            setattr(delta, unit, getattr(delta, unit) + num * multi)
            if num > 0:
                definition = _definition
        return delta, 'time_delta', definition

    def _normalize_unit(self, time_string, pattern):
        time_string = time_string.replace('俩', '两个').replace('仨', '三个')
        m = pattern.search(time_string)
        num = 0
        definition = 'accurate'
        if m:
            dn = self.delta_num.search(m.group())
            if dn:
                num = float(self.char_num2num(dn.group()))
            if '半' in time_string:
                num = num + 0.5 if num > 0 else 0.5
                definition = 'blur'
            if '多' in time_string or '余' in time_string:
                definition = 'blur'
        return num, definition

    def _normalize_law(self, time_string, time_type=None):
        if '以上' in time_string and '以下' in time_string:
            first_s, second_s = time_string.split('以上', 1)
            return [self._law_base(first_s), self._law_base(second_s)], \
                'time_delta', 'blur'
        if '以上' in time_string:
            hi = TimeDelta()
            hi.infinite = True
            return [self._law_base(time_string), hi], 'time_delta', 'blur'
        if '以下' in time_string:
            lo = TimeDelta()
            lo.zero = True
            return [lo, self._law_base(time_string)], 'time_delta', 'blur'
        raise TimeParseError(time_string)

    def _law_base(self, time_string):
        delta = TimeDelta()
        dn = self.delta_num.search(time_string)
        if not dn:
            raise TimeParseError(time_string)
        num = self.char_num2num(dn.group())
        if '年' in time_string:
            delta.year = num
        elif '个月' in time_string:
            delta.month = num
        elif '日' in time_string or '天' in time_string:
            delta.day = num
        else:
            raise TimeParseError(time_string)
        return delta

    def _normalize_special(self, time_string, time_type=None):
        if '天' in time_string and ('夜' in time_string or '晚' in time_string):
            m = self.single_num.search(time_string)
            if m:
                d = TimeDelta()
                d.day = self.char_num2num(m.group())
                return d, 'time_delta', 'accurate'
        elif '春秋' in time_string:
            m = self.single_num.search(time_string)
            if m:
                d = TimeDelta()
                d.year = self.char_num2num(m.group())
                return d, 'time_delta', 'blur'
        elif '一年四季' in time_string:
            d = TimeDelta()
            d.year = 1
            return d, 'time_delta', 'blur'
        elif '大半' in time_string:
            lo, hi = TimeDelta(), TimeDelta()
            for unit, names in (('year', ('年',)), ('month', ('月',)),
                                ('day', ('天',)),
                                ('hour', ('小时', '钟头'))):
                if any(n in time_string for n in names):
                    setattr(lo, unit, 0.5)
                    setattr(hi, unit, 0.9)
                    return [lo, hi], 'time_delta', 'blur'
            raise TimeParseError(time_string)
        raise TimeParseError(time_string)


# ---------------------------------------------------------------------------
# TimeParser (subset)

_BLUR_HOUR_MAP = [
    (('清晨',), 5, 7), (('清早',), 5, 8),
    (('早上', '早晨', '一早', '一大早'), 6, 9),
    (('黎明',), 4, 6), (('白天',), 6, 18), (('上午',), 7, 11),
    (('中午',), 12, 13), (('午后',), 13, 14),
    (('下午',), 13, 17), (('傍晚',), 17, 18),
    (('晚', '晚上'), 18, 23), (('晚间', '夜间', '夜里'), 20, 23),
    (('深夜',), 23, 23),
    (('上半夜', '前半夜'), 0, 2), (('下半夜', '后半夜'), 2, 4),
    (('半夜', '凌晨'), 0, 4), (('午夜',), 0, 0),
]

_LIMIT_YEAR_RULES = [
    (('大前',), -3), (('前一',), -1), (('前',), -2), (('去', '上'), -1),
    (('今', '这', '同', '当', '本'), 0), (('明', '次'), 1), (('后',), 2),
]


_FIXED_SOLAR_HOLIDAYS = {
    '元旦': [1, 1], '妇女节': [3, 8], '女神节': [3, 8], '三八': [3, 8],
    '植树节': [3, 12], '五一': [5, 1], '劳动节': [5, 1], '青年节': [5, 4],
    '六一': [6, 1], '儿童节': [6, 1], '七一': [7, 1], '建党节': [7, 1],
    '八一': [8, 1], '建军节': [8, 1], '教师节': [9, 10], '国庆节': [10, 1],
    '十一': [10, 1], '国庆': [10, 1], '清明节': [4, 5],
    '情人节': [2, 14], '愚人节': [4, 1], '万圣节': [10, 31], '圣诞': [12, 25],
    '地球日': [4, 22], '护士节': [5, 12], '三一五': [3, 15],
    '消费者权益日': [3, 15], '三.一五': [3, 15], '三·一五': [3, 15],
    '双11': [11, 11], '双十一': [11, 11], '双十二': [12, 12], '双12': [12, 12],
}
_FIXED_LUNAR_HOLIDAYS = {
    '春节': [1, 1], '大年初一': [1, 1], '大年初二': [1, 2], '大年初三': [1, 3],
    '大年初四': [1, 4], '大年初五': [1, 5], '大年初六': [1, 6],
    '大年初七': [1, 7], '大年初八': [1, 8], '大年初九': [1, 9],
    '大年初十': [1, 10], '元宵': [1, 15], '填仓节': [1, 25], '龙抬头': [2, 2],
    '上巳节': [3, 3], '寒食节': [4, 3], '浴佛节': [4, 8], '端午': [5, 5],
    '端阳': [5, 5], '姑姑节': [6, 6], '七夕': [7, 7], '中元': [7, 15],
    '财神节': [7, 22], '中秋': [8, 15], '重阳': [9, 9], '下元节': [10, 15],
    '寒衣节': [10, 1], '腊八': [12, 8], '除夕': [12, 30], '大年三十': [12, 30],
}
_REGULAR_SOLAR_HOLIDAYS = {
    '母亲节': {'month': 5, 'week': 2, 'day': 7},
    '父亲节': {'month': 6, 'week': 3, 'day': 7},
    '感恩节': {'month': 11, 'week': 4, 'day': 4},
}

_20C_ST_KEYS = [6.11, 20.84, 4.6295, 19.4599, 6.3826, 21.4155, 5.59, 20.888,
                6.318, 21.86, 6.5, 22.2, 7.928, 23.65, 8.35, 23.95, 8.44,
                23.822, 9.098, 24.218, 8.218, 23.08, 7.9, 22.6]
_21C_ST_KEYS = [5.4055, 20.12, 3.87, 18.73, 5.63, 20.646, 4.81, 20.1, 5.52,
                21.04, 5.678, 21.37, 7.108, 22.83, 7.5, 23.13, 7.646, 23.042,
                8.318, 23.438, 7.438, 22.36, 7.18, 21.94]
_ST_NAMES = ['小寒', '大寒', '立春', '雨水', '惊蛰', '春分', '清明', '谷雨',
             '立夏', '小满', '芒种', '夏至', '小暑', '大暑', '立秋', '处暑',
             '白露', '秋分', '寒露', '霜降', '立冬', '小雪', '大雪', '冬至']
_ST_MONTHS = ['1', '1', '2', '2', '3', '3', '4', '4', '5', '5', '6', '6',
              '7', '7', '8', '8', '9', '9', '10', '10', '11', '11', '12',
              '12']
_ST_SPECIALS = {
    '小寒': [(2019, -1), (1982, 1)], '大寒': [(2082, 1)],
    '雨水': [(2026, -1)], '春分': [(2084, 1)], '立夏': [(1911, 1)],
    '小满': [(2008, 1)], '芒种': [(1902, 1)], '小暑': [(2016, 1), (1925, 1)],
    '大暑': [(1922, 1)], '立秋': [(2002, 1)], '白露': [(1927, 1)],
    '寒露': [(2088, 0)], '霜降': [(2089, 1)], '立冬': [(2089, 1)],
    '小雪': [(1978, 0)], '大雪': [(1954, 1)],
    '冬至': [(2021, -1), (1918, -1)],
}


class TimeParser:
    def __init__(self) -> None:
        self.delta = TimeDeltaParser()
        self._compile()
        self.time_base_handler = None
        self.string_strict = False
        self.ret_future = False
        self.lunar_date = True
        # pure-selection memos for parse_time_point / parse_span_2_2_point
        # (bounded; see the method docstrings)
        self._point_sel_memo: dict = {}
        self._span22_memo: dict = {}
        # sound must-contain-char gates for the selection batteries: a
        # pattern whose every match provably contains a char the string
        # lacks cannot match — skip its search (kernels/regex_gate.py;
        # None = unprovable, always search)
        self._ymd_req = [required_chars(p) for p, _f in self.ymd_funcs]
        self._hms_req = [required_chars(p) for p, _f in self.hms_funcs]

    # -- patterns -------------------------------------------------------------

    def _compile(self) -> None:
        YS, LYS, MS, LMS, DS, LDS = (P.YEAR_STRING, P.LIMIT_YEAR_STRING,
                                     P.MONTH_STRING, P.LIMIT_MONTH_STRING,
                                     P.DAY_STRING, P.LIMIT_DAY_STRING)
        SUF = P.TIME_POINT_SUFFIX

        self.chinese_char = re.compile(P.CHINESE_CHAR)
        self.ymd_segs = re.compile(r'[\-.·/ ]')
        self.hms_segs = re.compile('[:：]')

        # span seg control (time_parser.py:255-263)
        self.seg_force = re.compile(
            r'((17|18|19|20|21)\d{2})[./](1[012]|[0]?\d)[\-]((17|18|19|20|21)\d{2})([./](1[012]|[0]?\d))?')
        self.seg_suppress = re.compile(
            r'((17|18|19|20|21)\d{2})\-(1[012]|[0]?\d)[\-./](30|31|[012]?\d)|'
            r'((17|18|19|20|21)\d{2})[\-./](1[012]|[0]?\d)\-(30|31|[012]?\d)|'
            r'(^\d)(1[012]|[0]?\d)\-(30|31|[012]?\d)(^\d)')

        # span split (time_parser.py:685-698)
        self.first_1_span = re.compile(
            r'(?<=(从|自))([^起到至\-—~～]+)(?=(起|到|至|以来|开始|—|－|-|~|～))|'
            r'(?<=(从|自))([^起到至\-—~～]+)')
        self.first_2_span = re.compile(r'(.+)(?=(——|--|~~|－－|～～))')
        self.first_3_span = re.compile(r'([^起到至\-—~～]+)(?=(起|到|至|以来|开始|－|—|-|~|～))')
        self.first_4_span = re.compile(r'(.+)(?=(之后|以后)$)')
        self.first_5_span = re.compile(r'(.+)(?=(后)$)')
        self.second_0_span = re.compile(r'(?<=(以来|开始|——|--|~~|－－|～～))(.+)')
        self.second_1_span = re.compile(
            r'(?<=[起到至\-—~～－])([^起到至\-—~～－]+)(?=([之以]?前|止)$)')
        self.second_2_span = re.compile(r'(?<=[起到至\-—~～－])([^起到至\-—~～－]+)')
        self.second_3_span = re.compile(
            r'^((\d{1,2}|[一二两三四五六七八九十百千]+)[几多]?年(半)?(多)?|半年(多)?|几[十百千](多)?年)'
            r'(?=([之以]?前|止)$)')

        # point patterns (subset of the preamble, time_parser.py:265-528)
        self.standard_ymd = re.compile(
            r'((17|18|19|20|21)\d{2})[\-./](1[012]|[0]?\d)([\-./](30|31|[012]?\d))?[ \t　\-./]?|'
            r'((17|18|19|20|21)\d{2} (1[012]|[0]?\d) (30|31|[012]?\d))|'
            r'(1[012]|[0]?\d)[·\-/](30|31|[012]?\d)')
        self.standard_2_ymd = re.compile(
            r'((18|19|20)\d{2})(1[012]|0\d)(3[01]|[012]\d)')
        self.standard_year = re.compile(r'(17|18|19|20|21)\d{2}')
        self.ymd = re.compile(''.join(
            [_b(YS), _ba(MS), _ba(DS), _a(SUF), I,
             _b(MS), _ba(DS), _a(SUF), I, _b(DS), _a(SUF)]))
        self.limit_ymd = re.compile(''.join(
            [_b(LYS), _ba(MS), _ba(DS), _a(SUF)]))
        self.limit_month_day = re.compile(''.join([_b(LMS), _ba(DS)]))
        self.limit_month_limit_span_day = re.compile(
            ''.join([_b(LMS), _ba(P.LIMIT_SPAN_DAY_STRING)]))
        self.month_limit_span_day = re.compile(
            ''.join([_b(MS), _ba(P.LIMIT_SPAN_DAY_STRING)]))
        self.limit_span_day = re.compile(P.LIMIT_SPAN_DAY_STRING)
        self.limit_month = re.compile(LMS)
        self.limit_day = re.compile(LDS)
        self.limit_day_inner = re.compile(
            r'(前|今|明|同一|当|后|大大前|大大后|大前|大后|昨|次)(?=[天日晚])')
        self.standard_week_day = re.compile(
            '(上+|下+|本|这)?(一)?(个)?(周)?' + P.WEEK_STRING + '[一二三四五六日末天]')
        _ORDER_WEEK = '第[1-5一二三四五](个)?' + P.WEEK_STRING
        self.limit_week = re.compile(
            _b(MS) + '(的)?' + _ORDER_WEEK + '[一二三四五六日末天]')
        self.month_week = re.compile(_b(MS) + '(的)?' + _ORDER_WEEK)
        self.limit_month_week = re.compile(_b(LMS) + '(的)?' + _ORDER_WEEK)
        self.year_month_week = re.compile(
            _b(YS) + _b(MS) + '的?' + _ORDER_WEEK)
        self.limit_year_month_week = re.compile(
            _b(LYS) + _b(MS) + '的?' + _ORDER_WEEK)
        self.year_week = re.compile(
            _b(YS) + '第' + _b(P.WEEK_NUM_STRING) + '(个)?' + P.WEEK_STRING)
        self.limit_year_week = re.compile(
            _b(LYS) + '第' + _b(P.WEEK_NUM_STRING) + '(个)?' + P.WEEK_STRING)
        self.week_5 = re.compile(
            '第' + P.WEEK_NUM_STRING + '(个)?' + P.WEEK_STRING)
        self.blur_week = re.compile(
            '[前后]' + P.WEEK_NUM_STRING + '(个)?' + P.WEEK_STRING + I +
            P.WEEK_NUM_STRING + '(个)?' + P.WEEK_STRING + '(之)?[前后]' + I +
            '(上+|下+|本|这)?(一)?(个)?' + P.WEEK_STRING)
        # lunar / festival / solar-term patterns (time_parser.py:362-496)
        LU = P.LU_STRING
        LU_A = _a(LU)
        CONJ_A = _a(P.CONJ_STRING)
        LYSTR = P.LUNAR_YEAR_STRING
        LMSTR = P.LUNAR_MONTH_STRING
        self.lunar_ymd = re.compile(''.join([
            LU_A, _ba(LYSTR), LU_A, _ba(LMSTR),
            P.SELF_EVI_LUNAR_DAY_STRING, I,
            LU_A, _ba(LYSTR), LU_A, _b(P.SELF_EVI_LUNAR_MONTH_STRING),
            _a(P.LUNAR_SOLAR_DAY_STRING), I,
            _b(LYSTR), LU, _b(LMSTR), _b(P.DAY_STRING), I,
            LU, _b(LYSTR), _b(LMSTR), I,
            _b(LYSTR), LU, _b(LMSTR), I,
            LU_A, _b(LMSTR), P.LUNAR_DAY_STRING, I,
            LU, _b(LMSTR), I,
            LU, _b(LYSTR), I,
            LU, P.LUNAR_DAY_STRING]))
        self.lunar_limit_ymd = re.compile(''.join([
            LU_A, _b(LYS), LU_A, _b(LMSTR),
            P.SELF_EVI_LUNAR_DAY_STRING, I,
            _b(LYS), LU_A, _b(P.SELF_EVI_LUNAR_MONTH_STRING),
            _a(P.LUNAR_SOLAR_DAY_STRING), I,
            LU_A, _b(LYS), LU_A, _b(LMSTR), P.LUNAR_DAY_STRING, I,
            LU, _b(LYS), I,
            LU, _b(LYS), _b(LMSTR), I,
            _b(LYS), LU, _b(LMSTR)]))
        self.year_24st = re.compile(_ba(LYSTR) + P.SOLAR_TERM_STRING)
        self.year_lunar_season = re.compile(''.join(
            [_ba(LYSTR), r'[春夏秋冬][季天]|', _b(LYSTR), r'[春夏秋冬]']))
        self.limit_year_lunar_season = re.compile(
            _b(P.LIMIT_YEAR_STRING) + r'[春夏秋冬][季天]?')
        self.year_fixed_solar_festival = re.compile(
            _ba(P.YEAR_STRING) + P.FIXED_SOLAR_FESTIVAL)
        self.limit_year_fixed_solar_festival = re.compile(
            _b(P.LIMIT_YEAR_STRING) + P.FIXED_SOLAR_FESTIVAL)
        self.year_fixed_lunar_festival = re.compile(''.join(
            [_ba(P.YEAR_STRING), CONJ_A, LU_A, P.FIXED_LUNAR_FESTIVAL]))
        self.limit_year_fixed_lunar_festival = re.compile(''.join(
            [_b(P.LIMIT_YEAR_STRING), CONJ_A, LU_A, P.FIXED_LUNAR_FESTIVAL,
             _a(P.TIME_POINT_SUFFIX)]))
        self.year_regular_solar_festival = re.compile(
            _ba(P.YEAR_STRING) + P.REGULAR_FOREIGN_FESTIVAL)
        self.limit_year_regular_solar_festival = re.compile(
            _ba(P.LIMIT_YEAR_STRING) + P.REGULAR_FOREIGN_FESTIVAL)
        self.lunar_month_pattern = re.compile(_b(LMSTR[:-1]) + '(?=月)')
        self.lunar_day_pattern = re.compile(P.LUNAR_DAY_STRING + '(?!月)')
        self.lunar_24st_pattern = re.compile(P.SOLAR_TERM_STRING)
        self.lunar_season_pattern = re.compile('([春夏秋冬][季天]?)')

        self.enum_day = re.compile(''.join(
            [_ba(P.YEAR_STRING), _ba(P.MONTH_STRING), _b(P.DAY_STRING),
             _b('[、，, ]' + _b(P.DAY_STRING)), '+']))
        self.super_blur_two_ymd = re.compile('^前两(天|(个)?月|年)$')
        self.super_blur_two_hms = re.compile(
            '^前两((个)?(小时|钟头)|分钟|秒(钟)?)$')
        BLUR_MONTH = r'年?(初|[一]开年|伊始|末|尾|终|底|[上下]半年|[暑寒][假期]|[前中后]期)'
        BLUR_DAY = r'月?([上中下]旬|初|中|底|末)'
        LUNAR_YEAR = r'([一二三四五六七八九零〇]{2}|[一二三四五六七八九零〇]{4}|[12]\d{3}|\d{2})年'
        self.blur_month_pattern = re.compile(BLUR_MONTH)
        self.blur_day_pattern = re.compile(BLUR_DAY)
        self.year_blur_month = re.compile(''.join(
            [_b(YS), r'(年)?(初|[一]开年|伊始|末|尾|终|底)|',
             _ba(YS), r'([上|下]半年|[暑寒][假期]|[前中后]期)']))
        self.limit_year_blur_month = re.compile(
            '(' + _b(LYS) + '(年)?|年)' + BLUR_MONTH)
        self.limit_month_blur_day = re.compile(_b(LMS) + BLUR_DAY)
        self.year_month_blur_day = re.compile(
            _ba(LUNAR_YEAR) + _b(MS) + BLUR_DAY)
        self.limit_year_month_blur_day = re.compile(
            _b(LYS) + _b(MS) + BLUR_DAY)
        self.solar_season_pattern = re.compile(
            '((([第前后头Qq][一二三四1-4两]|首)(个)?|[一二三四1-4])季度[初中末]?)')
        self.year_solar_season = re.compile(''.join(
            [_ba(YS), r'(([第前后头Qq]?[一二三四1-4两]|首)(个)?季度'
                      r'([初末]|中(?!国))?)']))
        self.limit_year_solar_season = re.compile(''.join(
            [_b(LYS), r'(([第前后头Qq]?[一二三四1-4两]|首)(个)?季度[初中末]?)']))
        self.limit_solar_season = re.compile(
            r'([上下]+(一)?(个)?|本|这)季度[初中末]?')
        self.xianzai = re.compile(P.NOW_STRING)
        self.span_month = re.compile(
            '([第前后头]([一二两三四五六七八九十]|十[一二]|[1-9]|1[012])|首)(个)?月(份)?')
        self.year_span_month = re.compile(''.join(
            [_ba(YS), r'(([第前后头]', P.MONTH_NUM_ORDER_STRING,
             r'|首)(个)?月(份)?)']))
        self.limit_year_span_month = re.compile(''.join(
            [_b(LYS), r'(([第前后头]', P.MONTH_NUM_ORDER_STRING,
             r'|首)(个)?月(份)?)']))
        self.year_order_dp = re.compile('第' + P.DELTA_NUM_STRING + '年')
        self.day_order_dp = re.compile('第' + P.DELTA_NUM_STRING + '[天日]')
        self.year_day_order_dp = re.compile(
            P.YEAR_STRING[:-1] + '年?' + '第' + P.DELTA_NUM_STRING + '[天日]')
        self.special_span = re.compile(r'(今明两[天年]|全[天月年])')
        self.num_month_num = re.compile(
            '^' + P.MONTH_NUM_STRING + '月' + r'([12]\d|3[01]|[0]?[1-9])' + '$')

        # hms patterns
        self.hour_minute_second = re.compile(''.join(
            [_a(P.BLUR_HOUR_STRING), _b(P.HOUR_STRING),
             _ba(P.MIN_SEC_STRING + '分?'), _ba(P.MIN_SEC_STRING + '秒'),
             _a(SUF), I,
             _b(P.MIN_SEC_STRING + '分'), _ba(P.MIN_SEC_STRING + '秒'),
             _a(SUF)]))
        self.num_hour_minute_second = re.compile(''.join(
            [_a(P.BLUR_HOUR_STRING),
             r'([01]\d|2[01234]|\d)[:：]([012345]\d)([:：]([012345]\d))?',
             _a(SUF), r'(时)?', I,
             r'([012345]\d)[:：]([012345]\d)', _a(SUF), r'(时)?']))
        self.hour_limit_minute = re.compile(''.join(
            [_a(P.BLUR_HOUR_STRING), _b(P.HOUR_STRING), r'([123一二三]刻|半)']))
        self.blur_hour = re.compile(P.BLUR_HOUR_STRING)
        self.consecutive_blur_hour = re.compile(''.join(
            [_a(P.BLUR_HOUR_STRING), _b(P.CONSECUTIVE_BLUR_HOUR_STRING)]))

        # blur year / century (time_parser.py:345-354, 616-624)
        self.blur_year = re.compile(
            r'(\d{1,4}|[一二两三四五六七八九十百千]+)[几多]?年(半)?(多)?[以之]?[前后]|'
            r'半年(多)?[以之]?[前|后]|'
            r'几[十百千](多)?年[以之]?[前|后]')
        self.century_year = re.compile(
            r'(公元(前)?)?(\d{1,2}|((二)?十)?[一二三四五六七八九]|(二)?十|上)世纪'
            r'((\d0|[一二三四五六七八九]十)年代)?([初中末](期)?|前期|后期)?|'
            r'(\d0|[一二三四五六七八九]十)年代([初中末](期)?|前期|后期)?')
        self.blur_year_1 = re.compile(
            r'([12]?\d{1,4}|(?<!几)[一二两三四五六七八九十百千])[几多]?年(半)?(多)?[以之]?[前后]')
        self.blur_year_2 = re.compile('半年(多)?[以之]?[前后]')
        self.blur_year_3 = re.compile('几[十百千](多)?年[以之]?[前后]')
        self.century_pattern = re.compile(
            r'(\d{1,2}|((二)?十)?[一二三四五六七八九]|(二)?十|上)(?=世纪)')
        self.decade_pattern = re.compile(r'(\d0|[一二三四五六七八九]十)(?=年代)')
        self.year_num_pattern = re.compile('[一二两三四五六七八九十百千0-9]{1,4}')

        # element extractors
        self.year_pattern = re.compile(YS[:-1] + r'(?=年)')
        self.limit_year_pattern = re.compile(LYS[:-1] + r'(?=年)')
        self.month_pattern = re.compile(MS)
        # the reference's month_num_pattern is the post-redefinition variant
        # (includes 两) — used for ordinal months AND the 刻 count
        self.month_num_pattern = re.compile(P.MONTH_NUM_ORDER_STRING)
        self.day_pattern = re.compile(DS)
        self.week_3 = re.compile('(上+|下+|本|这)(一)?(个)?' + P.WEEK_STRING)
        self.week_4 = re.compile(P.WEEK_STRING + '[一二三四五六日末天]')
        self.week_1 = re.compile('[前后][一二两三四五六七八九1-9](个)?' + P.WEEK_STRING)
        self.week_2 = re.compile('[一两三四五六七八九1-9](个)?' + P.WEEK_STRING + '(之)?[前后]')
        self.week_num = re.compile(P.WEEK_NUM_STRING)
        self.hour_pattern = re.compile(
            P.HOUR_STRING.replace('[时点]', '') + r'(?=[时点])')
        self.hour_limitation = re.compile(P.BLUR_HOUR_STRING)
        self.consecutive_hour = re.compile(
            P.CONSECUTIVE_BLUR_HOUR_STRING.replace('[点]', '') + r'(?=[点])')
        self.minute_pattern = re.compile(r'(?<=[时点])' + P.MIN_SEC_STRING + '(?=分)?')
        self.limit_minute = re.compile(r'(?<=[时点])([123一二三]刻|半)')
        self.second_pattern = re.compile(r'(?<=分)' + P.MIN_SEC_STRING + '(?=秒)?')

        # delta→point / delta→span patterns (time_parser.py:579-602)
        d = self.delta
        self.second_dp = re.compile(_b(P.SECOND_DELTA_STRING) + P.DELTA_SUB)
        self.minute_dp = re.compile(_b(P.MINUTE_DELTA_STRING) + P.DELTA_SUB)
        self.quarter_dp = re.compile(_b(P.QUARTER_DELTA_STRING) + P.DELTA_SUB)
        self.hour_dp = re.compile(_b(P.HOUR_DELTA_STRING) + P.DELTA_SUB)
        self.day_dp = re.compile(_b(P.DAY_DELTA_STRING) + P.DELTA_SUB)
        self.workday_dp = re.compile(_b(P.WORKDAY_DELTA_STRING) + P.DELTA_SUB)
        self.week_dp = re.compile(_b(P.WEEK_DELTA_STRING) + P.DELTA_SUB)
        self.month_dp = re.compile(_b(P.MONTH_DELTA_STRING) + P.DELTA_SUB)
        self.season_dp = re.compile(
            _b(P.SOLAR_SEASON_DELTA_STRING) + P.DELTA_SUB)
        self.year_dp = re.compile(_b(P.YEAR_DELTA_STRING) + P.DELTA_SUB)

        standard_delta_string = ''.join(
            ['(', _b(P.YEAR_DELTA_STRING), I, _b(P.SOLAR_SEASON_DELTA_STRING),
             I, _b(P.MONTH_DELTA_STRING), I, _b(P.WORKDAY_DELTA_STRING), I,
             _b(P.DAY_DELTA_STRING), I, _b(P.WEEK_DELTA_STRING), I,
             _b(P.HOUR_DELTA_STRING), I, _b(P.MINUTE_DELTA_STRING), I,
             _b(P.SECOND_DELTA_STRING), ')+'])
        self.weilai_d2s = re.compile(
            '(未来|今后)(的)?' + standard_delta_string + '[里内]?')
        self.guoqu_d2s = re.compile(
            '((过去)(的)?|(最)?近|([之提]?前))' + standard_delta_string + '[里内]?')
        self.guo_d2s = re.compile('(再)?(过)' + standard_delta_string)

        # period (time_parser.py:746-748)
        self.period_time = re.compile(
            r'每((间)?隔)?([一二两三四五六七八九十0-9]+|半)?'
            r'(年|(个)?季度|(个)?月|(个)?(星期|礼拜)|(个)?周|((个)?工作)?日|天|(个)?(小时|钟头)|分(钟)?|秒(钟)?)')
        self.delta_num_pattern = re.compile(P.DELTA_NUM_STRING)

        # span compensation (time_parser.py:752-756)
        self.span_point_compensation = re.compile(
            _a(P.BLUR_HOUR_STRING) +
            r'(?!:)[\d一二三四五六七八九十零]{1,2}[月日号点时]?(半|[13一三]刻|[\d一二三四五六七八九十零]{1,2}分)?'
            r'(到|至|——|－－|--|~~|～～|—|－|-|~|～)'
            r'([\d一二三四五六七八九十零]{1,2}[月日号点时](半|[13一三]刻|[\d一二三四五六七八九十零]{1,2}分?)?|[\d一二三四五六七八九十零]{2,4}年)')
        self.ymd_meta = re.compile('[年月日号]')

        # ordered handler tables (relative order as in
        # time_parser.py:1468-1568 for the supported subset)
        self.ymd_funcs = [
            (self.enum_day, self.norm_enum_day),
            (self.super_blur_two_ymd, self.norm_super_blur_two_ymd),
            (self.standard_ymd, self.norm_standard_ymd),
            (self.standard_2_ymd, self.norm_standard_2_ymd),
            (self.year_24st, self.norm_year_24st),
            (self.limit_year_lunar_season, self.norm_limit_year_lunar_season),
            (self.year_lunar_season, self.norm_year_lunar_season),
            (self.limit_year_month_blur_day,
             self.norm_limit_year_month_blur_day),
            (self.year_month_blur_day, self.norm_year_month_blur_day),
            (self.limit_year_solar_season,
             self.norm_limit_year_solar_season),
            (self.limit_solar_season, self.norm_limit_solar_season),
            (self.year_solar_season, self.norm_year_solar_season),
            (self.limit_month_week, self.norm_limit_month_week),
            (self.month_week, self.norm_month_week),
            (self.year_month_week, self.norm_year_month_week),
            (self.limit_year_month_week, self.norm_limit_year_month_week),
            (self.limit_year_week, self.norm_limit_year_week),
            (self.year_week, self.norm_year_week),
            (self.limit_week, self.norm_limit_week),
            (self.standard_week_day, self.norm_standard_week_day),
            (self.blur_week, self.norm_blur_week),
            (self.limit_year_blur_month, self.norm_limit_year_blur_month),
            (self.limit_month_blur_day, self.norm_limit_month_blur_day),
            (self.limit_month_limit_span_day,
             self.norm_limit_month_limit_span_day),
            (self.limit_month_day, self.norm_limit_month_day),
            (self.limit_month, self.norm_limit_month),
            (self.month_limit_span_day, self.norm_month_limit_span_day),
            (self.year_blur_month, self.norm_year_blur_month),
            (self.century_year, self.norm_century_year),
            (self.limit_year_span_month, self.norm_limit_year_span_month),
            (self.year_span_month, self.norm_year_span_month),
            (self.year_day_order_dp, self.norm_year_day_order_delta_point),
            (self.year_order_dp, self.norm_year_order_delta_point),
            (self.day_order_dp, self.norm_day_order_delta_point),
            (self.xianzai, self.norm_xianzai),
            (self.weilai_d2s, self.norm_weilai_delta2span),
            (self.guoqu_d2s, self.norm_guoqu_delta2span),
            (self.guo_d2s, self.norm_guo_delta2span),
            (self.workday_dp, self.norm_workday_delta_point),
            (self.day_dp, self.norm_day_delta_point),
            (self.week_dp, self.norm_week_delta_point),
            (self.month_dp, self.norm_month_delta_point),
            (self.season_dp, self.norm_season_delta_point),
            (self.year_dp, self.norm_year_delta_point),
            (self.limit_year_fixed_solar_festival,
             self.norm_limit_year_fixed_solar_festival),
            (self.limit_year_fixed_lunar_festival,
             self.norm_limit_year_fixed_lunar_festival),
            (self.year_fixed_lunar_festival,
             self.norm_year_fixed_lunar_festival),
            (self.limit_year_regular_solar_festival,
             self.norm_limit_year_regular_solar_festival),
            (self.year_regular_solar_festival,
             self.norm_year_regular_solar_festival),
            (self.lunar_limit_ymd, self.norm_lunar_limit_ymd),
            (self.limit_ymd, self.norm_limit_ymd),
            (self.blur_year, self.norm_blur_year),
            (self.limit_day, self.norm_limit_day),
            (self.year_fixed_solar_festival,
             self.norm_year_fixed_solar_festival),
            (self.lunar_ymd, self.norm_lunar_ymd),
            (self.ymd, self.norm_ymd),
            (self.standard_year, self.norm_standard_year),
            (self.special_span, self.norm_special_span),
        ]
        self.hms_funcs = [
            (self.super_blur_two_hms, self.norm_super_blur_two_hms),
            (self.second_dp, self.norm_second_delta_point),
            (self.minute_dp, self.norm_minute_delta_point),
            (self.quarter_dp, self.norm_quarter_delta_point),
            (self.hour_dp, self.norm_hour_delta_point),
            (self.consecutive_blur_hour, self.norm_consecutive_blur_hour),
            (self.hour_minute_second, self.norm_hour_minute_second),
            (self.num_hour_minute_second, self.norm_num_hour_minute_second),
            (self.hour_limit_minute, self.norm_hour_limit_minute),
            (self.blur_hour, self.norm_blur_hour),
        ]

    # -- helpers ---------------------------------------------------------------

    def char_num2num(self, s: str) -> float:
        return self.delta.char_num2num(s)

    @staticmethod
    def _year_completion(year_string, base):
        if len(year_string) == 2:
            year_base = str(base[0])
            if year_base[:2] in ('17', '18', '19'):
                return year_base[:2] + year_string
            if year_base[:2] == '20':
                if int(year_string) > int(year_base[2:]) + 10:
                    return '19' + year_string
                return '20' + year_string
            raise TimeParseError('year completion failed')
        return year_string

    def _normalize_year(self, time_string, base):
        m = self.year_pattern.search(time_string)
        if m is None:
            return None
        ys = m.group(1).translate(_CN2AR)
        if len(ys) == 2:
            ys = self._year_completion(ys, base)
        return int(ys)

    def _normalize_limit_year(self, time_string, base):
        m = self.limit_year_pattern.search(time_string)
        if m is None:
            return base[0], base[0]
        ys = m.group(1)
        for keywords, off in _LIMIT_YEAR_RULES:
            if any(kw in ys for kw in keywords):
                return base[0] + off, base[0] + off
        raise TimeParseError(time_string)

    def _normalize_limit_month(self, time_string, base, fp, sp):
        m = self.limit_month.search(time_string)
        if m is None:
            fp.month = sp.month = base[1]
            return fp, sp
        ms = m.group()
        if '上' in ms:
            count = ms.count('上')
            if base[1] == 1:
                fp.year = sp.year = base[0] - 1
                fp.month = sp.month = 12 - (count - 1)
            else:
                fp.month = sp.month = base[1] - count
        elif '下' in ms or '次' in ms:
            count = ms.count('下') or 1
            if base[1] == 12:
                fp.year = sp.year = base[0] + 1
                fp.month = sp.month = count
            else:
                fp.month = sp.month = base[1] + count
        elif '同' in ms or '本' in ms or '当' in ms or '这' in ms:
            fp.month = sp.month = base[1]
        else:
            raise TimeParseError(time_string)
        return fp, sp

    @staticmethod
    def _check_blur(time_string, definition):
        if '左右' in time_string[-2:]:
            return 'blur'
        if time_string and '许' in time_string[-1]:
            return 'blur'
        if '前后' in time_string[-2:]:
            return 'blur'
        return definition

    @staticmethod
    def convert_hour(h, h_string):
        if (5 <= h <= 12) and ('晚' in h_string or '夜' in h_string):
            h += 12
        if '中午' in h_string and h not in (11, 12):
            h += 12
        if '下午' in h_string and (1 <= h <= 11):
            h += 12
        return h

    @staticmethod
    def compute_week_day(cur_day, target, flag=True):
        one = datetime.timedelta(days=1)
        delta = cur_day.weekday() - target
        if delta == 0:
            return cur_day
        if delta > 0:
            if flag:
                return cur_day + one * (7 - delta)
            return cur_day - one * delta
        return cur_day + one * abs(delta)

    # -- public API --------------------------------------------------------------

    def parse(self, time_string, time_base=None, time_type=None,
              strict=False, period_results_num=None,
              ret_future=False, lunar_date=True,
              virtual_time=False) -> dict:
        """→ {'type', 'definition', 'time'} — mirrors TimeParser.__call__
        (time_parser.py:797-842).

        ``virtual_time`` is accepted for API parity: the reference stores
        the flag (time_parser.py:805) but never reads it anywhere — verified
        against v1.5.29 — so it is a documented no-op here too."""
        if time_base is None:
            time_base = _time.time()
        self.string_strict = strict
        self.ret_future = ret_future
        self.lunar_date = lunar_date
        time_string = time_string.strip()
        self.time_base_handler = time_base2handler(time_base)

        period_res, blur = self.parse_time_period(
            time_string, period_results_num=period_results_num)
        if period_res:
            return {'type': 'time_period', 'definition': blur,
                    'time': period_res}

        delta_res = self.delta.parse_time_delta_span(
            time_string, time_type=time_type)
        if delta_res is not None:
            return delta_res

        if not (check_handler(self.time_base_handler) and
                self.time_base_handler[0] != -1):
            raise TimeParseError('illegal time base')

        time_string = time_string.replace('的', '')
        first, second, ttype, blur = self.parse_time_span_point(time_string)
        first_str, second_str = handler2standard(first, second)
        return {'type': ttype, 'definition': blur,
                'time': [first_str, second_str]}

    # -- period ------------------------------------------------------------------

    def parse_time_period(self, time_string, period_results_num=None):
        has_weekday = '工作日' in time_string
        m = self.period_time.search(time_string)
        if not m:
            return None, None
        period_time = m.group()
        period_delta = self._normalize_time_period(period_time)
        if len(time_string) > len(period_time):
            point_string = time_string.replace(period_time, '')
            if (period_time.endswith(('礼拜', '周', '星期'))) and \
                    not point_string.startswith('周'):
                point_string = '周' + point_string
            try:
                if period_results_num is None:
                    if has_weekday:
                        point_string = point_string.split('工作日')[-1] \
                            .replace('的', '')
                        for _ in range(7):
                            f, s, _t, blur = self.parse_time_span_point(
                                point_string)
                            if handler2datetime(f).weekday() <= 4:
                                break
                            base_dt = handler2datetime(
                                self.time_base_handler)
                            base_dt += datetime.timedelta(days=1)
                            self.time_base_handler = time_base2handler(base_dt)
                        fs, ss = handler2standard(f, s)
                        results = [fs, ss]
                    else:
                        f, s, _t, blur = self.parse_time_span_point(
                            point_string)
                        fs, ss = handler2standard(f, s)
                        results = [fs, ss]
                elif isinstance(period_results_num, int) and \
                        period_results_num > 0:
                    if has_weekday:
                        point_string = point_string.split('工作日')[-1]
                    results = []
                    while len(results) < period_results_num:
                        f, s, _t, blur = self.parse_time_span_point(
                            point_string)
                        fs, ss = handler2standard(f, s)
                        base_dt = handler2datetime(self.time_base_handler)
                        if has_weekday:
                            if base_dt.weekday() <= 4 and \
                                    [fs, ss] not in results:
                                results.append([fs, ss])
                        elif [fs, ss] not in results:
                            results.append([fs, ss])
                        if 'year' in period_delta:
                            base_dt += datetime.timedelta(days=365)
                        if 'month' in period_delta:
                            base_dt += datetime.timedelta(days=30.417)
                        if 'day' in period_delta:
                            base_dt += datetime.timedelta(
                                days=1 if has_weekday else 7)
                        if 'hour' in period_delta:
                            base_dt += datetime.timedelta(hours=1)
                        if 'minute' in period_delta:
                            base_dt += datetime.timedelta(minutes=1)
                        if 'second' in period_delta:
                            base_dt += datetime.timedelta(seconds=1)
                        self.time_base_handler = time_base2handler(base_dt)
                else:
                    raise TimeParseError('illegal period_results_num')
            except Exception:
                if self.string_strict:
                    raise TimeParseError(time_string)
                results = [None, None]
                blur = 'blur'
            period_point = {'time': results, 'string': point_string}
        else:
            period_point = None
            blur = 'accurate'
        return {'delta': period_delta, 'point': period_point}, blur

    def _normalize_time_period(self, time_string):
        m = self.delta_num_pattern.search(time_string)
        if m:
            num = self.char_num2num(m.group())
        else:
            num = 0.5 if '半' in time_string else 1
        delta = TimeDelta()
        if '年' in time_string:
            delta.year = num
        elif '季度' in time_string:
            delta.month = num * 3
        elif '月' in time_string:
            delta.month = num
        elif '星期' in time_string or '周' in time_string or \
                '礼拜' in time_string:
            delta.day = num * 7
        elif '日' in time_string or '天' in time_string:
            delta.day = num
        elif '小时' in time_string or '钟头' in time_string:
            delta.hour = num
        elif '分' in time_string:
            delta.minute = num
        elif '秒' in time_string:
            delta.second = num
        else:
            raise TimeParseError(time_string)
        return cut_zero_key(delta.__dict__)

    # -- span --------------------------------------------------------------------

    def _seg_or_not_first(self, time_string):
        if time_string is None:
            return None
        if _search(self.seg_force, time_string):
            return time_string
        if self.seg_suppress.search(time_string):
            time_string = time_string.replace('-', '䶵')
        if '起' in time_string or '至' in time_string or '到' in time_string:
            time_string = time_string.replace('-', '䶵')
        return time_string

    @staticmethod
    def _seg_or_not_second(time_string):
        if time_string is None:
            return None
        return time_string.replace('䶵', '-').strip()

    def parse_span_2_2_point(self, time_string):
        # pure in time_string (regex splits only → immutable string pair);
        # memoized per instance, bounded like _point_sel_memo
        memo = self._span22_memo.get(time_string)
        if memo is not None:
            return memo
        res = self._parse_span_2_2_point(time_string)
        if len(self._span22_memo) < 200000:
            self._span22_memo[time_string] = res
        return res

    def _parse_span_2_2_point(self, time_string):
        return self._split_span(self._seg_or_not_first(time_string))

    def _split_span(self, time_string):
        """The span split proper, after the '-' seg control.  Its patterns
        hold no digit class short of a whole script, so it splits a digit
        shape exactly like the string the shape came from (StrictParseGate
        relies on it; test_shape_keyed_patterns_are_invariant checks)."""
        if self.first_1_span.search(time_string):
            first_res = self.first_1_span.search(time_string)
        elif self.first_2_span.search(time_string):
            first_res = self.first_2_span.search(time_string)
        elif self.first_3_span.search(time_string):
            first_res = None if time_string[-2:] in ('夏至', '冬至') \
                else self.first_3_span.search(time_string)
        elif self.first_4_span.search(time_string) and \
                '前后' not in time_string:
            first_res = self.first_4_span.search(time_string)
        elif self.first_5_span.search(time_string) and \
                '前后' not in time_string:
            first_res = self.first_5_span.search(time_string)
        else:
            first_res = None
        first_string = None if first_res is None else first_res.group()

        second_string = None
        second_res = None
        if self.second_0_span.search(time_string):
            second_res = self.second_0_span.search(time_string)
        elif self.second_1_span.search(time_string):
            second_res = self.second_1_span.search(time_string)
        elif self.second_2_span.search(time_string):
            second_res = self.second_2_span.search(time_string)
        elif self.second_3_span.search(time_string) is None:
            if '之前' in time_string[-2:] or '以前' in time_string[-2:]:
                second_string = time_string[:-2]
            elif '前' in time_string[-1:]:
                second_string = time_string[:-1]
        if second_string is None:
            second_string = None if second_res is None else second_res.group()

        return (self._seg_or_not_second(first_string),
                self._seg_or_not_second(second_string))

    def _compensate_num_month_num(self, time_string):
        if self.num_month_num.search(time_string) is not None:
            return time_string + '日'
        return time_string

    def _compensate_string(self, time_string, first, second):
        comp = self.span_point_compensation.search(time_string)
        if not comp:
            return first, second
        comp = comp.group()
        if '年' in comp:
            if first[-1] not in '秒分点时日号月年':
                first += '年'
        elif '月' in comp:
            if first[-1] not in '秒分点时日号月':
                first += '月'
        elif '日' in comp or '号' in comp:
            if first[-1] not in '秒分点时日号':
                first += '日'
        elif '点' in comp or '时' in comp:
            if first[-1] not in '秒分点时':
                first += '时'
        hour_lim = self.hour_limitation.search(time_string)
        if hour_lim and self.ymd_meta.search(second) is None:
            second = hour_lim.group() + second
        return first, second

    def _check_limit_time_base(self, first_string, second_string,
                               first_full_handler):
        """If the SECOND string is a limit-type expression, time_base stays;
        otherwise it becomes the first time (time_parser.py:844-906)."""
        limit_patterns = [self.limit_month_day, self.limit_month,
                          self.standard_week_day, self.limit_ymd,
                          self.limit_day]
        second_limit = False
        for pat in limit_patterns:
            if _search(pat, second_string) != '':
                second_limit = True
                break
        if second_limit:
            return self.time_base_handler
        return first_full_handler

    def parse_time_span_point(self, time_string):
        first_string, second_string = self.parse_span_2_2_point(time_string)
        if first_string is not None or second_string is not None:
            time_type = 'time_span'
            old_base = self.time_base_handler
            try:
                if first_string is not None and second_string is None:
                    first_string = self._compensate_num_month_num(first_string)
                    first, _s, _t, blur = self.parse_time_point(
                        first_string, self.time_base_handler)
                    if compare_handler(first, self.time_base_handler) >= 0:
                        second = _FUTURE
                    else:
                        second = self.time_base_handler
                elif first_string is not None and second_string is not None:
                    first_string = self._compensate_num_month_num(first_string)
                    second_string = self._compensate_num_month_num(
                        second_string)
                    first_string, second_string = self._compensate_string(
                        time_string, first_string, second_string)
                    first, _s, _t, blur = self.parse_time_point(
                        first_string, self.time_base_handler)
                    if second_string in ('今', '至今', '现在', '今天'):
                        second = self.time_base_handler
                    else:
                        self.time_base_handler = self._check_limit_time_base(
                            first_string, second_string, first)
                        _f, second, _t, blur = self.parse_time_point(
                            second_string, self.time_base_handler)
                        if second[3] > -1 and second[4:] == [-1, -1]:
                            if time_string[-1] in '点时':
                                second[4:] = [0, 0]
                else:
                    second_string = self._compensate_num_month_num(
                        second_string)
                    _f, second, _t, blur = self.parse_time_point(
                        second_string, self.time_base_handler)
                    if compare_handler(self.time_base_handler, second) >= 0:
                        first = _PAST
                    else:
                        first = self.time_base_handler
            except Exception:
                self.time_base_handler = old_base
                first, second, time_type, blur = self.parse_time_point(
                    time_string, self.time_base_handler)
        else:
            time_string = self._compensate_num_month_num(time_string)
            first, second, time_type, blur = self.parse_time_point(
                time_string, self.time_base_handler)
            if self.ret_future:
                future_string = self._adjust_underlying_future_time(
                    time_string, first, second)
                first, second, time_type, blur = self.parse_time_point(
                    future_string, self.time_base_handler)
        return first, second, time_type, blur

    def _adjust_underlying_future_time(self, time_string, first, second):
        """ret_future mode: re-anchor past-pointing strings to the future
        (明年/下个月/下周/明天 prefixes) — time_parser.py:908-1002."""
        ymd_patterns = [
            self.year_24st, self.year_lunar_season,
            self.year_month_blur_day, self.year_solar_season,
            self.standard_week_day, self.blur_week, self.year_blur_month,
            self.century_year, self.year_span_month,
            self.year_order_dp, self.day_order_dp,
            self.year_fixed_solar_festival, self.year_fixed_lunar_festival,
            self.year_regular_solar_festival, self.lunar_limit_ymd,
            self.blur_year, self.lunar_ymd, self.ymd, self.standard_year,
        ]
        hms_patterns = [
            self.hour_minute_second, self.num_hour_minute_second,
            self.hour_limit_minute, self.blur_hour,
        ]
        hit = any(_search(p, time_string) != ''
                  for p in ymd_patterns + hms_patterns)
        if not hit:
            return time_string
        m = re.search('(年|月|周|星期|礼拜|日|号|节|时|点)', time_string)
        if not m:
            return time_string
        unit = m.group()
        if unit in ('月', '节'):
            return '明年' + time_string
        if unit in ('日', '号'):
            return '下个月' + time_string
        if unit in ('周', '星期', '礼拜'):
            return '下' + time_string
        if unit in ('时', '点'):
            base = self.time_base_handler
            if first[3] != -1 and base[3] != -1:
                if first[3] > base[3]:
                    return time_string
                if first[3] < base[3]:
                    return '明天' + time_string
                if first[4] != -1 and base[4] != -1:
                    if first[4] > base[4]:
                        return time_string
                    return '明天' + time_string
                return '明天' + time_string
            return '明天' + time_string
        return time_string

    # -- point -------------------------------------------------------------------

    def parse_time_point(self, time_string, time_base_handler):
        """Longest-match pattern pair selection + handler merge
        (time_parser.py:1462-1696).

        The pattern-pair SELECTION (the ~75-regex _search battery plus the
        longest-match scan) is a pure function of ``time_string`` — the
        time base only enters in the handler funcs below — so it is
        memoized per parser instance (bounded; grid_search retries the
        same substrings across candidates and documents, and the battery
        dominated the extraction profile).  Selection results are
        immutable (strings, bound methods, bools): no aliasing risk."""
        sel = self._point_sel_memo.get(time_string)
        if sel is None:
            # _search inlined (the battery is the profile's hottest loop;
            # m.group() or '' semantics unchanged) + the regex_gate char
            # prescreen: a gated pattern provably cannot match when the
            # string lacks all its anchor chars
            chars = set(time_string)
            ymd_strings, ymd_funcs = [], []
            empty_seen = False
            for (pattern, func), req in zip(self.ymd_funcs, self._ymd_req):
                m = None if (req is not None and req.isdisjoint(chars)) \
                    else pattern.search(time_string)
                if m is not None and (s := m.group()) != '':
                    ymd_strings.append(s)
                    ymd_funcs.append(func)
                elif not empty_seen:
                    ymd_strings.append('')
                    ymd_funcs.append(func)
                    empty_seen = True

            hms_strings, hms_funcs = [], []
            empty_seen = False
            for (pattern, func), req in zip(self.hms_funcs, self._hms_req):
                m = None if (req is not None and req.isdisjoint(chars)) \
                    else pattern.search(time_string)
                if m is not None and (s := m.group()) != '':
                    hms_strings.append(s)
                    hms_funcs.append(func)
                elif not empty_seen:
                    hms_strings.append('')
                    hms_funcs.append(func)
                    empty_seen = True

            cur_ymd_func = cur_hms_func = None
            cur_ymd = cur_hms = ''
            done = False
            for ys, yf in zip(ymd_strings, ymd_funcs):
                for hs, hf in zip(hms_strings, hms_funcs):
                    if len(ys) + len(hs) > len(cur_ymd) + len(cur_hms):
                        cur_ymd_func, cur_hms_func = yf, hf
                        cur_ymd, cur_hms = ys, hs
                    if cur_ymd + cur_hms == time_string:
                        done = True
                        break
                if done:
                    break

            covered = (len(cur_ymd + cur_hms) >=
                       len(time_string.replace(' ', '')))
            has_cn = self.chinese_char.search(time_string) is not None
            sel = (cur_ymd, cur_hms, cur_ymd_func, cur_hms_func,
                   covered, has_cn)
            if len(self._point_sel_memo) < 200000:
                self._point_sel_memo[time_string] = sel
        cur_ymd, cur_hms, cur_ymd_func, cur_hms_func, covered, has_cn = sel

        if not covered:
            if has_cn:
                if self.string_strict:
                    raise TimeParseError(time_string)
            else:
                raise TimeParseError(time_string)

        day_bias = [0, '弱']
        if cur_ymd != '' and cur_hms == '':
            first, second, ttype, blur = cur_ymd_func(cur_ymd)
        elif cur_ymd != '' and cur_hms != '':
            yf, ys_, yt, yb = cur_ymd_func(cur_ymd)
            if yf != ys_ or yf[2] == -1:
                raise TimeParseError(time_string)
            hf, hs, ht, hb, day_bias = cur_hms_func(cur_hms)
            first = [max(i, j) for i, j in zip(yf, hf)]
            second = [max(i, j) for i, j in zip(yf, hs)]
            ttype, blur = ht, hb
        elif cur_hms != '':
            first, second, ttype, blur, day_bias = cur_hms_func(cur_hms)
        else:
            raise TimeParseError(time_string)

        if not check_handler(first):
            raise TimeParseError(time_string)

        first = time_completion(first, time_base_handler)
        second = time_completion(second, time_base_handler)

        if day_bias[1] == '强':
            # first/second may alias the SAME list (point handlers return
            # handler, handler) — rebind, never mutate in place
            def shift(handler):
                dt = handler2datetime(handler)
                dt += datetime.timedelta(days=day_bias[0])
                new = time_base2handler(dt)
                return [i if i == -1 else j for i, j in zip(handler, new)]
            first = shift(first)
            second = shift(second)
        return first, second, ttype, blur

    # -- ymd handlers --------------------------------------------------------------

    def norm_standard_ymd(self, time_string):
        segs = self.ymd_segs
        while segs.search(time_string[0]) or segs.search(time_string[-1]):
            if segs.search(time_string[0]):
                time_string = time_string[1:]
            if segs.search(time_string[-1]):
                time_string = time_string[:-1]
        n = len(segs.findall(time_string))
        if n == 2:
            year, month, day = segs.split(time_string)
        elif n == 1:
            a, b = segs.split(time_string)
            if 1600 < int(a) < 2200 and int(b) <= 12:
                year, month, day = int(a), int(b), -1
            elif int(a) <= 12 and int(b) <= 31:
                year, month, day = -1, int(a), int(b)
            else:
                raise TimeParseError(time_string)
        else:
            raise TimeParseError(time_string)
        tp = TimePoint()
        tp.year, tp.month, tp.day = int(year), int(month), int(day)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_standard_2_ymd(self, time_string):
        tp = TimePoint()
        tp.year = int(time_string[:4])
        tp.month = int(time_string[4:6])
        tp.day = int(time_string[6:])
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_standard_year(self, time_string):
        tp = TimePoint()
        m = self.standard_year.search(time_string)
        tp.year = int(m.group()) if m else self.time_base_handler[0]
        h = tp.handler()
        return h, h, 'time_span', 'accurate'

    def norm_ymd(self, time_string):
        month = self.month_pattern.search(time_string)
        day = self.day_pattern.search(time_string)
        tp = TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            tp.year = year
        if month is not None:
            tp.month = int(self.char_num2num(month.group(1)))
        if day is not None:
            tp.day = int(self.char_num2num(day.group(1)))
        h = tp.handler()
        return h, h, 'time_point', self._check_blur(time_string, 'accurate')

    def norm_limit_ymd(self, time_string):
        month = self.month_pattern.search(time_string)
        day = self.day_pattern.search(time_string)
        tp = TimePoint()
        tp.year, _ = self._normalize_limit_year(
            time_string, self.time_base_handler)
        ttype = 'time_span'
        if month is not None:
            tp.month = int(self.char_num2num(month.group(1)))
        if day is not None:
            tp.day = int(self.char_num2num(day.group(1)))
            ttype = 'time_point'
        h = tp.handler()
        return h, h, ttype, self._check_blur(time_string, 'accurate')

    def norm_limit_month_day(self, time_string):
        day = self.day_pattern.search(time_string)
        fp, sp = TimePoint(), TimePoint()
        fp, sp = self._normalize_limit_month(
            time_string, self.time_base_handler, fp, sp)
        if day:
            d = int(self.char_num2num(day.group(1)))
            fp.day = sp.day = d
        return fp.handler(), sp.handler(), 'time_point', \
            'blur' if fp.handler()[2] < 0 else 'accurate'

    def norm_limit_month(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp, sp = self._normalize_limit_month(
            time_string, self.time_base_handler, fp, sp)
        return fp.handler(), sp.handler(), 'time_point', \
            'blur' if fp.handler()[2] < 0 else 'accurate'

    def _normalize_limit_span_day(self, time_string, fp, sp):
        """首/末 N 天 of a month (time_parser.py:4633-4664)."""
        m = self.limit_span_day.search(time_string)
        if m:
            s = m.group()
            num = 0
            try:
                num = int(self.char_num2num(m.group(2)))
            except Exception:
                pass
            if '前' in s:
                fp.day = 1
                sp.day = num
            elif '后' in s:
                if fp.month in _BIG_MOON:
                    fp.day, sp.day = 31 - num, 31
                elif fp.month in _SMALL_MOON:
                    fp.day, sp.day = 30 - num, 30
                else:
                    fp.day, sp.day = 28 - num, 28
        return fp, sp

    def norm_limit_month_limit_span_day(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp, sp = self._normalize_limit_month(
            time_string, self.time_base_handler, fp, sp)
        fp, sp = self._normalize_limit_span_day(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_point', 'accurate'

    def norm_month_limit_span_day(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        m = self.month_pattern.search(time_string)
        if not m:
            raise TimeParseError(time_string)
        n = self.month_num_pattern.search(m.group())
        fp.month = sp.month = int(self.char_num2num(n.group()))
        fp, sp = self._normalize_limit_span_day(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_point', 'accurate'

    def norm_limit_day(self, time_string):
        # dispatch pattern includes 本 but the inner extractor is the
        # reference's day_2 variant WITHOUT 本 (time_parser.py:643) — '本日'
        # therefore falls through to the base-day branch
        m = self.limit_day_inner.search(time_string)
        tp = TimePoint()
        if m:
            s = m.group()
            dt = handler2datetime(self.time_base_handler)
            if '大大前' in s:
                dt -= datetime.timedelta(days=4)
            elif '大前' in s:
                dt -= datetime.timedelta(days=3)
            elif '前' in s:
                dt -= datetime.timedelta(days=2)
            elif '昨' in s:
                dt -= datetime.timedelta(days=1)
            elif '今' in s or '同一' in s or '当' in s:
                pass
            elif '明' in s or '次' in s:
                dt += datetime.timedelta(days=1)
            elif '大大后' in s:
                dt += datetime.timedelta(days=4)
            elif '大后' in s:
                dt += datetime.timedelta(days=3)
            elif '后' in s:
                dt += datetime.timedelta(days=2)
            else:
                raise TimeParseError(time_string)
            tp.year, tp.month, tp.day = dt.year, dt.month, dt.day
        else:
            tp.day = self.time_base_handler[2]
        if tp.day < 0:
            raise TimeParseError(time_string)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_standard_week_day(self, time_string):
        week = self.week_3.search(time_string)
        week_day = self.week_4.search(time_string)
        one_week = datetime.timedelta(days=7)
        dt = handler2datetime(self.time_base_handler)
        if week:
            ws = week.group()
            if '上' in ws:
                dt -= one_week * ws.count('上')
            elif '下' in ws:
                dt += one_week * ws.count('下')
        target_day = None
        if week_day:
            wds = week_day.group()
            for c, i in zip('一二三四五六天末日', [0, 1, 2, 3, 4, 5, 6, 6, 6]):
                if c in wds:
                    target_day = self.compute_week_day(dt, i, flag=False)
                    break
            else:
                raise TimeParseError(time_string)
        h = time_base2handler(target_day)
        tp = TimePoint()
        tp.year, tp.month, tp.day = h[0], h[1], h[2]
        hh = tp.handler()
        return hh, hh, 'time_point', 'accurate'

    def norm_blur_week(self, time_string):
        w1 = self.week_1.search(time_string)
        w2 = self.week_2.search(time_string)
        w3 = self.week_3.search(time_string)
        one_week = datetime.timedelta(days=7)
        dt = handler2datetime(self.time_base_handler)
        fp, sp = TimePoint(), TimePoint()

        def assign(point, d):
            point.year, point.month, point.day = d.year, d.month, d.day

        if w1:
            ws = w1.group()
            m = self.week_num.search(ws)
            num = int(self.char_num2num(m.group())) if m else 0
            if '前' in ws:
                dt -= one_week * num
                assign(fp, self.compute_week_day(dt, 0, flag=False))
                return fp.handler(), self.time_base_handler, \
                    'time_point', 'blur'
            if '后' in ws:
                dt += one_week * num
                assign(sp, self.compute_week_day(dt, 6, flag=False))
                return self.time_base_handler, sp.handler(), \
                    'time_point', 'blur'
            raise TimeParseError(time_string)
        if w2:
            ws = w2.group()
            m = self.week_num.search(ws)
            num = int(self.char_num2num(m.group())) if m else 0
            if '前' in ws:
                dt -= one_week * num
            elif '后' in ws:
                dt += one_week * num
            else:
                raise TimeParseError(time_string)
            assign(fp, self.compute_week_day(dt, 0, flag=False))
            assign(sp, self.compute_week_day(dt, 6, flag=False))
            return fp.handler(), sp.handler(), 'time_point', 'blur'
        if w3:
            ws = w3.group()
            if '上上' in ws:
                dt -= one_week * 2
            elif '下下' in ws:
                dt += one_week * 2
            elif '上' in ws:
                dt -= one_week
            elif '下' in ws:
                dt += one_week
            assign(fp, self.compute_week_day(dt, 0, flag=False))
            assign(sp, self.compute_week_day(dt, 6, flag=False))
            return fp.handler(), sp.handler(), 'time_point', 'blur'
        raise TimeParseError(time_string)

    # -- blur month / blur day / solar season (time_parser.py:1969-2185,
    #    3321-3364, 3407-3415, 3472-3525, 4026-4061) ------------------------

    _BLUR_MONTH_RULES = [
        (('初',), (1, 2)), (('开年', '伊始'), (1, 1)),
        (('末', '尾', '终', '底'), (11, 12)),
        (('上半年',), (1, 6)), (('下半年',), (7, 12)),
        (('暑',), (7, 8)), (('寒',), (2, 2)),
        (('前期',), (1, 3)), (('中期',), (4, 9)), (('后期',), (10, 12)),
    ]

    def _normalize_blur_month(self, time_string):
        m = self.blur_month_pattern.search(time_string)
        if m is None:
            return -1, -1
        s = m.group()
        for keywords, (f, sm) in self._BLUR_MONTH_RULES:
            if any(kw in s for kw in keywords):
                return f, sm
        raise TimeParseError(time_string)

    def norm_year_blur_month(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
        fp.month, sp.month = self._normalize_blur_month(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    def norm_limit_year_blur_month(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, sp.year = self._normalize_limit_year(
            time_string, self.time_base_handler)
        fp.month, sp.month = self._normalize_blur_month(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    _BLUR_DAY_RULES = [
        ('上旬', (1, 10)), ('中旬', (11, 20)), ('下旬', (21, -1)),
        ('初', (1, 5)), ('中', (10, 20)), ('底', (25, -1)), ('末', (25, -1)),
    ]

    def _normalize_blur_day(self, time_string, fp, sp):
        m = self.blur_day_pattern.search(time_string)
        if m is None:
            fp.day = sp.day = -1
            return fp, sp
        s = m.group()
        for keyword, (f, sd) in self._BLUR_DAY_RULES:
            if keyword in s:
                fp.day, sp.day = int(f), int(sd)
                return fp, sp
        raise TimeParseError(time_string)

    def norm_limit_month_blur_day(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp, sp = self._normalize_limit_month(
            time_string, self.time_base_handler, fp, sp)
        fp, sp = self._normalize_blur_day(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_point', \
            'blur' if fp.handler()[2] < 0 else 'accurate'

    def norm_year_month_blur_day(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
        m = self.month_pattern.search(time_string)
        if m:
            fp.month = sp.month = int(self.char_num2num(m.group(1)))
        fp, sp = self._normalize_blur_day(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    def norm_limit_year_month_blur_day(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, sp.year = self._normalize_limit_year(
            time_string, self.time_base_handler)
        m = self.month_pattern.search(time_string)
        if m:
            fp.month = sp.month = int(self.char_num2num(m.group(1)))
        fp, sp = self._normalize_blur_day(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    _SEASON_MONTHS = {'1': (1, 3), '一': (1, 3), '首': (1, 3),
                      '2': (4, 6), '二': (4, 6),
                      '3': (7, 9), '三': (7, 9),
                      '4': (10, 12), '四': (10, 12)}

    def _normalize_solar_season(self, time_string):
        """第N季度(初|中|末) / 前N季度 / 后N季度 (time_parser.py:2033-2163)."""
        m = self.solar_season_pattern.search(time_string)
        if m is None:
            return -1, -1
        s = m.group()

        def pick(q_first, with_sub=True):
            base = q_first  # first month of quarter
            if with_sub:
                if '初' in s:
                    return base, base
                if '中' in s:
                    return base + 1, base + 1
                if '末' in s:
                    return base + 2, base + 2
            return base, base + 2

        for key in ('1一首', '2二', '3三', '4四'):
            if any(c in s for c in key):
                q = {'1': 1, '2': 4, '3': 7, '4': 10}[key[0]]
                if key[0] != '4':
                    if '第' in s:
                        return pick(q)
                    if '前' in s or '头' in s:
                        return 1, q + 2
                    if '后' in s:
                        return 13 - q - 2, 12
                    return pick(q)
                return pick(q)
        if '前两' in s or '头两' in s:
            return 1, 6
        if '后两' in s:
            return 7, 12
        raise TimeParseError(time_string)

    def norm_year_solar_season(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
        fp.month, sp.month = self._normalize_solar_season(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_year_solar_season(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, sp.year = self._normalize_limit_year(
            time_string, self.time_base_handler)
        fp.month, sp.month = self._normalize_solar_season(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_solar_season(self, time_string):
        """上/下/本季度(初|中|末) (time_parser.py:1969-2031)."""
        fp, sp = TimePoint(), TimePoint()
        base = self.time_base_handler
        if base[1] == -1 or base[1] > 12:
            raise TimeParseError(time_string)
        infos = [[1, 2, 3], [4, 5, 6], [7, 8, 9], [10, 11, 12]]
        spans = ['初', '中', '末']

        def assign(idx_shift_sign, count):
            for idx, item in enumerate(infos):
                if base[1] not in item:
                    continue
                if idx_shift_sign < 0:
                    season_idx = idx - count % 4
                    year_gap = (idx - count) // 4
                else:
                    season_idx = idx + count % 4 - 4
                    year_gap = (idx + count) // 4
                matched = False
                for i, span in enumerate(spans):
                    if span in time_string:
                        fp.month = sp.month = infos[season_idx][i]
                        matched = True
                        break
                if not matched:
                    fp.month = infos[season_idx][0]
                    sp.month = infos[season_idx][2]
                fp.year = sp.year = base[0] + year_gap

        if '上' in time_string:
            assign(-1, time_string.count('上'))
        elif '下' in time_string:
            assign(1, time_string.count('下'))
        elif '这' in time_string or '本' in time_string:
            for item in infos:
                if base[1] in item:
                    fp.month = item[0]
                    sp.month = item[2]
        else:
            raise TimeParseError(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def _normalize_span_month(self, time_string):
        """前N个月 → [1,N]; 后N个月 → [13-N,12]; 第N个月 → [N,N]; 首月 → [1,1]
        (time_parser.py:2187-2214)."""
        m = self.span_month.search(time_string)
        if m is None:
            return -1, -1
        s = m.group()
        if '首' in s:
            return 1, 1
        n = int(self.char_num2num(self.month_num_pattern.search(s).group()))
        if '前' in s or '头' in s:
            return 1, n
        if '后' in s:
            return 13 - n, 12
        if '第' in s:
            return n, n
        raise TimeParseError(time_string)

    def norm_year_span_month(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
        fp.month, sp.month = self._normalize_span_month(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_year_span_month(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, sp.year = self._normalize_limit_year(
            time_string, self.time_base_handler)
        fp.month, sp.month = self._normalize_span_month(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def _order_num(self, time_string):
        m = self.delta.delta_num.search(time_string)
        if not m:
            raise TimeParseError(time_string)
        return int(self.char_num2num(m.group()))

    def norm_year_order_delta_point(self, time_string):
        n = self._order_num(time_string)
        fp, sp = TimePoint(), TimePoint()
        fp.year = sp.year = self.time_base_handler[0] + n - 1
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    def norm_day_order_delta_point(self, time_string):
        n = self._order_num(time_string)
        fp, sp = TimePoint(), TimePoint()
        fp.day = sp.day = self.time_base_handler[2] + n - 1
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_year_day_order_delta_point(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year_string, rest = time_string.split('第')
        year = self._normalize_year(year_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
            fp.month = sp.month = 1
            fp.day = sp.day = 1
        n = self._order_num('第' + rest)
        fp.day = fp.day + n - 1
        sp.day = sp.day + n - 1
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    # -- lunar dates / festivals / solar terms (time_parser.py:3836-4592,
    #    4879-4941) -----------------------------------------------------------

    def _parse_solar_terms(self, year, term):
        keys = _20C_ST_KEYS if (19 == year // 100 or year == 2000) \
            else _21C_ST_KEYS
        idx = _ST_NAMES.index(term)
        if term in ('小寒', '大寒', '立春', '雨水'):
            flag_day = int((year % 100) * 0.2422 + keys[idx]) \
                - int((year % 100 - 1) / 4)
        else:
            flag_day = int((year % 100) * 0.2422 + keys[idx]) \
                - int((year % 100) / 4)
        for special_year, offset in _ST_SPECIALS.get(term, ()):
            if year == special_year:
                flag_day += offset
                break
        return _ST_MONTHS[idx], str(flag_day)

    def _convert_lunar2solar(self, lunar_handler, leap_month):
        from .lunar import lunar2solar

        def to_handler(dt):
            return [dt.year, dt.month, dt.day, -1, -1, -1]

        if lunar_handler[2] == -1:
            first = lunar2solar(lunar_handler[0], lunar_handler[1], 1,
                                leap_month)
            try:
                second = lunar2solar(lunar_handler[0], lunar_handler[1], 30,
                                     leap_month)
            except Exception:
                second = lunar2solar(lunar_handler[0], lunar_handler[1], 29,
                                     leap_month)
            return to_handler(first), to_handler(second)
        try:
            solar = lunar2solar(lunar_handler[0], lunar_handler[1],
                                lunar_handler[2], leap_month)
        except ValueError:
            if lunar_handler[1] == 12:  # 除夕 falls on 12-29 in some years
                solar = lunar2solar(lunar_handler[0], lunar_handler[1], 29,
                                    leap_month)
            else:
                raise
        h = to_handler(solar)
        return h, list(h)

    def _lunar_month_day(self, time_string, tp):
        """Extract lunar month/day into ``tp``; returns leap flag."""
        leap_month = False
        m = self.lunar_month_pattern.search(time_string)
        if m:
            s = m.group(1)
            if '闰' in s:
                leap_month = True
            s = s.replace('正', '一').replace('冬', '十一') \
                .replace('腊', '十二').replace('闰', '')
            tp.month = int(self.char_num2num(s))
        return leap_month

    def norm_lunar_ymd(self, time_string):
        lunar_day = self.lunar_day_pattern.search(time_string)
        use_lunar_day = True
        if lunar_day is None:
            lunar_day = self.day_pattern.search(time_string)
            if lunar_day is not None:
                use_lunar_day = False
        tp = TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            tp.year = year
        leap_month = self._lunar_month_day(time_string, tp)
        if lunar_day:
            if use_lunar_day:
                s = lunar_day.group(0).replace('初', '').replace('廿', '二十')
            else:
                s = lunar_day.group(1)
            tp.day = int(self.char_num2num(s))
        handler = time_completion(tp.handler(), self.time_base_handler)
        if self.lunar_date:
            first, second = self._convert_lunar2solar(handler, leap_month)
        else:
            first, second = handler, handler
        return first, second, 'time_point', 'accurate'

    def norm_lunar_limit_ymd(self, time_string):
        lunar_day = self.lunar_day_pattern.search(time_string)
        tp = TimePoint()
        tp.year, _ = self._normalize_limit_year(
            time_string, self.time_base_handler)
        leap_month = self._lunar_month_day(time_string, tp)
        if lunar_day:
            s = lunar_day.group(0).replace('初', '').replace('廿', '二十')
            tp.day = int(self.char_num2num(s))
        handler = time_completion(tp.handler(), self.time_base_handler)
        first, second = self._convert_lunar2solar(handler, leap_month)
        return first, second, 'time_point', 'accurate'

    def norm_year_24st(self, time_string):
        m = self.lunar_24st_pattern.search(time_string)
        tp = TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            tp.year = year
        if m:
            if tp.year == -1:
                tp.year = self.time_base_handler[0]
            term = m.group()
            month_s, day_s = self._parse_solar_terms(tp.year, term)
            tp.month = int(month_s)
            tp.day = int(day_s)
            if term in ('小寒', '大寒'):
                tp.year += 1
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def _lunar_season_span(self, time_string, fp, sp):
        m = self.lunar_season_pattern.search(time_string)
        if m is None:
            return fp, sp
        s = m.group()
        seasons = '春夏秋冬春'
        for idx in range(4):
            if seasons[idx] in s:
                fm, fd = self._parse_solar_terms(fp.year, '立' + seasons[idx])
                sm, sd = self._parse_solar_terms(fp.year,
                                                 '立' + seasons[idx + 1])
                if idx == 3:
                    sp.year += 1
                fp.month, sp.month = int(fm), int(sm)
                fp.day, sp.day = int(fd), int(sd) - 1
                return fp, sp
        raise TimeParseError(time_string)

    def norm_year_lunar_season(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        fp.year = sp.year = year if year is not None \
            else self.time_base_handler[0]
        fp, sp = self._lunar_season_span(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_year_lunar_season(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, sp.year = self._normalize_limit_year(
            time_string, self.time_base_handler)
        fp, sp = self._lunar_season_span(time_string, fp, sp)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def _fixed_solar_festival(self, time_string, tp):
        for festival, (m, d) in sorted(_FIXED_SOLAR_HOLIDAYS.items(),
                                       key=lambda kv: len(kv[0]),
                                       reverse=True):
            if festival in time_string:
                tp.month, tp.day = m, d
                break
        if tp.day < 0:
            raise TimeParseError(time_string)

    def norm_year_fixed_solar_festival(self, time_string):
        tp = TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        tp.year = year if year is not None else self.time_base_handler[0]
        self._fixed_solar_festival(time_string, tp)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_limit_year_fixed_solar_festival(self, time_string):
        tp = TimePoint()
        tp.year, _ = self._normalize_limit_year(
            time_string, self.time_base_handler)
        self._fixed_solar_festival(time_string, tp)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_year_fixed_lunar_festival(self, time_string):
        tp = TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        tp.year = year if year is not None else self.time_base_handler[0]
        for festival, (m, d) in _FIXED_LUNAR_HOLIDAYS.items():
            if festival in time_string:
                first, _s = self._convert_lunar2solar(
                    [tp.year, m, d, -1, -1, -1], False)
                tp.year, tp.month, tp.day = first[0], first[1], first[2]
                break
        if tp.day < 0:
            raise TimeParseError(time_string)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_limit_year_fixed_lunar_festival(self, time_string):
        tp = TimePoint()
        tp.year, _ = self._normalize_limit_year(
            time_string, self.time_base_handler)
        for festival, (m, d) in _FIXED_LUNAR_HOLIDAYS.items():
            if festival in time_string:
                first, _s = self._convert_lunar2solar(
                    [tp.year, m, d, -1, -1, -1], False)
                tp.month, tp.day = first[1], first[2]
                break
        if tp.day < 0:
            raise TimeParseError(time_string)
        h = tp.handler()
        return h, h, 'time_point', self._check_blur(time_string, 'accurate')

    def _regular_solar_festival(self, time_string, tp):
        for festival, spec in _REGULAR_SOLAR_HOLIDAYS.items():
            if festival in time_string:
                tp.month = spec['month']
                base_dt = handler2datetime(
                    [tp.year, tp.month, 1, 0, 0, 0])
                target = self.compute_week_day(base_dt, spec['day'] - 1,
                                               flag=True)
                target += datetime.timedelta(days=7) * (spec['week'] - 1)
                tp.day = time_base2handler(target)[2]
                break
        if tp.day < 0:
            raise TimeParseError(time_string)

    def norm_year_regular_solar_festival(self, time_string):
        tp = TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        tp.year = year if year is not None else self.time_base_handler[0]
        self._regular_solar_festival(time_string, tp)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_limit_year_regular_solar_festival(self, time_string):
        tp = TimePoint()
        tp.year, _ = self._normalize_limit_year(
            time_string, self.time_base_handler)
        self._regular_solar_festival(time_string, tp)
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_enum_day(self, time_string):
        """(年月)?枚举日: 9月10号、11号、12号 → span over min..max day
        (time_parser.py:1917-1943)."""
        month = self.month_pattern.search(time_string)
        day_list = self.day_pattern.findall(time_string)
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
        if month is not None:
            fp.month = sp.month = int(self.char_num2num(month.group(1)))
        if day_list:
            days = [int(item[0]) for item in day_list]
            fp.day = min(days)
            sp.day = max(days)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_super_blur_two_ymd(self, time_string):
        """前两天/前两(个)月/前两年 — colloquial fuzzy counts
        (time_parser.py:1835-1872)."""
        fp, sp = TimePoint(), TimePoint()
        base = self.time_base_handler
        if '前' in time_string:
            if '年' in time_string:
                fp.year = base[0] - 5
                sp.year = base[0] - 2
            elif '月' in time_string:
                base_dt = handler2datetime(base)
                f_dt = base_dt - datetime.timedelta(days=30.417 * 2)
                s_dt = base_dt - datetime.timedelta(days=30.417 * 1)
                fp.assign(*tuple(f_dt.utctimetuple())[:2])
                sp.assign(*tuple(s_dt.utctimetuple())[:2])
            elif '天' in time_string:
                base_dt = handler2datetime(base)
                f_dt = base_dt - datetime.timedelta(days=7)
                s_dt = base_dt - datetime.timedelta(days=2)
                fp.assign(*tuple(f_dt.utctimetuple())[:3])
                sp.assign(*tuple(s_dt.utctimetuple())[:3])
            else:
                raise TimeParseError(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    def norm_super_blur_two_hms(self, time_string):
        """前两(个)小时/分钟/秒 (time_parser.py:1874-1915)."""
        fp, sp = TimePoint(), TimePoint()
        base = self.time_base_handler
        base_dt = handler2datetime(base)
        if '前' in time_string:
            if '小时' in time_string or '钟头' in time_string:
                if base[3] <= -1:
                    raise TimeParseError('hour must exist')
                fp.assign(*tuple((base_dt - datetime.timedelta(hours=6))
                                 .utctimetuple())[:4])
                sp.assign(*tuple((base_dt - datetime.timedelta(hours=2))
                                 .utctimetuple())[:4])
            elif '分' in time_string:
                if base[4] <= -1:
                    raise TimeParseError('minute must exist')
                fp.assign(*tuple((base_dt - datetime.timedelta(minutes=9))
                                 .utctimetuple())[:5])
                sp.assign(*tuple((base_dt - datetime.timedelta(minutes=2))
                                 .utctimetuple())[:5])
            elif '秒' in time_string:
                if base[5] <= -1:
                    raise TimeParseError('second must exist')
                fp.assign(*tuple((base_dt - datetime.timedelta(seconds=9))
                                 .utctimetuple())[:6])
                sp.assign(*tuple((base_dt - datetime.timedelta(seconds=2))
                                 .utctimetuple())[:6])
            else:
                raise TimeParseError(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'blur', [0, '弱']

    def norm_century_year(self, time_string):
        """世纪/年代 (time_parser.py:3563-3643)."""
        century_m = self.century_pattern.search(time_string)
        decade_m = self.decade_pattern.search(time_string)
        fp, sp = TimePoint(), TimePoint()
        christ_era = '公元前' not in time_string

        century = None
        if century_m is not None:
            century = 20 if '上世纪' in time_string \
                else int(self.char_num2num(century_m.group()))
        decade = int(self.char_num2num(decade_m.group())) \
            if decade_m is not None else None

        if century is None:
            year = (1900 if decade > 20 else 2000) + decade
            if '初期' in time_string or '初' in time_string or \
                    '前' in time_string:
                fy, sy = year, year + 2
            elif '中期' in time_string or '中' in time_string:
                fy, sy = year + 3, year + 6
            elif '末期' in time_string or '末' in time_string or \
                    '后' in time_string:
                fy, sy = year + 7, year + 9
            else:
                fy, sy = year, year + 9
        elif decade is None:
            year = (century - 1) * 100 if christ_era else -century * 100
            if '初期' in time_string or '初' in time_string or \
                    '前' in time_string:
                fy, sy = year, year + 19
            elif '中期' in time_string or '中' in time_string:
                fy, sy = year + 20, year + 79
            elif '末期' in time_string or '末' in time_string or \
                    '后' in time_string:
                fy, sy = year + 80, year + 99
            else:
                fy, sy = year, year + 99
        else:
            year = ((century - 1) * 100 if christ_era
                    else -century * 100) + decade
            if '初期' in time_string or '初' in time_string or \
                    '前期' in time_string:
                fy, sy = year, year + 2
            elif '中期' in time_string or '中' in time_string:
                fy, sy = year + 3, year + 6
            elif '末期' in time_string or '末' in time_string or \
                    '后' in time_string:
                fy, sy = year + 7, year + 9
            else:
                fy, sy = year, year + 9

        fp.year, sp.year = fy, sy
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    def norm_blur_year(self, time_string):
        """模糊年：二十多年前 / 半年前 / 几十年后 (time_parser.py:3666-3834)."""
        b1 = self.blur_year_1.search(time_string)
        b2 = self.blur_year_2.search(time_string)
        b3 = self.blur_year_3.search(time_string)
        fp, sp = TimePoint(), TimePoint()
        base = self.time_base_handler
        first_month = second_month = -1

        if b1 is not None:
            year_num = int(self.char_num2num(
                self.year_num_pattern.search(time_string).group()))
            if '几' in time_string or ('多' in time_string and
                                       time_string.index('多') <
                                       time_string.index('年')):
                if '年前' in time_string or '年之前' in time_string or \
                        '年以前' in time_string:
                    if year_num % 1000 == 0:
                        first_year = base[0] - year_num - 1000
                    elif year_num % 100 == 0:
                        first_year = base[0] - year_num - 100
                    elif year_num % 10 == 0:
                        first_year = base[0] - year_num - 10
                    else:
                        raise TimeParseError(time_string)
                    second_year = base[0] - year_num
                elif '年后' in time_string or '年之后' in time_string or \
                        '年以后' in time_string:
                    first_year = base[0] + year_num
                    if year_num % 1000 == 0:
                        second_year = base[0] + year_num + 1000
                    elif year_num % 100 == 0:
                        second_year = base[0] + year_num + 100
                    elif year_num % 10 == 0:
                        second_year = base[0] + year_num + 10
                    else:
                        raise TimeParseError(time_string)
                else:
                    raise TimeParseError(time_string)
            elif '年半' in time_string:
                m = base[1]
                if '前' in time_string:
                    if 3 < m <= 9:
                        first_year = base[0] - year_num - 1
                        first_month = m + 3
                        second_year = base[0] - year_num
                        second_month = m - 3
                    elif 0 < m <= 3:
                        first_year = second_year = base[0] - year_num
                        first_month, second_month = m + 3, m + 9
                    elif m > 9:
                        first_year = second_year = base[0] - year_num
                        first_month, second_month = m - 9, m - 3
                    else:
                        first_year = second_year = base[0] - year_num
                elif '后' in time_string:
                    if 3 < m <= 9:
                        first_year = base[0] + year_num
                        first_month = m + 3
                        second_year = base[0] + year_num + 1
                        second_month = m - 3
                    elif 0 < m <= 3:
                        first_year = second_year = base[0] + year_num
                        first_month, second_month = m + 3, m + 9
                    elif m > 9:
                        first_year = second_year = base[0] + year_num + 1
                        first_month, second_month = m - 9, m - 3
                    else:
                        first_year = second_year = base[0] + year_num
                else:
                    raise TimeParseError(time_string)
            else:
                if '前' in time_string:
                    first_year = second_year = base[0] - year_num
                elif '后' in time_string:
                    first_year = second_year = base[0] + year_num
                else:
                    raise TimeParseError(time_string)
        elif b2 is not None:
            m = base[1]
            if '前' in time_string:
                if 3 < m <= 9:
                    first_year, first_month = base[0] - 1, m + 3
                    second_year, second_month = base[0], m - 3
                elif 0 < m <= 3:
                    first_year = second_year = base[0]
                    first_month, second_month = m + 3, m + 9
                elif m > 9:
                    first_year = second_year = base[0]
                    first_month, second_month = m - 9, m - 3
                else:
                    first_year = second_year = base[0]
            elif '后' in time_string:
                if 3 < m <= 9:
                    first_year, first_month = base[0], m + 3
                    second_year, second_month = base[0] + 1, m - 3
                elif 0 < m <= 3:
                    first_year = second_year = base[0]
                    first_month, second_month = m + 3, m + 9
                elif m > 9:
                    first_year = second_year = base[0] + 1
                    first_month, second_month = m - 9, m - 3
                else:
                    first_year = second_year = base[0]
            else:
                raise TimeParseError(time_string)
        elif b3 is not None:
            scales = {'几十': (20, 100), '几百': (200, 1000),
                      '几千': (2000, 10000)}
            for key, (lo, hi) in scales.items():
                if key in time_string:
                    if '前' in time_string:
                        first_year = base[0] - hi
                        second_year = base[0] - lo
                    elif '后' in time_string:
                        first_year = base[0] + lo
                        second_year = base[0] + hi
                    else:
                        raise TimeParseError(time_string)
                    break
            else:
                raise TimeParseError(time_string)
        else:
            raise TimeParseError(time_string)

        fp.year, sp.year = first_year, second_year
        fp.month, sp.month = first_month, second_month
        return fp.handler(), sp.handler(), 'time_span', 'blur'

    # -- 第N个星期 group (time_parser.py:4222-4439) ---------------------------

    @staticmethod
    def _map_units(tp, dt, units):
        for u in units:
            setattr(tp, u, getattr(dt, u))

    def _month_order_week(self, time_string, month, year=None):
        m = self.week_5.search(time_string)
        if not m:
            raise TimeParseError(time_string)
        n = int(self.char_num2num(self.week_num.search(m.group()).group()))
        day_offset = n * 7
        first_day = datetime.datetime(
            year if year is not None else self.time_base_handler[0],
            month, 1)
        w = int(first_day.strftime('%w'))
        if w == 1:
            pass
        elif w == 0:
            day_offset += 1
        else:
            day_offset += 7 + 1 - w
        first = first_day + datetime.timedelta(days=day_offset - 7)
        second = first_day + datetime.timedelta(days=day_offset - 1)
        if first.month != month:
            raise TimeParseError(time_string)
        return first, second

    def _year_order_week(self, time_string, year):
        m = self.week_5.search(time_string)
        if not m:
            raise TimeParseError(time_string)
        n = int(self.char_num2num(self.week_num.search(m.group()).group()))
        day_offset = n * 7
        first_day = datetime.datetime(year, 1, 1)
        w = int(first_day.strftime('%w'))
        if w == 1:
            pass
        elif w == 0:
            day_offset += 1
        else:
            day_offset += 7 + 1 - w
        first = first_day + datetime.timedelta(days=day_offset - 7)
        second = first_day + datetime.timedelta(days=day_offset - 1)
        if first.year != year:
            raise TimeParseError(time_string)
        return first, second

    def norm_limit_week(self, time_string):
        """M月第N个星期K → one day (time_parser.py:4222-4271)."""
        month = self.month_pattern.search(time_string)
        week_res = self.week_5.search(time_string)
        week_day = self.week_4.search(time_string)
        tp = TimePoint()
        if not month:
            raise TimeParseError(time_string)
        mn = self.month_num_pattern.search(month.group())
        if not mn:
            raise TimeParseError(time_string)
        tp.month = int(self.char_num2num(mn.group()))
        if not (week_res and week_day):
            raise TimeParseError(time_string)
        n = int(self.char_num2num(
            self.week_num.search(week_res.group()).group()))
        tp.year = self.time_base_handler[0]
        base_dt = handler2datetime([tp.year, tp.month, 1, 0, 0, 0])
        wds = week_day.group()
        for c, i in zip('一二三四五六天末日', [0, 1, 2, 3, 4, 5, 6, 6, 6]):
            if c in wds:
                target = self.compute_week_day(base_dt, i, flag=True)
                break
        else:
            raise TimeParseError(time_string)
        target += datetime.timedelta(days=7) * (n - 1)
        tp.day = time_base2handler(target)[2]
        h = tp.handler()
        return h, h, 'time_point', 'accurate'

    def norm_month_week(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        month = self.month_pattern.search(time_string)
        if not month:
            raise TimeParseError(time_string)
        mn = int(self.char_num2num(
            self.month_num_pattern.search(month.group()).group()))
        fp.month = sp.month = mn
        first, second = self._month_order_week(time_string, mn)
        self._map_units(fp, first, ('month', 'day'))
        self._map_units(sp, second, ('year', 'month', 'day'))
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_month_week(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp, sp = self._normalize_limit_month(
            time_string, self.time_base_handler, fp, sp)
        first, second = self._month_order_week(time_string, fp.month)
        self._map_units(fp, first, ('month', 'day'))
        self._map_units(sp, second, ('year', 'month', 'day'))
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_year_month_week(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        if year is not None:
            fp.year = sp.year = year
        m = self.month_pattern.search(time_string)
        if m:
            fp.month = sp.month = int(self.char_num2num(m.group(1)))
        first, second = self._month_order_week(time_string, fp.month, fp.year)
        self._map_units(fp, first, ('month', 'day'))
        self._map_units(sp, second, ('year', 'month', 'day'))
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_year_month_week(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, sp.year = self._normalize_limit_year(
            time_string, self.time_base_handler)
        m = self.month_pattern.search(time_string)
        if m:
            fp.month = sp.month = int(self.char_num2num(m.group(1)))
        first, second = self._month_order_week(time_string, fp.month, fp.year)
        self._map_units(fp, first, ('month', 'day'))
        self._map_units(sp, second, ('year', 'month', 'day'))
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_year_week(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        year = self._normalize_year(time_string, self.time_base_handler)
        fp.year = year if year is not None else self.time_base_handler[0]
        first, second = self._year_order_week(time_string, fp.year)
        self._map_units(fp, first, ('month', 'day'))
        self._map_units(sp, second, ('year', 'month', 'day'))
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_limit_year_week(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.year, _ = self._normalize_limit_year(
            time_string, self.time_base_handler)
        first, second = self._year_order_week(time_string, fp.year)
        self._map_units(fp, first, ('month', 'day'))
        self._map_units(sp, second, ('year', 'month', 'day'))
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    def norm_xianzai(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        fp.assign(*self.time_base_handler)
        sp.assign(*self.time_base_handler)
        return fp.handler(), sp.handler(), 'time_point', 'accurate'

    def norm_special_span(self, time_string):
        fp, sp = TimePoint(), TimePoint()
        base = self.time_base_handler
        if '今明' in time_string:
            if '年' in time_string:
                fp.year, sp.year = base[0], base[0] + 1
            elif '天' in time_string:
                if base[2] == -1:
                    raise TimeParseError(time_string)
                fp.day, sp.day = base[2], base[2] + 1
            else:
                raise TimeParseError(time_string)
        elif '全' in time_string:
            if '年' in time_string:
                fp.year = sp.year = base[0]
            elif '月' in time_string:
                fp.month = sp.month = base[1]
            elif '天' in time_string:
                fp.day = sp.day = base[2]
            else:
                raise TimeParseError(time_string)
        else:
            raise TimeParseError(time_string)
        return fp.handler(), sp.handler(), 'time_span', 'accurate'

    # -- delta→point / delta→span handlers (time_parser.py:2238-3261) ---------

    def _delta_unit(self, time_string, pattern, unit=None):
        """TimeParser's own delta-unit extractor (time_parser.py:1406-1442):
        unit-aware 俩/仨 replacement + the 近 blur rule."""
        if unit is None:
            time_string = time_string.replace('俩', '两个').replace('仨', '三个')
        elif unit in ('second', 'minute', 'day', 'year'):
            time_string = time_string.replace('俩', '两').replace('仨', '三')
        elif unit in ('hour', 'month'):
            time_string = time_string.replace('俩', '两个').replace('仨', '三个')
        m = pattern.search(time_string)
        num = 0
        definition = 'accurate'
        if m:
            dn = self.delta.delta_num.search(m.group())
            if dn:
                num = self.char_num2num(dn.group())
            if '半' in time_string:
                num = num + 0.5 if num > 0 else 0.5
                definition = 'blur'
            if '多' in time_string or '余' in time_string:
                definition = 'blur'
            if '近' in time_string and '最近' not in time_string:
                definition = 'blur'
        return num, definition

    def _standard_delta_dict(self, time_string):
        units = [('second', 1, self.delta.second_delta),
                 ('minute', 1, self.delta.minute_delta),
                 ('minute', 15, self.delta.quarter_delta),
                 ('hour', 1, self.delta.hour_delta),
                 ('day', 1, self.delta.day_delta),
                 ('workday', 1, self.delta.workday_delta),
                 ('day', 7, self.delta.week_delta),
                 ('month', 1, self.delta.month_delta),
                 ('month', 3, self.delta.season_delta),
                 ('year', 1, self.delta.year_delta)]
        delta = TimeDelta()
        for unit, multi, pattern in units:
            num, _d = self._delta_unit(time_string, pattern, unit=unit)
            setattr(delta, unit, getattr(delta, unit) + num * multi)
        return cut_zero_key(delta.__dict__)

    _UNIT_IDX = {'year': 0, 'month': 1, 'day': 2,
                 'hour': 3, 'minute': 4, 'second': 5}

    def _check_delta_base_conflict(self, delta_dict):
        for unit, idx in self._UNIT_IDX.items():
            if delta_dict.get(unit, 0) > 0 and \
                    self.time_base_handler[idx] == -1:
                raise TimeParseError('time base lacks ' + unit)

    @staticmethod
    def _apply_delta(dt, delta_dict, coefficient=1):
        dt += datetime.timedelta(days=coefficient * 365
                                 * delta_dict.get('year', 0))
        dt += datetime.timedelta(days=coefficient * 30.417
                                 * delta_dict.get('month', 0))
        dt += datetime.timedelta(days=coefficient * delta_dict.get('day', 0))
        dt += datetime.timedelta(hours=coefficient * delta_dict.get('hour', 0))
        dt += datetime.timedelta(minutes=coefficient
                                 * delta_dict.get('minute', 0))
        dt += datetime.timedelta(seconds=coefficient
                                 * delta_dict.get('second', 0))
        return dt

    def _delta2span(self, time_string, direction):
        """weilai(+)/guoqu(-)/guo(+, open-ended) → span
        (time_parser.py:2265-2351)."""
        delta_dict = self._standard_delta_dict(time_string)
        self._check_delta_base_conflict(delta_dict)
        base_dt = handler2datetime(self.time_base_handler)
        moved = time_base2handler(
            self._apply_delta(base_dt, delta_dict,
                              -1 if direction == 'guoqu' else 1))
        delta_set = set(delta_dict.keys())
        fine_units = ({'hour', 'minute', 'second', 'day'}
                      if direction != 'guo' else {'hour', 'minute', 'second'})
        if delta_set & fine_units:
            definition = 'accurate'
            if direction == 'guoqu' and '近' in time_string and \
                    '最近' not in time_string:
                definition = 'blur'
            moved = [s if b > -1 else -1
                     for b, s in zip(self.time_base_handler, moved)]
        else:
            definition = 'blur'
            moved = [s if (b > -1 and idx <= 2) else -1
                     for idx, (b, s) in enumerate(
                         zip(self.time_base_handler, moved))]
        if direction == 'weilai':
            return self.time_base_handler, moved, 'time_span', definition
        if direction == 'guoqu':
            return moved, self.time_base_handler, 'time_span', definition
        return moved, _FUTURE, 'time_span', definition

    def norm_weilai_delta2span(self, time_string):
        return self._delta2span(time_string, 'weilai')

    def norm_guoqu_delta2span(self, time_string):
        return self._delta2span(time_string, 'guoqu')

    def norm_guo_delta2span(self, time_string):
        return self._delta2span(time_string, 'guo')

    def _hms_delta_point(self, time_string, pattern, unit,
                         step_minutes=None):
        """second/minute/quarter delta→point (time_parser.py:2353-2609):
        exact datetime arithmetic, no handler truncation."""
        day_bias = [0, '弱']
        base_idx = 5 if unit == 'second' else 4
        if self.time_base_handler[base_idx] == -1:
            raise TimeParseError('time base lacks ' + unit)
        num, definition = self._delta_unit(time_string, pattern)
        scale = step_minutes if step_minutes else 1
        kw = 'seconds' if unit == 'second' else 'minutes'

        base_dt = handler2datetime(self.time_base_handler)

        def shifted(sign, amount):
            return time_base2handler(
                base_dt + datetime.timedelta(**{kw: sign * amount * scale}))

        if '之前' in time_string or '以前' in time_string:
            return (_PAST, shifted(-1, num), 'time_span', 'blur', day_bias)
        if '前' in time_string:
            cur = base_dt - datetime.timedelta(**{kw: num * scale})
            if step_minutes:
                if num >= 1:
                    first = cur - datetime.timedelta(minutes=scale)
                else:
                    raise TimeParseError(time_string)
            elif num == 0.5:
                first = cur - datetime.timedelta(**{kw: 0.5})
            elif num >= 1:
                first = cur - datetime.timedelta(**{kw: 1})
            else:
                raise TimeParseError(time_string)
            return (time_base2handler(first), time_base2handler(cur),
                    'time_point', 'accurate', day_bias)
        if '之后' in time_string or '以后' in time_string:
            return (shifted(1, num), _FUTURE, 'time_span', 'blur', day_bias)
        if '后' in time_string:
            cur = base_dt + datetime.timedelta(**{kw: num * scale})
            if step_minutes:
                if num >= 1:
                    second = cur + datetime.timedelta(minutes=scale)
                else:
                    raise TimeParseError(time_string)
            elif num == 0.5:
                second = cur + datetime.timedelta(**{kw: 0.5})
            elif num >= 1:
                second = cur + datetime.timedelta(**{kw: 1})
            else:
                raise TimeParseError(time_string)
            return (time_base2handler(cur), time_base2handler(second),
                    'time_point', 'accurate', day_bias)
        if '内' in time_string:
            return (self.time_base_handler, shifted(1, num),
                    'time_span', 'accurate', day_bias)
        if '来' in time_string:
            return (shifted(-1, num), self.time_base_handler,
                    'time_span', 'accurate', day_bias)
        raise TimeParseError(time_string)

    def norm_second_delta_point(self, time_string):
        return self._hms_delta_point(time_string, self.delta.second_delta,
                                     'second')

    def norm_minute_delta_point(self, time_string):
        return self._hms_delta_point(time_string, self.delta.minute_delta,
                                     'minute')

    def norm_quarter_delta_point(self, time_string):
        return self._hms_delta_point(time_string, self.delta.quarter_delta,
                                     'minute', step_minutes=15)

    def norm_hour_delta_point(self, time_string):
        """Hour delta→point (time_parser.py:2611-2709): results truncated to
        minute precision (second := -1)."""
        day_bias = [0, '弱']
        if self.time_base_handler[3] == -1:
            raise TimeParseError('time base lacks hour')
        num, definition = self._delta_unit(time_string,
                                           self.delta.hour_delta)
        base_dt = handler2datetime(self.time_base_handler)

        def trunc(dt):
            h = time_base2handler(dt)
            return h[:5] + [-1]

        if '之前' in time_string or '以前' in time_string:
            return (_PAST, trunc(base_dt - datetime.timedelta(hours=num)),
                    'time_span', 'blur', day_bias)
        if '前' in time_string:
            cur = base_dt - datetime.timedelta(hours=num)
            if num == 0.5:
                first = cur - datetime.timedelta(hours=0.5)
            elif num >= 1:
                first = cur - datetime.timedelta(hours=1)
            else:
                raise TimeParseError(time_string)
            # reference keeps the full second on the cur handler here
            return (trunc(first), time_base2handler(cur),
                    'time_point', 'accurate', day_bias)
        if '之后' in time_string or '以后' in time_string:
            return (trunc(base_dt + datetime.timedelta(hours=num)), _FUTURE,
                    'time_span', 'blur', day_bias)
        if '后' in time_string:
            cur = base_dt + datetime.timedelta(hours=num)
            if num == 0.5:
                second = cur + datetime.timedelta(hours=0.5)
            elif num >= 1:
                second = cur + datetime.timedelta(hours=1)
            else:
                raise TimeParseError(time_string)
            return (time_base2handler(cur), trunc(second),
                    'time_point', 'accurate', day_bias)
        if '内' in time_string:
            return (self.time_base_handler,
                    trunc(base_dt + datetime.timedelta(hours=num)),
                    'time_span', 'accurate', day_bias)
        if '来' in time_string:
            return (trunc(base_dt - datetime.timedelta(hours=num)),
                    self.time_base_handler, 'time_span', 'accurate', day_bias)
        raise TimeParseError(time_string)

    def norm_workday_delta_point(self, time_string):
        """Workday delta→point (time_parser.py:2711-2772)."""
        if self.time_base_handler[2] == -1:
            raise TimeParseError('time base lacks day')
        num, definition = self._delta_unit(time_string,
                                           self.delta.workday_delta)
        if num < 1 or int(num) != num:
            # the reference's counting loop never terminates on fractional
            # workdays (time_parser.py:2730-2735) — fail fast instead
            raise TimeParseError(time_string)
        cur = handler2datetime(self.time_base_handler)
        count = 0
        while True:
            cur += datetime.timedelta(days=1)
            if cur.weekday() <= 4:
                count += 1
            if count == num:
                break
        h = time_base2handler(cur)
        day_h = h[:3] + [-1, -1, -1]
        if '之后' in time_string or '以后' in time_string:
            return day_h, _FUTURE, 'time_span', 'blur'
        if '后' in time_string:
            return day_h, list(day_h), 'time_point', 'accurate'
        if '内' in time_string:
            return self.time_base_handler, day_h, 'time_span', 'accurate'
        raise TimeParseError(time_string)

    def norm_day_delta_point(self, time_string):
        """Day delta→point (time_parser.py:2774-2894): integral deltas
        truncate to day precision, half-days keep the hour."""
        if self.time_base_handler[2] == -1:
            raise TimeParseError('time base lacks day')
        num, definition = self._delta_unit(time_string, self.delta.day_delta)
        base_dt = handler2datetime(self.time_base_handler)

        def trunc(dt):
            h = time_base2handler(dt)
            if int(num) == num:
                return h[:3] + [-1, -1, -1]
            return h[:4] + [-1, -1]

        if '之前' in time_string or '以前' in time_string:
            return (_PAST, trunc(base_dt - datetime.timedelta(days=num)),
                    'time_span', 'blur')
        if '前' in time_string:
            cur = base_dt - datetime.timedelta(days=num)
            if num == 0.5:
                first = cur - datetime.timedelta(days=0.5)
            elif num >= 1:
                first = cur
            else:
                raise TimeParseError(time_string)
            return trunc(first), trunc(cur), 'time_point', 'accurate'
        if '之后' in time_string or '以后' in time_string:
            return (trunc(base_dt + datetime.timedelta(days=num)), _FUTURE,
                    'time_span', 'blur')
        if '后' in time_string:
            cur = base_dt + datetime.timedelta(days=num)
            if num == 0.5:
                second = cur + datetime.timedelta(days=0.5)
            elif num >= 1:
                second = cur
            else:
                raise TimeParseError(time_string)
            return trunc(cur), trunc(second), 'time_point', 'accurate'
        if '内' in time_string:
            return (self.time_base_handler,
                    trunc(base_dt + datetime.timedelta(days=num)),
                    'time_span', 'accurate')
        if '来' in time_string:
            return (trunc(base_dt - datetime.timedelta(days=num)),
                    self.time_base_handler, 'time_span', 'accurate')
        raise TimeParseError(time_string)

    def norm_week_delta_point(self, time_string):
        """Week delta→point (time_parser.py:2896-2980).  NOTE: the reference
        shifts by timedelta(days=N) for N weeks — reproduced as-is."""
        if self.time_base_handler[2] == -1:
            raise TimeParseError('time base lacks day')
        num, definition = self._delta_unit(time_string, self.delta.week_delta)
        base_dt = handler2datetime(self.time_base_handler)
        dpw = 7

        def day_h(dt):
            h = time_base2handler(dt)
            return h[:3] + [-1, -1, -1]

        if '之前' in time_string or '以前' in time_string:
            return (_PAST, day_h(base_dt - datetime.timedelta(days=num)),
                    'time_span', 'blur')
        if '前' in time_string:
            cur = base_dt - datetime.timedelta(days=num)
            return (day_h(cur - datetime.timedelta(days=dpw)), day_h(cur),
                    'time_point', 'accurate')
        if '之后' in time_string or '以后' in time_string:
            return (day_h(base_dt + datetime.timedelta(days=num)), _FUTURE,
                    'time_span', 'blur')
        if '后' in time_string:
            cur = base_dt + datetime.timedelta(days=num)
            return (day_h(cur), day_h(cur + datetime.timedelta(days=dpw)),
                    'time_point', 'accurate')
        if '内' in time_string:
            return (self.time_base_handler,
                    day_h(base_dt + datetime.timedelta(days=num)),
                    'time_span', 'accurate')
        if '来' in time_string:
            return (day_h(base_dt - datetime.timedelta(days=num)),
                    self.time_base_handler, 'time_span', 'accurate')
        raise TimeParseError(time_string)

    def _coarse_delta_point(self, time_string, pattern, dpu, keep_levels,
                            frac_extra_level, first_back_step):
        """month/season/year delta→point shared template
        (time_parser.py:2982-3261): shift by num·dpu days, truncate to
        ``keep_levels`` handler slots (one more for fractional deltas)."""
        if self.time_base_handler[keep_levels - 1] == -1:
            raise TimeParseError('time base insufficient')
        num, _definition = self._delta_unit(time_string, pattern)
        base_dt = handler2datetime(self.time_base_handler)

        def trunc(dt):
            h = time_base2handler(dt)
            keep = keep_levels if int(num) == num else \
                keep_levels + frac_extra_level
            return h[:keep] + [-1] * (6 - keep)

        if '之前' in time_string or '以前' in time_string:
            return (_PAST, trunc(base_dt - datetime.timedelta(days=num * dpu)),
                    'time_span', 'blur')
        if '前' in time_string:
            cur = base_dt - datetime.timedelta(days=num * dpu)
            if first_back_step and num == 0.5:
                first = cur - datetime.timedelta(days=dpu * 0.5)
            elif first_back_step and num >= 1:
                first = cur - datetime.timedelta(days=dpu)
            elif not first_back_step:
                if num == 0.5:
                    first = cur - datetime.timedelta(days=0.5 * dpu)
                elif num >= 1:
                    first = cur
                else:
                    raise TimeParseError(time_string)
            else:
                raise TimeParseError(time_string)
            return trunc(first), trunc(cur), 'time_span', 'blur'
        if '之后' in time_string or '以后' in time_string:
            return (trunc(base_dt + datetime.timedelta(days=num * dpu)),
                    _FUTURE, 'time_span', 'blur')
        if '后' in time_string:
            cur = base_dt + datetime.timedelta(days=num * dpu)
            if first_back_step and num == 0.5:
                second = cur + datetime.timedelta(days=dpu * 0.5)
            elif first_back_step and num >= 1:
                second = cur + datetime.timedelta(days=dpu)
            elif not first_back_step:
                second = cur
            else:
                raise TimeParseError(time_string)
            return trunc(cur), trunc(second), 'time_span', 'blur'
        if '内' in time_string:
            return (self.time_base_handler,
                    trunc(base_dt + datetime.timedelta(days=num * dpu)),
                    'time_span', 'blur')
        if '来' in time_string:
            return (trunc(base_dt - datetime.timedelta(days=num * dpu)),
                    self.time_base_handler, 'time_span', 'blur')
        raise TimeParseError(time_string)

    def norm_month_delta_point(self, time_string):
        return self._coarse_delta_point(
            time_string, self.delta.month_delta, 30.417,
            keep_levels=2, frac_extra_level=1, first_back_step=True)

    def norm_season_delta_point(self, time_string):
        """Season keeps year+month always (no fractional widening)."""
        return self._coarse_delta_point(
            time_string, self.delta.season_delta, 30.417 * 3,
            keep_levels=2, frac_extra_level=0, first_back_step=False)

    def norm_year_delta_point(self, time_string):
        """Year delta→point with the `2025年内` whole-year special case."""
        num, _d = self._delta_unit(time_string, self.delta.year_delta)
        if '内' in time_string and num > 2000 and \
                '之' not in time_string and '以' not in time_string:
            h = [int(num), -1, -1, -1, -1, -1]
            return h, list(h), 'time_span', 'blur'
        return self._coarse_delta_point(
            time_string, self.delta.year_delta, 365,
            keep_levels=1, frac_extra_level=1, first_back_step=False)

    # -- hms handlers ----------------------------------------------------------------

    def norm_hour_minute_second(self, time_string):
        day_bias = [0, '弱']
        hour = self.hour_pattern.search(time_string)
        minute = self.minute_pattern.search(time_string)
        second = self.second_pattern.search(time_string)
        tp = TimePoint()
        if hour:
            h = int(self.char_num2num(hour.group(1)))
            lim = self.hour_limitation.search(time_string)
            if lim:
                h = self.convert_hour(h, lim.group())
            if h == 24:
                h = 0
                day_bias = [1, '强']
            tp.hour = h
        if minute:
            tp.minute = int(self.char_num2num(minute.group(1)))
        if second:
            tp.second = int(self.char_num2num(second.group(1)))
        hh = tp.handler()
        return hh, hh, 'time_point', \
            self._check_blur(time_string, 'accurate'), day_bias

    def norm_consecutive_blur_hour(self, time_string):
        day_bias = [0, '弱']
        hour = self.consecutive_hour.search(time_string)
        fp, sp = TimePoint(), TimePoint()
        if hour:
            hs = hour.group(1)
            first_h = int(self.char_num2num(hs[0]))
            second_h = int(self.char_num2num(hs[-1]))
            lim = self.hour_limitation.search(time_string)
            if lim:
                ls = lim.group()
                if (5 <= first_h <= 12) and ('晚' in ls or '夜' in ls):
                    first_h += 12
                    second_h += 12
                if '中午' in ls and first_h not in (11, 12):
                    first_h += 12
                    second_h += 12
                if '下午' in ls and (1 <= first_h <= 11):
                    first_h += 12
                    second_h += 12
            if first_h == 24:
                first_h, second_h = 0, 1
                day_bias = [1, '强']
            fp.hour, sp.hour = first_h, second_h
        return fp.handler(), sp.handler(), 'time_span', 'blur', day_bias

    def norm_num_hour_minute_second(self, time_string):
        time_string = time_string.replace('时', '')
        day_bias = [0, '弱']
        lim = self.hour_limitation.search(time_string)
        lim_string = None
        if lim:
            lim_string = lim.group()
            time_string = time_string.replace(lim_string, '')
        n = len(self.hms_segs.findall(time_string))
        if n == 2:
            hour, minute, second = self.hms_segs.split(time_string)
            if lim_string:
                hour = self.convert_hour(int(hour), lim_string)
        elif n == 1:
            a, b = self.hms_segs.split(time_string)
            if int(a) == 24 and int(b) == 0:
                hour, minute, second = 24, 0, -1
            elif int(a) <= 23:
                hour, minute, second = int(a), int(b), -1
                if lim_string:
                    hour = self.convert_hour(hour, lim_string)
            else:
                hour, minute, second = -1, int(a), int(b)
        else:
            raise TimeParseError(time_string)
        tp = TimePoint()
        tp.hour, tp.minute, tp.second = int(hour), int(minute), int(second)
        hh = tp.handler()
        return hh, hh, 'time_point', \
            self._check_blur(time_string, 'accurate'), day_bias

    def norm_hour_limit_minute(self, time_string):
        day_bias = [0, '弱']
        hour = self.hour_pattern.search(time_string)
        lim = self.hour_limitation.search(time_string)
        limit_minute = self.limit_minute.search(time_string)
        tp = TimePoint()
        if hour:
            h = int(self.char_num2num(hour.group(1)))
            if lim:
                h = self.convert_hour(h, lim.group())
            tp.hour = h
        if limit_minute:
            lms = limit_minute.group()
            if '半' in lms:
                tp.minute = 30
            elif '刻' in lms:
                m = self.month_num_pattern.search(lms)
                if not m:
                    raise TimeParseError(time_string)
                n = int(self.char_num2num(m.group()))
                if n == 1:
                    tp.minute = 15
                elif n == 2:
                    tp.minute = 30
                elif n == 3:
                    tp.minute = 45
                else:
                    raise TimeParseError(time_string)
            else:
                raise TimeParseError(time_string)
        hh = tp.handler()
        return hh, hh, 'time_point', \
            self._check_blur(time_string, 'accurate'), day_bias

    def norm_blur_hour(self, time_string):
        day_bias = [0, '弱']
        m = self.hour_limitation.search(time_string)
        fp, sp = TimePoint(), TimePoint()
        if m:
            hs = m.group()
            for names, lo, hi in _BLUR_HOUR_MAP:
                if hs in names:
                    fp.hour, sp.hour = lo, hi
            if fp.hour == -1:
                raise TimeParseError(time_string)
        return fp.handler(), sp.handler(), 'time_point', 'blur', day_bias


# ---------------------------------------------------------------------------
# strict-parse proof on digit shapes

GATE_MEMO_MAX = 1 << 16
_COMPENSATIONS = ('年', '月', '日', '时')


class StrictParseGate:
    """``gate(digit_shape(s))`` is False only when ``parser.parse(s,
    strict=True)`` raises for every time base (default flags; s stripped as
    parse strips it).  Decided from the parser's own compiled patterns,
    widened by regex_gate.widen, following parse's control flow:

    - period: needs a period_time match;
    - delta: the whole string, or when the delta split finds two sides
      the second side, must be one delta-pattern match (the split
      patterns are shape-invariant, so they run on the shape exactly);
    - span/point: some string parse_time_point is handed must be
      *covered* — a ymd match plus an hms match at least as long as the
      string, or strict mode raises.  Those strings are the string itself
      (the no-span path and every span fallback), ``+'日'`` when
      num_month_num may match, and the side a span split must parse
      first, with every suffix the two compensations may append.  The
      split is the parser's own ``_split_span`` run on the shape, with and
      without the digit-reading '-' seg control.

    A widened pattern's longest match bounds the original's match length
    on every piece of the string, so a string no combination covers
    cannot parse.  Verdicts are memoized by shape (bounded); a crawl's
    failing digit strings fall into a few hundred shapes.  Backed by
    tests/test_grid_search_equivalence.py (the real parser on every trial
    the gate rejects; the shape invariance of the split patterns) and
    tests/test_regex_gate.py (widening and longest_match on the real
    batteries)."""

    def __init__(self, parser: 'TimeParser') -> None:
        self.parser = parser
        d = parser.delta
        self.delta = [widen(p) for p in (d.standard_delta, d.law_delta,
                                         d.special_delta)]
        self.ymd = [widen(p) for p, _f in parser.ymd_funcs]
        self.hms = [widen(p) for p, _f in parser.hms_funcs]
        self.period, self.num_month_num, self.compensation = (
            widen(p).pattern for p in (parser.period_time,
                                       parser.num_month_num,
                                       parser.span_point_compensation))
        self._memo: dict = {}

    def __call__(self, shape: str) -> bool:
        v = self._memo.get(shape)
        if v is None:
            v = self._decide(shape)
            if len(self._memo) < GATE_MEMO_MAX:
                self._memo[shape] = v
        return v

    def _decide(self, s: str) -> bool:
        s = s.strip()
        if not s:
            return True             # parse's own failure path; not proven
        if self.period.search(s) is not None or self._delta(s):
            return True
        s = s.replace('的', '')
        if self._covered(s):
            return True
        if self.num_month_num.search(s) is not None and \
                self._covered(s + '日'):
            return True
        return any(self._covered(side) for side in self._sides(s))

    def _delta(self, s: str) -> bool:
        d = self.parser.delta
        first = _search(d.first_span, s) or None
        second = (_search(d.second_1_span, s) or
                  _search(d.second_2_span, s) or None)
        whole = second if first is not None and second is not None else s
        return any(longest_match(w, whole, len(whole)) for w in self.delta)

    def _sides(self, s: str):
        p = self.parser
        compensated = self.compensation.search(s) is not None
        for v in {s, s.replace('-', '䶵')}:
            first, second = map(p._seg_or_not_second, p._split_span(v))
            side = first if first is not None else second
            if side is None:
                continue
            ends = ['']
            if self.num_month_num.search(side) is not None:
                ends.append('日')
            if first is not None and second is not None and compensated:
                ends += [e + c for e in list(ends) for c in _COMPENSATIONS]
            for e in ends:
                yield side + e

    def _covered(self, t: str) -> bool:
        n = len(t.replace(' ', ''))
        if n == 0:
            return False
        h = max(longest_match(w, t) for w in self.hms)
        if h >= n:
            return True
        return any(longest_match(w, t, n - h) for w in self.ymd)


_PARSER: TimeParser | None = None


def get_time_parser() -> TimeParser:
    global _PARSER
    if _PARSER is None:
        _PARSER = TimeParser()
    return _PARSER
