"""The two grid searches against their pre-proof loops.

``time_extract.TimeExtractor.grid_search`` walks only the trials its start
and end tables pass and parses only what ``StrictParseGate`` cannot prove
unparseable; ``money_extract.MoneyExtractor.grid_search`` skips candidates
with no passing substring and keys its filter by digit shape.  The loops
they replaced — every substring, every parse — live on here as the oracle
(the classes below copy them verbatim, candidate sweep included), and
``extract(..., with_parsing=True)`` must give equal
``(text, offset, type, str(detail))`` on generated pages under two time
bases and on adversarial candidates.  The soundness test runs the real
strict parse on every trial the gate rejects."""

import datetime
import random
import re

import pytest

from jionlp_spark.kernels import patterns as P
from jionlp_spark.kernels.money import MoneyParseError
from jionlp_spark.kernels.money_extract import MoneyExtractor
from jionlp_spark.kernels.regex_gate import (ASSERT, ASSERT_NOT, AT,
                                             digit_shape, pattern_nodes,
                                             shape_invariant)
from jionlp_spark.kernels.time_extract import (_SINGLE_CHAR_TIME,
                                               TimeExtractor,
                                               _extract_brackets,
                                               _remove_brackets)
from jionlp_spark.kernels.timeparse import StrictParseGate, get_time_parser
from scripts.kernel_census import zh_pages

LEAP_BASE = datetime.datetime(2024, 2, 29, 23, 59, 59)
SEEDS = (101, 202, 303)
PAGES_PER_SEED = 6700


class OracleTime(TimeExtractor):
    """TimeExtractor with the loops it had before the trial tables and the
    parse gate."""

    def __init__(self) -> None:
        super().__init__()
        self._candidate = re.compile(P.TIME_CHAR_STRING)
        self._fs_chars: dict = {}
        self._fe_chars: dict = {}
        self._num_chars: dict = {}

    def _is_fake_start(self, ch: str) -> bool:
        v = self._fs_chars.get(ch)
        if v is None:
            v = self._fs_chars[ch] = self._fake_start.search(ch) is not None
        return v

    def _is_fake_end(self, ch: str) -> bool:
        v = self._fe_chars.get(ch)
        if v is None:
            v = self._fe_chars[ch] = self._fake_end.search(ch) is not None
        return v

    def _is_num_char(self, ch: str) -> bool:
        v = self._num_chars.get(ch)
        if v is None:
            v = self._num_chars[ch] = self._num.search(ch) is not None
        return v

    def _filter(self, sub: str) -> bool:
        # same predicates as the reference, single-char tests via the
        # char caches ('的' in sub[0] ≡ sub[0] == '的' for a 1-char string)
        if self._is_fake_start(sub[0]):
            return False
        if self._is_fake_end(sub[-1]) and sub[-2:] not in ('夏至', '冬至'):
            return False
        if len(sub) != len(sub.strip()):
            return False
        if sub[0] == '的' or sub[-1] == '的':
            return False
        if sub[0] in ')）' or sub[-1] in '(（':
            return False
        return True

    def candidates(self, text: str) -> list:
        out = []
        idx = 0
        n = len(text)
        while idx < n:
            m = self._candidate.search(text[idx:])
            if m is None:
                break
            if self._fake_positive.search(m.group()) is not None:
                idx += m.span()[1]
                continue
            if len(m.group()) > 1 or m.group() in _SINGLE_CHAR_TIME:
                out.append({'time_candidate': m.group(),
                            'offset': [idx + m.span()[0],
                                       idx + m.span()[1]]})
            idx += m.span()[1]
        return out

    def grid_search(self, time_candidate: str, time_base):
        length = min(len(time_candidate), 35)
        for i in range(length):
            for j in range(i):
                offset = [j, length - i + j + 1]
                sub = time_candidate[j: offset[1]]
                try:
                    if not self._filter(sub):
                        continue
                    for_parse = sub.replace('的', '').replace(' ', '')
                    # _extract_brackets returns [] unless an OPENING bracket
                    # exists (a closer never matches an empty stack) — skip
                    # the char scan for the bracket-free common case
                    if '(' in for_parse or '（' in for_parse:
                        inner = _extract_brackets(for_parse)
                        if '周' in ''.join(inner) or '星期' in ''.join(inner):
                            for_parse = _remove_brackets(for_parse)
                    # digit-bounded strings glued to more digits are id
                    # fragments, not times (time_extractor.py:211-220)
                    if self._is_num_char(for_parse[0]) and j - 1 >= 0 and \
                            self._is_num_char(time_candidate[j - 1]):
                        continue
                    if self._is_num_char(for_parse[-1]) and \
                            offset[1] < length and \
                            self._is_num_char(time_candidate[offset[1]]):
                        continue
                    result = self.parser.parse(
                        for_parse, time_base=time_base, strict=True)
                    return sub, result, offset
                except (ValueError, Exception):
                    continue
        return None, None, None


class OracleMoney(MoneyExtractor):
    """MoneyExtractor with the filter and loop it had before the shape
    verdicts and the candidate skip."""

    def __init__(self) -> None:
        super().__init__()
        self._candidate = re.compile(P.MONEY_CHAR_STRING)
        self._filter_memo: dict = {}
        self._parse_fail_memo: set = set()

    def _filter(self, s: str, candidate: dict) -> bool:
        """Fake-positive rules (money_extractor.py:147-189)."""
        v = self._filter_memo.get(s)
        if v is None:
            if s[0] in '，,' or s[-1] in '，,':
                v = False
            elif self._num_only.search(s):
                v = 'num'   # decided per-candidate below (context cue)
            elif self._qianwan_yuan_digit.search(s):
                v = False  # e.g. `359万元2`
            else:
                unit_m = self._unit.search(s)
                span_m = self._span_seg.search(s)
                v = True
                if unit_m is None:
                    if span_m is None:
                        v = False
                    elif len(self._span_seg.findall(s)) > 1:
                        v = False  # `132017-04-09`
                    elif 'k' not in s and 'w' not in s:
                        v = False  # need `12w~19w` style
                if v and unit_m:
                    a, b = unit_m.span()
                    if b - a == len(s):
                        v = False  # unit only, no amount
            if len(self._filter_memo) < 200000:
                self._filter_memo[s] = v
        if v == 'num':
            # bare numerals count only with 金额/钱 cue in context
            return '金额' in candidate['context'] or '钱' in candidate['context']
        return v

    def grid_search(self, money_candidate: str, candidate: dict):
        """Longest-first substring trial (money_extractor.py:198-225)."""
        length = len(money_candidate)
        for i in range(length):
            for j in range(i):
                offset = [j, length - i + j + 1]
                sub = money_candidate[j: offset[1]]
                if not self._filter(sub, candidate):
                    continue
                norm = sub.replace(' ', '')
                if norm in self._parse_fail_memo:
                    continue
                try:
                    result = self.parser.parse(norm)
                except (MoneyParseError, Exception):
                    if len(self._parse_fail_memo) < 200000:
                        self._parse_fail_memo.add(norm)
                    continue
                return sub, result, offset
        return None, None, None


def _mentions(found) -> list:
    return [(m['text'], tuple(m['offset']), m['type'], str(m['detail']))
            for m in found]


def _adversarial_texts() -> list:
    """Hand-made and composed candidates aimed at each shortcut: brackets
    around 周/星期, 夏至/冬至 endings, fullwidth and mixed digits, 的 and
    spaces inside, candidates over 35 chars, candidates starting with ')'."""
    fixed = [
        '9月18日（星期六）上班', '下周(周三)下午3点', '(星期五)8点到10点',
        '2021年(周一)', '（周日）10:30', '明天（周二）上午', '(星期)3点',
        '((周一))下午', '3月(周三)至(周五)', '（星期一）', '周五(3点)',
        '2021年夏至', '去年冬至', '夏至到冬至', '8点至夏至', '今年冬至至',
        '２０２１年９月３日', '2０21年3月', '１２：３０', '预算为５０００元',
        '３万元', '2021年９月', '12点３0分', '五０００元', '９９,９９９元',
        '2021年 9月 3日', '明天 的 下午3点', '2021年的9月', '下午 3 点',
        ' 8点 ', '的3点的', '3 000元', '约 300 元', '的的2021年的的',
        '2021年9月3日上午8点到2021年9月5日下午5点半以及2022年1月1日',
        '123456789012345678901234567890123456789012',
        '2021年12月12日12点12分12秒到2022年12月12日12点12分12秒',
        '）2021年', ')3点到5点', '(0571)12345678', ')）8点半', '）（周一）',
        '12w~19w', '132017-04-09', '359万元2', '金额 12345', '3000元，5000元',
        ',100元', '一百块钱', '三到五千元', '12.5万美元', '钱 2021',
        '每周五下午4点', '三天两夜', '3年以上7年以下', '2014年11月到12月',
        '10-12点', '3-5日', '2021-09-03', '1987.12-3', '20180209',
        '08:30-09:45', '9月1日-9月10日', '2017年-2018年', '从3点', '自2019年起',
        '五年前后', '三天之后', '10点以后', '7月后', '之前3点', '3年前止',
    ]
    pieces = fixed + ['2021', '0571', '（', '）', '(', ')', '周', '星期', '的',
                      ' ', '夏至', '冬至', '-', '到', '至', '点', '元', '万',
                      '３', '１２', '半', '号', '，', ',', '~', '年', '月', '日']
    rng = random.Random(2024)
    composed = [''.join(rng.choice(pieces) for _ in range(rng.randint(2, 9)))
                for _ in range(700)]
    return fixed + composed


class Run:
    """Both extractors against their oracles over (text, time bases)
    pairs: the first mismatch of each kind, and every distinct trial
    string the time grid search walked."""

    def __init__(self, texts_with_bases) -> None:
        tex, mex = TimeExtractor(), MoneyExtractor()
        otex, omex = OracleTime(), OracleMoney()
        self.trials: set = set()
        walk = tex._trials

        def recorded(cand):
            for trial in walk(cand):
                self.trials.add(trial[2])
                yield trial
        tex._trials = recorded
        self.time_diff = self.money_diff = None
        self.n = 0
        for text, bases in texts_with_bases:
            self.n += 1
            for base in bases:
                got = _mentions(tex.extract(text, base))
                want = _mentions(otex.extract(text, base))
                if got != want and self.time_diff is None:
                    self.time_diff = (text, base, got, want)
            got, want = _mentions(mex.extract(text)), \
                _mentions(omex.extract(text))
            if got != want and self.money_diff is None:
                self.money_diff = (text, got, want)


@pytest.fixture(scope='module')
def page_run():
    pages = [p for seed in SEEDS for p in zh_pages(PAGES_PER_SEED, seed)]
    return Run((text, (ts, LEAP_BASE)) for text, ts in pages)


@pytest.fixture(scope='module')
def adversarial_run():
    base = datetime.datetime(2021, 9, 14, 10, 30)
    return Run((t, (base, LEAP_BASE)) for t in _adversarial_texts())


def test_pages_equal_oracle(page_run):
    assert page_run.n >= 20000
    assert page_run.time_diff is None
    assert page_run.money_diff is None


def test_adversarial_equal_oracle(adversarial_run):
    assert adversarial_run.time_diff is None
    assert adversarial_run.money_diff is None


def _raises(parse, s, base) -> bool:
    try:
        parse(s, time_base=base, strict=True)
    except Exception:
        return True
    return False


def test_gate_rejections_fail_to_parse(page_run, adversarial_run):
    """Every trial the gate turned away, and every fuzz and parity input it
    would turn away, fails the real strict parse.  The gate's proof holds
    for any time base; each page trial is parsed under one of the two
    bases in turn (both would double the run), every other input under
    both."""
    from test_fuzz_parity import grid_extractor_fuzz_cases, \
        time_parse_fuzz_cases
    from test_time_parity import BASES, EXTRACT_TEXTS, PARSE_CASES
    fuzz_run = Run((t, BASES[:1]) for t in
                   grid_extractor_fuzz_cases() + EXTRACT_TEXTS)
    gate = StrictParseGate(get_time_parser())
    parse = get_time_parser().parse

    def rejected(strings):
        return sorted(s for s in strings if not gate(digit_shape(s)))

    pages = rejected(page_run.trials)
    others = rejected(adversarial_run.trials | fuzz_run.trials
                      | set(time_parse_fuzz_cases()) | set(PARSE_CASES))
    assert len(pages) > 100000 and len(others) > 1000
    bases = (BASES[0], LEAP_BASE)
    wrong = [(s, bases[i % 2]) for i, s in enumerate(pages)
             if not _raises(parse, s, bases[i % 2])]
    wrong += [(s, base) for s in others for base in bases
              if not _raises(parse, s, base)]
    assert wrong == []


def test_time_candidate_pattern_is_position_free():
    """candidates() sweeps with search(text, idx) instead of searching each
    page tail: exact only while the pattern has no anchor, word boundary
    or lookbehind that could see the chars before idx."""
    nodes = list(pattern_nodes(P.TIME_CHAR_STRING))
    assert not any(op is AT for op, _av in nodes)
    assert not any(op in (ASSERT, ASSERT_NOT) and av[0] < 0
                   for op, av in nodes)


def test_money_candidate_pattern_sees_tail_start():
    """Why MoneyExtractor keeps slicing: its `^上` branch matches at the
    start of each page tail, so search(text, idx) would differ."""
    assert any(op is AT for op, _av in pattern_nodes(P.MONEY_CHAR_STRING))


def test_shape_keyed_patterns_are_invariant():
    """Shape keying is exact only while every class holding one digit
    holds all digits of its script: the money _filter patterns (verdicts
    keyed by shape), the time trial predicates, and the split patterns the
    parse gate runs on shapes unwidened."""
    mex, tex = MoneyExtractor(), TimeExtractor()
    p = tex.parser
    d = p.delta
    patterns = [mex._num_only, mex._unit, mex._span_seg,
                mex._qianwan_yuan_digit, tex._fake_start, tex._fake_end,
                tex._num, d.first_span, d.second_1_span, d.second_2_span,
                p.first_1_span, p.first_2_span, p.first_3_span,
                p.first_4_span, p.first_5_span, p.second_0_span,
                p.second_1_span, p.second_2_span, p.second_3_span]
    assert [q.pattern for q in patterns if not shape_invariant(q)] == []
