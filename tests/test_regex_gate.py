"""regex_gate: construction soundness on synthetic patterns + a sampled
differential check over the REAL timeparse battery patterns (gate says
skip ⇒ search must return None; a match ⇒ the widened pattern matches the
digit shape, no longer than longest_match says; a first-char guard
changes no match)."""

import random
import re

from jionlp_spark.kernels.regex_gate import (digit_shape, first_char_guard,
                                             first_chars, longest_match,
                                             required_chars, shape_invariant,
                                             widen)


def test_synthetic_patterns():
    rc = required_chars
    assert rc(re.compile('abc')) == frozenset('a')          # smallest node
    assert rc(re.compile('a?b?')) is None                   # all optional
    assert rc(re.compile('(x|yz)')) == frozenset('xy')      # branch union
    assert rc(re.compile('a*[bc]')) == frozenset('bc')
    assert rc(re.compile(r'\d+年')) == frozenset('年')      # category → skip
    assert rc(re.compile(r'\d+')) is None
    assert rc(re.compile('[^a]b')) == frozenset('b')        # negated class
    assert rc(re.compile('(?:ab|cd)+')) == frozenset('ac')
    assert rc(re.compile('(?=x)y')) == frozenset('y')       # lookahead
    assert rc(re.compile('^$')) is None
    assert rc(re.compile('a|b*')) is None                   # one empty branch
    assert rc(re.compile('x', re.IGNORECASE)) is None       # flags → None
    assert rc(re.compile('[一-鿿]x')) == frozenset('x')     # huge range


def _sample_strings(n=4000):
    """Candidate-like strings: real time surfaces, digit runs, random
    mixes over the battery's own alphabet."""
    rng = random.Random(7)
    alphabet = ('0123456789一二三四五六七八九十百千万'
                '年月日号点时分秒周星期礼拜上下午晚早今明昨去前后内初'
                '春夏秋冬季度半个世纪元旦节清明-~:：.月abc ')
    out = ['2021年9月3日上午7点半', '13288561234', '202109', '9月3日',
           '上午十点', '三个月', '第3季度', '2021-09-03', '08:30:15',
           '明天下午', '2021年', '二零二一年九月', '7点半', '大前天']
    for _ in range(n):
        k = rng.randint(1, 12)
        out.append(''.join(rng.choice(alphabet) for _ in range(k)))
    return out


def test_battery_differential():
    from jionlp_spark.kernels.timeparse import get_time_parser
    tp = get_time_parser()
    pats = ([p for p, _f in tp.ymd_funcs] + [p for p, _f in tp.hms_funcs]
            + [tp.delta.standard_delta, tp.delta.law_delta,
               tp.delta.special_delta, tp.period_time])
    gated = [(p, req) for p in pats
             if (req := required_chars(p)) is not None]
    checked = skipped = 0
    for s in _sample_strings():
        chars = set(s)
        for p, req in gated:
            checked += 1
            if req.isdisjoint(chars):
                skipped += 1
                assert p.search(s) is None, (p.pattern[:80], s)
    # the gate must actually bite on this battery, not just be vacuous
    assert skipped > checked * 0.3, (skipped, checked)


def test_battery_gates_exist():
    """Most ymd/hms battery patterns should yield a usable gate —
    otherwise the prescreen is dead weight."""
    from jionlp_spark.kernels.timeparse import get_time_parser
    tp = get_time_parser()
    ymd = [required_chars(p) for p, _f in tp.ymd_funcs]
    hms = [required_chars(p) for p, _f in tp.hms_funcs]
    assert sum(r is not None for r in ymd) >= len(ymd) * 0.6
    assert sum(r is not None for r in hms) >= len(hms) * 0.6


def test_widen_synthetic():
    def src(p):
        return widen(re.compile(p)).pattern.pattern
    assert src('[12]x') == '[0-9]x'                    # one digit → script
    assert src('7') == '[0-9]'
    assert src('[０１]') == '[０-９]'
    assert src(r'\d{2}') == r'(?:[\d]){2,2}'          # categories stay
    assert src('[^1a]') == '[^a]'                      # negated: drops digits
    assert src('[^5]') == r'[\s\S]'
    assert src('^a(?=b)(?!c)(?<=d)(?<!e)$') == 'a'    # context dropped
    assert widen(re.compile('a(b|cd)')).width == 3     # max width
    assert widen(re.compile('[12]x')).required == frozenset('x')
    assert digit_shape('2021年０９月x') == '0000年００月x'
    assert shape_invariant(re.compile(r'[\d一]+年[0-9][０-９](?=[^0-9])'))
    assert not shape_invariant(re.compile('(19|20)年'))
    assert not shape_invariant(re.compile('a(?![13])'))


def test_widen_battery_differential():
    """On sampled strings, every match of a real battery pattern implies a
    widened match on the digit shape, and its length never exceeds
    longest_match — the two facts StrictParseGate's proof rests on."""
    from jionlp_spark.kernels.timeparse import get_time_parser
    tp = get_time_parser()
    d = tp.delta
    pats = ([p for p, _f in tp.ymd_funcs] + [p for p, _f in tp.hms_funcs]
            + [d.standard_delta, d.law_delta, d.special_delta,
               tp.period_time, tp.num_month_num,
               tp.span_point_compensation])
    wide = [widen(p) for p in pats]
    matched = 0
    for s in _sample_strings():
        shape = digit_shape(s)
        for p, w in zip(pats, wide):
            m = p.search(s)
            if m is None or not m.group():
                continue
            matched += 1
            assert w.pattern.search(shape) is not None, (p.pattern[:80], s)
            assert len(m.group()) <= longest_match(w, shape), \
                (p.pattern[:80], s)
    assert matched > 1000


def test_first_chars_synthetic():
    def fc(p):
        return first_chars(re.compile(p))
    assert fc('(?!x)(ab|c)+') == frozenset('ac')
    assert fc('^上|x') == frozenset('上x')
    assert fc('(将)?近') == frozenset('将近')
    assert fc('a*') is None                    # may match empty
    assert fc('.x') is None and fc('[^a]') is None and fc(r'\dx') is None


def test_first_char_guard_changes_no_match():
    from jionlp_spark.kernels import patterns as P
    for src in (P.TIME_CHAR_STRING, P.MONEY_CHAR_STRING):
        plain, guarded = re.compile(src), first_char_guard(src)
        assert guarded.pattern != src           # a guard was proven
        for s in _sample_strings(1500) + ['上5元', '上午8点', 'x上下']:
            for k in range(len(s)):
                tail = s[k:]
                a, b = plain.search(tail), guarded.search(tail)
                assert (a and a.span()) == (b and b.span()), (src[:40], tail)
