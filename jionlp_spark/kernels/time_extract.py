"""Time mention extraction kernel.

Behavioral port of the reference TimeExtractor
(/root/reference/jionlp/algorithm/ner/time_extractor.py:96-283): a wide
char-class sweep proposes candidates (with fake-positive rejection, e.g.
`三点五度`), each candidate is grid-searched longest-first with a 35-char
bound, every trial substring passes boundary filters and then a strict
``parse_time`` — successful parse = acceptance.  Parse details ride along.

Note: time coverage = the TimeParser subset (see timeparse.py docstring);
strings from unported families simply fail to parse, exactly as an
unparseable string does in the reference.

The grid search returns the reference's first accepted trial without
trying every substring.  Each skip is a proof, never a learned memo:

- **Trial tables.**  _filter and the digit-glue rule read one char at
  each end of the trial, and for_parse keeps those chars unless a
  bracketed 周/星期 is cut out.  So, for a candidate without an opening
  bracket next to 周 or 星, start and end tables computed once per
  candidate decide every (start, end) pair (``_table_trials``); the others
  keep the per-trial path (``_bracket_trials``).
- **Parse gate.**  ``timeparse.StrictParseGate`` proves from the parser's
  own patterns, on the trial's digit shape, that a strict parse would
  raise; such trials are not parsed.
- **Sweep.**  The candidate pattern has no anchor or lookbehind, so the
  sweep searches the page at an offset instead of copying each tail, and
  a first-char guard (regex_gate.first_char_guard) fails positions no
  match can start at.

Backed by tests/test_grid_search_equivalence.py: the pre-proof loops as a
differential oracle over 20k generated pages under two time bases and
adversarial candidates (test_pages_equal_oracle,
test_adversarial_equal_oracle), the real strict parse on every trial the
gate rejects (test_gate_rejections_fail_to_parse), the sweep's position
freedom (test_time_candidate_pattern_is_position_free) and the digit-shape
invariance of the patterns read on shapes
(test_shape_keyed_patterns_are_invariant).
"""

from __future__ import annotations

import re

from . import patterns as P
from .regex_gate import digit_shape, first_char_guard
from .timeparse import StrictParseGate, get_time_parser

_NON_TIME_STRINGS = {'一点', '0时', '一日', '黎明', '十分', '百分', '万分'}
_SINGLE_CHAR_TIME = {'春', '夏', '秋', '冬'}
# per-char trial-table flags
_NUM, _NO_START, _NO_END = 1, 2, 4


def _extract_brackets(s: str) -> list:
    pairs = {')': '(', '）': '（'}
    stack, starts, out = [], [], []
    for i, ch in enumerate(s):
        if ch in '(（':
            stack.append(ch)
            starts.append(i)
        elif ch in pairs:
            if stack and stack[-1] == pairs[ch]:
                stack.pop()
                out.append(s[starts.pop(): i + 1])
    return out


_BRACKET_RE = re.compile(r'\([^()]*\)|（[^（）]*）')


def _remove_brackets(s: str) -> str:
    prev = len(s)
    while True:
        s = _BRACKET_RE.sub('', s)
        if len(s) == prev:
            return s
        prev = len(s)


class TimeExtractor:
    def __init__(self) -> None:
        self.parser = get_time_parser()
        self._candidate = first_char_guard(P.TIME_CHAR_STRING)
        self._fake_positive = re.compile(P.FAKE_POSITIVE_TIME_PATTERN)
        self._fake_start = re.compile(P.FAKE_POSITIVE_START_STRING)
        self._fake_end = re.compile(P.FAKE_POSITIVE_END_STRING)
        self._num = re.compile(r'[０-９0-9一二三四五六七八九十百千万]')
        self._four_num_year = re.compile(r'^[\d]{4}$')
        self._unit = re.compile(r'(多)?[万亿元]')
        self._flags: dict = {}      # char → _char_flags (bounded by charset)
        self._gate: StrictParseGate | None = None   # built on first use

    def _char_flags(self, c: str) -> int:
        """The reference's one-char trial predicates (time_extractor.py:
        196-220) as bits: a digit for the glue rule, and whether c may not
        start or end a trial ('的' in sub[0] ≡ sub[0] == '的' for one
        char; a blank end fails the strip test)."""
        f = self._flags.get(c)
        if f is None:
            f = 0
            if self._num.search(c):
                f |= _NUM
            if self._fake_start.search(c) or c.isspace() or c == '的' or \
                    c in ')）':
                f |= _NO_START
            if self._fake_end.search(c) or c.isspace() or c == '的' or \
                    c in '(（':
                f |= _NO_END
            self._flags[c] = f
        return f

    def candidates(self, text: str) -> list:
        # search(text, idx) ≡ search(text[idx:]) shifted by idx: the
        # candidate pattern has no anchor, word boundary or lookbehind that
        # could see the chars before idx (test_time_candidate_pattern_is_
        # position_free) — and it spares a copy of the page tail per
        # candidate
        out = []
        idx = 0
        n = len(text)
        while idx < n:
            m = self._candidate.search(text, idx)
            if m is None:
                break
            if self._fake_positive.search(m.group()) is not None:
                idx = m.end()
                continue
            if len(m.group()) > 1 or m.group() in _SINGLE_CHAR_TIME:
                out.append({'time_candidate': m.group(),
                            'offset': [m.start(), m.end()]})
            idx = m.end()
        return out

    def _filter(self, sub: str) -> bool:
        """The reference's trial filter; a fake end char is allowed in
        夏至/冬至 ('至' is its only reason for _NO_END)."""
        return not (self._char_flags(sub[0]) & _NO_START or
                    (self._char_flags(sub[-1]) & _NO_END and
                     sub[-2:] not in ('夏至', '冬至')))

    def _trials(self, time_candidate: str):
        """(sub, offset, for_parse) of every trial that passes _filter and
        the digit-glue rule, in the reference's order: longest first, then
        leftmost, at most 35 chars (time_extractor.py:189-225)."""
        length = min(len(time_candidate), 35)
        cand = time_candidate[:length]
        # bracketed 周/星期 is cut out of for_parse, moving its ends
        if ('(' in cand or '（' in cand) and ('周' in cand or '星' in cand):
            return self._bracket_trials(cand)
        return self._table_trials(cand)

    def _table_trials(self, cand: str):
        """Without a bracket cut, for_parse keeps sub's first and last char
        (_filter bars '的' and spaces there), so every predicate reads one
        char at a fixed position: start and end tables decide each (start,
        end) pair without building it."""
        length = len(cand)
        flags = [self._char_flags(c) for c in cand]
        starts = [j for j, f in enumerate(flags) if not (
            f & _NO_START or (f & _NUM and j and flags[j - 1] & _NUM))]
        ends = [False] * (length + 1)
        for e in range(2, length + 1):
            f = flags[e - 1]
            ends[e] = not (
                (f & _NO_END and cand[e - 2:e] not in ('夏至', '冬至')) or
                (f & _NUM and e < length and flags[e] & _NUM))
        strip = '的' in cand or ' ' in cand
        for span in range(length, 1, -1):
            for j in starts:
                e = j + span
                if e > length:
                    break
                if ends[e]:
                    sub = cand[j:e]
                    yield sub, [j, e], \
                        sub.replace('的', '').replace(' ', '') if strip else sub

    def _bracket_trials(self, cand: str):
        """The per-trial path: each trial is built, filtered and cut as the
        reference does it."""
        length = len(cand)
        for span in range(length, 1, -1):
            for j in range(length - span + 1):
                e = j + span
                sub = cand[j:e]
                if not self._filter(sub):
                    continue
                for_parse = sub.replace('的', '').replace(' ', '')
                inner = ''.join(_extract_brackets(for_parse))
                if '周' in inner or '星期' in inner:
                    for_parse = _remove_brackets(for_parse)
                # digit-bounded strings glued to more digits are id
                # fragments, not times (time_extractor.py:211-220)
                if not for_parse or (
                        self._char_flags(for_parse[0]) & _NUM and j and
                        self._char_flags(cand[j - 1]) & _NUM) or (
                        self._char_flags(for_parse[-1]) & _NUM and
                        e < length and self._char_flags(cand[e]) & _NUM):
                    continue
                yield sub, [j, e], for_parse

    def grid_search(self, time_candidate: str, time_base):
        """First trial whose strict parse succeeds.  A trial the parse gate
        proves unparseable (StrictParseGate, from the parser's own patterns)
        is not parsed: the gate only skips parses that would raise."""
        gate = self._gate
        if gate is None:
            gate = self._gate = StrictParseGate(self.parser)
        for sub, offset, for_parse in self._trials(time_candidate):
            if not gate(digit_shape(for_parse)):
                continue
            try:
                result = self.parser.parse(
                    for_parse, time_base=time_base, strict=True)
            except Exception:   # any parse error rejects, as in the reference
                continue
            return sub, result, offset
        return None, None, None

    def extract(self, text: str, time_base, with_parsing: bool = True,
                ret_all: bool = False) -> list:
        out = []
        for candidate in self.candidates(text):
            offset = [0, 0]
            bias = 0
            while candidate['offset'][0] + offset[1] < candidate['offset'][1]:
                sub, result, offset = self.grid_search(
                    candidate['time_candidate'][bias:], time_base)
                if sub is None:
                    break
                if sub in _NON_TIME_STRINGS and not ret_all:
                    bias += offset[1]
                    continue
                if self._four_num_year.search(sub):
                    back = candidate['offset'][0] + bias + offset[1]
                    if self._unit.search(text[back: back + 2]):
                        bias += offset[1]
                        continue
                item = {'text': sub,
                        'offset': [candidate['offset'][0] + bias + offset[0],
                                   candidate['offset'][0] + bias + offset[1]],
                        'type': result['type']}
                if with_parsing:
                    item['detail'] = result
                out.append(item)
                bias += offset[1]
        return out


_SINGLETON: TimeExtractor | None = None


def get_time_extractor() -> TimeExtractor:
    global _SINGLETON
    if _SINGLETON is None:
        _SINGLETON = TimeExtractor()
    return _SINGLETON
