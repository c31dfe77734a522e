"""Money mention extraction kernel.

Behavioral port of the reference MoneyExtractor
(/root/reference/jionlp/algorithm/ner/money_extractor.py:77-281): a wide
char-class sweep proposes candidate substrings; each candidate is grid-
searched longest-first and every trial substring must pass the fake-positive
filters and then a full MoneyParser parse — a successful parse IS the
acceptance test.  Multiple entities per candidate are found by re-searching
the candidate tail after each hit.  (The optional jiojio word-boundary check
is off by default in the reference and not ported.)

The grid search returns the reference's first accepted trial with these
proofs in place of string-keyed memos:

- **Candidate skip.**  A substring passes the filter only as a bare
  numeral with a 金额/钱 cue in the context, with a currency-unit match, or
  with a span separator and a k or w.  A candidate with none of these is
  skipped in O(L).
- **Shape-keyed verdicts.**  Every filter pattern holds a whole digit
  script or no digit, so the filter's verdict is a function of the
  substring's digit shape (regex_gate.digit_shape) and is memoized by it.
- **Comma tables.**  The comma rule reads one char at each end of a
  trial: start and end tables decide it per pair.
- **Sweep.**  A first-char guard (regex_gate.first_char_guard) fails
  positions no candidate can start at.  The sweep keeps searching each
  page tail as its own string: the ``^上`` branch matches at a tail's
  start, so the slice is part of the reference's semantics.

Backed by tests/test_grid_search_equivalence.py: the pre-proof loop and
filter as a differential oracle (test_pages_equal_oracle,
test_adversarial_equal_oracle), the invariance of the filter patterns
(test_shape_keyed_patterns_are_invariant) and the ``^`` of the sweep
(test_money_candidate_pattern_sees_tail_start).
"""

from __future__ import annotations

import re

from . import patterns as P
from .money import get_money_parser
from .regex_gate import digit_shape, first_char_guard

_NON_MONEY_STRINGS = {'多元', '十分', '百分', '万分'}
VERDICT_MEMO_MAX = 1 << 16


class MoneyExtractor:
    def __init__(self) -> None:
        self.parser = get_money_parser()
        self._candidate = first_char_guard(P.MONEY_CHAR_STRING)
        self._num_only = re.compile(P.MONEY_NUM_STRING)
        self._unit = re.compile(P.MONEY_SUFFIX_CASE)
        self._span_seg = re.compile('[-~—－～]+')
        self._kuai_jiao_fen = re.compile(P.MONEY_KUAI_JIAO_FEN)
        self._qianwan_yuan_digit = re.compile(r'[k千仟w万萬亿]元[0-9]')
        self._verdicts: dict = {}   # digit shape → _verdict (bounded)

    def candidates(self, text: str) -> list:
        """Char-class sweep → candidate spans with ±5 chars of context
        (money_extractor.py:250-281)."""
        # each page tail is searched as its own string, not with
        # search(text, idx): the pattern's `^上` branch matches at the
        # start of a tail, so the slice is part of the reference's semantics
        out = []
        idx = 0
        n = len(text)
        while idx < n:
            m = self._candidate.search(text[idx:])
            if m is None:
                break
            cand = m.group()
            if len(cand) > 1:
                # a lone 分/毛/角/块 with no 元/钱 anywhere is noise
                if len(''.join(self._kuai_jiao_fen.findall(cand))) == 1 and \
                        '元' not in cand and '钱' not in cand:
                    idx += m.span()[1]
                    continue
                out.append({
                    'money_candidate': cand,
                    'offset': [idx + m.span()[0], idx + m.span()[1]],
                    'context': text[max(0, idx - 5 + m.span()[0]):
                                    min(n, idx + 5 + m.span()[1])],
                })
            idx += m.span()[1]
        return out

    def _verdict(self, s: str):
        """Fake-positive rules (money_extractor.py:147-189) → True, False,
        or 'num' (a bare numeral: decided by the candidate's context)."""
        if s[0] in '，,' or s[-1] in '，,':
            return False
        if self._num_only.search(s):
            return 'num'
        if self._qianwan_yuan_digit.search(s):
            return False   # e.g. `359万元2`
        unit_m = self._unit.search(s)
        if unit_m is None:
            spans = self._span_seg.findall(s)
            # need one `12w~19w` style span; `132017-04-09` has two
            return len(spans) == 1 and ('k' in s or 'w' in s)
        a, b = unit_m.span()
        return b - a != len(s)   # unit only, no amount

    def _filter(self, s: str, cue: bool) -> bool:
        """_verdict keyed by digit shape; bare numerals count only with a
        金额/钱 cue in the context."""
        key = digit_shape(s)
        v = self._verdicts.get(key)
        if v is None:
            v = self._verdict(s)
            if len(self._verdicts) < VERDICT_MEMO_MAX:
                self._verdicts[key] = v
        return cue if v == 'num' else v

    def _trials(self, money_candidate: str, candidate: dict):
        """(sub, offset) of every substring that passes _filter, longest
        first, then leftmost (money_extractor.py:198-225); the candidate
        skip and the comma tables of the module docstring."""
        cue = '金额' in candidate['context'] or '钱' in candidate['context']
        if not cue and self._unit.search(money_candidate) is None and (
                ('k' not in money_candidate and 'w' not in money_candidate)
                or self._span_seg.search(money_candidate) is None):
            return
        length = len(money_candidate)
        starts = [j for j, c in enumerate(money_candidate) if c not in '，,']
        ends = [True] + [c not in '，,' for c in money_candidate]
        for span in range(length, 1, -1):
            for j in starts:
                e = j + span
                if e > length:
                    break
                if ends[e]:
                    sub = money_candidate[j:e]
                    if self._filter(sub, cue):
                        yield sub, [j, e]

    def grid_search(self, money_candidate: str, candidate: dict):
        """First trial that parses."""
        for sub, offset in self._trials(money_candidate, candidate):
            try:
                result = self.parser.parse(sub.replace(' ', ''))
            except Exception:   # any parse error rejects, as in the reference
                continue
            return sub, result, offset
        return None, None, None

    def extract(self, text: str, with_parsing: bool = True,
                ret_all: bool = False) -> list:
        out = []
        for candidate in self.candidates(text):
            offset = [0, 0]
            bias = 0
            while candidate['offset'][0] + offset[1] < candidate['offset'][1]:
                sub, result, offset = self.grid_search(
                    candidate['money_candidate'][bias:], candidate)
                if sub is None:
                    break
                if sub in _NON_MONEY_STRINGS and not ret_all:
                    bias += offset[1]
                    continue
                item = {'text': sub,
                        'offset': [candidate['offset'][0] + bias + offset[0],
                                   candidate['offset'][0] + bias + offset[1]],
                        'type': 'money'}
                if with_parsing:
                    item['detail'] = result
                out.append(item)
                bias += offset[1]
        return out


_SINGLETON: MoneyExtractor | None = None


def get_money_extractor() -> MoneyExtractor:
    global _SINGLETON
    if _SINGLETON is None:
        _SINGLETON = MoneyExtractor()
    return _SINGLETON
