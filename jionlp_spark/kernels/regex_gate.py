"""Sound must-contain-character prescreen for regex batteries.

``required_chars(pattern)`` returns a frozenset S such that EVERY string
matched by the pattern contains at least one character of S — or None when
no such (small) set can be proven.  A caller holding ``chars =
set(haystack)`` may then skip ``pattern.search(haystack)`` whenever
``S & chars`` is empty: the search provably returns None.

Soundness argument: a match of the pattern matches its top-level node
sequence in order.  If ONE node in the sequence is guaranteed to consume at
least one character drawn from a set S (a literal; a small character
class; a repeat with min >= 1 of such a node; an alternation whose every
branch guarantees some set — union), then the match contains a char of S.
Everything unprovable (min=0 repeats, negated/huge/category classes,
lookarounds, anchors, backrefs, '.', unknown opcodes) contributes nothing —
the analysis then tries the next node of the sequence, and returns None if
no node qualifies.  None means "always run the search"; a returned set can
only suppress searches that cannot match.

Used by the timeparse pattern batteries (~60 sequential .search calls per
candidate substring, most of which cannot match because the string lacks
every anchor character of the pattern — 年月日时点分秒…).  Flags other than
re.UNICODE (e.g. IGNORECASE) disable the analysis conservatively.

Digit shapes lift the same kind of proof from patterns to strings.
``digit_shape(s)`` writes every digit of a script as that script's zero
(``0`` for ASCII, ``０`` for fullwidth), so the 35k distinct digit strings
a crawl feeds the grid searches collapse to a few hundred shapes.
``widen(pattern)`` rebuilds a pattern so that it matches a digit shape
whenever the original matches anywhere inside the string the shape was
taken from, or inside any piece of it:

- a character class or literal holding one digit of a script is widened to
  every digit of that script (a negated class gives up its digits), so a
  digit the original matches still matches after it became a zero;
- anchors and lookarounds (both polarities) are dropped, and possessive or
  atomic constructs become plain ones: each only removes matches.

So ``widen(p).pattern.search(digit_shape(s)) is None`` proves
``p.search(t) is None`` for every substring ``t`` of ``s``, and
``longest_match`` of the widened pattern on the shape bounds the length of
every match of ``p`` inside ``s``.
A pattern whose every class holding one digit holds all digits of its
script (``shape_invariant``) matches ``s`` and its shape at the same spans,
so it may be evaluated on the shape exactly.  tests/test_regex_gate.py
checks both on the real batteries.
"""

from __future__ import annotations

import re
import warnings
from typing import NamedTuple

with warnings.catch_warnings():
    warnings.simplefilter('ignore')
    import sre_parse
    try:
        from sre_constants import (ANY, ASSERT, ASSERT_NOT, AT,
                                   ATOMIC_GROUP, BRANCH, CATEGORY,
                                   GROUPREF_EXISTS,
                                   CATEGORY_DIGIT, CATEGORY_NOT_DIGIT,
                                   CATEGORY_NOT_SPACE, CATEGORY_NOT_WORD,
                                   CATEGORY_SPACE, CATEGORY_WORD, IN,
                                   LITERAL, MAX_REPEAT, MAXREPEAT,
                                   MIN_REPEAT, NEGATE, NOT_LITERAL,
                                   POSSESSIVE_REPEAT, RANGE, SUBPATTERN)
    except ImportError:                                  # pragma: no cover
        from re._constants import (ANY, ASSERT, ASSERT_NOT, AT,
                                   ATOMIC_GROUP, BRANCH, CATEGORY,
                                   GROUPREF_EXISTS,
                                   CATEGORY_DIGIT, CATEGORY_NOT_DIGIT,
                                   CATEGORY_NOT_SPACE, CATEGORY_NOT_WORD,
                                   CATEGORY_SPACE, CATEGORY_WORD, IN,
                                   LITERAL, MAX_REPEAT, MAXREPEAT,
                                   MIN_REPEAT, NEGATE, NOT_LITERAL,
                                   POSSESSIVE_REPEAT, RANGE, SUBPATTERN)

_MAX_CLASS = 128


def _class_chars(items, max_class: int):
    """IN-node items → set of member chars, or None (negated/category/
    too large)."""
    out: set = set()
    for op, av in items:
        if op is NEGATE:
            return None
        if op is LITERAL:
            out.add(chr(av))
        elif op is RANGE:
            lo, hi = av
            if hi - lo + 1 > max_class or len(out) + hi - lo + 1 > max_class:
                return None
            out.update(chr(c) for c in range(lo, hi + 1))
        else:           # CATEGORY (\d, \w, ...) or anything unknown
            return None
        if len(out) > max_class:
            return None
    return out


def _node_set(op, av, max_class: int):
    """One parsed node → guaranteed must-contain set, or None."""
    if op is LITERAL:
        return {chr(av)}
    if op is IN:
        return _class_chars(av, max_class)
    if op in (MAX_REPEAT, MIN_REPEAT):
        lo, _hi, sub = av
        if lo >= 1:
            return _seq_set(sub, max_class)
        return None
    if op is SUBPATTERN:
        # (group, add_flags, del_flags, subpattern); any flag change →
        # conservative None
        _g, add_f, del_f, sub = av
        if add_f or del_f:
            return None
        return _seq_set(sub, max_class)
    if op is BRANCH:
        _none, branches = av
        union: set = set()
        for b in branches:
            s = _seq_set(b, max_class)
            if s is None:
                return None
            union |= s
            if len(union) > max_class:
                return None
        return union
    if op is ANY:
        return None
    # AT (anchors), ASSERT/ASSERT_NOT (lookarounds), GROUPREF, NOT_LITERAL,
    # and anything unrecognized: no guarantee from this node
    return None


def _seq_set(seq, max_class: int):
    """Sequence of nodes → the smallest single-node guarantee, or None."""
    best = None
    for op, av in seq:
        s = _node_set(op, av, max_class)
        if s:
            if best is None or len(s) < len(best):
                best = s
    return best


def required_chars(pattern, max_class: int = _MAX_CLASS):
    """Compiled pattern or source string → frozenset S (see module doc)
    or None."""
    src = pattern.pattern if hasattr(pattern, 'pattern') else pattern
    flags = pattern.flags if hasattr(pattern, 'flags') else 0
    # UNICODE (always set on str patterns) is fine; anything else that can
    # change matching semantics (IGNORECASE, LOCALE, VERBOSE already baked
    # into parse, ...) → be conservative
    if flags & (re.IGNORECASE | re.LOCALE):
        return None
    try:
        parsed = sre_parse.parse(src, flags)
    except Exception:
        return None
    s = _seq_set(list(parsed), max_class)
    return frozenset(s) if s else None


# ---------------------------------------------------------------------------
# digit shapes

DIGIT_SCRIPTS = ((0x30, 0x39), (0xFF10, 0xFF19))     # ASCII, fullwidth
_SHAPE = {c: lo for lo, hi in DIGIT_SCRIPTS for c in range(lo, hi + 1)}
_CATEGORY_SRC = {CATEGORY_DIGIT: r'\d', CATEGORY_NOT_DIGIT: r'\D',
                 CATEGORY_SPACE: r'\s', CATEGORY_NOT_SPACE: r'\S',
                 CATEGORY_WORD: r'\w', CATEGORY_NOT_WORD: r'\W'}


def digit_shape(s: str) -> str:
    """Every ASCII digit → '0', every fullwidth digit → '０'."""
    return s.translate(_SHAPE)


def _parse(pattern):
    src = pattern.pattern if hasattr(pattern, 'pattern') else pattern
    flags = pattern.flags if hasattr(pattern, 'flags') else 0
    return sre_parse.parse(src, flags), flags


def _class_parts(items):
    """IN-node items → (negated, [(lo, hi)], [category])."""
    negated, ranges, cats = False, [], []
    for op, av in items:
        if op is NEGATE:
            negated = True
        elif op is LITERAL:
            ranges.append((av, av))
        elif op is RANGE:
            ranges.append(av)
        elif op is CATEGORY:
            cats.append(av)
        else:
            raise ValueError(f'unsupported class item {op}')
    return negated, ranges, cats


def _digits_held(ranges, lo: int, hi: int) -> int:
    held = set()
    for a, b in ranges:
        held.update(range(max(a, lo), min(b, hi) + 1))
    return len(held)


def pattern_nodes(pattern):
    """Every (op, arg) node of a pattern's parse tree, depth first."""
    def walk(seq):
        for op, av in seq:
            yield op, av
            if op in (MAX_REPEAT, MIN_REPEAT, POSSESSIVE_REPEAT):
                yield from walk(av[2])
            elif op is SUBPATTERN:
                yield from walk(av[3])
            elif op is BRANCH:
                for b in av[1]:
                    yield from walk(b)
            elif op in (ASSERT, ASSERT_NOT):
                yield from walk(av[1])
            elif op is ATOMIC_GROUP:
                yield from walk(av)
            elif op is GROUPREF_EXISTS:
                for b in av[1:]:
                    if b is not None:
                        yield from walk(b)
    return walk(_parse(pattern)[0])


def shape_invariant(pattern) -> bool:
    """Whether every class or literal holding a digit of a script holds all
    ten: then the pattern matches a string and its digit shape at the same
    spans."""
    for op, av in pattern_nodes(pattern):
        if op in (LITERAL, NOT_LITERAL):
            ranges = [(av, av)]
        elif op is IN:
            ranges = _class_parts(av)[1]
        else:
            continue
        if any(0 < _digits_held(ranges, lo, hi) < 10
               for lo, hi in DIGIT_SCRIPTS):
            return False
    return True


def _class_src(negated: bool, ranges, cats=()) -> str:
    merged: list = []
    for a, b in sorted(ranges):
        if merged and a <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    if negated and not merged and not cats:
        return r'[\s\S]'
    body = ''.join(re.escape(chr(a)) if a == b else
                   f'{re.escape(chr(a))}-{re.escape(chr(b))}'
                   for a, b in merged)
    body += ''.join(_CATEGORY_SRC[c] for c in cats)
    return '[' + ('^' if negated else '') + body + ']'


def _widen_class(negated: bool, ranges, cats) -> str:
    out = list(ranges)
    for lo, hi in DIGIT_SCRIPTS:
        n = _digits_held(ranges, lo, hi)
        if not 0 < n < 10:
            continue
        if negated:     # a negated class gives up the script's digits
            out = [r for a, b in out for r in
                   ((a, min(b, lo - 1)), (max(a, hi + 1), b)) if r[0] <= r[1]]
        else:
            out.append((lo, hi))
    return _class_src(negated, out, cats)


def _widen_seq(seq) -> str:
    out = []
    for op, av in seq:
        if op is LITERAL:
            out.append(_widen_class(False, [(av, av)], [])
                       if _SHAPE.get(av) is not None else re.escape(chr(av)))
        elif op is NOT_LITERAL:
            out.append(_widen_class(True, [(av, av)], []))
        elif op is IN:
            out.append(_widen_class(*_class_parts(av)))
        elif op is ANY:
            out.append('.')
        elif op is BRANCH:
            out.append('(?:' + '|'.join(_widen_seq(b) for b in av[1]) + ')')
        elif op is SUBPATTERN:
            _g, add_f, del_f, sub = av
            if add_f or del_f:
                raise ValueError('inline flags are not supported')
            out.append('(?:' + _widen_seq(sub) + ')')
        elif op is ATOMIC_GROUP:
            out.append('(?:' + _widen_seq(av) + ')')
        elif op in (MAX_REPEAT, MIN_REPEAT, POSSESSIVE_REPEAT):
            lo, hi, sub = av
            rep = '{%d,%s}' % (lo, '' if hi == MAXREPEAT else hi)
            out.append('(?:' + _widen_seq(sub) + ')' + rep)
        elif op in (AT, ASSERT, ASSERT_NOT):
            continue
        else:
            raise ValueError(f'unsupported node {op}')
    return ''.join(out)


class Widened(NamedTuple):
    pattern: re.Pattern
    width: int                  # longest match (MAXREPEAT if unbounded)
    required: frozenset | None  # required_chars of the widened pattern


def widen(pattern) -> Widened:
    """The widened, context-free pattern of the module docstring.  Its
    width is the original's: widening keeps every consuming node and
    drops only zero-width ones."""
    parsed, flags = _parse(pattern)
    wide = re.compile(_widen_seq(parsed), flags & ~re.UNICODE)
    return Widened(wide, parsed.getwidth()[1], required_chars(wide))


def longest_match(w: Widened, s: str, at_least: int = 1) -> int:
    """Length of the longest piece of ``s`` that ``w`` matches whole, when
    it is at least ``at_least``; otherwise 0."""
    n = len(s)
    top = min(n, w.width)
    if top < at_least or (w.required is not None and
                          w.required.isdisjoint(s)) or \
            w.pattern.search(s) is None:
        return 0
    for k in range(top, max(at_least, 1) - 1, -1):
        for a in range(n - k + 1):
            if w.pattern.fullmatch(s, a, a + k) is not None:
                return k
    return 0


# ---------------------------------------------------------------------------
# first characters

def _first(seq):
    """(chars one of which starts every non-empty match, nullable) of a
    node sequence; chars None when unprovable."""
    out: set = set()
    for op, av in seq:
        if op in (AT, ASSERT, ASSERT_NOT):
            continue            # zero-width: only removes matches
        if op is LITERAL:
            chars, nullable = {chr(av)}, False
        elif op is IN:
            chars, nullable = _class_chars(av, 1 << 16), False
        elif op is BRANCH:
            chars, nullable = set(), False
            for b in av[1]:
                c, n = _first(b)
                if c is None:
                    return None, True
                chars |= c
                nullable = nullable or n
        elif op is SUBPATTERN:
            chars, nullable = _first(av[3])
        elif op in (MAX_REPEAT, MIN_REPEAT, POSSESSIVE_REPEAT):
            chars, nullable = _first(av[2])
            nullable = nullable or av[0] == 0
        else:
            return None, True
        if chars is None:
            return None, True
        out |= chars
        if not nullable:
            return out, False
    return out, True


def first_chars(pattern):
    """frozenset F such that every match of the pattern starts at a char of
    F, or None (a possibly-empty match, '.', a negated or category class):
    a sweep may then jump to the next char of F before searching."""
    parsed, _flags = _parse(pattern)
    chars, nullable = _first(list(parsed))
    return None if chars is None or nullable else frozenset(chars)


def first_char_guard(src: str) -> re.Pattern:
    """``src`` compiled behind a ``(?=[F])`` lookahead of its first_chars:
    the same matches, but a position whose char starts no match fails on
    one class test instead of trying every branch (re only builds such a
    prefix check itself for a leading literal or class)."""
    chars = first_chars(src)
    if chars is None:
        return re.compile(src)
    guard = _class_src(False, [(ord(c), ord(c)) for c in chars])
    return re.compile('(?=' + guard + ')(?:' + src + ')')
