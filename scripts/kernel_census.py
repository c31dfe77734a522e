"""Census of the two grid-search extractors, in one process, without Spark.

Usage: python scripts/kernel_census.py --pages N --seed S

Generates the first N zh pages of a seed (sources.pages, the generator the
benchmark reads), cleans them as the fused page pass does, and prints per
page:

- time: candidates, trials walked, gate rejections, strict parse calls
  that succeeded and that failed;
- money: candidates, trials walked, parse calls;
- the ms/page of each extractor;
- the hit share of the time parser's memos (a memo no proof has made
  redundant keeps a high share).

A *trial walked* is one (start, end) pair a grid search examines on its
own: a ``_filter`` call, or a pair the time extractor's start/end tables
let through (``_table_trials``).  The timing pass runs first on the
process's extractors, after a warm-up over the next WARM_PAGES pages of
the seed (lazy set-up, such as the parse gate's compiled patterns, is
paid once per worker process, not per page); the counting pass then runs
fresh extractor and time-parser instances over the timed pages with
counting wrappers, so its memos start empty.  Methods a revision lacks are not counted (a tree
without the parse gate reports 0 rejections), so the same script runs on
older checkouts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WARM_PAGES = 50


def zh_pages(n: int, seed: int) -> list:
    """(extract text, warc_ts) of the first n zh pages of ``seed``: the
    text the fused page pass hands the extractors."""
    from jionlp_spark.functions.udfs import _page_text
    from jionlp_spark.kernels.cleaner import get_cleaner
    from jionlp_spark.sources.pages import _make_row, _Pools
    pools, cleaner = _Pools(), get_cleaner()
    out, i = [], 0
    while len(out) < n:
        _url, ts, html, _text, lang = _make_row(i, seed, pools)
        i += 1
        if lang == 'zh':
            out.append((_page_text(cleaner, html, 'html'), ts))
    return out


def timed(pages, warm) -> dict:
    from jionlp_spark.kernels.money_extract import get_money_extractor
    from jionlp_spark.kernels.time_extract import get_time_extractor
    mex, tex = get_money_extractor(), get_time_extractor()
    for text, ts in warm:
        mex.extract(text, with_parsing=True)
        tex.extract(text, ts, with_parsing=True)
    secs = {'money': 0.0, 'time': 0.0}
    clock = time.perf_counter
    for text, ts in pages:
        t0 = clock()
        mex.extract(text, with_parsing=True)
        t1 = clock()
        tex.extract(text, ts, with_parsing=True)
        t2 = clock()
        secs['money'] += t1 - t0
        secs['time'] += t2 - t1
    return {k: v * 1e3 / len(pages) for k, v in secs.items()}


class Counts(dict):
    """Counting wrappers shadowing methods on an instance."""

    def calls(self, key, obj, name, live=lambda: True):
        inner = getattr(obj, name, None)
        if inner is None:
            return

        def wrapper(*a, **kw):
            if live():
                self[key] = self.get(key, 0) + 1
            return inner(*a, **kw)
        setattr(obj, name, wrapper)

    def items_of(self, key, obj, name):
        inner = getattr(obj, name, None)
        if inner is None:
            return

        def wrapper(*a, **kw):
            res = inner(*a, **kw)
            self[key] = self.get(key, 0) + len(res)
            return res
        setattr(obj, name, wrapper)

    def yields(self, key, obj, name):
        inner = getattr(obj, name, None)
        if inner is None:
            return

        def wrapper(*a, **kw):
            for item in inner(*a, **kw):
                self[key] = self.get(key, 0) + 1
                yield item
        setattr(obj, name, wrapper)

    def outcomes(self, key, obj, name, live=lambda: True):
        inner = getattr(obj, name)

        def wrapper(*a, **kw):
            if not live():
                return inner(*a, **kw)
            try:
                res = inner(*a, **kw)
            except Exception:
                self[key + '_fail'] = self.get(key + '_fail', 0) + 1
                raise
            self[key + '_ok'] = self.get(key + '_ok', 0) + 1
            return res
        setattr(obj, name, wrapper)


def counted(pages) -> dict:
    from jionlp_spark.kernels.money_extract import MoneyExtractor
    from jionlp_spark.kernels.time_extract import TimeExtractor
    from jionlp_spark.kernels.timeparse import TimeParser
    tex, mex = TimeExtractor(), MoneyExtractor()
    tex.parser = TimeParser()
    c = Counts()
    phase = {'money': False}
    c.items_of('time.candidates', tex, 'candidates')
    c.calls('time.trials', tex, '_filter')
    c.yields('time.trials', tex, '_table_trials')
    if hasattr(tex, '_gate'):
        from jionlp_spark.kernels.timeparse import StrictParseGate
        gate = StrictParseGate(tex.parser)

        def counting_gate(shape):
            ok = gate(shape)
            if not ok:
                c['time.gate_rejections'] = \
                    c.get('time.gate_rejections', 0) + 1
            return ok
        tex._gate = counting_gate
    c.items_of('money.candidates', mex, 'candidates')
    c.calls('money.trials', mex, '_filter')
    # the money parser also serves the time parser's numerals: count only
    # the money extractor's own calls
    for parser, key, live in ((tex.parser, 'time.parse', lambda: True),
                              (mex.parser, 'money.parse',
                               lambda: phase['money'])):
        c.outcomes(key, parser, 'parse', live)
    memo_hits(c, tex.parser)
    try:
        for text, ts in pages:
            phase['money'] = True
            mex.extract(text, with_parsing=True)
            phase['money'] = False
            tex.extract(text, ts, with_parsing=True)
    finally:
        del mex.parser.parse
    keys = ('time.candidates', 'time.trials', 'time.gate_rejections',
            'time.parse_ok', 'time.parse_fail', 'money.candidates',
            'money.trials', 'money.parse_ok', 'money.parse_fail')
    out = {k: c.get(k, 0) / len(pages) for k in keys}
    for name in MEMOS:
        hits, calls = c.get(name + '.hit', 0), c.get(name + '.call', 0)
        out[f'time.memo_hit_share.{name}'] = hits / max(calls, 1)
    return out


# memo name → (object path from the parser, memoized method, memo
# attribute, key from the call's arguments)
MEMOS = {
    'span_none': ('delta', 'parse_time_delta_span', '_span_none_memo',
                  lambda a, kw: (a[0], kw.get('time_type',
                                              a[1] if len(a) > 1 else None))),
    'span22': ('', 'parse_span_2_2_point', '_span22_memo',
               lambda a, kw: a[0]),
    'point_sel': ('', 'parse_time_point', '_point_sel_memo',
                  lambda a, kw: a[0]),
}


def memo_hits(c: Counts, parser) -> None:
    """Count, per memoized parser method, the calls whose key the memo
    already held."""
    for name, (path, method, attr, key) in MEMOS.items():
        obj = getattr(parser, path) if path else parser
        memo, inner = getattr(obj, attr, None), getattr(obj, method)
        if memo is None:
            continue

        def wrapper(*a, _n=name, _m=memo, _i=inner, _k=key, **kw):
            c[_n + '.call'] = c.get(_n + '.call', 0) + 1
            if _k(a, kw) in _m:
                c[_n + '.hit'] = c.get(_n + '.hit', 0) + 1
            return _i(*a, **kw)
        setattr(obj, method, wrapper)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--pages', type=int, default=2000)
    ap.add_argument('--seed', type=int, default=42)
    args = ap.parse_args()
    pages = zh_pages(args.pages + WARM_PAGES, args.seed)
    pages, warm = pages[:args.pages], pages[args.pages:]
    ms = timed(pages, warm)
    per_page = counted(pages)
    per_page['time.ms'] = ms['time']
    per_page['money.ms'] = ms['money']
    for k in sorted(per_page):
        print(f'{k:24s} {per_page[k]:10.3f}')
    print(json.dumps({'pages': args.pages, 'seed': args.seed,
                      'per_page': {k: round(v, 4)
                                   for k, v in sorted(per_page.items())}}))
    return 0


if __name__ == '__main__':
    sys.exit(main())
