"""Stage-2/3 kernel: typed mention spans of one document, and the canonical
entity key of one mention.

Every mention UDF in functions/udfs.py is a per-batch wrapper over this
module, so the sweep order, the lexicon merge and each canonical key are
written once.  Mentions are ``(text, start, end, mention_type, norm)``
tuples; ``norm`` carries the extractor's own parse as JSON (money, time)
and is None otherwise.
"""

from __future__ import annotations

import json

from jionlp_spark.kernels.extractors import get_extractor
from jionlp_spark.kernels.money_extract import get_money_extractor
from jionlp_spark.kernels.plate import parse_licence_plate
from jionlp_spark.kernels.time_extract import get_time_extractor

TIME_TYPES = frozenset(('time_point', 'time_span', 'time_delta',
                        'time_period'))
# distinct place strings are tiny next to mention volume (~10⁵ at crawl
# scale); the bound only guards a pathological corpus
LOCATION_MEMO_MAX = 200000


def _json(obj) -> str:
    return json.dumps(obj, ensure_ascii=False)


def _spans(found, mention_type=None, parsed=False) -> list:
    return [(m['text'], m['offset'][0], m['offset'][1],
             mention_type or m['type'],
             _json(m['detail']) if parsed else None) for m in found]


def lexicon_mentions(text: str, trie) -> list:
    """FMM dictionary hits over a CharTrie, contiguous same-type hits fused
    into one span — '湖北省'+'襄樊市' → '湖北省襄樊市' — so the location
    linker sees whole admin phrases."""
    out = []
    for h in trie.scan_fmm(text):
        start, end = h['offset']
        mtype = 'lexicon:' + h['type']
        if out and out[-1][3] == mtype and out[-1][2] == start:
            out[-1] = (out[-1][0] + h['text'], out[-1][1], end, mtype, None)
        else:
            out.append((h['text'], start, end, mtype, None))
    return out


def mentions(text: str, time_base, trie) -> list:
    """All mentions of one document, in order: the regex sweep, money, time
    (only when ``time_base`` — the row's crawl timestamp, never wall-clock —
    is set) and lexicon hits (only when ``trie`` is set)."""
    out = _spans(get_extractor().sweep(text))
    out += _spans(get_money_extractor().extract(text, with_parsing=True),
                  'money', parsed=True)
    if time_base is not None:
        out += _spans(get_time_extractor().extract(text, time_base,
                                                   with_parsing=True),
                      parsed=True)
    if trie is not None:
        out += lexicon_mentions(text, trie)
    return out


class Linker:
    """Canonicalization over a lexicon bundle (anything with ``phone``,
    ``idcard`` and ``location`` attributes).

    Canonical keys:
      cell/landline phone → digits-only number ('province city' geo in norm)
      id_card             → the id with a trailing X lowercased
      email               → lowercased address (domain in norm)
      money               → '<num><case>' ('<lo>~<hi><case>' for ranges)
      time_*              → '~'-joined time strings, else the JSON of 'time'
      lexicon:location    → 'province/city/county' of the parse, else text
      licence_plate, url and the rest → text

    Location parses are memoized on the Linker, so per bundle: a lexicon
    swapped in through JIONLP_SPARK_DICT_DIR gets its own memo.
    """

    def __init__(self, bundle) -> None:
        self.bundle = bundle
        self._locations: dict = {}

    def link(self, mention_type, text: str, pre_norm) -> tuple:
        """→ (obj, obj_type, norm JSON)."""
        if mention_type in ('cell_phone', 'landline_phone'):
            phone = self.bundle.phone
            res = phone.locate(text)
            geo = ' '.join(x for x in (res['province'], res['city']) if x)
            return (phone.canonical_number(text), 'phone',
                    _json({'province': res['province'], 'city': res['city'],
                           'type': res['type'],
                           'operator': res.get('operator'),
                           'geo': geo or None}))
        if mention_type == 'id_card':
            res = self.bundle.idcard.parse(text)
            # id_card_parser.py:91-92
            return (text[:-1] + text[-1].lower(), 'id_card',
                    _json(res) if res is not None else None)
        if mention_type == 'email':
            dom = get_extractor().email_domain(text)
            return (text.lower(), 'email',
                    _json({'domain_name': dom}) if dom else None)
        if mention_type == 'money':
            detail = json.loads(pre_norm) if pre_norm else {}
            num, case = detail.get('num'), detail.get('case', '')
            key = (f'{num[0]}~{num[1]}{case}' if isinstance(num, list)
                   else f'{num}{case}')
            return key, 'money', pre_norm
        if mention_type in TIME_TYPES:
            tval = (json.loads(pre_norm) if pre_norm else {}).get('time')
            key = ('~'.join(tval) if isinstance(tval, list) and tval and
                   all(isinstance(x, str) for x in tval)
                   else json.dumps(tval, ensure_ascii=False, sort_keys=True))
            return key, 'time', pre_norm
        if mention_type == 'lexicon:location':
            return self._location(text)
        if mention_type == 'licence_plate':
            res = parse_licence_plate(text)
            return (text, 'licence_plate',
                    _json(res) if res is not None else None)
        if mention_type and mention_type.startswith('lexicon:'):
            return text, mention_type.split(':', 1)[1], pre_norm
        return text, mention_type, pre_norm

    def _location(self, text: str) -> tuple:
        hit = self._locations.get(text)
        if hit is None:
            res = self.bundle.location.parse(text)
            region = {k: res[k] for k in ('province', 'city', 'county')}
            key = '/'.join(x for x in region.values() if x)
            hit = (key or text, 'location', _json(region))
            if len(self._locations) < LOCATION_MEMO_MAX:
                self._locations[text] = hit
        return hit

    def linked(self, found: list) -> list:
        """Mention tuples → (text, start, end, mention_type, norm, obj,
        obj_type), ``norm`` replaced by the linked detail."""
        out = []
        for text, start, end, mtype, pre_norm in found:
            obj, obj_type, norm = self.link(mtype, text, pre_norm)
            out.append((text, start, end, mtype, norm, obj, obj_type))
        return out
