"""Lexicon loading for the KG pipeline.

Two sources, in priority order:

1. A full JioNLP-format dictionary directory (env ``JIONLP_SPARK_DICT_DIR``
   or the ``dict_dir=`` argument) — the same file formats the reference
   loaders parse (/root/reference/jionlp/dictionary/dictionary_loader.py:
   china_location_loader:98, phone_location_loader:429,
   telecom_operator_loader:532).  Point this at a real dictionary tree for
   full-coverage canonicalization.
2. The small vendored subsets under ``jionlp_spark/lexicons/data/`` —
   deterministic factual subsets (admin divisions, phone prefixes, area
   codes, operators) large enough for tests/bench, shipped in-repo so the
   package is standalone.

Everything loads on the DRIVER once and is shipped to executors via
``SparkContext.broadcast`` (see jionlp_spark.functions.udfs) — never per-row.
"""

from __future__ import annotations

import logging
import os

_DATA_DIR = os.path.join(os.path.dirname(__file__), 'data')


def _dict_dir(dict_dir: str | None) -> str | None:
    """The full dictionary directory to load from, or None for the vendored
    subsets.  A ``dict_dir=`` argument (the CLI's ``--dict-dir``) or, without
    one, ``JIONLP_SPARK_DICT_DIR`` naming a missing directory raises: it is
    configuration, so a typo must not silently swap in the subsets."""
    if dict_dir:
        source, d = 'dict_dir', dict_dir
    else:
        source, d = 'JIONLP_SPARK_DICT_DIR', os.environ.get(
            'JIONLP_SPARK_DICT_DIR')
    if d and not os.path.isdir(d):
        raise FileNotFoundError(f'{source} names a missing directory: {d}')
    return d or None


# ---------------------------------------------------------------------------
# phone location: cell prefix -> "province city", area code -> "province city"

def load_phone_location(dict_dir: str | None = None) -> tuple:
    """→ (cell_prefix_map 7-digit, area_code_map)."""
    d = _dict_dir(dict_dir)
    if d and os.path.exists(os.path.join(d, 'phone_location.txt')):
        return _parse_jionlp_phone_location(os.path.join(d, 'phone_location.txt'))
    return _load_vendored_phone_location()


def _parse_jionlp_phone_location(path: str) -> tuple:
    """Parse the reference format: a city header line
    ``<province city>\\t<area_code>\\t<zip>`` followed by indented lines
    ``\\t<3-digit prefix>\\t<csv of 4-digit mid ranges>``
    (dictionary_loader.py:429-468)."""
    cell_map: dict = {}
    area_map: dict = {}
    cur_location = ''
    with open(path, encoding='utf-8') as f:
        for line in f:
            if not line.strip():
                continue
            if line.startswith('\t'):
                front, info = line.strip().split('\t')
                for chunk in info.split(','):
                    if '-' in chunk:
                        lo, hi = chunk.split('-')
                        for i in range(int(lo), int(hi) + 1):
                            cell_map[front + '{:0>4d}'.format(i)] = cur_location
                    else:
                        cell_map[front + chunk] = cur_location
            else:
                cur_location, area_code, _zip = line.strip().split('\t')
                area_map[area_code] = cur_location
    return cell_map, area_map


def _load_vendored_phone_location() -> tuple:
    cell_map: dict = {}
    area_map: dict = {}
    with open(os.path.join(_DATA_DIR, 'cell_prefix.tsv'), encoding='utf-8') as f:
        for line in f:
            prefix, loc = line.rstrip('\n').split('\t')
            cell_map[prefix] = loc
    with open(os.path.join(_DATA_DIR, 'area_code.tsv'), encoding='utf-8') as f:
        for line in f:
            code, loc = line.rstrip('\n').split('\t')
            area_map[code] = loc
    return cell_map, area_map


# ---------------------------------------------------------------------------
# telecom operator: leading digits -> operator name

def load_telecom_operator(dict_dir: str | None = None) -> dict:
    d = _dict_dir(dict_dir)
    path = os.path.join(d, 'telecom_operator.txt') if d else None
    if path and os.path.exists(path):
        out = {}
        with open(path, encoding='utf-8') as f:
            for line in f:
                line = line.strip()
                if line:
                    num, op = line.split(' ')
                    out[num] = op
        return out
    out = {}
    with open(os.path.join(_DATA_DIR, 'operator.tsv'), encoding='utf-8') as f:
        for line in f:
            num, op = line.rstrip('\n').split('\t')
            out[num] = op
    return out


# ---------------------------------------------------------------------------
# china admin divisions

def load_admin_divisions(dict_dir: str | None = None) -> list:
    """→ flat rows [{'province','province_code','province_alias',
    'city','city_code','city_alias':list,'county','county_code',
    'county_alias'}] — one row per county, plus rows with county=None for
    city-level and city=None for province-level entries."""
    d = _dict_dir(dict_dir)
    if d and os.path.exists(os.path.join(d, 'china_location.txt')):
        return _parse_jionlp_china_location(os.path.join(d, 'china_location.txt'))
    return _load_vendored_admin_divisions()


def _parse_jionlp_china_location(path: str) -> list:
    """Parse the tab-indented hierarchy (dictionary_loader.py:98-170);
    town/village levels are skipped (not needed for the triple path)."""
    rows: list = []
    cur = {}
    with open(path, encoding='utf-8') as f:
        for line in f:
            if line.startswith('\t\t\t'):  # town / village level
                continue
            if line.startswith('\t\t'):  # county
                parts = line.strip().split('\t')
                if len(parts) != 3:
                    continue
                county, code, alias = parts
                rows.append({**cur, 'county': county, 'county_code': code,
                             'county_alias': alias})
            elif line.startswith('\t'):  # city
                parts = line.strip().split('\t')
                if len(parts) != 3:
                    continue
                city, code, alias = parts
                cur = {k: v for k, v in cur.items() if k.startswith('province')}
                cur.update({'city': city, 'city_code': code,
                            'city_alias': alias.split('/')})
                rows.append({**cur, 'county': None, 'county_code': None,
                             'county_alias': None})
            else:  # province
                parts = line.strip().split('\t')
                if len(parts) != 3:
                    continue
                province, code, alias = parts
                cur = {'province': province, 'province_code': code,
                       'province_alias': alias}
                rows.append({**cur, 'city': None, 'city_code': None,
                             'city_alias': None, 'county': None,
                             'county_code': None, 'county_alias': None})
    return rows


def _load_vendored_admin_divisions() -> list:
    rows = []
    with open(os.path.join(_DATA_DIR, 'admin_div.tsv'), encoding='utf-8') as f:
        for line in f:
            p, pc, pa, c, cc, ca, co, coc, coa = line.rstrip('\n').split('\t')
            rows.append({
                'province': p, 'province_code': pc, 'province_alias': pa,
                'city': c or None, 'city_code': cc or None,
                'city_alias': ca.split('/') if ca else None,
                'county': co or None, 'county_code': coc or None,
                'county_alias': coa or None,
            })
    return rows


def load_ts_tables(dict_dir: str | None = None) -> dict:
    """→ {'tra2sim_char','sim2tra_char','tra2sim_word','sim2tra_word'} maps
    (reference format: one ``key\\tvalue`` pair per line,
    dictionary_loader.py:416-426; vendored format merges each direction's
    char+word tables into ts_char.tsv / ts_word.tsv with a direction tag)."""
    d = _dict_dir(dict_dir)
    out = {}
    if d and os.path.exists(os.path.join(d, 'tra2sim_char.txt')):
        for name in ('tra2sim_char', 'sim2tra_char',
                     'tra2sim_word', 'sim2tra_word'):
            m = {}
            with open(os.path.join(d, name + '.txt'), encoding='utf-8') as f:
                for line in f:
                    line = line.rstrip('\n')
                    if line:
                        k, v = line.split('\t')
                        m[k] = v
            out[name] = m
        return out
    for name in ('tra2sim_char', 'sim2tra_char', 'tra2sim_word',
                 'sim2tra_word'):
        out[name] = {}
    for fn, kinds in (('ts_char.tsv', ('tra2sim_char', 'sim2tra_char')),
                      ('ts_word.tsv', ('tra2sim_word', 'sim2tra_word'))):
        path = os.path.join(_DATA_DIR, fn)
        if not os.path.exists(path):
            continue
        with open(path, encoding='utf-8') as f:
            for line in f:
                direction, k, v = line.rstrip('\n').split('\t')
                key = ('tra2sim' if direction == 't2s' else 'sim2tra') + \
                    ('_char' if fn == 'ts_char.tsv' else '_word')
                out[key][k] = v
    return out


def admin_code_map(dict_dir: str | None = None) -> dict:
    """6-digit admin code -> (province, city, county) with province/city
    rows included — the IDCard lookup table (id_card_parser.py:47-65)."""
    out: dict = {}
    for r in load_admin_divisions(dict_dir):
        if r['county'] is not None:
            out[r['county_code']] = (r['province'], r['city'], r['county'])
        elif r['city'] is not None:
            out[r['city_code']] = (r['province'], r['city'], None)
        else:
            out[r['province_code']] = (r['province'], None, None)
    return out


STRUCTURE_NAMES = {
    0: '一体结构', 1: '左右结构', 2: '上下结构', 3: '左中右结构',
    4: '上中下结构', 5: '右上包围结构', 6: '左上包围结构', 7: '左下包围结构',
    8: '全包围结构', 9: '半包围结构'}

_PINYIN_RE = None


def load_char_info(dict_dir: str | None = None) -> tuple:
    """→ (pinyin_phrase, pinyin_char, radical_map).  Parses the JioNLP
    chinese_char_dictionary / pinyin_phrase formats
    (dictionary_loader.py:270-321, 471-482) or the vendored ~4k-common-char
    subset."""
    import re
    global _PINYIN_RE
    if _PINYIN_RE is None:
        _PINYIN_RE = re.compile(
            r'\[[a-zàáāǎòóōǒèéēěìíīǐùúūǔǜǘǖǚǹńňüḿ]{1,8}\]')

    d = _dict_dir(dict_dir)
    phrase: dict = {}
    pinyin_char: dict = {}
    radical: dict = {}
    if d and os.path.exists(os.path.join(d, 'chinese_char_dictionary.txt')):
        with open(os.path.join(d, 'chinese_char_dictionary.txt'),
                  encoding='utf-8') as f:
            for line in f:
                segs = line.rstrip('\n').split('\t')
                if len(segs) != 8:
                    continue
                pys = [p[1:-1] for p in _PINYIN_RE.findall(segs[7])]
                if pys:
                    pinyin_char[segs[0]] = pys
                radical[segs[0]] = {
                    'radical': segs[1],
                    'structure': STRUCTURE_NAMES[int(segs[2])],
                    'corner_coding': segs[3], 'stroke_order': segs[4],
                    'wubi_coding': segs[6]}
        with open(os.path.join(d, 'pinyin_phrase.txt'),
                  encoding='utf-8') as f:
            for line in f:
                key, val = line.rstrip('\n').split('\t')
                phrase[key] = val.split('/')
        return phrase, pinyin_char, radical

    with open(os.path.join(_DATA_DIR, 'char_info.tsv'),
              encoding='utf-8') as f:
        for line in f:
            ch, rad, struct, corner, stroke, wubi, pys = \
                line.rstrip('\n').split('\t')
            if pys:
                pinyin_char[ch] = pys.split('/')
            radical[ch] = {'radical': rad,
                           'structure': STRUCTURE_NAMES[int(struct)],
                           'corner_coding': corner, 'stroke_order': stroke,
                           'wubi_coding': wubi}
    with open(os.path.join(_DATA_DIR, 'pinyin_phrase.tsv'),
              encoding='utf-8') as f:
        for line in f:
            key, val = line.rstrip('\n').split('\t')
            phrase[key] = val.split('/')
    return phrase, pinyin_char, radical


def load_stopword_sets(dict_dir: str | None = None) -> tuple:
    """→ (stopwords, negative_words, location_words) sets for the stopword
    filter kernel.  With a full JioNLP dict dir the location set matches the
    reference exactly (china full/alias names at every level + world
    continents/countries/capitals/main cities,
    remove_stopwords.py:74-137); vendored fallback uses the subset lexicons.
    """
    d = _dict_dir(dict_dir)
    stop: set = set()
    neg: set = set()
    loc: set = set()
    if d and os.path.exists(os.path.join(d, 'stopwords.txt')):
        with open(os.path.join(d, 'stopwords.txt'), encoding='utf-8') as f:
            stop = {line.rstrip('\n') for line in f}
        with open(os.path.join(d, 'negative_words.txt'),
                  encoding='utf-8') as f:
            neg = {line.strip() for line in f if line.strip()}
    else:
        path = os.path.join(_DATA_DIR, 'filter_words.tsv')
        if os.path.exists(path):
            with open(path, encoding='utf-8') as f:
                for line in f:
                    tag, word = line.rstrip('\n').split('\t', 1)
                    stop.add(word)
                    if tag == 'neg':
                        neg.add(word)

    # china locations: every level name + alias
    for r in load_admin_divisions(dict_dir):
        for name in (r['province'], r['city'], r['county'],
                     r['province_alias'], r['county_alias']):
            if name:
                loc.add(name)
        for a in (r['city_alias'] or []):
            if a:
                loc.add(a)

    # world locations
    wpath = os.path.join(d, 'world_location.txt') if d else \
        os.path.join(_DATA_DIR, 'world_loc.tsv')
    if os.path.exists(wpath):
        with open(wpath, encoding='utf-8') as f:
            for line in f:
                line = line.rstrip('\n')
                if not line.strip():
                    continue
                if '洲:' in line:
                    loc.add(line.replace(':', ''))
                    continue
                parts = line.split('\t')
                if len(parts) >= 3:
                    loc.add(parts[0])
                    loc.add(parts[1])
                    loc.add(parts[2])
                if len(parts) == 4:
                    loc.update(parts[3].split('/'))
    return stop, neg, loc


def location_ner_words(dict_dir: str | None = None) -> list:
    """Dictionary for the location LexiconNER stage: all admin full names,
    multi-char aliases, and old (pre-rename) names."""
    words: set = set()
    for r in load_admin_divisions(dict_dir):
        for name in (r['province'], r['city'], r['county']):
            if name:
                words.add(name)
        for alias in ([r['province_alias']] +
                      (r['city_alias'] or []) +
                      [r['county_alias']]):
            if alias and len(alias) >= 2:
                words.add(alias)
    for ch in load_location_changes(dict_dir):
        for name in list(ch['old']) + list(ch.get('old_alias') or ()):
            if name and len(name) >= 2:
                words.add(name)
    return sorted(words)


def world_ner_words(dict_dir: str | None = None) -> list:
    """Dictionary for a world-location LexiconNER stage: country names and
    capitals from the world map (≥2 chars).  Kept SEPARATE from
    location_ner_words — the shared mention-sweep trie stays china-only
    (its outputs are pinned by oracle literals); build a combined trie
    when feeding recognize_location_full, or foreign candidates never
    surface (see tests/test_locrec.py::test_pos_boundary_candidate_coverage
    for measured coverage)."""
    names: set = set()
    for cont in load_world_locations(dict_dir).values():
        for country, info in cont.items():
            names.add(country)
            if info.get('capital'):
                names.add(info['capital'])
    return sorted(n for n in names if len(n) >= 2)


def load_location_changes(dict_dir: str | None = None) -> list:
    """Old→new renames since 2018 (china_location_change.txt,
    dictionary_loader.py:173-214) → [{'old': (prov,city,county),
    'new': [prov,city,county]}] using full names."""
    d = _dict_dir(dict_dir)
    path = os.path.join(d, 'china_location_change.txt') if d else \
        os.path.join(_DATA_DIR, 'location_change.tsv')
    if not os.path.exists(path):
        return []
    out = []
    with open(path, encoding='utf-8') as f:
        for line in f:
            line = line.rstrip('\n')
            if not line.strip():
                continue
            if '=>' in line:  # JioNLP format
                line = line.strip()
                old_part, new_part = line.split('=>')
                o = old_part.split('\t')
                n = new_part.split('\t')
                if len(o) == 8:
                    out.append({'old': (o[2], o[4], o[6]),
                                'old_alias': (o[3], o[5], o[7]),
                                'new': list(n)})
                elif len(o) == 6:
                    out.append({'old': (o[2], o[4], None),
                                'old_alias': (o[3], o[5], None),
                                'new': [n[0], n[1], None]})
            else:  # vendored: oldp oldpa oldc oldca oldco oldcoa newp newc newco
                f1 = line.split('\t')
                out.append({'old': (f1[0] or None, f1[2] or None, f1[4] or None),
                            'old_alias': (f1[1] or None, f1[3] or None,
                                          f1[5] or None),
                            'new': [f1[6] or None, f1[7] or None,
                                    f1[8] or None]})
    return out


# ---------------------------------------------------------------------------
# sentiment lexicons: sentiment word weights, negation words, multiplier
# adverb weights (reference dictionary_loader.py:261-267,496-511,514-529)

def load_sentiment_lexicons(dict_dir: str | None = None) -> tuple:
    """→ (sentiment_words {word: weight}, negative_words [..],
    expand_words {word: weight})."""
    d = _dict_dir(dict_dir)
    if d and os.path.exists(os.path.join(d, 'sentiment_words.txt')):
        sw = {}
        with open(os.path.join(d, 'sentiment_words.txt'),
                  encoding='utf-8') as f:
            for line in f:
                word, weight = line.rstrip('\n').split('\t')
                sw[word] = float(weight)
        with open(os.path.join(d, 'negative_words.txt'),
                  encoding='utf-8') as f:
            neg = [x for x in f.read().splitlines() if x]
        ew = {}
        with open(os.path.join(d, 'sentiment_expand_words.txt'),
                  encoding='utf-8') as f:
            for line in f:
                word, weight = line.rstrip('\n').split('\t')
                ew[word] = float(weight)
        return sw, neg, ew

    sw = {}
    with open(os.path.join(_DATA_DIR, 'sentiment_words.tsv'),
              encoding='utf-8') as f:
        for line in f:
            word, weight = line.rstrip('\n').split('\t')
            sw[word] = float(weight)
    with open(os.path.join(_DATA_DIR, 'negative.tsv'), encoding='utf-8') as f:
        neg = [x for x in f.read().splitlines() if x]
    ew = {}
    with open(os.path.join(_DATA_DIR, 'expand.tsv'), encoding='utf-8') as f:
        for line in f:
            word, weight = line.rstrip('\n').split('\t')
            ew[word] = float(weight)
    return sw, neg, ew


# ---------------------------------------------------------------------------
# town/village detail levels (china_location.txt 4th/5th levels; reference
# china_location_loader(detail=True), dictionary_loader.py:98-170)

def load_town_villages(dict_dir: str | None = None) -> dict:
    """→ {prov+city+county (full names): {town: {village: None}}}.

    Vendored subset covers the fixture counties; point dict_dir at a full
    JioNLP dictionary tree for national coverage (~700k rows)."""
    d = _dict_dir(dict_dir)
    out: dict = {}
    if d and os.path.exists(os.path.join(d, 'china_location.txt')):
        cur_p = cur_c = cur_t = None
        key = None
        with open(os.path.join(d, 'china_location.txt'),
                  encoding='utf-8') as f:
            for line in f:
                if line.startswith('\t\t\t\t'):      # village
                    if key is not None and cur_t is not None:
                        out[key][cur_t][line.strip()] = None
                elif line.startswith('\t\t\t'):      # town
                    cur_t = line.strip()
                    if key is not None:
                        out[key][cur_t] = {}
                elif line.startswith('\t\t'):        # county
                    parts = line.strip().split('\t')
                    if len(parts) == 3 and cur_p and cur_c:
                        key = cur_p + cur_c + parts[0]
                        out[key] = {}
                    else:
                        key = None
                    cur_t = None
                elif line.startswith('\t'):          # city
                    parts = line.strip().split('\t')
                    cur_c = parts[0] if len(parts) == 3 else None
                    key = None
                else:                                # province
                    parts = line.strip().split('\t')
                    cur_p = parts[0] if len(parts) == 3 else None
                    key = None
        return out

    path = os.path.join(_DATA_DIR, 'town_village.tsv')
    if not os.path.exists(path):
        return out
    with open(path, encoding='utf-8') as f:
        for line in f:
            prov, city, county, town, village = \
                line.rstrip('\n').split('\t')
            key = prov + city + county
            towns = out.setdefault(key, {})
            villages = towns.setdefault(town, {})
            if village:
                villages[village] = None
    return out


def load_char_distribution(dict_dir: str | None = None) -> dict:
    """utf-8 char → {'total_num', 'prob', 'log_prob'} corpus statistics
    (reference dictionary_loader.py:72-93; vendored whole — factual
    frequency data used by the add/delete augmenter's insert sampler)."""
    import json
    import math
    d = _dict_dir(dict_dir)
    path = os.path.join(d, 'char_distribution.json') if d else None
    if not (path and os.path.exists(path)):
        path = os.path.join(_DATA_DIR, 'char_distribution.json')
    # line-oriented JSON: one ["char", count] per line
    items = []
    with open(path, encoding='utf-8') as f:
        for line in f:
            if line.strip():
                items.append(json.loads(line))
    total = sum(c for _ch, c in items)
    return {ch: {'total_num': c, 'prob': c / total,
                 'log_prob': -math.log10(c / total)} for ch, c in items}


def load_idioms(dict_dir: str | None = None) -> list:
    """→ [{'idiom', 'freq', 'pinyin' (list of simple-form syllables)}] in
    dictionary order (order is part of the RNG-parity contract).  The
    vendored tsv carries precomputed pinyin; a full JioNLP dictionary tree
    recomputes it via the chartext Pinyin kernel."""
    d = _dict_dir(dict_dir)
    if d and os.path.exists(os.path.join(d, 'chinese_idiom.txt')):
        from jionlp_spark.kernels.chartext import Pinyin
        phrase, pchar, _rad = load_char_info(d)
        py = Pinyin(phrase, pchar)
        out = []
        with open(os.path.join(d, 'chinese_idiom.txt'),
                  encoding='utf-8') as f:
            for line in f:
                idiom, freq = line.rstrip('\n').split('\t')
                out.append({'idiom': idiom, 'freq': int(freq),
                            'pinyin': py(idiom, formater='simple')})
        return out
    out = []
    path = os.path.join(_DATA_DIR, 'idioms.tsv')
    if not os.path.exists(path):
        return out
    with open(path, encoding='utf-8') as f:
        for line in f:
            idiom, freq, pinyin = line.rstrip('\n').split('\t')
            out.append({'idiom': idiom, 'freq': int(freq),
                        'pinyin': pinyin.split(' ')})
    return out


def load_world_locations(dict_dir: str | None = None) -> dict:
    """→ {continent: {country: {'full_name', 'capital'[, 'main_city']}}}
    — the reference world_location_loader (dictionary_loader.py:217-247)
    over world_location.txt / the vendored world_loc.tsv (same format).
    Lines that aren't 3 or 4 tab-fields are skipped, like the
    reference."""
    d = _dict_dir(dict_dir)
    path = os.path.join(d, 'world_location.txt') if d and os.path.exists(
        os.path.join(d, 'world_location.txt')) else \
        os.path.join(_DATA_DIR, 'world_loc.tsv')
    result: dict = {}
    cur = None
    with open(path, encoding='utf-8') as f:
        for line in f:
            line = line.rstrip('\n')
            if '洲:' in line:
                cur = line.replace(':', '')
                result[cur] = {}
                continue
            if cur is None:  # data line before the first continent header
                continue
            parts = line.split('\t')
            if len(parts) == 3:
                result[cur][parts[0]] = {'full_name': parts[1],
                                         'capital': parts[2]}
            elif len(parts) == 4:
                result[cur][parts[0]] = {'full_name': parts[1],
                                         'capital': parts[2],
                                         'main_city': parts[3].split('/')}
    return result


def load_word_distribution(dict_dir: str | None = None) -> list:
    """→ ordered [(word, count, [(consonant, vowel), ...])] — the jiojio
    word-frequency distribution (reference word_distribution_loader,
    dictionary_loader.py:546-581) with per-char no-tone detail pinyin.

    Order is load-bearing: the homophone augmenter's weighted
    ``choice(p=...)`` iterates retained words in file order (reference
    homophone_substitution.py:84-110).  The vendored tsv carries pinyin
    precomputed over the FULL dictionaries (scripts/
    vendor_word_distribution.py); a full JioNLP dict dir recomputes it
    live with the chartext Pinyin kernel."""
    d = _dict_dir(dict_dir)
    if d and os.path.exists(os.path.join(d, 'word_distribution.json')):
        import json
        from jionlp_spark.kernels.chartext import Pinyin
        phrase, pchar, _rad = load_char_info(d)
        py = Pinyin(phrase, pchar)
        out = []
        with open(os.path.join(d, 'word_distribution.json'),
                  encoding='utf-8') as f:
            for line in f:
                word, cnt = json.loads(line)
                if not any('一' <= ch <= '鿿' for ch in word):
                    continue
                detail = py(word, formater='detail')
                out.append((word, int(cnt),
                            [(x['consonant'], x['vowel']) for x in detail]))
        return out
    out = []
    with open(os.path.join(_DATA_DIR, 'word_distribution.tsv'),
              encoding='utf-8') as f:
        for line in f:
            word, cnt, pairs = line.rstrip('\n').split('\t')
            out.append((word, int(cnt),
                        [tuple(p.split(',', 1))
                         for p in pairs.split('|')]))
    return out


def load_word_distribution_raw(dict_dir: str | None = None) -> list:
    """load_word_distribution with the pairs column UNPARSED (the raw
    'c,v|c,v' vendored string): the homophone build only ever looks up
    pinyin for segments that occur in its inputs, so the eager parse of
    all ~193k rows was pure build-time overhead — the kernel parses
    lazily (kernels/homophone._pin_of).  Falls back to the parsed form
    for a full JioNLP dict dir (live pinyin computation)."""
    d = _dict_dir(dict_dir)
    if d and os.path.exists(os.path.join(d, 'word_distribution.json')):
        return load_word_distribution(dict_dir)
    out = []
    with open(os.path.join(_DATA_DIR, 'word_distribution.tsv'),
              encoding='utf-8') as f:
        for line in f:
            word, cnt, pairs = line.rstrip('\n').split('\t')
            out.append((word, int(cnt), pairs))
    return out


def load_wordset(filename: str, dict_dir: str | None = None,
                 default: tuple = (), require: bool = False) -> set:
    """Generic one-word-per-line dictionary (first tab-separated column) —
    covers the reference's plain word lists (pornography.txt via
    pornography_loader, dictionary_loader.py; sensitive/quality filtering
    over a crawl corpus is lexicon matching with this set).  Returns
    ``default`` when the file isn't present in the dict dir — with a
    logged warning, because a silently-empty set disables a content
    screen; pass require=True to raise instead (the right setting when
    the wordset gates a safety filter)."""
    d = _dict_dir(dict_dir)
    path = os.path.join(d, filename) if d else None
    if not (path and os.path.exists(path)):
        if require:
            raise FileNotFoundError(
                f'wordset {filename!r} not found in dict dir {d!r}')
        logging.getLogger(__name__).warning(
            'wordset %r not found in dict dir %r — returning default '
            '(%d words); a keyword screen backed by this set is disabled',
            filename, d, len(default))
        return set(default)
    out = set()
    with open(path, encoding='utf-8') as f:
        for line in f:
            w = line.rstrip('\n').split('\t')[0].strip()
            if w:
                out.add(w)
    return out
