"""The norm_* driver queries hardcode expected outputs in their DuckDB
oracles; this suite anchors every hardcoded literal to the live reference
(and to our kernels), so the oracle can never drift from JioNLP semantics.

Live-only: the literals are checked against the reference alone, so a golden
would only compare each literal with itself."""

import __spark_entry__ as entry


def test_tra2sim_literals(jio):
    texts = ('乾坤一擲，鞠躬盡瘁', '他用滑鼠點擊視窗', '皇天后土為證',
             '出租車司機讚嘆不已')
    assert f"'{texts[0]}'" in entry._TRA_IN_SQL
    for t, word, char in zip(texts, entry._TRA_WORD_OUT, entry._TRA_CHAR_OUT):
        assert jio.tra2sim(t, mode='word') == word
        assert jio.tra2sim(t, mode='char') == char


def test_stopword_literals(jio):
    for s_in, s_out in zip(entry._STOP_IN, entry._STOP_OUT):
        assert '|'.join(jio.remove_stopwords(s_in.split('|'))) == s_out


def test_money_num2char_literals(jio):
    for num, sim, tra in zip(entry._MONEY_NUM_IN, entry._MONEY_SIM_OUT,
                             entry._MONEY_TRA_OUT):
        assert jio.money_num2char(num, sim_or_tra='sim') == sim
        assert jio.money_num2char(num, sim_or_tra='tra') == tra


def test_plate_literals(jio):
    for plate, loc, typ, size in zip(entry._PLATE_IN, entry._PLATE_LOC,
                                     entry._PLATE_TYPE, entry._PLATE_SIZE):
        ref = jio.parse_motor_vehicle_licence_plate(plate)
        assert ref == {'car_loc': loc, 'car_type': typ, 'car_size': size}, \
            (plate, ref)


def test_person_literals(jio):
    for cand, expect in zip(entry._PERSON_IN, entry._PERSON_OUT):
        assert bool(jio.ner.check_person_name(cand)) == expect, cand


def test_location_town_literals(jio):
    for t, region, town, village in zip(entry._TOWN_IN, entry._TOWN_REGION,
                                        entry._TOWN_TOWN,
                                        entry._TOWN_VILLAGE):
        r = jio.parse_location(t, town_village=True)
        assert '/'.join(x for x in (r['province'], r['city'], r['county'])
                        if x) == region, (t, r)
        assert r['town'] == town and r['village'] == village, (t, r)


def test_bpe_literals(jio):
    for t, enc in zip(entry._BPE_IN, entry._BPE_OUT):
        assert jio.bpe.byte_level_bpe.encode(t) == enc, t
        assert jio.bpe.byte_level_bpe.decode(enc) == t, t


def test_pinyin_radical_literals(jio):
    for t, py in zip(entry._ZH_IN, entry._PINYIN_OUT):
        assert ' '.join(jio.pinyin(t)) == py
    for t, rad, struct in zip(entry._RADICAL_IN, entry._RADICAL_OUT,
                              entry._STRUCT_OUT):
        info = jio.char_radical(t)
        assert ' '.join(d['radical'] for d in info) == rad
        assert ' '.join(d['structure'] for d in info) == struct


def test_charcheck_literals(jio):
    for cand, (any_cn, all_cn, any_num, all_num, runs, repl) in zip(
            entry._CHARCHECK_IN, entry._CHARCHECK_OUT):
        assert jio.check_any_chinese_char(cand) == any_cn, cand
        assert jio.check_all_chinese_char(cand) == all_cn, cand
        assert jio.check_any_arabic_num(cand) == any_num, cand
        assert jio.check_all_arabic_num(cand) == all_num, cand
        assert '|'.join(jio.extract_chinese(cand)) == runs, cand
        ref_repl = jio.replace_chinese(cand)
        assert (ref_repl if isinstance(ref_repl, str) else None) == repl, cand


def test_parentheses_layout_anchor(jio):
    """kg_parentheses oracle hardcodes the stack-matcher span arithmetic;
    anchor it to the live reference on a representative text."""
    text = 'alpha beta'
    raw = f'线索（{text}）与（备用（嵌套）补充）完'
    ref = jio.extract_parentheses(raw, detail=True)
    got = [f"{d['content']}@{d['offset'][0]}:{d['offset'][1]}" for d in ref]
    n = len(text)
    assert got == [f'（{text}）@2:{n + 4}', f'（嵌套）@{n + 8}:{n + 12}',
                   f'（备用（嵌套）补充）@{n + 5}:{n + 15}']


def test_redact_negative_qq_anchor(jio):
    """replace_qq leaves text untouched without a QQ cue (the kg_redact
    negative-control column)."""
    t = '联系电话：13201234567，预算为123456元'
    assert jio.replace_qq(t) == t


def test_lunar_solar_literals(jio):
    import datetime
    for (y, m, d), (ly, lm, ld, leap) in zip(entry._LUNAR_SOLAR_IN,
                                             entry._LUNAR_OUT):
        sd = datetime.datetime(y, m, d)
        assert jio.solar2lunar(sd) == (ly, lm, ld, leap), (y, m, d)
        assert jio.lunar2solar(ly, lm, ld, leap) == sd, (ly, lm, ld, leap)
