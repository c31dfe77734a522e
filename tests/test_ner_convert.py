"""NER format converter parity vs the live reference
(algorithm/ner/ner_data_converter.py)."""

import itertools
import random


def _fixtures():
    rng = random.Random(42)
    cases = [
        (list('胡静静在水利局工作。'),
         [{'text': '胡静静', 'offset': [0, 3], 'type': 'Person'},
          {'text': '水利局', 'offset': [4, 7], 'type': 'Org'}]),
        (list('某在某地'), [{'text': '某', 'offset': [0, 1], 'type': 'P'}]),
        (list('abcdef'), []),
        # overlapping annotation: the later entity must be dropped
        (list('张三丰住在武当山上'),
         [{'text': '张三丰', 'offset': [0, 3], 'type': 'Person'},
          {'text': '三丰', 'offset': [1, 3], 'type': 'Person'},
          {'text': '武当山', 'offset': [5, 8], 'type': 'Loc'}]),
    ]
    # random span sets over random-length token lists
    for _ in range(30):
        n = rng.randint(1, 15)
        toks = [chr(0x4e00 + rng.randint(0, 50)) for _ in range(n)]
        ents = []
        i = 0
        while i < n:
            ln = rng.randint(1, 3)
            if rng.random() < 0.4 and i + ln <= n:
                ents.append({'text': ''.join(toks[i:i + ln]),
                             'offset': [i, i + ln],
                             'type': rng.choice('AB')})
                i += ln
            else:
                i += 1
        cases.append((toks, ents))
    return cases


def test_entity2tag_tag2entity_parity(reference):
    from jionlp_spark.kernels.ner_convert import entity2tag, tag2entity
    fixtures = _fixtures()
    reference.check('entity2tag', fixtures,
                    ref=lambda jio, f: jio.ner.entity2tag(*f),
                    ours=lambda f: entity2tag(*f))
    tagged = [(toks, entity2tag(toks, ents)) for toks, ents in fixtures]
    reference.check('tag2entity', tagged,
                    ref=lambda jio, f: jio.ner.tag2entity(*f),
                    ours=lambda f: tag2entity(*f))


def test_tag2entity_malformed_parity(reference):
    from jionlp_spark.kernels.ner_convert import tag2entity
    toks = list('一二三四五')
    reference.check(
        'tag2entity',
        map(list, itertools.product(['O', 'B-A', 'I-A', 'E-A', 'S-A'],
                                    repeat=5)),
        ref=lambda jio, tags: jio.ner.tag2entity(toks, tags),
        ours=lambda tags: tag2entity(toks, tags))


def test_char2word_word2char_parity(reference):
    from jionlp_spark.kernels.ner_convert import char2word, word2char
    char_ents = [{'text': '胡静静', 'offset': [0, 3], 'type': 'Person'},
                 {'text': '江西红叶建筑公司', 'offset': [5, 13],
                  'type': 'Company'},
                 # straddles a word boundary → dropped by char2word
                 {'text': '欢江', 'offset': [4, 6], 'type': 'X'}]
    words = ['胡静静', '喜欢', '江西', '红叶', '建筑', '公司']
    got = char2word(char_ents, words)
    reference.check('char2word', [char_ents],
                    ref=lambda jio, ents: jio.ner.char2word(ents, words),
                    ours=lambda ents: char2word(ents, words))
    reference.check('word2char', [got],
                    ref=lambda jio, ents: jio.ner.word2char(ents, words),
                    ours=lambda ents: word2char(ents, words))
    # round trip for non-conflicting entities
    assert [e['text'] for e in word2char(got, words)] == \
        ['胡静静', '江西红叶建筑公司']


def test_entity_f1():
    from jionlp_spark.kernels.ner_convert import entity_f1
    gold = [{'offset': [0, 3], 'type': 'P'}, {'offset': [4, 7], 'type': 'O'}]
    pred = [{'offset': [0, 3], 'type': 'P'}, {'offset': [4, 7], 'type': 'X'}]
    m = entity_f1(gold, pred)
    assert m['tp'] == 1 and m['precision'] == 0.5 and m['recall'] == 0.5


def _raises(fn, *args):
    try:
        fn(*args)
    except Exception:
        return True
    return False


def test_cws_converters_parity(reference):
    from jionlp_spark.kernels.ner_convert import cws_tag2word, cws_word2tag
    word_lists = [
        ['他', '指出', '：', '近', '几', '年', '来', '，', '足球场',
         '风气', '差劲', '。'],
        ['一个', '词'], ['单'], ['超长词汇测试', '。'],
    ]
    # the reference word2tag crashes on numpy>=1.24 (np.unicode removed,
    # cws_data_converter.py:56); our port implements the documented
    # semantics and must round-trip through the reference's tag2word.
    # The certified tree asserted that crash, so its golden is True.
    assert reference.outputs(
        'word2tag raises', [word_lists[0]],
        ref=lambda jio, wl: _raises(jio.cws.word2tag, wl),
        ours=lambda wl: True) == [True]
    cases = []
    for wl in word_lists:
        chars, tags = cws_word2tag(wl)
        assert chars == ''.join(wl)
        assert cws_tag2word(chars, tags) == wl
        cases.append((chars, tags))
    # malformed BI sequences: replay the reference exactly
    cases += [('一二三四五六', list(tags))
              for tags in itertools.product('BI', repeat=6)]
    # unknown tag → early return
    cases.append(('一二三', ['B', 'X', 'B']))
    reference.check('tag2word', cases,
                    ref=lambda jio, c: jio.cws.tag2word(*c),
                    ours=lambda c: cws_tag2word(*c))


def test_entity_compare_reference_fixture(reference):
    from jionlp_spark.kernels.ner_convert import entity_compare
    text = '张三在西藏拉萨游玩！之后去新疆。'
    labeled = [
        {'text': '西藏拉萨', 'offset': [3, 7], 'type': 'Location'},
        {'text': '张三', 'offset': [0, 4], 'type': 'Person'},
        {'text': '新疆', 'offset': [13, 15], 'type': 'Location'}]
    predicted = [
        {'text': '张三在', 'offset': [2, 15], 'type': 'Person'},
        {'text': '西藏拉萨', 'offset': [3, 7], 'type': 'Person'},
        {'text': '。', 'offset': [15, 16], 'type': 'Location'}]
    reference.check(
        'entity_compare', [1, 3, 10],
        ref=lambda jio, pad: jio.ner.entity_compare(text, labeled, predicted,
                                                    context_pad=pad),
        ours=lambda pad: entity_compare(text, labeled, predicted,
                                        context_pad=pad))


def test_entity_compare_fuzz_parity(reference):
    """Seeded random span sets through both implementations — pins the
    quirk branches (missing-after-all-preds never reported; leading
    spurious pred paired with the first labeled entity)."""
    import random
    from jionlp_spark.kernels.ner_convert import entity_compare
    rng = random.Random(20260816)
    text = ''.join(rng.choice('甲乙丙丁戊') for _ in range(40))

    def spans(k):
        out = []
        for _ in range(k):
            s = rng.randrange(0, 38)
            e = rng.randrange(s + 1, min(s + 6, 40))
            out.append({'text': text[s:e], 'offset': [s, e],
                        'type': rng.choice(('A', 'B'))})
        return out

    cases = [(spans(rng.randrange(0, 4)), spans(rng.randrange(0, 4)))
             for _ in range(300)]
    reference.check(
        'entity_compare', cases,
        ref=lambda jio, c: jio.ner.entity_compare(text, *c, context_pad=2),
        ours=lambda c: entity_compare(text, *c, context_pad=2))
