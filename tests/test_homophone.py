"""Homophone-substitution parity vs the reference.

The one substituted component (jiojio.cut → FMM over the
word-distribution vocabulary) is injected into BOTH sides: the reference
HomophoneSubstitution runs with ``jiojio.cut`` stubbed to our kernel's
``cut``, its own Pinyin (full dicts) and its own word_distribution file —
so byte-identical outputs prove the dict construction, RNG stream, and
substitution logic are exact, and that the vendored precomputed pinyin
matches the reference's in-process pinyin pass."""

import os
import sys

import numpy as np
import pytest

REF_DICTS = '/root/reference/jionlp/dictionary'

TEXTS = [
    '中国驻英记者一向恪守新闻职业道德，为增进两国人民之间的了解和沟通发挥了积极作用。',
    '人口危机如果无法得到及时解决，大家将受到巨大的冲击。',
    '今天天气很好，我们一起去公园散步，顺便讨论最新的工作安排。',
    '数据增强可以提高模型的泛化能力，同音词替换是一种常见的方法。',
]


@pytest.fixture(scope='module')
def mine():
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.chartext import Pinyin
    from jionlp_spark.kernels.homophone import HomophoneSubstitution
    wd = lexicons.load_word_distribution()
    phrase, pchar, _rad = lexicons.load_char_info()
    return HomophoneSubstitution(wd, rng=np.random,
                                 pinyin=Pinyin(phrase, pchar))


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_homophone_parity_vs_reference(jio, mine):
    from jionlp.textaug.homophone_substitution import HomophoneSubstitution \
        as RefHomophone
    sys.modules['jiojio'].cut = mine.cut

    ref = RefHomophone()
    for seed in (1, 7):
        for text in TEXTS:
            np.random.seed(seed)
            # bypass the reference's lazy seed bookkeeping: seed the
            # global stream identically before each call on both sides
            got_ref = ref(text, augmentation_num=3, seed=0)
            np.random.seed(seed)
            got_mine = mine(text, augmentation_num=3, seed=0)
            assert got_mine == got_ref, (seed, text)
            assert any(g != text for g in got_mine) or got_mine == []


def test_homophone_deterministic_per_rng(mine):
    """Injected RandomState streams are reproducible and differ by seed."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.homophone import HomophoneSubstitution
    wd = lexicons.load_word_distribution()
    a1 = HomophoneSubstitution(wd, rng=np.random.RandomState(5))(TEXTS[0])
    a2 = HomophoneSubstitution(wd, rng=np.random.RandomState(5))(TEXTS[0])
    b = HomophoneSubstitution(wd, rng=np.random.RandomState(6))(TEXTS[0])
    assert a1 == a2
    assert a1 != b


def test_homophone_substitutes_homophones(mine):
    """Substituted segments keep (a variant of) their pinyin."""
    np.random.seed(3)
    text = TEXTS[1]
    outs = mine(text, augmentation_num=3, seed=0)
    assert outs, 'expected at least one augmentation'
    for out in outs:
        assert out != text
        assert len(out) > 0


def test_query_literals(mine):
    """Pin the textaug_homophone oracle literals to the kernel stream
    (same construction as the driver query: RandomState(0 + seed_id),
    homo_ratio=0.1, augmentation_num=2)."""
    import __spark_entry__ as entry
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.homophone import HomophoneSubstitution
    wd = lexicons.load_word_distribution()
    for i, (t, want) in enumerate(zip(entry._HOMO_IN, entry._HOMO_OUT)):
        aug = HomophoneSubstitution(wd, rng=np.random.RandomState(i),
                                    homo_ratio=0.1)
        assert '|'.join(aug(t, augmentation_num=2)) == want, i


def test_oov_char_fallback(mine):
    """Chars absent from the word distribution but present in the full
    char dict (277 of them) get real pinyin via the kernel fallback —
    matching the reference, which pinyins every segment through its full
    dicts — instead of the ('','') veto (ADVICE r4)."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.homophone import HomophoneSubstitution
    assert mine._seg_pinyin('匆') == [('c', 'ong')]
    assert mine._seg_pinyin('叛') == [('p', 'an')]
    # without a kernel the veto remains (documented narrow boundary)
    wd = lexicons.load_word_distribution()
    bare = HomophoneSubstitution(wd, rng=np.random.RandomState(0))
    assert bare._seg_pinyin('匆') == [('', '')]


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_homophone_fuzz_parity(jio, mine):
    """100 random Chinese texts × random seeds — byte-identical outputs
    vs the reference with segmentation shared (cut stubbed to FMM)."""
    import random

    from jionlp.textaug.homophone_substitution import HomophoneSubstitution \
        as RefHomophone
    sys.modules['jiojio'].cut = mine.cut

    frag = ['人口', '危机', '新闻', '记者', '一向', '恪守', '道德',
            '增进', '人民', '了解', '沟通', '发挥', '积极', '作用',
            '数据', '增强', '模型', '泛化', '能力', '方法', '工作',
            '安排', '今天', '天气', '很好', '公园', '散步', '，', '。',
            # out-of-distribution single chars with real pinyin — these
            # veto substitution without the Pinyin-kernel fallback but
            # consume RNG draws in the reference (see
            # test_oov_char_fallback); parity must hold across them
            '匆', '叛', '凄']
    rng = random.Random(7)
    ref = RefHomophone()
    for i in range(100):
        text = ''.join(rng.choice(frag)
                       for _ in range(rng.randrange(3, 20)))
        seed = rng.randrange(1, 1000)
        np.random.seed(seed)
        got_ref = ref(text, augmentation_num=2, homo_ratio=0.1, seed=0)
        np.random.seed(seed)
        got_mine = mine(text, augmentation_num=2, homo_ratio=0.1, seed=0)
        assert got_ref == got_mine, (i, seed, text)
