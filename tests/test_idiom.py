"""Idiom-solitaire parity vs the live reference: same seeded RNG streams,
same chaining state, same flag combinations."""

import hashlib
import os
import random

import numpy as np


def _fresh_ref(jio):
    # the reference exposes a stateful singleton; rebuild a private instance
    # so already_used state starts clean
    from jionlp.gadget.idiom_solitaire import IdiomSolitaire as RefIdiom
    return RefIdiom()


def _fresh_ours():
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.chartext import Pinyin
    from jionlp_spark.kernels.idiom import IdiomSolitaire
    entries = lexicons.load_idioms('/root/reference/jionlp/dictionary')
    phrase, pchar, _rad = lexicons.load_char_info(
        '/root/reference/jionlp/dictionary')
    return IdiomSolitaire(entries, pinyin_fn=Pinyin(phrase, pchar))


def test_idiom_solitaire_parity(jio):
    ref = _fresh_ref(jio)
    ours = _fresh_ours()
    ref('见异思迁')  # force lazy _prepare before aligning streams

    # chained weighted picks (numpy RNG): restart both sides, then drive
    # the SAME call sequence against the same seeded stream
    np.random.seed(11)
    cur = '见异思迁'
    ref_chain = []
    r = ref(cur, restart=True, with_prob=True)
    ref_chain.append(r)
    for _ in range(4):
        r = ref(r, with_prob=True)
        ref_chain.append(r)

    np.random.seed(11)
    cur = '见异思迁'
    got_chain = []
    g = ours(cur, restart=True, with_prob=True)
    got_chain.append(g)
    for _ in range(4):
        g = ours(g, with_prob=True)
        got_chain.append(g)
    assert ref_chain == got_chain, (ref_chain, got_chain)

    # uniform picks (stdlib RNG), tone-insensitive
    random.seed(21)
    r1 = ref('胸有成竹', restart=True, with_prob=False, same_tone=False)
    random.seed(21)
    g1 = ours('胸有成竹', restart=True, with_prob=False, same_tone=False)
    assert r1 == g1

    # char-level chaining, check_idiom behaviors
    random.seed(31)
    r2 = ref('不是成语啊', restart=True, check_idiom=True)
    random.seed(31)
    g2 = ours('不是成语啊', restart=True, check_idiom=True)
    assert r2 == g2 == 'wrong input idiom'
    np.random.seed(41)
    r3 = ref('胸有成竹', restart=True, same_pinyin=False, with_prob=True)
    np.random.seed(41)
    g3 = ours('胸有成竹', restart=True, same_pinyin=False, with_prob=True)
    assert r3 == g3


def _idioms_digest(entries):
    """Digest of an idiom table as list-of-dicts equality sees it."""
    return hashlib.sha256(repr([sorted(e.items()) for e in entries])
                          .encode()).hexdigest()


def test_idiom_vendored_equals_full(reference):
    """The vendored idiom table is the full reference table: live, against
    the reference dictionary; in golden mode, against the digest of the
    full table certified when this equality held with it present."""
    from jionlp_spark import lexicons
    reference.check(
        'load_idioms digest', ['idiom.txt'],
        ref=lambda jio, _: _idioms_digest(lexicons.load_idioms(
            os.path.join(os.path.dirname(jio.__file__), 'dictionary'))),
        ours=lambda _: _idioms_digest(lexicons.load_idioms()))


def test_idiom_query_literals(jio):
    """Anchor the idiom_next oracle literals to the reference RNG stream."""
    import __spark_entry__ as entry
    ref = _fresh_ref(jio)
    ref('见异思迁')  # prepare
    for i, (idiom, expect) in enumerate(zip(entry._IDIOM_IN,
                                            entry._IDIOM_OUT)):
        np.random.seed(i)
        assert ref(idiom, restart=True, with_prob=True) == expect, (i, idiom)
