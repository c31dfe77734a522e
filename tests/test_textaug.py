"""Text-augmentation kernel parity: with the global numpy RNG seeded
identically, our ports must consume the exact same RNG stream as the
reference and emit identical augmentations."""

import hashlib

import numpy as np


TEXTS = ['民盟发言人：昂山素季目前情况良好',
         '孙俪晒11年对比照庆领证纪念日，邓超被指沧桑。',
         '中文 english 混排 text 内容，标点。',
         '短']


def _seeded(seed, fn, *args, **kw):
    np.random.seed(seed)
    return fn(*args, **kw)


def test_swap_char_position_parity(reference):
    from jionlp_spark.kernels.textaug import SwapCharPosition
    ours = SwapCharPosition(swap_ratio=0.08, scale=1.0, seed=1)
    reference.check(
        'swap_char_position', TEXTS,
        ref=lambda jio, t: _seeded(101, jio.swap_char_position, t,
                                   augmentation_num=3, swap_ratio=0.08,
                                   seed=1, scale=1.0),
        ours=lambda t: _seeded(101, ours, t, augmentation_num=3))


def _dist_digest(dist):
    """Order-free digest of a char distribution (dict equality)."""
    return hashlib.sha256(repr(sorted(
        (c, sorted(v.items())) for c, v in dist.items())).encode()).hexdigest()


def _ref_dist_digest(jio, _):
    from jionlp.dictionary import char_distribution_loader
    return _dist_digest(char_distribution_loader())


def test_random_add_delete_parity(reference):
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.textaug import RandomAddDelete
    # our side runs on the vendored distribution, once it is shown equal to
    # the reference's
    dist = lexicons.load_char_distribution()
    assert reference.outputs(
        'char_distribution digest', ['char_distribution'],
        ref=_ref_dist_digest, ours=lambda _: _dist_digest(dist)) == \
        [_dist_digest(dist)]
    ours = RandomAddDelete(dist, add_ratio=0.05, delete_ratio=0.05, seed=0)

    def ref(jio, t):
        # reference lazy-_prepares on first call (seed=0 skips reseeding)
        jio.random_add_delete(TEXTS[0], augmentation_num=1, seed=0,
                              add_ratio=0.05, delete_ratio=0.05)
        return _seeded(202, jio.random_add_delete, t, augmentation_num=3,
                       seed=0, add_ratio=0.05, delete_ratio=0.05)

    reference.check('random_add_delete', TEXTS, ref=ref,
                    ours=lambda t: _seeded(202, ours, t, augmentation_num=3))


def test_random_add_delete_vendored_dict(reference):
    """The vendored char_distribution must equal the reference's."""
    from jionlp_spark import lexicons
    reference.check(
        'char_distribution digest', ['char_distribution'],
        ref=_ref_dist_digest,
        ours=lambda _: _dist_digest(lexicons.load_char_distribution()))


def _replaced(res):
    texts, entity_lists = res
    return texts, [[dict(e) for e in lst] for lst in entity_lists]


def test_replace_entity_parity(reference):
    from jionlp_spark.kernels.textaug import ReplaceEntity
    entities_dict = {
        'Person': {'张三': None, '李雷雷': None, '王五': None},
        'Company': {'红叶公司': None, '蓝天集团': None},
    }
    text = '张三在红叶公司上班。'
    entities = [{'text': '张三', 'offset': [0, 2], 'type': 'Person'},
                {'text': '红叶公司', 'offset': [3, 7], 'type': 'Company'}]

    def ref(jio, t):
        from jionlp.textaug import ReplaceEntity as RefReplaceEntity
        return _replaced(_seeded(303, RefReplaceEntity(entities_dict), t,
                                 entities, augmentation_num=3))

    reference.check(
        'ReplaceEntity', [text], ref=ref,
        ours=lambda t: _replaced(_seeded(303, ReplaceEntity(entities_dict),
                                         t, entities, augmentation_num=3)))


def test_swap_query_literals(jio):
    """Anchor the textaug_swap oracle literals to the reference's RNG
    stream (np.random.seed(s) ≡ RandomState(s))."""
    import __spark_entry__ as entry
    for i, (t, expect) in enumerate(zip(entry._AUG_IN, entry._AUG_OUT)):
        np.random.seed(i)
        ref = jio.swap_char_position(t, augmentation_num=2, swap_ratio=0.08,
                                     seed=1, scale=1.0)
        assert '|'.join(ref) == expect, (i, t, ref)
