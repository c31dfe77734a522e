"""LocationRecognizer parity vs the reference — the jiojio POS stage is
stubbed on the REFERENCE side to emit the same candidate words our port
takes directly, so outputs must match structure-for-structure."""

import os
import sys

import pytest

REF_DICTS = '/root/reference/jionlp/dictionary'

WORD_LISTS = [
    # the reference docstring example (:68-105)
    ['成都市', '中国', '日本', '日本', '日本', '韩国', '东京', '尚家村'],
    ['北京', '朝阳', '朝阳', '海淀区', '上海市'],
    ['斯里兰卡', '科伦坡', '西藏', '拉萨', '拉萨'],
    ['洪家村', '不存在地名'],
    [],
    ['襄阳市', '襄城区', '武汉', '湖北省', '湖北省'],
    ['美国', '华盛顿', '纽约', '法国', '巴黎', '巴黎'],
]


@pytest.fixture(scope='module')
def mine_full():
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.locrec import (LocationRecognizer,
                                             build_china_map,
                                             build_world_map)
    china = build_china_map(lexicons.load_admin_divisions(REF_DICTS))
    world = build_world_map(lexicons.load_world_locations(REF_DICTS))
    return LocationRecognizer(china, world)


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_recognizer_parity_vs_reference(jio, mine_full):
    from jionlp.gadget.location_recognizer import LocationRecognizer \
        as RefRec

    ref = RefRec()
    for words in WORD_LISTS:
        sys.modules['jiojio'].cut = \
            lambda _text, _w=words: [(w, 'ns') for w in _w]
        got_ref = ref('占位文本')
        got_mine = mine_full(words)
        assert got_ref == got_mine, words


def test_recognizer_vendored_smoke():
    """Vendored-slice maps: the must-keep cities resolve and counts
    aggregate up-level."""
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.locrec import (LocationRecognizer,
                                             build_china_map,
                                             build_world_map)
    rec = LocationRecognizer(
        build_china_map(lexicons.load_admin_divisions()),
        build_world_map(lexicons.load_world_locations()))
    res = rec(['北京市', '海淀区', '海淀区', '日本', '东京', 'xx村'])
    assert res['domestic'][0][0]['county'] == '海淀区'
    # 北京市 expands to a province-level AND a city-level candidate
    # (直辖市), each merging its count into the longer 海淀区: 2+1+1
    assert res['domestic'][0][1] == 4
    assert res['foreign'][0][0] == {'country': '日本', 'city': '东京'}
    assert res['others'] == {'xx村': 1}


def test_query_literals():
    """Pin the kg_recognize_location_full oracle literals to the kernel
    over the vendored maps (the operator's runtime configuration)."""
    import __spark_entry__ as entry
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.locrec import (LocationRecognizer,
                                             build_china_map,
                                             build_world_map)
    rec = LocationRecognizer(
        build_china_map(lexicons.load_admin_divisions()),
        build_world_map(lexicons.load_world_locations()))
    for ws, want in zip(entry._LOCREC_CASES, entry._LOCREC_EXPECTED):
        res = rec(list(ws))
        dom = (res['domestic'] or [[{}, None]])[0]
        fr = (res['foreign'] or [[{}, None]])[0]
        others = ','.join(
            f'{w}:{c}' for w, c in sorted((res['others'] or {}).items()))
        got = (dom[0].get('province'), dom[0].get('city'),
               dom[0].get('county'), dom[1], fr[0].get('country'),
               fr[0].get('city'), fr[1], others)
        assert got == want, ws


@pytest.mark.skipif(not os.path.isdir(REF_DICTS),
                    reason=f'reference dictionaries not found at {REF_DICTS}')
def test_recognizer_fuzz_parity(jio, mine_full):
    """300 random word lists from a mixed pool (ambiguous aliases,
    直辖市, world cities that shadow china names, unknowns) — structure
    equality against the reference on every one."""
    import random

    from jionlp.gadget.location_recognizer import LocationRecognizer \
        as RefRec

    pool = ['北京', '北京市', '朝阳', '朝阳区', '朝阳市', '海淀区',
            '上海', '上海市', '嘉定区', '广州', '广州市', '深圳',
            '武汉', '武汉市', '湖北省', '襄阳市', '襄樊市', '襄城区',
            '中国', '日本', '东京', '韩国', '首尔', '美国', '华盛顿',
            '纽约', '法国', '巴黎', '斯里兰卡', '科伦坡', '西藏',
            '拉萨', '尚家村', '红旗渠', '某某地', '成都市', '四川省']
    rng = random.Random(42)
    ref = RefRec()
    for _ in range(300):
        words = [rng.choice(pool)
                 for _ in range(rng.randrange(0, 12))]
        sys.modules['jiojio'].cut = \
            lambda _t, _w=words: [(w, 'ns') for w in _w]
        assert ref('x') == mine_full(words), words


def test_pos_boundary_candidate_coverage():
    """Quantify the jiojio-POS injected boundary (r4 verdict item 4).

    The reference generates recognizer candidates from jiojio's ns POS
    tags (gadget/location_recognizer.py:386-387); this repo feeds
    lexicon-NER mention surfaces.  The jiojio model cannot run here, so
    the honest measurable is CANDIDATE COVERAGE over the recognizer's own
    admin maps — the only words whose candidacy affects the
    domestic/foreign outputs (non-admin ns words land in the `others`
    bucket in the reference and nowhere else):

    - china admin names + aliases via the production china trie:
      1138/1140 = 0.998 recall (both misses are FMM leftmost-longest
      shadowing by the carrier text — '从'+'化隆' matches '从化' first —
      the same greediness the reference's own LexiconNER has);
    - world countries/capitals via the china-only trie: ~0 — feeding the
      full recognizer requires the combined china+world trie
      (lexicons.world_ner_words), which scores 385/385 = 1.0;
    - out-of-dictionary place words (长江, 中关村, ...): 0 recall —
      documented `others`-bucket-only divergence;
    - homograph probes (朝阳产业, 中山装, 吉林大学): spurious candidates
      the POS tagger would filter — counted here as the precision cost.
    """
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.trie import build_trie

    china = lexicons.location_ner_words()
    world = lexicons.world_ner_words()
    trie_cn = build_trie({'location': china})
    trie_all = build_trie({'location': sorted(set(china) | set(world))})

    def recall(names, trie):
        hit = [nm for nm in names
               if any(m['text'] == nm for m in trie.scan_fmm(
                   f'记者昨日从{nm}返回并撰写了报道'))]
        return hit

    hit_cn = recall(china, trie_cn)
    assert len(hit_cn) / len(china) >= 0.99
    assert sorted(set(china) - set(hit_cn)) == ['化隆', '化隆回族自治县']

    hit_world_cn = recall(world, trie_cn)
    assert len(hit_world_cn) <= 5  # china-only trie can't drive foreign
    hit_world = recall(world, trie_all)
    assert len(hit_world) == len(world)

    oov = ['长江', '黄河', '泰山', '珠穆朗玛峰', '太平洋', '中关村',
           '解放碑', '外滩', '天安门', '陆家嘴', '黄浦江', '华山']
    oov = [w for w in oov if w not in set(china) | set(world)]
    assert len(oov) >= 10
    assert recall(oov, trie_all) == []  # others-bucket-only divergence

    probes = ['这是一个朝阳产业发展的好时机', '他穿着一身中山装出席了会议',
              '吉林大学的学者发表了论文', '这家公司的前景如日中天',
              '会议讨论了经济发展问题', '他们在讨论新的技术方案']
    fp = sum(len(trie_all.scan_fmm(s)) for s in probes)
    assert fp <= len(probes)  # bounded homograph noise, vote-dampened
