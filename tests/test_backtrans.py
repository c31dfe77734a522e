"""Back-translation orchestration parity vs the reference (network
clients stubbed with the same deterministic fake on both sides)."""

import importlib

import pytest

TEXT = '用户可选择是否愿意多等外卖员五分钟，你愿意多等这五分钟吗？'


@pytest.fixture()
def fake_api():
    from jionlp_spark.kernels.backtrans import DeterministicFakeApi
    return DeterministicFakeApi('a')


def _ref_bt(jio):
    return importlib.import_module(
        'jionlp.textaug.back_translation.back_translation').BackTranslation


def test_iter_api_parity(reference, fake_api):
    """Per-api language round-trip loop — exact list equality against the
    reference instance method driving the SAME fake client."""
    from jionlp_spark.kernels.backtrans import iter_api_by_language
    reference.check(
        'iter_api_by_language', [TEXT],
        ref=lambda jio, t: _ref_bt(jio)(mt_apis=[]).iter_api_by_language(
            t, fake_api),
        ours=lambda t: iter_api_by_language(t, fake_api))


def test_filter_parity(reference):
    """filter_results membership parity (the reference iterates a hash
    set — order nondeterministic — so compare as sets; our port sorts)."""
    from jionlp_spark.kernels.backtrans import filter_back_translations
    results = ['短', TEXT + 'x', TEXT + 'x', '',
               TEXT * 4, TEXT[:len(TEXT) // 2]]
    reference.check(
        'filter_results', [results],
        ref=lambda jio, r: sorted(set(
            _ref_bt(jio).filter_results(TEXT, list(r)))),
        ours=lambda r: sorted(set(filter_back_translations(TEXT, list(r)))))
    got = filter_back_translations(TEXT, list(results))
    assert got == sorted(got)


def test_full_orchestration(fake_api):
    """Sequential fan-out over two fake apis: one result per (api,
    foreign lang) minus dedup/length-filter casualties."""
    from jionlp_spark.kernels.backtrans import (BackTranslation,
                                                DeterministicFakeApi)
    bt = BackTranslation([fake_api, DeterministicFakeApi('b')])
    out = bt(TEXT)
    assert len(out) > 0
    # at least one leg must actually mutate (the fr leg may no-op on
    # 的-free text, but en/de legs always edit)
    assert any(o != TEXT for o in out)
    # en leg: first ，→ 。; de leg: trailing 。 appended
    assert TEXT.replace('，', '。', 1) in out
    assert TEXT + '。' in out
    # both apis produce the same edits → dedup collapses them
    assert len(out) == len(set(out))


def test_api_failure_swallowed():
    """A lang whose round-trip raises is skipped (reference :158-163)."""
    from jionlp_spark.kernels.backtrans import (DeterministicFakeApi,
                                                iter_api_by_language)

    class Flaky(DeterministicFakeApi):
        def __call__(self, text, from_lang='zh', to_lang='zh'):
            if to_lang == 'de' or (from_lang == 'de'):
                raise RuntimeError('boom')
            return super().__call__(text, from_lang, to_lang)

    out = iter_api_by_language(TEXT, Flaky('f'))
    assert len(out) == 2  # en + fr survive, de swallowed


def test_query_literals():
    """Pin the textaug_backtrans oracle literals to the kernel (two fake
    clients 'a'/'b', same as the operator default)."""
    import __spark_entry__ as entry
    from jionlp_spark.kernels.backtrans import (BackTranslation,
                                                DeterministicFakeApi)
    bt = BackTranslation([DeterministicFakeApi('a'),
                          DeterministicFakeApi('b')])
    for t, want in zip(entry._BT_IN, entry._BT_OUT):
        assert '|'.join(bt(t)) == want
