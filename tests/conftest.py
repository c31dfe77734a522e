"""Shared fixtures.

Reference parity runs in one of two modes, chosen per session:

- **live**: the reference library ``jionlp`` imports, and every parity test
  calls it for its expected outputs;
- **golden**: it does not, and the tests that take the ``reference`` fixture
  read the reference's outputs from ``tests/golden/<module>.json``.  Those
  files hold a digest of each input list plus the ``repr`` of each
  reference output, written only by ``tests/golden/capture.py``.  A missing
  golden, or inputs that differ from the recorded ones, fail the test.

Tests that take ``jio`` directly are live-only: they skip when ``jionlp``
does not import (README.md, "Correctness", says which and why).
"""

import ast
import hashlib
import json
import sys
import types
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
GOLDEN_DIR = Path(__file__).resolve().parent / 'golden'

# `__spark_entry__` and `jionlp_spark` come from this checkout, whatever the
# working directory or the other trees on sys.path.
if sys.path[0] != str(REPO_ROOT):
    sys.path.insert(0, str(REPO_ROOT))


def _import_jionlp():
    """The reference library, or None when it does not import.

    JioNLP pulls `jiojio` (a CWS model package, not installed and not needed
    for the rule/gadget paths we compare against); stub it so the import
    succeeds.  The reference tree is read-only public content used purely as
    an expected-output generator.
    """
    sys.path.insert(0, '/root/reference')
    fake = types.ModuleType('jiojio')
    fake.init = lambda *a, **k: None
    sys.modules.setdefault('jiojio', fake)
    try:
        import jionlp
    except ImportError:
        return None
    return jionlp


@pytest.fixture(scope='session')
def spark():
    from jionlp_spark.config import get_spark
    s = get_spark('tests', master='local[4]', shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope='session')
def live_jionlp():
    return _import_jionlp()


@pytest.fixture(scope='session')
def jio(live_jionlp):
    """The reference library as a live oracle; skips without it."""
    return pytest.importorskip(
        'jionlp', reason='jionlp (the reference library) does not import; '
        'this parity test runs only against the live reference')


def reprs_digest(reprs):
    return hashlib.sha256('\n'.join(reprs).encode('utf-8')).hexdigest()


class Reference:
    """Serves one test the reference's outputs on its inputs.

    ``ref(jio, x)`` computes the reference output for input ``x`` from the
    live library; ``ours(x)`` computes the same projection from our kernels.
    Both must project the same way (spans, ``str(detail)``, outcome kind),
    so a golden records exactly what the live comparison compares.
    """

    def __init__(self, jionlp, golden_path, test_name, capture=None):
        self.jio = jionlp
        self.golden_path = Path(golden_path)
        self.test_name = test_name
        self.capture = capture

    def outputs(self, key, inputs, ref, ours):
        """The reference outputs for ``inputs``, one per input."""
        inputs = list(inputs)
        case = f'{self.test_name}:{key}'
        if self.capture is not None:
            shown = [repr(x) for x in inputs]  # before a call can mutate x
            if self.capture.from_commit:
                outs = [ours(x) for x in inputs]
            else:
                outs = [ref(self.jio, x) for x in inputs]
            self.capture.record(self.golden_path.stem, case, shown, outs)
            return outs
        if self.jio is not None:
            return [ref(self.jio, x) for x in inputs]
        return self._golden(case, inputs)

    def check(self, key, inputs, ref, ours):
        """Assert ``ours(x)`` equals the reference output for every input."""
        inputs = list(inputs)
        want = self.outputs(key, inputs, ref, ours)
        for x, w in zip(inputs, want):
            got = ours(x)
            assert got == w, (key, x, w, got)

    def _golden(self, case, inputs):
        path = self.golden_path
        if not path.is_file():
            pytest.fail(f'golden file {path} is missing; jionlp does not '
                        'import, so there is nothing to compare against '
                        '(recapture with tests/golden/capture.py)')
        cases = json.loads(path.read_text(encoding='utf-8'))['cases']
        if case not in cases:
            pytest.fail(f'{path} has no case {case!r}; recapture this module '
                        'with tests/golden/capture.py')
        rec = cases[case]
        if rec['inputs_sha256'] != reprs_digest(map(repr, inputs)):
            pytest.fail(f'{case}: the generated inputs differ from the ones '
                        f'recorded in {path} ({len(inputs)} now, '
                        f"{rec['n']} recorded)")
        return [ast.literal_eval(r) for r in rec['outputs']]


@pytest.fixture
def reference(request, live_jionlp):
    capture = request.config.pluginmanager.get_plugin('golden_capture')
    golden = GOLDEN_DIR / (Path(str(request.node.fspath)).stem + '.json')
    return Reference(live_jionlp, golden, request.node.name, capture)


@pytest.fixture(scope='session')
def sample_texts():
    """Deterministic fixture texts: the synthetic corpus' sentence pool plus
    adversarial strings (nested brackets, full-width, redundant runs, fake
    positives)."""
    from jionlp_spark.sources.pages import _Pools, _make_row
    pools = _Pools()
    texts = [_make_row(i, 42, pools)[3] for i in range(300)]
    texts += [
        '',
        '（记者 小丽）ＡＢＣ全角　测试\n\n\n哈哈哈哈哈【套话】',
        'abc<span style="x">def</span>(nested(paren))end〔bracket〕',
        '一点也不好，三点五度，调高24点5度',  # time fake positives
        '三块砖不是钱，87.53元是钱',
        'QQ号不出现时 987654321 不是QQ',
        '加QQ 987654321 是QQ',
        'https://v.douyin.com/RtKFFah/ 和 www.baidu.com。',
        '电  话：19866220901，E-mail: zhang.san-01@sub.example.com。',
        '鄂A·1234x5 粤BD12345 川A23047B',
        '0.0.0.0 和 255.255.255.256 和 10.0.12.255',
        '<p>段落</p><br>文字<table><tr><td>表</td></tr></table>',
        'a<b，b>c 数学不是标签',
    ]
    return texts
