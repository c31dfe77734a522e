"""The golden files behind golden-mode parity: each names a certified
source, parses back to literals, and a missing golden or changed inputs
fail a test rather than skip it."""

import ast
import json
import shutil

import pytest

from conftest import GOLDEN_DIR, Reference

CERTIFIED = 'commit d44a1c2af347e5f3a3d5c50f142ba597624ade6c'
GOLDENS = sorted(GOLDEN_DIR.glob('test_*.json'))


def test_goldens_exist():
    assert len(GOLDENS) >= 16


@pytest.mark.parametrize('path', GOLDENS, ids=lambda p: p.stem)
def test_golden_names_certified_source_and_parses(path):
    data = json.loads(path.read_text(encoding='utf-8'))
    assert data['source'] == CERTIFIED or data['source'].startswith(
        'jionlp '), data['source']
    assert (GOLDEN_DIR.parent / f'{path.stem}.py').is_file()
    for case, rec in data['cases'].items():
        assert len(rec['outputs']) == rec['n'], case
        for r in rec['outputs']:
            ast.literal_eval(r)


def _golden_reference(tmp_path):
    src = GOLDEN_DIR / 'test_plate.json'
    shutil.copy(src, tmp_path / src.name)
    return Reference(None, tmp_path / src.name, 'test_plate_parity')


def _plate_check(ref, cases):
    from jionlp_spark.kernels.plate import parse_licence_plate
    ref.check('parse_motor_vehicle_licence_plate', cases,
              ref=None, ours=parse_licence_plate)


def test_golden_mode_compares_against_recorded_outputs(tmp_path):
    from test_plate import CASES
    _plate_check(_golden_reference(tmp_path), CASES)


def test_missing_golden_fails(tmp_path):
    from test_plate import CASES
    ref = _golden_reference(tmp_path)
    ref.golden_path.unlink()
    with pytest.raises(pytest.fail.Exception, match='missing'):
        _plate_check(ref, CASES)


def test_changed_inputs_fail(tmp_path):
    from test_plate import CASES
    with pytest.raises(pytest.fail.Exception, match='inputs differ'):
        _plate_check(_golden_reference(tmp_path), CASES[:-1] + ['京A00000'])


def test_unknown_case_fails(tmp_path):
    from test_plate import CASES
    ref = _golden_reference(tmp_path)
    ref.test_name = 'test_renamed'
    with pytest.raises(pytest.fail.Exception, match='no case'):
        _plate_check(ref, CASES)
