"""Capture the reference outputs that golden-mode parity tests compare against.

A golden may come from one of two sources, and this script refuses any
other (in particular the working tree, whose kernels the goldens check):

``python tests/golden/capture.py --live [MODULE ...]``
    ``jionlp`` must import (the reference tree where ``tests/conftest.py``
    looks for it).  Each test's ``ref`` side is recorded; files are stamped
    ``jionlp <version>``.

``python tests/golden/capture.py --checkout DIR [MODULE ...]``
    DIR must be an unmodified git checkout of the certified commit below,
    the round-8 tree whose suite passed all 322 tests with the live
    reference present.  Every golden-mode test asserts equality between
    our output and the reference's on deterministic inputs, so that tree's
    kernel outputs are the reference outputs.  This tree's tests are copied
    into DIR and run there, so they import DIR's ``jionlp_spark``; each
    test's ``ours`` side is recorded, and files are stamped with the commit.

Only tests that take the ``reference`` fixture run.  MODULE names a test
module (``test_plate``); the default is every module that has a golden.
A module is written only if all its tests passed during the capture, and
always whole, so a file never mixes sources.
"""

import argparse
import ast
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

CERTIFIED_COMMIT = 'd44a1c2af347e5f3a3d5c50f142ba597624ade6c'
GOLDEN_DIR = Path(__file__).resolve().parent
TESTS_DIR = GOLDEN_DIR.parent


class GoldenCapture:
    """pytest plugin: keeps only `reference` tests and records their
    outputs; the `reference` fixture finds it by name."""

    def __init__(self, source, from_commit, modules):
        self.__name__ = 'golden_capture'
        self.source = source
        self.from_commit = from_commit
        self.modules = set(modules)
        self.cases = {}
        self.failed = set()

    def record(self, module, case, input_reprs, outputs):
        reprs = [repr(o) for o in outputs]
        for o, r in zip(outputs, reprs):
            if ast.literal_eval(r) != o:
                raise ValueError(f'{case}: {r[:80]} does not round-trip '
                                 'through repr; project it to literals')
        from conftest import reprs_digest
        rec = {'n': len(input_reprs),
               'inputs_sha256': reprs_digest(input_reprs)}
        if sum(map(len, input_reprs)) <= 4000:
            rec['inputs'] = input_reprs
        rec['outputs'] = reprs
        cases = self.cases.setdefault(module, {})
        if case in cases:
            raise ValueError(f'{module}: case {case!r} recorded twice')
        cases[case] = rec

    def pytest_collection_modifyitems(self, config, items):
        keep = [it for it in items if 'reference' in it.fixturenames
                and it.path.stem in self.modules]
        config.hook.pytest_deselected(
            items=[it for it in items if it not in keep])
        items[:] = keep

    def pytest_runtest_logreport(self, report):
        if report.failed:
            self.failed.add(Path(report.fspath).stem)

    pytest_collectreport = pytest_runtest_logreport

    def write(self):
        for module in sorted(self.modules):
            if module in self.failed:
                print(f'NOT written: {module} (a test failed)')
                continue
            if module not in self.cases:
                print(f'NOT written: {module} (no case recorded)')
                continue
            path = GOLDEN_DIR / f'{module}.json'
            with open(path, 'w', encoding='utf-8') as f:
                json.dump({'source': self.source,
                           'cases': self.cases[module]},
                          f, ensure_ascii=False, indent=1)
                f.write('\n')
            print(f'wrote {path} ({len(self.cases[module])} cases)')


def _git(checkout, *args):
    return subprocess.run(['git', '-C', checkout, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def _default_modules():
    return sorted(p.stem for p in GOLDEN_DIR.glob('test_*.json'))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument('--live', action='store_true')
    src.add_argument('--checkout', metavar='DIR')
    ap.add_argument('modules', nargs='*')
    args = ap.parse_args(argv)
    modules = args.modules or _default_modules()
    if not modules:
        ap.error('name the test modules to capture')

    if args.live:
        sys.path.insert(0, str(TESTS_DIR))
        from conftest import _import_jionlp
        jionlp = _import_jionlp()
        if jionlp is None:
            sys.exit('refused: jionlp does not import, and goldens are '
                     'written only from the live reference or --checkout')
        plugin = GoldenCapture(
            f"jionlp {getattr(jionlp, '__version__', 'unknown')}",
            from_commit=False, modules=modules)
        code = pytest.main([str(TESTS_DIR), '-q', '-p', 'no:cacheprovider'],
                           plugins=[plugin])
    else:
        checkout = str(Path(args.checkout).resolve())
        head = _git(checkout, 'rev-parse', 'HEAD')
        if head != CERTIFIED_COMMIT:
            sys.exit(f'refused: {checkout} is at {head}, not the certified '
                     f'commit {CERTIFIED_COMMIT}')
        if _git(checkout, 'status', '--porcelain', '--untracked-files=no'):
            sys.exit(f'refused: {checkout} has modified tracked files')
        plugin = GoldenCapture(f'commit {CERTIFIED_COMMIT}',
                               from_commit=True, modules=modules)
        work = tempfile.mkdtemp(prefix='golden-capture-', dir=checkout)
        try:
            for name in ['conftest', *modules]:
                shutil.copy(TESTS_DIR / f'{name}.py', work)
            os.chdir(checkout)
            sys.path.insert(0, checkout)
            code = pytest.main([work, '-q', '-p', 'no:cacheprovider'],
                               plugins=[plugin])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        imported = sys.modules['jionlp_spark'].__file__
        if not imported.startswith(checkout + os.sep):
            sys.exit(f'refused: the kernels came from {imported}')
    plugin.write()
    return int(code)


if __name__ == '__main__':
    sys.exit(main())
