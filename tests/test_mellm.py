"""MELLM parity vs the reference (pure-numpy EM core, no network).

The reference MELLM's run_whole / run_singular consume a prebuilt
grading matrix — exactly the stub boundary our port draws (API calls
produce the matrix; everything downstream is deterministic math).  Parity
here is float-exact array equality on randomized matrices."""

import numpy as np
import pytest


def _synthetic_matrix(n=4, m=6, seed=0):
    rng = np.random.RandomState(seed)
    g = rng.randint(1, 6, size=(n, n, m)).astype(float)
    g += rng.randint(0, 2, size=(n, n, m)) * 0.5
    for i in range(n):
        g[i, i, :] = 0.0  # no self-grading (reference build_grading_matrix)
    return g


def _ref_mellm(jio, n, m):
    from jionlp.algorithm.mellm.mellm import MELLM
    names = [f'llm{i}' for i in range(n)]
    questions = [{'score': 5, 'question': f'q{k}'} for k in range(m)]
    return MELLM(names, [None] * n, questions)


def _arrays(*arrays):
    """Float-exact projection: lists of Python floats compare (and round-
    trip through repr) exactly as np.array_equal compares the arrays."""
    return tuple(np.asarray(a).tolist() for a in arrays)


@pytest.mark.parametrize('seed', [0, 1, 2])
def test_run_whole_parity(reference, seed):
    from jionlp_spark.kernels.mellm import run_whole
    n, m = 4, 6

    def ref(jio, seed):
        g = _synthetic_matrix(n, m, seed)
        r = _ref_mellm(jio, n, m)
        r.run_whole(g, np.zeros(n))
        return _arrays(r.total_score, r.weight_matrix, r.llm_average_scores,
                       r.llm_variance)

    def ours(seed):
        got = run_whole(_synthetic_matrix(n, m, seed), np.zeros(n))
        return _arrays(got['total_score'], got['weight'],
                       got['average_scores'], got['variance'])

    reference.check('run_whole', [seed], ref=ref, ours=ours)


@pytest.mark.parametrize('seed', [0, 3])
def test_run_singular_parity(reference, seed):
    from jionlp_spark.kernels.mellm import run_singular
    n, m = 4, 5

    def ref(jio, seed):
        g = _synthetic_matrix(n, m, seed)
        r = _ref_mellm(jio, n, m)
        r.max_epoch = 5  # singular mode never converges (reference :441
        r.run_singular(g, np.zeros(n))  # quirk) — cap the epochs
        return _arrays(r.total_score, r.weight_matrix, r.llm_average_scores)

    def ours(seed):
        got = run_singular(_synthetic_matrix(n, m, seed), np.zeros(n),
                           max_epoch=5)
        return _arrays(got['total_score'], got['weight'],
                       got['average_scores'])

    reference.check('run_singular', [seed], ref=ref, ours=ours)
    got = run_singular(_synthetic_matrix(n, m, seed), np.zeros(n),
                       max_epoch=5)
    assert got['epochs'] == 6  # max_epoch + 1: the quirk preserved


def test_normalize_grading_score():
    """The reference's own normalizers are inoperative
    (normalize_grading_result references nonexistent attributes
    mellm.py:213-237; norm_test prints and returns None :239-276), so
    the port asserts the documented semantics directly."""
    from jionlp_spark.kernels.mellm import normalize_grading_score as norm
    assert norm('4 分') == 4.0
    assert norm('四分。') == 4.0
    assert norm('这个答案可以得2分') == 2.0
    assert norm('4.5 分') == 4.5
    assert norm('四点五 分') == 4.5
    assert norm('1.5。') == 1.5
    assert norm('满分五分') == 5.0
    with pytest.raises(ValueError):
        norm('no score here')
    with pytest.raises(ValueError):
        norm('四点三 分')  # only .5 fractions in 点 form


def test_query_literals():
    """Pin the mellm_scores oracle literals to the kernel: rebuild the
    deterministic grade matrix from the query's own row generator and
    re-run the EM without Spark."""
    import __spark_entry__ as entry
    from jionlp_spark.kernels.mellm import (normalize_grading_score,
                                            run_whole)
    g = np.zeros((4, 4, 24))
    errs = np.zeros(4)
    for grader, graded, q, t in entry._mellm_grade_rows():
        i, j = int(grader[3]), int(graded[3])
        try:
            g[i, j, q] = normalize_grading_score(t)
        except ValueError:
            errs[i] += 1
    res = run_whole(g, errs)
    got = tuple(
        (f'llm{i}', round(res['total_score'][i], 6),
         round(res['weight'][i], 6), round(res['variance'][i], 6),
         res['epochs'])
        for i in range(4))
    assert got == entry._MELLM_EXPECTED


def test_mutual_evaluation_empty_and_duplicate_guards(spark):
    """ADVICE r4: empty grade tables return an empty result (not a NaN
    IndexError), and duplicate (grader, graded, question) keys raise
    instead of resolving last-write-wins in nondeterministic row order."""
    from jionlp_spark.operators.mellm import mutual_evaluation
    schema = ('grader string, graded string, question_idx int, '
              'grade_text string')
    empty = spark.createDataFrame([], schema)
    out = mutual_evaluation(spark, empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        'llm', 'total_score', 'weight', 'variance', 'epochs']

    dup = spark.createDataFrame(
        [('a', 'b', 0, '4分'), ('a', 'b', 0, '5分'), ('b', 'a', 0, '3分')],
        schema)
    with pytest.raises(ValueError, match='duplicate grading rows'):
        mutual_evaluation(spark, dup)
