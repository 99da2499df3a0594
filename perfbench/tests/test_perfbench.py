"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen, stats  # noqa: E402


def _inputs(seed: int):
    return (
        gen.initial_events(seed, 7, 700, 300),
        gen.day_events(seed, 12, 400, 300),
        gen.restatement(seed, 0, 12, 400, 300).rows,
        gen.corpus(seed, 300).docs,
    )


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _inputs(7), _inputs(7), _inputs(8)
    for x, y, z in zip(a, b, c):
        assert x.equals(y)
        assert not x.equals(z)
    assert gen.corpus(7, 300).exact_dups == gen.corpus(7, 300).exact_dups


def test_planted_ground_truth_is_consistent():
    corpus = gen.corpus(3, 400)
    texts = corpus.docs.column("text").to_pylist()
    originals = set(texts[: min(corpus.exact_dups)])
    assert all(texts[i] in originals for i in corpus.exact_dups)
    assert not set(corpus.contaminated) & set(corpus.exact_dups)
    rest = gen.restatement(3, 1, 15, 400, 300)
    assert rest.matches(rest.rows).all()  # replace_where's contract


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 201))
    assert stats.percentile(xs, 95) == 190  # exactly 10 beyond
    with pytest.raises(stats.TooFewSamples, match="needs >= 200"):
        stats.percentile(xs[:199], 95)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(100)), 95)
    assert stats.tail(list(range(100))) == (90.0, 89.0)
    assert stats.tail(list(range(20))) is None


@pytest.fixture(scope="module")
def oracle():
    o = checks.Oracle(gen.initial_events(5, 6, 700, 200))
    yield o
    o.close()


def test_oracle_catches_a_perturbed_result(oracle):
    for kind in checks.KINDS:
        want = oracle.expected(kind)
        assert checks.rows_equal(list(reversed(want)), want)
        bad = [list(r) for r in want]
        v = bad[0][-1]
        bad[0][-1] = v + 1 if isinstance(v, int) else float(v) * 1.001 + 0.01
        assert not checks.rows_equal([tuple(r) for r in bad], want), kind
        assert not checks.rows_equal(want[1:], want), kind
    windowed = oracle.expected("q4", ("days", gen.day(1).isoformat(), gen.day(2).isoformat()))
    assert not checks.rows_equal(windowed, oracle.expected("q4"))


def test_torn_read_check_catches_a_mismatched_pin(oracle):
    q4_rows = oracle.expected("q4")
    assert checks.torn_read_ok(q4_rows, oracle.fact_rows())
    # a fact pinned at one version against the staging of another
    later = checks.Oracle(gen.initial_events(5, 7, 700, 200))
    try:
        assert not checks.torn_read_ok(q4_rows, later.fact_rows())
    finally:
        later.close()


def test_curate_check_names_kept_duplicates():
    corpus = gen.corpus(2, 200)
    clean = [i for i in range(200) if i not in set(corpus.exact_dups) | set(corpus.contaminated)]
    assert checks.curate_violations(clean, corpus) == []
    leaked = clean + [corpus.exact_dups[0], corpus.contaminated[0]]
    assert checks.curate_violations(leaked, corpus) == sorted(
        [corpus.exact_dups[0], corpus.contaminated[0]]
    )
