"""Scale-stress corpus construction laws (tools/scale_stress_10x.py).

The decade corpora argue scale posture, so their construction must
actually deliver the property the doc claims: every replica applies a
DISTINCT text bijection (within-replica near-dup structure preserved
exactly, cross-replica 3-gram overlap broken), including across the
two composed levels of the round-10 octave (sf1 -> sf10).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from scale_stress_10x import REPLICAS, _rot


def _level_alphabets(level):
    if level == 1:
        return "aeiou", "rstln"
    return "mdgpc", "bhkvw"


def _bijection(level, i):
    """The per-replica char map as a dict (identity off-alphabet)."""
    alpha_a, alpha_b = _level_alphabets(level)
    ka = i % len(alpha_a)
    kb = (i // len(alpha_a)) * 2
    m = {}
    if i > 0:
        m.update(zip(alpha_a, _rot(alpha_a, ka)))
        m.update(zip(alpha_b, _rot(alpha_b, kb)))
    return m


def test_alphabets_disjoint_across_levels():
    l1 = set("aeiou") | set("rstln")
    l2 = set("mdgpc") | set("bhkvw")
    assert l1 & l2 == set()


def test_all_100_composed_bijections_distinct():
    """(L1 replica i, L2 replica j) must give 100 distinct composed
    maps — a collision would make two replicas near-identical and
    quadratically inflate LSH pair output (a workload corruption, not
    a scale-up)."""
    probe = "aeiourstlnmdgpcbhkvw"

    def apply(m, s):
        return "".join(m.get(c, c) for c in s)

    seen = set()
    for i in range(REPLICAS):
        for j in range(REPLICAS):
            m1, m2 = _bijection(1, i), _bijection(2, j)
            seen.add(apply(m2, apply(m1, probe)))
    assert len(seen) == REPLICAS * REPLICAS


def test_each_level_replica_rewrites_most_letters():
    """Every non-identity replica must rewrite a big chunk of common
    English characters — otherwise its clones stay near-dups of the
    source and the dedup exponents measure output explosion, not
    engine scaling."""
    for level in (1, 2):
        alpha_a, alpha_b = _level_alphabets(level)
        for i in range(1, REPLICAS):
            m = _bijection(level, i)
            changed = sum(1 for k, v in m.items() if k != v)
            assert changed >= len(alpha_a), (level, i, m)

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
import pytest  # noqa: E402
pytestmark = pytest.mark.slow
