"""ARI implementation pins (known sklearn adjusted_rand_score values)."""

from tests.oracle import adjusted_rand_index


def test_ari_perfect_match():
    assert adjusted_rand_index([0, 0, 1, 1], [0, 0, 1, 1]) == 1.0
    # label permutation is still a perfect partition match
    assert adjusted_rand_index([0, 0, 1, 1], [7, 7, 3, 3]) == 1.0


def test_ari_orthogonal_partition():
    assert abs(adjusted_rand_index([0, 0, 1, 1], [0, 1, 0, 1]) - (-0.5)) < 1e-12


def test_ari_one_vs_all_singletons():
    assert abs(adjusted_rand_index([0, 0, 0, 0], [0, 1, 2, 3])) < 1e-12


def test_ari_partial():
    # sklearn.metrics.adjusted_rand_score([0,0,1,2],[0,0,1,1]) == 0.5714285714...
    got = adjusted_rand_index([0, 0, 1, 2], [0, 0, 1, 1])
    assert abs(got - 4 / 7) < 1e-12
