"""The Go math/rand replica must reproduce Go's extensively published
outputs — these constants appear throughout Go documentation, blog
posts, and playground examples for rand.New(rand.NewSource(seed))."""

from mlrsketch.gorand import GoRand


def test_seed1_int63_sequence():
    r = GoRand(1)
    assert [r.int63() for _ in range(3)] == [
        5577006791947779410,
        8674665223082153551,
        6129484611666145821,
    ]


def test_seed1_float64():
    assert abs(GoRand(1).float64() - 0.6046602879796196) < 1e-18


def test_seed42_deterministic_and_distinct():
    a = GoRand(42)
    b = GoRand(42)
    seq = [a.int63() for _ in range(100)]
    assert seq == [b.int63() for _ in range(100)]
    assert len(set(seq)) == 100
    assert seq != [GoRand(43).int63() for _ in range(100)]


def test_rand_range_matches_reference_formula():
    # lib/rand.go:31: low + Int63() % (high-low); low==high short-circuits
    r1, r2 = GoRand(7), GoRand(7)
    for _ in range(50):
        assert r1.rand_range(3, 13) == 3 + r2.int63() % 10
    assert r1.rand_range(5, 5) == 5  # consumes no draw
    assert r1.int63() == r2.int63()
