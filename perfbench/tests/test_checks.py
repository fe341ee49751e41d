"""Each comparator passes on matching output and fails on a planted
mismatch."""

import numpy as np

from perfbench import checks


def test_equal_counts():
    assert checks.equal_counts([5, 5, 5]) == []
    assert checks.equal_counts([5, 5, 4])


def test_multiset_is_order_insensitive():
    rows = [(1, "a", 0.5), (2, "b", None)]
    orows = [("b", 2, None), ("a", 1, 0.5)]
    assert checks.multiset(["k", "s", "x"], rows, ["s", "k", "x"], orows) == []


def test_multiset_planted_mismatches():
    cols, rows = ["k", "v"], [(1, "a"), (2, "b")]
    assert checks.multiset(cols, rows, ["k", "w"], rows)            # columns
    assert checks.multiset(cols, rows[:1], cols, rows)              # row count
    assert checks.multiset(cols, [(1, "a"), (2, "c")], cols, rows)  # values
    assert checks.multiset(cols, [(1, "a"), (1, "a")], cols, [(1, "a"), (2, "b")])


def test_star8_grid_matches_and_planted_kernel_fails():
    assert checks.star8_grid() == []

    def off_by_one(polygon, points):
        from polycheck_spark.geo.kernel import contains
        got = np.asarray(contains(polygon, points)).copy()
        got[0] = 1 - got[0]
        return got
    assert checks.star8_grid(off_by_one)


def test_snapshot_valid():
    assert checks.snapshot_valid({}) == []
    assert checks.snapshot_valid({3: (10, 9)})


def test_same_rows():
    fresh = [("u1", 1), ("u2", 2), ("u2", 2)]
    assert checks.same_rows(fresh, list(reversed(fresh))) == []
    assert checks.same_rows(fresh, fresh[:2])
    assert checks.same_rows(fresh, [("u1", 1), ("u2", 2), ("u2", 3)])


def test_text_sha_per_url():
    fresh = [("u1", "aa"), ("u1", "aa"), ("u2", "bb")]
    assert checks.text_sha_per_url(fresh, fresh) == []
    assert checks.text_sha_per_url(fresh, [("u1", "aa"), ("u2", "bX")])
    assert checks.text_sha_per_url(fresh, [("u1", "aa")])
    # two shas for one url in a single output is itself a mismatch
    assert checks.text_sha_per_url(fresh + [("u2", "cc")], fresh + [("u2", "cc")])
