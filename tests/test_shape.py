"""operators/shape.pair_mine against a brute-force Python twin."""

from collections import Counter, defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

from outage_data_scraper_spark.operators.shape import pair_mine


def _pair_mine_py(rows, max_df, sized):
    """All member pairs a < b sharing keys held by 2..max_df members, in
    plain Python: {(a, b): (shared[, n_a, n_b])}."""
    members = defaultdict(set)
    size = {}
    for key, m, n in rows:
        members[key].add(m)
        size[m] = n
    shared = Counter()
    for ms in members.values():
        if 2 <= len(ms) <= max_df:
            shared.update((a, b) for a in ms for b in ms if a < b)
    return {
        (a, b): (c, size[a], size[b]) if sized else (c,)
        for (a, b), c in shared.items()
    }


def _pair_mine_spark(spark, rows, max_df, sized):
    rel = spark.createDataFrame(rows, "key string, member long, n long")
    if not sized:
        rel = rel.drop("n")
    out = pair_mine(rel, "key", "member", max_df, size="n" if sized else None)
    return {(r[0], r[1]): tuple(r[2:]) for r in out.collect()}


@settings(max_examples=15, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 7)), max_size=40, unique=True
    ),
    sizes=st.lists(st.integers(0, 99), min_size=8, max_size=8),
    max_df=st.integers(2, 5),
)
def test_pair_mine_matches_python_twin(spark, pairs, sizes, max_df):
    rows = [(f"k{k}", m, sizes[m]) for k, m in pairs]
    for sized in (False, True):
        assert _pair_mine_spark(spark, rows, max_df, sized) == _pair_mine_py(
            rows, max_df, sized
        )


def test_pair_mine_df_cap_boundaries(spark):
    """df == max_df pairs, df == max_df + 1 is dropped, a singleton key
    pairs nothing; n_a/n_b are the members' carried sizes."""
    rows = (
        [("at_cap", m, 10 + m) for m in (1, 2, 3)]
        + [("over_cap", m, 10 + m) for m in (1, 2, 3, 4)]
        + [("single", 4, 14)]
    )
    got = _pair_mine_spark(spark, rows, 3, sized=True)
    assert got == {(1, 2): (1, 11, 12), (1, 3): (1, 11, 13), (2, 3): (1, 12, 13)}
    assert got == _pair_mine_py(rows, 3, sized=True)
    assert _pair_mine_spark(spark, rows, 4, sized=False) == {
        (1, 2): (2,), (1, 3): (2,), (2, 3): (2,),
        (1, 4): (1,), (2, 4): (1,), (3, 4): (1,),
    }


def test_pair_mine_columns(spark):
    """Sizes appear as n_a/n_b only when a size column is named."""
    rel = spark.createDataFrame([("k", 1, 5), ("k", 2, 6)], "key string, member long, n long")
    assert pair_mine(rel, "key", "member", 2).columns == ["a", "b", "shared"]
    assert pair_mine(rel, "key", "member", 2, size="n").columns == [
        "a", "b", "shared", "n_a", "n_b"
    ]
