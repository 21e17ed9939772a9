"""The percentile rule and the seeded request streams."""

from __future__ import annotations

from collections import Counter
from itertools import islice

import pytest

from hvsbench import reqgen, stats


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.beyond(100, 90) == 10
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.percentile(list(range(50)), 90)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_highest_supported_percentile(n, expected):
    assert stats.highest_supported(n) == expected
    if expected is not None:
        assert stats.beyond(n, expected) >= stats.MIN_BEYOND


def test_same_seed_same_requests():
    stream = reqgen.food_requests
    assert list(islice(stream(7), 300)) == list(islice(stream(7), 300))
    assert list(islice(stream(7), 300)) != list(islice(stream(8), 300))
    assert reqgen.query_texts(3, 16) == reqgen.query_texts(3, 16)


def test_food_mix():
    reqs = list(islice(reqgen.food_requests(1), 5000))
    kinds = Counter(r.kind for r in reqs)
    valid = len(reqs) - kinds["invalid"]
    assert kinds["vector"] / valid == pytest.approx(0.40, abs=0.01)
    assert kinds["hybrid"] / valid == pytest.approx(0.35, abs=0.01)
    assert kinds["fulltext"] / valid == pytest.approx(0.20, abs=0.01)
    assert kinds["restaurants"] / valid == pytest.approx(0.05, abs=0.01)
    assert kinds["invalid"] / len(reqs) == pytest.approx(0.02, abs=0.01)
    search = [r.payload for r in reqs if r.kind in ("vector", "hybrid", "fulltext")]
    share = lambda key: sum(key in p for p in search) / len(search)  # noqa: E731
    assert share("available") == pytest.approx(0.5, abs=0.05)
    assert share("maxPrice") == pytest.approx(0.5, abs=0.05)
    assert share("restaurant") == pytest.approx(0.1, abs=0.03)
    assert {p.get("limit") for p in search} == {None, 10, 25}
    assert [r.seq for r in reqs] == list(range(len(reqs)))


def test_mix_weighted_median():
    by_kind = {"fast": [1.0, 1.0, 100.0], "slow": [10.0]}
    assert stats.mix_weighted_median(by_kind) == pytest.approx(0.75 * 1.0 + 0.25 * 10.0)
    with pytest.raises(ValueError):
        stats.mix_weighted_median({"none": []})
