"""Seeded request streams. The same seed yields the same requests.

Texts are drawn from the catalog generator's vocabulary, so most queries
match rows of the corpus; a share of titles is out-of-vocabulary so the text
branch finds nothing. The mix of request kinds, filters and limits is
assumed, not measured (see ``food_requests``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from itertools import count
from typing import Any, Iterator

from hybrid_vector_search_spark.sources.catalog_gen import (
    CITIES,
    PRODUCT_NAMES,
    TITLE_BASES,
    TITLE_DESCRIPTORS,
    TITLE_PERIODS,
)

INGREDIENTS = ("frescos", "locales", "premium", "caseros")
LIMITS = (None, 10, 25)

# one block of 20 valid requests, 40/35/20/5 % (assumed, see food_requests), interleaved so that any run
# of consecutive requests has close to the same mix; the seed draws texts,
# filters and limits, not the order of modes
FOOD_BLOCK = (
    "vector", "hybrid", "fulltext", "vector", "hybrid", "vector", "hybrid", "fulltext",
    "vector", "restaurants", "hybrid", "vector", "fulltext", "hybrid", "vector", "hybrid",
    "vector", "fulltext", "hybrid", "vector",
)
INVALID_SHARE = 0.02
OOV_TITLE_SHARE = 0.05


@dataclass(frozen=True)
class Request:
    seq: int
    kind: str  # vector | hybrid | fulltext | restaurants | invalid
    payload: dict[str, Any] | None  # None for restaurants()


def description(rng: random.Random) -> str:
    text = f"{rng.choice(PRODUCT_NAMES)} con ingredientes {rng.choice(INGREDIENTS)}"
    if rng.random() < 0.5:
        text += f" numero {rng.randint(1, 999)}"
    return text


def title(rng: random.Random) -> str:
    if rng.random() < OOV_TITLE_SHARE:
        return " ".join(
            "".join(rng.choice("qxzjkw") for _ in range(rng.randint(4, 7))) for _ in range(2)
        )
    words = [rng.choice(TITLE_BASES)]
    if rng.random() < 0.5:
        words.append(rng.choice(TITLE_DESCRIPTORS))
    if rng.random() < 0.3:
        words.append(rng.choice(TITLE_PERIODS))
    return " ".join(words)


def _shape(i: int, rng: random.Random, payload: dict[str, Any]) -> None:
    """Filters and limit of the i-th request of a block. Which filters a
    request carries follows the block position, not the seed: a filter's
    selectivity sets how many rows the vector branch scores, so a seeded
    draw would make one run's mix cheaper than another's. The seed picks
    the values. available and maxPrice are each on half the requests, in
    all four combinations; maxPrice cycles through four price bands;
    restaurant is on two requests in twenty."""
    limit = LIMITS[i % len(LIMITS)]
    if limit is not None:
        payload["limit"] = limit
    if i % 2 == 0:
        payload["available"] = (i // 2) % 2 == 0
    if i % 4 < 2:
        band = (i // 4) % 4
        payload["maxPrice"] = round(5.0 + 5.0 * band + rng.uniform(0.0, 5.0), 2)
    if i in (5, 13):  # a vector and a hybrid position of FOOD_BLOCK
        payload["restaurant"] = rng.choice(CITIES)


def _invalid(rng: random.Random) -> dict[str, Any]:
    """Payloads the API must refuse with status 400."""
    return rng.choice(
        [
            {"mode": "semantic", "description": description(rng)},
            {"mode": "vector", "description": "   "},
            {"mode": "hybrid", "description": description(rng)},
            {"mode": "fulltext", "title": title(rng), "maxPrice": "barato"},
        ]
    )


def food_requests(seed: int) -> Iterator[Request]:
    """An assumed mix over the reference's API: 40 % vector, 35 % hybrid,
    20 % fulltext, 5 % restaurants() (per block of 20), plus ~2 % invalid
    payloads inserted between them. Texts and filter values are seeded.

    The shares are not measured: no usage data of the reference exists. Its
    frontend pre-selects vector mode and loads the restaurant list once per
    page, which the ordering of the shares follows; the shares themselves,
    the filter shares, the limits and the client count are assumptions."""
    rng = random.Random(seed)
    seq = count()
    while True:
        for i, kind in enumerate(FOOD_BLOCK):
            if rng.random() < INVALID_SHARE:
                yield Request(next(seq), "invalid", _invalid(rng))
            if kind == "restaurants":
                yield Request(next(seq), kind, None)
                continue
            payload: dict[str, Any] = {"mode": kind}
            if kind in ("vector", "hybrid"):
                payload["description"] = description(rng)
            if kind in ("hybrid", "fulltext"):
                payload["title"] = title(rng)
            _shape(i, rng, payload)
            yield Request(next(seq), kind, payload)


def query_texts(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    return [description(rng) for _ in range(n)]
