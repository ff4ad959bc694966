"""Seeded request streams for the serve workloads.

A run serves a fixed number of rounds, dealt from one queue to its clients.
A round is five (vector, hybrid, fulltext) triples, each in seeded order,
plus one ``restaurants()`` call after the second triple:

- every mode has exactly one filtered request per round, at a triple that
  moves with the round and the mode. Its filter rotates over ``available``,
  strict ``maxPrice`` and ``restaurant`` the same way;
- every request sends ``limit: 5``, and a filtered one sends
  ``available: true``, never false, as the frontend does
  (``frontend.py``, the search button's handler).

The shares are assumptions, not measured traffic: one filtered request in
five per mode, one page load (``restaurants()``) per fifteen searches, and
the price range. They are fixed so that the cost mix of a run is the same
for every seed; the seed picks only texts, prices, restaurants and orders.

In a traced run, every other unfiltered request of a mode is traced, and so
is every ``restaurants()`` call, so a run holds as many traced as untraced
unfiltered requests per mode.
"""

from __future__ import annotations

import random

from hybrid_vector_search_spark.sources.catalog_gen import (
    CITIES,
    PRODUCT_NAMES,
    TITLE_BASES,
    TITLE_DESCRIPTORS,
)

MODES = ("vector", "hybrid", "fulltext")
FILTERS = ("available", "maxPrice", "restaurant")
TRIPLES_PER_ROUND = 5
RESTAURANTS_AFTER = 1  # the round's restaurants() call follows this triple
LIMIT = 5  # the frontend sends no other limit
INGREDIENTS = ("frescos", "locales", "premium", "caseros")
# Title queries pair a word of a catalog's base title with a descriptor or
# meal-period word. Each word is in about a fifth of the titles and the two
# come from different parts of a title, so every title query matches about a
# third of the corpus: the BM25 and fusion work per request does not depend
# on the seed. ("menu" and "desayuno" are left out: each is in two fifths.)
TITLE_WORDS_A = sorted({w.lower() for t in TITLE_BASES for w in t.split()} - {"menu", "desayuno"})
TITLE_WORDS_B = sorted({d.lower() for d in TITLE_DESCRIPTORS} | {"almuerzo", "cena", "merienda"})


class Op:
    """One request of a run: ``payload`` is None for ``restaurants()``."""

    __slots__ = ("index", "mode", "payload", "filtered", "traced")

    def __init__(self, index: int, mode: str, payload: dict | None, traced: bool):
        self.index, self.mode, self.payload = index, mode, payload
        self.filtered = payload is not None and any(k in payload for k in FILTERS)
        self.traced = traced


def _payload(rng: random.Random, mode: str, filt: str | None) -> dict:
    p: dict = {"mode": mode, "limit": LIMIT}
    if mode != "fulltext":
        p["description"] = f"{rng.choice(PRODUCT_NAMES)} {rng.choice(INGREDIENTS)}"
    if mode != "vector":
        p["title"] = f"{rng.choice(TITLE_WORDS_A)} {rng.choice(TITLE_WORDS_B)}"
    if filt == "available":
        p["available"] = True
    elif filt == "maxPrice":
        p["maxPrice"] = round(rng.uniform(5.0, 25.0), 2)
    elif filt == "restaurant":
        p["restaurant"] = rng.choice(CITIES)
    return p


def ops(seed: int, rounds: int, *, traced: bool) -> list[Op]:
    """The ops of a run seeded with ``seed``, in queue order."""
    rng = random.Random(f"perfbench#{seed}")
    out: list[Op] = []
    unfiltered = dict.fromkeys((*MODES, "restaurants"), 0)

    def add(mode: str, payload: dict | None) -> None:
        op = Op(len(out), mode, payload, False)
        if not op.filtered:
            unfiltered[mode] += 1
            op.traced = traced and (payload is None or unfiltered[mode] % 2 == 0)
        out.append(op)

    for r in range(rounds):
        for t in range(TRIPLES_PER_ROUND):
            triple = []
            for i, mode in enumerate(MODES):
                filt = FILTERS[(r + i) % len(FILTERS)] if (r + i) % TRIPLES_PER_ROUND == t else None
                triple.append((mode, _payload(rng, mode, filt)))
            rng.shuffle(triple)
            for mode, payload in triple:
                add(mode, payload)
            if t == RESTAURANTS_AFTER:
                add("restaurants", None)
    return out


def warmup_triple(seed: int) -> list[dict]:
    """One unfiltered (vector, hybrid, fulltext) triple for the warm-up."""
    rng = random.Random(f"perfbench-warmup#{seed}")
    return [_payload(rng, mode, None) for mode in MODES]
