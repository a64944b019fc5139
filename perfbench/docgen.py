"""Seeded document corpus for the ``curate`` workload.

Documents are drawn from the 31-word vocabulary of the sf0.1
``documents`` table, with the same length range (10 to 100 words), and
carry planted structure the funnel must find:

- ``exact_share`` of the documents are verbatim copies of an earlier one;
- ``near_share`` are copies with about one word in ten replaced;
- ``short_share`` are below the quality filter's 20-token minimum;
- ``repeat_share`` repeat one bigram, which the repetition rules drop.

The benchmark slice is every document whose id is a multiple of 97, as
in the ``curate_funnel`` contract row.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


@dataclass
class Docs:
    rows: list[tuple[int, str]]
    exact_copies: dict[int, int]  # copy id -> original id
    near_copies: dict[int, int]

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for _, t in self.rows)


def make_docs(
    seed: int,
    n: int,
    exact_share: float = 0.06,
    near_share: float = 0.06,
    short_share: float = 0.05,
    repeat_share: float = 0.03,
) -> Docs:
    r = random.Random(seed)
    rows: list[tuple[int, str]] = []
    exact: dict[int, int] = {}
    near: dict[int, int] = {}
    for i in range(n):
        roll = r.random()
        if rows and roll < exact_share:
            src = r.randrange(len(rows))
            rows.append((i, rows[src][1]))
            exact[i] = rows[src][0]
            continue
        if rows and roll < exact_share + near_share:
            src = r.randrange(len(rows))
            words = rows[src][1].split()
            for _ in range(max(1, len(words) // 10)):
                words[r.randrange(len(words))] = r.choice(VOCAB)
            rows.append((i, " ".join(words)))
            near[i] = rows[src][0]
            continue
        roll -= exact_share + near_share
        if roll < short_share:
            words = [r.choice(VOCAB) for _ in range(r.randint(5, 15))]
        elif roll < short_share + repeat_share:
            pair = r.sample(VOCAB, 2)
            words = pair * r.randint(15, 40)
        else:
            words = [r.choice(VOCAB) for _ in range(r.randint(20, 100))]
        rows.append((i, " ".join(words)))
    return Docs(rows, exact, near)
