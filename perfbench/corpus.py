"""Seeded synthetic wiki corpus for the pipeline workloads, with the
answer planted alongside it.

The shape follows ``tools/stress_pipeline.py``: a depth-5 subclass
ontology, about 20% of member pages typed outside their collection's
class chain (invalid), and one hot category ``Q0`` holding 40% of
the member pages, which puts its valid-member count above the 10k
oversize gate. "List of" pages with pagelinks feed the list branch, and
half of them are related to a category through P1753, so the merge step
folds each such pair into one document (under the smaller QID).

Day 2 of a refresh moves a seeded share of member pages between a
seeded tenth of the collections (never the hot one). Titles, labels and
types do not change, so the title corpus, the language model and every
member label stay the same: the planted answer is that exactly the
documents whose valid members or invalid-member count changed get an
``update`` op, and every other document a ``noop``.

Everything here is plain Python from ``random.Random(seed)``: the same
seed gives the same corpus, and nothing touches Spark.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

WD = "<http://www.wikidata.org/entity/"
WP = "<https://en.wikipedia.org/wiki/"
PROP = "<http://www.wikidata.org/prop/direct/"
ABOUT = "<http://schema.org/about>"
LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"

N_CLASSES = 50
DEPTH = 5
INVALID_SHARE = 0.2
HOT_SHARE = 0.4
LIST_SHARE = 0.1
N_MEMBERS = 34_000
N_CATEGORIES = 400
N_LISTS = 40
CHURN = 0.05  # share of member pages a day-2 refresh moves


@dataclass
class Corpus:
    """Pipeline input rows for one day plus the planted answer."""

    nt_lines: list[str]
    categorylinks: list[tuple[int, str]]
    pagelinks: list[tuple[int, str]]
    mapping: list[tuple[str, int, str]]
    qrank: list[tuple[str, int]]
    domains: list[tuple[str, str]]
    # document id -> (valid members, invalid members) after the merge
    expected: dict[str, tuple[int, int]]
    # document id -> its valid member page numbers
    members: dict[str, frozenset[int]]


class Generator:
    """Builds the day-1 corpus for a seed and the day-2 variant of it."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        n_cat, n_lists = N_CATEGORIES, N_LISTS
        # collection c: categories are Q0..Q{n_cat-1}, lists follow
        self.coll_class = [rng.randrange(N_CLASSES) for _ in range(n_cat + n_lists)]
        self.coll_depth = [rng.randrange(DEPTH) for _ in range(n_cat + n_lists)]
        # list j is folded into category (1 + j) for even j
        self.list_category = {
            n_cat + j: 1 + j for j in range(n_lists) if j % 2 == 0
        }
        self.member_class = []
        self.member_coll = []
        for _ in range(N_MEMBERS):
            r = rng.random()
            if r < HOT_SHARE:
                coll = 0
            elif r < HOT_SHARE + LIST_SHARE:
                coll = n_cat + rng.randrange(n_lists)
            else:
                coll = 1 + rng.randrange(n_cat - 1)
            cls = self.coll_class[coll]
            if rng.random() < INVALID_SHARE:
                cls = (cls + 7) % N_CLASSES
            self.member_coll.append(coll)
            self.member_class.append(cls)
        self.rank = [rng.randrange(100_000) for _ in range(N_MEMBERS)]
        self.taken = [rng.random() < 0.15 for _ in range(N_MEMBERS)]

    def _qid(self, coll: int) -> str:
        return f"Q{coll}"

    def day1(self) -> Corpus:
        return self._corpus(self.member_coll)

    def day2(self, churn_seed: int) -> Corpus:
        """Moves ``CHURN`` of the member pages to another collection of the
        same kind (category or list). ``churn_seed`` picks a tenth of the
        collections, other than the hot one, as today's active set, and the
        moves stay inside it, so most collections see no change."""
        n_cat = N_CATEGORIES
        rng = random.Random(churn_seed)
        coll = list(self.member_coll)
        pool = range(1, n_cat + N_LISTS)
        active = set(rng.sample(pool, len(pool) // 10))
        kinds = [
            sorted(c for c in active if c < n_cat),
            sorted(c for c in active if c >= n_cat),
        ]
        movable = [m for m, c in enumerate(coll) if c in active]
        n_moves = min(len(movable), int(len(coll) * CHURN))
        for m in rng.sample(movable, n_moves):
            targets = [c for c in kinds[coll[m] >= n_cat] if c != coll[m]]
            if targets:
                coll[m] = rng.choice(targets)
        return self._corpus(coll)

    def _corpus(self, member_coll: list[int]) -> Corpus:
        n_cat, n_lists = N_CATEGORIES, N_LISTS
        nt: list[str] = []
        for c in range(N_CLASSES):
            for d in range(DEPTH):
                parent = f"C{c}_{d + 1}" if d + 1 < DEPTH else "ROOT"
                nt.append(f"{WD}C{c}_{d}> {PROP}P279> {WD}{parent}> .")
        mapping: list[tuple[str, int, str]] = []
        page_base = N_MEMBERS
        for i in range(n_cat + n_lists):
            q = self._qid(i)
            cls = f"C{self.coll_class[i]}_{self.coll_depth[i]}"
            if i < n_cat:
                title = f"Category:Topic_{i}"
                nt.append(f"{WD}{q}> {PROP}P4224> {WD}{cls}> .")
            else:
                title = f"List_of_gadgets_{i - n_cat}"
                nt.append(f"{WD}{q}> {PROP}P360> {WD}{cls}> .")
                if i in self.list_category:
                    nt.append(
                        f"{WD}{self._qid(self.list_category[i])}> {PROP}P1753> {WD}{q}> ."
                    )
            nt.append(f"{WP}{title}> {ABOUT} {WD}{q}> .")
            nt.append(f'{WD}{q}> {LABEL} "{title.replace("_", " ")}"@en .')
            mapping.append((title.replace("_", " "), page_base + i, q))

        categorylinks: list[tuple[int, str]] = []
        pagelinks: list[tuple[int, str]] = []
        for m in range(N_MEMBERS):
            nt.append(f"{WP}Page_{m}> {ABOUT} {WD}M{m}> .")
            nt.append(f"{WD}M{m}> {PROP}P31> {WD}C{self.member_class[m]}_0> .")
            mapping.append((f"Page {m}", m, f"M{m}"))
            c = member_coll[m]
            if c < n_cat:
                categorylinks.append((m, f"Topic_{c}"))
            else:
                pagelinks.append((page_base + c, f"Page_{m}"))

        # planted answer: a list folded with its category is one document
        # under the smaller QID; validity is "same class chain"
        doc_of = {c: c for c in range(n_cat + n_lists)}
        for lst, cat in self.list_category.items():
            doc_of[lst] = cat
        expected: dict[str, list[int]] = {}
        valid: dict[str, set[int]] = {}
        for m, c in enumerate(member_coll):
            doc = self._qid(doc_of[c])
            counts = expected.setdefault(doc, [0, 0])
            members = valid.setdefault(doc, set())
            if self.member_class[m] == self.coll_class[c]:
                counts[0] += 1
                members.add(m)
            else:
                counts[1] += 1
        return Corpus(
            nt_lines=nt,
            categorylinks=categorylinks,
            pagelinks=pagelinks,
            mapping=mapping,
            qrank=[(f"M{m}", self.rank[m]) for m in range(0, N_MEMBERS, 3)],
            domains=[
                (f"page{m}", "taken") for m in range(N_MEMBERS) if self.taken[m]
            ],
            expected={k: (v[0], v[1]) for k, v in expected.items()},
            members={k: frozenset(v) for k, v in valid.items()},
        )
