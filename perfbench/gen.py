"""Seeded registry generator for the benchmark (independent of the program).

Every workload's inputs come from one ``random.Random(seed)``: the same
seed gives the same rows, byte for byte. Streets are Armenian upper-case
words drawn so that the program's normalizer leaves a clean street
unchanged: no word contains the genitive letter Ի and no word starts with
a letter that opens one of the stripped street-type suffixes. Distinct
clean streets therefore normalize to distinct strings, which the output
checks rely on (a verbatim copy has exactly one cadastre partner).

Variant classes, applied to a whole street (:func:`city`) or to one row
(:func:`noisy_probe`):

* ``verbatim``  - copied as is (EXACT_FULL);
* ``suffix``    - a street-type suffix appended (normalizer strips it);
* ``genitive``  - a trailing Ի on one word (stripped);
* ``punct``     - a comma and a full stop (stripped);
* ``swap``      - first and last token swapped (token_sort_ratio 100);
* ``extra``     - one extra token (token_set_ratio 100);
* ``typo``      - one letter replaced (ratio about 92-95).

The first four reach the exact phases, the last three the fuzzy phase.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# letters a word may start with: excludes Ի and the first letters of the
# normalizer's suffixes (Խ Ճ Փ Պ Ա Թ)
_LETTERS = "ԲԳԴԵԶԷԸԺԼԾԿՀՁՂՄՅՆՇՈՉՋՌՍՎՏՐՑՒՔՕՖ"
_INNER = _LETTERS + "ԱԽՃՊԹՓ"
_SUFFIXES = ["Փ.", "ՊՈՂ.", "ԱՎ.", "ՃԱՄԲ."]
EXACT_CLASSES = ("verbatim", "suffix", "genitive", "punct")
FUZZY_CLASSES = ("swap", "extra", "typo")
CLASSES = EXACT_CLASSES + FUZZY_CLASSES
SCHEMA = pa.schema([
    ("ADDRESS_ID", pa.string()),
    ("STREET_NAME", pa.string()),
    ("HOUSE", pa.string()),
    ("BUILDING", pa.string()),
])
SCHEMA_DDL = "ADDRESS_ID string, STREET_NAME string, HOUSE string, BUILDING string"


@dataclass
class Registry:
    """Rows of one registry, column-wise, plus the generator's truth."""

    ids: list[str] = field(default_factory=list)
    streets: list[str] = field(default_factory=list)
    houses: list[str] = field(default_factory=list)
    buildings: list[str | None] = field(default_factory=list)
    #: probe id -> cadastre id, for rows copied verbatim
    verbatim: dict[str, str] = field(default_factory=dict)

    def add(self, rid, street, house, building):
        self.ids.append(rid)
        self.streets.append(street)
        self.houses.append(house)
        self.buildings.append(building)

    def __len__(self):
        return len(self.ids)

    def write(self, path: str) -> None:
        pq.write_table(
            pa.table([self.ids, self.streets, self.houses, self.buildings], schema=SCHEMA), path
        )


def _word(rng: random.Random, lo: int = 5, hi: int = 8) -> str:
    n = rng.randint(lo, hi)
    return rng.choice(_LETTERS) + "".join(rng.choice(_INNER) for _ in range(n - 1))


def _streets(rng: random.Random, n: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        s = " ".join(_word(rng) for _ in range(rng.randint(2, 3)))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def variant(rng: random.Random, street: str, kind: str) -> str:
    """One spelling of ``street`` in variant class ``kind``."""
    words = street.split()
    if kind == "suffix":
        return f"{street} {rng.choice(_SUFFIXES)}"
    if kind == "genitive":
        i = rng.randrange(len(words))
        words[i] += "Ի"
        return " ".join(words)
    if kind == "punct":
        return street.replace(" ", ", ", 1) + "."
    if kind == "swap":
        words[0], words[-1] = words[-1], words[0]
        return " ".join(words)
    if kind == "extra":
        return f"{street} {_word(rng, 4, 6)}"
    if kind == "typo":
        w = rng.randrange(len(words))
        word = words[w]
        i = rng.randrange(1, len(word))
        words[w] = word[:i] + rng.choice(_LETTERS.replace(word[i], "")) + word[i + 1:]
        return " ".join(words)
    return street


def city(seed: int | str, n_streets: int, houses: tuple[int, int], missing: float = 0.08,
         keep: float = 0.9, id_prefix: str = "") -> tuple[Registry, Registry]:
    """One city's cadastre and a second registry of the same city.

    Each street has houses 1..h (h uniform in ``houses``); each house has
    one building-less row and, with probability 1/2 and 1/4, buildings 1
    and 2. The second registry spells each street in one variant class
    (round-robin over a shuffled street list) and keeps a ``keep`` share
    of its addresses; a ``missing`` share of its streets is absent from
    the cadastre. Block (house, building) sizes grow with the street
    count, so a probe row sees dozens of candidates.
    """
    rng = random.Random(seed)
    names = _streets(rng, int(n_streets * (1 + missing)))
    cad_streets, new_streets = names[:n_streets], names[n_streets:]
    cad, spr = Registry(), Registry()
    order = list(range(n_streets))
    rng.shuffle(order)
    kind_of = {s: CLASSES[k % len(CLASSES)] for k, s in enumerate(order)}
    for si, street in enumerate(cad_streets):
        kind = kind_of[si]
        spelled = variant(rng, street, kind)
        for house, building in _addresses(rng, houses):
            cid = f"{id_prefix}C{len(cad):07d}"
            cad.add(cid, street, house, building)
            if rng.random() < keep:
                sid = f"{id_prefix}S{len(spr):07d}"
                spr.add(sid, spelled, house, building)
                if kind == "verbatim":
                    spr.verbatim[sid] = cid
    for street in new_streets:
        for house, building in _addresses(rng, houses):
            if rng.random() < keep:
                spr.add(f"{id_prefix}S{len(spr):07d}", street, house, building)
    return spr, cad


def _addresses(rng: random.Random, houses: tuple[int, int]):
    for h in range(1, rng.randint(*houses) + 1):
        yield str(h), None
        if rng.random() < 0.5:
            yield str(h), "1"
        if rng.random() < 0.25:
            yield str(h), "2"


def noisy_cadastre(seed: int | str, n_rows: int, n_streets: int, n_houses: int) -> Registry:
    """``n_rows`` unique addresses over ``n_streets`` streets and
    ``n_houses`` x 4 (house, building) blocks, so a block holds about
    ``n_rows / (4 * n_houses)`` rows."""
    rng = random.Random(seed)
    names = _streets(rng, n_streets)
    cad = Registry()
    seen: set[tuple[int, int, int]] = set()
    while len(cad) < n_rows:
        key = (rng.randrange(n_streets), rng.randint(1, n_houses), rng.randrange(4))
        if key not in seen:
            seen.add(key)
            cad.add(f"C{len(cad):07d}", names[key[0]], str(key[1]),
                    None if key[2] == 0 else str(key[2]))
    return cad


def noisy_probe(seed: int | str, cad: Registry, rows: list[int], id_prefix: str = "",
                verbatim: float = 0.1, missing: float = 0.05) -> Registry:
    """One independently corrupted copy of each cadastre row in ``rows``:
    a ``verbatim`` share unchanged, a ``missing`` share with a street the
    cadastre lacks, the rest with one fuzzy-class edit and, half of the
    time, a typo on top. The street vocabulary is about the row count."""
    rng = random.Random(seed)
    spr = Registry()
    for ci in rows:
        street = cad.streets[ci]
        r = rng.random()
        if r < verbatim:
            spelled = street
        elif r < verbatim + missing:
            spelled = " ".join(_word(rng) for _ in range(rng.randint(2, 3)))
        else:
            spelled = variant(rng, street, rng.choice(FUZZY_CLASSES))
            if rng.random() < 0.5:
                spelled = variant(rng, spelled, "typo")
        sid = f"{id_prefix}S{ci:07d}"
        spr.add(sid, spelled, cad.houses[ci], cad.buildings[ci])
        if spelled == street:
            spr.verbatim[sid] = cad.ids[ci]
    return spr
