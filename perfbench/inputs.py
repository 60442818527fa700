"""Seeded input generators.  Everything here is plain Python/NumPy driven
by the benchmark seed; the engine only ever sees the generated tables.

Names are pronounceable random strings (consonant-vowel syllables), so
unrelated names share few character trigrams and LSH blocking stays
sparse; the near-duplicates come only from the seeded surface variants.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from relation_extraction_transformer_spark import constants as C
from relation_extraction_transformer_spark.sources import gazetteer as G

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
_WS = re.compile(r"\s+")


def normalize(surface: str) -> str:
    """Same rule as the engine's surface normalization: trim, lowercase,
    squeeze whitespace."""
    return _WS.sub(" ", surface.strip().lower())


def stable_id(text: str) -> int:
    """md5 hex chars [2..16] as an integer (the engine's entity id)."""
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[1:16], 16)


class NameGen:
    """Unique random two-word names, never a gazetteer alias."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        gaz = G.build_gazetteer()
        self.taken = {normalize(p) for p in gaz} | {
            normalize(p.split(" ")[-1]) for p, t in gaz.items() if t == "PERSON"
        }

    def _word(self) -> str:
        n = int(self.rng.integers(2, 4))
        c = self.rng.integers(0, len(_CONS), size=n)
        v = self.rng.integers(0, len(_VOWS), size=n)
        return "".join(_CONS[a] + _VOWS[b] for a, b in zip(c, v)).capitalize()

    def name(self) -> str:
        while True:
            s = f"{self._word()} {self._word()}"
            if normalize(s) not in self.taken:
                self.taken.add(normalize(s))
                return s


def variants(name: str, rng: np.random.Generator) -> list[str]:
    """Seeded surface variants of one entity name: the name itself, a
    case change, one dropped character and an `` Inc`` suffix."""
    case = name.upper() if rng.random() < 0.5 else name.lower()
    i = int(rng.integers(1, len(name) - 1))
    if name[i] == " ":
        i += 1
    dropped = name[:i] + name[i + 1:]
    return [name, case, dropped, name + " Inc"]


def resolve_triples(
    seed: int, n_entities: int, n_triples: int, zipf_s: float = 1.1
) -> pd.DataFrame:
    """Triples ``(url, subj, pred, obj, prob)`` over ``n_entities`` base
    entities (plus the gazetteer's people and organizations, so linking
    has dictionary hits) with Zipf popularity.  Each mention picks one of
    its entity's surface variants."""
    rng = np.random.default_rng((seed, 1))
    gen = NameGen(rng)
    gaz = [p for p, t in G.build_gazetteer().items()
           if t in ("PERSON", "ORGANIZATION")]
    names = [gen.name() for _ in range(n_entities)] + gaz
    rng.shuffle(names)  # popularity rank is random w.r.t. origin
    surf = np.array([variants(n, rng) for n in names], dtype=object)
    w = 1.0 / np.arange(1, len(names) + 1) ** zipf_s
    w /= w.sum()
    vp = [0.55, 0.15, 0.15, 0.15]
    s_ent = rng.choice(len(names), size=n_triples, p=w)
    o_ent = rng.choice(len(names), size=n_triples, p=w)
    s_var = rng.choice(4, size=n_triples, p=vp)
    o_var = rng.choice(4, size=n_triples, p=vp)
    labels = [lab for lab in C.LABEL_TO_ID if lab != C.NO_RELATION]
    preds = np.array(labels, dtype=object)[
        rng.integers(0, len(labels), size=n_triples)
    ]
    docs = rng.integers(0, max(1, n_triples // 4), size=n_triples)
    return pd.DataFrame({
        "url": [f"https://src{d % 97}.example.org/doc/{d}" for d in docs],
        "subj": surf[s_ent, s_var],
        "pred": preds,
        "obj": surf[o_ent, o_var],
        "prob": np.round(rng.uniform(0.3, 1.0, size=n_triples), 6),
    })


def canon_names(
    seed: int, n_standing: int, n_days: int, per_day: int
) -> tuple[list[str], list[list[str]]]:
    """Normalized mention names for the standing canonical map and for
    each day's delta.  A day mixes brand-new names (with some of their
    own variants), variants of standing names (which merge into standing
    components) and standing names seen again (no-ops for the fold)."""
    rng = np.random.default_rng((seed, 2))
    gen = NameGen(rng)
    seen: set[str] = set()

    def fresh_family(k: int) -> list[str]:
        base = gen.name()
        out = []
        for v in variants(base, rng)[:k]:
            v = normalize(v)
            if v not in seen:
                seen.add(v)
                out.append(v)
        return out

    bases: list[str] = []
    standing: list[str] = []
    while len(standing) < n_standing:
        fam = fresh_family(1 + int(rng.random() < 0.3) * 3)
        bases.append(fam[0])
        standing.extend(fam)
    days = []
    for _ in range(n_days):
        day: list[str] = []
        n_new, n_var = int(per_day * 0.6), int(per_day * 0.25)
        while len(day) < n_new:
            day.extend(fresh_family(1 + int(rng.random() < 0.3) * 2))
        for b in rng.choice(len(bases), size=n_var, replace=False):
            v = normalize(variants(bases[int(b)], rng)[2])
            if v not in seen:
                seen.add(v)
                day.append(v)
        known = rng.choice(len(standing), size=per_day - len(day), replace=False)
        day.extend(standing[int(k)] for k in known)
        days.append(day)
    return standing, days


def names_frame(names: list[str]) -> pd.DataFrame:
    return pd.DataFrame({
        "node_id": np.array([stable_id(n) for n in names], dtype=np.int64),
        "name": names,
    })
