"""Seeded input generator for the ER pipeline benchmark.

Writes the raw records and the ground truth of one workload as parquet,
using numpy only (no Spark), so the same seed always gives the same
files and set-up stays short.

    python3 erbench/datagen.py --workload supervised_gsmb --seed 7 --out DIR
    python3 erbench/datagen.py --workload clean_blast --seed 7 --out DIR

``WORKLOADS`` gives each workload's input kind and size; the benchmark
and this CLI both read it.

Shape parameters (module constants below):

* ``ZIPF_S`` - exponent of the Zipf law every categorical token is drawn
  from (p(rank r) ~ 1/r^s). The head tokens (common surnames, cities,
  street suffixes, phone area codes, venue words) form mega-blocks that
  block purging has to remove.
* ``DUP_FRACTION`` - share of dirty entities that get noisy copies; each
  such entity gets 1 or 2 copies with equal odds.
* ``MATCH_FRACTION`` - share of the second clean source that copies an
  entity of the first source (1:1); the rest are fresh entities.
* Noise operations on a copy: name typos (one deleted, substituted or
  transposed letter), a given-name/surname swap, dropped fields, and for
  the clean sources dropped title words, reordered author lists,
  initial-only given names, venue acronyms and off-by-one years. Their
  probabilities are the ``P_*`` constants. Dropped and mistyped fields
  are what keep the pair completeness of the blocking below 1.

Outputs, in ``--out``:

* dirty: ``profiles.parquet`` (id, given_name, surname, street, city,
  zip, birth_year, occupation, phone) and ``gt.parquet`` (id1, id2):
  every pair of records of one entity.
* clean: ``a.parquet`` (id, title, authors, venue, year),
  ``b.parquet`` (id, name, people, conference, date) - the same
  attributes under other names - and ``gt.parquet`` (id1 from a, id2
  from b).
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
DUP_FRACTION = 0.30
MATCH_FRACTION = 0.6

P_SURNAME_TYPO = 0.4
P_GIVEN_TYPO = 0.2
P_NAME_SWAP = 0.15
P_DROP_FIELD = 0.2
P_TITLE_DROP = 0.3
P_TITLE_TYPO = 0.3
P_AUTHOR_REORDER = 0.3
P_AUTHOR_INITIALS = 0.3
P_VENUE_ACRONYM = 0.5
P_YEAR_SHIFT = 0.1
# Vocabularies and entity populations are the same for every seed; the
# seed draws which entities get copies, the noise and the record order.
# Seeds then vary the duplicates, not the block-size distribution that
# decides where block purging cuts.
POPULATION_SEED = 20190326

# workload -> (input kind, entities)
WORKLOADS = {
    "dirty_wnp": ("dirty", 2000),
    "clean_blast": ("clean", 1000),
    "supervised_gsmb": ("dirty", 2000),
}

_ONSETS = list("bcdfghjklmnprstvwz") + ["br", "ch", "cl", "dr", "gr", "kr", "pl", "sh", "st", "th", "tr"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "y"]


def words(rng: np.random.Generator, n: int, syllables: int = 3) -> np.ndarray:
    """``n`` distinct pronounceable lowercase words of 2..``syllables``
    syllables, in random order."""
    m = 3 * n + 64
    onset = np.array(_ONSETS)[rng.integers(0, len(_ONSETS), (m, syllables))]
    nucleus = np.array(_NUCLEI)[rng.integers(0, len(_NUCLEI), (m, syllables))]
    parts = np.char.add(onset, nucleus)
    n_syl = rng.integers(2, syllables + 1, m)
    out = parts[:, 0]
    for j in range(1, syllables):
        out = np.where(n_syl > j, np.char.add(out, parts[:, j]), out)
    _, first = np.unique(out, return_index=True)
    if len(first) < n:
        raise ValueError(f"vocabulary too small for {n} distinct words")
    return out[np.sort(first)][:n]


def typos(rng: np.random.Generator, vocab: np.ndarray) -> np.ndarray:
    """One misspelling per word: a deleted, substituted or transposed
    letter at an inner position (the first letter is kept)."""
    ops = rng.integers(0, 3, len(vocab))
    pos = rng.random(len(vocab))
    subs = rng.choice(list("aeioulnrst"), len(vocab))
    out = []
    for w, op, p, s in zip(vocab.tolist(), ops, pos, subs):
        i = 1 + int(p * (len(w) - 2))
        if op == 0:
            t = w[:i] + w[i + 1:]
        elif op == 1:
            t = w[:i] + (s if s != w[i] else "x") + w[i + 1:]
        else:
            t = w[:i] + w[i + 1] + w[i] + w[i + 2:] if i + 1 < len(w) else w[:i] + "e"
        out.append(t if t != w else w + "e")
    return np.array(out)


def zipf(rng: np.random.Generator, vocab_size: int, size, s: float = ZIPF_S) -> np.ndarray:
    """Indices into a vocabulary of ``vocab_size``, Zipf(s)-distributed."""
    p = 1.0 / np.arange(1, vocab_size + 1) ** s
    return rng.choice(vocab_size, size=size, p=p / p.sum())


def join_columns(cols: np.ndarray, keep: np.ndarray, sep: str) -> np.ndarray:
    """Row-wise join of the kept cells of a 2-d string array."""
    out = np.where(keep[:, 0], cols[:, 0], "")
    for j in range(1, cols.shape[1]):
        glued = np.where(out == "", cols[:, j], np.char.add(np.char.add(out, sep), cols[:, j]))
        out = np.where(keep[:, j], glued, out)
    return out


def _digits(values: np.ndarray, width: int) -> np.ndarray:
    return np.char.zfill(values.astype(str), width)


def _nullable(values: np.ndarray, drop: np.ndarray) -> pa.Array:
    return pa.array(values.astype(object), type=pa.string(), mask=drop)


def _pairs_within(groups: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """All unordered pairs of rows that share an entity, given per-copy
    row arrays aligned on entity (group[0] = originals)."""
    left, right = [], []
    for i in range(len(groups)):
        for j in range(i + 1, len(groups)):
            ok = (groups[i] >= 0) & (groups[j] >= 0)
            left.append(groups[i][ok])
            right.append(groups[j][ok])
    return np.concatenate(left), np.concatenate(right)


def dirty(seed: int, n_entities: int) -> tuple[pa.Table, pa.Table]:
    """One dirty person collection with planted noisy duplicates."""
    pop = np.random.default_rng([POPULATION_SEED, 1])
    given_v = words(pop, 800, 2)
    sur_v = words(pop, 6000, 3)
    street_v = words(pop, 1500, 3)
    city_v = words(pop, 300, 3)
    job_v = words(pop, 150, 3)
    suffix_v = np.array(["street", "avenue", "road", "lane", "drive", "court", "place", "way"])
    given_t, sur_t = typos(pop, given_v), typos(pop, sur_v)

    n = n_entities
    given = zipf(pop, len(given_v), n)
    sur = zipf(pop, len(sur_v), n)
    city = zipf(pop, len(city_v), n)
    street = np.char.add(
        np.char.add(pop.integers(1, 3000, n).astype(str), " "),
        np.char.add(np.char.add(street_v[zipf(pop, len(street_v), n)], " "), suffix_v[zipf(pop, 8, n)]),
    )
    zipc = _digits(10000 + city * 37 + pop.integers(0, 20, n), 5)
    year = pop.integers(1940, 2006, n).astype(str)
    job = job_v[zipf(pop, len(job_v), n)]
    phone = np.char.add(
        np.char.add(_digits(200 + zipf(pop, 60, n), 3), " "),
        np.char.add(np.char.add(_digits(pop.integers(0, 1000, n), 3), "-"), _digits(pop.integers(0, 10000, n), 4)),
    )

    rng = np.random.default_rng([seed, 1])

    # copies: entity index per row; originals first
    dup = rng.permutation(n)[: int(round(DUP_FRACTION * n))]
    two = rng.random(len(dup)) < 0.5
    src = np.concatenate([np.arange(n), dup, dup[two]])
    m = len(src)
    is_copy = np.arange(m) >= n

    def noisy(p):
        return is_copy & (rng.random(m) < p)

    g_name = np.where(noisy(P_GIVEN_TYPO), given_t[given[src]], given_v[given[src]])
    s_name = np.where(noisy(P_SURNAME_TYPO), sur_t[sur[src]], sur_v[sur[src]])
    swap = noisy(P_NAME_SWAP)
    g_name, s_name = np.where(swap, s_name, g_name), np.where(swap, g_name, s_name)

    # rows are shuffled so that copies are not adjacent to their original
    order = rng.permutation(m)
    pos = np.empty(m, dtype=np.int64)
    pos[order] = np.arange(m)
    ids = np.char.add("p", _digits(np.arange(m), 7))

    cols = {"id": pa.array(ids)}
    cols["given_name"] = pa.array(g_name[order])
    cols["surname"] = pa.array(s_name[order])
    for name, values in (
        ("street", street),
        ("city", city_v[city]),
        ("zip", zipc),
        ("birth_year", year),
        ("occupation", job),
        ("phone", phone),
    ):
        cols[name] = _nullable(values[src][order], noisy(P_DROP_FIELD)[order])
    profiles = pa.table(cols)

    # row index of each copy level per entity (-1 where absent)
    first = np.full(n, -1)
    second = np.full(n, -1)
    first[dup] = pos[n: n + len(dup)]
    second[dup[two]] = pos[n + len(dup):]
    left, right = _pairs_within([pos[:n], first, second])
    gt = pa.table({"id1": pa.array(ids[left]), "id2": pa.array(ids[right])})
    return profiles, gt


def _papers(rng, n, vocab):
    """Fresh bibliographic entities as index arrays."""
    title_len = rng.integers(5, 10, n)
    return {
        "title": zipf(rng, len(vocab["title"]), (n, 9), 1.0),
        "title_keep": np.arange(9)[None, :] < title_len[:, None],
        "given": zipf(rng, len(vocab["given"]), (n, 4)),
        "sur": zipf(rng, len(vocab["sur"]), (n, 4)),
        "n_auth": rng.integers(2, 5, n),
        "venue": zipf(rng, len(vocab["venue"]), n),
        "year": rng.integers(1990, 2021, n),
    }


def clean(seed: int, n_entities: int) -> tuple[pa.Table, pa.Table, pa.Table]:
    """Two bibliographic sources with different attribute names; the
    second copies ``MATCH_FRACTION`` of its records from the first."""
    fixed = np.random.default_rng([POPULATION_SEED, 2])
    vocab = {
        "title": words(fixed, 4000, 3),
        "given": words(fixed, 600, 2),
        "sur": words(fixed, 4000, 3),
    }
    venue_words = np.concatenate(
        [np.array(["conference", "journal", "international", "symposium", "workshop", "data"]), words(fixed, 120, 3)]
    )
    n_venues = 60
    vw = zipf(fixed, len(venue_words), (n_venues, 4), 0.8)
    venue_len = fixed.integers(2, 5, n_venues)
    title_t = typos(fixed, vocab["title"])
    rng = np.random.default_rng([seed, 2])
    venue_keep = np.arange(4)[None, :] < venue_len[:, None]
    vocab["venue"] = join_columns(venue_words[vw], venue_keep, " ")
    acronym = join_columns(np.char.upper(venue_words[vw].astype("<U1")), venue_keep, "")

    n = n_entities
    n_match = int(round(MATCH_FRACTION * n))
    a = _papers(fixed, n, vocab)
    fresh = _papers(fixed, n - n_match, vocab)
    picked = rng.permutation(n)[:n_match]
    b = {k: np.concatenate([v[picked], fresh[k]]) for k, v in a.items()}
    is_copy = np.arange(n) < n_match

    def noisy(p):
        return is_copy & (rng.random(n) < p)

    b_title = b["title"].copy()
    typo_rows = noisy(P_TITLE_TYPO)
    typo_col = rng.integers(0, 5, n)
    b_keep = b["title_keep"].copy()
    drop_rows = noisy(P_TITLE_DROP)
    b_keep[drop_rows, rng.integers(0, 5, n)[drop_rows]] = False

    def title(idx, keep, typo_rows=None, typo_col=None):
        cells = vocab["title"][idx]
        if typo_rows is not None:
            r = np.flatnonzero(typo_rows)
            cells[r, typo_col[r]] = title_t[idx[r, typo_col[r]]]
        return join_columns(cells, keep, " ")

    def authors(p, reorder=None, initials=None):
        given = vocab["given"][p["given"]]
        if initials is not None:
            given = np.where(initials[:, None], given.astype("<U1"), given)
        names = np.char.add(np.char.add(given, " "), vocab["sur"][p["sur"]])
        keep = np.arange(4)[None, :] < p["n_auth"][:, None]
        if reorder is not None:
            # reversed author order: the kept prefix read backwards
            rev = (p["n_auth"][:, None] - 1 - np.arange(4)[None, :]) % 4
            names = np.where(reorder[:, None], np.take_along_axis(names, rev, 1), names)
        return join_columns(names, keep, ", ")

    a_ids = np.char.add("a", _digits(np.arange(n), 6))
    b_ids = np.char.add("b", _digits(np.arange(n), 6))
    a_order, b_order = rng.permutation(n), rng.permutation(n)
    a_pos = np.empty(n, dtype=np.int64)
    a_pos[a_order] = np.arange(n)
    b_pos = np.empty(n, dtype=np.int64)
    b_pos[b_order] = np.arange(n)

    ta = pa.table(
        {
            "id": a_ids,
            "title": title(a["title"], a["title_keep"])[a_order],
            "authors": authors(a)[a_order],
            "venue": vocab["venue"][a["venue"]][a_order],
            "year": a["year"].astype(str)[a_order],
        }
    )
    b_year = b["year"] + np.where(noisy(P_YEAR_SHIFT), rng.choice([-1, 1], n), 0)
    b_venue = np.where(noisy(P_VENUE_ACRONYM), acronym[b["venue"]], vocab["venue"][b["venue"]])
    tb = pa.table(
        {
            "id": b_ids,
            "name": title(b_title, b_keep, typo_rows, typo_col)[b_order],
            "people": authors(b, noisy(P_AUTHOR_REORDER), noisy(P_AUTHOR_INITIALS))[b_order],
            "conference": b_venue[b_order],
            "date": b_year.astype(str)[b_order],
        }
    )
    gt = pa.table({"id1": a_ids[a_pos[picked]], "id2": b_ids[b_pos[:n_match]]})
    return ta, tb, gt


def write(kind: str, seed: int, out: str, n_entities: int) -> dict[str, str]:
    """Generate one input and write it under ``out``; returns the file
    paths by role."""
    os.makedirs(out, exist_ok=True)
    if kind == "dirty":
        tables = dict(zip(("profiles", "gt"), dirty(seed, n_entities)))
    elif kind == "clean":
        tables = dict(zip(("a", "b", "gt"), clean(seed, n_entities)))
    else:
        raise ValueError(f"unknown input kind: {kind}")
    paths = {}
    for role, table in tables.items():
        paths[role] = os.path.join(out, f"{role}.parquet")
        pq.write_table(table, paths[role])
    return paths


def write_workload(workload: str, seed: int, out: str) -> dict[str, str]:
    """The input of one benchmark workload, as ``write`` lays it out."""
    kind, n_entities = WORKLOADS[workload]
    return write(kind, seed, out, n_entities)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    for role, path in write_workload(args.workload, args.seed, args.out).items():
        print(role, path)


if __name__ == "__main__":
    main()
