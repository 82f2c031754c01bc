"""Seeded input generator for the benchmark workloads.

Everything is drawn from one ``numpy.random.Generator`` seeded by the
``--seed`` argument, with vectorised numpy over fixed-width string arrays,
in the calling process only.  Inputs are written as parquet with pyarrow, so
the library under test sees nothing but files.  The same seed and sizes give
byte-identical files.

* ``persons``   — person-like records (first/last name, date of birth, city)
  with Zipf-skewed names, as a data custodian holds them.
* ``link_parties`` — two parties for ``link``: the range side holds typo'd
  copies of a fixed share of the domain records plus fresh records, and the
  planted (domain_id, range_id) truth table.
* ``pages``     — a page/event table with Zipf host and user ids, one
  ``lang`` holding ~60% of the rows and a lognormal numeric ``value``,
  plus the exact answers the sketches are checked against.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = [
    "N_FILES",
    "LANGS",
    "persons",
    "link_parties",
    "pages",
    "exact_answers",
    "write_parquet",
]

# Part files per table: enough for the scan to split across the cores of a
# small machine without a repartition, and fixed so the layout is independent
# of the machine.
N_FILES = 8

_CONSONANTS = np.array(
    list("bcdfghjklmnprstvwxz") + ["ch", "sh", "th", "st", "br", "kr", "gl", "pf", "sc", "tr", "nd", "ll"]
)
_VOWELS = np.array(["a", "e", "i", "o", "u", "ai", "ei", "ou", "y", "ie", "au", "oe", "ea"])
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
LANGS = np.array(["en", "de", "fr", "es", "it", "nl", "pt", "pl", "sv", "ja", "zh", "ru"])


def _syllable_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` distinct-ish pronounceable words of ``lo``..``hi`` syllables."""
    n_syl = rng.integers(lo, hi + 1, size=n)
    out = np.full(n, "", dtype="U24")
    for s in range(hi):
        syl = np.char.add(
            _CONSONANTS[rng.integers(0, _CONSONANTS.size, size=n)],
            _VOWELS[rng.integers(0, _VOWELS.size, size=n)],
        )
        out = np.where(n_syl > s, np.char.add(out, syl), out)
    return out


def _zipf_pick(rng: np.random.Generator, pool: np.ndarray, n: int, a: float) -> np.ndarray:
    """``n`` draws from ``pool`` with P(rank r) ∝ 1/(r+1)^a."""
    w = 1.0 / np.arange(1, pool.size + 1) ** a
    return pool[rng.choice(pool.size, size=n, p=w / w.sum())]


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    """ISO dates of birth between 1930 and 2009."""
    days = rng.integers(0, 80 * 365, size=n)
    d = np.datetime64("1930-01-01") + days.astype("timedelta64[D]")
    return d.astype("U10")


def persons(rng: np.random.Generator, n: int, id_prefix: str, pools=None) -> dict:
    """Columns ``id, first_name, last_name, dob, city`` (string arrays).

    ``pools`` lets two parties draw from one name universe."""
    if pools is None:
        pools = name_pools(rng)
    first, last, city = pools
    ids = np.char.add(id_prefix, np.char.zfill(np.arange(n).astype("U9"), 7))
    return {
        "id": ids,
        "first_name": _zipf_pick(rng, first, n, 0.6),
        "last_name": _zipf_pick(rng, last, n, 0.4),
        "dob": _dates(rng, n),
        "city": _zipf_pick(rng, city, n, 0.6),
    }


def name_pools(rng: np.random.Generator):
    return (
        np.unique(_syllable_words(rng, 5000, 2, 3)),
        np.unique(_syllable_words(rng, 20000, 2, 4)),
        np.unique(_syllable_words(rng, 2000, 2, 4)),
    )


def _typo(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """One substituted letter per value, at a random position inside it,
    always different from the letter it replaces."""
    width = max(int(np.char.str_len(values).max()), 1)
    fixed = values.astype(f"U{width}")
    chars = fixed.view("U1").reshape(fixed.size, width).copy()
    lengths = np.char.str_len(fixed)
    pos = (rng.random(fixed.size) * lengths).astype(np.int64)
    rows = np.arange(fixed.size)
    old = chars[rows, pos]
    new = _LETTERS[rng.integers(0, _LETTERS.size, size=fixed.size)]
    new = np.where(new == old, np.where(old == "x", "q", "x"), new)
    chars[rows, pos] = new
    return chars.view(f"U{width}").reshape(fixed.size)


def link_parties(rng: np.random.Generator, n: int, copy_share: float):
    """Domain and range record sets of ``n`` each, plus the truth table.

    The range side is ``copy_share·n`` copies of distinct domain records
    with one typo in one name/city attribute, and ``n`` minus that many
    fresh records; its rows are shuffled and get their own ids."""
    pools = name_pools(rng)
    dom = persons(rng, n, "a", pools)
    n_copies = int(round(copy_share * n))
    fresh = persons(rng, n - n_copies, "b", pools)
    src = np.sort(rng.choice(n, size=n_copies, replace=False))
    copies = {c: dom[c][src].copy() for c in ("first_name", "last_name", "dob", "city")}
    which = rng.integers(0, 3, size=n_copies)
    for j, col in enumerate(("first_name", "last_name", "city")):
        sel = which == j
        copies[col][sel] = _typo(rng, copies[col][sel])
    order = rng.permutation(n)
    rng_ids = np.char.add("b", np.char.zfill(np.arange(n).astype("U9"), 7))
    rng_cols = {
        c: np.concatenate([copies[c], fresh[c]])[order]
        for c in ("first_name", "last_name", "dob", "city")
    }
    rng_side = {"id": rng_ids} | rng_cols
    # row k of the range side came from concatenated row order[k]
    pos_of = np.empty(n, dtype=np.int64)
    pos_of[order] = np.arange(n)
    truth = {"domain_id": dom["id"][src], "range_id": rng_ids[pos_of[:n_copies]]}
    return dom, rng_side, truth


def pages(rng: np.random.Generator, n: int) -> dict:
    """Columns ``host`` (string), ``user_id`` (long), ``lang`` (string),
    ``value`` (double)."""
    n_hosts, n_users = 50_000, 200_000
    host_rank = np.minimum(rng.zipf(1.3, size=n), n_hosts) - 1
    # scatter ranks over ids so the hottest host is not id 0
    host_ids = rng.permutation(n_hosts)[host_rank]
    hosts = np.char.add(np.char.add("h", host_ids.astype("U6")), ".example.org")
    user_rank = np.minimum(rng.zipf(1.2, size=n), n_users) - 1
    users = rng.permutation(n_users)[user_rank].astype(np.int64) + 1_000_000
    other = rng.integers(1, LANGS.size, size=n)
    lang = LANGS[np.where(rng.random(n) < 0.6, 0, other)]
    value = rng.lognormal(mean=3.0, sigma=1.2, size=n)
    return {"host": hosts, "user_id": users, "lang": lang, "value": value}


def exact_answers(table: dict, top: int = 50, sample: int = 50, seed: int = 0) -> dict:
    """Exact answers for the ``pages`` sketches: distinct hosts, the count of
    the ``top`` heaviest hosts plus ``sample`` random other hosts, the
    sorted values, and distinct users per lang."""
    keys, counts = np.unique(table["host"], return_counts=True)
    order = np.argsort(-counts, kind="stable")
    rest = order[top:]
    picked = np.concatenate(
        [order[:top], np.random.default_rng(seed).choice(rest, size=min(sample, rest.size), replace=False)]
    )
    users_per_lang = {
        str(lang): int(np.unique(table["user_id"][table["lang"] == lang]).size)
        for lang in np.unique(table["lang"])
    }
    return {
        "rows": int(table["host"].size),
        "distinct_hosts": int(keys.size),
        "checked_hosts": keys[picked].tolist(),
        "checked_counts": counts[picked].tolist(),
        "sorted_values": np.sort(table["value"]),
        "users_per_lang": users_per_lang,
        "top_lang_share": float(np.mean(table["lang"] == LANGS[0])),
    }


def write_parquet(columns: dict, path: Path, n_files: int = N_FILES) -> None:
    """Write ``columns`` as ``n_files`` contiguous part files under ``path``."""
    path.mkdir(parents=True, exist_ok=True)
    n = len(next(iter(columns.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        part = pa.table(
            {k: pa.array(v[lo:hi].tolist() if v.dtype.kind in "UO" else v[lo:hi]) for k, v in columns.items()}
        )
        pq.write_table(part, path / f"part-{i:03d}.parquet", compression="snappy")
