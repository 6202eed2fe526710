"""Seeded multi-batch generator for the four bronze tables.

Follows the raw-layer quirks of ``FIXTURES.md`` §1-§3: string-typed
numerics, ``'NaN'`` ratings and raw roles, empty and NULL budgets,
year-like certificates, stringified genre lists (``"[]"`` and NULL
included), NULL business keys, rotated actor rows, and per-source URLs
so every satellite key is unique within a batch.  Between batches a
share of movies change rating or flip an attribute between NULL and a
value, vanish (and come back later), or appear for the first time, and
cast lists gain and lose rows.

Besides the rows, ``Batch`` carries the natural keys of every SCD2
satellite/link snapshot the engine should build from it, so the
expected inserted / closed / unchanged counts per batch come from the
generator rather than from the engine under test.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

GENRES = ["Action", "Adventure", "Comedy", "Crime", "Drama", "Fantasy",
          "Horror", "Romance", "Sci-Fi", "Thriller", "War", "Western"]
CERTS = ["G", "PG", "PG-13", "R", "NC-17", "Not Rated"]
ROLES = ["director", "producer", "writer"]
CREW_RAW = {"director": "(directed by)", "producer": "(producer)",
            "writer": "(screenplay)"}
MOVIE_COLS = ["url", "movie_name", "original_name", "year", "certificate",
              "rating", "genres", "budget", "gross_worldwide", "min_duration"]
ACTOR_COLS = ["movie_name", "movie_duration", "name", "raw_role", "role"]
SOURCES = {"imdb": "IMDB", "metacritic": "METACRITIC"}


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def movie_id(name: str, duration: int) -> str:
    return md5(f"{name}{duration}")


def title_item_id(name: str, duration: int, url: str) -> str:
    return md5(movie_id(name, duration) + url)


@dataclass
class Batch:
    """One landing: bronze rows per table plus the expected snapshots."""
    rows: dict[str, list[tuple]]
    # natural key -> attribute tuple, per SCD2 table
    snapshots: dict[str, dict[tuple, tuple]] = field(default_factory=dict)
    movies: list[tuple[str, int, str]] = field(default_factory=list)  # (name, dur, url)
    people: list[str] = field(default_factory=list)

    def arrow(self, table: str) -> pa.Table:
        cols = ACTOR_COLS if table.startswith("actor") else MOVIE_COLS
        data = list(zip(*self.rows[table])) if self.rows[table] else [[] for _ in cols]
        types = {c: pa.string() for c in cols}
        types["movie_duration"] = pa.int32()
        return pa.table({c: pa.array(list(v), types[c]) for c, v in zip(cols, data)})


class _Movie:
    def __init__(self, rng, i: int, n_people: int):
        self.i = i
        self.name = None if rng.random() < 0.003 else f"Movie {i:05d}"
        self.duration = None if rng.random() < 0.005 else int(rng.integers(70, 200))
        self.sources = ["imdb", "metacritic"] if rng.random() < 0.4 else [
            "imdb" if rng.random() < 0.7 else "metacritic"]
        self.year = None if rng.random() < 0.03 else str(int(rng.integers(1950, 2024)))
        self.cert = self.year if (self.year and rng.random() < 0.05) else (
            CERTS[int(rng.integers(0, len(CERTS)))])
        k = int(rng.choice([0, 1, 1, 2, 2, 3]))
        gs = sorted(rng.choice(len(GENRES), k, replace=False).tolist())
        self.genres = None if rng.random() < 0.02 else (
            "[" + ", ".join(f"'{GENRES[g]}'" for g in gs) + "]")
        self.original = self.name if rng.random() < 0.3 else None
        self.rating = {s: self._rating(rng) for s in SOURCES}
        self.budget = self._money(rng)
        self.gross = self._money(rng)
        n_cast = int(rng.integers(5, 45))
        cast = rng.choice(n_people, n_cast, replace=False)
        self.cast = [(int(p), "actor", self._raw_role(rng, int(p))) for p in cast]
        for r in ROLES:
            if rng.random() < 0.8:
                self.cast.append((int(rng.integers(0, n_people)), r, CREW_RAW[r]))
        self.cast = list({(p, r): (p, r, raw) for p, r, raw in self.cast}.values())

    @staticmethod
    def _rating(rng):
        u = rng.random()
        return None if u < 0.02 else "NaN" if u < 0.04 else f"{rng.uniform(1, 10):.1f}"

    @staticmethod
    def _money(rng):
        u = rng.random()
        return None if u < 0.1 else "" if u < 0.15 else str(int(rng.integers(1, 400)) * 1_000_000)

    @staticmethod
    def _raw_role(rng, p: int):
        u = rng.random()
        return "NaN" if u < 0.2 else f"(as P{p})" if u < 0.3 else f"Character {p % 997}"

    def url(self, src: str) -> str:
        return (f"https://www.imdb.com/title/tt{self.i:07d}" if src == "imdb"
                else f"https://www.metacritic.com/movie/m{self.i:05d}")

    def evolve(self, rng) -> None:
        """Between-batch drift: rating changes, NULL<->value flips, cast churn."""
        u = rng.random()
        if u < 0.10:
            s = list(SOURCES)[int(rng.integers(0, 2))]
            self.rating[s] = self._rating(rng)
        elif u < 0.14:
            self.budget = None if self.budget else str(int(rng.integers(1, 400)) * 1_000_000)
        elif u < 0.16:
            self.year = None if self.year else str(int(rng.integers(1950, 2024)))
        if rng.random() < 0.08 and len(self.cast) > 3:
            self.cast.pop(int(rng.integers(0, len(self.cast))))
        if rng.random() < 0.08:
            p, role, raw = self.cast[int(rng.integers(0, len(self.cast)))]
            if role == "actor":
                self.cast.remove((p, role, raw))
                self.cast.append((p, role, f"Character {(p * 7 + 1) % 997}"))


def batches(seed: int, n_movies: int, n_batches: int) -> list[Batch]:
    rng = np.random.default_rng(seed)
    n_people = max(50, n_movies * 4)
    people = [None if i == 0 else f"Person {i:06d}" for i in range(n_people)]
    pool = [_Movie(rng, i, n_people) for i in range(int(n_movies * 1.15))]
    live = set(range(n_movies))          # present in batch 0
    pending = list(range(n_movies, len(pool)))  # appear later
    out = []
    for b in range(n_batches):
        if b:
            for i in live:
                pool[i].evolve(rng)
            gone = {i for i in live if rng.random() < 0.04}
            back = {i for i in range(len(pool)) if i not in live
                    and i not in pending and rng.random() < 0.5}
            new = set(pending[: max(1, len(pending) // (n_batches - 1 or 1))])
            pending = pending[len(new):]
            live = (live - gone) | back | new
        out.append(_land(rng, [pool[i] for i in sorted(live)], people))
    return out


def _land(rng, movies, people) -> Batch:
    rows = {f"{k}_raw_data_{s}": [] for k in ("movie", "actor") for s in SOURCES}
    sat, genre_link, emp_link, emp_sat = {}, {}, {}, {}
    listed = []
    for m in movies:
        dur = None if m.duration is None else str(m.duration)
        for s in m.sources:
            url = m.url(s)
            orig = m.original if s == "imdb" else None
            rows[f"movie_raw_data_{s}"].append((
                url, m.name, orig, m.year, m.cert, m.rating[s], m.genres,
                m.budget, m.gross, dur))
            if m.name is not None and m.duration is not None:
                attrs = (orig, m.year, m.cert, m.rating[s], m.budget, m.gross, SOURCES[s])
                sat[(m.name, m.duration, url)] = attrs
                listed.append((m.name, m.duration, url))
        if m.name is not None and m.duration is not None:
            for g in (m.genres or "[]").strip("[]").split(", "):
                if g:
                    genre_link[(m.name, m.duration, g.strip("'"))] = ()
    for m in movies:
        for s in m.sources:
            crew = m.cast if s == "imdb" else [c for c in m.cast if c[1] != "actor"][:3] + [
                c for c in m.cast if c[1] == "actor"][:5]
            for p, role, raw in crew:
                name = people[p]
                row = (m.name, m.duration, name, raw, role)
                if name is not None and rng.random() < 0.01:
                    row = (m.name, m.duration, role, name, raw)  # rotated, repaired on read
                rows[f"actor_raw_data_{s}"].append(row)
                # a link needs both hub keys; this batch's movie rows put
                # every keyed movie in movie_hub
                if name is not None and m.name is not None and m.duration is not None:
                    emp_link[(m.name, m.duration, name)] = ()
                    emp_sat[(m.name, m.duration, name, raw, role)] = ()
    snaps = {"movie_info_sat": sat, "movie_genre_link": genre_link,
             "movie_emp_link": emp_link, "emp_movie_l_sat": emp_sat}
    names = sorted({people[p] for m in movies for p, _, _ in m.cast if people[p]})
    return Batch(rows, snaps, listed, names)


def expected_scd2(prev: Batch | None, cur: Batch) -> dict[str, dict[str, int]]:
    """Inserted / closed / unchanged per SCD2 table for landing ``cur``
    after ``prev`` (null-safe attribute comparison, like the merge)."""
    out = {}
    for t, snap in cur.snapshots.items():
        old = prev.snapshots[t] if prev else {}
        same = sum(1 for k, v in snap.items() if k in old and old[k] == v)
        changed = sum(1 for k, v in snap.items() if k in old and old[k] != v)
        new = sum(1 for k in snap if k not in old)
        gone = sum(1 for k in old if k not in snap)
        out[t] = {"inserted": new + changed, "closed": gone + changed, "unchanged": same}
    return out
