"""Seeded generator for the import workload's four CSVs, and the 15 tables
the import must produce from them, derived here without the engine.

The CSVs use the projected column layout of the program's fixtures (the
column order of `RefSchemas`), not Kaggle's real layout; `kaggle_ratings`
writes a small sample in the real layout for the layout probe.

Per-movie fan-out follows the Kaggle dataset at ~45K movies: about 12 cast
and 10 crew entries, 7 keywords, 3 genres and 3 companies per movie, and
about 58 ratings per movie (the ratio of the 2.6M-rating sample). The
generator plants the reference's input quirks: unparsable and duplicate
movie ids, a genre repeated within one cell, a missing original language,
zero budgets and revenues, unparsable ratings, and credits duplicates with
an empty cast and crew.
"""
import csv
import os
import random
import re

GENRES = [(i + 1, n) for i, n in enumerate([
    "Action", "Adventure", "Animation", "Comedy", "Crime", "Documentary",
    "Drama", "Family", "Fantasy", "History", "Horror", "Music", "Mystery",
    "Romance", "Science Fiction", "TV Movie", "Thriller", "War", "Western",
    "Foreign"])]
JOBS = ["Director", "Producer", "Screenplay", "Editor", "Original Music Composer",
        "Director of Photography", "Casting", "Executive Producer", "Writer",
        "Sound Designer"]
WORDS = ("love night city last dark king house road man star girl world war "
         "time day blood dream heart river fire game secret lost black life "
         "story return year end sky stone").split()

MOVIE_COLS = ["id", "original_title", "belongs_to_collection",
              "original_language", "spoken_languages", "production_companies",
              "production_countries", "release_date", "genres", "budget",
              "popularity", "revenue", "runtime", "overview"]

STRICT_INT = re.compile(r"^[+-]?[0-9]+$")


def strict_int(s):
    if s is None:
        return None
    t = s.strip()
    return int(t) if STRICT_INT.match(t) else None


def try_double(s):
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def pos(v):
    return v if v is not None and v > 0 else None


def _iso(rng, n, k):
    codes = set()
    while len(codes) < n:
        codes.add("".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(k)))
    return sorted(codes)


class Corpus:
    """The generated rows, kept as Python values next to the CSV text."""

    def __init__(self, seed, n_movies):
        rng = random.Random(seed)
        self.n = n_movies
        langs = _iso(rng, 30, 2)
        countries = [c.upper() for c in _iso(rng, 40, 2)]
        n_people = 4 * n_movies
        ids = rng.sample(range(2, 20 * n_movies), n_movies)

        def pick_person():
            # skewed reuse, as a few people appear in many films
            return 1 + int(n_people * rng.random() ** 2)

        def title():
            return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4))).title()

        self.movies, self.credits, self.keywords = [], [], []
        for mid in ids:
            m = {
                "id": str(mid),
                "original_title": title(),
                "belongs_to_collection": None,
                "original_language": rng.choice(langs) if rng.random() > 0.03 else None,
                "spoken_languages": [
                    {"iso_639_1": l, "name": "Lang " + l}
                    for l in rng.sample(langs, rng.randint(0, 3))],
                "production_companies": [
                    {"name": "Studio %d" % c, "id": c}
                    for c in rng.sample(range(1, n_movies // 4 + 2), rng.randint(0, 6))],
                "production_countries": [
                    {"iso_3166_1": c, "name": "Country " + c}
                    for c in rng.sample(countries, rng.randint(0, 2))],
                "release_date": "%d-%02d-%02d" % (rng.randint(1920, 2017),
                                                  rng.randint(1, 12), rng.randint(1, 28))
                if rng.random() > 0.02 else None,
                "genres": [{"id": g, "name": n} for g, n in rng.sample(GENRES, rng.randint(0, 5))],
                "budget": "0" if rng.random() < 0.4 else str(rng.randint(1, 200) * 100000),
                "popularity": "%.6f" % (rng.random() * 20) if rng.random() > 0.01 else "0",
                "revenue": "0" if rng.random() < 0.5 else str(rng.randint(1, 10 ** 9)),
                "runtime": "%d.0" % rng.randint(60, 180) if rng.random() > 0.02 else None,
                "overview": ", ".join(title() for _ in range(rng.randint(1, 6)))
                + (' "quoted"' if rng.random() < 0.1 else "")
                if rng.random() > 0.02 else None,
            }
            if rng.random() < 0.2:
                c = rng.randint(1, n_movies // 8 + 2)
                m["belongs_to_collection"] = {"id": c, "name": "Collection %d" % c,
                                              "poster_path": None}
            if m["genres"] and rng.random() < 0.05:  # genre repeated in one cell
                m["genres"].append(dict(m["genres"][0]))
            self.movies.append(m)

            crew = [{"credit_id": "%024x" % rng.getrandbits(96), "department": "Crew",
                     "gender": rng.randint(0, 2), "id": pick_person(),
                     "job": "Director" if j == 0 else rng.choice(JOBS),
                     "name": None, "profile_path": None}
                    for j in range(rng.randint(0, 20))]
            cast = [{"cast_id": k, "character": title(), "credit_id": "%024x" % rng.getrandbits(96),
                     "gender": rng.randint(0, 2), "id": pick_person(), "name": None,
                     "order": k, "profile_path": None}
                    for k in range(rng.randint(0, 24))]
            for p in crew + cast:
                p["name"] = "Person %d" % p["id"]
            self.credits.append({"id": str(mid), "cast": cast, "crew": crew})
            self.keywords.append({"id": str(mid), "keywords": [
                {"id": k, "name": "kw%d" % k}
                for k in rng.sample(range(1, n_movies + 2), rng.randint(0, 14))]})

        # Duplicate ids: a later row for an existing movie. Movies and
        # credits keep the last row (credits only a non-empty one); keywords
        # accumulate every row.
        for _ in range(n_movies // 50):
            i = rng.randrange(n_movies)
            dup = dict(self.movies[rng.randrange(n_movies)], id=self.movies[i]["id"])
            self.movies.insert(rng.randint(i + 1, len(self.movies)), dup)
            self.credits.append({"id": self.credits[i]["id"], "cast": [], "crew": []})
            self.keywords.append(dict(self.keywords[rng.randrange(n_movies)],
                                      id=self.keywords[i]["id"]))
        # Unparsable ids: skipped whole rows.
        for rows in (self.movies, self.credits, self.keywords):
            for _ in range(n_movies // 100):
                bad = dict(rows[rng.randrange(len(rows))],
                           id=rng.choice(["1997-08-20", "bad_id", "12.5", ""]))
                rows.insert(rng.randrange(len(rows)), bad)

        movie_ids = [int(m["id"]) for m in self.movies if strict_int(m["id"])]
        self.ratings = []
        for _ in range(58 * n_movies):
            r = str(rng.randint(1, 10) / 2)
            if rng.random() < 0.005:
                r = rng.choice(["bad", ""])
            mid = rng.choice(movie_ids) if rng.random() > 0.02 else rng.randint(1, 40 * n_movies)
            self.ratings.append((str(mid), r))

    def write(self, d):
        """Writes the four CSVs in the projected layout into directory d."""
        os.makedirs(d, exist_ok=True)

        def lit(v):
            return "" if v is None else v if isinstance(v, str) else repr(v)

        def dump(name, header, rows):
            with open(os.path.join(d, name), "w", newline="") as f:
                w = csv.writer(f, lineterminator="\n")
                w.writerow(header)
                w.writerows(rows)

        dump("movies_metadata.csv", MOVIE_COLS,
             ([lit(m[c]) for c in MOVIE_COLS] for m in self.movies))
        dump("credits.csv", ["id", "cast", "crew"],
             ([c["id"], repr(c["cast"]), repr(c["crew"])] for c in self.credits))
        dump("keywords.csv", ["id", "keywords"],
             ([k["id"], repr(k["keywords"])] for k in self.keywords))
        dump("ratings.csv", ["movieId", "rating"], self.ratings)

    def kaggle_ratings(self, path, n=400):
        """A ratings sample in Kaggle's real layout; returns the per-movie
        average a correct header-aware import computes from it."""
        rows = self.ratings[:n]
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["userId", "movieId", "rating", "timestamp"])
            for i, (mid, r) in enumerate(rows):
                w.writerow([str(1000 + i % 37), mid, r, str(1260759144 + i)])
        return rating_avg(rows)

    def expected_tables(self):
        """The 15 tables the import writes, as {table: [row tuples]}, in the
        column order of the sink's DDL (bridge identity ids omitted)."""
        t = {}
        # ---- movies pipeline: dims from every row, bridges from last rows
        base = [m for m in self.movies if strict_int(m["id"]) is not None]
        lang_first, lang_name = {}, {}
        country, genre, coll, comp = {}, {}, {}, {}
        for m in base:
            key = m["original_language"] or "nan"
            lang_first.setdefault(key, len(lang_first))
            for sl in m["spoken_languages"]:
                lang_first.setdefault(sl["iso_639_1"], len(lang_first))
                if sl["name"] is not None:
                    lang_name.setdefault(sl["iso_639_1"], sl["name"])
            for c in m["production_countries"]:
                country.setdefault(c["iso_3166_1"], (len(country), c["name"]))
            for g in m["genres"]:
                genre.setdefault(g["id"], g["name"])
            if m["belongs_to_collection"]:
                coll.setdefault(m["belongs_to_collection"]["id"],
                                m["belongs_to_collection"]["name"])
            for c in m["production_companies"]:
                comp.setdefault(c["id"], c["name"])
        hub = {}
        for m in base:
            hub[strict_int(m["id"])] = m
        ratings = rating_avg(self.ratings)
        t["genres"] = list(genre.items())
        t["languages"] = [(i, k, lang_name.get(k)) for k, i in lang_first.items()]
        t["collections"] = list(coll.items())
        t["countries"] = [(i, k, n) for k, (i, n) in country.items()]
        t["production_companies"] = list(comp.items())
        t["movies"] = [
            (mid, m["original_title"], m["release_date"],
             pos(strict_int(m["budget"])), pos(strict_int(m["revenue"])),
             pos(try_double(m["popularity"])),
             pos(int(try_double(m["runtime"]) // 1)) if try_double(m["runtime"]) is not None else None,
             ratings.get(mid), lang_first[m["original_language"] or "nan"],
             m["belongs_to_collection"]["id"] if m["belongs_to_collection"] else None,
             m["overview"] or None)
            for mid, m in hub.items()]
        t["movies_genres"] = sorted({(mid, g["id"]) for mid, m in hub.items() for g in m["genres"]})
        t["movies_production_companies"] = sorted(
            {(mid, c["id"]) for mid, m in hub.items() for c in m["production_companies"]})
        t["production_countries"] = sorted(
            {(mid, country[c["iso_3166_1"]][0]) for mid, m in hub.items()
             for c in m["production_countries"]})
        t["spoken_languages"] = sorted(
            {(mid, lang_first[s["iso_639_1"]]) for mid, m in hub.items()
             for s in m["spoken_languages"]})

        # ---- credits pipeline
        cbase = [c for c in self.credits if strict_int(c["id"]) is not None]
        persons, crew_hub, cast_hub = {}, {}, {}
        for c in cbase:
            for p in c["crew"] + c["cast"]:
                persons.setdefault(p["id"], p["name"])
            if any(p.get("job") is not None for p in c["crew"]):
                crew_hub[strict_int(c["id"])] = c["crew"]
            if c["cast"]:
                cast_hub[strict_int(c["id"])] = c["cast"]
        t["persons"] = list(persons.items())
        t["directors"] = sorted({(mid, p["id"]) for mid, crew in crew_hub.items()
                                 for p in crew if p["job"] == "Director"})
        t["actors"] = [(p["id"], mid, p["order"]) for mid, cast in cast_hub.items() for p in cast]

        # ---- keywords pipeline: every row contributes
        kw, mk = {}, set()
        for k in self.keywords:
            mid = strict_int(k["id"])
            if mid is None:
                continue
            for e in k["keywords"]:
                kw.setdefault(e["id"], e["name"])
                mk.add((mid, e["id"]))
        t["keywords"] = list(kw.items())
        t["movies_keywords"] = sorted(mk)
        return t


def rating_avg(rows):
    acc = {}
    for mid, r in rows:
        m, v = strict_int(mid), try_double(r)
        if m is not None and v is not None:
            s = acc.setdefault(m, [0.0, 0])
            s[0] += v
            s[1] += 1
    return {m: s / n for m, (s, n) in acc.items()}


def fingerprint(rows):
    """Row count plus, per column, the non-null count and a sum: the value
    for numbers, the length for strings. The harness computes the same
    figures over the loaded tables with SQL."""
    if not rows:
        return {"rows": 0, "cols": []}
    cols = []
    for i in range(len(rows[0])):
        vals = [r[i] for r in rows if r[i] is not None]
        cols.append([len(vals), sum(len(v) if isinstance(v, str) else v for v in vals)])
    return {"rows": len(rows), "cols": cols}
