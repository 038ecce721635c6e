"""Seeded IMDB-shaped fixture in the reference's on-disk formats.

Writes, into one directory:

* ``train-1.csv`` .. ``train-8.csv``: labelled shards with an unnamed
  leading index column (empty header name, non-contiguous values), the
  IMDB ``\\N`` sentinel in ``endYear`` (~90 %), ``runtimeMinutes`` and
  ``numVotes``, empty ``originalTitle`` cells and accented titles;
* ``validation_hidden.csv``: the same columns without ``label``;
* ``writing.json``: one JSON array of ``{movie, writer}`` records, several
  writers per movie;
* ``directing.json``: the pandas ``orient="columns"`` dict, whose
  ``movie`` and ``director`` maps have mismatched index keys;
* ``train_gemma3_4b_cache.csv`` / ``validation_gemma3_4b_cache.csv``: a
  genre for every id, so the LLM enrichment path never fires.

Labels follow a planted rule over votes, runtime, genre and director,
with about FLIP_SHARE of them flipped. The validation labels are returned
to the caller and never written next to the program's inputs.

The content (ids, cells, labels, credits, genres) is the same for every
seed, so every run fits a forest to the same rows; the seed orders the
rows across the shards, the index values, the JSON records, the
column-dict keys and the rows of every other file.
"""

from __future__ import annotations

import csv
import json
import math
import os
import random
from dataclasses import dataclass

GENRES = [
    "Action", "Adventure", "Animation", "Biography", "Comedy",
    "Crime", "Documentary", "Drama", "Family", "Fantasy",
    "History", "Horror", "Music", "Mystery", "Romance",
    "Sci-Fi", "Thriller", "War",
]
WORDS = [
    "The", "Night", "Doll", "River", "Last", "Song", "City", "Dream",
    "Café", "Amélie", "Über", "Niño", "Crème", "Señor", "Fjörd", "Ça",
    "Return", "Shadow", "Garden", "Empire", "Île", "Noël", "Straße",
]
N_SHARDS = 8
TRAIN_ROWS = 300
VALIDATION_ROWS = 1000
CONTENT_SEED = 20240601
FLIP_SHARE = 0.08
LLM_NAME = "gemma3_4b"


@dataclass
class Fixture:
    validation_ids: list[str]  # in tconst order, as the sink writes them
    validation_truth: dict[str, bool]


def _title(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4)))


def _movie(rng: random.Random, tconst: str, genre: str, director_bias: float):
    """One movie row (raw CSV cells) plus its planted label."""
    start = rng.randint(1915, 2022)
    runtime = rng.randint(55, 200)
    votes = 10 ** rng.uniform(1.0, 6.0)
    score = (
        1.3 * (math.log10(votes) - 3.4)
        + 0.015 * (runtime - 110)
        + (0.9 if genre in ("Drama", "Documentary", "Biography", "War") else 0.0)
        - (0.9 if genre in ("Horror", "Family") else 0.0)
        + director_bias
    )
    label = score > 0
    if rng.random() < FLIP_SHARE:
        label = not label
    primary = _title(rng) if rng.random() > 0.02 else ""
    r = rng.random()
    original = primary if r < 0.6 else ("" if r < 0.8 else _title(rng))
    end = "\\N"
    if rng.random() < 0.1:
        # a few end years precede the start year: the repair rule fixes them
        end = str(start + rng.randint(-3, 12))
    row = [
        tconst,
        primary,
        original,
        str(start) if rng.random() > 0.01 else "\\N",
        end,
        str(runtime) if rng.random() > 0.05 else "\\N",
        f"{votes:.1f}" if rng.random() > 0.03 else "\\N",
    ]
    return row, label


def generate(data_dir: str, seed: int) -> Fixture:
    rng = random.Random(CONTENT_SEED)
    order = random.Random(seed)
    os.makedirs(data_dir, exist_ok=True)
    n = TRAIN_ROWS + VALIDATION_ROWS
    ids = [f"tt{x:07d}" for x in rng.sample(range(10_000, 9_999_999), n)]
    writers = [f"nm{x:07d}" for x in rng.sample(range(1, 9_999_999), n // 6)]
    directors = [f"nm{x:07d}" for x in rng.sample(range(1, 9_999_999), n // 8)]
    bias = {d: rng.gauss(0.0, 0.8) for d in directors}
    genre = {t: rng.choice(GENRES) for t in ids}
    # Zipf-like popularity, so "most frequent writer/director" is informative.
    w_weights = [1.0 / (i + 1) for i in range(len(writers))]
    d_weights = [1.0 / (i + 1) ** 0.7 for i in range(len(directors))]
    directed = {t: rng.choices(directors, d_weights)[0] for t in ids}

    rows, labels = {}, {}
    for t in ids:
        rows[t], labels[t] = _movie(rng, t, genre[t], bias[directed[t]])
    train_ids, val_ids = ids[:TRAIN_ROWS], ids[TRAIN_ROWS:]

    writing = [{"movie": t, "writer": wr} for t in ids
               for wr in sorted(set(rng.choices(writers, w_weights, k=rng.randint(1, 3))))]
    credits = []  # (movie or None, director or None): one column-dict entry
    for t in ids:
        extra = [rng.choices(directors, d_weights)[0]] if rng.random() < 0.1 else []
        credits += [(t, d) for d in [directed[t]] + extra]
    # Mismatched keys: some movie entries lack a director and vice versa.
    for i in rng.sample(range(len(credits)), len(credits) // 50):
        credits[i] = (credits[i][0], None)
    credits += [(None, rng.choice(directors)) for _ in range(len(credits) // 50)]
    cached = {t: genre[t] if rng.random() > 0.03 else "unknown" for t in ids}

    order.shuffle(train_ids)
    index = sorted(order.sample(range(n * 3), TRAIN_ROWS))
    header = ["", "tconst", "primaryTitle", "originalTitle", "startYear",
              "endYear", "runtimeMinutes", "numVotes"]
    for s in range(N_SHARDS):
        with open(os.path.join(data_dir, f"train-{s + 1}.csv"), "w", newline="",
                  encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(header + ["label"])
            for i, t in enumerate(train_ids):
                if i * N_SHARDS // TRAIN_ROWS == s:
                    w.writerow([index[i]] + rows[t] + [str(labels[t])])
    order.shuffle(val_ids)
    with open(os.path.join(data_dir, "validation_hidden.csv"), "w", newline="",
              encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        for i, t in enumerate(val_ids):
            w.writerow([i * 2 + 1] + rows[t])

    order.shuffle(writing)
    with open(os.path.join(data_dir, "writing.json"), "w", encoding="utf-8") as fh:
        json.dump(writing, fh)

    order.shuffle(credits)
    movie_map = {str(k): m for k, (m, _) in enumerate(credits) if m is not None}
    director_map = {str(k): d for k, (_, d) in enumerate(credits) if d is not None}
    with open(os.path.join(data_dir, "directing.json"), "w", encoding="utf-8") as fh:
        json.dump({"movie": movie_map, "director": director_map}, fh)

    for name, split in (("train", train_ids), ("validation", val_ids)):
        split = list(split)
        order.shuffle(split)
        with open(os.path.join(data_dir, f"{name}_{LLM_NAME}_cache.csv"), "w",
                  newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(["tconst", "genre"])
            for t in split:
                w.writerow([t, cached[t]])

    return Fixture(
        validation_ids=sorted(val_ids),
        validation_truth={t: labels[t] for t in val_ids},
    )
