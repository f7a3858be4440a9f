"""Seeded input generators for the benchmark workloads.

Each generator writes files only; the engine under test reads nothing but
those files. The same seed always produces byte-identical inputs.
``dedup_corpus`` also returns the planted clusters, the ground truth its
workload's output check needs without running the engine.
"""

from __future__ import annotations

import csv
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- playstore_cli: the reference's own CSV (FIXTURES.md section 2) ---------

PLAYSTORE_HEADER = (
    "appId", "developerId", "developer", "developerWebsite", "free", "genreId",
    "genre", "minInstalls", "offersIAP", "originalPrice", "price", "ratings",
    "len screenshots", "adSupported", "containsAds", "reviews", "score",
    "releasedYear",
)


def playstore_csv(path: str, rows: int, seed: int) -> None:
    """Play-Store-shaped apps table with the fixture's quirks: cast
    failures, out-of-range outliers, NULL display values and the
    space-named ``len screenshots`` column."""
    rng = random.Random(seed)
    n_devs = max(rows // 20, 1)
    genres = [f"GENRE_{i}" for i in range(12)]
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(PLAYSTORE_HEADER)
        for i in range(rows):
            # log-uniform developer index: zipf-like popularity, so a
            # handful of developers pass the 2% threshold on their own
            dev_i = int(n_devs ** rng.random()) - 1
            dev = f"dev_{dev_i}"
            developer = "" if dev_i % 50 == 7 else f"Developer {dev_i}"
            website = "" if dev_i % 10 < 3 else f"https://dev{dev_i}.example.com"
            free = rng.random() < 0.8
            genre_id = rng.choice(genres)
            ratings = str(rng.randint(0, 100))
            r = rng.random()
            if r < 0.01:
                ratings = str(rng.randint(1_000_000, 200_000_000))
            elif r < 0.02:
                ratings = "n/a"
            year = rng.randint(1971, 2023) if rng.random() > 0.01 else rng.choice((1900, 2037))
            ads = rng.random() < 0.55
            w.writerow((
                f"app_{i}",
                dev,
                developer,
                website,
                str(free).lower(),
                genre_id,
                genre_id.title().replace("_", " "),
                int(10 ** (rng.random() * 8.7)),
                str(rng.random() < 0.25).lower(),
                rng.randint(0, 500) if rng.random() > 0.6 else "",
                0 if free else rng.randint(1, 500),
                ratings,
                rng.randint(0, 30),
                str(ads).lower(),
                str(ads if rng.random() < 0.9 else not ads).lower(),
                int(10 ** (rng.random() * 7.7)),
                min(int(rng.triangular(0, 5.99, 4.5)), 5),
                year,
            ))


# --- dedup_corpus: documents with planted near-duplicate clusters -----------

def dedup_corpus(path: str, docs: int, seed: int, vocab: int = 5_000) -> list[list[int]]:
    """``docs`` documents as parquet ``[doc_id, text]``. About 20% of base
    documents get 1-4 near-copies with 2% of their tokens substituted.
    Returns the planted clusters (base id first), singletons included."""
    rng = random.Random(seed)
    words = [f"w{i:04d}" for i in range(vocab)]
    ids: list[int] = []
    texts: list[str] = []
    clusters: list[list[int]] = []
    while len(ids) < docs:
        base = [rng.choice(words) for _ in range(rng.randint(60, 140))]
        copies = rng.randint(1, 4) if rng.random() < 0.2 else 0
        copies = min(copies, docs - len(ids) - 1)
        cluster = []
        for k in range(copies + 1):
            toks = list(base)
            if k:
                for pos in rng.sample(range(len(toks)), max(1, round(0.02 * len(toks)))):
                    toks[pos] = rng.choice(words)
            cluster.append(len(ids))
            ids.append(len(ids))
            texts.append(" ".join(toks))
        clusters.append(cluster)
    # shuffle row order so clusters are not contiguous in the file
    order = list(range(len(ids)))
    rng.shuffle(order)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order]),
        }),
        path,
    )
    return clusters
