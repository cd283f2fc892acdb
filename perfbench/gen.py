"""Seeded input generator for the benchmark's workloads.

Everything here runs outside the timed regions. The program under test
only ever sees what these functions write: bronze JSON files landed into
a lake directory, and a documents parquet table plus its held-out
increment. The same seed always gives the same inputs.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from datetime import timedelta
from pathlib import Path

from meteomatics_e2e_data_pipeline_spark.plans.weather import AS_OF
from meteomatics_e2e_data_pipeline_spark.sources.fixtures import (
    ensure_fixtures, synthetic_locations)

#: Cities the lake plan samples from, and how many a lake holds.
CITY_POOL = 200
CITIES = 2
#: Readings in one bronze file: 8 hourly parameters x 193 hours plus
#: 2 daily sun parameters x 9 days.
READINGS_PER_FILE = 8 * 193 + 2 * 9
#: First run date of a lake. The fold keeps the fixed ``AS_OF``
#: (2025-03-28, window 03-26..04-04), and a run date delivers history
#: readings up to itself, so run dates from here to the window's end
#: put rows into every fact table and the city-daily rollup.
FIRST_RUN_DATE = AS_OF - timedelta(days=1)
MAX_CYCLES = 8


@dataclass(frozen=True)
class LakePlan:
    locations: list
    #: run dates in delivery order, one per cycle
    run_dates: list
    #: cycle index (0-based) that delivers an older run date late
    late_cycle: int


def lake_plan(seed: int) -> LakePlan:
    """Cities and delivery order of a growing lake.

    The lake grows by one run date per cycle. Cycle 1 delivers the run
    date that cycle 0 skipped, so the second cycle is always the late
    re-delivery: an older issuance that loses to the newer one already
    in the star for the keys they share. The seed picks the cities, and
    with them every reading value; dates, sizes and the lake layout (one
    country directory per city) are the same for every seed, so
    run-to-run figures compare like with like.
    """
    rng = random.Random(seed)
    pool = synthetic_locations(CITY_POOL)
    picks: list[int] = []
    while len(picks) < CITIES:
        i = rng.randrange(CITY_POOL)
        if all(pool[i][1] != pool[p][1] for p in picks):
            picks.append(i)
    locations = [pool[i] for i in sorted(picks)]
    dates = [(FIRST_RUN_DATE + timedelta(days=i)).isoformat()
             for i in range(MAX_CYCLES)]
    dates[0], dates[1] = dates[1], dates[0]
    return LakePlan(locations, dates, late_cycle=1)


def land_run_date(plan: LakePlan, run_date: str, landing: Path,
                  bronze: Path) -> tuple[int, int]:
    """Write one run date's files for every planned city into ``bronze``
    (``{country}/{city}/weather_raw_*.json``). Files are generated in a
    private landing directory and then moved, so a reader of the lake
    never sees a half-written file. Returns (files, bytes) landed."""
    land = landing / run_date
    ensure_fixtures(land, locations=plan.locations, run_dates=[run_date])
    n_files = n_bytes = 0
    for src in sorted(land.glob("*/*/*.json")):
        dst = bronze / src.relative_to(land)
        dst.parent.mkdir(parents=True, exist_ok=True)
        n_bytes += src.stat().st_size
        os.replace(src, dst)
        n_files += 1
    shutil.rmtree(land)
    return n_files, n_bytes


# --------------------------------------------------------------------------
# Documents corpus for the dedup ladder
# --------------------------------------------------------------------------

#: Profile of the sf0.1 ``documents`` table of the repository's test
#: data (5,000 rows), measured from the table and reproduced here:
#: ids 0..4,999, ``source`` = ``src{id % 20}``, texts of 10..100 words
#: (uniform) drawn from 30 words; 250 documents (5%) are a copy of a
#: random earlier document with `` dup`` appended (word 3-gram Jaccard
#: 0.80-0.99, median 0.98; a copy of a copy gets ``dup dup``). Two copies
#: of one document are byte-identical: 8 such exact-duplicate pairs.
#: Near-duplicate pairs at Jaccard >= 0.5: 256, in 233 clusters.
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
WORDS = (10, 100)
NEAR_DUP_SHARE = 250 / 5000
LANG_WEIGHTS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
SOURCES = 20
#: Share of the documents held out as the increment.
INCREMENT_SHARE = 0.05
#: Seed of the corpus shape: lengths, languages, which documents copy
#: which, and the held-out slice. The ladder's data-dependent loops (the
#: cluster fixpoint, the scrub's early stop) follow the copy structure,
#: so a shape drawn per run seed made the work per round differ by seed
#: (scrub 3.5 s vs 6.6 s on two seeds of one 4-core VM). Of shape seeds
#: 0-39 this one comes closest to the measured table at 5,000 rows: 8
#: exact pairs, 270 pairs at Jaccard >= 0.5, 233 clusters of 483 docs.
SHAPE_SEED = 34


@dataclass(frozen=True)
class Corpus:
    #: rows (doc_id, text, lang, source, n_chars) of the base corpus
    base: list
    #: the held-out increment, rows like ``base``
    increment: list


def corpus(seed: int, n_docs: int) -> Corpus:
    """A documents table with the measured sf0.1 profile (see above),
    ``n_docs`` rows, and ``INCREMENT_SHARE`` of them held out as the
    increment. The seed picks the words, so every text and hash differs
    by seed; the shape (``SHAPE_SEED``) is the same for every seed.
    """
    shape, words = random.Random(SHAPE_SEED), random.Random(seed)
    copies = set(shape.sample(range(1, n_docs),
                              round(n_docs * NEAR_DUP_SHARE)))
    langs, weights = zip(*LANG_WEIGHTS.items())
    rows = []
    for i in range(n_docs):
        if i in copies:
            text = rows[shape.randrange(i)][1] + " dup"
        else:
            text = " ".join(words.choice(VOCAB)
                            for _ in range(shape.randint(*WORDS)))
        lang = shape.choices(langs, weights)[0]
        rows.append((i, text, lang, f"src{i % SOURCES}", len(text)))
    held = set(shape.sample(range(n_docs),
                            round(n_docs * INCREMENT_SHARE)))
    return Corpus([r for r in rows if r[0] not in held],
                  [r for r in rows if r[0] in held])


def write_documents(rows: list, table_dir: Path) -> None:
    """Write ``rows`` as ``table_dir/documents.parquet``, the layout
    ``sources.load_table`` reads (one parquet file, no Spark involved)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    out = table_dir / "documents.parquet"
    out.mkdir(parents=True)
    pq.write_table(table, out / "part-0.parquet")
