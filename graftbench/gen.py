"""Seeded input generator for the graft benchmark.

Everything the program reads is made here from the run's seed, so the same
seed gives byte-identical inputs. Sizes are fixed; the seed changes only
content (the log's offsets, which fixture documents, lookup draws), so the
work per run stays the same across seeds.

changelog_table reads a Kafka-shaped log from the engine's own
`format("kafka-test")` source, whose records are a pure function of
(partition, offset); the seed picks where the log starts. The expected
latest-value table is derived from that formula in `check.py`.

incremental_epochs reads documents of the sf0.1 `documents` fixture, from
the pool `make_pool.py` drew from it (`data/pool.parquet`). The seed draws a
run's documents from the pool by family (documents linked by a shared
16-token window or the same bag of tokens), in the fixture's share of each
family class, so every document keeps the verdict it has in the whole
fixture. They are numbered 0.. in fixture order, so a tail slice delivers
the earlier member of a family after the later one has been curated, and
forces retroactive verdict flips.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# changelog_table: 4 partitions x 2500 records, 1000 keys per partition (the
# most KafkaTestSource keeps partition-sticky), 2000 records admitted per
# micro-batch, so one drain is 5 micro-batches.
LOG = dict(partitions=4, records=2500, keys=1000, admit=2000)

# incremental_epochs: one founding epoch of the top FOUNDING_SHARE of doc_ids,
# then TAILS descending slices of the rest.
DOCS = 500
TAILS = 3
FOUNDING_SHARE = 0.8
POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "pool.parquet")


def family_class(size, has_bag_copy):
    """Class of a document family: its size, and whether it holds a copy of
    another member's bag of tokens."""
    return f"{size}{'b' if has_bag_copy else ''}"


# Families a run draws per class: the class counts of the sf0.1 fixture
# (5,000 documents: 4,565 single, 203 pairs, 6 triples and 2 pairs that
# hold a bag copy, 1 other triple, 1 family of four) scaled to DOCS
# documents; classes that round to no family are left out, and singles make
# up the rounding.
RUN_FAMILIES = {"1": 457, "2": 20, "3b": 1}


def log_params(seed):
    """Kafka-test options for this seed: the log starts at a seeded offset."""
    rnd = random.Random(seed * 7919 + 1)
    start = rnd.randrange(0, 1_000_000)
    return dict(LOG, start=start, topic=f"graft-log-{seed}")


def _documents(seed):
    """DOCS pooled documents, drawn by family class, renumbered in fixture
    order."""
    pool = pq.read_table(POOL)
    fam = pool.column("family").to_pylist()
    bag = pool.column("bag_copy").to_pylist()
    members = {}
    for i, f in enumerate(fam):
        members.setdefault(f, []).append(i)
    by_class = {}
    for f, rows in sorted(members.items()):
        by_class.setdefault(family_class(len(rows), any(bag[i] for i in rows)), []).append(f)
    rnd = random.Random(seed)
    rows = sorted(i for cls, n in RUN_FAMILIES.items()
                  for f in rnd.sample(by_class[cls], n) for i in members[f])
    if len(rows) != DOCS:
        raise ValueError(f"pool gave {len(rows)} documents, not {DOCS}")
    docs = pool.take(pa.array(rows)).select(["text", "lang", "source", "n_chars"])
    return docs.add_column(0, "doc_id", pa.array(range(DOCS), pa.int64()))


def epoch_slices():
    """doc_id ranges [lo, hi) in delivery order: founding first, then the
    tail slices walking down."""
    cut = round(DOCS * (1 - FOUNDING_SHARE))
    width = cut // TAILS
    tails = [(max(0, cut - (i + 1) * width) if i < TAILS - 1 else 0,
              cut - i * width) for i in range(TAILS)]
    return [(cut, DOCS)] + tails


def write_inputs(seed, data_dir):
    """Write this seed's inputs under data_dir; return their description."""
    os.makedirs(data_dir, exist_ok=True)
    docs = _documents(seed)
    pq.write_table(docs, os.path.join(data_dir, "documents.parquet"))
    return dict(log=log_params(seed), docs=DOCS, slices=epoch_slices())
