"""Make the document pool of the incremental_epochs workload.

    python3 graftbench/make_pool.py <sf0.1 fixture dir>

Reads the fixture's `documents.parquet` and writes `graftbench/data/pool.parquet`,
a fixed sample of 1,000 of its documents. The sample is drawn by family: a
family is a set of documents linked by a shared 16-token window (the span
gate's unit) or the same bag of tokens (the bag gate's unit), so every pooled
document keeps exactly the curation verdict it has in the whole fixture. Each
family class (its size, and whether it holds a bag copy) is drawn in twice
the count a run takes (`gen.RUN_FAMILIES`), so the pool holds the fixture's
class shares and every run can draw them anew from its seed.
"""
import collections
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

WINDOW = 16  # Curation.SubWidth


def families(ids, texts):
    """doc_id -> family id (its smallest doc_id), and the doc_ids that copy
    the bag of an earlier document."""
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first, bag_copies = {}, set()
    for d, t in sorted(zip(ids, texts)):
        toks = t.split(" ")
        bag = ("bag", " ".join(sorted(toks)))
        if bag in first:
            bag_copies.add(d)
        for k in [bag] + [("w", " ".join(toks[i:i + WINDOW]))
                          for i in range(len(toks) - WINDOW + 1)]:
            if k in first:
                a, b = find(first[k]), find(d)
                parent[max(a, b)] = min(a, b)
            else:
                first[k] = d
    return {d: find(d) for d in ids}, bag_copies


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    t = pq.read_table(os.path.join(sys.argv[1], "documents.parquet")).sort_by("doc_id")
    ids = t.column("doc_id").to_pylist()
    fam, bag_copies = families(ids, t.column("text").to_pylist())
    members = collections.defaultdict(list)
    for d in ids:
        members[fam[d]].append(d)
    by_class = collections.defaultdict(list)
    for f, ds in sorted(members.items()):
        by_class[gen.family_class(len(ds), any(d in bag_copies for d in ds))].append(f)
    rnd = random.Random(0)
    chosen = []
    for cls, n in gen.RUN_FAMILIES.items():
        chosen += rnd.sample(by_class[cls], 2 * n)
    keep = sorted(d for f in chosen for d in members[f])
    rows = {d: i for i, d in enumerate(ids)}
    pool = t.take(pa.array([rows[d] for d in keep]))
    pool = pool.append_column("family", pa.array([fam[d] for d in keep], pa.int64()))
    pool = pool.append_column("bag_copy", pa.array([d in bag_copies for d in keep]))
    os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
    pq.write_table(pool, os.path.join(HERE, "data", "pool.parquet"), compression="zstd")
    print(f"{len(ids)} fixture documents; families per class "
          f"{ {c: len(v) for c, v in sorted(by_class.items())} }; pooled {len(keep)}")


if __name__ == "__main__":
    main()
