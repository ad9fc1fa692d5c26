#!/usr/bin/env python3
"""Seeded physical layout of the operator workloads' tables.

The committed tables under ``data/sf0.001`` are rewritten with a seeded row
permutation into a seeded number of part files per table. The rows, and so
every registered query's result, stay the same: the engine's queries are
required to be independent of physical layout. What the seed changes is
the order and grouping in which the engine reads them.

Usage: gen_tables.py --seed N --out DIR
"""
import argparse
import glob
import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def generate(seed, out):
    rng = np.random.default_rng(seed)
    for src in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        table = pq.read_table(src)
        table = table.take(rng.permutation(table.num_rows))
        parts = int(rng.integers(1, 5))
        dest = os.path.join(out, os.path.basename(src))
        os.makedirs(dest)
        bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
        for i in range(parts):
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(dest, f"part-{i:05d}.parquet"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, a.out))


if __name__ == "__main__":
    main()
