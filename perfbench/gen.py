"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the random stream is
a numpy PCG64 seeded from both, and the parquet bytes are written with
fixed writer settings, so the same pair always gives byte-identical
files. A different seed changes the values and keeps every row count and
shape property: contiguous `vec_id` 0..n-1, 64-d unit-norm float32
embeddings drawn around 64 planted cluster centres (sigma 0.5, so
within-cluster cosine is about 0.89 and centres are near-orthogonal), and
label = cluster mod 10. The schema is the engine's `embeddings` fixture
contract (FIXTURES.md).

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vectors per workload. Seeds never change these.
SIZES = {
    # exact leave-one-out 10-NN: n(n-1) pairs per scan
    "knn_exact": 600,
    # the ANN index is trained on these; C = 256 lists
    "ann_serve": 500,
}

DIM = 64
N_CLUSTERS = 64
SIGMA = 0.5


def rng_for(workload: str, seed: int) -> np.random.Generator:
    words = [zlib.crc32(workload.encode()), seed & 0xFFFFFFFF,
             (seed >> 32) & 0xFFFFFFFF]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(words)))


def embeddings(r: np.random.Generator, n: int) -> pa.Table:
    centers = r.standard_normal((N_CLUSTERS, DIM))
    cl = r.integers(0, N_CLUSTERS, n)
    v = centers[cl] + SIGMA * r.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(v.reshape(-1), type=pa.float32())),
        "label": pa.array((cl % 10).astype(np.int32)),
    })


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's tables into `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    t = embeddings(rng_for(workload, seed), SIZES[workload])
    # one row group, no pandas metadata: the bytes depend on the values only
    pq.write_table(t, os.path.join(out, "embeddings.parquet"),
                   compression="snappy", row_group_size=1 << 30,
                   store_schema=False)
    return {"embeddings": t.num_rows}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
