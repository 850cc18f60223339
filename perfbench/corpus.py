"""Seeded vector corpus for the index workloads, laid out as the program's
table directory: `embeddings.parquet` (vec_id bigint, embedding
array<float> of 64 unit-norm dims, label int) and `region.parquet`, each a
single parquet file like the ones Tables loads.

The corpus drifts: the refresh gate streams it in four micro-batches by
vec_id % 4, and batch b's vectors sit b steps along a per-cluster drift
direction, so the gate's drift-triggered rebuild trips on every seed."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 10
BATCHES = 4
# per-batch drift step and within-cluster spread, before normalization: one
# step moves a cluster's centroid past the gate's rebuild threshold
DRIFT = 0.8
NOISE = 0.35


def write(out_dir: str, seed: int, rows: int):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    steps = rng.normal(size=(CLUSTERS, DIM))
    steps /= np.linalg.norm(steps, axis=1, keepdims=True)
    # mildly skewed cluster sizes
    weights = 1.0 / np.arange(1, CLUSTERS + 1) ** 0.5
    labels = rng.choice(CLUSTERS, size=rows, p=weights / weights.sum())
    batch = np.arange(rows) % BATCHES
    vecs = (centers[labels] + DRIFT * batch[:, None] * steps[labels]
            + NOISE * rng.normal(size=(rows, DIM)) / np.sqrt(DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    pq.write_table(region, os.path.join(out_dir, "region.parquet"))
