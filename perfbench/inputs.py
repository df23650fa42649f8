"""Seeded synthetic inputs for the marker-table benchmark.

Every workload is a dense observation x feature matrix with a group label
per observation, the shape dask-mwu ranks. The same (workload, seed) pair
always gives the same matrix. `write` stores it as the long relations the
Spark program reads:

  cells(grp, feature_id, value)     tall shapes, labels on the fact rows
  cells(obs_id, feature_id, value)  wide_sparse, labels in ...
  obs(obs_id, grp)                  ... the dimension table (written for all)
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sized so that a run (cold start, warm-ups, timed ops) stays near a minute
# on four task slots; see README.md for why paper-sized shapes were scaled down.
SHAPES = {
    "tall_continuous": dict(n_obs=200_000, n_features=4, group_weights=[0.5, 0.3, 0.15, 0.05]),
    "wide_sparse": dict(n_obs=2_500, n_features=800,
                        group_weights=[0.8 ** k for k in range(12)]),
}
SPLIT_INPUT = {"wide_sparse"}


class Matrix:
    """values[obs, feature] (float64) and groups[obs] (index into labels)."""

    def __init__(self, values, groups, labels):
        self.values = values
        self.groups = groups
        self.labels = labels


def _group_sizes(n_obs, weights):
    w = np.asarray(weights, dtype=float)
    sizes = np.floor(n_obs * w / w.sum()).astype(np.int64)
    sizes[0] += n_obs - sizes.sum()
    return sizes


def make(workload, seed):
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, list(SHAPES).index(workload)])
    n_obs, n_feat = shape["n_obs"], shape["n_features"]
    sizes = _group_sizes(n_obs, shape["group_weights"])
    n_groups = len(sizes)
    groups = rng.permutation(np.repeat(np.arange(n_groups), sizes))
    labels = [f"g{k:02d}" for k in range(n_groups)]
    if workload == "wide_sparse":
        values = _sparse_counts(rng, groups, n_groups, n_obs, n_feat)
    else:
        # continuous log1p(lognormal) expression with a per-(feature, group)
        # shift, so that group means and rank sums differ
        shift = rng.normal(0.0, 0.3, size=(n_feat, n_groups))
        mu = shift[:, groups].T
        values = np.log1p(rng.lognormal(mean=mu, sigma=1.0))
    return Matrix(values, groups, labels)


def _sparse_counts(rng, groups, n_groups, n_obs, n_feat):
    """88% zeros; the rest log1p of small integer counts. Each group has a
    few marker features that are detected more often and at higher counts."""
    detect = rng.uniform(0.04, 0.20, size=n_feat)
    lam = rng.uniform(0.5, 3.0, size=n_feat)
    p = np.tile(detect, (n_groups, 1))
    lam_g = np.tile(lam, (n_groups, 1))
    for g in range(n_groups):
        markers = rng.choice(n_feat, size=20, replace=False)
        p[g, markers] = np.minimum(0.9, p[g, markers] * 3.0)
        lam_g[g, markers] *= 2.0
    hit = rng.random((n_obs, n_feat)) < p[groups]
    counts = 1 + rng.poisson(lam_g[groups])
    return np.where(hit, np.log1p(counts), 0.0)


def write(m, workload, out_dir):
    """Writes the parquet inputs; returns the input properties recorded in
    the run's artifact."""
    n_obs, n_feat = m.values.shape
    obs_id = np.repeat(np.arange(n_obs, dtype=np.int64), n_feat)
    feature_id = np.tile(np.arange(n_feat, dtype=np.int64), n_obs)
    value = m.values.reshape(-1)
    grp_of_obs = pa.DictionaryArray.from_arrays(
        pa.array(m.groups.astype(np.int32)), pa.array(m.labels)).cast(pa.string())
    if workload in SPLIT_INPUT:
        cells = pa.table({"obs_id": obs_id, "feature_id": feature_id, "value": value})
    else:
        grp = pa.DictionaryArray.from_arrays(
            pa.array(np.repeat(m.groups.astype(np.int32), n_feat)),
            pa.array(m.labels)).cast(pa.string())
        cells = pa.table({"grp": grp, "feature_id": feature_id, "value": value})
    obs = pa.table({"obs_id": np.arange(n_obs, dtype=np.int64), "grp": grp_of_obs})
    (out_dir / "cells").mkdir(parents=True)
    (out_dir / "obs").mkdir(parents=True)
    # 16 row groups, so Spark's file splits can give several task slots work
    pq.write_table(cells, out_dir / "cells" / "part-0.parquet",
                   row_group_size=max(1, cells.num_rows // 16))
    pq.write_table(obs, out_dir / "obs" / "part-0.parquet")

    distinct_pairs = sum(len(np.unique(m.values[:, f])) for f in range(n_feat))
    on_disk = sum(f.stat().st_size for f in out_dir.rglob("*.parquet"))
    return {
        "n_obs": n_obs,
        "n_features": n_feat,
        "cells": n_obs * n_feat,
        "distinct_feature_value_pairs": distinct_pairs,
        "distinct_share": distinct_pairs / (n_obs * n_feat),
        "zero_share": float((m.values == 0.0).mean()),
        "group_sizes": {m.labels[g]: int(c) for g, c in
                        enumerate(np.bincount(m.groups, minlength=len(m.labels)))},
        "bytes_on_disk": on_disk,
        "split_input": workload in SPLIT_INPUT,
    }
