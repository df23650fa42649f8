"""Plain single-threaded marker statistics (no Spark) and the checker that
compares each marker table the program returns against them.

Semantics follow dask-mwu / scanpy `rank_genes_groups(method='wilcoxon')`:
average ranks with ties per feature, U1 = R1 - n1(n1+1)/2, tie-corrected
normal approximation with continuity correction, two-sided p,
Benjamini-Hochberg per group over features, and log2 fold change of
expm1 group means against the rest.

Tolerances: U must match exactly (rank sums are sums of half-integers
below 2**53, so any summation order is exact). p, BH p and lfc must agree
to a relative 1e-9; p and BH p additionally within 1e-300 absolute (the
subnormal range, where erfc implementations differ), lfc within 1e-9
absolute (differences of means near zero). The top-10 abs lfc values of
each group must agree with the same tolerance as lfc.
"""

import math

import numpy as np

TOP_N = 10
RTOL = 1e-9
ATOL_P = 1e-300
ATOL_LFC = 1e-9


class Reference:
    """stats[(label, feature)] = (U, p, p_adj, lfc); top[label] = the
    reference's top-N abs lfc values, descending."""

    def __init__(self, stats, top, labels, n_features):
        self.stats = stats
        self.top = top
        self.labels = labels
        self.n_features = n_features


def _avg_ranks(column):
    """scipy rankdata(method='average') of one feature's values."""
    _, inverse, counts = np.unique(column, return_inverse=True, return_counts=True)
    cum = np.cumsum(counts)
    avg = cum - (counts - 1) / 2.0
    return avg[inverse], counts


def compute(m):
    values, groups, labels = m.values, m.groups, m.labels
    n, n_feat = values.shape
    n_groups = len(labels)
    n1 = np.bincount(groups, minlength=n_groups).astype(np.int64)
    n2 = n - n1
    u1 = np.empty((n_feat, n_groups))
    p = np.empty((n_feat, n_groups))
    lfc = np.empty((n_feat, n_groups))
    for f in range(n_feat):
        col = values[:, f]
        ranks, ties = _avg_ranks(col)
        rank_sum = np.bincount(groups, weights=ranks, minlength=n_groups)
        tie_term = int(np.sum(ties.astype(np.int64) ** 3 - ties))
        for g in range(n_groups):
            a, b = int(n1[g]), int(n2[g])
            u = rank_sum[g] - a * (a + 1) / 2.0
            u1[f, g] = u
            p[f, g] = _p_value(u, a, b, n, tie_term)
        s1 = np.bincount(groups, weights=col, minlength=n_groups)
        mu1 = s1 / n1
        mu2 = (col.sum() - s1) / n2
        lfc[f] = np.log2(np.expm1(mu1) + 1e-9) - np.log2(np.expm1(mu2) + 1e-9)
    p_adj = np.column_stack([_bh(p[:, g]) for g in range(n_groups)])
    stats = {(labels[g], f): (u1[f, g], p[f, g], p_adj[f, g], lfc[f, g])
             for f in range(n_feat) for g in range(n_groups)}
    top = {labels[g]: sorted(np.abs(lfc[:, g]), reverse=True)[:TOP_N]
           for g in range(n_groups)}
    return Reference(stats, top, labels, n_feat)


def _p_value(u1, n1, n2, n, tie_term):
    u = max(u1, n1 * n2 - u1)
    mu = n1 * n2 / 2.0
    sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1.0) - tie_term / (n * (n - 1.0))))
    if sigma == 0.0:
        # every value tied: U equals its mean, z = -inf, p = 1
        return 1.0
    z = (u - mu - 0.5) / sigma
    return min(1.0, math.erfc(z / math.sqrt(2.0)))


def _bh(p):
    """Benjamini-Hochberg step-up over one group's features."""
    m = len(p)
    order = np.lexsort((np.arange(m), p))
    raw = p[order] * m / np.arange(1, m + 1)
    adj = np.minimum(1.0, np.minimum.accumulate(raw[::-1])[::-1])
    out = np.empty(m)
    out[order] = adj
    return out


def _close(a, b, atol):
    if a == b or (math.isnan(a) and math.isnan(b)):
        return True
    return abs(a - b) <= RTOL * max(abs(a), abs(b)) + atol


def check(rows, ref):
    """Returns the mismatches of one marker table, [] when it is correct.
    rows: [grp, gene, U, p_value, p_adjusted, logfoldchange, abs_lfc, rk]."""
    errors = []
    by_group = {}
    for r in rows:
        by_group.setdefault(r[0], []).append(r)
    if sorted(by_group) != sorted(ref.labels):
        return [f"groups {sorted(by_group)} != {sorted(ref.labels)}"]
    k = min(TOP_N, ref.n_features)
    for label, rs in by_group.items():
        if sorted(r[7] for r in rs) != list(range(1, k + 1)):
            errors.append(f"{label}: ranks {sorted(r[7] for r in rs)}")
        for grp, gene, u, pv, padj, lfc, abs_lfc, _ in rs:
            want = ref.stats.get((grp, gene))
            if want is None:
                errors.append(f"{grp}/{gene}: unknown feature")
                continue
            wu, wp, wpadj, wlfc = want
            if u != wu:
                errors.append(f"{grp}/{gene}: U {u!r} != {wu!r}")
            if not _close(pv, wp, ATOL_P):
                errors.append(f"{grp}/{gene}: p {pv!r} != {wp!r}")
            if not _close(padj, wpadj, ATOL_P):
                errors.append(f"{grp}/{gene}: p_adj {padj!r} != {wpadj!r}")
            if not _close(lfc, wlfc, ATOL_LFC) or not _close(abs_lfc, abs(wlfc), ATOL_LFC):
                errors.append(f"{grp}/{gene}: lfc {lfc!r} != {wlfc!r}")
        got = sorted((r[6] for r in rs), reverse=True)
        want = ref.top[label][:k]
        if len(got) != len(want) or not all(_close(a, b, ATOL_LFC) for a, b in zip(got, want)):
            errors.append(f"{label}: top-{k} abs lfc {got} != {want}")
    return errors


def reference_rows(ref):
    """The reference's own marker table, in the program's row layout."""
    rows = []
    for label in ref.labels:
        feats = sorted(range(ref.n_features),
                       key=lambda f: (-abs(ref.stats[(label, f)][3]), f))
        for rk, f in enumerate(feats[:TOP_N], start=1):
            u, pv, padj, lfc = ref.stats[(label, f)]
            rows.append([label, f, u, pv, padj, lfc, abs(lfc), rk])
    return rows


def self_test(ref):
    """The checker must accept the reference's own table and reject each
    planted fault; returns the names of faults it failed to catch."""
    good = reference_rows(ref)
    missed = [] if not check(good, ref) else ["accepts_reference"]
    faults = {
        "U_off_by_one": (2, lambda v: v + 1.0),
        "p_relative_1e-6": (3, lambda v: v * (1 + 1e-6) if v else 1e-6),
        "lfc_relative_1e-6": (5, lambda v: v * (1 + 1e-6) + 1e-6),
    }
    for name, (i, f) in faults.items():
        bad = [list(r) for r in good]
        bad[0][i] = f(bad[0][i])
        if not check(bad, ref):
            missed.append(name)
    dropped = good[1:]
    if not check(dropped, ref):
        missed.append("row_missing")
    return missed
