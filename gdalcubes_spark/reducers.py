"""NaN-skipping reducer kernels: the one place that computes a reducer.

Callers and call shapes:
- full_reduce(name, v): values stacked along axis 0. reduce_time and
  reduce_space (narrow and gather paths), window_time and window_space
  (the window axis moved first), and the scan's supersampled footprint
  resampling (resample.reduce_lastaxis).
- segment_reduce(name, gid, values, n_out): values grouped by integer id.
  aggregate_time and aggregate_space (the merge of an output chunk), the
  scan's sparse median finalize and the exact footprint resampling.
- sorted_median(a): the order statistic behind every median: full_reduce's,
  segment_reduce's and the scan's dense median finalize.
- partial_state / merge_state / finalize_state / merge_finalize: combinable
  map-side states for the reduce_* partial path (the Spark partial-aggregate
  path that keeps shuffles small at scale).

Semantics mirror the reference reducers (reduce_time.cpp:56-524):
- every reducer skips NaN;
- sum/count init 0, prod init 1: a cell whose values are all NaN gives
  0/0/1 (lazy init, reduce_time.cpp:579-605) and NaN for every other
  reducer. Where a cell has no value at all it stays empty: an elided chunk
  in reduce_*, an absent group in segment_reduce → NaN. window_* keeps its
  own rule on top: an all-NaN window gives NaN, except count → 0;
- mean: all-NaN → NaN; var/sd: sample (n-1), n<2 → NaN;
- median: exact sort-based, even-count averaging (reduce_time.cpp:376-394);
- Q1/Q3: Hyndman-Fan type-7 (reduce_time.cpp:426-453) == numpy default
  linear interpolation;
- which_min/which_max: first strict improvement wins (t ascending); value is
  the slice datetime encoded as to_double() (reduce_time.cpp:188-236).
"""

from __future__ import annotations

from typing import Dict, Optional

import numpy as np

REDUCERS = ("min", "max", "mean", "median", "count", "var", "sd", "prod", "sum",
            "which_min", "which_max", "Q1", "Q3")
COMBINABLE = ("min", "max", "mean", "count", "var", "sd", "prod", "sum", "which_min", "which_max")

# SQL renderings used by the DuckDB oracles (exact, not approximate)
SQL_AGG = {
    "min": "min({c})", "max": "max({c})", "sum": "coalesce(sum({c}), 0.0)",
    "prod": "coalesce(exp(sum(ln({c}))), 1.0)",  # positive values only; tests use positive fills
    "count": "cast(count({c}) as double)", "mean": "avg({c})",
    "median": "quantile_cont({c}, 0.5)", "Q1": "quantile_cont({c}, 0.25)", "Q3": "quantile_cont({c}, 0.75)",
    "var": "var_samp({c})", "sd": "stddev_samp({c})",
}

# budget of one dense (values per cell × cells) float64 median buffer. 256
# MiB bounds ~8 GB across 32 concurrent tasks; past it the median sorts
# (cell, value) pairs instead, memory ∝ the real samples.
MEDIAN_DENSE_BYTES = 256 * 1024 * 1024


def sorted_median(a: np.ndarray) -> np.ndarray:
    """Median of each column of a 2-D (K, C) array, NaN skipped, NaN for a
    column with no value. Sorts `a` in place along axis 0 (NaN last), then
    averages the (cnt-1)//2 and cnt//2 order statistics: the even-count rule
    of reduce_time.cpp:376-394, bit-identical to np.nanmedian."""
    a.sort(axis=0)
    cnt = a.shape[0] - np.isnan(a).sum(axis=0)
    cols = np.arange(a.shape[1])
    r = (a[(cnt - 1) // 2, cols] + a[cnt // 2, cols]) / 2.0
    r[cnt == 0] = np.nan  # np.nan's bits, not the sort's NaN payload
    return r


def full_reduce(name: str, v: np.ndarray, t_doubles: Optional[np.ndarray] = None) -> np.ndarray:
    """Reduce stacked values v (T, ...) along axis 0 with reference NaN rules.
    t_doubles: to_double() datetime codes per slice (which_* only)."""
    with np.errstate(all="ignore"):
        if name == "sum":
            return np.nansum(v, axis=0)
        if name == "prod":
            return np.nanprod(v, axis=0)
        if name == "count":
            return np.sum(~np.isnan(v), axis=0).astype("float64")
        if name == "min":
            return np.fmin.reduce(v, axis=0)
        if name == "max":
            return np.fmax.reduce(v, axis=0)
        if name == "median":
            return sorted_median(np.array(v, order="C").reshape(v.shape[0], -1)).reshape(v.shape[1:])
        allnan = np.all(np.isnan(v), axis=0)
        if name == "mean":
            return np.where(allnan, np.nan, np.nanmean(np.where(allnan[None, ...], 0.0, v), axis=0))
        if name in ("Q1", "Q3"):
            q = 25 if name == "Q1" else 75
            return np.where(allnan, np.nan, np.nanpercentile(np.where(allnan[None, ...], 0.0, v), q, axis=0))
        if name in ("var", "sd"):
            n = np.sum(~np.isnan(v), axis=0)
            f = np.nanvar if name == "var" else np.nanstd
            return np.where(n > 1, f(np.where(allnan[None, ...], 0.0, v), axis=0, ddof=1), np.nan)
        if name in ("which_min", "which_max"):
            if t_doubles is None:
                raise ValueError("which_* needs t_doubles")
            filled = np.where(np.isnan(v), np.inf if name == "which_min" else -np.inf, v)
            idx = np.argmin(filled, axis=0) if name == "which_min" else np.argmax(filled, axis=0)
            return np.where(allnan, np.nan, np.asarray(t_doubles, dtype="float64")[idx])
    raise ValueError(f"unknown reducer {name!r}")


def segment_reduce(name: str, gid: np.ndarray, values: np.ndarray, n_out: int) -> np.ndarray:
    """Reduce `values` grouped by integer ids `gid` (in [0, n_out)) into an
    (n_out,) array. Names: the aggregate_* reducers (mean, min, max, median,
    count, var, sd, prod, sum), Q1/Q3 (Hyndman-Fan 7) and the footprint-only
    "mode" (most frequent value, ties → smallest). An absent group is NaN; a
    group whose values are all NaN gives sum 0, count 0, prod 1, else NaN.

    Sums run in input order (np.bincount). The median scatters each group's
    values into a (largest group, n_out) buffer for sorted_median; past
    MEDIAN_DENSE_BYTES it, like Q1/Q3 and mode, takes one lexsort by
    (gid, value) instead."""
    size = np.bincount(gid, minlength=n_out)  # values per group, NaN included
    out = np.full(n_out, np.nan)
    if name == "median" and size.max(initial=0) * n_out * 8 <= MEDIAN_DENSE_BYTES:
        if gid.size:
            # scatter each group's values, NaN too (it sorts last), into
            # column gid at their rank within the group
            order = np.argsort(gid, kind="stable")
            g = gid[order]
            buf = np.full((size.max(), n_out), np.nan)
            buf[np.arange(g.size) - (np.cumsum(size) - size)[g], g] = values[order]
            out = sorted_median(buf)
        return out
    ok = ~np.isnan(values)
    present = size > 0
    gid, v = gid[ok], values[ok]
    with np.errstate(all="ignore"):
        if name in ("count", "sum", "mean", "var", "sd"):
            n = np.bincount(gid, minlength=n_out)
            if name == "count":
                out[present] = n[present]
                return out
            s = np.bincount(gid, weights=v, minlength=n_out)
            if name == "sum":
                out[present] = s[present]
                return out
            mean = s / n
            if name == "mean":
                return mean
            m2 = np.bincount(gid, weights=(v - mean[gid]) ** 2, minlength=n_out)
            var = np.where(n > 1, m2 / (n - 1), np.nan)
            return var if name == "var" else np.sqrt(var)
        if name == "prod":
            out[present] = 1.0
            np.multiply.at(out, gid, v)
        elif name in ("min", "max"):
            (np.fmin if name == "min" else np.fmax).at(out, gid, v)
        elif name in ("median", "Q1", "Q3", "mode"):
            if gid.size:
                _sorted_segments(name, gid, v, out)
        else:
            raise ValueError(f"unknown reducer {name!r}")
    return out


def _sorted_segments(name: str, gid: np.ndarray, v: np.ndarray, out: np.ndarray) -> None:
    """median, Q1, Q3 or mode of every non-empty group into out, through one
    lexsort by (gid, value)."""
    order = np.lexsort((v, gid))
    gid, v = gid[order], v[order]
    starts = np.flatnonzero(np.diff(gid, prepend=-1))
    cnt = np.diff(np.append(starts, gid.size))
    if name == "median":
        out[gid[starts]] = (v[starts + (cnt - 1) // 2] + v[starts + cnt // 2]) / 2.0
    elif name in ("Q1", "Q3"):
        pos = (0.25 if name == "Q1" else 0.75) * (cnt - 1)
        lo = np.floor(pos).astype(np.int64)
        frac = pos - lo
        out[gid[starts]] = v[starts + lo] * (1.0 - frac) + v[starts + np.minimum(lo + 1, cnt - 1)] * frac
    else:
        # mode: runs of equal value within a group; the longest run wins,
        # ties → smallest value (runs are value-ascending inside a group)
        change = np.empty(gid.size, dtype=bool)
        change[0] = True
        change[1:] = (gid[1:] != gid[:-1]) | (v[1:] != v[:-1])
        rs = np.flatnonzero(change)
        rl = np.diff(np.append(rs, gid.size))
        rid, rv = gid[rs], v[rs]
        o2 = np.lexsort((rv, -rl, rid))
        rid, rv = rid[o2], rv[o2]
        firsts = np.flatnonzero(np.diff(rid, prepend=-1))
        out[rid[firsts]] = rv[firsts]


# --------------------------- combinable partial states ----------------------

def partial_state(name: str, v: np.ndarray, t_doubles: Optional[np.ndarray] = None) -> Dict[str, np.ndarray]:
    nan = np.isnan(v)
    allnan = np.all(nan, axis=0)
    with np.errstate(all="ignore"):
        if name == "min":
            return {"m": np.fmin.reduce(v, axis=0)}
        if name == "max":
            return {"m": np.fmax.reduce(v, axis=0)}
        if name == "sum":
            return {"s": np.nansum(v, axis=0)}
        if name == "prod":
            return {"p": np.nanprod(v, axis=0)}
        if name == "count":
            return {"n": np.sum(~nan, axis=0).astype("float64")}
        if name in ("mean", "var", "sd"):
            n = np.sum(~nan, axis=0).astype("float64")
            s = np.nansum(v, axis=0)
            mean = np.where(n > 0, s / np.maximum(n, 1), 0.0)
            if name == "mean":
                return {"n": n, "s": s}
            m2 = np.nansum(np.where(nan, 0.0, (v - mean[None, ...]) ** 2), axis=0)
            return {"n": n, "mean": mean, "m2": m2}
        if name in ("which_min", "which_max"):
            filled = np.where(nan, np.inf if name == "which_min" else -np.inf, v)
            idx = np.argmin(filled, axis=0) if name == "which_min" else np.argmax(filled, axis=0)
            best = np.take_along_axis(filled, idx[None, ...], axis=0)[0]
            td = np.asarray(t_doubles, dtype="float64")[idx]
            return {"v": np.where(allnan, np.nan, best), "t": np.where(allnan, np.nan, td)}
    raise ValueError(f"reducer {name!r} is not combinable")


def merge_state(name: str, a: Dict[str, np.ndarray], b: Dict[str, np.ndarray]) -> Dict[str, np.ndarray]:
    with np.errstate(all="ignore"):
        if name == "min":
            return {"m": np.fmin(a["m"], b["m"])}
        if name == "max":
            return {"m": np.fmax(a["m"], b["m"])}
        if name == "sum":
            return {"s": a["s"] + b["s"]}
        if name == "prod":
            return {"p": a["p"] * b["p"]}
        if name == "count":
            return {"n": a["n"] + b["n"]}
        if name == "mean":
            return {"n": a["n"] + b["n"], "s": a["s"] + b["s"]}
        if name in ("var", "sd"):
            # Chan et al. parallel variance merge
            n = a["n"] + b["n"]
            d = b["mean"] - a["mean"]
            safe_n = np.maximum(n, 1)
            mean = a["mean"] + d * b["n"] / safe_n
            m2 = a["m2"] + b["m2"] + d * d * a["n"] * b["n"] / safe_n
            return {"n": n, "mean": mean, "m2": m2}
        if name in ("which_min", "which_max"):
            # a precedes b in time: strict improvement only (first wins)
            if name == "which_min":
                take_b = np.isnan(a["v"]) | (~np.isnan(b["v"]) & (b["v"] < a["v"]))
            else:
                take_b = np.isnan(a["v"]) | (~np.isnan(b["v"]) & (b["v"] > a["v"]))
            return {"v": np.where(take_b, b["v"], a["v"]), "t": np.where(take_b, b["t"], a["t"])}
    raise ValueError(f"reducer {name!r} is not combinable")


def finalize_state(name: str, s: Dict[str, np.ndarray]) -> np.ndarray:
    with np.errstate(all="ignore"):
        if name in ("min", "max"):
            return s["m"]
        if name == "sum":
            return s["s"]
        if name == "prod":
            return s["p"]
        if name == "count":
            return s["n"]
        if name == "mean":
            return np.where(s["n"] > 0, s["s"] / np.maximum(s["n"], 1), np.nan)
        if name == "var":
            return np.where(s["n"] > 1, s["m2"] / np.maximum(s["n"] - 1, 1), np.nan)
        if name == "sd":
            return np.where(s["n"] > 1, np.sqrt(s["m2"] / np.maximum(s["n"] - 1, 1)), np.nan)
        if name in ("which_min", "which_max"):
            return s["t"]
    raise ValueError(f"unknown reducer {name!r}")


STATE_KEYS = {
    "min": ["m"], "max": ["m"], "sum": ["s"], "prod": ["p"], "count": ["n"],
    "mean": ["n", "s"], "var": ["n", "mean", "m2"], "sd": ["n", "mean", "m2"],
    "which_min": ["v", "t"], "which_max": ["v", "t"],
}


def merge_finalize(names, states) -> np.ndarray:
    """Merge and finalize packed multi-reducer partial states. Each state
    stacks, along axis 0, the STATE_KEYS arrays of every reducer in `names`
    (in order); `states` arrive in merge order (time order for which_*).
    Returns the (len(names), ...) finalized values."""
    acc = None
    for st in states:
        parts, off = [], 0
        for r in names:
            ks = STATE_KEYS[r]
            parts.append({k: st[off + i] for i, k in enumerate(ks)})
            off += len(ks)
        acc = parts if acc is None else [merge_state(r, a, b) for r, a, b in zip(names, acc, parts)]
    return np.stack([finalize_state(r, s) for r, s in zip(names, acc)], axis=0)
