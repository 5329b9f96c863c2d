"""NaN-aware reducer kernels shared by reduce_time/reduce_space/aggregate_*/
window_* and the scan's per-cell aggregation.

Semantics mirror the reference reducers (reduce_time.cpp:56-524):
- every reducer skips NaN;
- sum/count init 0, prod init 1 → all-NaN (within a non-empty chunk) gives
  0/0/1; but an entirely-empty chunk column stays empty → NaN (lazy init,
  reduce_time.cpp:579-605);
- mean: all-NaN → NaN; var/sd: sample (n-1), n<2 → NaN;
- median: exact sort-based, even-count averaging (reduce_time.cpp:376-394);
- Q1/Q3: Hyndman-Fan type-7 (reduce_time.cpp:426-453) == numpy default
  linear interpolation;
- which_min/which_max: first strict improvement wins (t ascending); value is
  the slice datetime encoded as to_double() (reduce_time.cpp:188-236).

Two evaluation modes:
- full(values, aux): values stacked along axis 0 — one shot (gather path);
- partial/merge/finalize: combinable map-side states for tree aggregation
  (the Spark partial-aggregate path that keeps shuffles small at scale).
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


def _nan_all(x, axis=0):
    """True where every element along axis is NaN."""
    return np.all(np.isnan(x), axis=axis)


def full_reduce(name: str, v: np.ndarray, its: Optional[np.ndarray] = None,
                t_doubles: Optional[np.ndarray] = None) -> np.ndarray:
    """Reduce stacked values v (T, ...) along axis 0 with reference NaN rules.
    its: global time indices per slice; t_doubles: to_double() datetime codes."""
    T = v.shape[0]
    allnan = _nan_all(v, axis=0)
    with np.errstate(all="ignore"):
        if name == "min":
            r = np.nanmin(np.where(np.isnan(v), np.inf, v), axis=0)
            r = np.where(allnan, np.nan, np.where(np.isinf(r), np.nan, r))
        elif name == "max":
            r = np.nanmax(np.where(np.isnan(v), -np.inf, v), axis=0)
            r = np.where(allnan, np.nan, np.where(np.isinf(r), np.nan, r))
        elif name == "sum":
            r = np.nansum(v, axis=0)
        elif name == "prod":
            r = np.nanprod(v, axis=0)
        elif name == "count":
            r = np.sum(~np.isnan(v), axis=0).astype("float64")
        elif name == "mean":
            r = np.where(allnan, np.nan, np.nanmean(np.where(allnan[None, ...], 0.0, v), axis=0))
        elif name == "median":
            # sort-gather median: one column-wise sort (NaN last) + the
            # (cnt-1)//2 / cnt//2 order statistics — bit-identical to
            # np.nanmedian (same even-count (lo+hi)/2 rule) and ~4x faster
            # on the reduce_time gather shape
            s = np.sort(v.reshape(T, -1), axis=0)
            cnt = T - np.isnan(s).sum(axis=0)
            lo = np.maximum((cnt - 1) // 2, 0)
            hi = cnt // 2
            cols = np.arange(s.shape[1])
            r = (s[lo, cols] + s[hi, cols]) / 2.0
            r = np.where(cnt == 0, np.nan, r).reshape(v.shape[1:])
        elif name in ("Q1", "Q3"):
            q = 25 if name == "Q1" else 75
            r = np.where(allnan, np.nan, np.nanpercentile(np.where(allnan[None, ...], 0.0, v), q, axis=0))
        elif name == "var":
            n = np.sum(~np.isnan(v), axis=0)
            r = np.where(n > 1, np.nanvar(np.where(allnan[None, ...], 0.0, v), axis=0, ddof=1), np.nan)
        elif name == "sd":
            n = np.sum(~np.isnan(v), axis=0)
            r = np.where(n > 1, np.nanstd(np.where(allnan[None, ...], 0.0, v), axis=0, ddof=1), np.nan)
        elif name in ("which_min", "which_max"):
            if t_doubles is None:
                raise ValueError("which_* needs t_doubles")
            filled = np.where(np.isnan(v), np.inf if name == "which_min" else -np.inf, v)
            idx = np.argmin(filled, axis=0) if name == "which_min" else np.argmax(filled, axis=0)
            r = np.where(allnan, np.nan, np.asarray(t_doubles, dtype="float64")[idx])
        else:
            raise ValueError(f"unknown reducer {name!r}")
    return r


# --------------------------- combinable partial states ----------------------

def partial_state(name: str, v: np.ndarray, t_doubles: Optional[np.ndarray] = None) -> Dict[str, np.ndarray]:
    nan = np.isnan(v)
    allnan = _nan_all(v)
    with np.errstate(all="ignore"):
        if name == "min":
            m = np.nanmin(np.where(nan, np.inf, v), axis=0)
            return {"m": np.where(allnan, np.nan, np.where(np.isinf(m), np.nan, m))}
        if name == "max":
            m = np.nanmax(np.where(nan, -np.inf, v), axis=0)
            return {"m": np.where(allnan, np.nan, np.where(np.isinf(m), np.nan, m))}
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
