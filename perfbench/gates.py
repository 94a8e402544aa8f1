"""Correctness gates and the operation tally behind ``fail_frac``.

An op is each public library call in a job and each gate. A call that
raises or a gate that fails counts as failed; nothing is dropped. Bound
gates also feed ``err_to_bound``: observed error ÷ the published bound,
passing at ≤ 1.

Published bounds are the library's own, at ``NSIGMA`` standard errors
(``HllSketch.relative_error_bound``, ``ThetaSketch.relative_error_bound``,
``KllSketch.rank_error_bound``), ε·N for Count-Min, and the configured
false-positive rate plus binomial slack for filters. Each seed is checked
on a dozen such estimates per run and an evaluation runs tens of seeds, so
the gates use 4σ rather than the 3σ default: a correct build then trips a
gate by chance with probability ~6e-5 per estimate instead of ~3e-3.
"""

from __future__ import annotations

import math

import numpy as np

NSIGMA = 4.0


class Gates:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.err_to_bound = 0.0
        self.ratios: dict[str, float] = {}  # gate name → largest err/bound
        self.failures: list[str] = []

    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 50:
                self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    def equal(self, name: str, got, want) -> bool:
        return self.op(name, got == want, f"got {got!r}, want {want!r}")

    def within(self, name: str, err: float, bound: float) -> bool:
        """``err`` ≤ ``bound``; records err/bound toward err_to_bound."""
        ratio = err / bound if bound > 0 else math.inf
        if math.isnan(ratio):
            ratio = math.inf
        self.err_to_bound = max(self.err_to_bound, ratio)
        self.ratios[name] = max(self.ratios.get(name, 0.0), ratio)
        return self.op(name, ratio <= 1.0, f"error {err:.6g} > bound {bound:.6g}")


def rel_err(est: float, truth: float) -> float:
    return abs(est - truth) / truth if truth else abs(est)


def fp_allowance(fpp: float, trials: int) -> float:
    """Configured fpp plus NSIGMA binomial standard errors at ``trials``."""
    return fpp + NSIGMA * math.sqrt(fpp * (1.0 - fpp) / max(trials, 1))


def rank_error(values: np.ndarray, counts: np.ndarray, qs, estimates) -> float:
    """Largest normalized-rank error of quantile ``estimates`` at ``qs``
    against the exact distribution (sorted distinct ``values`` with their
    ``counts``). An estimate v is exact for q when q lies in v's rank
    interval [mass below v, mass at or below v]; the error is the distance
    from q to that interval (values absent from the data take an empty
    interval at their insertion point)."""
    total = counts.sum()
    below = np.concatenate([[0], np.cumsum(counts)]) / total
    worst = 0.0
    for q, v in zip(qs, estimates):
        lo_idx = np.searchsorted(values, v, side="left")
        hi_idx = np.searchsorted(values, v, side="right")
        lo, hi = below[lo_idx], below[hi_idx]
        worst = max(worst, lo - q if q < lo else (q - hi if q > hi else 0.0))
    return float(worst)
