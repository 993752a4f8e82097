"""Output checks that name what failed."""

from __future__ import annotations

import numpy as np


class Checks:
    """Collects failed checks; each names the workload, the check, the
    expected value and the value got."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.fails: list[dict] = []

    def fail(self, check: str, expected, got) -> None:
        self.fails.append({"workload": self.workload, "check": check, "expected": expected, "got": got})

    def near(self, check: str, truth: float, got, tol: float) -> None:
        if got is None or not abs(got - truth) <= tol:
            self.fail(check, f"{truth} +- {tol:.6g}", got)

    def rank(self, check: str, values: np.ndarray, q, want: float, eps: float) -> None:
        """The exact rank of a returned quantile, among the sorted
        ``values``, is within ``eps`` (plus one item) of ``want``."""
        got = None if q is None else np.searchsorted(values, q, side="left") / len(values)
        self.near(check, want, got, eps + 1.0 / len(values))

    def rows(self, check: str, rows: list, want: int) -> None:
        if len(rows) != want:
            self.fail(check, want, len(rows))

    def frequent(self, label: str, truth: dict, rows: list, threshold: int) -> None:
        """No-false-negatives guarantee: every item whose exact count exceeds
        the threshold is returned, and each returned row's bounds hold the
        exact count."""
        got: dict = {}
        for key, r in rows:
            got.setdefault(key, set()).add(r["str"])
            exact = truth[key].get(r["str"], 0)
            if not r["lower_bound"] <= exact <= r["upper_bound"]:
                self.fail(f"{label} bounds hold the exact count ({key}, {r['str']})",
                          exact, [r["lower_bound"], r["upper_bound"]])
        for key, counts in truth.items():
            heavy = {s for s, c in counts.items() if c > threshold}
            missed = heavy - got.get(key, set())
            if missed:
                self.fail(f"{label} no false negatives ({key})", sorted(heavy), sorted(missed))
