"""Correctness gate: every answer is checked against an independent
DuckDB reference, outside the timed span.

A check returns a list of failure strings (empty = pass) and the
approximate estimates it saw, which feed the answer-quality metrics.
The rules:

- exact answers match the reference to the cent;
- approximate answers are finite, satisfy ``ci_lower <= estimate <=
  ci_upper`` and ``0 < n_samples <= N`` and lie within five CI
  half-widths of the exact answer;
- ``WITHIN`` / ``error_pct`` answers also meet their budget (worst group
  when grouped) or reach fraction 1;
- point and rectangle probes match the reference and their exact twin;
  ``aqpplus`` range probes and ``sampleseek`` probes on the sample route
  follow the approximate-answer rule (their CI must hold the estimate
  and lie within five half-widths of the exact answer; whether it covers
  the exact answer is counted in ``ci_coverage``); ``sampleseek`` probes
  on the seek route match exactly;
- builds leave a non-empty index directory.

Registry entries are compared with their DuckDB oracle by
``tools/check_entry.check_query`` itself (``run.check_all``), so the
benchmark keeps no second copy of those rules.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

CENT = 0.01
Z_SPREAD = 5.0


@dataclass
class Estimate:
    """One approximate answer cell (a global answer or one group)."""

    estimate: float
    lo: float
    hi: float
    exact: float

    @property
    def halfwidth(self) -> float:
        return (self.hi - self.lo) / 2.0

    @property
    def covered(self) -> bool:
        return self.lo <= self.exact <= self.hi


@dataclass
class Verdict:
    failures: list[str] = field(default_factory=list)
    estimates: list[Estimate] = field(default_factory=list)


def _finite(*xs) -> bool:
    return all(x is not None and math.isfinite(float(x)) for x in xs)


def _by_group(rows: list[dict], group_cols: tuple[str, ...]) -> dict:
    return {tuple(r[g] for g in group_cols): r for r in rows}


def check_exact(rows: list[dict], value_col: str, group_cols: tuple[str, ...],
                ref: list[dict]) -> Verdict:
    v = Verdict()
    got, want = _by_group(rows, group_cols), _by_group(ref, group_cols)
    if set(got) != set(want):
        v.failures.append(f"groups {sorted(map(str, got))} != reference {sorted(map(str, want))}")
        return v
    for g, r in want.items():
        a, e = got[g].get(value_col), r["value"]
        if e is None or a is None:
            if a != e:
                v.failures.append(f"group {g}: {a!r} != reference {e!r}")
            continue
        if not abs(float(a) - float(e)) < CENT:
            v.failures.append(f"group {g}: {float(a)!r} != reference {float(e)!r} (to the cent)")
    return v


def check_approx(rows: list[dict], value_col: str, group_cols: tuple[str, ...],
                 ref: list[dict], budget_pct: float | None = None,
                 fraction: float | None = None) -> Verdict:
    v = Verdict()
    got, want = _by_group(rows, group_cols), _by_group(ref, group_cols)
    if set(got) != set(want):
        v.failures.append(f"groups {sorted(map(str, got))} != reference {sorted(map(str, want))}")
        return v
    worst_rel = 0.0
    for g, r in want.items():
        row = got[g]
        est, lo, hi, n = row.get(value_col), row.get("ci_lower"), row.get("ci_upper"), \
            row.get("n_samples")
        if not _finite(est, lo, hi):
            v.failures.append(f"group {g}: non-finite answer {est!r} [{lo!r}, {hi!r}]")
            continue
        est, lo, hi, exact = float(est), float(lo), float(hi), float(r["value"])
        if not lo <= est <= hi:
            v.failures.append(f"group {g}: estimate {est!r} outside its CI [{lo!r}, {hi!r}]")
        if n is None or not 0 < int(n) <= int(r["n"]):
            v.failures.append(f"group {g}: n_samples {n!r} not in (0, {r['n']}]")
        e = Estimate(est, lo, hi, exact)
        if abs(est - exact) > Z_SPREAD * e.halfwidth:
            v.failures.append(
                f"group {g}: |estimate - exact| = {abs(est - exact):.6g} > "
                f"{Z_SPREAD:g} x half-width {e.halfwidth:.6g} (exact {exact!r})")
        v.estimates.append(e)
        worst_rel = max(worst_rel, 100.0 * e.halfwidth / abs(est) if est else math.inf)
    if budget_pct is not None and not v.failures:
        reached_full = fraction is not None and fraction >= 1.0
        if worst_rel > budget_pct * (1 + 1e-9) and not reached_full:
            v.failures.append(
                f"budget missed: half-width {worst_rel:.4g}% > {budget_pct:g}% "
                f"at fraction {fraction!r}")
    return v


def check_index(rows: list[dict], ref: list[dict], mode: str,
                twin_value: float | None) -> Verdict:
    """``mode``: 'index_exact' | 'index_cover' | 'index_route'."""
    if len(rows) != 1 or len(ref) != 1:
        return Verdict([f"expected one row, got {len(rows)} (reference {len(ref)})"])
    row, exact = rows[0], float(ref[0]["value"])
    if mode == "index_route":
        mode = "index_exact" if row.get("path") == "seek" else "index_cover"
    if mode == "index_exact":
        v = Verdict()
        got = row.get("sum_value")
        if got is None or not abs(float(got) - exact) < CENT:
            v.failures.append(f"{got!r} != reference {exact!r}")
        if twin_value is not None and got is not None and not abs(float(got) - twin_value) < CENT:
            v.failures.append(f"{got!r} != exact twin {twin_value!r}")
        return v
    # A sampled range answer: the approximate-answer rule. Its 95% CI
    # misses the exact value one time in twenty by design, so coverage is
    # measured (ci_coverage), not required. A block-aligned aqpplus range
    # is answered exactly, with a zero-width CI: hence the one-cent floor.
    est, lo, hi = row.get("sum_value"), row.get("ci_lower"), row.get("ci_upper")
    if not _finite(est, lo, hi):
        return Verdict([f"non-finite answer {est!r} [{lo!r}, {hi!r}]"])
    e = Estimate(float(est), float(lo), float(hi), exact)
    v = Verdict(estimates=[e])
    if not e.lo <= e.estimate <= e.hi:
        v.failures.append(f"estimate {e.estimate!r} outside its CI [{e.lo!r}, {e.hi!r}]")
    if abs(e.estimate - exact) > max(Z_SPREAD * e.halfwidth, CENT):
        v.failures.append(f"|estimate - exact| = {abs(e.estimate - exact):.6g} > "
                          f"{Z_SPREAD:g} x half-width {e.halfwidth:.6g} (exact {exact!r})")
    return v


def check_build(path: str) -> Verdict:
    size = 0
    for dirpath, _, files in os.walk(path):
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return Verdict() if size > 0 else Verdict([f"index directory {path} is empty"])
