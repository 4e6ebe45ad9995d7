"""In-process naive evaluator of the CP-refinement formulas.

Independent of the engine: it never touches RefinementEngine, SeriesOps or
Constraints. Every window aggregate is a direct running sum / running max
over the raw series, and the scores follow the reference's definitions:

  sat   every constraint value inside its [lo, hi] (a missing side passes)
  VC    share of violated constraints
  RD_c  0 inside; (v-hi)/(max_c-hi) above; (lo-v)/(lo-min_c) below
  RP    0.5 * max_c RD_c + 0.5 * VC
  RK    1 - mean_c RK_c, RK_c = (b-v)/(b-a) for MAX, (a-v)/(b-a) for MIN,
        a/b the bounds (grid extrema stand in for a missing side), 0 if b == a

A refined query returns the first k cells in (sat desc, sat ? -RK : RP,
x, lx) order; an unrefined one the satisfied cells in (x, lx) order.

The series is integer-valued (EMG-shaped). Window maxima and their
differences are then exact, and so is a window average (an exact integer sum
divided once), so the evaluator reproduces the engine's values and scores
bit for bit: the score expressions below keep the engine's operation order.
The answer is therefore fully determined, ties broken by (x, lx), and is
compared row for row.
"""
import numpy as np


def bind(spec, t_max):
    """Resolve None domain sides (series starts at time_id 1)."""
    return (spec["x"][0] if spec["x"][0] is not None else 1,
            spec["x"][1] if spec["x"][1] is not None else t_max,
            spec["lx"][0] if spec["lx"][0] is not None else 1,
            spec["lx"][1] if spec["lx"][1] is not None else t_max)


def grid_values(y, spec):
    """Return (xs, lxs, vals[n_cells, n_constraints], locate) for every
    candidate cell in (x, lx) order; `y[t-1]` is the value at time_id t and
    `locate(x, lx)` maps cells to their row in the arrays (-1 if none)."""
    y = np.asarray(y, dtype=np.float64)
    t_max = len(y)
    x0, x1, l0, l1 = bind(spec, t_max)
    x1 = max(min(x1, t_max - l0), x0 - 1)
    pad = l1 + max([c[1] or 0 for c in spec["cons"]] + [0]) + 2
    ninf = np.full(pad, -np.inf)
    ymax = np.concatenate([ninf, y, ninf])            # -inf outside the series
    ysum = np.concatenate([np.zeros(pad), y, np.zeros(pad)])
    xs = np.arange(x0, x1 + 1)
    lxs = np.arange(l0, l1 + 1)
    base = pad + xs - 1                               # position of t = x
    run_max = ymax[base].copy()
    run_sum = ysum[base].copy()
    win_max = np.empty((len(xs), len(lxs)))
    win_avg = np.empty((len(xs), len(lxs)))
    for l in range(0, l1 + 1):
        if l > 0:
            run_max = np.maximum(run_max, ymax[base + l])
            run_sum = run_sum + ysum[base + l]
        if l >= l0:
            win_max[:, l - l0] = run_max
            win_avg[:, l - l0] = run_sum / (l + 1)
    cols = []
    for name, n, _lo, _hi, _target in spec["cons"]:
        if name == "avg_amp":
            cols.append(win_avg)
        elif name == "max_amp_excess_right":
            # max over [x+lx, x+lx+n], clipped at the series end
            ends = base[:, None] + lxs[None, :]
            right = ymax[ends]
            for j in range(1, n + 1):
                right = np.maximum(right, ymax[ends + j])
            cols.append(win_max - right)
        elif name == "max_amp_excess_left":
            # max over [x-n, x], clipped at the series start
            left = ymax[base]
            for j in range(1, n + 1):
                left = np.maximum(left, ymax[base - j])
            cols.append(win_max - left[:, None])
        else:
            raise ValueError(f"unknown constraint {name}")
    valid = (xs[:, None] + lxs[None, :]) <= t_max
    gx = np.broadcast_to(xs[:, None], valid.shape)[valid]
    glx = np.broadcast_to(lxs[None, :], valid.shape)[valid]
    vals = np.stack([c[valid] for c in cols], axis=1).reshape(len(gx), len(cols))
    slot = np.where(valid.ravel(), np.cumsum(valid.ravel()) - 1, -1)

    def locate(x, lx):
        x, lx = np.asarray(x, np.int64), np.asarray(lx, np.int64)
        inside = (x >= x0) & (x <= x1) & (lx >= l0) & (lx <= l1)
        flat = np.where(inside, (x - x0) * len(lxs) + (lx - l0), 0)
        return np.where(inside, slot[flat] if len(slot) else -1, -1)

    return gx.astype(np.int64), glx.astype(np.int64), vals, locate


def scores(spec, vals):
    """(sat, rk, rp) of every cell."""
    n = vals.shape[1]
    mins, maxs = vals.min(axis=0), vals.max(axis=0)
    sat = np.ones(len(vals), bool)
    n_sat = np.zeros(len(vals))
    rd = np.zeros_like(vals)
    rk_sum = np.zeros(len(vals))
    for i, (_name, _n, lo, hi, target) in enumerate(spec["cons"]):
        v = vals[:, i]
        ok = np.ones(len(v), bool)
        if lo is not None:
            ok &= v >= lo
            below = v < lo
            rd[below, i] = (lo - v[below]) / (lo - mins[i])
        if hi is not None:
            ok &= v <= hi
            above = v > hi
            rd[above, i] = (v[above] - hi) / (maxs[i] - hi)
        sat &= ok
        n_sat += ok
        a = lo if lo is not None else mins[i]
        b = hi if hi is not None else maxs[i]
        if b != a:
            rk_sum = rk_sum + (1.0 / n) * (((b - v) if target == "MAX" else (a - v)) / (b - a))
    vc = (n - n_sat) / n
    rp = 0.5 * rd.max(axis=1) + 0.5 * vc
    rk = 1.0 - rk_sum
    return sat, rk, rp


class Expected:
    """The evaluator's answer to one query over one integer-valued series."""

    def __init__(self, spec, y):
        if not np.all(y == np.round(y)):
            raise ValueError("the evaluator is exact only for an integer-valued series")
        self.spec = spec
        self.grid = grid_values(y, spec)
        xs, lxs, vals, _ = self.grid
        self.want = np.zeros(0, np.int64)
        if len(xs):
            sat, rk, rp = scores(spec, vals)
            if spec["refined"]:
                self.want = np.lexsort((lxs, xs, np.where(sat, -rk, rp), ~sat))[:spec["limit"]]
            else:
                self.want = np.flatnonzero(sat)[:spec["limit"]]

    def rows(self):
        """The expected rows [(time_id, offset), ...]."""
        xs, lxs = self.grid[0], self.grid[1]
        return [(int(xs[i]), int(lxs[i])) for i in self.want]

    def check(self, rows):
        """Compare engine rows [(time_id, offset), ...] with the evaluator.
        Returns None when they agree, else a one-line reason."""
        xs, lxs, _, locate = self.grid
        rows = np.asarray(rows, dtype=np.int64).reshape(-1, 2)
        got = locate(rows[:, 0], rows[:, 1])
        if (got < 0).any():
            return f"row {tuple(rows[np.argmax(got < 0)])} is not a candidate cell"
        if len(got) != len(self.want):
            return f"{len(got)} rows, expected {len(self.want)}"
        bad = np.flatnonzero(got != self.want)
        if len(bad):
            i = bad[0]
            return (f"row {i} is ({xs[got[i]]}, {lxs[got[i]]}), "
                    f"expected ({xs[self.want[i]]}, {lxs[self.want[i]]})")
        return None
