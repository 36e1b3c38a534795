"""The calibrator state machine (SURVEY.md C1-C7), pure Python/NumPy.

One `Calibrator` holds the per-scope state of the reference event loop
(src/stream.py:335-374, src/calibration.py:13-53 of the reference) and
is the only implementation of it in the package: the batch Arrow
kernel (operators/calibrate.py), the streaming kernel
(streaming/stream_pipeline.py) and the transformer kernel
(operators/scoring.py) all drive it, so batch == streaming for every
config by construction. oracle.py stays the independent per-event
statement the tests compare against.

Semantics, bit for bit:
- C1/C2 conformal: the event's own score enters the window BEFORE the
  threshold read; k = max(1, round_half_even((1-a)*n)) over the sorted
  window (not an interpolating percentile).
- C5 warmup: is_anom = (1-based event count >= warmup) AND score > thr
  (strict >).
- C6 no-calib: the threshold freezes ONCE, when `warmup` scores have
  been seen, with the *different* index int((1-a)*(n-1)); +inf before.
- C7/C3 drift: the detector is updated AFTER the decision; on drift the
  conformal window clears, so the reset applies from the NEXT event.

State (`state()` / `from_state()`, the streaming STATE_SCHEMA row):
- arrivals: conformal window in arrival order since the last reset
  (the eviction order; the sorted view is rebuilt from it)
- seen:     1-based event count in scope (C5)
- det:      pickled drift detector, b"" for none
- frozen:   no-calib threshold once frozen, else None
- warm:     no-calib scores seen before the freeze
"""

from __future__ import annotations

import bisect
import pickle
import time
from collections import deque

import numpy as np

from .adwin import NoDrift, make_detector


def _freeze(warm: list[float], alpha: float) -> float:
    """C6 freeze formula: k = int((1-alpha)*(n-1)) (stream.py:354-357)."""
    ordered = sorted(warm)
    k = int((1.0 - alpha) * (len(ordered) - 1))
    return float(ordered[min(max(k, 0), len(ordered) - 1)])


class Calibrator:
    """Conformal / fixed-threshold calibrator plus drift detector for
    one scope (a conversation, a user, or the global stream)."""

    def __init__(self, cfg):
        """`cfg` is a PipelineConfig; only alpha, window, warmup,
        calibration, drift_detector, adwin_delta and sleep_ms are read."""
        self.alpha, self.window, self.warmup = cfg.alpha, cfg.window, cfg.warmup
        self.no_calib = cfg.calibration == "no_calib"
        # pacing knob (src/stream.py:268-270,373-374); 0 in throughput paths
        self.sleep_s = cfg.sleep_ms / 1000.0
        self.detector = make_detector(cfg.drift_detector, cfg.adwin_delta)
        self.seen = 0
        self.arrivals: deque[float] = deque()
        self.ordered: list[float] = []  # `arrivals`, sorted
        self.frozen: float | None = None
        self.warm: list[float] = []

    def state(self) -> tuple:
        """(arrivals, seen, det, frozen, warm) — see the module docstring."""
        det = b"" if isinstance(self.detector, NoDrift) else pickle.dumps(self.detector)
        return list(self.arrivals), self.seen, det, self.frozen, list(self.warm)

    @classmethod
    def from_state(cls, cfg, state) -> Calibrator:
        arrivals, seen, det, frozen, warm = state
        cal = cls(cfg)
        cal.arrivals = deque(float(x) for x in arrivals)
        cal.ordered = sorted(cal.arrivals)
        cal.seen = int(seen)
        if det:
            cal.detector = pickle.loads(bytes(det))
        cal.frozen = None if frozen is None else float(frozen)
        cal.warm = [float(x) for x in warm]
        return cal

    def step(self, s: float) -> tuple[float, bool, bool]:
        """One event; returns (thr, is_anom, is_drift)."""
        s = float(s)
        self.seen += 1
        if self.no_calib:
            if self.frozen is None:
                self.warm.append(s)
                if len(self.warm) >= self.warmup:
                    self.frozen = _freeze(self.warm, self.alpha)
                    self.warm = []
            thr = np.inf if self.frozen is None else self.frozen
            flag = s > thr
        else:
            ordered, arrivals = self.ordered, self.arrivals
            bisect.insort(ordered, s)
            arrivals.append(s)
            if len(arrivals) > self.window:
                del ordered[bisect.bisect_left(ordered, arrivals.popleft())]
            thr = ordered[max(1, int(round((1.0 - self.alpha) * len(ordered)))) - 1]
            flag = self.seen >= self.warmup and s > thr
        drifted = self.detector.update(s)
        if drifted:
            self.arrivals.clear()
            self.ordered.clear()
        if self.sleep_s > 0:
            time.sleep(self.sleep_s)
        return thr, flag, drifted

    def run(self, scores) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """`step` over a score array in order; returns (thr, is_anom,
        is_drift) arrays. Once a no-calib threshold is frozen the rest
        of the array is decided in one vectorised comparison."""
        scores = np.asarray(scores, dtype=np.float64)
        n = len(scores)
        thr = np.empty(n)
        anom = np.zeros(n, dtype=bool)
        drift = np.zeros(n, dtype=bool)
        step, stepped = self.step, []
        for s in scores.tolist():
            if self.frozen is not None:
                break
            stepped.append(step(s))
        i = len(stepped)
        if i:
            thr[:i], anom[:i], drift[:i] = zip(*stepped)
        if i < n:
            rest = scores[i:]
            thr[i:] = self.frozen
            anom[i:] = rest > self.frozen
            if not isinstance(self.detector, NoDrift):
                update = self.detector.update
                drift[i:] = [update(x) for x in rest.tolist()]
            self.seen += n - i
            if self.sleep_s > 0:
                time.sleep(self.sleep_s * (n - i))
        return thr, anom, drift
