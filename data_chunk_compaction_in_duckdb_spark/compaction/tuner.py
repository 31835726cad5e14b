"""UCB1 bandit for learning compaction targets.

Functional port of the reference's learned compaction
(src/include/duckdb/common/negative_feedback.hpp:21-164 MultiArmedBandit,
:166-261 CompactTuner) re-written for Spark: arms are candidate partition
target sizes (rows or bytes) instead of chunk thresholds, and rewards are
measured stage throughput.  The algorithm is the textbook UCB1 policy
(Auer et al. 2002) with the reference's two deltas kept:

- UCB-tuned variance term (bounds the exploration width by the empirical
  variance of each arm, negative_feedback.hpp:124-128), and
- drift detection: when the chosen arm's reward falls persistently below
  its running mean, the bandit restarts exploration
  (negative_feedback.hpp:68-82).

Default arms mirror the reference's threshold grid
{32,64,128,256,384,512,768,1024} scaled to partition row counts; callers
pass their own arms for byte-based targets.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

DEFAULT_ARMS: tuple[int, ...] = tuple(
    1024 * t for t in (32, 64, 128, 256, 384, 512, 768, 1024)
)

# Drift restart: once the best arm has DRIFT_WINDOW pulls, a full window
# of its latest rewards averaging below DRIFT_TOLERANCE x its long-run
# mean resets every arm.
DRIFT_WINDOW = 8
DRIFT_TOLERANCE = 0.5


@dataclass
class _ArmState:
    pulls: int = 0
    mean: float = 0.0
    m2: float = 0.0  # Welford sum of squared deviations

    def update(self, reward: float) -> None:
        self.pulls += 1
        d = reward - self.mean
        self.mean += d / self.pulls
        self.m2 += d * (reward - self.mean)

    @property
    def variance(self) -> float:
        return self.m2 / self.pulls if self.pulls > 1 else 0.0


class UCB1Bandit:
    """UCB-tuned bandit over a fixed arm set.

    ``select()`` returns the arm to play; ``feedback(arm, reward)``
    records the observed reward (higher is better — use rows/sec or
    -seconds).  Rewards are min-max normalized internally by the caller's
    scale, so any monotone metric works.
    """

    def __init__(self, arms: tuple[int, ...] = DEFAULT_ARMS) -> None:
        self.arms = arms
        self.reset()

    def reset(self) -> None:
        self._states = {a: _ArmState() for a in self.arms}
        self._t = 0
        self._recent: list[float] = []

    def select(self) -> int:
        self._t += 1
        for arm, st in self._states.items():
            if st.pulls == 0:
                return arm  # play every arm once first
        logt = math.log(self._t)

        def ucb(arm: int) -> float:
            st = self._states[arm]
            # UCB-tuned: exploration width capped by empirical variance.
            v = st.variance + math.sqrt(2 * logt / st.pulls)
            return st.mean + math.sqrt(logt / st.pulls * min(0.25, v))

        return max(self._states, key=ucb)

    def feedback(self, arm: int, reward: float) -> None:
        st = self._states[arm]
        st.update(reward)
        # Drift detection: if the best arm's recent rewards collapse below
        # its long-run mean, restart exploration.
        best = max(self._states.values(), key=lambda s: s.mean if s.pulls else -1e18)
        if st is best and st.pulls >= DRIFT_WINDOW:
            self._recent.append(reward)
            if len(self._recent) > DRIFT_WINDOW:
                self._recent.pop(0)
            if (
                len(self._recent) == DRIFT_WINDOW
                and st.mean > 0
                and sum(self._recent) / DRIFT_WINDOW < DRIFT_TOLERANCE * st.mean
            ):
                self.reset()

    def best_arm(self) -> int:
        played = {a: s for a, s in self._states.items() if s.pulls > 0}
        if not played:
            return self.arms[0]
        return max(played, key=lambda a: played[a].mean)


class CompactTuner:
    """Per-stage registry of bandits (reference CompactTuner singleton,
    negative_feedback.hpp:166-261): each named operator instance learns
    its own compaction target independently.

    Usage::

        tuner = CompactTuner()
        target = tuner.suggest("join_probe_1")
        out = compact(df, target_rows=target)
        t0 = time.monotonic(); rows = out.count(); dt = time.monotonic() - t0
        tuner.observe("join_probe_1", rows / dt)
    """

    def __init__(self, arms: tuple[int, ...] = DEFAULT_ARMS) -> None:
        self._arms = arms
        self._bandits: dict[str, UCB1Bandit] = {}
        self._pending: dict[str, int] = {}

    def _bandit(self, stage: str) -> UCB1Bandit:
        if stage not in self._bandits:
            self._bandits[stage] = UCB1Bandit(arms=self._arms)
        return self._bandits[stage]

    def suggest(self, stage: str) -> int:
        arm = self._bandit(stage).select()
        self._pending[stage] = arm
        return arm

    def observe(self, stage: str, reward: float) -> None:
        arm = self._pending.pop(stage, None)
        if arm is not None:
            self._bandit(stage).feedback(arm, reward)

    def best(self, stage: str) -> int:
        return self._bandit(stage).best_arm()
