"""Seeded minute-level HVAC telemetry with planted, known labels.

Every device has the same six stages. Five are active; ``off`` draws 0 W,
so every ``off`` cycle is invalid and is filtered out. The roles below are
fixed, and the seed moves levels, cycle lengths and noise. Each planted
effect is sized well clear of the classifier thresholds (rCV 0.35, GMM
mode separation 0.2 x median, 10 cycles, median cycle length 10 rows):

- ``cooling_stage_1``: tight unimodal level -> Low.
- ``heating_stage_2``: only ``SPARSE_CYCLES`` cycles -> Low with
  ``low_cycle_count``.
- ``cooling_stage_2``: archetype ``bimodal_drift`` draws each cycle at
  one of two levels 1.7x apart -> High (GMM branch); Low elsewhere.
- ``fan_stage``: archetype ``bimodal_drift`` steps its level 1.5x up after
  40% of the window. The most recent 5000 raw samples sit on one level
  (Low), while the per-cycle medians over the window are bimodal, so the
  curated re-check upgrades it to High. Low elsewhere.
- ``heating_stage_1``: archetype ``short_cycling`` runs 4-8 row cycles
  with lognormal dispersion -> High (rCV branch) with ``short_cycling``;
  Low elsewhere.

The archetype is ``device index % 2``, so any two consecutive devices
hold one of each, and both run the curated re-check, the thresholds and
the prompt step. Each device also gets a few invalid cycles: 2-3 row
cycles, and cycles whose mode is 0 W while their median is positive.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd

STAGES = ("cooling_stage_1", "cooling_stage_2", "heating_stage_1",
          "heating_stage_2", "fan_stage", "off")
ACTIVE = STAGES[:5]
BASE_W = {"cooling_stage_1": 3000.0, "cooling_stage_2": 5500.0,
          "heating_stage_1": 4200.0, "heating_stage_2": 7000.0,
          "fan_stage": 450.0}
# Stage mix of the active cycles; heating_stage_2 is placed separately.
MIX = {"cooling_stage_1": 0.3, "cooling_stage_2": 0.25,
       "heating_stage_1": 0.25, "fan_stage": 0.2}
SPARSE_CYCLES = 6
START = datetime(2024, 1, 1)
ARCHETYPES = ("bimodal_drift", "short_cycling")


def device_id(i: int) -> str:
    return f"dev{i:03d}"


def expected_labels(i: int) -> dict:
    """The planted truth for device ``i``: variance label and issue list
    per active stage (``off`` is fully invalid, so it has no entry)."""
    variance = {s: "Low" for s in ACTIVE}
    issues: dict[str, list[str]] = {s: [] for s in ACTIVE}
    issues["heating_stage_2"] = ["low_cycle_count"]
    if ARCHETYPES[i % 2] == "bimodal_drift":
        variance["cooling_stage_2"] = variance["fan_stage"] = "High"
    else:
        variance["heating_stage_1"] = "High"
        issues["heating_stage_1"] = ["short_cycling"]
    return {"variance": variance, "issues": issues, "ai": True}


def device_frame(seed: int, i: int, days: int) -> pd.DataFrame:
    """Rows ``(device_id, seq, timeStamp, tstate, energy)`` for device ``i``
    over ``days`` days of minutes from ``START``; ``seq`` is the minute
    index. The series is a pure function of ``(seed, i, days)``."""
    rng = np.random.default_rng([seed, i, days])
    arch = ARCHETYPES[i % 2]
    n_rows = days * 1440
    scale = rng.uniform(0.8, 1.2)
    names = list(MIX)
    probs = np.array([MIX[s] for s in names])

    stages: list[str] = []
    lengths: list[int] = []
    total = 0
    # The margin covers the sparse-stage cycles swapped in below.
    while total < n_rows + 500:
        s = names[rng.choice(len(names), p=probs)]
        if s == "heating_stage_1" and arch == "short_cycling":
            n = int(rng.integers(4, 9))
        elif rng.random() < 0.03:
            n = int(rng.integers(2, 4))  # too short: invalid
        else:
            n = int(rng.integers(15, 61))
        off = int(rng.integers(5, 41))
        stages += [s, "off"]
        lengths += [n, off]
        total += n + off
    # The sparse stage replaces evenly spaced active cycles.
    active_idx = np.arange(0, len(stages), 2)
    for k in np.linspace(0, len(active_idx) - 1, SPARSE_CYCLES + 2)[1:-1]:
        j = int(active_idx[int(k)])
        stages[j] = "heating_stage_2"
        lengths[j] = int(rng.integers(25, 41))

    lengths_a = np.array(lengths)
    starts = np.concatenate([[0], np.cumsum(lengths_a)[:-1]])
    stage_a = np.repeat(np.array(stages, dtype=object), lengths_a)
    frac = starts / n_rows
    level = np.empty(len(stages))
    for j, s in enumerate(stages):
        if s == "off":
            level[j] = 0.0
            continue
        lv = BASE_W[s] * scale * (1.0 + 0.01 * rng.standard_normal())
        if s == "cooling_stage_2" and arch == "bimodal_drift" and rng.random() < 0.5:
            lv *= 1.7
        if s == "fan_stage" and arch == "bimodal_drift" and frac[j] >= 0.4:
            lv *= 1.5
        level[j] = lv
    lv_rows = np.repeat(level, lengths_a)
    noise = 0.03 * rng.standard_normal(lv_rows.size)
    if arch == "short_cycling":
        wide = stage_a == "heating_stage_1"
        noise[wide] = np.exp(0.8 * rng.standard_normal(int(wide.sum()))) - 1.0
    energy = np.round(lv_rows * (1.0 + noise), 1)
    # A few valid-length cycles whose mode is 0 W but median is positive.
    mode_zero = [j for j in range(0, len(stages), 2)
                 if stages[j] != "heating_stage_2" and lengths[j] >= 15
                 and rng.random() < 0.01]
    for j in mode_zero:
        energy[starts[j]:starts[j] + 4] = 0.0
    energy = np.maximum(energy, 0.0)[:n_rows]
    stage_a = stage_a[:n_rows]

    seq = np.arange(n_rows, dtype=np.int64)
    ts = pd.Timestamp(START) + pd.to_timedelta(seq, unit="min")
    return pd.DataFrame({
        "device_id": device_id(i),
        "seq": seq,
        "timeStamp": ts.tz_localize("UTC").astype("datetime64[us, UTC]"),
        "tstate": stage_a.astype(str),
        "energy": energy,
    })
