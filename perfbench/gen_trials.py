#!/usr/bin/env python3
"""Seeded generator for trial CSVs shaped like FIXTURES.md section 2.

Each trial is a ~120 Hz recording with the reference fixture's column
classes: the time axis, a raw clock, constant per-trial metadata,
smooth band-limited signal channels, a sparse `fixation id` channel and
a mostly empty `duration [ms]` channel (both names carry a space), and
episode structure with at least two inspection and two action episodes.
The first signal channel carries a spike above mean + 3 sigma and the
second carries a NaN run. A fleet alternates two participants and two
conditions.

The same (seed, shape) always gives byte-identical files.

Usage: python3 perfbench/gen_trials.py <out_dir> <seed> <trials> <rows> <channels>
"""
import os
import sys

import numpy as np

FS = 120.0
CHANNEL_STEMS = [
    "gaze_heading_deg", "head_heading_deg", "chest_heading_deg",
    "chair_heading_deg", "left_foot_heading_deg", "right_foot_heading_deg",
    "gaze_signed_deviation", "head_signed_deviation", "gaze_span_deg",
    "head_span_deg", "bearing_screen_deg", "coordination_angle_head_chest",
    "gmm_gaze_prob", "chest_heading_deg_raw", "chair_heading_deg_raw",
    "left_foot_heading_deg_raw", "right_foot_heading_deg_raw",
    "coordination_angle_gaze_head", "bearing_workspace_deg", "gmm_head_prob",
]
PARTICIPANTS = ["P13", "P07"]
CONDITIONS = ["Stand", "Sit"]
STATES = {"inspection": ["start_inspection", "inspecting_screen", "end_inspection"],
          "action": ["start_action", "performing_action", "end_action"]}


def channel_names(n):
    """`n` signal channel names: the stems first, then numbered copies."""
    return [CHANNEL_STEMS[i] if i < len(CHANNEL_STEMS)
            else f"{CHANNEL_STEMS[i % len(CHANNEL_STEMS)]}_{i // len(CHANNEL_STEMS)}"
            for i in range(n)]


def fmt(x):
    """Fixed-precision text so equal values always print the same bytes;
    NaN prints as the reference's `nan`."""
    return "nan" if np.isnan(x) else f"{x:.6f}"


def trial_rows(rng, index, rows, channels):
    t = np.arange(rows) / FS
    names = channel_names(channels)
    signals = []
    for c in range(channels):
        # band-limited: a few low-frequency sines plus small noise
        freqs = rng.uniform(0.05, 2.0, 3)
        phases = rng.uniform(0, 2 * np.pi, 3)
        amps = rng.uniform(5.0, 40.0, 3)
        x = sum(a * np.sin(2 * np.pi * f * t + p) for a, f, p in zip(amps, freqs, phases))
        x = x + rng.normal(0.0, 0.5, rows)
        signals.append(x)
    # spike above mean + 3 sigma on the first signal channel
    s0 = signals[0]
    at = int(rng.integers(rows // 4, 3 * rows // 4))
    s0[at] = s0.mean() + 6.0 * s0.std()
    # NaN run on the second channel, away from the edges
    if channels > 1:
        start = int(rng.integers(rows // 8, rows // 2))
        signals[1][start:start + int(rng.integers(8, 24))] = np.nan
    # episodes: alternate inspection/action, at least two of each
    n_eps = max(4, rows // 600)
    bounds = np.linspace(0, rows, n_eps + 1).astype(int)
    ep_index = np.zeros(rows, dtype=int)
    ep_type, ep_state = [""] * rows, [""] * rows
    for e in range(n_eps):
        a, b = bounds[e], bounds[e + 1]
        kind = "inspection" if e % 2 == 0 else "action"
        ep_index[a:b] = e + 1
        for r in range(a, b):
            ep_type[r] = kind
            ep_state[r] = STATES[kind][0 if r == a else 2 if r == b - 1 else 1]
    # sparse stepwise fixation ids with gaps, mostly empty duration
    fix = np.full(rows, np.nan)
    step = max(rows // 40, 1)
    for k, r in enumerate(range(0, rows, step)):
        if k % 3 != 2:
            fix[r:r + step // 2] = float(k)
    duration = np.full(rows, np.nan)
    duration[::97] = rng.uniform(100.0, 400.0, len(duration[::97]))
    lsl = 1.7e9 + index * 1000.0 + t + rng.uniform(0, 1e-4, rows)
    participant = PARTICIPANTS[index % 2]
    condition = CONDITIONS[(index // 2) % 2]
    header = (["normalized_time", "LSL_timestamp", "participant_id", "condition",
               "trial_type", "trial_number", "session", "angle_degrees",
               "is_control_trial"] + names +
              ["fixation id", "duration [ms]", "episode_index", "episode_type",
               "episode_state"])
    meta = [participant, condition, "experimental" if index % 3 else "control",
            str(index + 1), str(1 + index % 2), str(45 * (1 + index % 4)),
            "0" if index % 3 else "1"]
    out = [",".join(f'"{h}"' if " " in h else h for h in header)]
    for r in range(rows):
        out.append(",".join(
            [f"{t[r]:.6f}", f"{lsl[r]:.6f}"] + meta +
            [fmt(s[r]) for s in signals] +
            ["" if np.isnan(fix[r]) else fmt(fix[r]),
             "" if np.isnan(duration[r]) else fmt(duration[r]),
             str(ep_index[r]), ep_type[r], ep_state[r]]))
    return "\n".join(out) + "\n"


def generate(out_dir, seed, trials, rows, channels):
    """Write `trials` CSVs to `out_dir`; returns their paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths = []
    for i in range(trials):
        p = os.path.join(out_dir, f"trial_{i:03d}.csv")
        with open(p, "w") as f:
            f.write(trial_rows(rng, i, rows, channels))
        paths.append(p)
    return paths


if __name__ == "__main__":
    out, seed, n, rows, ch = sys.argv[1:6]
    for p in generate(out, int(seed), int(n), int(rows), int(ch)):
        print(p)
