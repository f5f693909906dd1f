"""Compare reactor outputs with the corpus's NumPy reference.

Stats and histogram are checked per sample and channel from pandas
frames (read back from the CSV export, or collected: both are small).
The point cloud is checked per sample when it was exported; when it
was forced with a noop sink, its row count and channel sums are
gathered by `DataFrame.observe` during that same execution.
"""

from __future__ import annotations

import glob
import os

import pandas as pd

from corpus import CHANNELS, Corpus

MEAN_RTOL = 1e-9


def _close(a: float, b: float, rtol: float) -> bool:
    return abs(a - b) <= rtol * max(abs(a), abs(b), 1e-300)


def read_csv_dir(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    frames = [pd.read_csv(p, float_precision="round_trip") for p in parts]
    frames = [f for f in frames if len(f)]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def check_point_cloud(corpus: Corpus, pc: pd.DataFrame) -> list[str]:
    rows = pc.groupby("sample_id").size().to_dict() if len(pc) else {}
    expected = {s: r.rows for s, r in corpus.ref.items() if r.rows}
    if rows != expected:
        return [f"point_cloud rows per sample differ: {rows} != {expected}"]
    return []


def check_stats(corpus: Corpus, stats: pd.DataFrame) -> list[str]:
    errors = []
    if len(stats) != len(corpus.ref) * len(CHANNELS):
        errors.append(f"stats has {len(stats)} rows, want {len(corpus.ref) * len(CHANNELS)}")
    for rec in stats.itertuples(index=False):
        ref = corpus.ref.get(rec.sample_id)
        if ref is None or rec.channel not in CHANNELS:
            errors.append(f"stats row for unknown ({rec.sample_id}, {rec.channel})")
            continue
        c = CHANNELS.index(rec.channel)
        key = f"stats[{rec.sample_id},{rec.channel}]"
        if int(rec.n_events) != ref.rows:
            errors.append(f"{key}.n_events {rec.n_events} != {ref.rows}")
        if float(rec.min) != float(ref.min[c]) or float(rec.max) != float(ref.max[c]):
            errors.append(f"{key} min/max ({rec.min}, {rec.max}) != ({ref.min[c]}, {ref.max[c]})")
        if not _close(float(rec.mean), float(ref.mean[c]), MEAN_RTOL):
            errors.append(f"{key}.mean {rec.mean} != {ref.mean[c]}")
    return errors


def check_histogram(corpus: Corpus, hist: pd.DataFrame) -> list[str]:
    mass = hist.groupby(["sample_id", "channel"])["n"].sum().to_dict() if len(hist) else {}
    expected = {
        (s, ch): int(r.positive[c])
        for s, r in corpus.ref.items()
        for c, ch in enumerate(CHANNELS)
        if r.positive[c]
    }
    if {k: int(v) for k, v in mass.items()} != expected:
        return ["histogram counts per sample×channel differ from the positive-value counts"]
    return []


def observe_point_cloud(pc):
    """The point cloud with an observation of its row count and
    channel sums attached. Returns (frame, observation)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += [F.sum(F.col(f"`{c}`")).alias(f"sum_{i}") for i, c in enumerate(CHANNELS)]
    return pc.observe(obs, *exprs), obs


def check_point_cloud_totals(corpus: Corpus, totals: dict) -> list[str]:
    errors = []
    if totals["rows"] != corpus.rows:
        errors.append(f"point_cloud rows {totals['rows']} != {corpus.rows}")
    for i, _ in enumerate(CHANNELS):
        want = sum(float(r.mean[i]) * r.rows for r in corpus.ref.values())
        if not _close(float(totals[f"sum_{i}"]), want, MEAN_RTOL):
            errors.append(f"point_cloud channel {i} sum {totals[f'sum_{i}']} != {want}")
    return errors
