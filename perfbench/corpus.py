"""Seeded FCS corpora and their NumPy reference outputs.

Each workload has a fixed shape; the seed only changes the values.
Channels are lognormal, rounded to float32 (the on-disk $DATATYPE F),
and the reference recomputes the reactor's arithmetic in float64 in
the same order as the Spark expressions, so `n_events`, `min` and
`max` must match exactly and `mean` to a summation-order tolerance.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

CHANNELS = ["FSC-A", "SSC-A", "FL1-A", "FL2-A", "FL3-A", "FL4-A"]
GATE_CHANNEL = "FSC-A"
GATE_REJECT = 0.2  # share of events below the range gate's lower edge
GATE_HI = 1e12


@dataclass(frozen=True)
class Shape:
    samples: int
    events: int
    # bulk: spillover inverse + calibration + range gate + CSV export;
    # spool: channels only, outputs forced with a noop sink
    full_message: bool


SHAPES = {
    "reactor_bulk": Shape(samples=4, events=8_000, full_message=True),
    "reactor_spool": Shape(samples=32, events=100, full_message=False),
}


@dataclass
class SampleRef:
    rows: int
    mean: np.ndarray  # per channel
    min: np.ndarray
    max: np.ndarray
    positive: np.ndarray  # events > 0 per channel (histogram mass)


@dataclass
class Corpus:
    directory: str
    files: list[str]
    corpus_bytes: int
    events: int  # events before gating: the pass_ratio base
    spill_inverse: list[list[float]] | None
    calibration: dict[str, list[float]] | None
    gate_lo: float | None
    ref: dict[str, SampleRef] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(r.rows for r in self.ref.values())

    @property
    def positive(self) -> int:
        return int(sum(r.positive.sum() for r in self.ref.values()))


def _matrices(shape: Shape, seed: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    mu = 4.5 + 0.4 * np.arange(len(CHANNELS))
    return [
        rng.lognormal(mu, 0.9, size=(shape.events, len(CHANNELS))).astype(np.float32)
        for _ in range(shape.samples)
    ]


def _spill_inverse(seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed + 1)
    n = len(CHANNELS)
    spill = np.eye(n) + np.where(np.eye(n) > 0, 0.0, rng.uniform(0.0, 0.06, (n, n)))
    return np.linalg.inv(spill).tolist()


def _transform(mat32: np.ndarray, spill_inverse, calibration) -> np.ndarray:
    """Compensate then calibrate, term by term in the JVM's order."""
    x = mat32.astype(np.float64)
    if spill_inverse is not None:
        cols = []
        for row in spill_inverse:
            acc = row[0] * x[:, 0]
            for j in range(1, len(row)):
                acc = acc + row[j] * x[:, j]
            cols.append(acc)
        x = np.stack(cols, axis=1)
    for ch, (a, b) in (calibration or {}).items():
        i = CHANNELS.index(ch)
        x[:, i] = a * x[:, i] + b
    return x


def generate(workload: str, seed: int, directory: str) -> Corpus:
    """Write the workload's corpus under `directory` (replacing it) and
    build the reference outputs."""
    from fcs_etl_reactor_spark.sources.fcs import make_fcs_bytes

    shape = SHAPES[workload]
    mats = _matrices(shape, seed)
    spill = _spill_inverse(seed) if shape.full_message else None
    calib = {"FL1-A": [1.5, 10.0]} if shape.full_message else None
    values = [_transform(m, spill, calib) for m in mats]

    gate_lo = None
    if shape.full_message:
        g = CHANNELS.index(GATE_CHANNEL)
        gate_lo = float(np.quantile(np.concatenate([v[:, g] for v in values]), GATE_REJECT))

    os.makedirs(directory, exist_ok=True)
    for name in os.listdir(directory):
        os.remove(os.path.join(directory, name))
    files, total = [], 0
    ref = {}
    for i, (mat, val) in enumerate(zip(mats, values)):
        name = f"s{i:04d}.fcs"
        path = os.path.join(directory, name)
        data = make_fcs_bytes(CHANNELS, mat)
        with open(path, "wb") as fh:
            fh.write(data)
        files.append(path)
        total += len(data)
        if gate_lo is not None:
            g = val[:, CHANNELS.index(GATE_CHANNEL)]
            val = val[(g >= gate_lo) & (g < GATE_HI)]
        ref[name] = SampleRef(
            rows=len(val),
            mean=val.mean(axis=0),
            min=val.min(axis=0),
            max=val.max(axis=0),
            positive=(val > 0).sum(axis=0),
        )
    return Corpus(
        directory=directory,
        files=files,
        corpus_bytes=total,
        events=shape.samples * shape.events,
        spill_inverse=spill,
        calibration=calib,
        gate_lo=gate_lo,
        ref=ref,
    )


def message(corpus: Corpus, output_dir: str | None) -> dict:
    """The reactor message for this corpus. Gates are Column
    predicates, so this needs an active SparkSession."""
    from fcs_etl_reactor_spark.operators.gates import range_gate

    msg = {"fcs_dir": corpus.directory, "channels": list(CHANNELS)}
    if corpus.spill_inverse is not None:
        msg["spillover_inverse"] = corpus.spill_inverse
    if corpus.calibration:
        msg["calibration"] = corpus.calibration
    if corpus.gate_lo is not None:
        msg["gates"] = {"debris": range_gate(GATE_CHANNEL, corpus.gate_lo, GATE_HI)}
    if output_dir:
        msg["output_dir"] = output_dir
    return msg
