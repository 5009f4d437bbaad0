"""Seeded generator of FAA MCC ``.txt`` and Netzsch STA ``.csv`` exports.

Every value is a multiple of 1/16 written in full, so it parses back to the
exact double and any summation order gives the exact sum: the ground truth
(rows, per-channel sums, canonical units, BLAKE2b-512 of the bytes written)
is known by construction, not taken from the parsers under test.

File sizes are skewed (Pareto weights over a fixed row budget) and each file
carries its own channel subset, so a seed changes both; the channel count
per format is fixed, so every seed yields the same number of long rows.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

#: (header token, standardized name, canonical unit) — the spellings the
#: parsers canonicalize: "C" -> "°C", "cc/min" -> "ml/min", "O2" -> oxygen.
MCC_CHANNELS = [
    ("Temperature (C)", "temperature", "°C"),
    ("HRR (W/g)", "hrr", "W/g"),
    ("Specimen Temp (C)", "specimen_temp", "°C"),
    ("O2 (%)", "oxygen", "%"),
    ("N2 Flow (cc/min)", "n2_flow", "ml/min"),
    ("Combustor Temp (C)", "combustor_temp", "°C"),
]
MCC_TIME = ("Time (s)", "time", "s")
#: data channels per MCC run besides time, drawn per file from MCC_CHANNELS
MCC_PICK = 4

STA_CHANNELS = [
    ("Temp./C", "temperature", "°C"),
    ("DSC/(mW/mg)", "dsc", "mW/mg"),
    ("Mass/%", "mass", "%"),
    ("DTG/(%/min)", "dtg", "%/min"),
    ("Sensit./(uV/mW)", "sensitivity", "uV/mW"),
]
STA_TIME = ("Time/min", "time", "min")
STA_SEGMENT = ("Segment", "segment", None)
#: data channels per STA run besides time and segment
STA_PICK = 3


@dataclass
class FileTruth:
    path: str
    fmt: str  # "MCC" or "STA"
    rows: int
    channels: list[tuple[str, str | None]]  # (standard name, unit), in order
    sums: dict[str, float]
    blake2b: str
    size: int


@dataclass
class Corpus:
    root: str
    files: list[FileTruth] = field(default_factory=list)

    def of(self, fmt: str) -> list[FileTruth]:
        return [f for f in self.files if f.fmt == fmt]

    @property
    def long_rows(self) -> int:
        return sum(f.rows * len(f.channels) for f in self.files)

    @property
    def input_bytes(self) -> int:
        return sum(f.size for f in self.files)


def _skewed_rows(rng: random.Random, n_files: int, total: int, floor: int) -> list[int]:
    """Heavy-tailed split of exactly ``total`` rows, ``floor`` at least each;
    the Pareto weights are capped so no single run dominates a corpus."""
    weights = [min(rng.paretovariate(1.3), 8.0) for _ in range(n_files)]
    scale = (total - floor * n_files) / sum(weights)
    rows = [floor + int(w * scale) for w in weights]
    rows[rows.index(max(rows))] += total - sum(rows)
    return rows


def _values(rng: random.Random, rows: int, lo: int, hi: int) -> list[float]:
    # random walk on the 1/16 grid: instrument-like traces, exact in binary
    v, out = rng.randint(lo, hi), []
    for _ in range(rows):
        v = min(hi, max(lo, v + rng.randint(-24, 24)))
        out.append(v / 16)
    return out


def _write(path: str, text: str) -> tuple[str, int]:
    raw = text.encode("ascii")
    with open(path, "wb") as f:
        f.write(raw)
    return hashlib.blake2b(raw).hexdigest(), len(raw)


def _mcc_file(rng: random.Random, path: str, run: int, rows: int) -> FileTruth:
    chans = [MCC_TIME] + rng.sample(MCC_CHANNELS, MCC_PICK)
    cols = [[i / 2 for i in range(rows)]] + [
        _values(rng, rows, 0, 16 * 900) for _ in chans[1:]
    ]
    head = [
        f"Sample ID: RUN{run:04d}",
        f"Sample Weight (mg): {rng.randint(300, 900) / 100}",
        f"Heating Rate (C/s): {rng.choice([0.5, 1, 2])}",
        f"Combustor Temp (C): {rng.choice([850, 900, 950])}",
        "*",
        "\t".join(c[0] for c in chans),
    ]
    body = ["\t".join(repr(col[i]) for col in cols) for i in range(rows)]
    digest, size = _write(path, "\r\n".join(head + body) + "\r\n")
    return FileTruth(
        path, "MCC", rows, [(c[1], c[2]) for c in chans],
        {c[1]: sum(col) for c, col in zip(chans, cols)}, digest, size,
    )


def _sta_file(rng: random.Random, path: str, run: int, rows: int) -> FileTruth:
    chans = (
        [STA_TIME]
        + rng.sample(STA_CHANNELS, STA_PICK)
        + [STA_SEGMENT]
    )
    cols = (
        [[i / 4 for i in range(rows)]]
        + [_values(rng, rows, -16 * 100, 16 * 1000) for _ in chans[1:-1]]
        + [[float(1 + 3 * i // rows) for i in range(rows)]]
    )
    head = [
        "#FORMAT:,NETZSCH5",
        f"#IDENTITY:,RUN{run:04d}",
        f"#SAMPLE MASS /mg:,{rng.randint(500, 2000) / 100}",
        "#ATMOSPHERE:,N2",
        "##" + ",".join(c[0] for c in chans),
    ]
    body = [",".join(repr(col[i]) for col in cols) for i in range(rows)]
    digest, size = _write(path, "\n".join(head + body) + "\n")
    return FileTruth(
        path, "STA", rows, [(c[1], c[2]) for c in chans],
        {c[1]: sum(col) for c, col in zip(chans, cols)}, digest, size,
    )


def generate(
    root: str,
    seed: int,
    mcc_files: int = 32,
    sta_files: int = 16,
    mcc_rows: int = 40_000,
    sta_rows: int = 20_000,
) -> Corpus:
    """Write ``mcc_files`` MCC runs under ``root/mcc`` and ``sta_files`` STA
    runs under ``root/sta`` (the row budgets split with a heavy tail) and
    return their ground truth."""
    rng = random.Random(seed)
    corpus = Corpus(root)
    for fmt, n, total, make in (
        ("mcc", mcc_files, mcc_rows, _mcc_file),
        ("sta", sta_files, sta_rows, _sta_file),
    ):
        d = os.path.join(root, fmt)
        os.makedirs(d, exist_ok=True)
        ext = ".txt" if fmt == "mcc" else ".csv"
        for i, rows in enumerate(_skewed_rows(rng, n, total, floor=40)):
            path = os.path.join(d, f"{fmt}_{seed}_{i:03d}{ext}")
            corpus.files.append(make(rng, path, i, rows))
    return corpus
