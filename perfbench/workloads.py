"""Seeded inputs, per-cycle resets and expected outcomes of the two workloads.

Inputs are generated with numpy and written with pyarrow, outside Spark, so
set-up stays short and the program sees plain parquet files. Every size is
fixed; the seed picks the values and which months drift, so every seed does
the same amount of work, and one seed always yields the same files.
"""

from __future__ import annotations

import datetime as dt
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

def data_files(root: str) -> list[Path]:
    """Parquet data files under ``root`` (no checksums, markers or staging)."""
    return [
        p
        for p in Path(root).rglob("*.parquet")
        if not any(part.startswith((".", "_")) for part in p.relative_to(root).parts)
    ]


def data_bytes(root: str) -> int:
    return sum(p.stat().st_size for p in data_files(root))


def _write_files(table: pa.Table, out: Path, files: int) -> None:
    out.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:05d}.parquet")


def _digits(values: np.ndarray) -> pa.Array:
    """int64 -> its decimal rendering, as Spark's ``CAST(bigint AS STRING)``."""
    return pc.cast(pa.array(values), pa.string())


def _decimal(unscaled: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Non-negative int64 unscaled values -> decimal128(precision, scale)."""
    words = np.zeros((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(unscaled), [None, pa.py_buffer(words.tobytes())]
    )


@dataclass
class Workload:
    """One workload: how to build it and what every op must report.

    ``order`` is the op sequence of one cycle. ``expect`` maps an op to
    (exit code, {verdict: set of partition strings}, copied_partitions).
    ``drifted_rows`` counts the source rows the destination lacks or holds
    wrongly when a cycle starts.
    """

    name: str
    order: tuple[str, ...]
    partition_by: list
    dest_types: dict[str, str]
    source_files: int = 4
    src_rows: int = 0
    drifted_rows: int = 0
    expect: dict = field(default_factory=dict)

    def config(self, src: str, dest: str) -> dict:
        return {
            "source": {"location": src},
            "destination": {"location": dest},
            "partition_by": self.partition_by,
        }

    def generate(self, work: Path, seed: int) -> None:
        """Write ``work/src`` and the state every cycle starts from."""
        raise NotImplementedError

    def reset(self, work: Path) -> None:
        """Put ``work/dest`` back into the state every cycle starts from."""
        raise NotImplementedError


class BootstrapFine(Workload):
    """First copy of a finely partitioned table into an absent destination.

    Source: 40,000 rows, 6 columns, 2 flat parquet files, 100 bare ``day``
    partitions of exactly 400 rows. Both source files hold every day, so the
    copy writes one file per (source file, day): 200 files.
    """

    DAYS = 100
    ROWS = 40_000

    def __init__(self) -> None:
        super().__init__(
            name="bootstrap_fine",
            order=("sync", "info", "resync"),
            partition_by=["day"],
            dest_types={},
            source_files=2,
        )

    def generate(self, work: Path, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n = self.ROWS
        ids = np.arange(n, dtype=np.int64)
        day_idx = (ids * 37 + seed) % self.DAYS
        first = dt.date(2023, 1, 1)
        table = pa.table(
            {
                "id": ids,
                "day": pa.array(np.datetime64(first) + day_idx.astype("timedelta64[D]")),
                "user_id": rng.integers(0, 100_000, n, dtype=np.int32),
                "amount": rng.integers(0, 1_000_000, n) / 100,
                "category": pa.array(np.array([f"c{i}" for i in range(50)])[rng.integers(0, 50, n)]),
                "note": _digits(rng.integers(0, 2**63, n, dtype=np.int64)),
            }
        )
        _write_files(table, work / "src", self.source_files)
        self.src_rows = n
        self.drifted_rows = n  # the destination is absent
        every = {f"day={first + dt.timedelta(days=int(d))}" for d in np.unique(day_idx)}
        self.expect = {
            "sync": (0, {"copy": every}, len(every)),
            "info": (0, {"identical": every}, None),
            "resync": (0, {"identical": every}, 0),
        }

    def reset(self, work: Path) -> None:
        shutil.rmtree(work / "dest", ignore_errors=True)


class RepairDrift(Workload):
    """Steady-state repair of a converged destination after seeded drift.

    Source: 120,000 rows, 12 columns, 4 flat parquet files, partitioned by
    ``toYYYYMM(ts)`` into 24 months of 5,000 rows. The destination stores
    four columns under other types and holds one file per month. Every cycle
    starts from the same drifted copy: one month directory deleted, and
    ``K`` months with 0.3% of their rows changed and 0.2% deleted.
    """

    MONTHS = 24
    ROWS = 120_000
    K = 3

    def __init__(self) -> None:
        super().__init__(
            name="repair_drift",
            order=("info", "sync", "resync"),
            partition_by=[
                {"name": "ym", "expr": "toYYYYMM(ts)", "source_col": "ts", "is_temporal": True}
            ],
            dest_types={"qty": "bigint", "price": "double", "flags": "int", "session_id": "string"},
        )

    def generate(self, work: Path, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n = self.ROWS
        ids = np.arange(n, dtype=np.int64)
        month = (ids * 7 + seed) % self.MONTHS
        year, mon = 2021 + month // 12, month % 12 + 1
        month_start = np.array(
            [np.datetime64(f"{2021 + m // 12}-{m % 12 + 1:02d}-01", "us") for m in range(self.MONTHS)]
        )
        ts = month_start[month] + rng.integers(0, 28 * 86_400, n).astype("timedelta64[s]")
        cents = rng.integers(0, 10_000_000, n)
        session = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
        cols = {
            "id": ids,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 1_000_000, n, dtype=np.int32),
            "qty": rng.integers(0, 100, n, dtype=np.int32),
            "price": _decimal(cents, 12, 2),
            "discount": (rng.integers(0, 50, n) / 100).astype(np.float32),
            "status": pa.array(rng.choice(["new", "paid", "shipped", "returned"], n)),
            "country": pa.array(rng.choice(["DE", "FR", "US", "JP", "BR", "IN"], n)),
            "flags": rng.integers(0, 32_768, n, dtype=np.int16),
            "score": rng.integers(0, 1_000_000, n) / 1000,
            "session_id": session,
            "note": _digits(rng.integers(0, 2**63, n, dtype=np.int64)),
        }
        _write_files(pa.table(cols), work / "src", self.source_files)
        self.src_rows = n

        # the converged destination in the destination's types, cast the way
        # Spark casts: decimal -> double is unscaled / 10^scale, bigint ->
        # string is the decimal rendering
        dest = dict(cols)
        dest["qty"] = cols["qty"].astype(np.int64)
        dest["price"] = cents / 100
        dest["flags"] = cols["flags"].astype(np.int32)
        dest["session_id"] = _digits(session)
        ym = year * 100 + mon
        order = np.argsort(ym, kind="stable")
        dest = pa.table(dest).take(pa.array(order))
        ym, roll = ym[order], rng.integers(0, 1000, n)[order]
        months = sorted(set(ym.tolist()))
        picked = rng.choice(months, 1 + self.K, replace=False).tolist()
        gone, changed = picked[0], sorted(picked[1:])

        drifted_rows = 0
        for m in months:
            lo, hi = np.searchsorted(ym, [m, m + 1])
            if m == gone:
                drifted_rows += int(hi - lo)
                continue
            part = dest.slice(lo, hi - lo)
            if m in changed:
                r = roll[lo:hi]
                drifted_rows += int((r < 5).sum())
                score = part["score"].to_numpy() + np.where(r < 5, 1.0, 0.0)
                part = part.set_column(part.schema.get_field_index("score"), "score", pa.array(score))
                part = part.filter(pa.array(r >= 2))
            out = work / "drifted" / f"ym={m}"
            out.mkdir(parents=True)
            pq.write_table(part, out / "part-00000.parquet")
        self.drifted_rows = drifted_rows

        key = lambda m: f"ym={m}"  # noqa: E731
        every = {key(m) for m in months}
        bad = {key(m) for m in changed}
        drift = {"copy": {key(gone)}, "inconsistent": bad, "identical": every - bad - {key(gone)}}
        self.expect = {
            "info": (2, drift, None),
            "sync": (0, drift, 1 + self.K),
            "resync": (0, {"identical": every}, 0),
        }

    def reset(self, work: Path) -> None:
        shutil.rmtree(work / "dest", ignore_errors=True)
        shutil.copytree(work / "drifted", work / "dest")


WORKLOADS = {"bootstrap_fine": BootstrapFine, "repair_drift": RepairDrift}
