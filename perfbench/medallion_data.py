"""Seeded Kaggle-shaped CSV deliveries for the ``medallion_dag`` workload.

Writes the six bronze sources the reference pipeline ingests (schemas in
``pipeline/bronze.py``) under one source directory:

- ``<root>/<name>.csv``: the backfill history ``run_all(mode="full")``
  reads;
- ``<root>/YYYY/MM/DD/<name>.csv``: one folder per delivered day after
  the history, read by ``run_all(mode="incremental", batch_date=day)``.

The deliveries carry what the pipeline must survive: exact-duplicate
rows, null transaction counts, malformed CSV lines (quarantined), a
store row with a null city, weekday-only oil quotes with a few null
prices, duplicate holiday dates and transferred holidays.

``Expected`` replays the pipeline's row semantics in plain Python, so the
benchmark can check the bronze, silver, gold and quarantine row counts
after every run without trusting the engine it measures.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from pathlib import Path

STORES = 54
CITIES = ("Quito", "Guayaquil", "Cuenca", "Ambato", "Manta", "Loja", "Machala", "Ibarra")
STATES = ("Pichincha", "Guayas", "Azuay", "Tungurahua", "Manabi", "Loja", "El Oro", "Imbabura")
FAMILIES = ("GROCERY I", "BEVERAGES", "PRODUCE", "CLEANING", "DAIRY")


@dataclass
class Expected:
    """Row counts the pipeline must produce, replayed from the deliveries."""

    # (date, store) -> transaction value (None = null) of the surviving row
    keys: dict[tuple[dt.date, int], int | None] = field(default_factory=dict)
    bronze_rows: int = 0
    quarantined: int = 0
    oil: dict[dt.date, float | None] = field(default_factory=dict)

    def silver_rows(self) -> int:
        return sum(
            1 for (day, _), v in self.keys.items() if v is not None and self.oil.get(day) is not None
        )

    def gold_rows(self) -> int:
        weeks: dict[int, set[tuple[int, int]]] = {}
        for (day, store), v in self.keys.items():
            if v is not None and self.oil.get(day) is not None:
                # Spark: year(date) with weekofyear(date) (ISO week)
                weeks.setdefault(store, set()).add((day.year, day.isocalendar()[1]))
        # lag(1)/lag(2) null on each store's first two weeks -> na.drop
        return sum(max(0, len(w) - 2) for w in weeks.values())

    def counts(self) -> dict[str, int]:
        return {
            "bronze": self.bronze_rows,
            "silver": self.silver_rows(),
            "gold": self.gold_rows(),
            "quarantined": self.quarantined,
        }


@dataclass
class Deliveries:
    root: Path
    rows_backfill: int  # data lines in the backfill CSVs
    days: list[dt.date]  # the incremental batch dates, in order
    expected_backfill: dict[str, int]
    expected_after_day: list[dict[str, int]]
    rows_delivered: list[int]  # data lines in each daily folder


def _tx_lines(rng: random.Random, day: dt.date, exp: Expected) -> list[str]:
    """One day of transaction lines: every store (a few closed), about 1%
    exact duplicates, about 0.5% null counts on unique keys."""
    lines = []
    for store in range(1, STORES + 1):
        if rng.random() < 0.02:
            continue  # store closed
        value: int | None = rng.randint(200, 4500)
        if rng.random() < 0.005:
            value = None
        line = f"{day.isoformat()},{store},{'' if value is None else value}"
        lines.append(line)
        exp.keys[(day, store)] = value
        if value is not None and rng.random() < 0.01:
            lines.append(line)  # exact duplicate, identical value
    exp.bronze_rows += len(lines)
    return lines


def _oil_line(rng: random.Random, day: dt.date, price: float, exp: Expected) -> str | None:
    """Weekday quotes only; about 2% null prices."""
    if day.weekday() >= 5:
        return None
    value = None if rng.random() < 0.02 else round(price, 2)
    exp.oil[day] = value
    return f"{day.isoformat()},{'' if value is None else value}"


def _corrupt_lines(rng: random.Random, day: dt.date, n: int) -> list[str]:
    out = []
    for i in range(n):
        if i % 2 == 0:
            out.append(f"{day.isoformat()},notanint,{rng.randint(1, 99)}")
        else:
            out.append(f"garbage line {rng.randint(0, 10**6)}")
    return out


def _write(path: Path, header: str, lines: list[str]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join([header, *lines]) + "\n")


def generate(
    root: Path,
    seed: int,
    start: dt.date,
    history_days: int,
    daily_batches: int,
) -> Deliveries:
    """Write the backfill history and ``daily_batches`` daily folders
    under ``root``; the same arguments write byte-identical files."""
    rng = random.Random(seed)
    exp = Expected()

    s_lines = []
    for store in range(1, STORES + 1):
        c = rng.randrange(len(CITIES))
        s_lines.append(
            f"{store},{CITIES[c]},{STATES[c]},{'ABCDE'[store % 5]},{1 + store % 17}"
        )
    s_lines += [s_lines[3], s_lines[17]]  # exact duplicates
    s_lines.append(f"{STORES + 45},,Pichincha,B,3")  # null city -> dropped in silver

    price = 50.0 + rng.random() * 20
    tx, oil, hol = [], [], ["2015-12-25,Holiday,National,Ecuador,Navidad,FALSE"]
    days = [start + dt.timedelta(days=i) for i in range(history_days)]
    for day in days:
        tx += _tx_lines(rng, day, exp)
        price = max(20.0, price + rng.gauss(0, 0.8))
        line = _oil_line(rng, day, price, exp)
        if line is not None:
            oil.append(line)
        if rng.random() < 0.03:
            kind = "Holiday" if rng.random() < 0.7 else "Event"
            transferred = "TRUE" if rng.random() < 0.1 else "FALSE"
            row = f"{day.isoformat()},{kind},Local,{CITIES[rng.randrange(len(CITIES))]},Fiesta,{transferred}"
            hol.append(row)
            if rng.random() < 0.3:
                hol.append(row.replace(",Local,", ",Regional,"))  # duplicate date, same type
    bad = _corrupt_lines(rng, days[-1], 6)
    exp.quarantined += len(bad)
    tx += bad
    rng.shuffle(tx)

    _write(root / "stores.csv", "store_nbr,city,state,type,cluster", s_lines)
    _write(root / "transactions.csv", "date,store_nbr,transactions", tx)
    _write(root / "oil.csv", "date,dcoilwtico", oil)
    _write(root / "holidays_events.csv", "date,type,locale,locale_name,description,transferred", hol)
    last = days[-1]
    test = [
        f"{i},{(last + dt.timedelta(days=1 + i % 14)).isoformat()},{1 + i % STORES},{FAMILIES[i % 5]},{i % 3}"
        for i in range(200)
    ]
    _write(root / "test.csv", "id,date,store_nbr,family,onpromotion", test)
    _write(root / "sample_submission.csv", "id,sales", [f"{i},0.0" for i in range(200)])
    expected_backfill = exp.counts()
    rows_backfill = len(s_lines) + len(tx) + len(oil) + len(hol) + len(test) + 200

    batch_days, after, delivered = [], [], []
    day = last
    for _ in range(daily_batches):
        day += dt.timedelta(days=1)
        folder = root / f"{day:%Y/%m/%d}"
        lines = _tx_lines(rng, day, exp)
        bad = _corrupt_lines(rng, day, 1)
        exp.quarantined += len(bad)
        _write(folder / "transactions.csv", "date,store_nbr,transactions", lines + bad)
        n = len(lines) + len(bad)
        price = max(20.0, price + rng.gauss(0, 0.8))
        line = _oil_line(rng, day, price, exp)
        if line is not None:
            _write(folder / "oil.csv", "date,dcoilwtico", [line])
            n += 1
        batch_days.append(day)
        after.append(exp.counts())
        delivered.append(n)
    return Deliveries(root, rows_backfill, batch_days, expected_backfill, after, delivered)
