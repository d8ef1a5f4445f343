"""Seeded HHS state-level capacity CSVs and a pure-Python model of the
reference pipeline's semantics.

The model is what the pipeline workloads check the program against:

- reject rules in the reference's first-match order;
- last-writer-wins on the natural key ``(date, region)`` across batches;
- ``bed_occ_pct``/``icu_occ_pct`` rounded to 4 places half-up on the
  shortest decimal form of the double (the program's documented storage
  choice, Spark's ``round`` on a double), ``strain_index`` via Python
  ``round`` (the reference's banker's rounding);
- the seven API reads plus the dashboard KPIs over the final lake.

Everything here is stdlib; no Spark is imported.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from decimal import ROUND_HALF_UP, Decimal

# 50 states, DC and the five inhabited territories: the 56 "state"
# values of the HHS state-level timeseries.
REGIONS = (
    "AK AL AR AS AZ CA CO CT DC DE FL GA GU HI IA ID IL IN KS KY LA MA MD ME "
    "MI MN MO MP MS MT NC ND NE NH NJ NM NV NY OH OK OR PA PR RI SC SD TN TX "
    "UT VA VI VT WA WI WV WY"
).split()

CSV_COLUMNS = (
    "date",
    "state",
    "inpatient_beds",
    "inpatient_beds_used",
    "total_staffed_adult_icu_beds",
    "staffed_adult_icu_bed_occupancy",
)

# (rule, reason) in the reference's first-match order
# (backend/app/etl/ingest_capacity.py:29-57).
REJECT_REASONS = (
    "date is required",
    "region is required",
    "total_beds is required",
    "occupied_beds is required",
    "total_beds cannot be negative",
    "occupied_beds cannot be negative",
    "occupied_beds cannot exceed total_beds",
    "icu_beds cannot be negative",
    "icu_occupied cannot be negative",
    "icu_occupied cannot exceed icu_beds",
)

START_DATE = dt.date(2024, 1, 1)
REJECT_SHARE = 0.02
NULL_ICU_SHARE = 0.05
ZERO_BEDS_SHARE = 0.005


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------


class HHSGenerator:
    """Deterministic rows for ``(day, region)`` cells. Each call to
    :meth:`rows` draws from its own ``random.Random`` seeded from the
    generator seed and the batch tag, so the history file and every
    batch are reproducible independently of generation order."""

    def __init__(self, seed: int):
        self.seed = seed
        base = random.Random(f"{seed}:regions")
        # per-region capacity scale: small territories to large states
        self.scale = {r: base.randint(300, 60_000) for r in REGIONS}

    def _cell(self, rng: random.Random, day: int, region: str) -> dict:
        total = max(0, int(self.scale[region] * rng.uniform(0.9, 1.1)))
        if rng.random() < ZERO_BEDS_SHARE:
            total = 0
        occupied = int(total * rng.uniform(0.4, 1.0))
        icu = int(total * rng.uniform(0.08, 0.15))
        icu_occ = int(icu * rng.uniform(0.4, 1.0))
        row = {
            "date": (START_DATE + dt.timedelta(days=day)).isoformat(),
            "state": region,
            "inpatient_beds": str(total),
            "inpatient_beds_used": str(occupied),
            "total_staffed_adult_icu_beds": str(icu),
            "staffed_adult_icu_bed_occupancy": str(icu_occ),
        }
        if rng.random() < NULL_ICU_SHARE:
            row["total_staffed_adult_icu_beds"] = ""
            row["staffed_adult_icu_bed_occupancy"] = ""
        return row

    @staticmethod
    def _break_one_rule(rng: random.Random, row: dict) -> None:
        """Make ``row`` fail exactly one reject rule, chosen uniformly."""
        k = rng.randrange(len(REJECT_REASONS))
        bump = rng.randint(1, 50)
        total = int(row["inpatient_beds"])
        if k >= 7 and not row["total_staffed_adult_icu_beds"]:
            row["total_staffed_adult_icu_beds"] = str(max(1, total // 10))
            row["staffed_adult_icu_bed_occupancy"] = "0"
        icu = int(row["total_staffed_adult_icu_beds"] or 0)
        if k == 0:
            row["date"] = rng.choice(("", "n/a", "2024-02-30"))
        elif k == 1:
            row["state"] = ""
        elif k == 2:
            row["inpatient_beds"] = rng.choice(("", "unknown"))
        elif k == 3:
            row["inpatient_beds_used"] = ""
        elif k == 4:
            row["inpatient_beds"] = str(-bump)
            row["inpatient_beds_used"] = "0"
        elif k == 5:
            row["inpatient_beds_used"] = str(-bump)
        elif k == 6:
            row["inpatient_beds_used"] = str(total + bump)
        elif k == 7:
            row["total_staffed_adult_icu_beds"] = str(-bump)
            row["staffed_adult_icu_bed_occupancy"] = "0"
        elif k == 8:
            row["staffed_adult_icu_bed_occupancy"] = str(-bump)
        else:
            row["staffed_adult_icu_bed_occupancy"] = str(icu + bump)

    def rows(self, tag: str, days: range) -> list[dict]:
        """One file's rows: every region on every day of ``days``, in a
        seeded order, ~2% of them broken on one reject rule. A file never
        carries the same ``(date, region)`` twice."""
        rng = random.Random(f"{self.seed}:{tag}")
        out = []
        for day in days:
            for region in REGIONS:
                row = self._cell(rng, day, region)
                if rng.random() < REJECT_SHARE:
                    self._break_one_rule(rng, row)
                out.append(row)
        rng.shuffle(out)
        return out


def write_csv(path: str, rows: list[dict]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=CSV_COLUMNS)
        w.writeheader()
        w.writerows(rows)


def batch_days(first_day: int, i: int, span: int, step: int) -> range:
    """Days covered by daily batch ``i``: ``span`` days starting ``step``
    days after the previous batch, so consecutive batches overlap by
    ``span - step`` days and rewrite existing keys."""
    start = first_day + i * step
    return range(start, start + span)


# --------------------------------------------------------------------------
# reference model
# --------------------------------------------------------------------------


def _num(s: str) -> float | None:
    try:
        return float(s)
    except ValueError:
        return None


def _date(s: str) -> dt.date | None:
    try:
        return dt.date.fromisoformat(s)
    except ValueError:
        return None


def reject_reason(row: dict) -> str | None:
    """First-match reject reason of a raw CSV row, or None when valid."""
    d = _date(row["date"])
    region = row["state"] or None
    total = _num(row["inpatient_beds"])
    occ = _num(row["inpatient_beds_used"])
    icu = _num(row["total_staffed_adult_icu_beds"])
    icu_occ = _num(row["staffed_adult_icu_bed_occupancy"])
    checks = (
        d is None,
        region is None,
        total is None,
        occ is None,
        total is not None and total < 0,
        occ is not None and occ < 0,
        occ is not None and total is not None and occ > total,
        icu is not None and icu < 0,
        icu is not None and icu_occ is not None and icu_occ < 0,
        icu is not None and icu_occ is not None and icu_occ > icu,
    )
    for failed, reason in zip(checks, REJECT_REASONS):
        if failed:
            return reason
    return None


def round_half_up(x: float | None, places: int) -> float | None:
    """Spark's ``round`` on a double: half-up on its shortest decimal form."""
    if x is None:
        return None
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _ratio(num: int | None, den: int | None) -> float | None:
    if num is None or den is None or den <= 0:
        return None
    return num / den


def strain(bed: float, icu: float | None) -> float:
    """compute_metrics.py:11-21 of the reference, Python ``round``."""
    bed_score = bed * 100.0
    icu_score = icu * 100.0 if icu is not None else bed_score
    return round(min(100.0, max(0.0, 0.4 * bed_score + 0.6 * icu_score)), 2)


class LakeModel:
    """The lake the reference semantics predict after a series of
    ingests: bronze capacity and silver metrics keyed by
    ``(date, region)``."""

    def __init__(self):
        self.capacity: dict[tuple[dt.date, str], tuple] = {}

    def ingest(self, rows: list[dict]) -> dict:
        """Apply one CSV batch; returns the expected ingest counters and
        the touched dates."""
        loaded = 0
        touched: set[dt.date] = set()
        for row in rows:
            if reject_reason(row) is not None:
                continue
            loaded += 1
            d = _date(row["date"])
            icu = _num(row["total_staffed_adult_icu_beds"])
            icu_occ = _num(row["staffed_adult_icu_bed_occupancy"])
            self.capacity[(d, row["state"])] = (
                int(float(row["inpatient_beds"])),
                int(float(row["inpatient_beds_used"])),
                None if icu is None else int(icu),
                None if icu_occ is None else int(icu_occ),
            )
            touched.add(d)
        return {
            "rows_in": len(rows),
            "rows_loaded": loaded,
            "rows_rejected": len(rows) - loaded,
            "touched": sorted(touched),
        }

    def metrics(self) -> dict[tuple[dt.date, str], tuple]:
        """Silver rows: (bed_occ_pct, icu_occ_pct, strain_index)."""
        out = {}
        for key, (total, occ, icu, icu_occ) in self.capacity.items():
            bed = occ / total if total > 0 else 0.0
            icu_pct = icu_occ / icu if icu and icu_occ is not None else None
            out[key] = (
                round_half_up(bed, 4),
                round_half_up(icu_pct, 4),
                strain(bed, icu_pct),
            )
        return out

    # ---- the API reads (backend/app/main.py:110-373) ----

    def dates(self) -> list[dt.date]:
        return sorted({d for d, _ in self.capacity})

    def capacity_latest(self, date: dt.date | None) -> list[tuple]:
        date = date or max(self.dates())
        out = []
        for (d, r), (total, occ, icu, icu_occ) in sorted(
            self.capacity.items(), key=lambda kv: kv[0][1]
        ):
            if d != date:
                continue
            icu_pct = _ratio(icu_occ, icu) if icu_occ is not None else None
            out.append(
                (d, r, total, occ, icu, icu_occ,
                 round_half_up(_ratio(occ, total), 4),
                 round_half_up(icu_pct, 4))
            )
        return out

    def metrics_latest(self, date: dt.date | None) -> list[tuple]:
        date = date or max(self.dates())
        m = self.metrics()
        return [
            (d, r, *m[(d, r)])
            for (d, r) in sorted(m, key=lambda k: k[1])
            if d == date
        ]

    def metrics_compare(self, date: dt.date | None) -> list[tuple]:
        date = date or max(self.dates())
        m = self.metrics()
        prev_day = date - dt.timedelta(days=1)
        out = []
        for d, r in sorted(m, key=lambda k: k[1]):
            if d != date:
                continue
            s = m[(d, r)][2]
            prev = m.get((prev_day, r))
            p = None if prev is None else prev[2]
            out.append((d, r, s, p, None if p is None else s - p))
        return out

    def available_dates(self) -> list[tuple]:
        ds = self.dates()
        return [(ds[0], ds[-1], len(ds))]

    def available_dates_full(self) -> list[tuple]:
        return [(d,) for d in self.dates()]

    def coverage(self, min_rows: int) -> list[tuple]:
        counts: dict[dt.date, int] = {}
        for d, _ in self.capacity:
            counts[d] = counts.get(d, 0) + 1
        return [(d, n) for d, n in sorted(counts.items()) if n >= min_rows]

    def coverage_best_date(self, min_rows: int) -> list[tuple]:
        cov = self.coverage(min_rows)
        return cov[-1:]

    def dashboard_kpis(self, date: dt.date | None) -> dict:
        rows = self.metrics_latest(date)
        strains = [r[4] for r in rows]
        top = max(strains)
        return {
            "top_regions": {r[1] for r in rows if r[4] == top},
            "highest_strain": top,
            "avg_strain": sum(strains) / len(strains),
            "crisis_count": sum(1 for s in strains if s > 80),
        }
