"""Seeded, scale-parameterised LMO raw-input generator.

Writes the same four raw files as
``lmo_data_catalog_spark/plans/fixtures.py`` with the same schemas and
warts -- 3 banner rows, the ``x`` NA sentinel in the income column, an
all-empty row and a trailing all-empty column in employment.csv, and
cluster NOCs as ``NNNNN: Title`` without the ``#`` -- but with the
occupation and industry counts as parameters, so ingest and the
workbook sinks do data-proportional work.  The 7 economic regions, the
2 pseudo-regions and the 3 demand variables are fixed: they set the
sheet fan-out and the file schemas, exactly as in the fixtures.

The returned :class:`LmoData` keeps every value written, so output
checks can recompute catalog cells in plain Python.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field

BANNER = [
    ["British Columbia Labour Market Outlook"],
    ["Synthetic benchmark input -- not real data"],
    [],
]
REGIONS = [
    "Cariboo",
    "Kootenay",
    "Mainland South West",
    "North Coast & Nechako",
    "Northeast",
    "Thompson Okanagan",
    "Vancouver Island Coast",
]
PSEUDO_REGIONS = ["North", "South East"]
BC = "British Columbia"
AREAS = [BC, *REGIONS, *PSEUDO_REGIONS]
JO_VARIABLES = ["Job Openings", "Expansion Demand", "Replacement Demand"]
CLUSTER_LABELS = ["Analysis", "Care", "Computation", "Hands-on", "Management"]
INCOME_COL = "2021 Census Median Employment Income (Employed)"

_TITLE_WORDS = [
    "Senior", "Junior", "Field", "Technical", "Clinical", "Retail",
    "Industrial", "Marine", "Forest", "Mining", "Software", "Financial",
    "Food", "Transport", "Construction", "Health", "Education", "Legal",
    "Energy", "Agricultural",
]
_TITLE_ROLES = [
    "analysts", "assistants", "managers", "technicians", "operators",
    "supervisors", "engineers", "clerks", "specialists", "labourers",
    "inspectors", "coordinators", "designers", "drivers", "nurses",
]
_INDUSTRY_POOL = [
    "Construction",
    "Health Care and Social Assistance",
    "Manufacturing",
    "Professional, Scientific and Technical Services",
    "Retail Trade",
    "Wholesale Trade",
    "Transportation and Warehousing",
    "Educational Services",
    "Finance and Insurance",
    "Real Estate and Rental and Leasing",
    "Accommodation and Food Services",
    "Public Administration",
    "Information, Culture and Recreation",
    "Utilities",
    "Agriculture",
    "Forestry and Logging",
    "Mining, Oil and Gas Extraction",
    "Fishing, Hunting and Trapping",
    "Business, Building and Other Support Services",
    "Repair, Personal and Other Services",
    "Arts and Entertainment",
    "Waste Management",
]


@dataclass
class LmoData:
    """Everything the generator wrote, keyed for cell recomputation."""

    fyod: int
    nocs: list[tuple[str, str]]  # (code with '#', title); '#T' first
    industries: list[str]  # 'All industries' first
    employment: dict[tuple[str, str, str], list[float]] = field(default_factory=dict)
    job_openings: dict[tuple[str, str, str, str], list[float]] = field(
        default_factory=dict
    )
    hoo: dict[str, dict[str, str]] = field(default_factory=dict)  # col -> noc -> flag
    clusters: dict[str, str] = field(default_factory=dict)  # noc -> label

    @property
    def years(self) -> list[int]:
        return list(range(self.fyod, self.fyod + 11))

    @property
    def hoo_cols(self) -> list[str]:
        return [f"Occ Group: HOO BC {self.fyod}E"] + [
            f"Occ Group: HOO {r} {self.fyod}E" for r in REGIONS
        ]


def _nocs(rng: random.Random, n: int) -> list[tuple[str, str]]:
    codes = sorted(rng.sample(range(10, 99999), n))
    titles: set[str] = set()
    out = [("#T", "Total - all occupations")]
    for code in codes:
        while True:
            title = " ".join(
                [rng.choice(_TITLE_WORDS), rng.choice(_TITLE_WORDS).lower(),
                 rng.choice(_TITLE_ROLES)]
            )
            if title not in titles:
                break
        titles.add(title)
        out.append((f"#{code:05d}", title))
    return out


def _write_csv(path: str, header: list[str], rows: list[list], banner=True):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        if banner:
            w.writerows(BANNER)
        w.writerow(header)
        w.writerows(rows)


def generate(
    out_dir: str,
    *,
    seed: int,
    n_nocs: int,
    n_industries: int,
    fyod: int = 2024,
) -> LmoData:
    """Write employment.csv, job_openings.csv, the occupational
    characteristics file and clusters.csv into ``out_dir``.

    ``n_nocs`` occupations come on top of the ``#T`` total row;
    ``n_industries`` counts ``All industries``."""
    if not 1 <= n_industries <= len(_INDUSTRY_POOL) + 1:
        raise ValueError(f"n_industries must be 1..{len(_INDUSTRY_POOL) + 1}")
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    data = LmoData(
        fyod=fyod,
        nocs=_nocs(rng, n_nocs),
        industries=["All industries", *_INDUSTRY_POOL[: n_industries - 1]],
    )
    years = [str(y) for y in data.years]

    def series(base: float, drift: float) -> list[float]:
        vals, v = [], base
        for _ in years:
            v = v * (1 + rng.uniform(-drift, drift))
            vals.append(round(v, 1))
        return vals

    header = ["NOC", "Description", "Industry", "Variable", "Geographic Area",
              *years, ""]
    rows: list[list] = []
    for noc, desc in data.nocs:
        for ind in data.industries:
            for area in AREAS:
                base = rng.uniform(500, 50000) * (10 if noc == "#T" else 1)
                vals = series(base, 0.04)
                data.employment[(noc, ind, area)] = vals
                rows.append([noc, desc, ind, "Employment", area, *vals, ""])
    rows.insert(len(rows) // 2, [""] * len(header))
    _write_csv(os.path.join(out_dir, "employment.csv"), header, rows)

    header = header[:-1]
    rows = []
    for noc, desc in data.nocs:
        for ind in data.industries:
            for area in AREAS:
                for var in JO_VARIABLES:
                    base = rng.uniform(-50, 800)
                    vals = series(base if base > 1 else 10, 0.15)
                    data.job_openings[(noc, ind, area, var)] = vals
                    rows.append([noc, desc, ind, var, area, *vals])
    _write_csv(os.path.join(out_dir, "job_openings.csv"), header, rows)

    header = ["NOC", "Description", *data.hoo_cols, INCOME_COL]
    rows = []
    for col in data.hoo_cols:
        data.hoo[col] = {}
    for noc, desc in data.nocs[1:]:
        flags = [rng.choice(["HOO", "Non-HOO"]) for _ in data.hoo_cols]
        for col, flag in zip(data.hoo_cols, flags):
            data.hoo[col][noc] = flag
        income = "x" if rng.random() < 0.15 else round(rng.uniform(3e4, 1.2e5))
        rows.append([noc, desc, *flags, income])
    _write_csv(
        os.path.join(out_dir, f"Occupational Characteristics {fyod}.csv"),
        header,
        rows,
    )

    # a proper subset of the NOCs, so the inner join filters
    rows = []
    for noc, desc in data.nocs[1:-2]:
        label = rng.choice(CLUSTER_LABELS)
        data.clusters[noc] = label
        rows.append([f"{noc[1:]}: {desc}", label, "ignored"])
    _write_csv(
        os.path.join(out_dir, "clusters.csv"),
        ["NOC", "new_cluster", "extra_col"],
        rows,
        banner=False,
    )
    return data
