"""Randomized fidelity check of the full viewing pipeline against an
independent pure-Python simulation of the reference's semantics
(``ETL_full.py:38-150``). The two checked-in sample days exercise one
data shape; this drives the pipeline over seeded-random corpora hitting
every edge at once — ``Contract='0'`` sentinels, NULL contracts (3VL
drop), unknown AppNames (→ Error), case-sensitive ``KPlus``/``KPLUS``,
all-zero Taste, most_watch ties, duplicate (Contract, Mac) rows
(TotalDevices row-count quirk, or distinct Macs when corrected), and
bucket boundaries at exactly 10/20 days — plus fixed rows for the cases
the one-aggregation profile must keep from the reference's join — and
asserts row-for-row equality.
"""

from __future__ import annotations

import random

import pytest

from content_analytics_etl_spark.pipeline import run_viewing_pipeline

APPS_TV = ["CHANNEL", "DSHD", "KPLUS", "KPlus"]
APPS_MOVIE = ["VOD", "FIMS_RES", "BHD_RES", "VOD_RES", "FIMS", "BHD", "DANET"]
APPS_OTHER = ["RELAX", "CHILD", "SPORT"]
APPS_BAD = ["kplus", "Sport", "NEWAPP", ""]
ALL_APPS = APPS_TV + APPS_MOVIE + APPS_OTHER + APPS_BAD

CAT_OF = (
    {a: "TVDuration" for a in APPS_TV}
    | {a: "MovieDuration" for a in APPS_MOVIE}
    | {"RELAX": "RelaxDuration", "CHILD": "ChildDuration", "SPORT": "SportDuration"}
)
CATS = ["TVDuration", "MovieDuration", "RelaxDuration", "ChildDuration", "SportDuration"]
# reference tie order (ETL_full.py:101-107) — dict order in pipeline._MOST_WATCH
TIE_ORDER = [
    ("ChildDuration", "Child"),
    ("MovieDuration", "Movie"),
    ("RelaxDuration", "Relax"),
    ("SportDuration", "Sport"),
    ("TVDuration", "TV"),
]


# Fixed rows added to every corpus: a contract with only Error apps
# (dropped, as the inner join dropped it), one whose only valid rows
# sum to 0 (kept), a valid row with NULL TotalDuration (kept, sums 0),
# a NULL AppName (an Error row, still a device row) and a NULL Mac
# (a row, but no distinct device).
FIXED_ROWS = [
    ("ERR_ONLY", "M0", 100, "NEWAPP"),
    ("ERR_ONLY", "M1", 5, "kplus"),
    ("ZERO_ONLY", "M0", 0, "RELAX"),
    ("ZERO_ONLY", "M1", 0, "VOD"),
    ("ZERO_ONLY", "M1", 50, "Sport"),
    ("NULL_DUR", "M0", None, "VOD"),
    ("C0", "M2", None, "CHILD"),
    ("C1", "M3", 70, None),
    ("C2", None, 10, "SPORT"),
]


def _random_rows(seed: int, n: int) -> list[tuple]:
    rng = random.Random(seed)
    contracts = ["0", None] + [f"C{i}" for i in range(8)]
    rows = []
    for _ in range(n):
        c = rng.choice(contracts)
        mac = f"M{rng.randrange(4)}"
        app = rng.choice(ALL_APPS)
        # include exact 10/20-day boundary-hitting magnitudes
        dur = rng.choice([0, 1, 254, 86400 * 5, 86400 * 10, 86400 * 20])
        rows.append((c, mac, dur, app))
    return rows + FIXED_ROWS


def _reference_sim(rows: list[tuple], *, fidelity: bool = True) -> dict[str, tuple]:
    """Pure-Python simulation of ETL_full.py's observable semantics;
    ``fidelity=False`` counts distinct non-NULL Macs instead of rows."""
    devices: dict[str, list] = {}
    sums: dict[str, dict[str, int]] = {}
    for c, mac, dur, app in rows:
        if c is not None:
            devices.setdefault(c, []).append(mac)
        cat = CAT_OF.get(app)  # case-sensitive; None == 'Error'
        if c is None or c == "0" or cat is None:
            continue
        sums.setdefault(c, {k: 0 for k in CATS})[cat] += dur or 0
    out: dict[str, tuple] = {}
    for c, per in sums.items():
        mx = max(per[k] for k in CATS)
        most = next(lbl for col, lbl in TIE_ORDER if per[col] == mx)
        taste = "-".join(lbl for col, lbl in TIE_ORDER if per[col] != 0)
        days = sum(per[k] for k in CATS) / 86400
        bucket = "Low" if days < 10 else ("Medium" if days < 20 else "High")
        out[c] = (
            per["ChildDuration"], per["MovieDuration"], per["RelaxDuration"],
            per["SportDuration"], per["TVDuration"],
            len(devices[c]) if fidelity else len(set(devices[c]) - {None}),
            most, taste, bucket,
        )
    return out


SEEDS = [7, 42, 1234]


@pytest.mark.parametrize(
    "seed,fidelity",
    [pytest.param(s, True, id=str(s)) for s in SEEDS]
    + [pytest.param(s, False, id=f"{s}-corrected") for s in SEEDS],
)
def test_pipeline_matches_reference_simulation(spark, seed, fidelity):
    rows = _random_rows(seed, 400)
    flat = spark.createDataFrame(
        rows, "Contract string, Mac string, TotalDuration long, AppName string"
    )
    got = {
        r["Contract"]: (
            r["ChildDuration"], r["MovieDuration"], r["RelaxDuration"],
            r["SportDuration"], r["TVDuration"],
            r["TotalDevices"], r["most_watch"], r["Taste"], r["Active_day"],
        )
        for r in run_viewing_pipeline(flat, fidelity=fidelity).collect()
    }
    want = _reference_sim(rows, fidelity=fidelity)
    assert "ERR_ONLY" not in want and {"ZERO_ONLY", "NULL_DUR"} <= want.keys()
    assert got == want
