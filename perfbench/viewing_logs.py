"""Seeded viewing-log generator and its expected profile, computed in
pure Python.

The files follow the reference's Elasticsearch-export layout: one JSON
object per line with the payload under ``_source``, one file per day
named ``YYYYMMDD.json``. Besides seeded bulk rows, every run carries the
edge rows the profile has to get right:

- sentinel ``'0'`` contracts and rows without a ``Contract`` key;
- unknown AppNames and case variants (``KPlus`` counts as TV, ``kplus``
  does not);
- one malformed line per day;
- a contract with three devices over five rows, and duplicated rows;
- argmax ties, a single-category contract, an all-five-category
  contract and an all-zero contract;
- every ``Active_day`` bucket, including both bucket boundaries;
- a day with no ``CHILD`` rows at all.

The expected profile restates the reference semantics here instead of
importing them from the program: device count = log rows per contract
(the reference quirk), category sums over rows whose contract is neither
``'0'`` nor missing and whose AppName maps to a category, argmax in the
order Child > Movie > Relax > Sport > TV, Taste = the non-zero labels in
that order joined by ``-``, and Active_day from total seconds / 86400
against 10 and 20.
"""

from __future__ import annotations

import json
import os

import numpy as np

# AppName -> category label (case-sensitive, anything else is an error row)
APP_CATEGORY = {
    "CHANNEL": "TV", "DSHD": "TV", "KPLUS": "TV", "KPlus": "TV",
    "VOD": "Movie", "FIMS_RES": "Movie", "BHD_RES": "Movie", "VOD_RES": "Movie",
    "FIMS": "Movie", "BHD": "Movie", "DANET": "Movie",
    "RELAX": "Relax", "CHILD": "Child", "SPORT": "Sport",
}
JUNK_APPS = ["UNKNOWN_APP", "kplus", "Vod", "IPTV"]
LABEL_ORDER = ["Child", "Movie", "Relax", "Sport", "TV"]  # argmax tie order
DURATION_COLUMNS = {label: f"{label}Duration" for label in LABEL_ORDER}
PROFILE_COLUMNS = [
    "Contract", "TVDuration", "MovieDuration", "RelaxDuration",
    "ChildDuration", "SportDuration", "TotalDevices", "most_watch", "Taste",
    "Active_day",
]
DAY = 86400
MALFORMED = '{"_index":"history","_type":"vod","_source":{"Contract":"HNH'
FIRST_DAY = "202204"  # days are 20220401, 20220402, ...


def _edge_rows(day: int) -> list[tuple[str | None, str, int, str]]:
    """(Contract, Mac, TotalDuration, AppName) edge rows for one day;
    Contract None means the key is absent."""
    rows = [
        ("0", "SENTINEL00001", 300, "VOD"),
        (None, "NULLCONTRACT1", 300, "VOD"),
        ("EDGE_CASE", "CASE00000001", 100, "KPLUS"),
        ("EDGE_CASE", "CASE00000001", 50, "KPlus"),
        ("EDGE_CASE", "CASE00000001", 70, "kplus"),
        ("EDGE_UNKNOWN", "UNKNOWN00001", 500, "UNKNOWN_APP"),
        ("EDGE_SPORT", "SPORT0000001", 1200, "SPORT"),
        ("EDGE_TIE_MOVIE_TV", "TIE000000001", 500, "VOD"),
        ("EDGE_TIE_MOVIE_TV", "TIE000000001", 500, "CHANNEL"),
        ("EDGE_ZERO", "ZERO00000001", 0, "RELAX"),
        # a duplicated row, repeated verbatim
        ("EDGE_DUP", "DUP000000001", 42, "RELAX"),
        ("EDGE_DUP", "DUP000000001", 42, "RELAX"),
        ("EDGE_ALL5", "ALL500000001", 20 + day, "VOD"),
        ("EDGE_ALL5", "ALL500000001", 30 + day, "RELAX"),
        ("EDGE_ALL5", "ALL500000001", 40 + day, "SPORT"),
        ("EDGE_ALL5", "ALL500000001", 50 + day, "CHANNEL"),
    ]
    if day != 1:
        rows.append(("EDGE_ALL5", "ALL500000001", 10 + day, "CHILD"))
    if day == 0:
        rows += [
            ("EDGE_TIE_CHILD_SPORT", "TIE000000002", 1000, "CHILD"),
            ("EDGE_TIE_CHILD_SPORT", "TIE000000002", 1000, "SPORT"),
            ("EDGE_LOW", "LOW000000001", 9 * DAY, "DSHD"),
            ("EDGE_LOW_EDGE", "LOWEDGE00001", 10 * DAY - 1, "DSHD"),
            ("EDGE_MEDIUM_EDGE", "MEDEDGE00001", 10 * DAY, "FIMS"),
            ("EDGE_MEDIUM", "MEDIUM000001", 15 * DAY, "VOD_RES"),
            ("EDGE_HIGH_EDGE", "HIGHEDGE0001", 20 * DAY, "BHD"),
            ("EDGE_HIGH", "HIGH00000001", 25 * DAY, "SPORT"),
        ]
        # three devices over five rows
        rows += [
            ("EDGE_MULTI", f"MULTI0000{i % 3:03d}", 60 + i, "VOD") for i in range(5)
        ]
    return rows


def _line(contract: str | None, mac: str, duration: int, app: str, doc_id: str) -> str:
    src = {"Mac": mac, "TotalDuration": duration, "AppName": app}
    if contract is not None:
        src = {"Contract": contract, **src}
    return json.dumps(
        {"_index": "history", "_type": app.lower(), "_id": doc_id, "_score": 0,
         "_source": src},
        separators=(",", ":"),
    )


def day_names(days: int) -> list[str]:
    return [f"{FIRST_DAY}{d + 1:02d}" for d in range(days)]


def generate(out_dir: str, seed: int, rows: int, days: int) -> dict:
    """Write ``days`` day files with about ``rows`` lines in all into
    ``out_dir``. Returns ``{"files": [...], "lines": {day: n},
    "rows": total, "expected": profile}``; the profile maps each
    contract to its row as strings, the way the CSV sink writes it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_contracts = max(1, rows // 8)
    macs_per_contract = rng.integers(1, 4, n_contracts)
    apps = list(APP_CATEGORY) + JUNK_APPS
    weights = np.array([6, 2, 4, 1, 8, 1, 1, 1, 1, 1, 1, 3, 2, 3, 0.2, 0.2, 0.2, 0.2])

    acc: dict[str, dict] = {}
    files, lines_per_day, total = [], {}, 0
    per_day = max(1, rows // days)
    for d, day in enumerate(day_names(days)):
        w = weights.copy()
        if d == 1:
            w[apps.index("CHILD")] = 0.0  # a day without the CHILD category
        contract = rng.integers(0, n_contracts, per_day)
        mac = rng.integers(0, 3, per_day) % macs_per_contract[contract]
        app = rng.choice(len(apps), per_day, p=w / w.sum())
        dur = rng.integers(1, 7201, per_day)
        recs = [
            (f"HNH{c:07d}", f"{c:08X}{m:04X}", int(t), apps[a])
            for c, m, t, a in zip(contract.tolist(), mac.tolist(), dur.tolist(), app.tolist())
        ]
        recs += _edge_rows(d)
        order = rng.permutation(len(recs))
        path = os.path.join(out_dir, f"{day}.json")
        with open(path, "w") as fh:
            for i, j in enumerate(order.tolist()):
                if i == len(order) // 2:
                    fh.write(MALFORMED + "\n")
                fh.write(_line(*recs[j], f"{day}-{i}") + "\n")
        for rec in recs:
            _accumulate(acc, *rec)
        _accumulate(acc, None, None, None, None)  # the malformed line
        files.append(path)
        lines_per_day[day] = len(recs) + 1
        total += len(recs) + 1
    return {"files": files, "lines": lines_per_day, "rows": total,
            "expected": _profile(acc)}


def _accumulate(acc: dict, contract, mac, duration, app) -> None:
    entry = acc.setdefault(contract, {"rows": 0, "sums": {}})
    entry["rows"] += 1
    label = APP_CATEGORY.get(app)
    if contract is None or contract == "0" or label is None:
        return
    entry["sums"][label] = entry["sums"].get(label, 0) + duration


def _profile(acc: dict) -> dict[str, dict[str, str]]:
    out = {}
    for contract, entry in acc.items():
        sums = entry["sums"]
        if not sums:
            continue  # no valid row: the inner join drops the contract
        vals = {label: sums.get(label, 0) for label in LABEL_ORDER}
        top = max(vals.values())
        total = sum(vals.values())
        days = total / DAY
        row = {DURATION_COLUMNS[label]: str(v) for label, v in vals.items()}
        row.update(
            Contract=contract,
            TotalDevices=str(entry["rows"]),
            most_watch=next(label for label in LABEL_ORDER if vals[label] == top),
            Taste="-".join(label for label in LABEL_ORDER if vals[label] != 0),
            Active_day="Low" if days < 10 else "Medium" if days < 20 else "High",
        )
        out[contract] = row
    return out


def profile_mismatches(expected: dict, got: dict) -> list[str]:
    """Describe every difference between two {contract: row} profiles
    (rows as {column: string}); empty when they agree in every column."""
    problems = []
    for contract in sorted(expected.keys() - got.keys())[:3]:
        problems.append(f"missing contract {contract}")
    for contract in sorted(got.keys() - expected.keys())[:3]:
        problems.append(f"unexpected contract {contract}")
    for contract in sorted(expected.keys() & got.keys()):
        for col in PROFILE_COLUMNS:
            if expected[contract][col] != got[contract].get(col):
                problems.append(
                    f"{contract}.{col}: expected {expected[contract][col]!r}, "
                    f"got {got[contract].get(col)!r}"
                )
                if len(problems) >= 10:
                    return problems
    return problems
