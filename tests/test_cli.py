"""CLI surface (python -m content_analytics_etl_spark ...): the
reference-script replacement must run end-to-end in-process."""

from __future__ import annotations

import csv
import glob
import re

import pytest
from test_pipeline import _src
from test_pipeline_fuzz import _reference_sim

from content_analytics_etl_spark.__main__ import main

DAY = 86400
MALFORMED = "this is not json"

# (Contract, Mac, TotalDuration, AppName) per YYYYMMDD day file, with the
# FIXTURES.md §1 edge rows; Contract None means the key is absent. The
# CLI runs over 20220402..20220403, so the first day must not count.
DAYS = {
    "20220401": [
        ("ONLY_DAY1", "AA", 500, "VOD"),
        ("SHARED", "AA", 1000, "SPORT"),
    ],
    "20220402": [
        ("0", "AA", 10, "VOD"),  # sentinel
        (None, "AA", 10, "VOD"),  # NULL contract
        ("HNH1", "AA", 10, "UNKNOWN_APP"),  # Error row, still a device row
        ("HNH1", "AA", 100, "KPLUS"),
        ("HNH1", "BB", 50, "KPlus"),
        ("HNH1", "BB", 7, "kplus"),  # wrong case → Error
        *[("MULTI", f"M{i % 3}", 60 + i, "VOD") for i in range(5)],  # 3 Macs, 5 rows
        ("DUP", "D1", 42, "RELAX"),
        ("DUP", "D1", 42, "RELAX"),
        ("SPORT_ONLY", "S1", 1200, "SPORT"),
        ("ALL5", "A5", 20, "VOD"),
        ("ALL5", "A5", 30, "RELAX"),
        ("ALL5", "A5", 40, "SPORT"),
        ("ALL5", "A5", 50, "CHANNEL"),
        ("ALL5", "A5", 10, "CHILD"),
        ("TIE", "T1", 200, "CHILD"),  # Child = Movie → Child
        ("TIE", "T1", 200, "VOD"),
        ("TIE", "T1", 30, "SPORT"),
        ("LOW_EDGE", "L1", 10 * DAY - 1, "DSHD"),
        ("MEDIUM_EDGE", "M1", 10 * DAY, "FIMS"),
        ("HIGH_EDGE", "H1", 20 * DAY, "BHD"),
        ("ERROR_ONLY", "E1", 300, "UNKNOWN_APP"),  # dropped
        ("ZERO", "Z1", 0, "RELAX"),  # kept
        ("SHARED", "AA", 100, "VOD"),
    ],
    "20220403": [  # no CHILD rows in this file
        ("SHARED", "BB", 300, "CHANNEL"),
        ("HNH1", "CC", 5, "VOD"),
        ("MULTI", "M0", 1, "DANET"),
    ],
}
IN_RANGE = ["--start", "20220402", "--end", "20220403"]
COLUMNS = [
    "Contract", "TVDuration", "MovieDuration", "RelaxDuration", "ChildDuration",
    "SportDuration", "TotalDevices", "most_watch", "Taste", "Active_day",
]


def _write_drops(d) -> str:
    d.mkdir()
    for day, rows in DAYS.items():
        lines = [_src(*r) for r in rows]
        lines.insert(len(lines) // 2, MALFORMED)
        (d / f"{day}.json").write_text("\n".join(lines) + "\n")
    return str(d)


def _etl(drops: str, out: str, capsys) -> int:
    assert main(["etl", "--input", drops, "--output", out, *IN_RANGE]) == 0
    m = re.search(r"wrote (\d+) contract profiles", capsys.readouterr().out)
    return int(m.group(1))


def _profiles(out: str) -> dict[str, tuple]:
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1  # coalesce(1): single CSV, no shuffle
    with open(files[0], newline="") as fh:
        reader = csv.DictReader(fh)
        assert reader.fieldnames == COLUMNS
        return {
            r["Contract"]: tuple(
                r[c] for c in (
                    "ChildDuration", "MovieDuration", "RelaxDuration", "SportDuration",
                    "TVDuration", "TotalDevices", "most_watch", "Taste", "Active_day",
                )
            )
            for r in reader
        }


def _want_in_range() -> dict[str, tuple]:
    in_range = [r for day in ("20220402", "20220403") for r in DAYS[day]]
    return {c: tuple(str(v) for v in row) for c, row in _reference_sim(in_range).items()}


def test_cli_etl_matches_reference_simulation(spark, tmp_path, capsys):
    out = str(tmp_path / "profiles")
    wrote = _etl(_write_drops(tmp_path / "drops"), out, capsys)
    got = _profiles(out)
    want = _want_in_range()
    assert "ONLY_DAY1" not in want and "ERROR_ONLY" not in want and "ZERO" in want
    assert got == want
    assert wrote == len(got)


def test_cli_etl_date_range_skips_undated_drops(spark, tmp_path, capsys):
    # a top-level drop whose name carries no YYYYMMDD date gets a NULL
    # log_date, so a date range leaves it out instead of failing the job
    drops = tmp_path / "drops"
    _write_drops(drops)
    (drops / "notes.json").write_text(_src("UNDATED", "U1", 100, "VOD") + "\n")
    out = str(tmp_path / "profiles")
    wrote = _etl(str(drops), out, capsys)
    got = _profiles(out)
    assert "UNDATED" not in got
    assert got == _want_in_range()
    assert wrote == len(got)


def test_cli_etl_reads_only_top_level_drops(spark, tmp_path, capsys):
    # an archive of processed drops and a key=value folder under the drop
    # directory are neither read nor taken for partition columns
    drops = tmp_path / "drops"
    _write_drops(drops)
    for sub in ("archive", "date=20220402"):
        (drops / sub).mkdir()
        (drops / sub / "20220402.json").write_text(_src("SUBDIR", "SD", 100, "VOD") + "\n")
    out = tmp_path / "profiles"
    wrote = _etl(str(drops), str(out), capsys)
    assert wrote == len(_want_in_range())
    (csv_file,) = glob.glob(f"{out}/part-*.csv")
    assert "SUBDIR" not in open(csv_file).read()


def test_cli_etl_leaves_nothing_cached(spark, tmp_path, capsys):
    # each call reads a new drop directory, as each day's job does; a
    # cached input of an earlier call would not be reused, only kept
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for i in range(2):
        drops = _write_drops(tmp_path / f"drops{i}")
        _etl(drops, str(tmp_path / f"profiles{i}"), capsys)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_cli_query_runs(spark, capsys):
    assert main(["query", "events_value_histogram", "-n", "3"]) == 0
    assert "bin" in capsys.readouterr().out


def test_cli_query_unknown_name(spark, capsys):
    assert main(["query", "nope"]) == 2
    assert "available" in capsys.readouterr().out
