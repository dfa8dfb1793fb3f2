import csv
import datetime as dt
import hashlib
import io
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import feedgen  # noqa: E402
import loopgen  # noqa: E402

FEEDS = ("rhino.csv", "census.csv", "fluview.json")


def digest(feeds):
    return {n: hashlib.sha256(feeds[n].encode()).hexdigest() for n in FEEDS}


def test_same_seed_gives_identical_bytes():
    assert digest(feedgen.generate(7)) == digest(feedgen.generate(7))


def test_other_seed_gives_other_bytes():
    a, b = digest(feedgen.generate(7)), digest(feedgen.generate(8))
    assert all(a[n] != b[n] for n in FEEDS)


def test_written_files_match_generated_bodies(tmp_path):
    expected = feedgen.write(3, str(tmp_path))
    feeds = feedgen.generate(3)
    for n in FEEDS:
        assert (tmp_path / n).read_bytes() == feeds[n].encode()
    assert expected == feeds["expected"]


def test_mmwr_weeks():
    # week 1 holds January 4th; weeks run Sunday to Saturday
    assert feedgen.mmwr_week(dt.date(2024, 1, 4)) == (2024, 1)
    assert feedgen.mmwr_week(dt.date(2023, 12, 31)) == (2024, 1)
    assert feedgen.mmwr_week(dt.date(2021, 1, 2)) == (2020, 53)
    assert feedgen.mmwr_week(dt.date(2026, 1, 3)) == (2025, 53)
    assert feedgen.mmwr_week(dt.date(2022, 10, 2)) == (2022, 40)


def rhino_rows(feeds):
    return list(csv.DictReader(io.StringIO(feeds["rhino.csv"])))


def test_rhino_weeks_are_mmwr_consistent_and_ids_unique():
    rows = rhino_rows(feedgen.generate(1))
    weeks = {(r["Week Start"], r["Week End"], r["Week"]) for r in rows}
    for start, end, week in weeks:
        s, e = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
        assert s.weekday() == 6 and (e - s).days == 6
        assert feedgen.mmwr_week(s)[1] == int(week)
    ids = [feedgen.epiweek_id(dt.date.fromisoformat(e), int(w)) for _, e, w in weeks]
    assert len(set(ids)) == len(ids)


def test_rhino_carries_the_fixture_quirks():
    rows = rhino_rows(feedgen.generate(1))
    locs = {r["Location"] for r in rows}
    assert {"Statewide", "Unassigned ACH Region"} <= locs
    pct = [r["1-Week Percent "] for r in rows]
    assert "" in pct and " " in pct
    per_key = {}
    for r in rows:
        k = (r["Week End"], r["Location"], r["Respiratory Illness Category"], r["Care Type"])
        per_key[k] = per_key.get(k, 0) + 1
    assert max(per_key.values()) > 1
    spokane = [a for a, cs in feedgen.ACH_TO_COUNTIES if "Spokane" in cs]
    assert len(spokane) == 2 and set(spokane) <= locs
    # a January week-end that carries the old year's week number
    assert any(r["Week End"][5:7] == "01" and int(r["Week"]) >= 52 for r in rows)


def test_fluview_covers_part_of_the_weeks():
    feeds = feedgen.generate(1)
    doc = json.loads(feeds["fluview.json"])
    assert doc["result"] == 1
    weeks = {r["epiweek"] for r in doc["epidata"]}
    rhino_ids = {feedgen.epiweek_id(e, w) for _, e, _, w in feedgen.week_span(180)}
    assert 0 < len(weeks & rhino_ids) < len(rhino_ids)
    assert min(weeks) // 100 < 2022


def test_expected_counts_follow_the_emitted_keys():
    feeds = feedgen.generate(1, weeks=180)
    exp = feeds["expected"]
    assert exp["county_region"] == exp["healthcare"] == 39
    assert exp["temporal"] == 180
    assert exp["illness"] == 180 * 29 * 3 * 2
    years = {r["epiweek"] // 100 for r in json.loads(feeds["fluview.json"])["epidata"]}
    assert exp["historics"] == len(years)


def test_spans_that_collide_or_lack_the_quirk_are_refused():
    with pytest.raises(ValueError):
        feedgen.generate(1, weeks=100)
    with pytest.raises(ValueError):
        feedgen.generate(1, weeks=330)


def test_loop_tables_are_seeded():
    a, b, c = loopgen.tables(5, 0.001), loopgen.tables(5, 0.001), loopgen.tables(6, 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["orders"].num_rows == 1500 and a["lineitem"].num_rows == 6000
    assert set(a) == {"orders", "lineitem", "customer", "supplier", "part",
                      "nation", "region", "events", "documents", "embeddings"}
