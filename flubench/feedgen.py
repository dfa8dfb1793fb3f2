"""Seeded generator for the three raw flu feeds (RHINO CSV, census CSV,
FluView epidata JSON).

The same (seed, weeks, max_demographics) always gives byte-identical
feed bodies. Week numbers are MMWR weeks (Sunday-to-Saturday, week 1 is
the week holding January 4), so the pipeline's epiweek_id
(year of the Week End string + Week) repeats the reference's
year-boundary quirk without colliding: the default span starts at
MMWR 2022 week 40, holds its first quirk week at 170 weeks and stays
collision-free up to 325 weeks.

Quirks the feeds carry on purpose:
  - Statewide and "Unassigned ACH Region" rows (filtered by the build),
  - blank and whitespace-only percents (cleaned to null),
  - several demographic rows per (week, location, illness, care) key,
    so the keep-first dedup has something to drop,
  - Spokane inside two ACHs, so two exploded rows share an illness key,
  - January week-ends that carry the old year's week number,
  - FluView covering only part of the weeks, plus earlier years.

`generate(...)["expected"]` gives the row count each of the five star-schema
tables must have, from the keys the generator emitted.
"""
import datetime as dt
import json
import random

# ACH -> member counties, as the reference pipeline maps them.
ACH_TO_COUNTIES = [
    ("Better Health Together", ["Spokane", "Stevens", "Pend Oreille", "Ferry"]),
    ("Cascade Pacific Action Alliance",
     ["Thurston", "Mason", "Grays Harbor", "Pacific", "Lewis"]),
    ("Elevate Health", ["Yakima", "Kittitas"]),
    ("Greater Health Now", ["Spokane"]),
    ("Healthier Here", ["King"]),
    ("North Sound", ["Whatcom", "Skagit", "Snohomish", "San Juan", "Island"]),
    ("Olympic Community of Health", ["Clallam", "Jefferson", "Kitsap"]),
    ("Southwest Washington",
     ["Clark", "Skamania", "Klickitat", "Cowlitz", "Wahkiakum"]),
    ("Thriving Together NCW", ["Chelan", "Douglas", "Grant", "Okanogan"]),
]

WA_COUNTIES = [
    "Adams", "Asotin", "Benton", "Chelan", "Clallam", "Clark", "Columbia",
    "Cowlitz", "Douglas", "Ferry", "Franklin", "Garfield", "Grant",
    "Grays Harbor", "Island", "Jefferson", "King", "Kitsap", "Kittitas",
    "Klickitat", "Lewis", "Lincoln", "Mason", "Okanogan", "Pacific",
    "Pend Oreille", "Pierce", "San Juan", "Skagit", "Skamania", "Snohomish",
    "Spokane", "Stevens", "Thurston", "Wahkiakum", "Walla Walla", "Whatcom",
    "Whitman", "Yakima"]

FILTERED_LOCATIONS = ["Statewide", "Unassigned ACH Region"]
ILLNESSES = ["COVID-19", "Flu", "RSV"]
CARE_TYPES = ["Emergency Visits", "Hospitalizations"]
DEMOGRAPHICS = ["Overall", "Age 0-4", "Age 5-17", "Age 18-49", "Age 50-64",
                "Age 65+"]

RHINO_HEADER = ["Location", "Week Start", "Week End", "Week", "Season",
                "Respiratory Illness Category", "Care Type",
                "Demographic Category", "1-Week Percent "]

START_YEAR = 2022   # first season starts at MMWR START_YEAR week 40
FLUVIEW_FIRST_YEAR = START_YEAR - 2


def mmwr_week1_start(year):
    """Sunday that starts MMWR week 1 of `year` (the week holding Jan 4)."""
    jan4 = dt.date(year, 1, 4)
    return jan4 - dt.timedelta(days=(jan4.weekday() + 1) % 7)


def mmwr_week(day):
    """(MMWR year, MMWR week) of a date."""
    for year in (day.year + 1, day.year, day.year - 1):
        start = mmwr_week1_start(year)
        if start <= day:
            return year, (day - start).days // 7 + 1
    raise AssertionError(day)


def week_span(weeks):
    """The RHINO weeks: list of (week_start, week_end, mmwr_year, week)."""
    first = mmwr_week1_start(START_YEAR) + dt.timedelta(weeks=39)
    out = []
    for i in range(weeks):
        start = first + dt.timedelta(weeks=i)
        year, week = mmwr_week(start)
        out.append((start, start + dt.timedelta(days=6), year, week))
    return out


def epiweek_id(week_end, week):
    """The pipeline's id: year of the Week End string, then the raw Week."""
    return int(f"{week_end.year}{week:02d}")


def season(mmwr_year, week):
    first = mmwr_year if week >= 40 else mmwr_year - 1
    return f"{first}-{first + 1}"


def _pct(rng):
    """A percent cell: mostly one-decimal numbers, some blank."""
    r = rng.random()
    if r < 0.02:
        return ""
    if r < 0.03:
        return " "
    return f"{rng.uniform(0.0, 14.0):.1f}"


def generate(seed, weeks=180, max_demographics=4):
    """Return {"rhino.csv", "census.csv", "fluview.json"} -> body (str),
    plus the expected star-schema row counts under "expected"."""
    span = week_span(weeks)
    ids = [epiweek_id(end, wk) for _, end, _, wk in span]
    if len(set(ids)) != len(ids):
        raise ValueError(f"{weeks} weeks from {START_YEAR} collide on epiweek_id")
    if not any(end.month == 1 and end.year != yr for _, end, yr, _ in span):
        raise ValueError("span holds no January week-end with an old-year week")
    rng = random.Random(seed)

    # RHINO: per week, the ACH and filtered locations in a seeded order, so
    # which of Spokane's two ACHs arrives first changes week to week.
    locations = [a for a, _ in ACH_TO_COUNTIES] + FILTERED_LOCATIONS
    lines = [",".join(RHINO_HEADER)]
    for start, end, year, week in span:
        order = locations[:]
        rng.shuffle(order)
        for loc in order:
            for ill in ILLNESSES:
                for care in CARE_TYPES:
                    demos = ["Overall"] + rng.sample(
                        DEMOGRAPHICS[1:], rng.randint(0, max_demographics - 1))
                    if rng.random() < 0.5:
                        rng.shuffle(demos)
                    for demo in demos:
                        lines.append(",".join([
                            loc, start.isoformat(), end.isoformat(), str(week),
                            season(year, week), ill, care, demo, _pct(rng)]))
    rhino = "\n".join(lines) + "\n"

    # Census: the 39 counties with extra columns the build must ignore;
    # two seeded counties have no density.
    blank = set(rng.sample(WA_COUNTIES, 2))
    census_lines = ["FIPS,County Name,Land Area,Population Density 2020"]
    for i, county in enumerate(WA_COUNTIES):
        density = "" if county in blank else f"{rng.uniform(2.0, 1100.0):.2f}"
        census_lines.append(
            f"{53001 + 2 * i},{county},{rng.uniform(170, 5300):.1f},{density}")
    census = "\n".join(census_lines) + "\n"

    # FluView: true MMWR epiweeks from two years before the RHINO span up
    # to its last season; a seeded ~30% of the weeks are missing.
    last_year = span[-1][2]
    records = []
    day = mmwr_week1_start(FLUVIEW_FIRST_YEAR)
    while True:
        year, week = mmwr_week(day)
        if year > last_year:
            break
        if rng.random() >= 0.3:
            records.append({"region": "wa", "epiweek": year * 100 + week,
                            "wili": round(rng.uniform(0.4, 7.5), 5),
                            "num_ili": rng.randint(10, 900),
                            "num_patients": rng.randint(5000, 40000)})
        day += dt.timedelta(weeks=1)
    fluview = json.dumps({"result": 1, "message": "success",
                          "epidata": records}, indent=None) + "\n"

    counties = {c for _, cs in ACH_TO_COUNTIES for c in cs}
    expected = {
        "county_region": len(WA_COUNTIES),
        "temporal": len(set(ids)),
        "illness": len(set(ids)) * len(counties) * len(ILLNESSES) * len(CARE_TYPES),
        "healthcare": len(WA_COUNTIES),
        "historics": len({r["epiweek"] // 100 for r in records}),
    }
    return {"rhino.csv": rhino, "census.csv": census, "fluview.json": fluview,
            "expected": expected}


def write(seed, out_dir, **kw):
    """Write the three feeds into out_dir; return the expected counts."""
    import os
    feeds = generate(seed, **kw)
    os.makedirs(out_dir, exist_ok=True)
    for name in ("rhino.csv", "census.csv", "fluview.json"):
        with open(os.path.join(out_dir, name), "w", encoding="utf-8",
                  newline="") as f:
            f.write(feeds[name])
    return feeds["expected"]
