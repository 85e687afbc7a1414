"""Seeded generator of the wide F1 CSV that `F1Pipeline.buildAll` consumes.

The file follows `F1Schema.wide` column for column. Each row is one lap of
one (race, driver) entry, as in the reference's denormalised Ergast join, so
every star table sees repeated keys. On top of that the generator plants, at
the shares in `PLANTED`:

- conflicting duplicates: later rows of a driver, team or circuit carry a
  different name, so only a keep-first dedup returns the first row's value;
- unparseable or `\\N` dates of birth, which drop the driver;
- sprint dates that are `\\N`, quoted, or malformed (malformed ones drop the
  sprint row);
- `\\N` sentinels in payload columns (free-practice slots, race times).

`generate` returns, next to the CSV text, what a correct ETL must produce
from it: the row count of each of the 16 tables and the winners and drops
the checks in `check_star` compare against.
"""
import datetime
import random
import re

COLUMNS = [
    "date",
    "circuitId", "circuitRef", "name_x", "location", "country", "lat", "lng",
    "url_x",
    "statusId", "status",
    "driverId", "forename", "surname", "dob", "nationality", "url", "number",
    "constructorRef", "driverRef", "code",
    "constructorId", "name", "nationality_constructors", "url_constructors",
    "raceId", "round",
    "fp1_date", "fp1_time", "fp2_date", "fp2_time", "fp3_date", "fp3_time",
    "stop", "lap_pitstops", "time_pitstops", "duration",
    "milliseconds_pitstops",
    "quali_date", "quali_time", "position",
    "driverStandingsId", "points_driverstandings", "position_driverstandings",
    "wins",
    "sprint_date", "sprint_time",
    "constructorStandingsId", "points_constructorstandings",
    "position_constructorstandings", "wins_constructorstandings",
    "time", "time_races",
    "resultId", "positionOrder", "points", "laps", "grid", "rank",
    "fastestLap", "fastestLapTime", "fastestLapSpeed",
    "lap", "time_laptimes", "position_laptimes", "milliseconds_laptimes",
]

NULL = "\\N"

# 100 races of 20 entries of 10 laps: 20,000 rows, about 10 MB. Key pools
# are the reference dataset's counts (about 1,100 races, 850 drivers, 210
# constructors and 77 circuits) scaled by races / 1,100, with floors in
# `generate` that bind only below 58 races.
SHAPE = {"races": 100, "entries_per_race": 20, "laps_per_entry": 10}

PLANTED = {
    "driver_name_conflict": 0.10,  # later rows rename the driver
    "team_name_conflict": 0.10,
    "circuit_name_conflict": 0.10,
    "dob_malformed": 0.04,         # every row of the driver: dropped
    "dob_null": 0.02,
    "sprint": 0.30,                # races that have a sprint at all
    "sprint_quoted": 0.30,         # of those: quoted, still parses
    "sprint_malformed": 0.20,      # of those: dropped from Sprint
    "fp_null": 0.25,               # races without any free-practice data
    "race_time_null": 0.15,        # entries without a classified time
}

NATIONALITIES = ["British", "German", "French", "Italian", "Brazilian",
                 "Finnish", "Spanish", "Dutch", "Australian", "Japanese"]
STATUSES = ["Finished", "Disqualified", "Accident", "Collision", "Engine",
            "Gearbox", "Transmission", "Clutch", "Hydraulics", "Electrical",
            "+1 Lap", "+2 Laps", "+3 Laps", "Spun off", "Radiator",
            "Suspension", "Brakes", "Differential", "Overheating",
            "Mechanical"]
DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _parses(d):
    """Mirror of `Scalars.parseDate` (to_date 'yyyy-MM-dd', NULL on junk)."""
    if d is None or not DATE_RE.match(d):
        return False
    try:
        datetime.date.fromisoformat(d)
        return True
    except ValueError:
        return False


def _day(rng, lo_year, hi_year):
    start = datetime.date(lo_year, 1, 1).toordinal()
    end = datetime.date(hi_year, 12, 28).toordinal()
    return datetime.date.fromordinal(rng.randint(start, end)).isoformat()


def _hms(rng, lo_h, hi_h):
    return f"{rng.randint(lo_h, hi_h):02d}:{rng.choice((0, 10, 30)):02d}:00"


def _lap_time(rng):
    ms = rng.randint(65_000, 110_000)
    return f"{ms // 60000}:{ms // 1000 % 60:02d}.{ms % 1000:03d}", ms


def generate(seed, races=None):
    """Return (csv_text, expected) for one seed; same seed, same bytes."""
    rng = random.Random(seed)
    n_races = races or SHAPE["races"]
    n_circuits = max(4, n_races * 77 // 1100)
    n_drivers = max(30, n_races * 850 // 1100)
    n_teams = max(10, n_races * 210 // 1100)

    circuits = {}
    for c in range(1, n_circuits + 1):
        circuits[c] = {
            "circuitRef": f"circuit_{c}", "name_x": f"Circuit {c}",
            "location": f"Town {c}", "country": rng.choice(NATIONALITIES),
            "lat": f"{rng.uniform(-60, 60):.4f}",
            "lng": f"{rng.uniform(-170, 170):.4f}",
            "url_x": f"http://en.wikipedia.org/wiki/Circuit_{c}",
            "conflict": rng.random() < PLANTED["circuit_name_conflict"]}
    drivers = {}
    for d in range(1, n_drivers + 1):
        u = rng.random()
        if u < PLANTED["dob_malformed"]:
            dob = rng.choice(("unknown", "1971/04/02", "31-12-1969"))
        elif u < PLANTED["dob_malformed"] + PLANTED["dob_null"]:
            dob = NULL
        else:
            dob = _day(rng, 1950, 2004)
        drivers[d] = {
            "forename": f"Fore{d}", "surname": f"Sur{d}", "dob": dob,
            "nationality": rng.choice(NATIONALITIES),
            "url": f"http://en.wikipedia.org/wiki/Driver_{d}",
            "number": str(rng.randint(1, 99)) if rng.random() < 0.5 else NULL,
            "driverRef": f"driver_{d}",
            "code": f"D{d % 1000:02d}" if rng.random() < 0.6 else NULL,
            "conflict": rng.random() < PLANTED["driver_name_conflict"]}
    teams = {}
    for t in range(1, n_teams + 1):
        teams[t] = {
            "constructorRef": f"team_{t}", "name": f"Team {t}",
            "nationality_constructors": rng.choice(NATIONALITIES),
            "url_constructors": f"http://en.wikipedia.org/wiki/Team_{t}",
            "conflict": rng.random() < PLANTED["team_name_conflict"]}

    seen = {"driver": set(), "team": set(), "circuit": set()}

    def named(kind, key, value, conflict):
        # The first row of a key keeps the true name; later rows of a
        # conflicting key carry a renamed copy that keep-first must drop.
        if key in seen[kind]:
            return value + " (renamed)" if conflict else value
        seen[kind].add(key)
        return value

    lines = [",".join(COLUMNS)]
    result_id = 0
    ds_id = 0
    cs_ids = {}
    for r in range(1, n_races + 1):
        year = 1990 + (r - 1) * 34 // n_races
        date = _day(rng, year, year)
        circuit = rng.randint(1, n_circuits)
        fp = [NULL] * 6
        if rng.random() >= PLANTED["fp_null"]:
            fp = [date if i % 2 == 0 else _hms(rng, 9, 15) for i in range(6)]
        sprint_date, sprint_time = NULL, NULL
        if rng.random() < PLANTED["sprint"]:
            u = rng.random()
            sprint_time = _hms(rng, 12, 16)
            if u < PLANTED["sprint_malformed"]:
                sprint_date = "TBD"
            elif u < PLANTED["sprint_malformed"] + PLANTED["sprint_quoted"]:
                sprint_date, sprint_time = f"'{date}'", f"'{sprint_time}'"
            else:
                sprint_date = date
        time_races = _hms(rng, 12, 16) if rng.random() < 0.7 else NULL
        grid = rng.sample(range(1, n_drivers + 1), SHAPE["entries_per_race"])
        winner_ms = rng.randint(5_000_000, 6_500_000)
        for pos, d in enumerate(grid, start=1):
            result_id += 1
            ds_id += 1
            drv = drivers[d]
            team = 1 + (d * 7 + r) % n_teams
            cs_key = (r, team)
            if cs_key not in cs_ids:
                cs_ids[cs_key] = len(cs_ids) + 1
            if pos == 1:
                ms = winner_ms
                race_time = (f"{ms // 3_600_000}:{ms // 60000 % 60:02d}:"
                             f"{ms // 1000 % 60:02d}.{ms % 1000:03d}")
            elif rng.random() < PLANTED["race_time_null"]:
                race_time = NULL
            else:
                gap = rng.randint(1_000, 95_000)
                race_time = (f"+{gap // 1000}.{gap % 1000:03d}" if gap < 60_000
                             else f"+{gap // 60000}:{gap // 1000 % 60:02d}."
                                  f"{gap % 1000:03d}")
            fastest, fastest_ms = _lap_time(rng)
            n_stops = rng.randint(1, 3)
            status = rng.randint(1, len(STATUSES))
            entry = {
                "date": date, "circuitId": str(circuit),
                "statusId": str(status), "status": STATUSES[status - 1],
                "driverId": str(d), "surname": drv["surname"],
                "dob": drv["dob"], "nationality": drv["nationality"],
                "url": drv["url"], "number": drv["number"],
                "constructorRef": teams[team]["constructorRef"],
                "driverRef": drv["driverRef"], "code": drv["code"],
                "constructorId": str(team),
                "nationality_constructors":
                    teams[team]["nationality_constructors"],
                "url_constructors": teams[team]["url_constructors"],
                "raceId": str(r), "round": str(1 + (r - 1) % 20),
                "fp1_date": fp[0], "fp1_time": fp[1], "fp2_date": fp[2],
                "fp2_time": fp[3], "fp3_date": fp[4], "fp3_time": fp[5],
                "quali_date": date, "quali_time": _hms(rng, 13, 15),
                "position": str(pos) if rng.random() < 0.9 else NULL,
                "driverStandingsId": str(ds_id),
                "points_driverstandings": f"{rng.randint(0, 400)}.0",
                "position_driverstandings": str(pos),
                "wins": "1" if pos == 1 else "0",
                "sprint_date": sprint_date, "sprint_time": sprint_time,
                "constructorStandingsId": str(cs_ids[cs_key]),
                "points_constructorstandings": f"{rng.randint(0, 600)}.0",
                "position_constructorstandings": str(1 + team % 10),
                "wins_constructorstandings": str(rng.randint(0, 5)),
                "time": race_time, "time_races": time_races,
                "resultId": str(result_id), "positionOrder": str(pos),
                "points": f"{max(0, 26 - pos * 2)}.0",
                "laps": str(SHAPE["laps_per_entry"]), "grid": str(pos),
                "rank": str(rng.randint(1, 20)),
                "fastestLap": str(rng.randint(1, SHAPE["laps_per_entry"])),
                "fastestLapTime": fastest,
                "fastestLapSpeed": f"{180 + fastest_ms % 5000 / 100:.3f}",
            }
            for lap in range(1, SHAPE["laps_per_entry"] + 1):
                stop = 1 + (lap - 1) * n_stops // SHAPE["laps_per_entry"]
                lap_time, lap_ms = _lap_time(rng)
                pit_ms = rng.randint(19_000, 35_000)
                row = dict(entry)
                row.update({
                    "circuitRef": circuits[circuit]["circuitRef"],
                    "name_x": named("circuit", circuit,
                                    circuits[circuit]["name_x"],
                                    circuits[circuit]["conflict"]),
                    "location": circuits[circuit]["location"],
                    "country": circuits[circuit]["country"],
                    "lat": circuits[circuit]["lat"],
                    "lng": circuits[circuit]["lng"],
                    "url_x": circuits[circuit]["url_x"],
                    "forename": named("driver", d, drv["forename"],
                                      drv["conflict"]),
                    "name": named("team", team, teams[team]["name"],
                                  teams[team]["conflict"]),
                    "stop": str(stop), "lap_pitstops": str(lap),
                    "time_pitstops": _hms(rng, 13, 16),
                    "duration": f"{pit_ms / 1000:.3f}",
                    "milliseconds_pitstops": str(pit_ms),
                    "lap": str(lap), "time_laptimes": lap_time,
                    "position_laptimes": str(pos),
                    "milliseconds_laptimes": str(lap_ms),
                })
                lines.append(",".join(row[c] for c in COLUMNS))
    text = "\n".join(lines) + "\n"
    return text, expected(lines[1:])


def expected(rows):
    """What a correct ETL builds from `rows` (CSV lines in file order)."""
    idx = {c: i for i, c in enumerate(COLUMNS)}
    parsed = [r.split(",") for r in rows]

    def first(keys):
        out = {}
        for f in parsed:
            k = tuple(f[idx[c]] for c in keys)
            if k not in out:
                out[k] = f
        return out

    def val(f, c):
        v = f[idx[c]]
        return None if v == NULL else v

    def strip(v):
        return None if v is None else v.replace("'", "").replace('"', "")

    drivers = first(["driverId"])
    kept_drivers = sorted(int(k[0]) for k, f in drivers.items()
                          if _parses(val(f, "dob")))
    races = first(["raceId"])
    sprint_ids = sorted(int(k[0]) for k, f in races.items()
                        if _parses(strip(val(f, "sprint_date"))))
    fp_cols = ["fp1_date", "fp1_time", "fp2_date", "fp2_time", "fp3_date",
               "fp3_time"]
    lap_keys = sorted((int(r), int(d), int(l))
                      for r, d, l in first(["raceId", "driverId", "lap"]))
    counts = {
        "CircuitLocation": 0,
        "DateDimension": len({val(f, "date") for f in parsed
                              if _parses(val(f, "date"))}),
        "LocationDimension": len(first(["circuitId"])),
        "StatusDimension": len(first(["statusId"])),
        "Driver": len(kept_drivers),
        "Team": len(first(["constructorId"])),
        "Race": len(races),
        "TimeDimension": sum(1 for f in races.values()
                             if val(f, "time") or val(f, "time_races")),
        "Sprint": len(sprint_ids),
        "FreePractice": sum(1 for f in races.values()
                            if any(val(f, c) for c in fp_cols)),
        "Qualification": len(first(["driverId", "raceId"])),
        "Laps": min(1000, len(lap_keys)),
        "PitStop": len(first(["raceId", "driverId", "stop"])),
        "Results": len(first(["resultId"])),
        "DriverStandings": len(first(["driverStandingsId"])),
        "TeamStandings": len(first(["constructorStandingsId"])),
    }
    return {
        "counts": counts,
        "driver_ids": kept_drivers,
        "driver_forename": {int(k[0]): val(f, "forename")
                            for k, f in drivers.items()},
        "team_name": {int(k[0]): val(f, "name")
                      for k, f in first(["constructorId"]).items()},
        "circuit_name": {int(k[0]): val(f, "name_x")
                         for k, f in first(["circuitId"]).items()},
        "sprint_ids": sprint_ids,
        "laps_last_key": list(lap_keys[min(1000, len(lap_keys)) - 1]),
        "planted": {
            "rows": len(parsed),
            "renamed_rows": sum(1 for r in rows if "(renamed)" in r),
            "drivers_dropped_for_dob": len(drivers) - len(kept_drivers),
            "sprints_dropped": sum(
                1 for f in races.values()
                if val(f, "sprint_date") and
                not _parses(strip(val(f, "sprint_date")))),
        },
    }
