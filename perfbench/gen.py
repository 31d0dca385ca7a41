"""Seeded generator of TfL-shaped raw inputs for the star-schema workloads.

Writes, under an output directory:

- ``stations.csv``: the stations dimension source (dotted ``Station.Id``
  header, ~800 rows, quoted names with commas);
- ``weather.json``: one nested weather document whose ``days`` cover every
  journey date (with the ``severerisk`` drift column);
- ``<zone>/<logical_date>/journey.csv``: one folder per delivery (a
  delivery covers one week, or several for a bulk backfill), with the
  reference's quirks: spaced header names, ``dd/MM/yyyy HH:mm``
  timestamps, late stations absent from ``stations.csv``, NULL end
  stations, and rental ids re-delivered in the following delivery with the
  same start date (and a corrected bike id);
- ``manifest.json``: what the checks need (distinct rental ids, CSV bytes,
  the final bike id of every re-delivered rental).

The same seed always gives byte-identical files.
"""
import datetime as dt
import json
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np

HEADER = ("Rental Id,Duration,Bike Id,End Date,EndStation Id,EndStation Name,"
          "Start Date,StartStation Id,StartStation Name\n")
FIRST_MONDAY = dt.date(2021, 1, 4)
N_STATIONS = 800
LATE_IDS = list(range(900, 920))
STREETS = ["River Street", "Phillimore Gardens", "Christopher Street",
           "St. Chad's Street", "Sedding Street", "Broadcasting House",
           "Charlbert Street", "Maida Vale", "New Globe Walk", "Park Street",
           "Brunswick Square", "Hop Exchange", "Waterloo Road", "Belgrove Street"]
AREAS = ["Clerkenwell", "Kensington", "Liverpool Street", "King's Cross",
         "Sloane Square", "Marylebone", "St. John's Wood", "Bankside",
         "Bloomsbury", "The Borough", "Mayfair", "Southwark"]
# commute-shaped share of rides per hour of day
HOUR_WEIGHTS = np.array([1, 1, 1, 1, 1, 2, 4, 9, 14, 8, 5, 5, 6, 6, 5, 6, 8,
                         14, 12, 7, 5, 4, 3, 2], dtype=float)
REDELIVER_SHARE = 0.01
NULL_END_SHARE = 0.005
LATE_SHARE = 0.015
# processes that format and write the CSVs
WRITERS = 3


def _station_name(rng_idx, sid):
    return f"{STREETS[rng_idx % len(STREETS)]} {sid}, {AREAS[(rng_idx // 7) % len(AREAS)]}"


def _csv_name(name):
    return '"' + name.replace('"', '""') + '"'


def _fmt(minutes):
    """``dd/MM/yyyy HH:mm`` strings for minute offsets from FIRST_MONDAY."""
    base = dt.datetime.combine(FIRST_MONDAY, dt.time())
    uniq, inv = np.unique(minutes, return_inverse=True)
    text = [(base + dt.timedelta(minutes=int(m))).strftime("%d/%m/%Y %H:%M") for m in uniq]
    return [text[i] for i in inv]


def _stations(rng):
    ids = np.sort(rng.choice(np.arange(1, 851), size=N_STATIONS, replace=False))
    names = {int(s): _station_name(int(rng.integers(0, 10_000)), int(s)) for s in ids}
    late = {s: f"Pop Up Dock {s}, {AREAS[s % len(AREAS)]}" for s in LATE_IDS}
    return ids, names, late


def _write_stations(path, rng, ids, names):
    with open(path, "w") as f:
        f.write("Station.Id,StationName,longitude,latitude,Easting,Northing\n")
        for s in ids:
            lon = -0.2 + rng.random() * 0.15
            lat = 51.45 + rng.random() * 0.1
            f.write(f"{s},{_csv_name(names[int(s)])},{lon:.6f},{lat:.6f},"
                    f"{520000 + rng.random() * 20000:.2f},{175000 + rng.random() * 10000:.2f}\n")


def _write_weather(path, rng, first_day, n_days):
    days = []
    for i in range(n_days):
        d = first_day + dt.timedelta(days=i)
        epoch = int(dt.datetime.combine(d, dt.time()).replace(tzinfo=dt.timezone.utc).timestamp())
        t = 8 + 6 * rng.standard_normal()
        days.append({
            "datetime": d.isoformat(), "datetimeEpoch": epoch,
            "tempmax": round(t + 4, 1), "tempmin": round(t - 4, 1), "temp": round(t, 1),
            "feelslikemax": round(t + 2, 1), "feelslikemin": round(t - 6, 1),
            "feelslike": round(t - 2, 1), "dew": round(t - 3, 1),
            "humidity": round(60 + 30 * rng.random(), 2),
            "precip": round(max(0.0, rng.normal(0.5, 1.0)), 2),
            "precipprob": None, "precipcover": round(10 * rng.random(), 2),
            "preciptype": ["rain"] if rng.random() < 0.4 else None,
            "snow": None, "snowdepth": None,
            "windgust": round(20 + 20 * rng.random(), 1) if rng.random() < 0.8 else None,
            "windspeed": round(5 + 20 * rng.random(), 1), "winddir": round(360 * rng.random(), 1),
            "pressure": round(1000 + 30 * rng.random(), 1),
            "cloudcover": round(100 * rng.random(), 1), "visibility": round(2 + 20 * rng.random(), 1),
            "solarradiation": round(200 * rng.random(), 1), "solarenergy": round(10 * rng.random(), 1),
            "uvindex": float(rng.integers(0, 8)),
            "sunrise": "07:30:00", "sunriseEpoch": epoch + 27000,
            "sunset": "17:30:00", "sunsetEpoch": epoch + 63000,
            "moonphase": round(rng.random(), 2), "conditions": "Partially cloudy",
            "description": "Partly cloudy throughout the day.", "icon": "partly-cloudy-day",
            "stations": ["03769099999"], "source": "obs", "tzoffset": None, "severerisk": None,
        })
    doc = {"latitude": 51.5064, "longitude": -0.12721, "resolvedAddress": "London,UK",
           "address": "London,UK", "timezone": "Europe/London", "days": days}
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)


def _pick_stations(rng, n, ids, pop, null_share):
    sid = rng.choice(ids, size=n, p=pop)
    late = rng.random(n) < LATE_SHARE
    sid = np.where(late, rng.choice(LATE_IDS, size=n), sid)
    null = rng.random(n) < null_share
    return sid, null


def _write_delivery(job):
    """Write one delivery's ``journey.csv``; returns its size in bytes."""
    path, (rid, dur, bike, start, s_id, e_id, e_null), all_names = job
    start_s = _fmt(start)
    end_s = _fmt(start + dur)
    with open(path, "w") as f:
        f.write(HEADER)
        for i in range(len(rid)):
            if e_null[i]:
                end_id, end_name = "", ""
            else:
                end_id = str(e_id[i])
                end_name = _csv_name(all_names[int(e_id[i])])
            f.write(f"{rid[i]},{dur[i] * 60},{bike[i]},{end_s[i]},{end_id},{end_name},"
                    f"{start_s[i]},{s_id[i]},{_csv_name(all_names[int(s_id[i])])}\n")
    return os.path.getsize(path)


def generate(out, seed, zones, rows_per_week):
    """Write the inputs. ``zones`` is a list of ``(zone_dir, n_deliveries,
    weeks_per_delivery)``; deliveries cover consecutive weeks across zones
    and each is named after its first Monday. Returns the manifest dict."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    ids, names, late_names = _stations(rng)
    _write_stations(os.path.join(out, "stations.csv"), rng, ids, names)
    all_names = dict(names)
    all_names.update(late_names)
    pop = 1.0 / np.arange(1, len(ids) + 1) ** 0.8
    pop = rng.permutation(pop / pop.sum())
    hour_p = HOUR_WEIGHTS / HOUR_WEIGHTS.sum()

    total_weeks = sum(n * span for _, n, span in zones)
    weeks = []
    next_rental = 100_000_000 + int(rng.integers(0, 1_000_000))
    prev = None
    redelivered = {}
    rentals = set()
    week_no = 0
    jobs = []
    for zone, n_deliveries, span in zones:
        for _ in range(n_deliveries):
            monday = FIRST_MONDAY + dt.timedelta(days=7 * week_no)
            n = rows_per_week * span
            rid = np.arange(next_rental, next_rental + n)
            next_rental += n
            day = 7 * rng.integers(0, span, size=n) + rng.integers(0, 7, size=n)
            hour = rng.choice(24, size=n, p=hour_p)
            start = 7 * 1440 * week_no + day * 1440 + hour * 60 + rng.integers(0, 60, size=n)
            dur = rng.integers(2, 121, size=n)
            bike = rng.integers(1, 15_001, size=n)
            s_id, _ = _pick_stations(rng, n, ids, pop, 0.0)
            e_id, e_null = _pick_stations(rng, n, ids, pop, NULL_END_SHARE)
            cols = [rid, dur, bike, start, s_id, e_id, e_null]
            if prev is not None:
                # re-deliver a slice of the last delivery's rentals: same
                # rental id and start date, corrected bike id
                k = max(1, int(len(prev[0]) * REDELIVER_SHARE))
                pick = rng.choice(len(prev[0]), size=k, replace=False)
                new_bike = rng.integers(1, 15_001, size=k)
                for r, b in zip(prev[0][pick], new_bike):
                    redelivered[int(r)] = int(b)
                re = [c[pick] for c in prev]
                re[2] = new_bike
                cols = [np.concatenate([a, b]) for a, b in zip(cols, re)]
            order = rng.permutation(len(cols[0]))
            cols = [c[order] for c in cols]
            rid, dur, bike, start, s_id, e_id, e_null = cols
            # the next delivery re-delivers only rows first delivered in this one
            fresh = rid >= next_rental - n
            prev = [c[fresh] for c in cols]
            rentals.update(int(r) for r in rid)
            folder = os.path.join(out, zone, monday.isoformat())
            os.makedirs(folder, exist_ok=True)
            path = os.path.join(folder, "journey.csv")
            jobs.append((path, cols, all_names))
            weeks.append({"zone": zone, "date": monday.isoformat(), "weeks": span,
                          "rows": int(len(rid)), "path": path})
            week_no += span
    # formatting dominates; the draws above fixed every value already
    with ProcessPoolExecutor(max_workers=WRITERS) as pool:
        for week, size in zip(weeks, pool.map(_write_delivery, jobs)):
            week["csv_bytes"] = size
            del week["path"]
    # weather covers every start AND end date of every journey
    _write_weather(os.path.join(out, "weather.json"), rng,
                   FIRST_MONDAY - dt.timedelta(days=1), 7 * total_weeks + 3)
    manifest = {"seed": seed, "rows_per_week": rows_per_week, "weeks": weeks,
                "distinct_rentals": len(rentals),
                "redelivered": {str(k): v for k, v in sorted(redelivered.items())},
                "late_station_ids": LATE_IDS}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
