"""Seeded generator for a ZTM landing tree (one service day).

Writes the reference's landing layout under ``root``:

    gtfs/YYYY/MM/DD/{routes,trips,stops,stop_times}.csv
    delays/YYYY/MM/DD/delays_HH.csv      one file per hour
    weather/YYYY/MM/DD/weather_HH.csv    one file per hour
    ztm_vehicles_detailed.csv

and includes the feed quirks FIXTURES.md lists: dirty ``production_year``
values, blank and missing vehicle numbers, ``przed czasem`` (early)
delays, stop names shared by two stop ids, a route without trips, a trip
without stop_times, mode ties in trip length, a delay row repeated in the
next hour's file, and a weather hour re-shipped in two files.

The same ``seed`` and ``size`` always give byte-identical files.

    python3 perfbench/ztm_gen.py OUT_DIR --seed 1 --scale 1.0
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import os
import random
from dataclasses import dataclass

DAY = dt.date(2024, 12, 25)  # the reference's replay day (a Wednesday); the oracle's too

WEATHER_HEADER = [
    "id_stacji", "data_pomiaru", "godzina_pomiaru", "temperatura",
    "suma_opadu", "predkosc_wiatru", "kierunek_wiatru",
    "wilgotnosc_wzgledna", "cisnienie",
]
DELAY_HEADER = ["Timestamp", "Delay", "Route", "Stop Name", "Vehicle No"]
CARRIERS = ("GAiT", "BP Tour", "PKS Gdansk", "Warbus")
MODELS = (("Solaris", "Urbino 12"), ("Solaris", "Urbino 18"), ("Mercedes", "Citaro"),
          ("Pesa", "Swing"), ("Pesa", "Jazz"), ("Skoda", "Artic"), ("MAN", "Lion's City"))
STREETS = ("Dworzec", "Plac", "Brama", "Opera", "Zaspa", "Oliwa", "Wrzeszcz", "Przymorze",
           "Morena", "Chelm", "Orunia", "Stogi", "Brzezno", "Jelitkowo", "Osowa")


@dataclass(frozen=True)
class ZtmSize:
    """Row counts of one generated day."""

    routes: int = 120
    trips_per_route: int = 8
    stops: int = 1500
    stops_per_trip: int = 12
    vehicles: int = 1200
    delays_per_hour: int = 300

    def scaled(self, scale: float) -> "ZtmSize":
        """Every feed's row count times ``scale`` (routes, stops, vehicles
        and delays scale; trips per route and stops per trip do not)."""
        return ZtmSize(
            routes=max(4, round(self.routes * scale)),
            trips_per_route=self.trips_per_route,
            stops=max(25, round(self.stops * scale)),
            stops_per_trip=self.stops_per_trip,
            vehicles=max(4, round(self.vehicles * scale)),
            delays_per_hour=max(1, round(self.delays_per_hour * scale)),
        )


def _write(path: str, header: list[str], rows) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        n = 0
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
            n += 1
    return n


def generate(root: str, seed: int, size: ZtmSize = ZtmSize()) -> dict[str, int]:
    """Write one day of feeds under ``root``; returns rows written per feed."""
    rng = random.Random(seed)
    day = DAY
    ymd = f"{day.year}/{day.month:02d}/{day.day:02d}"
    counts: dict[str, int] = {}

    # routes: ids like "128" and "N5"; the last route has no trips
    route_ids = [f"N{i}" if i % 10 == 9 else str(100 + i) for i in range(size.routes)]
    routes = [(r, rng.choice((0, 2, 3, 3, 3, 11))) for r in route_ids]
    counts["routes"] = _write(f"{root}/gtfs/{ymd}/routes.csv", ["route_id", "route_type"], routes)

    # stops: every 25th stop shares its display name with the one before
    stops = []
    for i in range(size.stops):
        name = f"{rng.choice(STREETS)} {i:04d}"
        if i % 25 == 24:
            name = stops[-1][1]
        stops.append((f"s{i}", name, f"{54.30 + rng.random() * 0.15:.5f}",
                      f"{18.50 + rng.random() * 0.20:.5f}"))
    counts["stops"] = _write(f"{root}/gtfs/{ymd}/stops.csv",
                             ["stop_id", "stop_name", "stop_lat", "stop_lon"], stops)

    # trips + stop_times: per route a few candidate trip lengths so the
    # length mode has ties; the first trip of every 7th route has no stops
    trips, stop_times = [], []
    for ri, r in enumerate(route_ids[:-1]):
        lengths = [round(rng.uniform(5, 40), 1) for _ in range(3)]
        for k in range(size.trips_per_route):
            tid = f"t{ri}_{k}"
            trips.append((r, tid))
            if ri % 7 == 0 and k == 0:
                continue
            total = lengths[k % len(lengths)]
            n = rng.randint(max(2, size.stops_per_trip // 2), size.stops_per_trip * 3 // 2)
            for j in range(n):
                dist = None if ri % 13 == 5 else round(total * j / (n - 1), 2)
                stop_times.append((tid, f"s{rng.randrange(size.stops)}", dist))
    counts["trips"] = _write(f"{root}/gtfs/{ymd}/trips.csv", ["route_id", "trip_id"], trips)
    counts["stop_times"] = _write(f"{root}/gtfs/{ymd}/stop_times.csv",
                                  ["trip_id", "stop_id", "shape_dist_traveled"], stop_times)

    # vehicles: ~4% dirty rows of each kind the VehicleDim filter drops
    vehicles, vehicle_ids = [], []
    for i in range(size.vehicles):
        brand, model = rng.choice(MODELS)
        vid = f"v{1000 + i}"
        year = str(rng.randint(1995, 2024))
        dirt = i % 25
        if dirt == 3:
            year = year + "a"
        elif dirt == 7:
            year = "n/a"
        elif dirt == 11:
            year = None
        elif dirt == 13:
            brand = ""
        elif dirt == 17:
            model = None
        vehicles.append((vid, brand, model, year, rng.choice(CARRIERS)))
        vehicle_ids.append(vid)
    vehicles += [(None, "Solaris", "Urbino 12", "2019", "GAiT"),
                 ("  ", "Solaris", "Urbino 12", "2019", "GAiT")]
    counts["vehicles"] = _write(f"{root}/ztm_vehicles_detailed.csv",
                                ["vehicle_number", "manufacturer", "type", "production_year", "carrier"],
                                vehicles)

    # delays: one file per hour; the last row of each hour's file is
    # shipped again at the top of the next hour's file
    counts["delays"] = 0
    carry = None
    for h in range(24):
        rows = [carry] if carry else []
        for _ in range(size.delays_per_hour):
            ts = f"{day.isoformat()}T{h:02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
            mins = rng.randint(0, 15)
            u = rng.random()
            delay = f"{mins} min przed czasem" if u < 0.2 else f"{mins} min"
            vid = rng.choice(vehicle_ids)
            u = rng.random()
            if u < 0.02:
                vid = ""
            elif u < 0.03:
                vid = None
            rows.append((ts, delay, rng.choice(route_ids), rng.choice(stops)[1], vid))
        carry = rows[-1]
        counts["delays"] += _write(f"{root}/delays/{ymd}/delays_{h:02d}.csv", DELAY_HEADER, rows)

    # weather: station 12375 each hour; a second station some hours (the
    # hour-dedup drops it); a few null temperature / wind / precip /
    # pressure values; hour 12 re-shipped in hour 13's file
    counts["weather"] = 0
    shipped12 = None
    for h in range(24):
        row = (
            "12375", day.isoformat(), h,
            None if h == 21 else round(rng.uniform(-5, 38), 1),
            None if h % 9 == 4 else round(rng.choice((0.0, 0.0, rng.uniform(0, 9))), 1),
            None if h == 19 else round(rng.uniform(0, 22), 1),
            rng.randrange(360),
            round(rng.uniform(40, 100), 1),
            None if h % 7 == 1 else round(rng.uniform(990, 1030), 1),
        )
        rows = [row]
        if h == 12:
            shipped12 = row
        if h == 13:
            rows.insert(0, shipped12)
        if h % 6 == 3:
            rows.append(("99999", day.isoformat(), h, 7.7, 0.0, 2.0, 90, 55.0, 1000.0))
        counts["weather"] += _write(f"{root}/weather/{ymd}/weather_{h:02d}.csv", WEATHER_HEADER, rows)
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0, help="multiplies every feed's row count")
    args = ap.parse_args()
    print(generate(args.out, args.seed, ZtmSize().scaled(args.scale)))


if __name__ == "__main__":
    main()
