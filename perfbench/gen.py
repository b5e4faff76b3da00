"""Seeded input generator shared by every workload.

It writes what the CLI reads under ``--dir``: one GTFS schedule
(``schedules/<date>-feed/*.txt``) and GTFS-rt FeedMessage snapshots
(``rt/feed_<YYYY-MM-DDTHH-MM-SS>.pb``) encoded with
``sources.rt.encode_feed_message``.  The network is ``replicas`` key-
suffixed copies of ``sources.demo.schedule_rows`` plus one
``sources.demo.wide_schedule_rows`` variant.  ``stop_times`` times are
integer seconds, as the repo's own fixtures write them (standard
``HH:MM:SS`` times crash ``read_gtfs``; see NOTES.md).

Snapshots overlap the way real feeds do: every vehicle (one trip on one
service day) shows up in ``OVERLAP`` consecutive files, and each
sighting re-reports the stops passed so far with newer delays, so the
records table keeps only the latest one per key.  A seeded share of
sightings names a trip the schedule does not have, and a seeded share
of files is cut short so that it no longer decodes.

The same seed gives the same bytes.  The generator also returns the
ground truth the checks compare against: the latest-wins record per key
and the number of truncated files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

from dystonse_gtfs_data_spark.sources.demo import (
    MONDAY,
    schedule_rows,
    wide_schedule_rows,
)
from dystonse_gtfs_data_spark.sources.rt import encode_feed_message, wire_decoder

SOURCE = "bench"
SCHEDULE_NAME = "2024-01-01-feed"
FILES_PER_DAY = 8  # snapshot files a service day, 2 minutes apart
OVERLAP = 3  # consecutive files that see each vehicle
UNKNOWN_SHARE = 0.02  # of each day's vehicles, named as a trip the schedule lacks
TRUNCATED_SHARE = 0.03  # of the files (outside the mid-trip days), cut short


@dataclass
class Network:
    routes: list[tuple]
    trips: list[tuple]
    stop_times: list[tuple]
    stops: list[tuple]
    calendar: list[tuple]
    # trip_id -> (route_id, [(stop_sequence, stop_id), ...], first departure s)
    trip_stops: dict[str, tuple[str, list[tuple[int, str]], int]] = field(
        default_factory=dict
    )


def build_network(replicas: int, wide_width: int) -> Network:
    """``replicas`` copies of the demo network (3 variants, 27 stop
    times each) with ``_<k>``-suffixed keys, plus one ``wide_width``-stop
    variant."""
    demo = schedule_rows()
    net = Network([], [], [], [], list(demo["calendar"]))
    for k in range(replicas):
        def sfx(s: str) -> str:
            return f"{s}_{k}"

        net.routes += [(sfx(r), a, f"{n}/{k}", t) for r, a, n, t in demo["routes"]]
        net.trips += [
            (sfx(t), sfx(r), svc, head, variant + 1000 * k)
            for t, r, svc, head, variant in demo["trips"]
        ]
        net.stop_times += [
            (sfx(t), seq, sfx(s), arr, dep)
            for t, seq, s, arr, dep in demo["stop_times"]
        ]
        net.stops += [
            (sfx(s), f"{name} {k}", lat + 0.01 * k, lon)
            for s, name, lat, lon in demo["stops"]
        ]
    if wide_width:
        wide = wide_schedule_rows(wide_width)
        net.routes += wide["routes"]
        net.trips += wide["trips"]
        net.stop_times += wide["stop_times"]
        net.stops += wide["stops"]
    route_of = {t[0]: t[1] for t in net.trips}
    by_trip: dict[str, list[tuple[int, str, int]]] = {}
    for t, seq, s, _arr, dep in net.stop_times:
        by_trip.setdefault(t, []).append((seq, s, dep))
    for t, rows in by_trip.items():
        rows.sort()
        net.trip_stops[t] = (
            route_of[t],
            [(seq, s) for seq, s, _ in rows],
            min(dep for _, _, dep in rows),
        )
    return net


def write_schedule(net: Network, data_dir: str) -> str:
    path = os.path.join(data_dir, "schedules", SCHEDULE_NAME)
    os.makedirs(path, exist_ok=True)
    tables = {
        "agency": ("agency_id,agency_name", [("a1", "Bench Transit")]),
        "routes": ("route_id,agency_id,route_short_name,route_type", net.routes),
        "trips": (
            "trip_id,route_id,service_id,trip_headsign,route_variant", net.trips
        ),
        "stop_times": (
            "trip_id,stop_sequence,stop_id,arrival_time,departure_time",
            net.stop_times,
        ),
        "stops": ("stop_id,stop_name,stop_lat,stop_lon", net.stops),
        "calendar": (
            "service_id,monday,tuesday,wednesday,thursday,friday,saturday,"
            "sunday,start_date,end_date",
            [
                (c[0], *("true" if b else "false" for b in c[1:8]), c[8], c[9])
                for c in net.calendar
            ],
        ),
    }
    for name, (header, rows) in tables.items():
        with open(os.path.join(path, f"{name}.txt"), "w") as fh:
            fh.write(header + "\n")
            for r in rows:
                fh.write(",".join(str(v) for v in r) + "\n")
    return path


def service_days(n: int) -> list[dt.date]:
    """The first ``n`` weekdays from the demo's Monday: every trip runs
    in the workday time slots, so curve groups fill up."""
    days, d = [], MONDAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _hms(seconds: int) -> str:
    return f"{seconds // 3600:02d}:{seconds // 60 % 60:02d}:{seconds % 60:02d}"


@dataclass
class Feed:
    """One snapshot file: its name, the sightings it carries and whether
    it is cut short."""

    name: str
    stamp: dt.datetime
    rows: list[dict]
    truncated: bool = False


def _feed(day: dt.date, i: int) -> Feed:
    stamp = dt.datetime(day.year, day.month, day.day, 6, 0, 0) + dt.timedelta(
        minutes=2 * i
    )
    return Feed(f"feed_{stamp.strftime('%Y-%m-%dT%H-%M-%S')}.pb", stamp, [])


def _vehicle_rows(
    name: str,
    route_id: str,
    stops: list[tuple[int, str]],
    first_dep: int,
    day: dt.date,
    rng: random.Random,
    sightings: int,
) -> list[list[dict]]:
    """One vehicle's sightings: sighting ``j`` re-reports the first
    ``(j+1)/OVERLAP`` of its stops, each with the vehicle's delay there
    plus a correction that shrinks as it ages."""
    base = rng.gauss(60, 90)
    drift = [rng.gauss(15, 30) for _ in stops]
    out = []
    for j in range(sightings):
        upto = max(1, -(-(j + 1) * len(stops) // OVERLAP))
        late, rows = 0.0, []
        for i, (seq, stop_id) in enumerate(stops[:upto]):
            late += drift[i]
            arr = int(round(base + late + rng.gauss(0, 20) / (j + 1)))
            rows.append(
                {
                    "trip_id": name,
                    "start_date": day.strftime("%Y%m%d"),
                    "start_time": _hms(first_dep),
                    "route_id": route_id,
                    "stop_id": stop_id,
                    "stop_sequence": seq,
                    "arrival_delay": arr,
                    "departure_delay": arr + rng.randrange(0, 40),
                }
            )
        out.append(rows)
    return out


def encode(feed: Feed) -> bytes:
    stamp = int(feed.stamp.replace(tzinfo=dt.timezone.utc).timestamp())
    blob = encode_feed_message(feed.rows, header_timestamp=stamp)
    if not feed.truncated:
        return blob
    # cut inside the last entity: its length prefix then overruns the
    # buffer, so the wire decoder rejects the whole file
    cut = blob[:-3]
    try:
        wire_decoder(cut)
    except ValueError:
        return cut
    raise AssertionError(f"{feed.name}: truncation still decodes")


@dataclass
class Inputs:
    net: Network
    days: list[dt.date]
    feeds_by_day: list[list[Feed]]

    @property
    def feeds(self) -> list[Feed]:
        return [f for day in self.feeds_by_day for f in day]


def make_inputs(
    seed: int,
    replicas: int,
    wide_width: int,
    days: int,
    mid_trip_days: int = 0,
) -> Inputs:
    """Everything a workload feeds the CLI, from ``seed`` alone.

    Files come every 2 minutes, ``FILES_PER_DAY`` a service day, as one
    continuous stream: the day's vehicles start in contiguous blocks
    spread evenly over its files, and sightings of the day's last
    vehicles spill into the next day's first files, so every file
    carries about the same load.  The last ``mid_trip_days`` days carry
    only each vehicle's first sighting: their vehicles are still
    running, so the predictions refresh has stops left to predict.
    Exactly ``UNKNOWN_SHARE`` of each day's vehicles name an unknown
    trip, and ``TRUNCATED_SHARE`` of the other days' files are cut
    short."""
    rng = random.Random(seed)
    net = build_network(replicas, wide_width)
    ds = service_days(days)
    by_day = [[_feed(d, i) for i in range(FILES_PER_DAY)] for d in ds]
    spill = [_feed(ds[-1] + dt.timedelta(days=1), i) for i in range(OVERLAP)]
    trips = sorted(net.trip_stops, key=lambda t: (t.rsplit("_", 1)[-1], t))
    n_ghost = round(UNKNOWN_SHARE * len(trips))
    for di, day in enumerate(ds):
        ghosts = set(rng.sample(trips, n_ghost))
        sightings = 1 if di >= days - mid_trip_days else OVERLAP
        for k, trip_id in enumerate(trips):
            route_id, stops, first_dep = net.trip_stops[trip_id]
            g = k * FILES_PER_DAY // len(trips)
            name = f"ghost_{trip_id}" if trip_id in ghosts else trip_id
            for j, rows in enumerate(_vehicle_rows(
                name, route_id, stops, first_dep, day, rng, sightings,
            )):
                i = g + j
                if i < FILES_PER_DAY:
                    by_day[di][i].rows += rows
                elif di + 1 < days:
                    by_day[di + 1][i - FILES_PER_DAY].rows += rows
                else:
                    spill[i - FILES_PER_DAY].rows += rows
    by_day[-1] += [f for f in spill if f.rows]
    by_day = [[f for f in fs if f.rows] for fs in by_day]
    # mid-trip days stay whole, so the pages served from them do not
    # depend on which file was cut
    files = [f for fs in by_day[: days - mid_trip_days] for f in fs]
    for f in rng.sample(files, round(TRUNCATED_SHARE * len(files))):
        f.truncated = True
    return Inputs(net, ds, by_day)


def write_feeds(feeds: list[Feed], rt_dir: str) -> int:
    """Land ``feeds`` in ``rt_dir``.  Each file is written under a
    temporary name and renamed, so a stream never lists half a file.
    Returns the number of stop-time updates landed."""
    os.makedirs(rt_dir, exist_ok=True)
    n = 0
    for f in feeds:
        tmp = os.path.join(rt_dir, "." + f.name + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(encode(f))
        os.rename(tmp, os.path.join(rt_dir, f.name))
        n += len(f.rows)
    return n


def expected_records(inputs: Inputs, feeds: list[Feed]) -> dict[tuple, tuple]:
    """Latest-wins ground truth of the records table after importing
    ``feeds``: key -> (delay_arrival, delay_departure,
    time_of_recording, feed file name).  Truncated files and unknown
    trips contribute nothing; a newer sighting replaces an older one."""
    out: dict[tuple, tuple] = {}
    for f in sorted(feeds, key=lambda f: f.stamp):
        if f.truncated:
            continue
        for r in f.rows:
            trip = inputs.net.trip_stops.get(r["trip_id"])
            if trip is None:
                continue
            d = dt.datetime.strptime(r["start_date"], "%Y%m%d").date()
            key = (trip[0], r["trip_id"], d, trip[2], r["stop_sequence"])
            out[key] = (r["arrival_delay"], r["departure_delay"], f.stamp, f.name)
    return out
