"""Seeded synthetic single-person Apple Health `export.zip`, and the values
a correct conversion of it must produce.

The archive holds `export.xml` with Record elements of 40 types in a
skewed (Zipf-like) mix, Workouts with metadata, events, statistics and GPX
routes under `workout-routes/`, and one ActivitySummary per day. Attribute
values are chosen so that type inference sees every outcome: integer,
real, integer-and-real (widens to REAL), date, text, and mixed values that
widen to TEXT.

`expected()` derives, independently of graft, what a conversion into a
JDBC database must hold: rows per table, the column type of every column,
a per-table value checksum and the GeoJSON coordinate count of every
route. The canonical value text and the checksum rule are the ones the
benchmark harness applies when it reads the database back.
"""

import datetime as dt
import decimal
import hashlib
import io
import re
import zipfile
from xml.sax.saxutils import quoteattr

import numpy as np

INT_RE = re.compile(r"\A[+-]?[0-9]{1,9}\Z")
REAL_RE = re.compile(r"\A[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?\Z")
DATE_RE = re.compile(r"\A[0-9]{4}-[0-9]{2}-[0-9]{2}\Z")
OFFSET_DATE_RE = re.compile(r"\A[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2} [+-][0-9]{4}\Z")

# SQL type of each inferred type once written through Spark's JDBC sink
# into Derby.
DB_TYPE = {"INTEGER": "INTEGER", "REAL": "DOUBLE", "DATE": "TIMESTAMP",
           "TEXT": "CLOB", "JSON": "CLOB"}

JSON_COLUMNS = ("workoutEvents", "workoutStatistics", "geometry")

# (type suffix, unit, value kind): "int" integer strings, "real" decimals,
# "mixed" both (widens to REAL); category types draw text from a list.
_KINDS = [
    ("StepCount", "count", "int"), ("HeartRate", "count/min", "mixed"),
    ("ActiveEnergyBurned", "Cal", "real"), ("BasalEnergyBurned", "Cal", "real"),
    ("DistanceWalkingRunning", "mi", "real"), ("FlightsClimbed", "count", "int"),
    ("WalkingSpeed", "mi/hr", "real"), ("WalkingStepLength", "in", "real"),
    ("WalkingDoubleSupportPercentage", "%", "real"), ("WalkingAsymmetryPercentage", "%", "mixed"),
    ("AppleExerciseTime", "min", "int"), ("AppleStandTime", "min", "int"),
    ("HeartRateVariabilitySDNN", "ms", "real"), ("RestingHeartRate", "count/min", "int"),
    ("WalkingHeartRateAverage", "count/min", "int"), ("OxygenSaturation", "%", "real"),
    ("RespiratoryRate", "count/min", "mixed"), ("BodyMass", "lb", "real"),
    ("Height", "ft", "real"), ("BodyMassIndex", "count", "real"),
    ("EnvironmentalAudioExposure", "dBASPL", "real"), ("HeadphoneAudioExposure", "dBASPL", "real"),
    ("DistanceCycling", "mi", "real"), ("DistanceSwimming", "yd", "real"),
    ("SwimmingStrokeCount", "count", "int"), ("VO2Max", "mL/min·kg", "real"),
    ("StairAscentSpeed", "ft/s", "real"), ("StairDescentSpeed", "ft/s", "real"),
    ("SixMinuteWalkTestDistance", "m", "int"), ("AppleWalkingSteadiness", "%", "real"),
    ("DietaryWater", "mL", "mixed"), ("DietaryCaffeine", "mg", "int"),
    ("BodyTemperature", "degF", "real"), ("BloodGlucose", "mg/dL", "int"),
    ("NumberOfTimesFallen", "count", "int"), ("PhysicalEffort", "kcal/hr·kg", "real"),
]
_CATEGORIES = [
    ("SleepAnalysis", ["HKCategoryValueSleepAnalysisInBed", "HKCategoryValueSleepAnalysisAsleepCore",
                       "HKCategoryValueSleepAnalysisAwake"]),
    ("AppleStandHour", ["HKCategoryValueAppleStandHourStood", "HKCategoryValueAppleStandHourIdle"]),
    ("MindfulSession", ["HKCategoryValueNotApplicable"]),
    ("HandwashingEvent", ["HKCategoryValueNotApplicable"]),
]
RECORD_TYPES = ([(f"HKQuantityTypeIdentifier{n}", u, k) for n, u, k in _KINDS]
                + [(f"HKCategoryTypeIdentifier{n}", None, vals) for n, vals in _CATEGORIES])

DEVICES = [
    "<<HKDevice: 0x281038280>, name:iPhone, manufacturer:Apple Inc., model:iPhone, hardware:iPhone14,3, software:16.1.2>",
    "<<HKDevice: 0x2813d5c20>, name:Apple Watch, manufacturer:Apple Inc., model:Watch, hardware:Watch5,4, software:6.1.2>",
]
ACTIVITIES = ["HKWorkoutActivityTypeWalking", "HKWorkoutActivityTypeRunning",
              "HKWorkoutActivityTypeCycling", "HKWorkoutActivityTypeSwimming"]
OFFSETS = ["-0800", "-0700", "+0100"]
EPOCH0 = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)


def _stamp(rng, base_s):
    off = OFFSETS[int(rng.integers(0, len(OFFSETS)))]
    sign = -1 if off[0] == "-" else 1
    tz = dt.timezone(sign * dt.timedelta(hours=int(off[1:3]), minutes=int(off[3:])))
    return (EPOCH0 + dt.timedelta(seconds=int(base_s))).astimezone(tz).strftime("%Y-%m-%d %H:%M:%S %z")


def _value(rng, kind):
    if isinstance(kind, list):
        return kind[int(rng.integers(0, len(kind)))]
    if kind == "int" or (kind == "mixed" and rng.random() < 0.5):
        return str(int(rng.integers(0, 20000)))
    return f"{rng.uniform(0, 500):.3f}"


def generate(seed, n_records=20_000, n_workouts=12, route_points=400, n_days=120):
    """The archive's bytes and its elements, a pure function of the
    arguments. Each element is (table, attrs, json_counts)."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(RECORD_TYPES) + 1) ** 1.1
    weights /= weights.sum()
    # every type appears at least once; the rest follow the skewed mix
    picks = np.concatenate([np.arange(len(RECORD_TYPES)),
                            rng.choice(len(RECORD_TYPES), n_records - len(RECORD_TYPES), p=weights)])
    rng.shuffle(picks)
    elements = []
    body = io.StringIO()
    w = body.write
    w('<?xml version="1.0" encoding="UTF-8"?>\n<!DOCTYPE HealthData [\n'
      '<!ELEMENT HealthData (ExportDate,Me,(Record|Correlation|Workout|ActivitySummary)*)>\n]>\n'
      '<HealthData locale="en_US">\n <ExportDate value="2024-01-01 00:00:00 -0800"/>\n'
      ' <Me HKCharacteristicTypeIdentifierBiologicalSex="HKBiologicalSexNotSet"/>\n')

    def element(tag, attrs, children=""):
        a = " ".join(f"{k}={quoteattr(v)}" for k, v in attrs.items())
        w(f" <{tag} {a}>{children}</{tag}>\n" if children else f" <{tag} {a}/>\n")

    def meta(entries):
        return "".join(f"<MetadataEntry key={quoteattr(k)} value={quoteattr(v)}/>" for k, v in entries)

    for day in range(n_days):
        attrs = {
            "dateComponents": (EPOCH0 + dt.timedelta(days=day)).strftime("%Y-%m-%d"),
            "activeEnergyBurned": f"{rng.uniform(100, 900):.3f}",
            "activeEnergyBurnedGoal": "690", "activeEnergyBurnedUnit": "Cal",
            "appleMoveTime": "0", "appleMoveTimeGoal": "0",
            "appleExerciseTime": str(int(rng.integers(0, 120))), "appleExerciseTimeGoal": "30",
            "appleStandHours": str(int(rng.integers(0, 17))), "appleStandHoursGoal": "12"}
        element("ActivitySummary", attrs)
        elements.append(("ActivitySummary", attrs, {}))

    versions = ["16.1.2", "9.1", "17"]
    for t in picks:
        name, unit, kind = RECORD_TYPES[t]
        start = int(rng.integers(0, 4 * 365 * 86400))
        attrs = {"type": name, "sourceName": ["Phone", "Watch", "Scale"][int(rng.integers(0, 3))],
                 "sourceVersion": versions[int(rng.integers(0, 3))]}
        if rng.random() < 0.6:
            attrs["device"] = DEVICES[int(rng.integers(0, 2))]
        if unit is not None:
            attrs["unit"] = unit
        attrs["creationDate"] = _stamp(rng, start + 60)
        attrs["startDate"] = _stamp(rng, start)
        attrs["endDate"] = _stamp(rng, start + int(rng.integers(1, 3600)))
        attrs["value"] = _value(rng, kind)
        entries = []
        if t % 3 == 0 and rng.random() < 0.3:
            entries.append(("HKMetadataKeyHeartRateMotionContext", str(int(rng.integers(0, 3)))))
        if t % 4 == 1 and rng.random() < 0.2:
            entries.append(("HKTimeZone", "America/Los_Angeles"))
        if t % 5 == 2 and rng.random() < 0.2:
            entries.append(("HKWasUserEntered", ["1", "yes"][int(rng.integers(0, 2))]))
        element("Record", attrs, meta(entries))
        elements.append((name, {**attrs, **{f"metadata_{k}": v for k, v in entries}}, {}))

    routes = {}
    for i in range(n_workouts):
        start = int(rng.integers(0, 4 * 365 * 86400))
        minutes = rng.uniform(10, 90)
        attrs = {"workoutActivityType": ACTIVITIES[int(rng.integers(0, len(ACTIVITIES)))],
                 "duration": repr(float(minutes)), "durationUnit": "min",
                 "totalDistance": f"{rng.uniform(0.5, 12):.4f}", "totalDistanceUnit": "mi",
                 "totalEnergyBurned": f"{rng.uniform(50, 900):.3f}", "totalEnergyBurnedUnit": "Cal",
                 "sourceName": "Watch", "sourceVersion": versions[int(rng.integers(0, 3))],
                 "device": DEVICES[1], "creationDate": _stamp(rng, start + 60 * minutes + 5),
                 "startDate": _stamp(rng, start), "endDate": _stamp(rng, start + 60 * minutes)}
        entries = [("HKIndoorWorkout", str(int(rng.integers(0, 2)))),
                   ("HKAverageMETs", f"{rng.uniform(2, 9):.5f} kcal/hr·kg"),
                   ("HKWeatherTemperature", f"{int(rng.integers(30, 95))} degF"),
                   ("HKTimeZone", "America/Los_Angeles")]
        n_events = int(rng.integers(0, 5))
        events = "".join(
            f'<WorkoutEvent type="HKWorkoutEventTypeSegment" date={quoteattr(_stamp(rng, start + 60 * k))}'
            f' duration="{rng.uniform(1, 20):.4f}" durationUnit="min"/>' for k in range(n_events))
        stat_types = ["HKQuantityTypeIdentifierActiveEnergyBurned", "HKQuantityTypeIdentifierHeartRate",
                      "HKQuantityTypeIdentifierDistanceWalkingRunning"][: int(rng.integers(0, 4))]
        stats = "".join(
            f'<WorkoutStatistics type="{s}" startDate={quoteattr(attrs["startDate"])}'
            f' endDate={quoteattr(attrs["endDate"])} average="{rng.uniform(1, 200):.3f}"'
            f' minimum="{rng.uniform(0, 1):.3f}" maximum="{rng.uniform(200, 300):.3f}"/>'
            for s in stat_types)
        route = ""
        points = 0
        if i % 4 != 3:
            points = int(route_points * rng.uniform(0.5, 1.5))
            path = f"/workout-routes/route_{i}.gpx"
            entries.append(("HKMetadataKeySyncVersion", "2"))
            route = (f'<WorkoutRoute sourceName="Watch" startDate={quoteattr(attrs["startDate"])}'
                     f' endDate={quoteattr(attrs["endDate"])}>{meta(entries[-1:])}'
                     f'<FileReference path="{path}"/></WorkoutRoute>')
            routes[path] = _gpx(rng, points)
        element("Workout", attrs, meta(entries[:4]) + events + stats + route)
        elements.append(("Workout", {**attrs, **{f"metadata_{k}": v for k, v in entries}},
                         {"workoutEvents": n_events, "workoutStatistics": len(stat_types),
                          "geometry": points}))
    w("</HealthData>\n")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("apple_health_export/export.xml", body.getvalue().encode("utf-8"))
        for path, gpx in routes.items():
            z.writestr(f"apple_health_export{path}", gpx)
    return buf.getvalue(), elements


def _gpx(rng, n):
    lon, lat = -118.23 + rng.uniform(-0.1, 0.1), 34.04 + rng.uniform(-0.1, 0.1)
    steps = rng.normal(0, 1e-5, (n, 2)).cumsum(axis=0)
    pts = "".join(
        f'<trkpt lon="{lon + dx:.6f}" lat="{lat + dy:.6f}"><ele>{85 + k * 0.01:.4f}</ele>'
        f'<time>2020-02-24T18:00:{k % 60:02d}Z</time></trkpt>\n' for k, (dx, dy) in enumerate(steps))
    return ('<?xml version="1.0" encoding="UTF-8"?>\n<gpx version="1.1" creator="Apple Health Export"'
            ' xmlns="http://www.topografix.com/GPX/1/1">\n<trk><trkseg>\n' + pts + "</trkseg></trk>\n</gpx>\n")


def infer(v):
    if INT_RE.match(v):
        return "INTEGER"
    if REAL_RE.match(v):
        return "REAL"
    if DATE_RE.match(v) or OFFSET_DATE_RE.match(v):
        return "DATE"
    return "TEXT"


def widen(types):
    if len(types) == 1:
        return next(iter(types))
    return "REAL" if types == {"INTEGER", "REAL"} else "TEXT"


def canon(value, ty):
    """Canonical text of one stored value (None = absent)."""
    if value is None:
        return "\\N"
    if ty == "JSON":
        return f"#{value}"
    if ty == "INTEGER":
        return str(int(value))
    if ty == "REAL":
        d = decimal.Decimal(float(value)).quantize(decimal.Decimal("0.000001"), decimal.ROUND_HALF_EVEN)
        return format(d, "f")
    if ty == "DATE":
        if OFFSET_DATE_RE.match(value):
            t = dt.datetime.strptime(value, "%Y-%m-%d %H:%M:%S %z")
        else:
            t = dt.datetime.strptime(value, "%Y-%m-%d").replace(tzinfo=dt.timezone.utc)
        return str(int(t.timestamp()))
    return value


def row_hash(values):
    return int.from_bytes(hashlib.sha256("\x01".join(values).encode("utf-8")).digest()[:8], "big")


def expected(elements):
    """{table: {rows, types, checksum, routes}} for a correct conversion."""
    tables = {}
    for table, attrs, js in elements:
        tables.setdefault(table, []).append((attrs, js))
    out = {}
    for table, rows in tables.items():
        seen = {}
        for attrs, js in rows:
            for c, v in attrs.items():
                seen.setdefault(c, set()).add(infer(v))
            for c in js:
                seen.setdefault(c, set()).add("JSON")
        types = {c: widen(t) for c, t in seen.items()}
        cols = sorted(types)
        total = 0
        for attrs, js in rows:
            vals = [canon(js[c] if c in JSON_COLUMNS else attrs.get(c), types[c]) for c in cols]
            total = (total + row_hash(vals)) % (1 << 64)
        out[table] = {
            "rows": len(rows),
            "types": {c: DB_TYPE[types[c]] for c in cols},
            "checksum": format(total, "x"),
            "routes": sorted(js["geometry"] for _, js in rows if "geometry" in js),
        }
    return out
