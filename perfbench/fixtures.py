"""Seeded inputs for the ``cli_pipelines`` workload, with their
expected outputs.

Each generator writes one reference-pipeline input (FIXTURES.md
F-ELEC, F-SENSOR, F-WEIGHT, F-JOBS, plus upsert batches) and returns what the CLI must produce from it.  The
expected outputs never come from the engine's code:

- electricity: a DuckDB twin of the W3 semantics (``ELEC_SQL``);
- sensors: a pandas twin of the reference's step-wise fold;
- weight: the weekly means the generator computes from the readings
  it wrote;
- jobsearch: the report rendered from the blocks the generator wrote;
- upsert/compact: the key-wise merge of the batches.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import quopri
import random
import re

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# F-ELEC: cumulative meter readings -> 15-minute usage.

# Independent DuckDB statement of the W3 semantics: Europe/London local
# time to UTC, lead deltas, a 1-minute grid per interval, the (06:30,
# 23:30] peak rule, per-category rate allocation and end-labeled
# 15-minute buckets with decimal-exact sums.
ELEC_SQL = """
WITH raw AS (
  SELECT strptime(Date || ' ' || Time, '%d/%m/%Y %H:%M:%S') AS lts, P::DOUBLE AS P, OP::DOUBLE AS OP
  FROM read_csv('{csv}', header=true, all_varchar=true)
), utc AS (
  SELECT timezone('UTC', timezone('Europe/London', lts)) AS ts, P, OP FROM raw
), leads AS (
  SELECT ts AS t0, lead(ts) OVER w AS t1,
         (lead(P) OVER w - P)::DOUBLE AS d_p,
         (lead(OP) OVER w - OP)::DOUBLE AS d_op
  FROM utc WINDOW w AS (ORDER BY ts)
), grid AS (
  SELECT t0, d_p, d_op,
         unnest(generate_series(t0 + INTERVAL 1 MINUTE, t1, INTERVAL 1 MINUTE)) AS m
  FROM leads WHERE t1 IS NOT NULL AND t1 >= t0 + INTERVAL 1 MINUTE
), cat AS (
  SELECT *, CASE WHEN (hour(m) * 60 + minute(m)) > 390
                  AND (hour(m) * 60 + minute(m)) <= 1410
             THEN 'P' ELSE 'OP' END AS category
  FROM grid
), counted AS (
  SELECT *,
         sum(CASE WHEN category = 'P' THEN 1 ELSE 0 END) OVER (PARTITION BY t0) AS p_mins,
         sum(CASE WHEN category = 'OP' THEN 1 ELSE 0 END) OVER (PARTITION BY t0) AS op_mins
  FROM cat
), rated AS (
  SELECT m,
         CASE WHEN category = 'P' AND p_mins > 0 THEN d_p / p_mins END AS p_min,
         CASE WHEN category = 'OP' AND op_mins > 0 THEN d_op / op_mins END AS op_min
  FROM counted
)
SELECT strftime(make_timestamp(((floor(floor(epoch(m - INTERVAL 1 MINUTE)) / 900) * 900)::BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS Bucket,
       strftime(min(m), '%Y-%m-%d %H:%M:%S') AS MinDateTime,
       strftime(max(m), '%Y-%m-%d %H:%M:%S') AS MaxDateTime,
       count(*) AS Minutes,
       sum(p_min::DECIMAL(18,12))::DOUBLE AS P_Usage,
       sum(op_min::DECIMAL(18,12))::DOUBLE AS OP_Usage
FROM rated GROUP BY 1
"""


def _last_sunday(year: int, month: int) -> dt.date:
    d = dt.date(year, month + 1, 1) - dt.timedelta(days=1)
    return d - dt.timedelta(days=(d.weekday() + 1) % 7)


def write_meter_csv(rng: random.Random, path: str, readings: int) -> None:
    """``readings`` rows at a ~daily cadence from October 2022, with
    jittered afternoon times (some at :20/:40 seconds); plus readings
    just before and after every DST change the series spans, and at
    least the first two changes, so that even a short series straddles
    both kinds; one pair < 15 minutes apart and one > 48 h gap
    (FIXTURES F-ELEC)."""
    stamps: list[dt.datetime] = []
    day = dt.datetime(2022, 10, 20, 14, 0, 0)
    while len(stamps) < readings - 1:
        if len(stamps) == readings // 3:
            day += dt.timedelta(days=2)  # the > 48 h gap
        t = day + dt.timedelta(minutes=rng.randint(-90, 90), seconds=rng.choice((0, 0, 20, 40)))
        stamps.append(t)
        if len(stamps) == readings // 4:
            stamps.append(t + dt.timedelta(minutes=rng.randint(3, 12)))
        day += dt.timedelta(days=1)
    changes = [_last_sunday(y, m) for y in range(stamps[0].year, stamps[-1].year + 2)
               for m in (3, 10)]
    changes = [d for d in changes if d > stamps[0].date()]
    spanned = [d for d in changes if d < stamps[-1].date()]
    for d in changes[:max(2, len(spanned))]:  # straddle each DST change
        stamps += [dt.datetime.combine(d, dt.time(0, 50, 20)),
                   dt.datetime.combine(d, dt.time(2, 10, 40))]
    stamps = sorted(set(stamps))
    p, op = 1000, 5000
    with open(path, "w", encoding="utf-8") as f:
        f.write("Date,Time,P,OP\n")
        for s in stamps:
            f.write(f"{s:%d/%m/%Y},{s:%H:%M:%S},{p},{op}\n")
            p += rng.randint(2, 14)
            op += rng.randint(1, 9)


# --------------------------------------------------------------------------
# F-SENSOR: daily thermometer exports -> one merged CSV per sensor.

_CAL = ["", "(calibrated -0.1 deg C)", "(calibrated +0.3 deg C)"]


def write_sensor_exports(rng: random.Random, out_dir: str, n_sensors: int, n_files: int,
                         minutes: int) -> None:
    """Per sensor, ``n_files`` overlapping exports with identical and
    conflicting overlaps, within-file duplicates, a mid-series header
    change, unparseable timestamps and calibration-suffix drift;
    plus files whose names do not match the export pattern."""
    os.makedirs(out_dir, exist_ok=True)
    base = dt.datetime(2025, 11, 20, 0, 0)
    names = ["Kitchen I (1)", "Bathroom (3)", "Bedroom", "Office 2", "Loft"]
    for s in range(n_sensors):
        sensor = names[s % len(names)] + ("" if s < len(names) else f" {s}")
        truth: dict[dt.datetime, tuple[float, float, float]] = {}
        for k in range(n_files):
            day0 = base + dt.timedelta(days=k)
            first = day0 - dt.timedelta(minutes=60 if k else 0)  # overlap
            with_dew = k >= n_files // 2  # mid-series header change
            cal = _CAL[(s + k) % len(_CAL)]
            head = ["﻿Timestamp for sample frequency every 1 min min",
                    f" Temperature_Celsius{cal}", " Relative_Humidity"]
            if with_dew:
                head.append(" Dew_Point")
            rows = []
            for j in range(minutes + (60 if k else 0)):
                ts = first + dt.timedelta(minutes=j)
                if ts not in truth:
                    truth[ts] = (round(rng.uniform(15, 25), 1), round(rng.uniform(30, 70), 1),
                                 round(rng.uniform(5, 12), 1))
                temp, hum, dew = truth[ts]
                if ts < day0 and rng.random() < 0.3:
                    temp = round(temp + rng.choice((-0.4, 0.2, 0.7)), 1)  # conflict
                row = [ts.strftime("%Y-%m-%d %H:%M:%S"), f"{temp}", f"{hum}"]
                if with_dew:
                    row.append(f"{dew}")
                rows.append(row)
                if rng.random() < 0.01:  # within-file duplicate, last wins
                    dup = list(row)
                    dup[2] = f"{round(hum + 1.5, 1)}"
                    rows.append(dup)
            for _ in range(3):
                bad = list(rows[rng.randrange(len(rows))])
                bad[0] = rng.choice(("n/a", "", "2025-13-45 99:99:99"))
                rows.insert(rng.randrange(len(rows)), bad)
            stamp = (day0 + dt.timedelta(days=1)).strftime("%Y%m%d%H%M")
            with open(f"{out_dir}/{sensor}_export_{stamp}.csv", "w", encoding="utf-8") as f:
                f.write(",".join(head) + "\n")
                for r in rows:
                    f.write(",".join(r) + "\n")
    with open(f"{out_dir}/notes.csv", "w", encoding="utf-8") as f:
        f.write("Timestamp,Temperature_Celsius\n2025-11-20 00:00:00,1.0\n")
    with open(f"{out_dir}/Kitchen_backup_2025.csv", "w", encoding="utf-8") as f:
        f.write("Timestamp,Temperature_Celsius\n2025-11-20 00:00:00,2.0\n")


def _conflict_tag(i: int) -> str:
    letters, n = "", i
    while True:
        letters = chr(ord("A") + n % 26) + letters
        n = n // 26 - 1
        if n < 0:
            return f"!{letters}!"


def _normalize_header(name: str) -> str:
    n = name.lstrip("﻿").strip()
    if "timestamp" in n.lower():
        return "Timestamp"
    return re.sub(r"\s*\(calibrated[^)]*\)\s*$", "", n, flags=re.I)


def expected_sensors(in_dir: str) -> dict[str, pd.DataFrame]:
    """pandas twin of the reference fold (keep-existing coalesce,
    np.isclose conflicts into ``!A! <col>`` columns, all-null pruning,
    Timestamp + first-seen measures + sorted conflict columns)."""
    groups: dict[str, list[tuple[str, str]]] = {}
    for name in sorted(os.listdir(in_dir)):
        m = re.match(r"^(?P<sensor>.+?)_export_(?P<ts>\d{12}).*\.csv$", name)
        if m:
            groups.setdefault(m.group("sensor").strip(), []).append((m.group("ts"), name))
    out = {}
    for sensor, files in groups.items():
        combined: pd.DataFrame | None = None
        n_conf = 0
        for _, name in sorted(files):
            raw = pd.read_csv(f"{in_dir}/{name}", dtype=str, keep_default_na=False,
                              encoding="utf-8")
            raw.columns = [_normalize_header(c) for c in raw.columns]
            raw["Timestamp"] = pd.to_datetime(raw["Timestamp"], format="%Y-%m-%d %H:%M:%S",
                                              errors="coerce")
            df = raw[raw["Timestamp"].notna()].drop_duplicates("Timestamp", keep="last")
            for c in df.columns[1:]:
                df[c] = pd.to_numeric(df[c], errors="coerce")
            df = df.set_index("Timestamp")
            if combined is None:
                combined = df
                continue
            joined = combined.join(df, how="outer", rsuffix="__in")
            for c in df.columns:
                if c not in combined.columns:
                    continue
                a, b = joined[c], joined[f"{c}__in"]
                conf = a.notna() & b.notna() & ~((a - b).abs() <= 1e-9 + 1e-5 * b.abs())
                if conf.any():
                    joined[f"{_conflict_tag(n_conf)} {c}"] = b.where(conf)
                    n_conf += 1
                joined[c] = a.combine_first(b)
                joined = joined.drop(columns=[f"{c}__in"])
            combined = joined
        combined = combined.dropna(axis=1, how="all")
        regular = [c for c in combined.columns if not c.startswith("!")]
        conflicts = sorted(c for c in combined.columns if c.startswith("!"))
        out[sensor] = combined[regular + conflicts].sort_index().reset_index()
    return out


# --------------------------------------------------------------------------
# F-WEIGHT: scale exports -> weekly (W-FRI) summary.

_DOW = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def write_weight_txts(rng: random.Random, out_dir: str, n_files: int) -> pd.DataFrame:
    """Scale-export .txt files over ~18 months, including malformed
    files (no ``Time:`` header, too short) and the same reading in two
    files with different values (the lexically first file wins).
    Returns the expected weekly summary."""
    os.makedirs(out_dir, exist_ok=True)
    readings: dict[dt.datetime, tuple[float, float]] = {}
    t = dt.datetime(2024, 6, 3, 7, 30)
    weight = 92.0
    written: list[tuple[str, dt.datetime, float, float]] = []
    for i in range(n_files):
        t += dt.timedelta(days=rng.randint(2, 6), minutes=rng.randint(-40, 40))
        weight = round(weight + rng.uniform(-0.6, 0.5), 1)
        bmi = round(weight / 3.31, 1)
        name = f"{out_dir}/scale_{i:05d}.txt"
        if i % 37 == 5:
            with open(name, "w", encoding="utf-8") as f:  # no Time: header
                f.write(f"Export\nWeight:{weight}kg\nBMI:{bmi}\n")
            continue
        if i % 41 == 7:
            with open(name, "w", encoding="utf-8") as f:  # short file
                f.write("Export\n")
            continue
        fat = round(rng.uniform(25, 33), 1)
        arrow = rng.choice(("↑", "↓", ""))
        label = rng.choice(("Overweight", "Normal", ""))
        body = (
            f"Export {i}\n"
            f"Time:{t:%H:%M}, {_DOW[t.weekday()]},{t.month:02d}/ {t.day:02d}/{t.year}\n"
            f"Weight:{weight}kg  {arrow}   {label}\n"
            f"BMI:{bmi}\n"
            f"Body fat:{fat}%  ↓\n"
            f"Muscle Mass:{round(weight * 0.62, 1)}kg\n"
            f"Bone Mass:3.1kg\n"
            f"Body water:{round(rng.uniform(45, 52), 1)}%\n"
            f"Visceral fat:{rng.randint(9, 14)}\n"
            f"BMR:{rng.randint(1750, 1900)}kcal\n"
        )
        with open(name, "w", encoding="utf-8") as f:
            f.write(body)
        written.append((name, t.replace(second=0), weight, bmi))
        if i % 29 == 3:  # same reading in a later file, different value
            dup = f"{out_dir}/scale_{i:05d}_copy.txt"
            with open(dup, "w", encoding="utf-8") as f:
                f.write(body.replace(f"Weight:{weight}kg", f"Weight:{weight + 1.0}kg"))
            written.append((dup, t.replace(second=0), weight + 1.0, bmi))
    for name, ts, w, b in sorted(written):  # first file per reading wins
        readings.setdefault(ts, (w, b))
    weeks: dict[dt.date, list[tuple[float, float]]] = {}
    for ts, wb in readings.items():
        d = ts.date()
        weeks.setdefault(d + dt.timedelta(days=(4 - d.weekday()) % 7), []).append(wb)
    rows = []
    for period in sorted(weeks):
        vals = weeks[period]
        rows.append(
            {
                "period": period.isoformat(),
                "average_weight": _round1(sum(v[0] for v in vals) / len(vals)),
                "average_bmi": _round1(sum(v[1] for v in vals) / len(vals)),
            }
        )
    df = pd.DataFrame(rows)
    df["weight_change"] = df["average_weight"].diff()
    return df.iloc[::-1].reset_index(drop=True)


def _round1(x: float) -> float:
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.1"), decimal.ROUND_HALF_UP))


# --------------------------------------------------------------------------
# F-JOBS: Chrome-style MHTML activity snapshots -> grouped report.

_TITLES = ["Data Engineer", "Senior Data Engineer", "Analytics Engineer",
           "Platform Engineer", "ML Engineer", "Spark Developer", "BI Developer"]
_COMPANIES = ["Acme & Sons", "Globex", "Initech", "Umbrella Corp", "Hooli",
              "Stark Industries", "Wayne Enterprises", "Smith & Co"]
_STATUS_LINES = [  # (raw line with N days ago, resolved label)
    ("Applied {n} days ago", "Applied"),
    ("Application viewed {n} days ago", "Viewed"),
    ("Your application was unsuccessful {n} days ago", "Unsuccessful"),
    ("Application successful {n} days ago", "Successful"),
    ("Rejected {n} days ago", "Rejected"),
    ("No longer considering applications {n} days ago", "No longer considering"),
    ("Posted {n} days ago", "Applied"),
]


def _block(rng: random.Random, jid: int, date: dt.date) -> dict:
    """One activity block, dated ``date``; rendered per snapshot by
    :func:`_render`."""
    spec = {"title": f"{rng.choice(_TITLES)} #{jid}", "company": rng.choice(_COMPANIES),
            "date": date, "update_job": rng.random() < 0.3,
            "updated": f"Updated on {date + dt.timedelta(days=rng.randint(0, 5))}"}
    if rng.random() < 0.25:  # status on the previous line (fallback, line consumed)
        spec["prev"], spec["text"], spec["label"] = True, *rng.choice(_STATUS_LINES[1:6])
    else:
        spec["prev"], spec["text"], spec["label"] = False, *rng.choice(_STATUS_LINES)
    return spec


def _render(spec: dict, ref: dt.date) -> tuple[list[str], list[str]]:
    """(raw text lines in a snapshot taken on ``ref``, expected final lines)."""
    n = (ref - spec["date"]).days
    raw = [spec["title"], spec["company"]]
    if spec["update_job"]:
        raw.append("Update job")
    if spec["prev"]:
        raw += [spec["text"].replace(" {n} days ago", ""), f"{n} days ago"]
    else:
        raw.append(spec["text"].format(n=n))
    final = [spec["title"], spec["company"], f"{spec['label']} on {spec['date'].isoformat()}"]
    return raw + [spec["updated"]], final + [spec["updated"]]


def _chrome_mhtml(lines: list[str], stamp: str, rng: random.Random,
                  meta: bool = False) -> bytes:
    """A snapshot as Chrome's "Save as MHTML" writes it, except that the
    ``<meta charset>`` tag Chrome puts in ``<head>`` is left out unless
    ``meta``: the engine drops all text after that tag (README, Known
    defects), and the workload must be one on which no operation fails.
    ``selftest.py`` writes it with the tag to show the defect."""
    import html

    boundary = f"----MultipartBoundary--{rng.getrandbits(64):016x}----"
    head_tag = '<head><meta charset="utf-8">' if meta else "<head>"
    body = [f'<!DOCTYPE html><html lang="en">{head_tag}',
            "<title>My Jobs | LinkedIn</title><style>.job{margin:0}</style>",
            '<script>window.__data = {"a": 1 && 2};</script></head><body>',
            '<nav class="global-nav">Home&nbsp;My Network&nbsp;Jobs</nav><main>']
    for ln in lines:
        body.append(f'<div class="job"><span dir="ltr">{html.escape(ln, quote=False)}</span></div>')
    body.append("</main></body></html>")
    qp = quopri.encodestring("\n".join(body).encode("utf-8")).replace(b"\n", b"\r\n")
    head = (
        "From: <Saved by Blink>\r\n"
        "Snapshot-Content-Location: https://www.linkedin.com/my-items/saved-jobs/\r\n"
        "Subject: My Jobs | LinkedIn\r\n"
        f"Date: {stamp}\r\n"
        "MIME-Version: 1.0\r\n"
        "Content-Type: multipart/related;\r\n"
        '\ttype="text/html";\r\n'
        f'\tboundary="{boundary}"\r\n\r\n\r\n'
        f"--{boundary}\r\n"
        "Content-Type: text/html\r\n"
        "Content-ID: <frame-0@mhtml.blink>\r\n"
        "Content-Transfer-Encoding: quoted-printable\r\n"
        "Content-Location: https://www.linkedin.com/my-items/saved-jobs/\r\n\r\n"
    ).encode("ascii")
    css = (
        f"\r\n--{boundary}\r\n"
        "Content-Type: text/css\r\n"
        "Content-Transfer-Encoding: quoted-printable\r\n"
        "Content-Location: cid:css-0@mhtml.blink\r\n\r\n"
        ".job { margin: 0; }\r\n"
        f"\r\n--{boundary}--\r\n"
    ).encode("ascii")
    return head + qp + css


def write_mhtml_snapshots(rng: random.Random, out_dir: str, n_files: int,
                          blocks_per_file: int) -> list[str]:
    """Snapshot files named ``YYYYMMDD_...mhtml`` (plus one without the
    date prefix, which the pipeline skips), with blocks repeated
    verbatim across files.  Returns the expected report lines."""
    os.makedirs(out_dir, exist_ok=True)
    ref0 = dt.date(2025, 9, 1)
    pool: list[dict] = []
    expected: dict[str, tuple[str, dt.date, list[str]]] = {}
    jid = 0
    for k in range(n_files):
        ref = ref0 + dt.timedelta(days=3 * k)
        label = ref.strftime("%Y%m%d")
        lines = ["Skip to main content", "Your recent activity"]
        for _ in range(blocks_per_file):
            if pool and rng.random() < 0.2:  # exact duplicate of an earlier block
                spec = rng.choice(pool)
            else:
                jid += 1
                spec = _block(rng, jid, ref - dt.timedelta(days=rng.randint(1, 60)))
                pool.append(spec)
            raw, final = _render(spec, ref)
            lines += raw
            sig = "\x1f".join(final)
            key = (label, spec["date"])
            if sig not in expected or key < expected[sig][:2]:
                expected[sig] = (label, spec["date"], final)
        lines += ["Show deleted jobs", "Footer text"]
        stamp = f"{ref:%a, %d %b %Y} 10:00:00 -0000"
        with open(f"{out_dir}/{label}_linkedin_activity.mhtml", "wb") as f:
            f.write(_chrome_mhtml(lines, stamp, rng))
    with open(f"{out_dir}/activity_export.mhtml", "wb") as f:
        f.write(_chrome_mhtml(["Your recent activity", "x", "Show deleted jobs"], "", rng))
    groups: dict[str, list[tuple[dt.date, str, list[str]]]] = {}
    for label, date, final in expected.values():
        groups.setdefault(final[0], []).append((date, label, final))
    ordered = sorted(groups.items(), key=lambda kv: (-max(kv[1])[0].toordinal(), kv[0]))
    out: list[str] = []
    for key, snaps in ordered:
        snaps.sort(reverse=True)
        out.append(f"## {key}  ({snaps[0][0].isoformat()})")
        for _date, label, final in snaps:
            out.append(f"- [{label}]")
            out.extend(f"  {ln}" for ln in final)
        out.append("")
    return out


# --------------------------------------------------------------------------
# Upsert batches.


def write_upsert_batches(rng: random.Random, out_dir: str, n_batches: int,
                         rows: int) -> dict[int, tuple]:
    """Keyed parquet batches (unique keys within a batch, overlapping
    across batches); returns the table a last-writer-wins merge leaves."""
    table: dict[int, tuple] = {}
    keyspace = int(rows * 1.6)
    for b in range(n_batches):
        keys = rng.sample(range(keyspace), rows)
        vals = [f"v{b}_{rng.randrange(10**6)}" for _ in keys]
        amounts = [round(rng.uniform(0, 1000), 2) for _ in keys]
        pq.write_table(
            pa.table({"id": pa.array(keys, pa.int64()), "v": vals,
                      "amount": pa.array(amounts, pa.float64())}),
            f"{out_dir}/batch_{b}.parquet",
        )
        for k, v, a in zip(keys, vals, amounts):
            table[k] = (k, v, a)
    return table
