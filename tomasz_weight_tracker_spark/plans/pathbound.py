"""Catalog queries for the path-bound pipelines (W1/W2/W4).

The sensor merge fold, the weight-txt parser, and the MHTML block
pipeline normally read FILES, so the driver's parquet-table gate never
saw them (they were pytest/golden-verified only).  Following the
``doc_provenance`` pattern, each query here derives a DETERMINISTIC
file-shaped input from the gate's ``events`` table — pseudo-files,
text blobs, MIME documents — then runs the REAL pipeline code on it,
with a DuckDB oracle that recomputes the expected output closed-form
from the same table.  That puts the actual production code paths
(merge_step's probe + conflict columns, parse_weight_txt's native
array expressions, parse_mhtml_snapshots' MIME/HTML/state-machine
mapInPandas UDF) under the exact value-hash gate.

Reference semantics mirrored:
- sensor fold: utils/20251223-csv-to-separate-sensors.py:147-223
  (full-outer join chain, keep-existing coalesce, np.isclose conflict
  detection into ``!A!``-tagged columns, all-null pruning);
- weight txt: utils/20251223-weight-for-streamlit.py:38-74 (3-line
  blob -> EAV rows, unit stripping, info token split);
- MHTML blocks: utils/loose_thoughts.py:138-240 (marker-delimited
  stateful capture, 'N days ago' resolution, ordered keyword
  classification with prev-line fallback, signature dedup).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import ATOL, RTOL
from ..pipelines.jobsearch import dedup_blocks, extract_blocks
from ..pipelines.sensors import merge_sensor_frames
from ..pipelines.weight import parse_weight_txt
from .catalog import load, register

# ===========================================================================
# W2: sensor merge fold (J3 + G5/G7 + G14 + P4 + O1)
# ===========================================================================

# Three pseudo-files keyed by the distinct hour grid of events.ts
# (h = epoch hour).  The residue classes are chosen so every merge
# semantic fires at every SF:
#   file0 (h%2==0): temp = h%97
#   file1 (h%3==0): temp = h%97 (+5 when h%12==0 -> step-1 CONFLICT
#          with file0, both present since 12|h => 2|h), humidity = h%50
#   file2 (h%5==0): temp agrees; humidity = h%50+3 (conflicts with
#          file1 wherever both present, i.e. h%15==0); pressure all
#          NULL -> pruned by drop_all_null_columns (P4).
# Expected output schema: Timestamp, temp, humidity, '!A! temp',
# '!B! humidity' — the conflict columns materialize via the merge's
# probe aggregation, so this query exercises the data-dependent-schema
# machinery end to end.
# Two ANCHOR hours (epoch hours 0 and 60) are unioned into the grid on
# BOTH sides: 0%12==0 forces the temp conflict and 60%15==0 the
# humidity conflict, so the data-dependent columns exist for ANY
# events grid — without them, data spanning <12 hours would make the
# Spark side prune a column the oracle hard-codes (schema mismatch on
# a correct result).

_SENSOR_ORACLE = f"""
WITH hrs AS (SELECT DISTINCT date_trunc('hour', ts) AS t FROM events
             UNION SELECT TIMESTAMP '1970-01-01 00:00:00'
             UNION SELECT TIMESTAMP '1970-01-03 12:00:00'),
hh AS (SELECT t, (epoch(t)::BIGINT // 3600) AS h FROM hrs),
f0 AS (SELECT t AS ts0, (h % 97)::DOUBLE AS temp0 FROM hh WHERE h % 2 = 0),
f1 AS (SELECT t AS ts1,
              CASE WHEN h % 12 = 0 THEN ((h % 97) + 5)::DOUBLE
                   ELSE (h % 97)::DOUBLE END AS temp1,
              (h % 50)::DOUBLE AS hum1
       FROM hh WHERE h % 3 = 0),
f2 AS (SELECT t AS ts2, (h % 97)::DOUBLE AS temp2,
              ((h % 50) + 3)::DOUBLE AS hum2
       FROM hh WHERE h % 5 = 0),
m1 AS (
  SELECT coalesce(ts0, ts1) AS ts01,
         coalesce(temp0, temp1) AS temp01,
         CASE WHEN temp0 IS NOT NULL AND temp1 IS NOT NULL
                   AND abs(temp0 - temp1) > ({ATOL!r} + {RTOL!r} * abs(temp1))
              THEN temp1 END AS conf_a_temp,
         hum1
  FROM f0 FULL OUTER JOIN f1 ON ts0 = ts1),
m2 AS (
  SELECT coalesce(ts01, ts2) AS ts,
         coalesce(temp01, temp2) AS temp,
         coalesce(hum1, hum2) AS humidity,
         conf_a_temp,
         CASE WHEN hum1 IS NOT NULL AND hum2 IS NOT NULL
                   AND abs(hum1 - hum2) > ({ATOL!r} + {RTOL!r} * abs(hum2))
              THEN hum2 END AS conf_b_hum
  FROM m1 FULL OUTER JOIN f2 ON ts01 = ts2)
SELECT ts AS "Timestamp", temp, humidity,
       conf_a_temp AS "!A! temp", conf_b_hum AS "!B! humidity"
FROM m2
"""


@register(
    "sensor_merge_fold",
    _SENSOR_ORACLE,
    survey_ids=("J3", "G5", "G7", "G14", "P4", "O1"),
    doc="The W2 sensor consolidation fold run on pseudo-files derived "
    "from the events hour grid: full-outer join chain with "
    "keep-existing coalesce, np.isclose conflict detection into "
    "dynamically named '!A!'/'!B!' columns, and all-null pruning. "
    "Oracle replays the same fold as a DuckDB full-outer-join chain.",
)
def q_sensor_merge_fold(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    anchors = spark.createDataFrame(
        [(0,), (216000,)], "s long"
    ).select(F.timestamp_seconds("s").alias("Timestamp"))
    hours = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("Timestamp"))
        .union(anchors)
        .distinct()
    )
    # The grid feeds f0/f1/f2, which merge_sensor_frames reads twice: in
    # its one probe action and in the caller's output action.  These
    # share no exchange, so materialize the grid once or both re-run
    # the events scan + distinct.
    hh = hours.withColumn(
        "__h", F.expr("unix_timestamp(Timestamp) div 3600")
    ).localCheckpoint(eager=True)
    h = F.col("__h")
    f0 = hh.filter(h % 2 == 0).select(
        "Timestamp", (h % 97).cast("double").alias("temp")
    )
    f1 = hh.filter(h % 3 == 0).select(
        "Timestamp",
        F.when(h % 12 == 0, (h % 97) + 5).otherwise(h % 97).cast("double").alias("temp"),
        (h % 50).cast("double").alias("humidity"),
    )
    f2 = hh.filter(h % 5 == 0).select(
        "Timestamp",
        (h % 97).cast("double").alias("temp"),
        ((h % 50) + 3).cast("double").alias("humidity"),
        F.lit(None).cast("double").alias("pressure"),
    )
    return merge_sensor_frames([f0, f1, f2])


# ===========================================================================
# W1/F1: weight-txt parse (G1/G2 + the min-3-line rejection contract)
# ===========================================================================

_DAY_NAMES = [
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
]
_DAY_LIST_SQL = "[" + ", ".join(f"'{d}'" for d in _DAY_NAMES) + "]"

# Per event: a deterministic scale-app export blob
#   line 1: title (ignored)
#   line 2: "Time: HH:MM, DayName, YYYY-MM-DD"
#   line 3: "Weight:<w>kg ↑ Overweight"   (value+unit, symbol, info)
#   line 4: "BMI:<b>"                          (bare value)
#   line 5: "Body fat:<f>% ↓"             (unit strip + symbol only)
#   line 6: no colon -> skipped
# Degenerates exercise the parser's rejection rules: h%97==0 -> <3
# lines (dropped), h%89==0 -> line 2 without 'Time:' (dropped).

def _weight_oracle(source: str = "events") -> str:
    """The weight-txt EAV oracle, parameterized by its events source so
    the sf10 bounded-slice twin (weight_txt_parse_fileslice, below)
    can apply its file-slice predicate BEFORE the EAV union."""
    return f"""
WITH e AS (
  SELECT event_id AS h,
         lpad((event_id % 24)::VARCHAR, 2, '0') || ':' ||
           lpad((event_id % 60)::VARCHAR, 2, '0') AS tm,
         {_DAY_LIST_SQL}[(event_id % 7)::INT + 1] AS day_name,
         strftime(ts, '%Y-%m-%d') AS dt,
         ((event_id % 50) + 50)::VARCHAR || '.' || (event_id % 10)::VARCHAR AS w,
         ((event_id % 15) + 18)::VARCHAR || '.' || (event_id % 10)::VARCHAR AS b,
         ((event_id % 30) + 10)::VARCHAR || '.' || (event_id % 10)::VARCHAR AS f
  FROM {source}
  WHERE event_id % 97 <> 0 AND event_id % 89 <> 0),
rows_ AS (
  SELECT day_name, dt, tm, 'Weight' AS attribute, w AS value,
         '↑' AS info_symbol, 'Overweight' AS info_txt, h FROM e
  UNION ALL
  SELECT day_name, dt, tm, 'BMI', b, '', '', h FROM e
  UNION ALL
  SELECT day_name, dt, tm, 'Body fat', f, '↓', '', h FROM e)
SELECT day_name, dt AS date, tm AS time, attribute, value,
       info_symbol, info_txt, 'evt_' || h::VARCHAR AS source_file_id
FROM rows_
"""


_WEIGHT_ORACLE = _weight_oracle()


def weight_parse_frame(spark, ev):
    """The W1 parse chain over an (event_id, ts) frame — shared by
    weight_txt_parse and its sf10 file-slice twin so the blob
    synthesis and parser cannot drift between them."""
    # Same single-row-group spread as block_capture: the parse is all
    # codegen'd string work, but 300k blobs on one core still serialize.
    ev = ev.repartition(spark.sparkContext.defaultParallelism)
    h = F.col("event_id")
    day = F.element_at(
        F.array(*[F.lit(d) for d in _DAY_NAMES]), (h % 7 + 1).cast("int")
    )
    dt = F.date_format(F.col("ts"), "yyyy-MM-dd")
    tm = F.concat(
        F.lpad((h % 24).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((h % 60).cast("string"), 2, "0"),
    )
    w = F.concat((h % 50 + 50).cast("string"), F.lit("."), (h % 10).cast("string"))
    b = F.concat((h % 15 + 18).cast("string"), F.lit("."), (h % 10).cast("string"))
    f = F.concat((h % 30 + 10).cast("string"), F.lit("."), (h % 10).cast("string"))
    full = F.concat(
        F.lit("Body Composition\n"),
        F.lit("Time: "), tm, F.lit(", "), day, F.lit(", "), dt, F.lit("\n"),
        F.lit("Weight:"), w, F.lit("kg ↑ Overweight\n"),
        F.lit("BMI:"), b, F.lit("\n"),
        F.lit("Body fat:"), f, F.lit("% ↓\n"),
        F.lit("note without separator"),
    )
    content = (
        F.when(h % 97 == 0, F.lit("too\nshort"))
        .when(h % 89 == 0, F.lit("X\nno marker, A, B\nWeight:1kg"))
        .otherwise(full)
    )
    blobs = ev.select(
        F.concat(F.lit("evt_"), h.cast("string")).alias("file_id"),
        content.alias("content"),
    )
    return parse_weight_txt(blobs)


@register(
    "weight_txt_parse",
    _WEIGHT_ORACLE,
    survey_ids=("F1", "G1", "G2"),
    doc="The W1 native array-expression blob parser run on generated "
    "six-line scale-app exports (one per event row; the reference's "
    "format requires a >=3-line minimum): header split, "
    "EAV explode, kg/%-unit stripping, info-token split, and the "
    "two rejection rules (<3 lines, missing 'Time:'). Oracle "
    "recomputes the EAV rows closed-form.",
)
def q_weight_txt_parse(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    return weight_parse_frame(spark, ev)


# ===========================================================================
# W4/F4-F5: MHTML block capture (S7 + T8 + G4 + A7)
# ===========================================================================

# Per event: a single-part MIME document whose HTML text contains one
# (sometimes two) marker-delimited activity blocks.  The three h%3
# classes hit the three classification paths of process_block:
#   0: keyword ON the days-ago line            -> 'Viewed on <date>'
#   1: keyword on the PREVIOUS line            -> prev line popped,
#      'Unsuccessful on <date>'
#   2: 'Update job' dropped + no keyword       -> default 'Applied'
# h%7==0 adds a second block ('successful' on the days-ago line);
# h%5==0 appends a dangling unflushed block (discarded); h%97==0
# uses a filename without the 8-digit date (document skipped, P9).
# The flush line is constant so distinct events can collide on
# signature -> the A7 dedup (first file_label wins) actually fires.

def mime_blobs(ev):
    """Synthesize the W4 MIME documents from (event_id, ts) rows — one
    (path, content: binary) row per event.  Shared by ``block_capture``
    and file_pipelines' ``report_render_lines`` so the block relation and
    the rendered report cannot drift."""
    h = F.col("event_id")
    hs = h.cast("string")
    days1 = (h % 9 + 1).cast("string")
    days2 = (h % 4 + 1).cast("string")

    def p(*cols):
        return F.concat(F.lit("<p>"), F.concat(*cols), F.lit("</p>"))

    mid = (
        F.when(h % 3 == 0, p(F.lit("Viewed "), days1, F.lit(" days ago")))
        .when(
            h % 3 == 1,
            F.concat(
                p(F.lit("Application unsuccessful")),
                p(days1, F.lit(" days ago")),
            ),
        )
        .otherwise(
            F.concat(p(F.lit("Update job")), p(days1, F.lit(" days ago")))
        )
    )
    block2 = F.when(
        h % 7 == 0,
        F.concat(
            p(F.lit("Role "), (h % 41).cast("string")),
            p(F.lit("Offer successful "), days2, F.lit(" days ago")),
            p(F.lit("Updated on latest")),
        ),
    ).otherwise(F.lit(""))
    dangling = F.when(h % 5 == 0, p(F.lit("Dangling entry"))).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><body>"),
        p(F.lit("Job activity summary")),
        p(F.lit("Your recent activity")),
        p(F.lit("Job "), (h % 50).cast("string"), F.lit(" - Data Engineer")),
        mid,
        p(F.lit("Updated on latest")),
        block2,
        dangling,
        p(F.lit("Show deleted jobs")),
        p(F.lit("Footer")),
        F.lit("</body></html>"),
    )
    mime = F.concat(
        F.lit("MIME-Version: 1.0\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        html,
    )
    path = F.when(
        h % 97 == 0, F.lit("undated_snap.mhtml")
    ).otherwise(
        F.concat(F.date_format(F.col("ts"), "yyyyMMdd"), F.lit("_snap_h"), hs, F.lit(".mhtml"))
    )
    return ev.select(path.alias("path"), F.encode(mime, "UTF-8").alias("content"))


_BLOCK_ORACLE = """
WITH e AS (
  SELECT event_id AS h, date_trunc('day', ts)::DATE AS d,
         strftime(date_trunc('day', ts)::DATE, '%Y%m%d') AS file_label
  FROM events WHERE event_id % 97 <> 0),
b1 AS (
  SELECT file_label,
         d - (1 + (h % 9)::INT) AS block_date,
         'Job ' || (h % 50)::VARCHAR || ' - Data Engineer' AS group_key,
         CASE WHEN h % 3 = 0 THEN 'Viewed'
              WHEN h % 3 = 1 THEN 'Unsuccessful'
              ELSE 'Applied' END AS verb
  FROM e),
b2 AS (
  SELECT file_label,
         d - (1 + (h % 4)::INT) AS block_date,
         'Role ' || (h % 41)::VARCHAR AS group_key,
         'Successful' AS verb
  FROM e WHERE h % 7 = 0),
allb AS (
  SELECT file_label, block_date, group_key,
         group_key || chr(31) || verb || ' on ' || block_date::VARCHAR ||
           chr(31) || 'Updated on latest' AS signature,
         3::BIGINT AS n_lines
  FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2))
SELECT file_label, block_date, group_key, n_lines, signature
FROM allb
QUALIFY row_number() OVER (
  PARTITION BY signature ORDER BY file_label, block_date) = 1
"""


@register(
    "block_capture",
    _BLOCK_ORACLE,
    survey_ids=("S7", "F4", "F5", "T8", "G4", "A7", "P9"),
    doc="The W4 MHTML pipeline run on generated MIME documents (one "
    "per event row): MIME walk -> HTML strip -> marker-delimited "
    "stateful block capture -> 'N days ago' resolution -> ordered "
    "keyword classification incl. prev-line fallback with line "
    "replacement -> cross-file signature dedup. Oracle recomputes "
    "the surviving blocks closed-form and replays the dedup as a "
    "window over signatures.",
)
def q_block_capture(spark, sf_dir):
    # The single-row-group events file would pin the per-document MIME
    # parse (the expensive part) to ONE task; spread the NARROW key
    # columns first so blob synthesis and parsing run on every core.
    # At real scale the input is many file splits and this is a no-op
    # cost-wise (16 bytes/row through the exchange).
    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)
    blocks = dedup_blocks(extract_blocks(mime_blobs(ev)))
    return blocks.select(
        "file_label",
        "block_date",
        F.element_at("lines", 1).alias("group_key"),
        F.size("lines").cast("long").alias("n_lines"),
        "signature",
    )


# ===========================================================================
# weight_txt_parse's sf10 bounded-slice twin (verdict r11 item 3)
# ===========================================================================

_WEIGHT_SLICE_MOD = 32
_WEIGHT_SLICE_REM = 3


@register(
    "weight_txt_parse_fileslice",
    _weight_oracle(
        source=(
            "(SELECT * FROM events "
            f"WHERE event_id % {_WEIGHT_SLICE_MOD} = {_WEIGHT_SLICE_REM})"
        )
    ),
    survey_ids=(),
    doc="weight_txt_parse's sf10 value-check twin: the identical blob "
    "synthesis + native array-expression parse over the deterministic "
    f"1/{_WEIGHT_SLICE_MOD} FILE slice (event_id % {_WEIGHT_SLICE_MOD} "
    f"= {_WEIGHT_SLICE_REM}).  event_id IS the file key — each event "
    "becomes exactly one scale-app export and the parser is strictly "
    "per-file (header split, EAV explode, rejection rules all within "
    "one blob) — so a whole-file slice is exact, not approximate: "
    "each kept file's EAV rows are bit-identical to its rows in the "
    "full run (the electricity_15min_userslice argument on the F1 "
    "key).  The full-scale run's check moves to tools/engine_only.py "
    "(stable xor-hash), same as electricity/snm; the slice keeps the "
    "family value-checked at sf10 without the 16g-driver, 22-minute "
    "full compare.  Shares weight_parse_frame with the parent, so "
    "synthesis and parser cannot drift.",
)
def q_weight_txt_parse_fileslice(spark, sf_dir):
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts")
        .filter(F.col("event_id") % _WEIGHT_SLICE_MOD == _WEIGHT_SLICE_REM)
    )
    return weight_parse_frame(spark, ev)
