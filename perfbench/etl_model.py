"""Independent DuckDB model of the `etl_daily` op (graftbench/Etl.scala).

For each day from day 0: list the files of the 15-day lookback window by
mtime, union the ten countries' feeds by name, clean them (keep-list,
'True'/'False' -> '1'/'0', non-empty image URL), insert with
ON CONFLICT DO NOTHING semantics into `evidence_images` and `sessions`,
derive the first image name and URL by split/qualify, and evaluate the
`image_urls` view. Returns {"day_<k>": {"digest": ...}}. It also stages
the sinks the engine's day 1 starts from.
"""
import datetime as dt
import os

import duckdb

import digest

IRMQ = ["Sessionuid", "Sceneuid", "SceneType", "EvidenceImageURL", "EvidenceImageName",
        "ReExportStatus", "ReProcessedStatus", "CreatedOnTime", "country_code"]
SESSIONS = ["Sessionuid", "sessionstartdatetime", "sessionenddatetime", "client_code",
            "outlet_code", "outlet_name", "user_id", "sessionstatus", "latitude",
            "longitude", "country_code"]

# string columns of the two feeds (the bool-string clean-up touches only these)
STRINGS = {"Sessionuid", "Sceneuid", "SceneType", "EvidenceImageURL", "EvidenceImageName",
           "ReExportStatus", "ReProcessedStatus", "client_code", "outlet_code",
           "outlet_name", "user_id", "sessionstatus"}

VIEW = """
SELECT CAST(s.sessionstartdatetime AS DATE) AS session_date, s.client_code,
       s.outlet_code, s.outlet_name, s.country_code, s.user_id,
       e.Sessionuid AS sessionuid, e.Sceneuid AS sceneuid, e.SceneType AS scenetype,
       string_split(e.EvidenceImageName, ',')[1] AS formattedevidenceimagename,
       e.EvidenceImageURL || string_split(e.EvidenceImageName, ',')[1]
         AS formattedevidenceimageurl
FROM evidence_images e JOIN sessions s ON e.Sessionuid = s.Sessionuid
WHERE s.sessionstatus = 'Completed'
"""


def _window(feeds, kind, countries, today):
    lo = dt.datetime.combine(today - dt.timedelta(days=15), dt.time(), dt.timezone.utc).timestamp()
    hi = dt.datetime.combine(today + dt.timedelta(days=1), dt.time(), dt.timezone.utc).timestamp()
    files = []
    for cc in countries:
        d = os.path.join(feeds, f"{kind}_{cc}")
        files += [(cc, os.path.join(d, f)) for f in sorted(os.listdir(d))
                  if lo < os.path.getmtime(os.path.join(d, f)) < hi]
    return files


def _batch(files, keep, where=""):
    """The window's files unioned by name (missing columns read as NULL),
    tagged with their country, kept columns only, 'True'/'False' strings
    normalised."""
    paths = ", ".join(f"'{f}'" for _, f in files)
    country = "CASE " + " ".join(f"WHEN filename = '{f}' THEN '{cc}'" for cc, f in files) + " END"
    sel = [f"{country} AS country_code" if c == "country_code" else
           f"CASE WHEN {c} = 'True' THEN '1' WHEN {c} = 'False' THEN '0' ELSE {c} END AS {c}"
           if c in STRINGS else c for c in keep]
    return (f"SELECT {', '.join(sel)} FROM read_parquet([{paths}], union_by_name = true, "
            f"filename = true) {where}")


DERIVED = """SELECT *, string_split(EvidenceImageName, ',') AS FormattedEvidenceImageName,
  list_transform(string_split(EvidenceImageName, ','), n -> EvidenceImageURL || n)
    AS FormattedEvidenceImageURL FROM evidence_images"""
SESSIONS_OUT = "SELECT " + ", ".join(
    {"sessionstartdatetime": "sessionstartdatetime AS session_start_date",
     "sessionenddatetime": "sessionenddatetime AS session_end_date"}.get(c, c)
    for c in SESSIONS) + " FROM sessions"


def expected(feeds, countries, first_day, days, stage_dir):
    """Expected digests of days 0..days-1; writes the two sinks as of the
    end of day 0 (derived arrays included) under `stage_dir`."""
    con = duckdb.connect()
    con.execute("""CREATE TABLE evidence_images (Sessionuid VARCHAR, Sceneuid VARCHAR,
        SceneType VARCHAR, EvidenceImageURL VARCHAR, EvidenceImageName VARCHAR,
        ReExportStatus VARCHAR, ReProcessedStatus VARCHAR, CreatedOnTime TIMESTAMP,
        country_code VARCHAR, PRIMARY KEY (Sessionuid, Sceneuid))""")
    con.execute("""CREATE TABLE sessions (Sessionuid VARCHAR PRIMARY KEY,
        sessionstartdatetime TIMESTAMP, sessionenddatetime TIMESTAMP, client_code VARCHAR,
        outlet_code VARCHAR, outlet_name VARCHAR, user_id VARCHAR, sessionstatus VARCHAR,
        latitude DOUBLE, longitude DOUBLE, country_code VARCHAR)""")
    out = {}
    for k in range(days):
        today = first_day + dt.timedelta(days=k)
        irmq = _batch(_window(feeds, "IRMQ", countries, today), IRMQ,
                      "WHERE EvidenceImageURL <> '' OR EvidenceImageURL IS NULL")
        con.execute(f"INSERT OR IGNORE INTO evidence_images BY NAME {irmq}")
        sess = _batch(_window(feeds, "IRSession", countries, today), SESSIONS)
        con.execute(f"INSERT OR IGNORE INTO sessions BY NAME {sess}")
        out[f"day_{k}"] = {"digest": digest.of_sql(con, VIEW)}
        if k == 0:
            for name, sql in (("evidence_images", DERIVED), ("sessions", SESSIONS_OUT)):
                os.makedirs(os.path.join(stage_dir, name))
                con.execute(f"COPY ({sql}) TO '{stage_dir}/{name}/part-00000.parquet' (FORMAT PARQUET)")
    return out
