"""Correctness checks of a benchmark run, made in DuckDB after the timed
window has closed.

- fdsn requests (the live reads of ingest_upsert): a seeded
  sample is recomputed over `Indexers.EventIndex.oracleCte` /
  `ChannelIndex.oracleCte` (the SQL texts the harness exports) with the same
  predicates, ordering and paging; rows must match exactly and in order.
- curation keys: the output of each key's first call (the warm-up) and of
  one more call after the timed window is compared with its
  `SparkEntry.oracleSql` under the exactness rules of tools/check.py
  (columns sorted by name, rows sorted, exact values, type classes).
- ingest_upsert: the final store must equal latest-wins over the seeded
  events and the accepted feed rows, and the quarantine count must equal
  the number of injected malformed rows.

Every function returns a list of (name, ok, detail) tuples.
"""
import concurrent.futures
import glob
import json
import os
import sys

import duckdb

# the exactness rules of tools/check.py, shared rather than copied
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon, tclass  # noqa: E402


def _fetch(con, sql):
    """(canonical columns, canonical rows, column types) of a query."""
    q = con.execute(sql)
    cols, rows = canon(q.fetchall(), [d[0] for d in q.description])
    return cols, rows, {r[0]: r[1] for r in con.execute("DESCRIBE " + sql).fetchall()}


def compare_exact(got, want):
    """(ok, detail) for a Spark result against the oracle's, both as
    `_fetch` returns them: columns sorted by name, rows sorted, exact
    values, type classes."""
    (sc, sr, stypes), (oc, orr, otypes) = got, want
    if sc != oc:
        return False, "columns %s vs %s" % (sc, oc)
    tdiff = [c for c in sorted(stypes) if tclass(stypes.get(c)) != tclass(otypes.get(c))]
    if tdiff:
        return False, "types differ: %s" % [(c, stypes[c], otypes.get(c)) for c in tdiff]
    if sr != orr:
        return False, "%d vs %d rows differ" % (len(sr), len(orr))
    return True, "%d rows" % len(sr)


CALLS = ("first", "last")  # the warm-up call and the call after the window


def check_curation(input_dir, out_dir):
    """Both checked calls of each key against its oracle. Each key on its
    own connection, in parallel: the keys' oracles are mostly
    single-threaded (d11's recursive CTE takes half the time)."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    def check(key):
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, input_dir, t))
        try:
            want = _fetch(con, oracle[key])
        except duckdb.Error as e:
            return key, False, "oracle error: %s" % e
        details, ok = [], True
        for call in CALLS:
            path = os.path.join(out_dir, "curation", call, key)
            if glob.glob(os.path.join(path, "*.parquet")):
                good, detail = compare_exact(_fetch(con, "SELECT * FROM read_parquet('%s/*.parquet')" % path), want)
            else:
                good, detail = False, "no output"
            ok = ok and good
            details.append("%s call: %s" % (call, detail))
        return key, ok, "; ".join(details)

    with concurrent.futures.ThreadPoolExecutor(max_workers=len(oracle)) as pool:
        return list(pool.map(check, sorted(oracle)))


# ---------------------------------------------------------------- fdsn


def _lit(s):
    return "'" + str(s).replace("'", "''") + "'"


def _like(pattern):
    """FdsnQuery.fdsnWildcardToLike, for DuckDB (escape char backslash)."""
    out = []
    for c in pattern:
        out.append({"*": "%", "?": "_", "%": "\\%", "_": "\\_", "\\": "\\\\"}.get(c, c))
    return _lit("".join(out)) + " ESCAPE '\\'"


def _ts(s):
    return "TIMESTAMP " + _lit(s)


def _secs(c):
    return "CAST(floor(epoch(%s)) AS BIGINT)" % c


def event_sql(p, radius_sql, where=None):
    preds = []
    if "starttime" in p: preds.append("time >= " + _ts(p["starttime"]))
    if "endtime" in p: preds.append("time <= " + _ts(p["endtime"]))
    for key, colname, op in (("minlatitude", "latitude", ">="), ("maxlatitude", "latitude", "<="),
                             ("minlongitude", "longitude", ">="), ("maxlongitude", "longitude", "<="),
                             ("mindepth", "depth", ">="), ("maxdepth", "depth", "<="),
                             ("minmagnitude", "magnitude", ">="), ("maxmagnitude", "magnitude", "<=")):
        if key in p:
            preds.append("%s %s %r" % (colname, op, float(p[key])))
    for key, colname in (("magnitudetype", "magnitude_type"), ("agency", "agency"),
                         ("contributor", "contributor")):
        if key in p:
            preds.append("%s = %s" % (colname, _lit(p[key])))
    if radius_sql:
        preds.append("(%s) >= %r AND (%s) <= %r" % (radius_sql, float(p.get("minradius", 0.0)),
                                                  radius_sql, float(p.get("maxradius", 180.0))))
    if where:
        preds.append(where)
    order = {"time": "time DESC", "time-asc": "time ASC", "magnitude": "magnitude DESC",
             "magnitude-asc": "magnitude ASC"}[p.get("orderby", "time")]
    sql = ("SELECT event_id, %s AS time_s, magnitude, depth, latitude, longitude, "
           "magnitude_type, agency FROM ev" % _secs("time"))
    if preds:
        sql += " WHERE " + " AND ".join("(%s)" % x for x in preds)
    sql += " ORDER BY %s, event_id ASC" % order
    if "limit" in p:
        sql += " LIMIT %d" % p["limit"]
    if "offset" in p:
        sql += " OFFSET %d" % p["offset"]
    return sql


def station_sql(p):
    preds = []
    for key in ("network", "station", "channel"):
        if key in p:
            preds.append("%s LIKE %s" % (key, _like(p[key])))
    for key, cond in (("startbefore", "epoch_start < %s"), ("startafter", "epoch_start > %s"),
                      ("endbefore", "epoch_end < %s"), ("endafter", "epoch_end > %s"),
                      ("starttime", "epoch_end >= %s"), ("endtime", "epoch_start <= %s")):
        if key in p:
            preds.append(cond % _ts(p[key]))
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    level = p.get("level", "channel")
    if level == "channel":
        return ("SELECT network, station, channel, %s AS start_s, %s AS end_s, n_samples "
                "FROM ch%s ORDER BY network, station, channel"
                % (_secs("epoch_start"), _secs("epoch_end"), where))
    if level == "station":
        return ("SELECT network, station, count(*) AS n_channels, %s AS start_s, %s AS end_s, "
                "min(latitude) AS latitude, min(longitude) AS longitude FROM ch%s "
                "GROUP BY network, station ORDER BY network, station"
                % (_secs("min(epoch_start)"), _secs("max(epoch_end)"), where))
    return ("SELECT network, count(DISTINCT station) AS n_stations, count(*) AS n_channels, "
            "%s AS start_s, %s AS end_s FROM ch%s GROUP BY network ORDER BY network"
            % (_secs("min(epoch_start)"), _secs("max(epoch_end)"), where))


def request_sql(rec):
    p = rec["params"]
    kind = rec["kind"]
    if kind == "event":
        return event_sql(p, rec.get("radius_sql"))
    if kind == "lookup":
        return event_sql({"orderby": "time"}, None, "event_id = %d" % p["eventid"])
    if kind == "station":
        return station_sql(p)
    if kind == "page":
        return ("SELECT doc_id, source, n_chars FROM documents "
                "WHERE n_chars < {c} OR (n_chars = {c} AND doc_id > {d}) "
                "ORDER BY n_chars DESC, doc_id ASC LIMIT {l}").format(
                    c=p["cursor_n_chars"], d=p["cursor_doc_id"], l=p["limit"])
    raise ValueError(kind)


def _same(a, b):
    return len(a) == len(b) and all(len(x) == len(y) and all(u == v for u, v in zip(x, y))
                                    for x, y in zip(a, b))


def _fdsn_views(con, out_dir):
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con.execute("CREATE OR REPLACE VIEW ev AS " + oracle["event_index"])
    con.execute("CREATE OR REPLACE VIEW ch AS " + oracle["channel_index"])


def check_requests(input_dir, out_dir, state_view):
    """Recompute every checked request. `state_view(con, after_batch)`
    defines the `events` view as the store state a read saw."""
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')" % input_dir)
    state_view(con, -1)
    _fdsn_views(con, out_dir)
    results = []
    seen = None
    for line in open(os.path.join(out_dir, "fdsn_checked.jsonl")):
        rec = json.loads(line)
        if rec["after_batch"] != seen:
            seen = rec["after_batch"]
            state_view(con, seen)
        name = "request %d (%s)" % (rec["i"], rec["kind"])
        try:
            want = [list(r) for r in con.execute(request_sql(rec)).fetchall()]
        except duckdb.Error as e:
            results.append((name, False, "oracle error: %s" % e))
            continue
        ok = _same(rec["rows"], want)
        results.append((name, ok, "%d rows" % len(want) if ok else
                        "%d vs %d rows; first spark %s oracle %s" % (
                            len(rec["rows"]), len(want), rec["rows"][:1], want[:1])))
    return results

# -------------------------------------------------------------- ingest

_LATEST = """
CREATE OR REPLACE VIEW events AS
WITH feed AS (SELECT * FROM feed_truth WHERE batch <= {b}),
latest AS (SELECT * FROM feed
           QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY batch DESC) = 1)
SELECT event_id, ts, user_id, event_type, value, props FROM seed
WHERE event_id NOT IN (SELECT event_id FROM latest)
UNION ALL
SELECT event_id, make_timestamp(ts_s * 1000000) AS ts, user_id, event_type, value, props
FROM latest
"""


def ingest_state(input_dir):
    """`state_view` for check_requests: the store after batch b."""
    def view(con, b):
        con.execute("CREATE OR REPLACE VIEW seed AS SELECT * FROM read_parquet('%s/events.parquet')" % input_dir)
        con.execute("CREATE OR REPLACE VIEW feed_truth AS SELECT * FROM read_parquet('%s/feed_truth.parquet')"
                    % input_dir)
        con.execute(_LATEST.format(b=b))
    return view


def check_ingest(input_dir, store, last_batch, quarantined, props):
    """Final store against DuckDB latest-wins; quarantine count against the
    injected count. Returns (results, store properties)."""
    con = duckdb.connect()
    ingest_state(input_dir)(con, last_batch)
    cols = "event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props"
    got = "SELECT %s FROM read_parquet('%s/*.parquet')" % (cols, store)
    want = "SELECT %s FROM events" % cols
    n_got = con.execute("SELECT count(*) FROM (%s)" % got).fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM (%s)" % want).fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)" % (got, want)).fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)" % (want, got)).fetchone()[0]
    results = [("final store", n_got == n_want and extra == 0 and missing == 0,
                "%d rows, %d expected, %d unexpected, %d missing" % (n_got, n_want, extra, missing))]
    injected = props["feed_malformed_per_batch"] * (last_batch + 1)
    results.append(("quarantine", quarantined == injected,
                    "%s quarantined, %d injected" % (quarantined, injected)))
    # CSV bytes of the live rows, rendered as the feed renders them
    csv_bytes = con.execute(
        "SELECT sum(length(concat_ws(',', event_id, strftime(ts, '%Y-%m-%d %H:%M:%S'), user_id, "
        "event_type, value, props)) + 1) FROM events").fetchone()[0]
    files = glob.glob(os.path.join(store, "*.parquet"))
    store_bytes = sum(os.path.getsize(f) for f in files)
    return results, {"store_files": len(files), "store_bytes": store_bytes,
                     "live_rows": n_want, "live_csv_bytes": int(csv_bytes),
                     "space_amp": store_bytes / csv_bytes}
