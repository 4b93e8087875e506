"""Seeded input generator for the perfbench workloads.

The base tables are the sf0.1 `events`, `documents` and `embeddings`
tables, kept byte-for-byte in perfbench/data/sf0.1 (see README.md). The
seed draws only what varies between runs: the near-duplicates added to the
curation corpus (token-level edits of its documents), the fdsn request
stream and the ingest feed batches, whose rows take their attributes from
sf0.1 event rows. The same seed gives byte-identical files
(numpy PCG64 streams, pyarrow parquet writes with fixed options). The
program under test only ever sees the files written here; the properties
returned by `generate` go into the benchmark report.
"""
import datetime
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.1")

# The curation corpus is the first 400 of the 5,000 sf0.1 documents (by
# doc_id), so that a run with one pass over the six loop-class keys fits
# the benchmark's time budget; see perfbench/README.md. The subset is
# fixed, so that only the near-duplicates vary with the seed.
N_DOCS_CURATION = 400
NEAR_DUP_SHARE = (0.08, 0.12)  # drawn per seed
FEED_BATCHES = 40
FEED_WARMUP_BATCHES = 2
FEED_ROWS = 2_000
FEED_SHARES = {"new": 0.60, "supersede": 0.36, "malformed": 0.04}
READS_PER_COMMIT = 2
# fdsn request kinds follow this fixed 20-slot cycle: 50% fdsnws-event,
# 20% fdsnws-station, 15% event-id lookups, 15% keyset pages. Every seed
# has the same composition; the seed draws the parameters. A commit is
# followed by two reads, and a traced run traces every other commit with
# its reads, so slots 0-1 and slots 2-3 modulo 4 hold the same mix (within
# one request).
KIND_CYCLE = ("event event station page event station lookup event event lookup "
              "page event event page station event lookup station event event").split()
REQUEST_MIX = {k: KIND_CYCLE.count(k) / len(KIND_CYCLE) for k in sorted(set(KIND_CYCLE))}
CHECK_SHARE = 0.5  # share of fdsn requests recomputed in DuckDB

T0_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC; the sf0.1 events span 30 days
DAY_S = 86_400
FEED_HEADER = "event_id,ts,user_id,event_type,value,props\n"

WORKLOADS = ("curation_batch", "ingest_upsert")


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _base(name):
    return pq.read_table(os.path.join(BASE, name + ".parquet"))


def _near_dup(rng, toks, vocab):
    """Token-level edit of a document: replace, delete or insert ~5% of
    its tokens (at least one edit), new tokens drawn from the corpus
    vocabulary."""
    out = list(toks)
    for _ in range(max(1, len(out) // 20)):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(out)))
        if op == 0:
            out[i] = vocab[int(rng.integers(0, len(vocab)))]
        elif op == 1 and len(out) > 10:
            del out[i]
        else:
            out.insert(i, vocab[int(rng.integers(0, len(vocab)))])
    return out


def _curation_documents(rng, dup_share):
    """The first sf0.1 documents plus near-duplicate copies of them; a copy
    keeps its source's lang and source and takes a new doc_id above every
    sf0.1 id."""
    base = _base("documents").sort_by("doc_id").to_pydict()
    docs = {c: v[:N_DOCS_CURATION] for c, v in base.items()}
    toks = [t.split(" ") for t in docs["text"]]
    vocab = sorted({w for t in base["text"] for w in t.split(" ")})
    n_dup = int(round(N_DOCS_CURATION * dup_share))
    next_id = max(base["doc_id"]) + 1
    for k, s in enumerate(rng.integers(0, N_DOCS_CURATION, n_dup)):
        text = " ".join(_near_dup(rng, toks[int(s)], vocab))
        docs["doc_id"].append(next_id + k)
        docs["text"].append(text)
        docs["lang"].append(docs["lang"][int(s)])
        docs["source"].append(docs["source"][int(s)])
        docs["n_chars"].append(len(text))
    schema = pq.read_schema(os.path.join(BASE, "documents.parquet")).remove_metadata()
    return pa.table(docs, schema=schema), n_dup


def _day(offset_s):
    """Epoch seconds -> 'YYYY-MM-DD HH:MM:SS' (UTC)."""
    return datetime.datetime.fromtimestamp(offset_s, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _event_request(rng):
    r = rng.random
    p = {}
    if r() < 0.8:
        start = T0_S + int(rng.integers(0, 30 * DAY_S))
        p["starttime"] = _day(start)
        p["endtime"] = _day(start + int(rng.integers(1, 11)) * DAY_S)
    geo = r()
    if geo < 0.4:
        lat0 = float(rng.integers(-90, 60)); lon0 = float(rng.integers(-180, 120))
        p.update(minlatitude=lat0, maxlatitude=lat0 + float(rng.integers(20, 91)),
                 minlongitude=lon0, maxlongitude=lon0 + float(rng.integers(40, 181)))
    elif geo < 0.7:
        p.update(latitude=float(rng.integers(-80, 81)) + 0.25,
                 longitude=float(rng.integers(-170, 171)) + 0.25,
                 maxradius=float(rng.integers(10, 91)))
        if r() < 0.3:
            p["minradius"] = float(rng.integers(0, 10))
    if r() < 0.3:
        lo = float(rng.integers(0, 300))
        p.update(mindepth=lo, maxdepth=lo + float(rng.integers(100, 401)))
    if r() < 0.6:
        lo = float(rng.integers(0, 41)) / 10.0
        p["minmagnitude"] = lo
        if r() < 0.3:
            p["maxmagnitude"] = lo + float(rng.integers(5, 40)) / 10.0
    if r() < 0.25:
        p["magnitudetype"] = ["mb", "ms", "mw", "ml"][int(rng.integers(0, 4))]
    if r() < 0.25:
        p["agency"] = "AG%d" % int(rng.integers(0, 7))
    if r() < 0.1:
        p["contributor"] = "C%d" % int(rng.integers(0, 5))
    p["orderby"] = ["time", "time-asc", "magnitude", "magnitude-asc"][int(rng.integers(0, 4))]
    if r() < 0.9:
        p["limit"] = int(rng.integers(10, 201))
        if r() < 0.3:
            p["offset"] = int(rng.integers(1, 51))
    return {"kind": "event", "params": p}


def _station_request(rng):
    r = rng.random
    p = {}
    if r() < 0.5:
        p["network"] = ["N*", "N1", "N?", "N3", "N7"][int(rng.integers(0, 5))]
    if r() < 0.6:
        p["station"] = ["ST1*", "ST2?", "ST3*5", "ST??", "ST1?0*"][int(rng.integers(0, 5))]
    if r() < 0.5:
        p["channel"] = ["*e*", "c*", "view", "?i*", "*"][int(rng.integers(0, 5))]
    t = r()
    if t < 0.4:
        p["startbefore"] = _day(T0_S + int(rng.integers(1, 10)) * DAY_S)
        p["endafter"] = _day(T0_S + int(rng.integers(20, 30)) * DAY_S)
    elif t < 0.7:
        s = T0_S + int(rng.integers(0, 28)) * DAY_S
        p["starttime"] = _day(s)
        p["endtime"] = _day(s + int(rng.integers(1, 5)) * DAY_S)
    p["level"] = ["channel", "station", "network"][int(rng.choice(3, p=[0.3, 0.5, 0.2]))]
    return {"kind": "station", "params": p}


def _requests(rng, n, event_ids, docs):
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        if kind == "event":
            out.append(_event_request(rng))
        elif kind == "station":
            out.append(_station_request(rng))
        elif kind == "lookup":
            out.append({"kind": "lookup", "params": {"eventid": int(rng.choice(event_ids))}})
        else:
            # the cursor is a stored document's (n_chars, doc_id)
            d = int(rng.integers(0, len(docs["doc_id"])))
            out.append({"kind": "page", "params": {
                "cursor_n_chars": int(docs["n_chars"][d]),
                "cursor_doc_id": int(docs["doc_id"][d]),
                "limit": int(rng.integers(10, 51))}})
    return out


def _write_jsonl(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def _csv_field(s):
    """A CSV field as Spark's reader expects it (quote '"', escape '\\')."""
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _feed(rng, out_dir, events):
    """CSV feed batches plus the truth table of accepted rows.

    Each batch holds new events (ids above every stored id), re-uploads
    that supersede an existing id (seeded or added by an earlier batch)
    and malformed rows. A row's user_id, event_type, value and props are
    those of a random sf0.1 event; its time falls after the sf0.1 month,
    one hour per batch. Ids are unique within a batch, so latest-wins is
    decided by batch order alone."""
    staging = os.path.join(out_dir, "staging")
    os.makedirs(staging)
    n_batches = FEED_WARMUP_BATCHES + FEED_BATCHES
    n_base = len(events["event_id"])
    next_id = int(events["event_id"].max()) + 1
    n_new = int(FEED_ROWS * FEED_SHARES["new"])
    n_bad = int(FEED_ROWS * FEED_SHARES["malformed"])
    n_sup = FEED_ROWS - n_new - n_bad
    truth = {c: [] for c in ("batch", "event_id", "ts_s", "user_id", "event_type", "value", "props")}
    bad_total = 0
    sizes = []
    for b in range(n_batches):
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        sup_ids = rng.choice(next_id, n_sup, replace=False)
        next_id += n_new
        good_ids = np.concatenate([new_ids, sup_ids])
        ng = len(good_ids)
        ts_s = T0_S + 30 * DAY_S + b * 3600 + rng.integers(0, 3600, ng)
        src = rng.integers(0, n_base, ng)
        user, etype, value, props = (events[c][src].tolist()
                                     for c in ("user_id", "event_type", "value", "props"))
        lines = ["%d,%s,%d,%s,%r,%s\n" % (good_ids[i], _day(int(ts_s[i])), user[i], etype[i],
                                          value[i], _csv_field(props[i])) for i in range(ng)]
        bad_ids = rng.choice(next_id, n_bad)
        for i in range(n_bad):
            cls = int(rng.integers(0, 3))
            if cls == 0:
                line = "%d,%s,%d,view,n/a,\"{\\\"k\\\": 1}\"\n" % (bad_ids[i], _day(T0_S), 1)
            elif cls == 1:
                line = "%d,2024-13-45 99:00:00,%d,click,1.5,\"{\\\"k\\\": 2}\"\n" % (bad_ids[i], 2)
            else:
                line = "x%d,%s,%d,error,2.5,\"{\\\"k\\\": 3}\"\n" % (bad_ids[i], _day(T0_S), 3)
            lines.append(line)
        order = rng.permutation(len(lines))
        body = FEED_HEADER + "".join(lines[i] for i in order)
        path = os.path.join(staging, "batch_%04d.csv" % b)
        with open(path, "w") as f:
            f.write(body)
        sizes.append(len(body.encode()))
        bad_total += n_bad
        truth["batch"] += [b] * ng
        truth["event_id"] += list(good_ids)
        truth["ts_s"] += list(ts_s)
        truth["user_id"] += user
        truth["event_type"] += etype
        truth["value"] += value
        truth["props"] += props
    table = pa.table({
        "batch": pa.array(truth["batch"], pa.int64()),
        "event_id": pa.array(truth["event_id"], pa.int64()),
        "ts_s": pa.array(truth["ts_s"], pa.int64()),
        "user_id": pa.array(truth["user_id"], pa.int64()),
        "event_type": pa.array(truth["event_type"], pa.string()),
        "value": pa.array(truth["value"], pa.float64()),
        "props": pa.array(truth["props"], pa.string()),
    })
    _write_parquet(table, os.path.join(out_dir, "feed_truth.parquet"))
    return {"feed_batches": n_batches, "feed_warmup_batches": FEED_WARMUP_BATCHES,
            "feed_rows_per_batch": FEED_ROWS, "feed_new_per_batch": n_new,
            "feed_supersede_per_batch": n_sup, "feed_malformed_per_batch": n_bad,
            "feed_malformed_total": bad_total,
            "feed_bytes_per_batch_median": int(np.median(sizes))}


def generate(workload, seed, out_dir):
    """Write the inputs of `workload` for `seed` under `out_dir` (which
    must not exist yet) and return the input properties."""
    if workload not in WORKLOADS:
        raise ValueError("unknown workload %r" % workload)
    os.makedirs(out_dir)
    rng = np.random.Generator(np.random.PCG64([seed, WORKLOADS.index(workload)]))
    props = {"workload": workload, "seed": seed, "base": "sf0.1"}
    if workload == "curation_batch":
        share = float(rng.uniform(*NEAR_DUP_SHARE))
        docs, n_dup = _curation_documents(rng, share)
        _write_parquet(docs, os.path.join(out_dir, "documents.parquet"))
        shutil.copyfile(os.path.join(BASE, "embeddings.parquet"),
                        os.path.join(out_dir, "embeddings.parquet"))
        props.update(documents=docs.num_rows, base_documents=N_DOCS_CURATION,
                     near_dup_documents=n_dup, near_dup_share=round(n_dup / docs.num_rows, 4),
                     embeddings=pq.ParquetFile(os.path.join(BASE, "embeddings.parquet")).metadata.num_rows)
    else:
        for t in ("events", "documents"):
            shutil.copyfile(os.path.join(BASE, t + ".parquet"), os.path.join(out_dir, t + ".parquet"))
        base = _base("events")
        events = {c: base.column(c).to_numpy()
                  for c in ("event_id", "user_id", "event_type", "value", "props")}
        docs = _base("documents").select(["doc_id", "n_chars"]).to_pydict()
        props.update(events=len(events["event_id"]), documents=len(docs["doc_id"]),
                     request_mix=REQUEST_MIX)
        props.update(_feed(rng, out_dir, events))
        n_req = (FEED_BATCHES + FEED_WARMUP_BATCHES) * READS_PER_COMMIT
        props["reads_per_commit"] = READS_PER_COMMIT
        reqs = _requests(rng, n_req, events["event_id"], docs)
        _write_jsonl(reqs, os.path.join(out_dir, "requests.jsonl"))
        props["requests"] = n_req
        props["check_sample"] = sorted(int(i) for i in rng.choice(n_req, int(n_req * CHECK_SHARE), replace=False))
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    return props
