"""Seeded input generator for the lakehouse benchmark.

Everything the library reads is made here from the seed alone, so the same
seed always gives byte-identical inputs:

* ``lake_feed``: an AIS-shaped dirty CSV feed, one file per day, carrying
  the source's drifted column names and planted dirt at fixed shares. The
  exact count of every kind of dirt is returned, so the pipeline's outputs
  can be reconciled row for row.
* ``sf_dir``: an sf-style directory (``events``, ``documents``,
  ``embeddings`` parquet tables, the schemas of the synthetic test tables)
  for ``SparkEntry.queries``. The documents carry planted near-duplicate
  and exact-duplicate groups.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Raw feed header: the AIS source's own column names. The staging schema
# uses canonical names (user_id, ts, lat, lon, speed, course, heading), so
# the pipeline's column mapping does the renaming; VesselName is a stray
# column the schema drops and heading is an expected column the feed lacks.
FEED_COLUMNS = ["MMSI", "BaseDateTime", "LAT", "LON", "SOG", "COG", "VesselName"]

# Share of base rows that carry each kind of dirt (one kind per row).
DIRT_SHARES = {
    "corrupt": 0.005,        # non-numeric MMSI -> CSV quarantine
    "unparseable_ts": 0.005,  # timestamp no format accepts -> dropped at parse
    "empty_lat": 0.005,      # empty LAT -> null -> validity quarantine
    "bad_coords": 0.010,     # LAT/LON out of range -> validity quarantine
    "negative_sog": 0.005,   # SOG < 0 -> expectations (DQ) quarantine
}
# Extra exact copies of clean rows, as a share of base rows.
DUPLICATE_SHARE = 0.02
# Share of clean rows whose timestamp uses each accepted format.
TS_FORMAT_SHARES = {"iso": 0.90, "space": 0.08, "iso_millis_z": 0.02}

FEED_START = np.datetime64("2024-03-01T00:00:00")

VOCAB = ("the a data spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big window row part table stream "
         "merge key join vector customer").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _write_csv(path, lines):
    with open(path, "w") as f:
        f.write(",".join(FEED_COLUMNS) + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def _fmt_ts(t, fmt):
    s = str(t)[:19]  # YYYY-MM-DDTHH:MM:SS
    if fmt == "iso":
        return s
    if fmt == "space":
        return s.replace("T", " ")
    return s + ".000Z"


def lake_feed(out_dir, seed, n_vessels, n_days, points_per_vessel_day):
    """Write the dirty feed to ``out_dir/<day>.csv`` and return its manifest."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    mmsi = 366000000 + rng.choice(900000, size=n_vessels, replace=False)
    days = {}
    counts = {k: 0 for k in DIRT_SHARES}
    counts.update(duplicates=0, clean=0, raw_rows=0)
    fmts = list(TS_FORMAT_SHARES)
    fmt_p = list(TS_FORMAT_SHARES.values())
    kinds = ["clean"] + list(DIRT_SHARES)
    kind_p = [1.0 - sum(DIRT_SHARES.values())] + list(DIRT_SHARES.values())
    for d in range(n_days):
        day0 = FEED_START + np.timedelta64(d, "D")
        day = str(day0)[:10]
        lines = []
        for v in range(n_vessels):
            n = points_per_vessel_day
            # distinct seconds within the day, sorted: one point per second
            # at most, so (vessel, ts) is unique before duplicates are added
            secs = np.sort(rng.choice(86400, size=n, replace=False))
            lat0, lon0 = rng.uniform(-60, 60), rng.uniform(-170, 170)
            lat = np.clip(lat0 + np.cumsum(rng.normal(0, 0.01, n)), -89.9, 89.9)
            lon = np.clip(lon0 + np.cumsum(rng.normal(0, 0.01, n)), -179.9, 179.9)
            # a third of the points sit at anchor, the rest move; a few
            # exceed the 102.2 kn cap the pipeline clamps to
            sog = np.where(rng.random(n) < 0.33, rng.uniform(0, 0.4, n),
                           rng.uniform(0.5, 30, n))
            sog = np.where(rng.random(n) < 0.005, rng.uniform(103, 200, n), sog)
            cog = rng.uniform(0, 360, n)
            kind = rng.choice(len(kinds), size=n, p=kind_p)
            fmt = rng.choice(len(fmts), size=n, p=fmt_p)
            dup = rng.random(n) < DUPLICATE_SHARE
            for i in range(n):
                k = kinds[kind[i]]
                t = day0 + np.timedelta64(int(secs[i]), "s")
                f_mmsi = str(mmsi[v])
                f_ts = _fmt_ts(t, fmts[fmt[i]])
                f_lat, f_lon = f"{lat[i]:.5f}", f"{lon[i]:.5f}"
                f_sog, f_cog = f"{sog[i]:.1f}", f"{cog[i]:.1f}"
                name = "" if i % 7 == 0 else f"VESSEL {v}"
                if k == "corrupt":
                    f_mmsi = f"X{mmsi[v] % 1000}Z"
                elif k == "unparseable_ts":
                    f_ts = ("n/a", f"{str(t)[5:7]}/{str(t)[8:10]}/2024 {str(t)[11:19]}",
                            str(t)[:10] + " 25:61:00")[i % 3]
                elif k == "empty_lat":
                    f_lat = ""
                elif k == "bad_coords":
                    if i % 2:
                        f_lat = f"{95 + lat[i] % 5:.5f}"
                    else:
                        f_lon = f"{-181 - lon[i] % 5:.5f}"
                elif k == "negative_sog":
                    f_sog = f"{-0.1 - sog[i]:.1f}"
                line = ",".join([f_mmsi, f_ts, f_lat, f_lon, f_sog, f_cog, name])
                lines.append(line)
                counts[k] += 1
                if k == "clean" and dup[i]:
                    lines.append(line)
                    counts["duplicates"] += 1
        counts["raw_rows"] += len(lines)
        path = os.path.join(out_dir, f"{day}.csv")
        _write_csv(path, lines)
        days[day] = os.path.getsize(path)
    return {
        "feed_dir": out_dir,
        "days": sorted(days),
        "raw_bytes": sum(days.values()),
        "counts": counts,
        "vessels": sorted(int(m) for m in mmsi),
        "dirt_shares": DIRT_SHARES,
        "duplicate_share": DUPLICATE_SHARE,
        "ts_format_shares": TS_FORMAT_SHARES,
    }


def _words(rng, n):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _documents(rng, n_docs, n_groups, group_size, n_exact):
    """Background docs plus planted groups.

    Each near-duplicate group is one 60-word base text and copies that
    differ from it in one word (3-gram Jaccard about 0.9). Exact groups are
    identical copies of one text. Planted docs take the highest ids.
    """
    texts, groups = [], []
    n_background = n_docs - n_groups * group_size - n_exact * 2
    if n_background < 0:
        raise ValueError("too many planted documents for n_docs")
    for _ in range(n_background):
        texts.append(_words(rng, int(rng.integers(8, 90))))
        groups.append(None)
    for g in range(n_groups):
        base = [VOCAB[i] for i in rng.integers(0, len(VOCAB), 60)]
        for m in range(group_size):
            words = list(base)
            if m:
                j = 5 + 10 * m + int(rng.integers(0, 5))
                words[j] = "variant%d" % m
            texts.append(" ".join(words))
            groups.append(("near", g))
    for g in range(n_exact):
        t = _words(rng, 50)
        texts += [t, t]
        groups += [("exact", g), ("exact", g)]
    return texts, groups


def sf_dir(out_dir, seed, n_events, n_users, n_docs, n_vecs,
           n_groups=0, group_size=3, n_exact=0):
    """Write events/documents/embeddings parquet tables; return the manifest."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    # events: January 2024, ids in time order
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(np.round(rng.exponential(60.0, n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts, groups = _documents(rng, n_docs, n_groups, group_size, n_exact)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array(["src%d" % i for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    planted = {}
    for doc_id, g in enumerate(groups):
        if g is not None:
            planted.setdefault("%s:%d" % g, []).append(doc_id)
    return {
        "sf_dir": out_dir,
        "rows": {"events": n_events, "documents": n_docs, "embeddings": n_vecs},
        "users": n_users,
        "planted_groups": planted,
        "near_dup_groups": n_groups,
        "near_dup_group_size": group_size,
        "exact_dup_pairs": n_exact,
    }

