"""Seeded input generators for the benchmark.

Every generator takes a seed and an output directory and writes
byte-identical files for the same arguments (gzip headers carry
mtime 0, parquet files carry no wall-clock metadata). Each one also
returns the truth the benchmark checks the program against.

  changeset_world   planet-style changeset dump (.osm.bz2), a minutely
                    diff feed in the replication layout
                    (NNN/NNN/NNN.osm.gz), and the last-wins final state
  relational_tables the driver-table shapes (orders, lineitem, ...)
                    the SparkEntry relational/map/spatial/stream
                    entries read
  curate_corpus     documents/embeddings with planted duplicate pairs
"""
import bz2
import datetime as dt
import gzip
import io
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2015, 11, 1, tzinfo=dt.timezone.utc)

# README.md:120-124 envelope (Liberty Island); planted boxes land inside
ENV_LON = (-74.0474545, -74.0433990)
ENV_LAT = (40.6884971, 40.6911817)
AREA_LIMIT_M2 = 2.25e8  # README.md:77, 225 km^2

EDITORS = ["JOSM/1.5 (8339)", "JOSM/1.5 (10526)", "iD 2.20.1", "iD 2.21.0",
           "Potlatch 2", "StreetComplete 45.0", "Vespucci 17.1"]
WORDS = ["fix", "buildings", "roads", "add", "poi", "survey", "import",
         "tidy", "names", "paths", "landuse", "rivers", "bridge", "shops"]


def _ts(seconds):
    return (EPOCH + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _deg(micro):
    """Signed integer 1e-7 degrees -> the fixed 7-decimal string both the
    XML and the decimal(10,7) column carry."""
    sign = "-" if micro < 0 else ""
    a = abs(micro)
    return f"{sign}{a // 10_000_000}.{a % 10_000_000:07d}"


def bbox_area(min_lon, min_lat, max_lon, max_lat):
    """The program's equal-area envelope formula (authalic sphere)."""
    r = 6371007.0
    return (r * r * (max_lon - min_lon) * math.pi / 180.0
            * (math.sin(max_lat * math.pi / 180.0) - math.sin(min_lat * math.pi / 180.0)))


def _esc(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


class _World:
    """Last-wins changeset state, kept exactly as the tables should hold
    it after each applied diff."""

    def __init__(self, rng):
        self.rng = rng
        self.cs = {}        # id -> dict
        self.comments = {}  # id -> list of (uid, user, date_s, text)
        self.max_id = 0

    def new_changeset(self, cid, t, recent=True):
        rng = self.rng
        anon = rng.random() < 0.02
        uid = None if anon else int(rng.paretovariate(1.2)) % 4000 + 1
        kind = rng.random()
        if kind < 0.10:
            box = None
        elif kind < 0.13:  # planted dense region, strictly inside the envelope
            lo_lon, hi_lon = (int(round(v * 1e7)) for v in ENV_LON)
            lo_lat, hi_lat = (int(round(v * 1e7)) for v in ENV_LAT)
            a = rng.randint(lo_lon + 200, hi_lon - 2000)
            b = rng.randint(a + 100, min(a + 1500, hi_lon - 200))
            c = rng.randint(lo_lat + 200, hi_lat - 2000)
            d = rng.randint(c + 100, min(c + 1500, hi_lat - 200))
            box = (a, b, c, d)
        else:
            small = rng.random() < 0.6
            while True:
                lon = rng.randint(-170_0000000, 160_0000000)
                lat = rng.randint(-60_0000000, 60_0000000)
                if small:  # < ~30 km^2
                    dlon = rng.randint(1000, 500_000)
                    dlat = rng.randint(1000, 500_000)
                else:      # > ~3000 km^2
                    dlon = rng.randint(5_000_000, 30_000_000)
                    dlat = rng.randint(5_000_000, 30_000_000)
                box = (lon, lon + dlon, lat, lat + dlat)
                # keep everything else well clear of the planted envelope
                if not (box[0] < -73_0000000 and box[1] > -75_0000000
                        and box[2] < 41_0000000 and box[3] > 40_0000000):
                    break
        tags = {"created_by": rng.choice(EDITORS)}
        if rng.random() < 0.6:
            tags["comment"] = " ".join(rng.sample(WORDS, rng.randint(1, 4)))
        if rng.random() < 0.2:
            tags["source"] = rng.choice(["Bing", "survey", "GPS & local knowledge"])
        is_open = recent and rng.random() < 0.3
        self.cs[cid] = {
            "id": cid, "uid": uid, "user": None if anon else f"user{uid}",
            "created": t, "closed": None if is_open else t + rng.randint(60, 3600),
            "open": is_open, "num_changes": rng.randint(1, 500), "box": box,
            "tags": tags}
        if rng.random() < 0.05:
            self.comments[cid] = [self._comment(t)]
        self.max_id = max(self.max_id, cid)

    def _comment(self, t):
        u = self.rng.randint(1, 4000)
        text = " ".join(self.rng.sample(WORDS, 3)) + self.rng.choice(["", " & thanks", " <ok>"])
        return (u, f"user{u}", t + self.rng.randint(60, 86400), text)

    def update(self, cid, t):
        c = self.cs[cid]
        rng = self.rng
        c["num_changes"] = c["num_changes"] + rng.randint(1, 50)
        if c["open"] and rng.random() < 0.7:
            c["open"] = False
            c["closed"] = max(c["created"], t)
        elif not c["open"]:
            c["closed"] = max(c["closed"], t)
        if rng.random() < 0.3:
            c["tags"] = dict(c["tags"], comment=" ".join(rng.sample(WORDS, 2)))
        if rng.random() < 0.15:
            self.comments.setdefault(cid, []).append(self._comment(t))

    def xml(self, cid):
        c = self.cs[cid]
        a = [f'id="{cid}"', f'created_at="{_ts(c["created"])}"']
        if c["closed"] is not None:
            a.append(f'closed_at="{_ts(c["closed"])}"')
        a.append(f'open="{"true" if c["open"] else "false"}"')
        a.append(f'num_changes="{c["num_changes"]}"')
        if c["uid"] is not None:
            a.append(f'user="{c["user"]}" uid="{c["uid"]}"')
        if c["box"] is not None:
            mnlon, mxlon, mnlat, mxlat = c["box"]
            a.append(f'min_lat="{_deg(mnlat)}" max_lat="{_deg(mxlat)}" '
                     f'min_lon="{_deg(mnlon)}" max_lon="{_deg(mxlon)}"')
        out = [f'  <changeset {" ".join(a)}>\n']
        for k in sorted(c["tags"]):
            out.append(f'    <tag k="{_esc(k)}" v="{_esc(c["tags"][k])}"/>\n')
        cms = self.comments.get(cid)
        if cms:
            out.append("    <discussion>\n")
            for (u, un, t, text) in cms:
                out.append(f'      <comment uid="{u}" user="{un}" date="{_ts(t)}">'
                           f'<text>{_esc(text)}</text></comment>\n')
            out.append("    </discussion>\n")
        out.append("  </changeset>\n")
        return "".join(out)

    def row(self, cid):
        """Canonical row string; perfbench.Checks.changesetRow builds the
        same string from a Spark row."""
        c = self.cs[cid]
        box = c["box"]

        def n(v):
            return "null" if v is None else str(v)
        coords = ["null"] * 4 if box is None else \
            [_deg(box[2]), _deg(box[3]), _deg(box[0]), _deg(box[1])]
        tags = ",".join(f"{k}={c['tags'][k]}" for k in sorted(c["tags"]))
        return "|".join([str(cid), n(c["uid"]), _ts(c["created"]), *coords,
                         "null" if c["closed"] is None else _ts(c["closed"]),
                         "true" if c["open"] else "false", str(c["num_changes"]),
                         n(c["user"]), tags])

    def readme_truth(self):
        """Answers to the README query mix over the current state."""
        n_comment = sum(1 for c in self.cs.values() if "comment" in c["tags"])
        n_josm = sum(1 for c in self.cs.values() if c["tags"]["created_by"].startswith("JOSM"))
        lo_lon, hi_lon = (int(round(v * 1e7)) for v in ENV_LON)
        lo_lat, hi_lat = (int(round(v * 1e7)) for v in ENV_LAT)
        n_env = sum(1 for c in self.cs.values() if c["box"] is not None
                    and c["box"][0] >= lo_lon and c["box"][1] <= hi_lon
                    and c["box"][2] >= lo_lat and c["box"][3] <= hi_lat)
        n_small = 0
        for c in self.cs.values():
            if c["box"] is not None:
                b = [v / 1e7 for v in c["box"]]
                if bbox_area(b[0], b[2], b[1], b[3]) < AREA_LIMIT_M2:
                    n_small += 1
        join_rows = sorted(
            f"{cid}|{self.cs[cid]['user'] or 'null'}|{u}|{un}|{text}"
            for cid, cms in self.comments.items() for (u, un, _, text) in cms)
        roll = {}
        for c in self.cs.values():
            day = _ts(c["created"])[:10]
            k = (c["uid"], day)
            n, s = roll.get(k, (0, 0))
            roll[k] = (n + 1, s + c["num_changes"])
        rollup = sorted(f"{'null' if u is None else u}|{d}|{n}|{s}"
                        for (u, d), (n, s) in roll.items())
        return {"sql_readme_1": [str(n_comment)], "sql_readme_2": [str(n_josm)],
                "sql_readme_3": join_rows, "sql_readme_4": [str(n_env)],
                "sql_area_filter": [str(n_small)], "sql_user_day_rollup": rollup}

    def comment_count(self):
        return sum(1 for c in self.cs.values() if "comment" in c["tags"])


def _write_gz(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as g:
        g.write(text.encode("utf-8"))
    with open(path, "wb") as f:
        f.write(buf.getvalue())


def sequence_path(seq):
    return f"{seq // 1000000:03d}/{(seq // 1000) % 1000:03d}/{seq % 1000:03d}.osm.gz"


def state_yaml(seq):
    return f"---\nlast_run: 2015-11-16 12:00:00.000000000 +00:00\nsequence: {seq}\n"


def changeset_world(seed, out, n_base, n_backlog, n_pending, readme=False):
    """Dump of `n_base` changesets, `n_backlog` published diffs and
    `n_pending` diffs staged for tick-by-tick publication.

    Writes out/dump/changesets.osm.bz2, out/feed/ (backlog + state.yaml),
    out/pending/ (the later diffs, same layout) and returns the truth:
    per pending diff the id it changed that the tick looks up, that
    row's expected value and the expected `tags ? 'comment'` count."""
    rng = random.Random(seed)
    w = _World(rng)
    t = 0
    for cid in range(1, n_base + 1):
        t += rng.randint(1, 10)
        w.new_changeset(cid, t, recent=cid > n_base - 2000)
    hdr = ('<?xml version="1.0" encoding="UTF-8"?>\n'
           '<osm version="0.6" generator="planet-dump-ng 1.1.2" '
           'timestamp="2015-11-16T01:59:54Z">\n')
    body = "".join(w.xml(cid) for cid in range(1, n_base + 1))
    os.makedirs(f"{out}/dump", exist_ok=True)
    with open(f"{out}/dump/changesets.osm.bz2", "wb") as f:
        f.write(bz2.compress((hdr + body + "</osm>\n").encode("utf-8"), 9))

    ticks = []
    after_backlog = None
    for seq in range(1, n_backlog + n_pending + 1):
        t += 60
        size = rng.randint(100, 300)
        ids = set()
        changed = []
        for _ in range(size):
            if rng.random() < 0.25:
                cid = w.max_id + 1
                w.new_changeset(cid, t + rng.randint(0, 59))
            else:
                cid = rng.randint(max(1, w.max_id - 3000), w.max_id)
                if cid in ids:
                    continue
                w.update(cid, t + rng.randint(0, 59))
            ids.add(cid)
            changed.append(cid)
        diff = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<osm version="0.6" generator="replication">\n'
                + "".join(w.xml(c) for c in changed) + "</osm>\n")
        root = "feed" if seq <= n_backlog else "pending"
        _write_gz(f"{out}/{root}/{sequence_path(seq)}", diff)
        if seq == n_backlog:
            after_backlog = {"changesets": len(w.cs),
                             "comment_count": w.comment_count()}
            if readme:
                after_backlog["readme"] = w.readme_truth()
        if seq > n_backlog:
            look = rng.choice(changed)
            ticks.append({"seq": seq, "changed_ids": len(changed),
                          "lookup_id": look, "lookup_row": w.row(look),
                          "comment_count": w.comment_count(),
                          "changesets": len(w.cs)})
    os.makedirs(f"{out}/feed", exist_ok=True)
    with open(f"{out}/feed/state.yaml", "w") as f:
        f.write(state_yaml(n_backlog))
    return {"dump_changesets": n_base, "backlog": n_backlog,
            "after_backlog": after_backlog, "ticks": ticks}


# ---- relational tables (the SparkEntry inputs) ------------------------

def _write_table(out, name, cols):
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet", compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def relational_tables(seed, out, n_orders):
    """orders/lineitem/customer/part/supplier/nation/region/events with
    the column names and types the program's table layer reads."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, n_orders // 10)
    n_part = max(100, n_orders // 7)
    n_supp = max(20, n_orders // 150)
    _write_table(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write_table(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write_table(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write_table(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})
    adj = np.array(["small", "red", "large", "blue", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate"])
    _write_table(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 5, n_part)],
                                             noun[rng.integers(0, 5, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900, 2000, n_part)})
    _write_table(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": pa.array(_days(rng, "1992-01-01", 2400, n_orders), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)]})
    per = rng.integers(1, 8, n_orders)
    n_li = int(per.sum())
    okeys = np.repeat(np.arange(n_orders), per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    order = rng.permutation(n_li)
    _write_table(out, "lineitem", {
        "l_orderkey": pa.array(okeys[order], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[order], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1992-01-02", 2500, n_li), pa.timestamp("us"))})
    n_ev = n_orders * 7 // 10
    gaps = rng.integers(1, 400_000_000, n_ev).cumsum()
    _write_table(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + gaps.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 200), n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 20, n_ev),
        "props": [f'{{"k": {k}}}' if k >= 0 else "{}" for k in rng.integers(-20, 100, n_ev)]})
    return {"orders": n_orders, "lineitem": n_li, "events": n_ev}


# ---- curation corpus ---------------------------------------------------

LANG_VOCAB = {
    "en": "the a data query table value row scan join merge fast slow batch stream "
          "window order group key part line sort filter column spark big small".split(),
    "de": "der die das und mit nicht daten tabelle schnell langsam zeile spalte "
          "gruppe fenster strom reihe wert".split(),
    "fr": "le la les des une donnees table valeur rapide lent ligne colonne groupe "
          "fenetre flux ordre".split(),
    "es": "el la los datos tabla valor rapido lento fila columna grupo ventana flujo "
          "orden clave".split(),
    "zh": "shu ju biao zhi kuai man hang lie zu chuang liu xu jian".split(),
}


def curate_corpus(seed, out, n_docs, n_vecs, dim=64):
    """documents + embeddings with planted exact/near duplicates.

    Returns the planted truth: duplicate doc pairs and near-twin vector
    pairs, the first three of them twins of the vectors the similarity
    entries query (vec_id 0..2)."""
    rng = np.random.default_rng(seed)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    lang = langs[rng.choice(5, n_docs, p=[0.45, 0.15, 0.13, 0.15, 0.12])]
    lens = np.clip(rng.lognormal(3.8, 0.7, n_docs).astype(int), 5, 600)
    texts = []
    for i in range(n_docs):
        voc = LANG_VOCAB[lang[i]]
        texts.append(" ".join(voc[j] for j in rng.integers(0, len(voc), lens[i])))
    dup_pairs = []
    n_dup = n_docs // 20
    srcs = rng.choice(n_docs // 2, n_dup, replace=False)
    dsts = n_docs // 2 + rng.choice(n_docs - n_docs // 2, n_dup, replace=False)
    for k, (a, b) in enumerate(zip(srcs, dsts)):
        words = texts[a].split()
        if len(words) < 30:
            words = words + texts[(a + 1) % n_docs].split()[:30]
            texts[a] = " ".join(words)
        if k % 2:
            w2 = list(words)  # near duplicate: a few words swapped
            for j in rng.choice(len(w2), max(1, len(w2) // 25), replace=False):
                w2[j] = "edit"
            texts[b] = " ".join(w2)
        else:
            texts[b] = texts[a]
        lang[b] = lang[a]
        dup_pairs.append([int(min(a, b)), int(max(a, b))])
    _write_table(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts, "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_clusters = 10
    cents = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n_vecs)
    emb = cents[label] + rng.normal(0, 0.6, (n_vecs, dim))
    vec_pairs = []
    n_pairs = n_vecs // 50
    srcs = 3 + rng.choice(n_vecs // 2 - 3, n_pairs, replace=False)
    dsts = n_vecs // 2 + rng.choice(n_vecs - n_vecs // 2, n_pairs + 3, replace=False)
    # the similarity entries query vec_ids 0..2: each gets a near twin too
    for a, b in zip([0, 1, 2, *srcs], dsts):
        a, b = int(a), int(b)
        emb[b] = emb[a] + rng.normal(0, 0.01, dim)
        label[b] = label[a]
        vec_pairs.append([min(a, b), max(a, b)])
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write_table(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"dup_doc_pairs": sorted(dup_pairs), "query_vec_pairs": sorted(vec_pairs[:3]),
            "docs": n_docs, "vecs": n_vecs}


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)
