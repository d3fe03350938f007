"""Seeded input generators for the four benchmark workloads.

Every generator takes a numpy Generator seeded from the command-line seed
and writes plain files (XML, Parquet, JSON) into a work directory. The
engine only ever sees those files; the expected answers implied by
construction are written next to them for the checks in ``check.py``.
"""
import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed, stream):
    return np.random.default_rng([int(seed), stream])


def write_parquet(df, path, schema=None):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# Star schema (the engine's q01-q30 fixture shape)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "dark", "metal"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _cents(rng, lo, hi, n):
    """Doubles that are exactly the nearest binary value of a 2-decimal
    number (integer cents / 100), as in the engine's fixtures."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def gen_star(seed, sf, out_dir):
    """TPC-H-shaped star schema plus the events table, one Parquet file per
    table, row counts proportional to ``sf`` (sf=0.1 is about 600k
    lineitems)."""
    rng = rng_for(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_ev = int(1500000 * sf), int(1000000 * sf)
    day_us = 86400 * 1000000
    t_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)

    write_parquet(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        f"{out_dir}/region.parquet")
    write_parquet(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        f"{out_dir}/nation.parquet")
    write_parquet(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    write_parquet(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    write_parquet(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90000 + np.arange(n_part) % 1000) / 100.0}),
        f"{out_dir}/part.parquet")

    odate = t_1995 + rng.integers(0, 2404, n_ord) * day_us
    write_parquet(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500000, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    write_parquet(pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.repeat(odate, lines)
                       + rng.integers(1, 122, n_li) * day_us).astype("datetime64[us]")}),
        f"{out_dir}/lineitem.parquet")

    t_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t_2024 + rng.integers(0, 30 * day_us, n_ev))
    write_parquet(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(150, n_ev // 60), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")
    return {"lineitem_rows": n_li, "orders_rows": n_ord}


# ---------------------------------------------------------------------------
# OSM extract shaped like Amsterdam, with the cleaned tables it implies
# ---------------------------------------------------------------------------

LOWER_COLON = re.compile(r"^([a-z]|_)+:([a-z]|_)+")

USERS = ["Dutch Mapper", "ałice", "Jörg", "Café Mapper", "Smith, J",
         'de "Kaart" Maker', "osm_nl", "bert & ernie", "mapper42", "Ünal"]
AMENITIES = ["restaurant", "cafe", "bar", "fast_food", "bench", "bicycle_parking",
             "pub", "pharmacy", "school", "bank", "atm", "post_box"]
NAME_WORDS = ["Coffee", "coffee", "Shop", "Bar", "Café", "Eetcafe", "De", "Het",
              "Molen", "Brug", "Grachten", "Markt", "shop", "Pizzeria", "Bakkerij"]
STREETS = ["Prinsengracht", "Keizersgracht", "Damrak", "Rokin", "Overtoom",
           "Kinkerstraat", "Ferdinand Bolstraat", "Jodenbreestraat"]
HIGHWAYS = ["residential", "footway", "cycleway", "service", "primary",
            "secondary", "tertiary", "path", "steps"]
# raw phone forms hitting every digit-count branch of the cleaner
# (7, 8, 9, 10, 11, 12, 13 digits, and the fall-through)
PHONES = ["555 1234", "20-5551234", "205551234", "020-5551234", "+31 20 5551234",
          "+31 (0)20 5551234", "0031 20 5551234", "12345", "0031 (0)20 5551234 99"]


def key_type(k):
    return k.split(":", 1)[0] if LOWER_COLON.match(k) else "regular"


def key_tail(k):
    return k.split(":", 1)[1] if LOWER_COLON.match(k) else k


def nl_postcode(v):
    left, right = v.lstrip(), v.rstrip()
    return left[0:4] + " " + right[-2:]


def nl_phone(v):
    d = re.sub("[^0-9]", "", v)
    n = len(d)
    if n in (11, 9):
        return "+" + d
    if n == 12:
        return "+" + d[0:2] + d[3:]
    if n in (10, 8):
        return "+31" + d[1:]
    if n == 13:
        return "+" + d[2:]
    if n == 7:
        return "+31" + d
    return d


def _postcode(rng, padded):
    digits = str(int(rng.integers(1000, 1110)))
    letters = "".join(chr(65 + int(c)) for c in rng.integers(0, 26, 2))
    form = int(rng.integers(0, 4 if padded else 3))
    if form == 0:
        return digits + letters
    if form == 1:
        return digits + " " + letters
    if form == 2:
        return digits + "  " + letters
    return " " + digits + letters + " "


def _esc(s):
    return (s.replace("&", "&amp;").replace('"', "&quot;")
            .replace("<", "&lt;").replace(">", "&gt;"))


def _name(rng):
    k = int(rng.integers(1, 4))
    return " ".join(NAME_WORDS[int(i)] for i in rng.integers(0, len(NAME_WORDS), k))


def _node_tags(rng):
    tags = []
    kind = int(rng.integers(0, 4))
    if kind == 0:  # amenity point
        tags.append(("amenity", AMENITIES[int(rng.integers(0, len(AMENITIES)))]))
        tags.append(("name", _name(rng)))
        if rng.random() < 0.5:
            tags.append(("phone", PHONES[int(rng.integers(0, len(PHONES)))]))
        if rng.random() < 0.3:
            tags.append(("contact:phone", PHONES[int(rng.integers(0, len(PHONES)))]))
        if rng.random() < 0.2:
            tags.append(("opening_hours", "Mo-Fr 09:00-17:00; Sa 10:00-16:00"))
    elif kind == 1:  # address point
        tags.append(("addr:street", STREETS[int(rng.integers(0, len(STREETS)))]))
        tags.append(("addr:housenumber", str(int(rng.integers(1, 400)))))
        tags.append(("addr:postcode", _postcode(rng, padded=True)))
        tags.append(("addr:city", "Amsterdam"))
    elif kind == 2:  # transit / namespaced keys
        tags.append(("naptan:CommonName", _name(rng)))
        tags.append(("CEMT", ["I", "II", "III", "IV", "Va"][int(rng.integers(0, 5))]))
        tags.append(("name:1", _name(rng)))
        if rng.random() < 0.5:
            tags.append(("postcode", _postcode(rng, padded=True)))
    else:
        tags.append(("source", "BAG"))
        tags.append(("name", 'Bar, Café & "Vrienden"' if rng.random() < 0.1 else _name(rng)))
    return tags


def _way_tags(rng):
    tags = [("highway", HIGHWAYS[int(rng.integers(0, len(HIGHWAYS)))])]
    if rng.random() < 0.6:
        tags.append(("name", STREETS[int(rng.integers(0, len(STREETS)))]))
    if rng.random() < 0.25:
        tags.append(("cycleway:right:surface:color", ["red", "grey"][int(rng.integers(0, 2))]))
    if rng.random() < 0.2:
        tags.append(("addr:postcode", _postcode(rng, padded=False)))
    if rng.random() < 0.1:
        tags.append(("phone", PHONES[int(rng.integers(0, len(PHONES)))]))
    if rng.random() < 0.7:
        tags.append(("ref", str(int(rng.integers(1, 999)))))
    if rng.random() < 0.7:
        tags.append(("source", "BAG"))
    if rng.random() < 0.05:
        tags.append(("CEMT", "IV"))
    return tags


def _ts(rng):
    # 2008-09-12 .. 2016-12-15, whole seconds, ISO-8601 with Z
    sec = int(rng.integers(1221177600, 1481760000))
    return str(np.datetime64(sec, "s")) + "Z"


def gen_osm(seed, n_ways, out_dir, name="extract"):
    """Synthetic OSM XML (~10 nodes per way, sparse node tags, relations
    that must be dropped) plus the 5 cleaned tables it implies, as Parquet
    under ``<out_dir>/<name>_expected``."""
    rng = rng_for(seed, 2)
    os.makedirs(out_dir, exist_ok=True)
    xml_path = f"{out_dir}/{name}.osm"
    n_nodes = n_ways * 10
    node_ids = 40000000 + np.cumsum(rng.integers(1, 40, n_nodes))
    way_ids = 4000000 + np.cumsum(rng.integers(1, 40, n_ways))
    uids = {u: 1000 + 7919 * i for i, u in enumerate(USERS)}
    nodes, node_tags, ways, way_tags, way_nodes = [], [], [], [], []
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<osm version="0.6" generator="perfbench">']
    for nid in node_ids:
        nid = int(nid)
        lat = f"{52.30 + rng.random() * 0.12:.7f}"
        lon = f"{4.75 + rng.random() * 0.30:.7f}"
        user = USERS[int(rng.integers(0, len(USERS)))]
        ver, cs, ts = int(rng.integers(1, 20)), int(rng.integers(1000000, 45000000)), _ts(rng)
        nodes.append((nid, float(lat), float(lon), user, uids[user], ver, cs, ts))
        head = (f'  <node id="{nid}" lat="{lat}" lon="{lon}" user="{_esc(user)}" '
                f'uid="{uids[user]}" version="{ver}" changeset="{cs}" timestamp="{ts}"')
        tags = _node_tags(rng) if rng.random() < 0.15 else []
        if not tags:
            out.append(head + "/>")
            continue
        out.append(head + ">")
        for k, v in tags:
            out.append(f'    <tag k="{_esc(k)}" v="{_esc(v)}"/>')
            key = key_tail(k)
            if key == "postcode":
                val = nl_postcode(v)
            elif k == "phone":
                val = nl_phone(v)
            else:
                val = v
            node_tags.append((nid, key, val, key_type(k)))
        out.append("  </node>")
    for wid in way_ids:
        wid = int(wid)
        user = USERS[int(rng.integers(0, len(USERS)))]
        ver, cs, ts = int(rng.integers(1, 20)), int(rng.integers(1000000, 45000000)), _ts(rng)
        ways.append((wid, user, uids[user], ver, cs, ts))
        out.append(f'  <way id="{wid}" user="{_esc(user)}" uid="{uids[user]}" '
                   f'version="{ver}" changeset="{cs}" timestamp="{ts}">')
        start = int(rng.integers(0, n_nodes - 20))
        refs = node_ids[start:start + int(rng.integers(2, 20))]
        for pos, ref in enumerate(refs):
            out.append(f'    <nd ref="{int(ref)}"/>')
            way_nodes.append((wid, int(ref), pos))
        for k, v in _way_tags(rng):
            out.append(f'    <tag k="{_esc(k)}" v="{_esc(v)}"/>')
            way_tags.append((wid, key_tail(k), v, key_type(k)))
        out.append("  </way>")
    for r in range(max(1, n_ways // 20)):
        out.append(f'  <relation id="{9000000 + r}" user="osm_nl" uid="{uids["osm_nl"]}" '
                   f'version="1" changeset="1" timestamp="2016-01-01T00:00:00Z">')
        out.append(f'    <member type="way" ref="{int(way_ids[r])}" role="outer"/>')
        out.append(f'    <member type="node" ref="{int(node_ids[r])}" role=""/>')
        out.append('    <tag k="type" v="multipolygon"/>')
        out.append("  </relation>")
    out.append("</osm>")
    with open(xml_path, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")

    exp = f"{out_dir}/{name}_expected"
    os.makedirs(exp, exist_ok=True)
    frames = {
        "nodes": pd.DataFrame(nodes, columns=["id", "lat", "lon", "user", "uid",
                                              "version", "changeset", "timestamp"]),
        "node_tags": pd.DataFrame(node_tags, columns=["id", "key", "value", "type"]),
        "ways": pd.DataFrame(ways, columns=["id", "user", "uid", "version",
                                            "changeset", "timestamp"]),
        "way_tags": pd.DataFrame(way_tags, columns=["id", "key", "value", "type"]),
        "way_nodes": pd.DataFrame(way_nodes, columns=["id", "node_id", "position"]),
    }
    for t, df in frames.items():
        write_parquet(df, f"{exp}/{t}.parquet")
    return {"xml_path": xml_path, "xml_bytes": os.path.getsize(xml_path),
            "expected_dir": exp,
            "rows": {t: len(df) for t, df in frames.items()}}


# ---------------------------------------------------------------------------
# Document corpus with planted near-duplicate clusters
# ---------------------------------------------------------------------------

def shingles(text, n):
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def gen_docs(seed, n_docs, out_dir, n=3):
    """Random-word documents; about a quarter of them are edited copies of
    a base document (one to three word substitutions), so every planted
    pair sits at a Jaccard of roughly 0.85-0.97 and unrelated documents
    share essentially no word 3-grams."""
    rng = rng_for(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    vocab = ["".join(chr(97 + int(c)) for c in rng.integers(0, 26, int(rng.integers(3, 9))))
             for _ in range(20000)]
    texts, cluster_of = [], []
    n_base = int(n_docs * 0.78)
    for i in range(n_base):
        words = [vocab[int(w)] for w in rng.integers(0, len(vocab), int(rng.integers(60, 140)))]
        texts.append(words)
        cluster_of.append(-1)
    clusters = []
    while len(texts) < n_docs:
        base = int(rng.integers(0, n_base))
        if cluster_of[base] != -1:
            continue
        cluster_of[base] = len(clusters)
        members = [base]
        for _ in range(int(rng.integers(1, 4))):
            if len(texts) >= n_docs:
                break
            words = list(texts[base])
            for p in rng.choice(len(words), int(rng.integers(1, 4)), replace=False):
                words[int(p)] = vocab[int(rng.integers(0, len(vocab)))]
            members.append(len(texts))
            texts.append(words)
            cluster_of.append(len(clusters))
        clusters.append(members)
    # doc ids are a seeded permutation, so the kept member of a cluster is
    # not always the original
    ids = rng.permutation(np.arange(1, n_docs + 1, dtype=np.int64) * 7)
    docs = [" ".join(w) for w in texts]
    write_parquet(pd.DataFrame({"doc_id": ids, "text": docs}), f"{out_dir}/docs.parquet")
    truth_clusters, pair_jac = [], []
    for members in clusters:
        sh = [shingles(docs[m], n) for m in members]
        for j in range(1, len(members)):
            pair_jac.append(jaccard(sh[0], sh[j]))
        truth_clusters.append(sorted(int(ids[m]) for m in members))
    truth = {"clusters": truth_clusters, "ids": sorted(int(i) for i in ids),
             "planted_pairs": len(pair_jac),
             "planted_jaccard_min": min(pair_jac), "planted_jaccard_mean": float(np.mean(pair_jac))}
    with open(f"{out_dir}/docs_truth.json", "w") as f:
        json.dump(truth, f)
    return {"docs": n_docs, "clusters": len(clusters), "planted_pairs": len(pair_jac),
            "planted_jaccard_min": round(min(pair_jac), 4),
            "text_bytes": sum(len(d) for d in docs)}


# ---------------------------------------------------------------------------
# Clustered vectors with a seeded query / write sequence
# ---------------------------------------------------------------------------

DIM = 64


def _clustered(rng, centers, n):
    c = centers[rng.integers(0, len(centers), n)]
    v = c + 0.45 * rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_frame(ids, vecs, batch=None):
    cols = {"vec_id": np.asarray(ids, dtype=np.int64)}
    if batch is not None:
        cols["batch"] = np.asarray(batch, dtype=np.int32)
    df = pd.DataFrame(cols)
    df["embedding"] = list(vecs)
    return df


def _vec_schema(with_batch):
    fields = [pa.field("vec_id", pa.int64())]
    if with_batch:
        fields.append(pa.field("batch", pa.int32()))
    fields.append(pa.field("embedding", pa.list_(pa.float32())))
    return pa.schema(fields)


def gen_vectors(seed, n_corpus, out_dir, n_ops=None, q_per_batch=10,
                append_size=40, delete_size=20):
    """Clustered unit vectors, query batches drawn from the same clusters,
    and a closed-loop op sequence repeating search, search, write, where
    the writes cycle append, delete, compact."""
    rng = rng_for(seed, 4)
    os.makedirs(out_dir, exist_ok=True)
    # at most a third of the base corpus is ever deleted
    n_ops = n_ops or min(450, n_corpus // 3)
    centers = rng.standard_normal((48, DIM))
    corpus = _clustered(rng, centers, n_corpus)
    write_parquet(_vec_frame(np.arange(n_corpus), corpus), f"{out_dir}/corpus.parquet",
                  _vec_schema(False))
    ops, n_search, n_append, n_delete, n_compact = [], 0, 0, 0, 0
    live = np.arange(n_corpus)
    deletes = []
    for i in range(n_ops):
        if i % 3 != 2:
            ops.append({"kind": "search", "batch": n_search})
            n_search += 1
        elif i % 9 == 2:
            ops.append({"kind": "append", "batch": n_append})
            n_append += 1
        elif i % 9 == 5:
            chosen = np.sort(rng.choice(live, delete_size, replace=False))
            live = np.setdiff1d(live, chosen)
            deletes.append(chosen)
            ops.append({"kind": "delete", "batch": n_delete})
            n_delete += 1
        else:
            ops.append({"kind": "compact", "batch": n_compact})
            n_compact += 1
    queries = _clustered(rng, centers, n_search * q_per_batch)
    write_parquet(_vec_frame(10_000_000 + np.arange(len(queries)), queries,
                             np.repeat(np.arange(n_search), q_per_batch)),
                  f"{out_dir}/queries.parquet", _vec_schema(True))
    appends = _clustered(rng, centers, n_append * append_size)
    write_parquet(_vec_frame(20_000_000 + np.arange(len(appends)), appends,
                             np.repeat(np.arange(n_append), append_size)),
                  f"{out_dir}/appends.parquet", _vec_schema(True))
    write_parquet(pd.DataFrame({
        "batch": np.repeat(np.arange(n_delete), delete_size).astype(np.int32),
        "vec_id": np.concatenate(deletes).astype(np.int64) if deletes else np.zeros(0, np.int64)}),
        f"{out_dir}/deletes.parquet")
    with open(f"{out_dir}/ops.json", "w") as f:
        json.dump(ops, f)
    return {"corpus": n_corpus, "dim": DIM, "ops": len(ops),
            "queries_per_batch": q_per_batch, "append_size": append_size,
            "delete_size": delete_size}
