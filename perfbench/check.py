"""Answer checks for the four workloads.

Each ``check_<workload>`` takes the JVM run record, the work directory, the
generator's info and the engine parameters, and returns
``(bad, quality, notes)``: the indices of operations whose answer was
wrong, the workload's quality score, and a short dict of details for the
run record.
"""
import glob
import json

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

OSM_TYPES = {
    "nodes": {"id": pa.int64(), "lat": pa.float64(), "lon": pa.float64(), "user": pa.string(),
              "uid": pa.int64(), "version": pa.int64(), "changeset": pa.int64(),
              "timestamp": pa.string()},
    "node_tags": {"id": pa.int64(), "key": pa.string(), "value": pa.string(), "type": pa.string()},
    "ways": {"id": pa.int64(), "user": pa.string(), "uid": pa.int64(), "version": pa.int64(),
             "changeset": pa.int64(), "timestamp": pa.string()},
    "way_tags": {"id": pa.int64(), "key": pa.string(), "value": pa.string(), "type": pa.string()},
    "way_nodes": {"id": pa.int64(), "node_id": pa.int64(), "position": pa.int64()},
}


def table_digest(df):
    """Row count and an order-independent content hash."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def _csv_table(path, table):
    types = OSM_TYPES[table]
    parts = sorted(glob.glob(f"{path}/part-*.csv"))
    frames = [pacsv.read_csv(p, convert_options=pacsv.ConvertOptions(column_types=types))
              .to_pandas() for p in parts]
    df = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=list(types))
    return df[list(types)].astype({c: ("object" if t == pa.string() else t.to_pandas_dtype())
                                   for c, t in types.items()})


def expected_osm(expected_dir):
    out = {}
    for table, types in OSM_TYPES.items():
        df = pd.read_parquet(f"{expected_dir}/{table}.parquet")
        df = df[list(types)].astype({c: ("object" if t == pa.string() else t.to_pandas_dtype())
                                     for c, t in types.items()})
        out[table] = table_digest(df)
    return out


def check_osm_etl(record, work, info, params):
    want = expected_osm(info["expected_dir"])
    bad, checked, passed, mismatches = [], 0, 0, []
    for i, op in enumerate(record["ops"]):
        if not op["ok"]:
            bad.append(i)
            continue
        good = True
        for table in OSM_TYPES:
            checked += 1
            got = table_digest(_csv_table(f"{op['out']}/{table}", table))
            if got == want[table]:
                passed += 1
            else:
                good = False
                mismatches.append({"op": i, "table": table, "rows": got[0],
                                   "want_rows": want[table][0]})
        if not good:
            bad.append(i)
    return bad, passed / max(1, checked), {"expected_rows": {t: v[0] for t, v in want.items()},
                                           "mismatches": mismatches[:10]}


def _norm(df):
    """Columns sorted by name, rows sorted by their string rendering."""
    df = df[sorted(df.columns)]
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def _same_frame(a, b):
    a, b = _norm(a), _norm(b)
    return (list(a.columns) == list(b.columns)
            and [str(t) for t in a.dtypes] == [str(t) for t in b.dtypes]
            and len(a) == len(b) and a.astype(str).equals(b.astype(str)))


def readme_sql(o):
    fn = o["fn"]
    if fn == "tableCount":
        return f"SELECT count(*) FROM {o['table']}"
    if fn == "distinctContributors":
        return ("SELECT count(DISTINCT uid) FROM "
                "(SELECT uid FROM nodes UNION ALL SELECT uid FROM ways)")
    if fn == "nameLikeCount":
        pat = o["pattern"].replace("'", "''")
        return f"SELECT count(*) FROM node_tags WHERE key = 'name' AND value ILIKE '{pat}'"
    if fn == "busiestPostcodes":
        return ("SELECT value, count(DISTINCT id) AS num FROM "
                "(SELECT * FROM node_tags UNION ALL SELECT * FROM way_tags) "
                f"WHERE key = 'postcode' GROUP BY value ORDER BY num DESC, value LIMIT {o['k']}")
    if fn == "topAmenities":
        return ("SELECT value, count(*) AS num FROM node_tags WHERE key = 'amenity' "
                f"GROUP BY value ORDER BY num DESC, value LIMIT {o['k']}")
    if fn == "valueShare":
        vals = ", ".join("'" + v.replace("'", "''") + "'" for v in o["values"])
        return (f"SELECT CAST(count(CASE WHEN value IN ({vals}) THEN 1 END) AS DOUBLE) / "
                f"CAST(count(*) AS DOUBLE) FROM node_tags WHERE key = '{o['key']}'")
    raise ValueError(fn)


def check_sql_mix(record, work, info, params):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{params['star_dir']}/{t}.parquet'")
    for t in ["nodes", "node_tags", "ways", "way_tags"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{info['osm']['expected_dir']}/{t}.parquet'")
    star_ok, readme_ok, notes = {}, {}, []
    for q, oracle in record["finish"]["oracle"].items():
        try:
            spark = con.sql(f"SELECT * FROM '{work}/sql_results/{q}/*.parquet'").df()
            star_ok[q] = _same_frame(spark, con.sql(oracle).df())
        except Exception as e:  # an unreadable dump is a wrong answer
            star_ok[q] = False
        if not star_ok[q]:
            notes.append(f"{q}: differs from DuckDB")
    bad = []
    for i, op in enumerate(record["ops"]):
        if not op["ok"]:
            bad.append(i)
        elif op["kind"] == "star":
            if not star_ok.get(op["q"], False):
                bad.append(i)
        elif op["kind"] == "readme":
            s = op["seq"]
            if s not in readme_ok:
                want = [list(r) for r in con.sql(readme_sql(params["ops"][s])).fetchall()]
                readme_ok[s] = want == op["answer"]
                if not readme_ok[s]:
                    notes.append(f"readme op {s}: got {op['answer'][:3]} want {want[:3]}")
            if not readme_ok[s]:
                bad.append(i)
        else:
            bad.append(i)
    n = len(record["ops"])
    return bad, (n - len(bad)) / max(1, n), {
        "star_queries_checked": len(star_ok), "readme_queries_checked": len(readme_ok),
        "notes": notes[:10]}


def check_dedup_batch(record, work, info, params):
    truth = json.load(open(f"{work}/docs_truth.json"))
    ids = set(truth["ids"])
    bad = [i for i, op in enumerate(record["ops"]) if not op["ok"]]
    first = next((op for op in record["ops"] if "keep" in op), None)
    if first is None:
        return list(range(len(record["ops"]))), 0.0, {"notes": ["no keep list"]}
    keep = set(first["keep"])
    in_cluster = {d for c in truth["clusters"] for d in c}
    should_drop = {d for c in truth["clusters"] for d in c if d != min(c)}
    dropped = ids - keep
    errors = []
    if not keep <= ids:
        errors.append(f"{len(keep - ids)} kept ids are not documents")
    if not (ids - in_cluster) <= keep:
        errors.append(f"{len((ids - in_cluster) - keep)} unique documents dropped")
    if not {min(c) for c in truth["clusters"]} <= keep:
        errors.append("a cluster lost its first document")
    if not dropped <= should_drop:
        errors.append(f"{len(dropped - should_drop)} documents dropped outside planted clusters")
    if errors:  # every repeat matched the first keep list, so all are wrong
        bad = list(range(len(record["ops"])))
    tp = len(dropped & should_drop)
    precision = tp / len(dropped) if dropped else 1.0
    recall = tp / len(should_drop) if should_drop else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return sorted(set(bad)), f1, {"precision": precision, "recall": recall,
                                  "true_drops": len(should_drop), "drops": len(dropped),
                                  "errors": errors}


def _quantize(vecs):
    return np.floor(vecs.astype(np.float64) * 1000).astype(np.int64)


def _load_vectors(path):
    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    batch = t.column("batch").to_numpy() if "batch" in t.column_names else None
    return ids, _quantize(vecs), batch


def exact_knn(qv, cids, cv, k):
    """Cosine top-k with the engine's arithmetic: exact integer dots on the
    quantized vectors, one double divide and sqrt, ties by id."""
    dots = qv @ cv.T
    qn = np.einsum("ij,ij->i", qv, qv).astype(np.float64)
    cn = np.einsum("ij,ij->i", cv, cv).astype(np.float64)
    cos = dots.astype(np.float64) / np.sqrt(qn[:, None] * cn[None, :])
    out = []
    for row in cos:
        order = np.lexsort((cids, -row))[:k]
        out.append([int(x) for x in cids[order]])
    return out


def check_ann_serve(record, work, info, params):
    k = params["k"]
    cids, cv, _ = _load_vectors(f"{params['dir']}/corpus.parquet")
    qids, qv, qbatch = _load_vectors(f"{params['dir']}/queries.parquet")
    aids, av, abatch = _load_vectors(f"{params['dir']}/appends.parquet")
    dels = pd.read_parquet(f"{params['dir']}/deletes.parquet")
    ops = params["ops"]
    bad = [i for i, op in enumerate(record["ops"]) if not op["ok"]]
    notes = []

    # the recall reference must agree with the engine's brute force
    engine = record["finish"]["brute_force_batch0"]
    mask = qbatch == 0
    ours = exact_knn(qv[mask], cids, cv, k)
    reference_ok = all(engine.get(str(int(q))) == n for q, n in zip(qids[mask], ours))
    if not reference_ok:
        notes.append("numpy brute force disagrees with Similarity.bruteForceKnn")

    alive = np.ones(len(cids), dtype=bool)
    extra_ids, extra_v = [], []
    hits = total = 0
    done = {op["seq"]: (i, op) for i, op in enumerate(record["ops"]) if "seq" in op}
    for s in range(max(done) + 1 if done else 0):
        o = ops[s]
        if o["kind"] == "append":
            m = abatch == o["batch"]
            extra_ids.append(aids[m])
            extra_v.append(av[m])
        elif o["kind"] == "delete":
            gone = dels.loc[dels.batch == o["batch"], "vec_id"].to_numpy()
            alive &= ~np.isin(cids, gone)
        elif o["kind"] == "search" and s in done:
            i, op = done[s]
            if not op["ok"]:
                continue
            ids = np.concatenate([cids[alive]] + extra_ids)
            vecs = np.concatenate([cv[alive]] + extra_v)
            m = qbatch == o["batch"]
            live = set(ids.tolist())
            for q, exact in zip(qids[m], exact_knn(qv[m], ids, vecs, k)):
                got = op["answer"].get(str(int(q)), [])
                if len(set(got)) != k or not set(got) <= live:
                    bad.append(i)
                    notes.append(f"search op {i}: query {int(q)} answered {got}")
                hits += len(set(got) & set(exact))
                total += k
    if not reference_ok:
        bad = list(range(len(record["ops"])))
    recall = hits / total if total else 0.0
    return sorted(set(bad)), recall, {"recall_hits": hits, "recall_slots": total,
                                      "reference_checked_against_engine": reference_ok,
                                      "notes": notes[:10]}
