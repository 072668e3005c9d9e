"""Output checks. Each returns {name: (ok, detail)}; any failure makes the
run incorrect and counts against ok_rate.

- registry: every panel query's result equals its DuckDB oracle
  (SparkEntry.oracleSqlFor) over the same generated tables;
- jobs: the batch job's tables equal an independent pandas recomputation
  over the generated lake; the stream's merged partials equal the batch
  path's windowed stats (checked in the JVM);
- curation: every unique doc landed exactly once, every planted replay,
  near duplicate and eval leak was rejected, each serve call returned k
  rows (JVM), BM25 top-k equals exhaustive scoring over the landed corpus;
  IVF/PQ recall@k against exact top-k is reported (not gated).
"""
import math
import os

import numpy as np
import pyarrow.parquet as pq

K = 10


def _jvm(raw):
    return {k: (v["ok"], v["detail"]) for k, v in raw["checks"].items()}


def registry(raw, data):
    import duckdb
    out = {}
    con = duckdb.connect()
    tables = os.path.join(data, "tables")
    for t in sorted(os.listdir(tables)):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{tables}/{t}')")
    verify = raw["extra"]["verify_dir"]
    for name, sql in sorted(raw["extra"]["oracle_sql"].items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{verify}/{name}/*.parquet')")
            exp = con.sql(sql)
            gt = dict(zip(got.columns, map(str, got.types)))
            et = dict(zip(exp.columns, map(str, exp.types)))
            cols = sorted(gt)
            if cols != sorted(et) or gt != et:
                out[f"registry.{name}"] = (False, f"schema {gt} != oracle {et}")
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            g = sorted(map(_norm, got.select(sel).fetchall()))
            e = sorted(map(_norm, exp.select(sel).fetchall()))
            out[f"registry.{name}"] = (g == e, f"{len(g)} rows vs oracle {len(e)}")
        except Exception as ex:  # noqa: BLE001
            out[f"registry.{name}"] = (False, f"oracle harness error: {ex}")
    return out


def _norm(row):
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)


def jobs(raw, data):
    """Recompute the batch job's type_stats and detail count with pandas."""
    dates = raw["extra"].get("batch_dates", [])
    if not dates:
        return {"jobs.batch_tables": (False, "no day was processed")}
    lake = os.path.join(data, "jobs", "lake")
    detail_n, last = 0, None
    for d in dates:
        df = pq.read_table(f"{lake}/event_date={d}").to_pandas()
        # latest ts per event_id (ties cannot occur: re-sends move ts forward)
        df = df.sort_values("ts").groupby("event_id", as_index=False).tail(1)
        df = df[df.event_type.notna() & (df.event_type.str.strip() != "")]
        df = df.assign(t=df.event_type.str.strip().str.upper(),
                       k=df.props.str.extract(r'"k":\s*(-?\d+)')[0].astype(float))
        detail_n += len(df)
        last = df
    exp = last.assign(flag=(last.value > 100) & (last.k < 50)).groupby("t").agg(
        cnt=("value", "size"), min_val=("value", "min"), max_val=("value", "max"),
        flag_cnt=("flag", "sum")).reset_index()
    out_dir = raw["extra"]["batch_out"]
    got = pq.read_table(f"{out_dir}/type_stats").to_pandas()
    got = got.rename(columns={"event_type_clean": "t"})[["t", "cnt", "min_val", "max_val", "flag_cnt"]]
    a = sorted(map(tuple, got.astype({"cnt": int, "flag_cnt": int}).values.tolist()))
    b = sorted(map(tuple, exp.astype({"cnt": int, "flag_cnt": int}).values.tolist()))
    n_detail = pq.read_table(f"{out_dir}/detail", columns=["doc_id"]).num_rows
    return {"jobs.batch_type_stats": (a == b, f"{len(a)} rows vs recomputed {len(b)}"),
            "jobs.batch_detail_rows": (n_detail == detail_n,
                                       f"{n_detail} detail rows vs recomputed {detail_n}")}


def _curation_truth(data, man, last_batch):
    cur = os.path.join(data, "curation")
    texts = dict(zip(*[pq.read_table(f"{cur}/base_docs.parquet").column(c).to_pylist()
                       for c in ("doc_id", "text")]))
    embs = dict(zip(*[pq.read_table(f"{cur}/base_emb.parquet").column(c).to_pylist()
                      for c in ("vec_id", "embedding")]))
    offered = set()
    for b in man["batches"][:last_batch]:
        t = pq.read_table(f"{b}/docs.parquet")
        e = pq.read_table(f"{b}/emb.parquet")
        ids = t.column("doc_id").to_pylist()
        offered.update(ids)
        texts.update(zip(ids, t.column("text").to_pylist()))
        embs.update(zip(e.column("vec_id").to_pylist(), e.column("embedding").to_pylist()))
    unique = set(range(man["base"])) | (set(man["unique"]) & offered)
    planted = set(man["planted"]) & offered
    return texts, embs, unique, planted


def _bm25_exhaustive(index, texts, landed, terms):
    """Top-k by scoring every landed doc: the index's idf, k_e6 recomputed
    from the doc lengths (k_e6 = halfUp(1e6 (3l + 9 dl n) / 10l))."""
    idf = dict(zip(*[pq.read_table(f"{index}/terms").column(c).to_pylist()
                     for c in ("term", "idf_e6")]))
    toks = {d: texts[d].split(" ") for d in landed}
    n, l_tot = len(toks), sum(len(t) for t in toks.values())

    def half_up(a, b):
        return (2 * a + b) // (2 * b)
    scores = []
    for d, tk in toks.items():
        k_e6 = half_up((3 * l_tot + 9 * len(tk) * n) * 10**6, 10 * l_tot)
        s = 0
        for term in set(terms):
            tf = tk.count(term)
            if tf and term in idf:
                s += half_up(idf[term] * 22 * tf * 100000, tf * 10**6 + k_e6)
        if s > 0:
            scores.append((-s, d))
    return [d for _, d in sorted(scores)[:K]]


def curation(raw, data, man):
    out = {}
    ex = raw["extra"]
    texts, embs, unique, planted = _curation_truth(data, man, ex["last_batch"])
    landed = ex["landed_ids"]
    ls = set(landed)
    out["curation.unique_landed_once"] = (
        len(landed) == len(ls) and ls >= unique,
        f"{len(landed)} landed ({len(ls)} distinct), {len(unique - ls)} unique docs missing")
    out["curation.planted_rejected"] = (not (ls & planted),
                                        f"{len(ls & planted)} of {len(planted)} planted docs landed")
    cur = os.path.join(data, "curation")
    pt = pq.read_table(f"{cur}/probe_terms.parquet").to_pydict()
    probe_terms = {}
    for q, t in zip(pt["query_id"], pt["term"]):
        probe_terms.setdefault(q, []).append(t)
    pe = pq.read_table(f"{cur}/probe_emb.parquet").to_pydict()
    probes = np.array(pe["embedding"], dtype=np.float64)
    ids = np.array(sorted(ls))
    mat = np.array([embs[i] for i in ids], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bm25_bad, hits, slots = 0, 0, 0
    got = {(a["family"], a["query"]) for a in ex["answers"]}
    want_all = {(f, q) for f in ("bm25", "ivf", "pq") for q in range(len(probes))}
    out["curation.every_probe_answered"] = (got == want_all,
                                            f"{len(want_all - got)} probe answers missing")
    for a in ex["answers"]:
        q = a["query"]
        if a["family"] == "bm25":
            want = _bm25_exhaustive(ex["bm25_index"], texts, ls, probe_terms[q])
            bm25_bad += a["ids"] != want
        else:
            p = probes[q] / np.linalg.norm(probes[q])
            exact = set(ids[np.argsort(-(mat @ p), kind="stable")[:K]].tolist())
            hits += len(exact & set(a["ids"]))
            slots += K
    out["curation.bm25_exhaustive"] = (bm25_bad == 0, f"{bm25_bad} probes differ from exhaustive top-{K}")
    return out, hits / max(1, slots)


def run(workload, trace, raw, data, man):
    """(verdicts, IVF/PQ recall@k or None): the curation loop runs in the
    traced registry run only; the traced jobs run has the JVM's checks."""
    out = _jvm(raw)
    recall = None
    if trace:
        if workload == "registry":
            c, recall = curation(raw, data, man["curation"])
            out.update(c)
    elif workload == "registry":
        out.update(registry(raw, data))
    else:
        out.update(jobs(raw, data))
    return out, recall
