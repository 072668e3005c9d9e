"""Seeded input generator for the benchmark.

Every input the engine sees is written here, to files, before the JVM
starts: the same seed gives byte-identical inputs.

- ``tables``: the ten warehouse tables the registry queries read
  (region .. embeddings), with the schemas the engine's table contract
  pins, at a chosen scale.
- ``jobs``: a date-partitioned raw events lake for the batch job, and a
  JSON-lines feed for the stream job, with fixed shares of re-sent
  event ids, malformed records, late events and a skewed type mix.
- ``curation``: an ingest feed of document batches with embeddings, plus
  the eval suite, with fixed shares of exact replays, light-edit near
  duplicates and eval leaks, and the ground truth of which ids must land.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Generator shares. The jobs shares are also in BENCHMARK.json's workload
# line; perfbench/README.md lists all of them.
SHARES = {
    "jobs.resent": 0.04,      # rows whose event_id is sent twice (later ts)
    "jobs.malformed": 0.02,   # rows/lines the validation filter must drop
    "jobs.late": 0.03,        # rows landing 1-3 days after their event time
    "jobs.hot_type": 0.45,    # share of the one hot event type ("view")
    "curation.replay": 0.08,  # exact text replays of an earlier batch's doc
    "curation.near_dup": 0.08,  # one-token edits of an earlier batch's doc
    "curation.leak": 0.04,    # docs carrying a 12-token run of an eval doc
}

WORDS = ["the", "a", "join", "hash", "row", "batch", "scan", "column",
         "customer", "filter", "small", "slow", "merge", "order", "vector",
         "line", "table", "data", "agg", "value", "key", "stream", "window",
         "spark", "part", "group", "big", "sort", "query", "fast"]
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
TYPES = np.array(["click", "purchase", "error", "signup", "view"])
EPOCH_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
DOCS_SEED = 31


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _docs_text(rng, n, vocab, lo, hi):
    lens = rng.integers(lo, hi, n)
    return [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]


def _embeddings(rng, n, dims=64, clusters=10, spread=0.9):
    centers = rng.normal(size=(clusters, dims))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    v = centers[label] + spread * rng.normal(size=(n, dims)) / np.sqrt(dims)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label.astype(np.int32)


def _emb_column(v):
    return pa.array([row.tolist() for row in v], type=pa.list_(pa.float32()))


def tables(out, seed, sf):
    """The warehouse tables at scale ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    d = lambda name: f"{out}/{name}.parquet"  # noqa: E731

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           d("region"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           d("nation"))
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), d("customer"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}), d("supplier"))
    adj = np.array(["small", "red", "blue", "hot", "old", "big", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"])
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}), d("part"))
    day_us = 86400 * 10**6
    base_us = 788918400 * 10**6  # 1995-01-01
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(base_us + rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": pri[rng.integers(0, 5, n_ord)]}), d("orders"))
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(base_us + rng.integers(1, 2500, n_line) * day_us)}), d("lineitem"))
    ev = _events(rng, n_ev, max(15, int(n_ev / 660)))
    _write(pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()), "ts": _ts(ev["ts"]),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": ev["event_type"], "value": ev["value"], "props": ev["props"]}),
        d("events"))
    doc_id, text = _documents(n_docs, seed)
    _write(pa.table({
        "doc_id": pa.array(doc_id, pa.int64()), "text": text,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}), d("documents"))
    v, label = _embeddings(rng, n_emb)
    _write(pa.table({"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                     "embedding": _emb_column(v), "label": pa.array(label, pa.int32())}),
           d("embeddings"))


def _documents(n, seed):
    """The documents' text, in the shape of the repo's own corpus: 10-99
    tokens drawn from the 30 common words, and near-duplicate cliques made
    by n/20 times overwriting one doc with a copy of another plus a "dup"
    token (copying a copy chains them). The text comes from a fixed seed,
    so the minhash and connected-components work (q26, q48) is the same
    for every seed. Returns (doc ids, texts) in an order ``seed``
    shuffles; each id keeps its text."""
    rng = np.random.default_rng(DOCS_SEED)
    text = _docs_text(rng, n, np.array(WORDS), 10, 100)
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            text[i] = text[j] + " dup"
    order = np.random.default_rng(seed).permutation(n)
    return order, [text[k] for k in order]


def _events(rng, n, n_users, hot=None):
    """Events over 30 days, sorted by time; ``hot`` skews the type mix."""
    ts = np.sort(EPOCH_US + rng.integers(0, 30 * 86400 * 10**6, n))
    if hot is None:
        etype = TYPES[rng.integers(0, 5, n)]
    else:
        etype = np.where(rng.random(n) < hot, "view", TYPES[rng.integers(0, 4, n)])
    return {"event_id": np.arange(n), "ts": ts,
            "user_id": rng.integers(0, n_users, n),
            "event_type": etype,
            "value": np.round(rng.uniform(1.0, 200.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def jobs(out, seed, stream_files, stream_per_file, n_events=100000):
    """Raw lake (parquet, event_date partitions) and stream feed (JSON lines).

    Returns the manifest the harness reads: lake path, dates, stream file
    list with each file's newest event offset.
    """
    rng = np.random.default_rng(seed + 1)
    ev = _events(rng, n_events, 1000, hot=SHARES["jobs.hot_type"])
    n = n_events
    # messy spellings of the same type exercise canonicalization
    messy = rng.random(n) < 0.1
    etype = np.where(messy, np.char.add(" ", np.char.upper(ev["event_type"])), ev["event_type"])
    # malformed: empty event type (dropped by the validation filter)
    bad = rng.random(n) < SHARES["jobs.malformed"]
    etype = np.where(bad, "", etype)
    # late: the row lands in a partition 1-3 days after its event time
    land_us = ev["ts"] + np.where(rng.random(n) < SHARES["jobs.late"],
                                  rng.integers(1, 4, n) * 86400 * 10**6, 0)
    ids, ts, lands = ev["event_id"], ev["ts"], land_us
    users, values, props = ev["user_id"], ev["value"], np.array(ev["props"])
    # re-sent: the same event_id again, with a later ts, same landing day
    rs = np.nonzero(rng.random(n) < SHARES["jobs.resent"])[0]
    ids = np.concatenate([ids, ids[rs]])
    ts = np.concatenate([ts, ts[rs] + rng.integers(1, 600, len(rs)) * 10**6])
    lands = np.concatenate([lands, lands[rs]])
    etype = np.concatenate([etype, etype[rs]])
    users = np.concatenate([users, users[rs]])
    values = np.concatenate([values, np.round(values[rs] + 1.0, 2)])
    props = np.concatenate([props, props[rs]])
    day = (lands - EPOCH_US) // (86400 * 10**6)
    lake = f"{out}/lake"
    dates = []
    for dday in range(int(day.max()) + 1):
        m = day == dday
        if not m.any():
            continue
        date = (dt.date(2024, 1, 1) + dt.timedelta(days=dday)).isoformat()
        dates.append(date)
        _write(pa.table({
            "event_id": pa.array(ids[m], pa.int64()), "ts": _ts(ts[m]),
            "user_id": pa.array(users[m], pa.int64()), "event_type": etype[m],
            "value": values[m], "props": props[m]}),
            f"{lake}/event_date={date}/part-00000.parquet")
    # stream feed: the first stream_files*stream_per_file events in time
    # order, as wire JSON, split into files; malformed lines are garbage
    order = np.argsort(ts, kind="stable")
    total = stream_files * stream_per_file
    sel = order[:total]
    feed = f"{out}/feed"
    os.makedirs(feed, exist_ok=True)
    files = []
    for f in range(stream_files):
        lines = []
        for i in sel[f * stream_per_file:(f + 1) * stream_per_file]:
            if etype[i] == "":
                lines.append('{"event_id": ' + str(int(ids[i])) + ', "ts": "not-a-ts')
                continue
            iso = dt.datetime.fromtimestamp(int(ts[i]) / 1e6, dt.timezone.utc)
            lines.append(json.dumps({
                "event_id": int(ids[i]),
                "ts": iso.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                "user_id": int(users[i]), "event_type": str(etype[i]),
                "value": float(values[i]), "props": str(props[i])}))
        name = f"{feed}/part-{f:05d}.json"
        with open(name, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append(name)
    return {"lake": lake, "dates": dates, "feed": files,
            "feed_events": total}


def curation(out, seed, n_batches=1, batch_docs=100, n_base=400, n_eval=40):
    """Ingest feed: base corpus, eval suite and per-batch docs + embeddings."""
    rng = np.random.default_rng(seed + 2)
    vocab = np.array([f"w{i:04d}" for i in range(5000)])
    base_text = _docs_text(rng, n_base, vocab, 40, 90)
    eval_text = _docs_text(rng, n_eval, vocab, 30, 60)
    n_probe = 8
    v, _ = _embeddings(rng, n_base + n_batches * batch_docs + n_probe)
    _write(pa.table({"doc_id": pa.array(np.arange(n_base), pa.int64()), "text": base_text}),
           f"{out}/base_docs.parquet")
    _write(pa.table({"vec_id": pa.array(np.arange(n_base), pa.int64()),
                     "embedding": _emb_column(v[:n_base])}), f"{out}/base_emb.parquet")
    _write(pa.table({"doc_id": pa.array(np.arange(n_eval) + 9 * 10**8, pa.int64()),
                     "text": eval_text}), f"{out}/eval_docs.parquet")
    landed = list(range(n_base))
    texts = dict(enumerate(base_text))
    batches, unique, planted = [], [], []
    next_id = n_base
    for b in range(n_batches):
        ids, txt = [], []
        prior = list(landed)
        for _ in range(batch_docs):
            r = rng.random()
            i = next_id
            next_id += 1
            if r < SHARES["curation.replay"]:
                t = texts[prior[int(rng.integers(0, len(prior)))]]
                planted.append(i)
            elif r < SHARES["curation.replay"] + SHARES["curation.near_dup"]:
                toks = texts[prior[int(rng.integers(0, len(prior)))]].split(" ")
                toks[int(rng.integers(len(toks) // 2, len(toks)))] = "edited"
                t = " ".join(toks)
                planted.append(i)
            elif r < (SHARES["curation.replay"] + SHARES["curation.near_dup"]
                      + SHARES["curation.leak"]):
                src = eval_text[int(rng.integers(0, n_eval))].split(" ")
                s0 = int(rng.integers(0, len(src) - 12))
                own = _docs_text(rng, 1, vocab, 30, 60)[0].split(" ")
                t = " ".join(own[:15] + src[s0:s0 + 12] + own[15:])
                planted.append(i)
            else:
                t = _docs_text(rng, 1, vocab, 40, 90)[0]
                unique.append(i)
                landed.append(i)
                texts[i] = t
            ids.append(i)
            txt.append(t)
        path = f"{out}/batch_{b:03d}"
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": txt}),
               f"{path}/docs.parquet")
        _write(pa.table({"vec_id": pa.array(ids, pa.int64()),
                         "embedding": _emb_column(v[ids])}), f"{path}/emb.parquet")
        batches.append(path)
    probes = v[-n_probe:]
    _write(pa.table({"vec_id": pa.array(np.arange(n_probe) + 8 * 10**8, pa.int64()),
                     "embedding": _emb_column(probes)}), f"{out}/probe_emb.parquet")
    # BM25 probes: three random vocabulary terms each, drawn from landed text
    terms = []
    for q in range(n_probe):
        t = texts[landed[int(rng.integers(0, len(landed)))]].split(" ")
        for w in rng.choice(t, 3, replace=False):
            terms.append((q, str(w)))
    _write(pa.table({"query_id": pa.array([q for q, _ in terms], pa.int64()),
                     "term": [w for _, w in terms]}), f"{out}/probe_terms.parquet")
    return {"batches": batches, "unique": unique, "planted": planted,
            "base": n_base}
