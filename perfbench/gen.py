#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Everything the benchmark feeds the engine is written here, before any
timing starts, from one integer seed: the warehouse tables (TPC-H-shaped
star schema, events, documents, embeddings), the `olap_mix` entry order,
the `ingest_upkeep` rounds (micro-batches of documents with planted
near-duplicates and re-crawled versions, vectors, wire-schema listing lines,
and the forget requests) and the serve probe sets. The same seed always gives
byte-identical files; `manifest.json` lists the sha256 of each.

Usage: python3 perfbench/gen.py --seed 7 --out DIR
"""
import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes. The TPC-H-shaped tables are at scale factor 0.01 (the oracle
# gate's scale); documents and embeddings are sized so that a full index
# build fits inside one benchmark run's set-up.
N_CUSTOMER = 1500
N_ORDERS = 15000
N_PART = 2000
N_SUPPLIER = 100
N_EVENTS = 10000
N_USERS = 1500
N_DOCS = 2000
N_VECS = 600
DIM = 64
N_LABELS = 10

# ingest_upkeep: a 500-document starting corpus and the 600 vectors,
# then rounds of the standing loop. Each round's micro-batch carries the
# reference consumer's BATCH_SIZE of documents: planted near-duplicates of
# live documents, re-crawls (the edited text under a new version id; the old
# id is deleted in the same round, because the tombstone log masks an id for
# good) and fresh documents. Forgets delete live ids; versions and fresh
# arrivals replace every deleted id, so the corpus size stays stationary.
INITIAL_DOCS = 500
BATCH_DOCS = 100
PLANTS = 10
DOC_VERSIONS = 20
DOC_FRESH = BATCH_DOCS - PLANTS - DOC_VERSIONS
DOC_FORGETS = DOC_FRESH
BATCH_VECS = 20
VEC_VERSIONS = 5
VEC_FRESH = BATCH_VECS - VEC_VERSIONS
VEC_FORGETS = VEC_FRESH
BATCH_LISTINGS = 100
N_ROUNDS = 24
STREAM_ID_BASE = 1_000_000

# Serve probe sets (fixed for the whole run).
N_DEDUP_PROBES = 20
N_ANN_PROBES = 8

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window column order data join small big customer "
         "query filter stream group vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "cold", "red", "green", "tiny"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "valve", "plate", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# The OLAP entries, grouped by the object that implements them.
OLAP_ENTRIES = [
    # analytics.Relational: scan + aggregate, join, window, cube, sketches
    "q01_pricing_summary", "q04_revenue_by_nation", "q05_top_orders_per_customer",
    "q06_customer_cube", "q13_approx_distinct", "q102_mergeable_quantiles",
    # analytics.TextStats
    "q21_token_stats", "q55_tfidf_terms", "q176_bm25_topk",
    # analytics.Similarity
    "q28_cosine_topk",
    # analytics.Accuracy
    "q152_kmv_overlap",
    # analytics.Dedup, sharing functions.SessionMemo intermediates
    "q37_dedup_corpus", "q71_dedup_keep_best", "q72_dedup_stats",
    "q142_dedup_pipeline",
]

# Wire-schema listing variant families, mirroring the parser branches that
# graft.ingest.ListingFixtures covers: well-formed values, the negotiable and
# unknown price sentinels, nulls, unparseable strings, and malformed lines.
DISTRICTS = [("Quận 1", "Hồ Chí Minh"), ("Quận 3", "Hồ Chí Minh"),
             ("Quận Gò Vấp", "Hồ Chí Minh"), ("Quận Tân Bình", "Hồ Chí Minh"),
             ("Quận 5", "Hồ Chí Minh"), ("Huyện Thanh Trì", "Hà Nội"),
             ("Quận Hà Đông", "Hà Nội"), ("Quận Cầu Giấy", "Hà Nội")]
STREETS = ["Lê Lợi", "Phố Huế", "Nguyễn Trãi", "Nguyễn Huệ", "Trần Phú",
           "Lý Thường Kiệt", None]
WARDS = ["Phường Bến Nghé", "Xã Tân Triều", "Phường 7", "Phường Mộ Lao",
         "Phường 8", None]
KINDS = ["Nhà phố", "Căn hộ", "Đất", None]
PRICE_FAMILIES = ["number", "number", "number", "Thỏa thuận", "Không rõ",
                  None, "giá rẻ", "2,,3"]
DATE_FAMILIES = ["iso", "iso", "iso", "not a date", "31/02/2025", None,
                 "2025-02-31"]
MALFORMED_LINES = ['{"post_date": "2025-04-', 'not json at all',
                   '{"price": "5.5", "area": }']


def _text(rng, n_tokens):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tokens))


def _ts_us(base, offsets_s):
    return pa.array(base + offsets_s.astype("int64") * 1_000_000,
                    type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(rng, out):
    epoch_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * 1_000_000
    epoch_2024 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    day = 86400
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)}),
        f"{out}/supplier.parquet")
    adj = rng.integers(0, len(PART_ADJ), N_PART)
    noun = rng.integers(0, len(PART_NOUN), N_PART)
    _write(pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2)}),
        f"{out}/part.parquet")
    odate = rng.integers(0, 2400, N_ORDERS) * day
    _write(pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 450000, N_ORDERS), 2),
        "o_orderdate": _ts_us(epoch_1995, odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]}),
        f"{out}/orders.parquet")
    nlines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), nlines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in nlines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts_us(epoch_1995, odate[okey] + rng.integers(1, 122, n) * day)}),
        f"{out}/lineitem.parquet")
    ev_off = np.sort(rng.integers(0, 30 * day * 1_000_000, N_EVENTS))
    _write(pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(epoch_2024 + ev_off, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0, 560, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]}),
        f"{out}/events.parquet")
    texts = [_text(rng, int(k)) for k in rng.integers(8, 90, N_DOCS)]
    _write(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    vecs = rng.normal(0, 0.15, (N_VECS, DIM)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, N_VECS), pa.int32())}),
        f"{out}/embeddings.parquet")
    return texts


def _vec(rng):
    return [round(float(x), 6) for x in rng.normal(0, 0.15, DIM)]


def listing_line(rng):
    """One wire-schema JSONL line (graft.model.Listing.RawSchema)."""
    r = rng.random()
    if r < 0.03:
        return MALFORMED_LINES[int(rng.integers(0, len(MALFORMED_LINES)))], False
    if r < 0.05:
        return "{}", True
    district, city = DISTRICTS[int(rng.integers(0, len(DISTRICTS)))]
    fam = DATE_FAMILIES[int(rng.integers(0, len(DATE_FAMILIES)))]
    date = ((dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 480))))
            .isoformat() if fam == "iso" else fam)
    pfam = PRICE_FAMILIES[int(rng.integers(0, len(PRICE_FAMILIES)))]
    price = f"{rng.uniform(0.5, 30):.2f}" if pfam == "number" else pfam
    rec = {
        "post_date": date,
        "duong_pho": STREETS[int(rng.integers(0, len(STREETS)))],
        "phuong_xa": WARDS[int(rng.integers(0, len(WARDS)))],
        "quan_huyen": district,
        "thanh_pho": city,
        "loai_bds": KINDS[int(rng.integers(0, len(KINDS)))],
        "area": (None if rng.random() < 0.1
                 else round(float(rng.uniform(20, 300)), 1)),
        "chieu_ngang": ("---", "4", "4,5", None)[int(rng.integers(0, 4))],
        "chieu_dai": ("20", "10", None)[int(rng.integers(0, 3))],
        "duong_truoc_nha": ("12", "8", "4,5", None)[int(rng.integers(0, 4))],
        "so_tang": ("3", "2", "năm", None)[int(rng.integers(0, 4))],
        "so_phong_ngu": ("4", "3", "0", None)[int(rng.integers(0, 4))],
        "cho_de_xe": ("Có", "Không", None)[int(rng.integers(0, 3))],
        "price": price,
        "source": "alonhadat",
    }
    return json.dumps(rec, ensure_ascii=False), True


def rounds(rng, texts, out):
    """ingest_upkeep rounds: the micro-batches (written as parquet with a
    `round` column), each round's forget ids, and one listings file per
    round. Every choice is among ids live at the start of the round."""
    initial = sorted(int(i) for i in rng.choice(N_DOCS, INITIAL_DOCS, replace=False))
    live_docs = {i: texts[i] for i in initial}
    live_vecs = list(range(N_VECS))
    next_id = STREAM_ID_BASE
    docs = {"round": [], "doc_id": [], "text": [], "kind": [], "of": []}
    vecs = {"round": [], "vec_id": [], "v": [], "of": []}
    plan = []
    os.makedirs(f"{out}/listings", exist_ok=True)
    for r in range(N_ROUNDS):
        ids = sorted(live_docs)
        pick = [ids[int(k)] for k in
                rng.choice(len(ids), DOC_VERSIONS + DOC_FORGETS + PLANTS, replace=False)]
        recrawl = pick[:DOC_VERSIONS]
        forget = pick[DOC_VERSIONS:DOC_VERSIONS + DOC_FORGETS]
        plant_of = pick[DOC_VERSIONS + DOC_FORGETS:]
        batch = ([(f"{live_docs[i]} rev{r}d{i}", "version", i) for i in recrawl]
                 # one appended token: the ScaleRehearsal.scaledDocs copy rule
                 + [(f"{live_docs[i]} zzdup{r}", "plant", i) for i in plant_of]
                 + [(_text(rng, int(rng.integers(8, 90))), "fresh", -1)
                    for _ in range(DOC_FRESH)])
        for k in rng.permutation(len(batch)):
            text, kind, of = batch[int(k)]
            docs["round"].append(r); docs["doc_id"].append(next_id)
            docs["text"].append(text); docs["kind"].append(kind); docs["of"].append(of)
            if kind != "plant":
                live_docs[next_id] = text
            next_id += 1
        for i in recrawl + forget:
            del live_docs[i]
        vpick = [live_vecs[int(k)] for k in
                 rng.choice(len(live_vecs), VEC_VERSIONS + VEC_FORGETS, replace=False)]
        vgone = set(vpick)
        live_vecs = [i for i in live_vecs if i not in vgone]
        for of in vpick[:VEC_VERSIONS] + [-1] * VEC_FRESH:
            vecs["round"].append(r); vecs["vec_id"].append(next_id)
            vecs["v"].append(_vec(rng)); vecs["of"].append(of)
            live_vecs.append(next_id)
            next_id += 1
        lines = [listing_line(rng) for _ in range(BATCH_LISTINGS)]
        with open(f"{out}/listings/r={r:05d}.jsonl", "w", encoding="utf-8") as f:
            f.write("\n".join(line for line, _ in lines) + "\n")
        plan.append({"forget_docs": forget, "forget_vecs": vpick[VEC_VERSIONS:],
                     "listing_rows": sum(ok for _, ok in lines)})
    _write(pa.table({"round": pa.array(docs["round"], pa.int32()),
                     "doc_id": pa.array(docs["doc_id"], pa.int64()),
                     "text": docs["text"], "kind": docs["kind"],
                     "of": pa.array(docs["of"], pa.int64())}),
           f"{out}/stream_docs.parquet")
    _write(pa.table({"round": pa.array(vecs["round"], pa.int32()),
                     "vec_id": pa.array(vecs["vec_id"], pa.int64()),
                     "v": pa.array(vecs["v"], pa.list_(pa.float64())),
                     "of": pa.array(vecs["of"], pa.int64())}),
           f"{out}/stream_vecs.parquet")
    return initial, plan


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tdir = f"{out}/tables"
    os.makedirs(tdir, exist_ok=True)
    texts = tables(rng, tdir)
    order = [OLAP_ENTRIES[int(i)] for i in rng.permutation(len(OLAP_ENTRIES))]
    initial, round_plan = rounds(rng, texts, out)
    plan = {
        "seed": seed,
        "olap_order": order,
        "initial_doc_ids": initial,
        "dedup_probes": sorted(int(i) for i in rng.choice(initial, N_DEDUP_PROBES,
                                                          replace=False)),
        "ann_probes": sorted(int(i) for i in rng.choice(N_VECS, N_ANN_PROBES,
                                                        replace=False)),
        "rounds": round_plan,
    }
    with open(f"{out}/plan.json", "w", encoding="utf-8") as f:
        json.dump(plan, f, ensure_ascii=False, sort_keys=True)
    digests = {}
    for root, _, files in os.walk(out):
        for name in files:
            p = os.path.join(root, name)
            rel = os.path.relpath(p, out)
            if rel == "manifest.json":
                continue
            with open(p, "rb") as f:
                digests[rel] = hashlib.sha256(f.read()).hexdigest()
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"seed": seed, "sha256": dict(sorted(digests.items()))}, f,
                  sort_keys=True, indent=1)
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
