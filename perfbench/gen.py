"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here from a seed, so the same seed
gives byte-identical inputs. The program under test only ever sees the
files written below.

  lake      TPC-H-like star schema plus events, documents and embeddings
            (one parquet file per table), the shape of the repository's
            sf0.1 test lake. Fixed seed: lake_sql varies its query order
            with the run seed, so its recorded expectations stay valid.
  crawl     a Common Crawl index in pywb paging shape (NDJSON pages) and
            gzip-member WARC archives built from the lake's documents,
            with exact and near duplicates planted at stated shares.
  federated the D1 table's seed rows and the Iceberg `orders` table.

Run directly to write one workload's inputs and print their properties:
  python3 perfbench/gen.py crawl_to_shards 7 OUT_DIR
"""
import gzip
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 42
LAKE_SF = 0.1  # the recorded lake_sql expectations hold at this scale only
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts_us(start_iso, n_days, rng, n):
    start = np.datetime64(start_iso, "us").astype(np.int64)
    days = rng.integers(0, n_days, n) * 86_400_000_000
    return pa.array(start + days, pa.timestamp("us"))


def documents(sf, rng, planted=False):
    """Texts of 10..100 words over a 30-word vocabulary. Distinct unless
    `planted`, which copies 0.5% of the texts verbatim and 5% with one
    word replaced by "dup" (the repository test lake's duplicate shape),
    so the dedup queries have work to find; it also makes four docs
    among doc_id < 200, the slice the pairwise queries (q46, q68)
    compare, one-word edits of four other long docs there."""
    n = int(50_000 * sf)
    seen, texts = set(), []
    while len(texts) < n:
        k = int(rng.integers(10, 101))
        t = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    if planted:
        for i in rng.choice(n, n // 200, replace=False):
            texts[i] = texts[int(rng.integers(0, n))]
        for i in rng.choice(n, n // 20, replace=False):
            w = texts[int(rng.integers(0, n))].split()
            w[int(rng.integers(0, len(w)))] = "dup"
            texts[i] = " ".join(w)
        long_ = [i for i in range(200) if len(texts[i].split()) >= 60]
        pick = rng.choice(long_, 8, replace=False)
        for src, dst in zip(pick[:4], pick[4:]):
            w = texts[int(src)].split()
            j = int(rng.integers(0, len(w)))
            w[j] = "dup" if w[j] != "dup" else "near"
            texts[int(dst)] = " ".join(w)
    lang = rng.choice(LANGS, n, p=LANG_P)
    source = np.array([f"src{i}" for i in rng.integers(0, 20, n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def lake(out):
    """Write the lake tables under `out`; returns {table: rows}."""
    sf = LAKE_SF
    rng = np.random.default_rng(LAKE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_emb = int(20_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "red", "hot", "cold", "new", "large", "small", "green"])
    noun = np.array(["bolt", "ring", "gear", "plate", "widget", "anvil", "nut", "screw"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts_us("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    okey = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_us("1995-01-02", 2498, rng, n_li)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64) +
                    rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(sf, rng, planted=True)
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] + 0.35 * rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return {k: v.num_rows for k, v in t.items()}


def _warc_member(url, lang, body):
    payload = body.encode("utf-8")
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
            b"Content-Language: " + lang.encode() + b"\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n" + payload)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + url.encode() +
           b"\r\nContent-Type: application/http; msgtype=response\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n")
    return gzip.compress(rec, compresslevel=6, mtime=0)


def crawl(out, seed, docs, lake_ids, n_records=600, exact_share=0.05,
          near_share=0.04, lake_share=0.02, n_pages=12, n_archives=8,
          crawl_id="CC-BENCH-2024-46"):
    """Build the crawl served by the benchmark's CDX/WARC endpoints.

    Records are drawn from `docs` (a pyarrow documents table) outside the
    lake slice `lake_ids`; then planted:
      exact_share  copies of an earlier crawl record's text (new URL),
      near_share   one-word edits of a >=80-word lake-slice doc,
      lake_share   verbatim copies of a lake-slice doc.
    The source and the language ride on the URL host and the
    Content-Language header. Returns the properties dict (also written to
    crawl/props.json).
    """
    rng = np.random.default_rng(seed)
    ids = docs.column("doc_id").to_numpy()
    text = docs.column("text").to_pylist()
    lang = docs.column("lang").to_pylist()
    src = docs.column("source").to_pylist()
    lake_set = set(int(i) for i in lake_ids)
    pool = [int(i) for i in ids if int(i) not in lake_set]
    n_exact = int(round(n_records * exact_share))
    n_near = int(round(n_records * near_share))
    n_lake = int(round(n_records * lake_share))
    n_base = n_records - n_exact - n_near - n_lake
    base = rng.choice(pool, n_base, replace=False)
    recs = [(int(d), text[d], "base") for d in base]
    for d in rng.choice(n_base, n_exact, replace=False):
        recs.append((int(recs[int(d)][0]), recs[int(d)][1], "exact"))
    long_lake = [i for i in sorted(lake_set) if len(text[i].split()) >= 80]
    for d in rng.choice(long_lake, n_near, replace=False):
        w = text[int(d)].split()
        j = len(w) // 2
        w[j] = "dup" if w[j] != "dup" else "near"
        recs.append((int(d), " ".join(w), "near"))
    for d in rng.choice(sorted(lake_set), n_lake, replace=False):
        recs.append((int(d), text[int(d)], "lake"))
    order = rng.permutation(len(recs))
    recs = [recs[i] for i in order]

    os.makedirs(os.path.join(out, "warc"), exist_ok=True)
    archives = [bytearray() for _ in range(n_archives)]
    cdx_rows = []
    for i, (d, body, kind) in enumerate(recs):
        a = int(rng.integers(0, n_archives))
        url = f"https://{src[d]}.example.org/doc/{i:06d}"
        member = _warc_member(url, lang[d], body)
        fname = f"crawl-data/{crawl_id}/segments/s0/warc/part-{a:05d}.warc.gz"
        if not archives[a]:
            archives[a] += b"\0"  # offset 0 reads as "no WARC" to the reader
        offset = len(archives[a])
        archives[a] += member
        cdx_rows.append({
            "url": url, "timestamp": f"20241110{i % 240000:06d}",
            "mime": "text/plain", "status": "200",
            "digest": hashlib.sha1(body.encode()).hexdigest().upper(),
            "filename": fname, "offset": str(offset), "length": str(len(member))})
    for a, buf in enumerate(archives):
        with open(os.path.join(out, "warc", f"part-{a:05d}.warc.gz"), "wb") as f:
            f.write(bytes(buf))
    per = -(-len(cdx_rows) // n_pages)
    with open(os.path.join(out, "cdx.ndjson"), "w") as f:
        for p in range(n_pages):
            for r in cdx_rows[p * per:(p + 1) * per]:
                f.write(json.dumps(dict(r, page=p)) + "\n")
    props = {
        "crawl_id": crawl_id, "records": len(recs), "pages": n_pages,
        "records_per_page": per, "archives": n_archives,
        "archive_bytes": sum(len(b) for b in archives),
        "body_bytes": sum(len(r[1].encode()) for r in recs),
        "lake_slice_docs": len(lake_set),
        "planted_exact": n_exact, "planted_near": n_near, "planted_lake": n_lake,
        "exact_share": exact_share, "near_share": near_share, "lake_share": lake_share,
    }
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f)
    return props


def federated(out, seed, d1_rows=400, n_orders=40_000, iceberg_files=4):
    """D1 seed rows (k TEXT, v INTEGER, tag TEXT) and the Iceberg `orders`
    table (a seeded orders sample, published in range-split files)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tags = rng.choice(["red", "green", "blue", "amber"], d1_rows)
    rows = [{"k": f"seed-{i:05d}", "v": int(v), "tag": str(t)}
            for i, (v, t) in enumerate(zip(rng.integers(0, 10_000, d1_rows), tags))]
    with open(os.path.join(out, "d1_rows.json"), "w") as f:
        json.dump(rows, f)
    orders = pa.table({
        "o_orderkey": pa.array(np.sort(rng.choice(10 * n_orders, n_orders,
                                                  replace=False)).astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n_orders).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    pq.write_table(orders, os.path.join(out, "orders.parquet"))
    props = {"d1_seed_rows": d1_rows, "orders_rows": n_orders,
             "iceberg_files": iceberg_files,
             "orders_bytes": os.path.getsize(os.path.join(out, "orders.parquet"))}
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f)
    return props


def make(workload, seed, out):
    """Generate every input `workload` reads under `out`; returns props."""
    props = {}
    if workload == "lake_sql":
        rows = lake(os.path.join(out, "lake"))
        props["lake_rows"] = rows
        props["lake_bytes"] = sum(
            os.path.getsize(os.path.join(out, "lake", f))
            for f in os.listdir(os.path.join(out, "lake")))
    if workload == "crawl_to_shards":
        # the crawl draws from a corpus the size of the lake's documents
        docs = documents(LAKE_SF, np.random.default_rng(LAKE_SEED))
        os.makedirs(os.path.join(out, "lake"))
        pq.write_table(docs, os.path.join(out, "lake", "documents.parquet"))
        props.update(crawl(os.path.join(out, "crawl"), seed, docs,
                           range(docs.num_rows // 20)))
    if workload == "federated_rw":
        props.update(federated(os.path.join(out, "federated"), seed))
    return props


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(make(w, s, o)))
