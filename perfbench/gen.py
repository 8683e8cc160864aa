"""Seeded input generators, one per workload.

Every input a workload reads is made here from the seed alone, written
under the workload's data directory, and described by a `traffic` dict
(the dimensions the workload varies) that run.py records with the
results. Generation happens before any timed step.
"""
import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- etl_relational: a star schema with a Zipf-skewed fact join key ----

ETL = dict(fact_rows=300_000, fact_files=8, stores=400, products=1_500,
           categories=12, regions=6, days=90, zipf_a=1.3)


def gen_etl(rng, out):
    p = ETL
    n = p["fact_rows"]
    # Zipf-skewed store key, folded into [1, stores]: store 1 is hot
    store = (rng.zipf(p["zipf_a"], n) - 1) % p["stores"] + 1
    product = rng.integers(1, p["products"] + 1, n)
    qty = rng.integers(1, 9, n)
    cents = rng.integers(99, 20_000, n)
    day = rng.integers(0, p["days"], n)
    os.makedirs(f"{out}/sales", exist_ok=True)
    bounds = np.linspace(0, n, p["fact_files"] + 1).astype(int)
    for i in range(p["fact_files"]):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(pa.table({
            "sale_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "store_id": pa.array(store[lo:hi].astype(np.int32)),
            "product_id": pa.array(product[lo:hi].astype(np.int32)),
            "qty": pa.array(qty[lo:hi].astype(np.int32)),
            "cents": pa.array(cents[lo:hi].astype(np.int64)),
            "day": pa.array(day[lo:hi].astype(np.int32)),
        }), f"{out}/sales/part-{i:03d}.parquet")
    regions = [f"region_{chr(97 + i)}" for i in range(p["regions"])]
    pq.write_table(pa.table({
        "store_id": pa.array(np.arange(1, p["stores"] + 1, dtype=np.int32)),
        "region": pa.array([regions[i] for i in rng.integers(0, p["regions"], p["stores"])]),
        "open_year": pa.array(rng.integers(1990, 2024, p["stores"]).astype(np.int32)),
    }), f"{out}/stores.parquet")
    pq.write_table(pa.table({
        "product_id": pa.array(np.arange(1, p["products"] + 1, dtype=np.int32)),
        "category": pa.array([f"cat_{i:02d}" for i in
                              rng.integers(0, p["categories"], p["products"])]),
    }), f"{out}/products.parquet")
    hot = float(np.mean(store == 1))
    return {"fact_rows": n, "fact_files": p["fact_files"], "stores": p["stores"],
            "products": p["products"], "zipf_a": p["zipf_a"],
            "hot_key_share": round(hot, 4)}, n + p["stores"] + p["products"]


# ---- text_curation: a gzip-compressed corpus with planted duplicates ----

TEXT = dict(docs=3_000, vocab=4_000, exact_dup_share=0.10, near_dup_share=0.10,
            pii_share=0.20, short_share=0.05, len_median=120, len_sigma=0.5,
            len_min=60, len_max=600)


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _pii(rng, i):
    kind = i % 4
    if kind == 0:
        return f"mail user{i}.x@host{i % 97}.example.org now"
    if kind == 1:
        return f"call +1415{rng.integers(1000000, 9999999)} today"
    if kind == 2:
        return f"ssn {rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)} given"
    return f"from 10.{i % 256}.{rng.integers(0, 255)}.{rng.integers(1, 255)} seen"


def gen_text(rng, out):
    p = TEXT
    vocab = _words(rng, p["vocab"])
    zipf_w = 1.0 / np.arange(1, p["vocab"] + 1) ** 1.05
    zipf_w /= zipf_w.sum()
    n = p["docs"]
    texts, kinds = [], []
    originals, near_src = [], set()
    for i in range(n):
        r = rng.random()
        if originals and r < p["exact_dup_share"]:
            texts.append(texts[originals[rng.integers(0, len(originals))]])
            kinds.append("exact_dup")
            continue
        fresh = [o for o in originals[-50:] if o not in near_src
                 and texts[o].count(" ") + 1 >= p["len_min"]]
        if fresh and r < p["exact_dup_share"] + p["near_dup_share"]:
            # one token substitution in a document of len_min tokens or
            # more keeps 3-shingle jaccard >= 0.9, where MinHash-LSH
            # recall is within 1e-7 of exact; each original gets at most
            # one near duplicate, so no two near duplicates pair up
            o = fresh[int(rng.integers(0, len(fresh)))]
            near_src.add(o)
            src = texts[o].split(" ")
            src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, p["vocab"]))]
            texts.append(" ".join(src))
            kinds.append("near_dup")
            continue
        if r < p["exact_dup_share"] + p["near_dup_share"] + p["short_share"]:
            length = int(rng.integers(3, 18))
        else:
            length = int(np.clip(rng.lognormal(np.log(p["len_median"]), p["len_sigma"]),
                                 p["len_min"], p["len_max"]))
        toks = [vocab[j] for j in rng.choice(p["vocab"], length, p=zipf_w)]
        if rng.random() < p["pii_share"]:
            toks.insert(int(rng.integers(0, length)), _pii(rng, i))
            kinds.append("pii")
        else:
            kinds.append("plain")
        texts.append(" ".join(toks).capitalize() + ".")
        originals.append(i)
    payloads = [gzip.compress(t.encode("utf-8"), compresslevel=(1, 6, 9)[i % 3], mtime=0)
                for i, t in enumerate(texts)]
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "media": pa.array([{"payload": b} for b in payloads],
                          type=pa.struct([("payload", pa.binary())])),
    }), f"{out}/docs_gz.parquet")
    # the plain corpus is the oracle's input only; the program never reads it
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                             "text": pa.array(texts)}), f"{out}/oracle_docs.parquet")
    lens = np.array([t.count(" ") + 1 for t in texts])
    raw = sum(len(t.encode()) for t in texts)
    share = {k: round(kinds.count(k) / n, 4) for k in ("exact_dup", "near_dup", "pii")}
    return {"docs": n, "shares": share, "short_share": p["short_share"],
            "tokens_p10_p50_p90": [int(x) for x in np.percentile(lens, [10, 50, 90])],
            "gzip_levels": [1, 6, 9], "compression_ratio": round(
                raw / sum(len(b) for b in payloads), 3)}, n


# ---- cli_small_runs: reference-sized inline / CSV / JSON sources ----

CLI = dict(csv_orders=3_000, json_orders=2_000, customers=200, segments=5, days=30,
           history_runs=200)


def gen_cli(rng, out):
    p = CLI
    os.makedirs(out, exist_ok=True)
    statuses = np.array(["open", "open", "open", "closed", "void"])

    def orders(lo, n):
        ids = np.arange(lo, lo + n)
        return [{"order_id": str(int(i)), "cust_id": str(int(rng.integers(1, p["customers"] + 1))),
                 "amount": str(int(rng.integers(1, 500))),
                 "status": str(rng.choice(statuses)),
                 "day": f"d{int(rng.integers(0, p['days'])):02d}"} for i in ids]

    csv_rows = orders(0, p["csv_orders"])
    # the JSON file repeats a tenth of the CSV orders verbatim, so the
    # deduplicate stage has real duplicates to drop
    overlap = csv_rows[: p["json_orders"] // 10]
    json_rows = overlap + orders(p["csv_orders"], p["json_orders"] - len(overlap))
    cols = ["order_id", "cust_id", "amount", "status", "day"]
    with open(f"{out}/orders.csv", "w") as f:
        f.write(",".join(cols) + "\n")
        for r in csv_rows:
            f.write(",".join(r[c] for c in cols) + "\n")
    with open(f"{out}/orders.json", "w") as f:
        json.dump(json_rows, f)
    seg = [f"seg_{chr(97 + i)}" for i in range(p["segments"])]
    customers = [{"cust_id": str(i), "segment": seg[int(rng.integers(0, p["segments"]))]}
                 for i in range(1, p["customers"] + 1)]
    with open(f"{out}/customers.json", "w") as f:
        json.dump(customers, f)
    return {"csv_rows": p["csv_orders"], "json_rows": p["json_orders"],
            "json_overlap_rows": len(overlap), "inline_rows": p["customers"],
            "catalog_history_runs": p["history_runs"]}, \
        p["csv_orders"] + p["json_orders"] + p["customers"]


GENERATORS = {"etl_relational": gen_etl, "text_curation": gen_text, "cli_small_runs": gen_cli}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out` (once) and
    return (traffic, input_rows)."""
    meta = f"{out}/traffic.json"
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        return m["traffic"], m["input_rows"]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    traffic, rows = GENERATORS[workload](np.random.default_rng(seed), tmp)
    with open(f"{tmp}/traffic.json", "w") as f:
        json.dump({"traffic": traffic, "input_rows": rows}, f)
    os.rename(tmp, out)
    return traffic, rows
