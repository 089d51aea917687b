"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, scale): the same seed writes
byte-identical parquet. Each workload gets a directory with its tables and a
``manifest.json`` holding the planted defect counts the benchmark checks the
program's outputs against.

    clean_session   ``dirty.parquet``: a lineitem with planted nulls,
                    outliers, duplicate keys, whitespace/case variants and
                    unparsable strings; ``tpch/``: a TPC-H-shaped star schema
                    (region .. lineitem) for the session's reports
    corpus_ingest   a stored corpus, an eval set and arrival batches with
                    planted exact duplicates, near-duplicates, in-batch
                    copies, eval contamination and low-quality docs
    control         a fixed (seed-independent) lineitem for the drift kernel
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# word vocabulary of the project's ``documents`` test table
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "blue", "old", "cold", "green", "small", "red"]
PNOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "screw", "valve"]
# Planted traffic. These rates are assumptions of this benchmark, not taken
# from a measurement of real tables or web crawls; they are sized so every
# planted kind has tens of rows per input, which the output checks need.
# Dirty lineitem: rows per defect kind (nulls, outliers, variants, ...).
DEFECT_EVERY = 1000
# Ingest batch: one planted doc of each kind per this many batch docs. The
# exact and near duplicate shares set how much candidate work verifies.
PLANT_EVERY = {"exact": 10, "near": 10, "copy": 20, "contam": 20, "lowq": 30}
DAY_MS = 86_400_000
EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
ORDER_DAYS = 2404             # 1995-01-01 .. 2001-08-01

# Scales: "full" is the benchmark, "smoke" (sf0.001) is for the
# benchmark's own tests.
SCALES = {
    "full": {"clean_rows": 60_000, "report_sf": 0.01, "corpus_docs": 5_000,
             "batch_docs": 500, "eval_docs": 100, "batches": 4,
             "control_rows": 60_000},
    "smoke": {"clean_rows": 6_000, "report_sf": 0.001, "corpus_docs": 500,
              "batch_docs": 100, "eval_docs": 20, "batches": 2,
              "control_rows": 6_000},
}

def _write(df_dict, schema, path):
    pq.write_table(pa.table(df_dict, schema=schema), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_ms(days):
    return (EPOCH_1995 + days.astype(np.int64) * DAY_MS).astype("datetime64[ms]")


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("ms"))])


def _lineitem(rng, n_orders, n_part, n_supp, order_days):
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_ms(order_days[okey] + rng.integers(1, 122, n)),
    }


def report_tables(out, seed, sf):
    """TPC-H-shaped tables (the schema of the project's test fixtures)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    i32 = pa.int32()
    _write({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", pa.string())]),
           f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5},
           pa.schema([("n_nationkey", i32), ("n_name", pa.string()),
                      ("n_regionkey", i32)]), f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write({"c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", i32), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]),
           f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write({"s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", i32), ("s_acctbal", pa.float64())]),
           f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(
        np.array(PADJ)[rng.integers(0, len(PADJ), n_part)], " "),
        np.array(PNOUN)[rng.integers(0, len(PNOUN), n_part)])
    _write({"p_partkey": pk, "p_name": names,
            "p_brand": np.char.add("Brand#",
                                   rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", i32), ("p_retailprice", pa.float64())]),
           f"{out}/part.parquet")
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    _write({"o_orderkey": np.arange(n_ord, dtype=np.int64),
            # a third of the customers never order (semi/anti joins)
            "o_custkey": rng.integers(0, n_cust, n_ord) // 3 * 3 + 1,
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_ms(odays),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("ms")),
                      ("o_orderpriority", pa.string())]),
           f"{out}/orders.parquet")
    li = _lineitem(rng, n_ord, n_part, n_supp, odays)
    _write(li, LINEITEM_SCHEMA, f"{out}/lineitem.parquet")
    rows = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": len(li["l_orderkey"])}
    return {"rows": rows}


def control_table(out, rows):
    """Seed-independent lineitem for the frozen drift kernel."""
    rng = np.random.default_rng(0)
    n_ord = rows // 4
    li = _lineitem(rng, n_ord, 20_000, 1_000, rng.integers(0, ORDER_DAYS, n_ord))
    _write(li, LINEITEM_SCHEMA, f"{out}/lineitem.parquet")
    return {"rows": {"lineitem": len(li["l_orderkey"])}}


def clean_table(out, seed, rows):
    """Dirty lineitem: each defect planted on a disjoint row set, so every
    count in the manifest is exact."""
    rng = np.random.default_rng([seed, 2])
    li = _lineitem(rng, rows // 4, 20_000, 1_000,
                   rng.integers(0, ORDER_DAYS, rows // 4))
    n = len(li["l_orderkey"])
    k = max(n // DEFECT_EVERY, 3)
    idx = rng.permutation(n)
    null_qty, null_disc, outl, variant, bad_tax, dup_src = (
        idx[i * k:(i + 1) * k] for i in range(6))
    qty = li["l_quantity"].astype(object)
    qty[null_qty] = None
    disc = li["l_discount"].astype(object)
    disc[null_disc] = None
    price = li["l_extendedprice"].copy()
    price[outl] = np.round(price[outl] * 1000.0, 2)
    flag = li["l_returnflag"].astype(object)
    forms = {"A": [" a", "A ", "a"], "N": [" n", "N ", "n"], "R": [" r", "R ", "r"]}
    flag[variant] = [forms[f][j % 3] for j, f in enumerate(flag[variant])]
    tax_raw = np.char.mod("%.2f", li["l_tax"]).astype(object)
    tax_raw[bad_tax] = np.array(["n/a", "0,05", "", "??"])[np.arange(k) % 4]
    cols = dict(li, l_quantity=qty, l_discount=disc, l_extendedprice=price,
                l_returnflag=flag, l_tax_raw=tax_raw)
    # duplicate keys: a copy of a clean row with a later ship date
    dup = {c: np.asarray(v)[dup_src] for c, v in cols.items()}
    dup["l_shipdate"] = dup["l_shipdate"] + np.timedelta64(DAY_MS, "ms")
    order = rng.permutation(n + k)
    table = {c: np.concatenate([np.asarray(cols[c]), np.asarray(dup[c])])[order]
             for c in cols}
    schema = LINEITEM_SCHEMA.append(pa.field("l_tax_raw", pa.string()))
    _write(table, schema, f"{out}/dirty.parquet")
    canon = np.array([s.strip().upper() for s in table["l_returnflag"]])
    status = table["l_linestatus"]
    flag_counts = {f"{s}|{f}": int(((status == s) & (table["l_returnflag"] == f)).sum())
                   for s in ("F", "O") for f in ("A", "N", "R")}
    return {"rows": {"lineitem": n + k}, "distinct_keys": n,
            "null_l_quantity": k, "null_l_discount": k, "outliers": k,
            "outlier_floor": float(np.min(price[outl])),
            "normal_price_max": float(np.max(np.delete(price, outl))),
            "flag_variants": k, "bad_tax": k, "dup_keys": k,
            "flag_counts": flag_counts,
            "canon_flag_counts": {f: int((canon == f).sum()) for f in "ANR"}}


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _docs(rng, n, lo=20, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = VOCAB[rng.integers(0, len(VOCAB), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def corpus_tables(out, seed, docs, batch_docs, eval_docs, batches):
    rng = np.random.default_rng([seed, 3])
    corpus = _docs(rng, docs)
    _write({"doc_id": np.arange(docs, dtype=np.int64), "text": corpus},
           DOC_SCHEMA, f"{out}/corpus.parquet")
    evals = _docs(rng, eval_docs, 40, 80)
    _write({"doc_id": np.arange(eval_docs, dtype=np.int64) + 90_000_000,
            "text": evals}, DOC_SCHEMA, f"{out}/eval.parquet")
    long_src = np.array([i for i, t in enumerate(corpus) if t.count(" ") >= 59])
    per = {kind: batch_docs // d for kind, d in PLANT_EVERY.items()}
    manifest = {"batches": []}
    for b in range(batches):
        base = 10_000_000 + b * 100_000
        n_fresh = batch_docs - sum(per.values())
        texts = _docs(rng, n_fresh)
        kinds = ["fresh"] * n_fresh
        src = rng.choice(long_src, per["exact"] + per["near"], replace=False)
        texts += [corpus[i] for i in src[:per["exact"]]]
        kinds += ["exact"] * per["exact"]
        for i in src[per["exact"]:]:  # one substituted word: jaccard ~0.9
            w = corpus[i].split(" ")
            j = int(rng.integers(5, len(w) - 5))
            w[j] = VOCAB[(np.searchsorted(VOCAB, w[j]) + 1) % len(VOCAB)]
            texts.append(" ".join(w))
        kinds += ["near"] * per["near"]
        texts += [texts[int(i)] for i in rng.choice(n_fresh, per["copy"], replace=False)]
        kinds += ["copy"] * per["copy"]
        for t in _docs(rng, per["contam"]):  # a 12-word span of an eval doc
            e = evals[int(rng.integers(0, eval_docs))].split(" ")
            j = int(rng.integers(0, len(e) - 12))
            texts.append(t + " " + " ".join(e[j:j + 12]))
        kinds += ["contam"] * per["contam"]
        for _ in range(per["lowq"]):  # one trigram repeated: rep ratio ~0.9
            texts.append(" ".join(list(VOCAB[rng.integers(0, len(VOCAB), 3)]) * 15))
        kinds += ["lowq"] * per["lowq"]
        ids = base + np.arange(len(texts), dtype=np.int64)
        _write({"doc_id": ids, "text": texts}, DOC_SCHEMA,
               f"{out}/batch_{b}.parquet")
        ids_by = {k: [int(i) for i, kk in zip(ids, kinds) if kk == k]
                  for k in ("fresh", "exact", "near", "copy", "contam", "lowq")}
        manifest["batches"].append(ids_by)
    manifest["rows"] = {"corpus": docs, "batch": batch_docs, "eval": eval_docs}
    return manifest


def generate(workload, seed, scale, out):
    """Write the inputs of one workload under ``out``; returns the manifest."""
    s = SCALES[scale]
    os.makedirs(out, exist_ok=True)
    if workload == "clean_session":
        m = clean_table(out, seed, s["clean_rows"])
        os.makedirs(f"{out}/tpch", exist_ok=True)
        m["tpch"] = report_tables(f"{out}/tpch", seed, s["report_sf"])
    elif workload == "corpus_ingest":
        m = corpus_tables(out, seed, s["corpus_docs"], s["batch_docs"],
                          s["eval_docs"], s["batches"])
    else:
        raise ValueError(f"unknown workload {workload}")
    os.makedirs(f"{out}/control", exist_ok=True)
    m["control"] = control_table(f"{out}/control", s["control_rows"])
    m.update(workload=workload, seed=seed, scale=scale)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(m, f)
    return m
