"""Seeded input generators for the benchmark.

`tables(out_dir, sf, seed)` writes the ten engine tables (TPC-H-ish star
schema plus events, documents and embeddings) as single-row-group parquet
files with the shapes and value ranges of the engine's test data, and the
`companies` / `appointments` inputs of the ingest workload.

`applicants(path, seed, companies, batches, batch_rows)` writes the ingest
workload's webhook stream: noisy company-name variants, redeliveries,
invalid rows and individuals, plus the counts the store must end with.

The kinds of row follow the engine's pinned applicant fixtures: the
invalid rows and the individual spelling are those of the reference's
validation batch that `pipeline_e2e` (src/main/scala/graft/queries/E2E.scala)
plants, and company names are noisy variants of `companies` as in that
query. The shares of each kind are not taken from any traffic record; the
repository has none. They are assumptions, chosen so that most rows reach
the fuzzy match (the expensive step) while every path of the pipeline runs
in every batch: see the `*_SHARE` constants.
"""
import json
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

CO_FIRST = ["Thames", "Riverbend", "Oakfield", "Northgate", "Silver", "Harbour",
            "Kingsway", "Meadow", "Granite", "Elm", "Crown", "Beacon", "Willow",
            "Summit", "Ashford", "Lakeside", "Redbrick", "Highland", "Copper",
            "Westbury"]
CO_SECOND = ["Gate", "Homes", "Estates", "Works", "Bridge", "Park", "Yard",
             "Court", "Point", "House", "Field", "Square", "Wharf", "Lane"]
CO_THIRD = ["Developments", "Construction", "Builders", "Properties",
            "Holdings", "Partners", "Group", "Investments", "Capital",
            "Ventures", "Design", "Living"]
CO_SUFFIX = ["Limited", "Ltd", "LLP", "Plc"]
SUFFIX_VARIANT = {"Limited": ["Ltd", "LTD.", "limited"], "Ltd": ["Limited", "Ltd."],
                  "LLP": ["llp", "L.L.P"], "Plc": ["PLC", "plc"]}
FIRST_NAMES = ["John", "Mary", "Ahmed", "Priya", "Tom", "Anna", "Luis", "Chen",
               "Sara", "David", "Olu", "Grace"]
LAST_NAMES = ["Smith", "Jones", "Khan", "Patel", "Brown", "Garcia", "Wang",
              "Taylor", "Okafor", "Murphy", "Novak", "Silva"]
TITLES = ["Mr", "Mrs", "Ms", "Dr"]

# Assumed shares of the ingest stream's rows (see the module docstring);
# the rest, 70 %, are noisy spellings of company names.
REDELIVERY_SHARE = 0.12   # a valid row sent again, half of them upper-cased
INVALID_SHARE = 0.08      # one of the reference's invalid fixture rows
INDIVIDUAL_SHARE = 0.10   # a person's name, skipped before matching
# the pinned invalid rows: missing, empty and too-short fields
INVALID_ROWS = [(None, "Test Company Ltd"), ("", "Whoever"), ("ZZ/2025/1", ""),
                ("AB", "Valid Name Ltd"), ("ZZ/2025/2", "X"), ("ZZ/2025/3", None)]


def rows_at(sf, base):
    return max(1, int(round(base * sf)))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), str(Path(out_dir, f"{name}.parquet")))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def company_name(k):
    """Deterministic company name of customer `k`."""
    return " ".join([CO_FIRST[k % 20], CO_SECOND[(k // 20) % 14],
                     CO_THIRD[(k // 280) % 12], CO_SUFFIX[(k // 7) % 4]])


def tables(out_dir, sf, seed):
    rng = np.random.default_rng(seed)
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = rows_at(sf, 150_000), rows_at(sf, 10_000)
    n_part, n_ord = rows_at(sf, 200_000), rows_at(sf, 1_500_000)
    n_li, n_ev = rows_at(sf, 6_000_000), rows_at(sf, 1_000_000)
    n_users = rows_at(sf, 15_000)
    n_docs, n_emb = max(500, rows_at(sf, 50_000)), max(500, rows_at(sf, 20_000))

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    acct = _money(rng, -999.99, 9999.99, n_cust)
    seg = rng.integers(0, 5, n_cust)
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": acct,
        "c_mktsegment": [SEGMENTS[i] for i in seg]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("P", "O", "F")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("R", "A", "N")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n)))
    lang = rng.choice(len(LANGS), n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[x] for x in lang],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 0.5, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})

    # ingest inputs: one company per customer, officers shared across them
    _write(out_dir, "companies", {
        "company_id": np.arange(n_cust, dtype=np.int64),
        "company_name": [company_name(k) for k in range(n_cust)],
        "has_charges": acct < 0})
    n_app = 2 * n_cust
    pairs = sorted({(int(o), int(c)) for o, c in zip(
        rng.integers(0, max(1, n_cust // 3), n_app), rng.integers(0, n_cust, n_app))})
    _write(out_dir, "appointments", {
        "id": np.arange(len(pairs), dtype=np.int64),
        "officer_id": np.array([p[0] for p in pairs], dtype=np.int64),
        "company_id": np.array([p[1] for p in pairs], dtype=np.int64),
        "role": ["director" if (o + c) % 3 else "secretary" for o, c in pairs],
        "is_active": [True] * len(pairs)})


def normalize_name(s):
    """The reference's applicant-name normalisation (lower-case, keep
    [a-z0-9'- ], collapse spaces, trim)."""
    return re.sub(" +", " ", re.sub(r"[^a-z0-9'\- ]", " ", s.lower())).strip(" ")


def valid(ref, name):
    return (ref is not None and name is not None and len(ref.strip(" ")) >= 3
            and len(name.strip(" ")) >= 2)


def _noisy(rng, name):
    """A spelling of `name` a webhook sender might produce."""
    words = name.split(" ")
    r = rng.random()
    if r < 0.25:
        words[-1] = SUFFIX_VARIANT[words[-1]][int(rng.integers(0, len(SUFFIX_VARIANT[words[-1]])))]
    elif r < 0.4:
        words = [w.upper() for w in words]
    elif r < 0.5:
        words = words[:-1]
    return ("  " if rng.random() < 0.1 else "") + " ".join(words)


def applicants(path, seed, n_companies, batches, batch_rows):
    """Write `batches` × `batch_rows` stream rows (tab-separated
    input_id, planning_reference, applicant_name; `\\N` is null) and, per
    batch, the cumulative counts the store must hold after it."""
    rng = np.random.default_rng(seed)
    sent, out, counts = [], [], []
    pairs, refs = set(), set()
    next_id = 1
    for b in range(batches):
        for _ in range(batch_rows):
            r = rng.random()
            if r < REDELIVERY_SHARE and sent:
                ref, name = sent[int(rng.integers(0, len(sent)))]
                if rng.random() < 0.5:
                    name = name.upper()
            elif r < REDELIVERY_SHARE + INVALID_SHARE:
                ref, name = INVALID_ROWS[int(rng.integers(0, len(INVALID_ROWS)))]
            else:
                ref = f"ZZ/2025/{int(rng.integers(0, 40 * batch_rows * batches)):06d}"
                if rng.random() < 0.3:
                    ref = ref.lower()
                if r < REDELIVERY_SHARE + INVALID_SHARE + INDIVIDUAL_SHARE:
                    f, l = FIRST_NAMES[int(rng.integers(0, 12))], LAST_NAMES[int(rng.integers(0, 12))]
                    name = (f"{TITLES[int(rng.integers(0, 4))]} {f} {l}"
                            if rng.random() < 0.5 else f"{f} {l}")
                else:
                    name = _noisy(rng, company_name(int(rng.integers(0, n_companies))))
            if valid(ref, name):
                sent.append((ref, name))
                pairs.add((ref.strip(" ").upper(), normalize_name(name.strip(" "))))
                refs.add(ref.strip(" ").upper())
            cell = lambda v: "\\N" if v is None else v
            out.append(f"{next_id}\t{cell(ref)}\t{cell(name)}")
            next_id += 1
        counts.append({"applicants": len(pairs), "planning_applications": len(refs)})
    Path(path).write_text("\n".join(out) + "\n")
    Path(str(path) + ".json").write_text(json.dumps(
        {"batch_rows": batch_rows, "counts": counts}))


if __name__ == "__main__":
    import sys
    tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
