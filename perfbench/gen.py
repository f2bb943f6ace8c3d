"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (workload, seed): the same seed
writes the same bytes. Inputs are generated into a cache directory keyed
by workload and seed, outside every timer, and each generator returns a
manifest with the input sizes, the duplicate shares it planted and the
expectations the output checks compare against.
"""
import hashlib
import json
import os
import random
import re
import shutil

# Input sizes. Small enough that a pass takes seconds on a 4-core host,
# so each run holds one cold pass and several warm ones.
MEDALLION = dict(customers=8000, products=1000, sales=30000,
                 dup_cust_share=0.03, null_id_rows=4)
INCREMENTAL = dict(docs=8000, exact_share=0.05, near_share=0.05,
                   delta_overlap_exact=0.15, delta_overlap_near=0.15)
STREAM = dict(events=6000, orders=3000, docs=1500)

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "are", "for",
             "on", "with", "as", "at", "by", "it", "this", "that", "was", "be"]


def _rng(workload, seed):
    h = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _write_text(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write("\n".join(lines) + "\n")


def _dir_bytes(root):
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            if name != "manifest.json":
                total += os.path.getsize(os.path.join(d, name))
    return total


# ---------------------------------------------------------------- medallion

CATEGORIES = [(f"{a}_{b}", cat, sub)
              for a, cat in (("AC", "Accessories"), ("BI", "Bikes"),
                             ("CL", "Clothing"), ("CO", "Components"))
              for b, sub in (("BR", "Racks"), ("HE", "Helmets"), ("LI", "Lights"),
                             ("PE", "Pedals"), ("RF", "Frames"), ("SE", "Saddles"),
                             ("TT", "Tires"), ("WH", "Wheels"), ("CH", "Chains"))]
FIRST = ["Jon", "Eugene", "Ruben", "Christy", "Elizabeth", "Julio", "Janet",
         "Marco", "Rob", "Shannon", "Jacquelyn", "Curtis", "Lauren", "Ian"]
LAST = ["Yang", "Huang", "Torres", "Zhu", "Johnson", "Ruiz", "Alvarez",
        "Mehta", "Verhoff", "Carlson", "Suarez", "Lu", "Walker", "Jenkins"]
COUNTRIES = ["Australia", "Canada", "France", "United Kingdom", "Germany", "DE",
             "United States", "US", "USA", "", "  "]


def _pad(rng, s):
    """Untrimmed names: leading or trailing blanks on about 1 in 8 values."""
    r = rng.random()
    return " " + s if r < 0.06 else s + "  " if r < 0.12 else s


def _iso(y, m, d):
    return f"{y:04d}-{m:02d}-{d:02d}"


def gen_medallion(rng, root):
    p = MEDALLION
    n_cust = p["customers"]
    ids = list(range(11000, 11000 + n_cust))
    cust, az, loc = [], [], []
    dup_ids = set(rng.sample(ids, int(n_cust * p["dup_cust_share"])))
    for cid in ids:
        key = f"AW{cid:08d}"
        versions = 2 if cid in dup_ids else 1
        for v in range(versions):
            # the latest version (v == versions - 1) has the latest date
            year = 2024 + v if versions > 1 else 2024
            cust.append(",".join([
                str(cid), key, _pad(rng, rng.choice(FIRST)), _pad(rng, rng.choice(LAST)),
                rng.choice(["M", "S", "s ", ""]), rng.choice(["M", "F", "", "", "f"]),
                _iso(year, rng.randint(1, 12), rng.randint(1, 28))]))
        bdate = (_iso(rng.randint(2040, 2050), 1, 1) if rng.random() < 0.001
                 else _iso(rng.randint(1940, 2005), rng.randint(1, 12), rng.randint(1, 28)))
        az.append(",".join([("NAS" + key) if rng.random() < 0.6 else key, bdate,
                            rng.choice(["Female", "Male", "F", "M", "", " "])]))
        loc.append(",".join([f"AW-{cid:08d}", rng.choice(COUNTRIES)]))
    for i in range(p["null_id_rows"]):
        cust.append(f",SF{500 + i},,,,,")
    rng.shuffle(cust)

    prd, numbers = [], []
    prd_id = 1
    n_numbers = p["products"]
    for k in range(n_numbers):
        cat = rng.choice(CATEGORIES)[0]
        number = f"{rng.choice(['BK', 'FR', 'HL', 'RW'])}-R{k:05d}-{rng.randint(38, 62)}"
        numbers.append(number)
        versions = rng.choice([1, 1, 2, 3])
        years = sorted(rng.sample(range(2003, 2014), versions))
        for y in years:
            cost = "" if rng.random() < 0.005 else str(rng.randint(1, 2000))
            # the source end date is dirty and discarded by silver
            end = "" if rng.random() < 0.5 else _iso(rng.randint(2003, 2014), 12, 28)
            prd.append(",".join([
                str(prd_id), f"{cat.replace('_', '-')}-{number}", f"Product {number}",
                cost, rng.choice(["M ", "R ", "S ", "T ", ""]), _iso(y, 7, 1), end]))
            prd_id += 1

    sales = []
    order = 43000
    n_sales = p["sales"]
    while len(sales) < n_sales:
        order += 1
        cust_id = rng.choice(ids)
        y, m, d = rng.randint(2010, 2014), rng.randint(1, 12), rng.randint(1, 28)
        dt = y * 10000 + m * 100 + d
        odt = rng.choice([0, dt // 10]) if rng.random() < 0.001 else dt
        for _ in range(min(rng.randint(1, 4), n_sales - len(sales))):
            qty = 1 if rng.random() < 0.9 else rng.randint(2, 10)
            price = rng.randint(2, 3600)
            sales_amt = qty * price
            r = rng.random()
            if r < 0.001:
                sales_amt = ""
            elif r < 0.002:
                sales_amt = -sales_amt
            elif r < 0.003:
                sales_amt += 7
            pr = rng.random()
            price_s = "" if pr < 0.0005 else str(-price) if pr < 0.001 else str(price)
            sales.append(",".join(map(str, [
                f"SO{order}", rng.choice(numbers), cust_id, odt, dt + 7, dt + 12,
                sales_amt, qty, price_s])))

    cats = [",".join([cid, cat, sub, rng.choice(["Yes", "No"])])
            for cid, cat, sub in CATEGORIES]
    _write_text(f"{root}/crm/cust_info.csv", [
        "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,cst_gndr,cst_create_date"] + cust)
    _write_text(f"{root}/crm/prd_info.csv", [
        "prd_id,prd_key,prd_nm,prd_cost,prd_line,prd_start_dt,prd_end_dt"] + prd)
    _write_text(f"{root}/crm/sales_details.csv", [
        "sls_ord_num,sls_prd_key,sls_cust_id,sls_order_dt,sls_ship_dt,sls_due_dt,"
        "sls_sales,sls_quantity,sls_price"] + sales)
    _write_text(f"{root}/erp/CUST_AZ12.csv", ["CID,BDATE,GEN"] + az)
    _write_text(f"{root}/erp/LOC_A101.csv", ["CID,CNTRY"] + loc)
    _write_text(f"{root}/erp/PX_CAT_G1V2.csv", ["ID,CAT,SUBCAT,MAINTENANCE"] + cats)
    return {
        "rows": {"cust_info": len(cust), "prd_info": len(prd), "sales_details": len(sales),
                 "cust_az12": len(az), "loc_a101": len(loc), "px_cat": len(cats)},
        "dup_shares": {"cst_id_versions": round(len(dup_ids) / n_cust, 6)},
        # what gold must hold: every sales line, one customer per distinct
        # id plus one collapsed null-id row, one current product per number
        "expect": {"fact_sales": n_sales, "dim_customers": n_cust + 1,
                   "dim_products": n_numbers},
    }


# --------------------------------------------------------------- documents

def _vocab(rng, n=3000):
    letters = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) + rng.choice(vowels)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _text(rng, vocab, n_tokens):
    toks = []
    for i in range(n_tokens):
        # every fourth token is a stopword, so each doc clears the gate
        toks.append(rng.choice(STOPWORDS) if i % 4 == 1 else rng.choice(vocab))
    return toks


def _variant(rng, text):
    """Exact duplicate under the fingerprint: case and spacing only."""
    r = rng.random()
    return text.upper() if r < 0.3 else "  " + text.replace(" ", "  ", 2) if r < 0.6 else text


def _near(rng, vocab, text):
    toks = text.split(" ")
    toks[rng.randrange(len(toks))] = rng.choice(vocab)
    return " ".join(toks)


def _norm(text):
    return re.sub(r"\s+", " ", text.lower()).strip()


def _docs(rng, n, exact_share, near_share):
    """`n` documents; `exact_share`/`near_share` of them copy (or nearly
    copy) an earlier document."""
    vocab = _vocab(rng)
    texts = []
    for _ in range(n):
        r = rng.random()
        if texts and r < exact_share:
            texts.append(_variant(rng, rng.choice(texts)))
        elif texts and r < exact_share + near_share:
            texts.append(_near(rng, vocab, rng.choice(texts)))
        else:
            texts.append(" ".join(_text(rng, vocab, rng.randint(24, 72))))
    return texts


def _write_docs(path, texts, rng):
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "en", "en", "de", "fr"]) for _ in range(n)]),
        "source": pa.array([f"src{rng.randrange(8)}" for _ in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# IncrementalPipeline's default split: the delta is doc_id % 4 == 3
DELTA_MOD, DELTA_RES = 4, 3


def gen_incremental(rng, root):
    p = INCREMENTAL
    n = p["docs"]
    base = _docs(rng, n, p["exact_share"], p["near_share"])
    hist = [t for i, t in enumerate(base) if i % DELTA_MOD != DELTA_RES]
    vocab = _vocab(rng)
    texts = []
    for i, t in enumerate(base):
        if i % DELTA_MOD == DELTA_RES:
            r = rng.random()
            if r < p["delta_overlap_exact"]:
                t = _variant(rng, rng.choice(hist))
            elif r < p["delta_overlap_exact"] + p["delta_overlap_near"]:
                t = _near(rng, vocab, rng.choice(hist))
        texts.append(t)
    _write_docs(f"{root}/documents.parquet", texts, rng)
    hist_fp = {_norm(t) for i, t in enumerate(texts) if i % DELTA_MOD != DELTA_RES}
    delta = [_norm(t) for i, t in enumerate(texts) if i % DELTA_MOD == DELTA_RES]
    delta_new = {t for t in delta if t not in hist_fp}
    return {
        "rows": {"documents": n, "history": n - len(delta), "delta": len(delta)},
        "dup_shares": {"delta_exact_overlap": round(sum(t in hist_fp for t in delta) / len(delta), 6),
                       "delta_near_planted": p["delta_overlap_near"]},
        "expect": {"hist_quality": n - len(delta), "hist_exact": len(hist_fp),
                   "delta_quality": len(delta), "delta_exact": len(delta_new)},
    }


# ------------------------------------------------------------------ streams

def gen_stream(rng, root):
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    p = STREAM
    t0 = datetime.datetime(2024, 1, 1)
    n = p["events"]
    offs = sorted(rng.randrange(0, 48 * 3600 * 10**6) for _ in range(n))
    events = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=o) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(200) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(["view", "click", "signup", "error", "buy"])
                                for _ in range(n)]),
        "value": pa.array([round(rng.uniform(0, 500), 2) for _ in range(n)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n)]),
    })
    m = p["orders"]
    orders = pa.table({
        # keys 1, 4, 7, ... cover every residue the gate queries filter on (% 10, % 20, % 40)
        "o_orderkey": pa.array([1 + 3 * i for i in range(m)], pa.int64()),
        "o_custkey": pa.array([rng.randrange(1, 500) for _ in range(m)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(m)]),
        "o_totalprice": pa.array([round(rng.uniform(900, 500000), 2) for _ in range(m)],
                                 pa.float64()),
        "o_orderdate": pa.array([t0 - datetime.timedelta(days=rng.randrange(2400))
                                 for _ in range(m)], pa.timestamp("us")),
        "o_orderpriority": pa.array([rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"])
                                     for _ in range(m)]),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(events, f"{root}/events.parquet")
    pq.write_table(orders, f"{root}/orders.parquet")
    texts = _docs(rng, p["docs"], 0.05, 0.05)
    _write_docs(f"{root}/documents.parquet", texts, rng)
    return {"rows": {"events": n, "orders": m, "documents": len(texts)},
            "dup_shares": {"documents_exact": round(1 - len({_norm(t) for t in texts}) / len(texts), 6)},
            "expect": {}}


def gen_incremental_stream(rng, root):
    a = gen_incremental(rng, f"{root}/p2")
    b = gen_stream(rng, f"{root}/stream")
    return {k: {**a[k], **{f"stream.{x}": v for x, v in b[k].items()}}
            for k in ("rows", "dup_shares")} | {"expect": a["expect"]}


GENERATORS = {"medallion": gen_medallion, "incremental_stream": gen_incremental_stream}


def version():
    """Short hash of this generator, so cached inputs follow its changes."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def generate(workload, seed, root):
    """Write the inputs of (workload, seed) under `root` and return its
    manifest. Reuses an earlier complete generation of the same key."""
    manifest_path = f"{root}/manifest.json"
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    manifest = GENERATORS[workload](_rng(workload, seed), root)
    manifest.update(workload=workload, seed=seed, input_bytes=_dir_bytes(root))
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    return manifest
