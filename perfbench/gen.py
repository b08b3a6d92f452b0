"""Seeded input generator for the three workloads.

Everything the engine sees is built here from one integer seed: the same
seed gives byte-identical parquet files and the same query order, and
`digest()` records what was built so two runs can be compared.

Tables mirror the schema of the engine's TPC-H-style testdata (doubles for
money with exactly two decimals, `timestamp[us]` dates), so the registry
queries and their DuckDB oracles apply unchanged.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]
# Registry.prepare registers these ten views for every registry query.
ALL_TABLES = TPCH_TABLES + ["events", "documents", "embeddings"]

WORDS = ["agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "value", "vector", "window"]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
ADJ = ["pale", "pink", "large", "hot", "blue", "old", "cold", "dark",
       "green", "red", "almond", "smoke"]
NOUN = ["ring", "bolt", "plate", "nut", "screw", "gear", "pipe", "valve"]

EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _money(cents):
    return pa.array(np.asarray(cents, dtype=np.int64) / 100.0, pa.float64())


def _ts(days):
    d = (EPOCH_1995 + np.asarray(days, dtype=np.int64)).astype("datetime64[us]")
    return pa.array(d, pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def tpch(rng, sf):
    """The seven TPC-H-style tables at scale factor `sf`. A third of the
    customers place no orders (q13/q22 see both sides of the anti-join);
    ship dates trail order dates by 1..121 days as in TPC-H."""
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.integers(-99_999, 1_000_000, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.integers(-99_999, 1_000_000, n_supp))})
    price_cents = 90_000 + (np.arange(n_part) % 1000) * 10
    adj = np.asarray(ADJ, dtype=object)[rng.integers(0, len(ADJ), n_part)]
    noun = np.asarray(NOUN, dtype=object)[rng.integers(0, len(NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(price_cents)})
    buyers = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), n_ord)], pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng.integers(100_000, 50_000_000, n_ord)),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": pa.array(qty.astype(np.float64), pa.float64()),
        "l_extendedprice": _money(qty * price_cents[partkey]),
        "l_discount": _money(rng.integers(0, 11, n_li)),
        "l_tax": _money(rng.integers(0, 9, n_li)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_li))})
    return t


def events(rng, n):
    """A small `events` table: registry queries register it, none here read it."""
    us = np.sort(rng.integers(0, 86_400_000_000, n))
    ts = (np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": _money(rng.integers(0, 20_000, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


# Corpus shape: the eval set is every 17th doc (the registry's decontamination
# split). Of the remaining docs, DUP_RATE are exact copies of an earlier doc,
# NEAR_RATE are copies with a few token edits (MinHash near-duplicates) and
# CONTAM_RATE carry a 12-token window lifted from an eval doc.
DUP_RATE, NEAR_RATE, CONTAM_RATE = 0.05, 0.10, 0.05


def documents(rng, n):
    texts, langs = [], []
    for i in range(n):
        u = rng.random()
        if i > 0 and i % 17 != 0 and u < DUP_RATE:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 0 and i % 17 != 0 and u < DUP_RATE + NEAR_RATE:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        lang = ["en", "en", "zh", "de", "fr", "es"][int(rng.integers(0, 6))]
        stop_p = 0.12 if lang == "en" else 0.01
        n_tok = int(rng.integers(8, 100))
        stop = rng.random(n_tok) < stop_p
        toks = [STOPWORDS[int(rng.integers(0, len(STOPWORDS)))] if s
                else WORDS[int(rng.integers(0, len(WORDS)))] for s in stop]
        if i > 17 and i % 17 != 0 and u < DUP_RATE + NEAR_RATE + CONTAM_RATE:
            src = texts[17 * int(rng.integers(0, i // 17))].split(" ")
            at = int(rng.integers(0, max(1, len(src) - 12)))
            toks[len(toks) // 2:len(toks) // 2] = src[at:at + 12]
        texts.append(" ".join(toks))
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def embeddings(rng, n, dim=64, clusters=10):
    """Clustered unit-scale vectors; NEAR_RATE of them are jittered copies of
    an earlier vector (semantic-dedup candidates)."""
    centers = rng.normal(0, 1, (clusters, dim))
    label = rng.integers(0, clusters, n)
    v = centers[label] * 0.12 + rng.normal(0, 0.1, (n, dim))
    near = (rng.random(n) < NEAR_RATE) & (np.arange(n) > 0)
    for i in np.nonzero(near)[0]:
        j = int(rng.integers(0, i))
        v[i] = v[j] + rng.normal(0, 0.005, dim)
        label[i] = label[j]
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


# Lakehouse table: `k` is a clustering key; each cycle's batch occupies its
# own `k` band, so a pruned read or a range delete touches few data files.
LAKE_BAND = 1000


def lake_rows(rng, ids, band):
    n = len(ids)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "k": pa.array(band * LAKE_BAND + rng.integers(0, LAKE_BAND, n), pa.int32()),
        "v": _money(rng.integers(0, 1_000_000, n)),
        "cat": _pick(rng, ["a", "b", "c", "d", "e"], n)})


def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_bytes(b):
    return _zigzag(len(b)) + b


LAKE_AVRO_SCHEMA = json.dumps({
    "type": "record", "name": "lake_row", "fields": [
        {"name": "id", "type": "long"}, {"name": "k", "type": "int"},
        {"name": "v", "type": "double"}, {"name": "cat", "type": "string"}]})


def write_lake_avro(table, path, sync):
    """One Avro object container file (null codec, one block) holding the
    rows of a `lake_rows` table: the landing batch a producer drops."""
    import struct
    d = table.to_pydict()
    body = bytearray()
    for i, k, v, c in zip(d["id"], d["k"], d["v"], d["cat"]):
        body += _zigzag(i) + _zigzag(k) + struct.pack("<d", v) + _avro_bytes(c.encode())
    meta = {"avro.schema": LAKE_AVRO_SCHEMA.encode(), "avro.codec": b"null"}
    head = b"Obj\x01" + _zigzag(len(meta)) + b"".join(
        _avro_bytes(k.encode()) + _avro_bytes(v) for k, v in meta.items()) + _zigzag(0)
    with open(path, "wb") as f:
        f.write(head + sync + _zigzag(len(d["id"])) + _zigzag(len(body)) + bytes(body) + sync)


def lakehouse(rng, out, base_rows, batch_rows, upsert_rows, cycles):
    """Writes the base table rows, one Avro landing batch (plus its parquet
    twin, which the model reads) and one upsert set per cycle, and
    `plan.json` with the per-cycle delete and read key ranges."""
    os.makedirs(out, exist_ok=True)
    base_bands = 4
    ids = np.arange(base_rows)
    band_of = rng.integers(0, base_bands, base_rows)
    base = pa.concat_tables([lake_rows(rng, ids[band_of == b], b)
                             for b in range(base_bands)])
    pq.write_table(base, f"{out}/base.parquet")
    next_id = base_rows
    plan = []
    for c in range(cycles):
        band = base_bands + c
        batch = lake_rows(rng, np.arange(next_id, next_id + batch_rows), band)
        pq.write_table(batch, f"{out}/batch_{c}.parquet")
        write_lake_avro(batch, f"{out}/batch_{c}.avro", rng.bytes(16))
        next_id += batch_rows
        n_new = upsert_rows // 4
        old = rng.choice(next_id, upsert_rows - n_new, replace=False)
        up = np.concatenate([np.sort(old), np.arange(next_id, next_id + n_new)])
        next_id += n_new
        pq.write_table(lake_rows(rng, up, int(rng.integers(0, band + 1))),
                       f"{out}/upsert_{c}.parquet")
        dband = int(rng.integers(0, band + 1))
        dlo = dband * LAKE_BAND + int(rng.integers(0, LAKE_BAND - 100))
        rband = int(rng.integers(0, band + 1))
        rlo = rband * LAKE_BAND + int(rng.integers(0, LAKE_BAND // 2))
        plan.append({"delete": [dlo, dlo + 100], "read": [rlo, rlo + LAKE_BAND // 2],
                     "batch_rows": batch_rows, "upsert_rows": len(up)})
    with open(f"{out}/plan.json", "w") as f:
        json.dump({"cycles": plan}, f)


def write_tables(out, tables):
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}.parquet")


def digest(root):
    """sha256 over every generated file (path and bytes), plus row counts and
    byte sizes per table."""
    h = hashlib.sha256()
    sizes = {}
    for dirpath, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            with open(p, "rb") as f:
                data = f.read()
            h.update(rel.encode() + b"\0" + data)
            entry = {"bytes": len(data)}
            if fn.endswith(".parquet"):
                entry["rows"] = pq.ParquetFile(p).metadata.num_rows
            sizes[rel] = entry
    return {"sha256": h.hexdigest(), "files": sizes}


def query_orders(rng, names, passes):
    """One seeded permutation of `names` per pass."""
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]
