"""Seeded input generators, one per workload.

Each generator writes its input files under ``out_dir`` and returns a
small dict describing what it planted (sizes and shares).  The same
seed always yields byte-identical files; different seeds yield
different files of the same size and shape.  Generation uses numpy,
pandas and pyarrow only, so the facts the output checks rely on are
derived without the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (documented in perfbench/README.md) ------------------------
ETL_ROWS = 200_000
ETL_FILES = 8
# per-rule fault probability; five independent faults give a ko share
# of 1 - (1 - 0.098)^5 ~= 0.40
ETL_FAULT_P = 0.098
EMAIL_RE = r"^[a-z0-9._]+@[a-z0-9]+\.[a-z]{2,3}$"

STREAM_FILES = 2
STREAM_ROWS_PER_FILE = 8_000
STREAM_KEYS = 2_000
STREAM_FAULT_P = 0.10

QUERY_SCALE = 0.02   # TPC-H-like scale factor of the query_mix tables

CORPUS_DOCS = 5_000
CORPUS_VOCAB = 4_000
CORPUS_DUP_SHARE = 0.15      # share of docs that sit in planted clusters
CORPUS_REJECT_SHARE = 0.08   # share of docs planted to fail the gate
CORPUS_LANGS = ("en", "de", "fr", "es", "pt")

_FIRST = np.array(["ana", "bo", "carla", "dev", "eli", "fay", "gus", "hana",
                   "ivan", "jo", "kai", "lena", "mo", "nina", "omar", "pia"])
_DOMAINS = np.array(["example.com", "mail.org", "corp.net", "data.io"])
_COUNTRIES = np.array(["PT", "ES", "FR", "DE", "US", "BR", "IN", "JP"])


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), tag])


def _write_jsonl(df: pd.DataFrame, out_dir: str, files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        path = os.path.join(out_dir, f"part-{i:05d}.json")
        df.iloc[part[0]:part[-1] + 1].to_json(path, orient="records",
                                              lines=True)


# -- etl_batch --------------------------------------------------------

def etl_frame(seed: int, rows: int = ETL_ROWS) -> pd.DataFrame:
    """The etl_batch input as a frame: ~40% of rows carry one or more
    planted rule violations (empty/null name, null or malformed email,
    out-of-range or null age, negative or null amount)."""
    rng = _rng(seed, 1)
    uid = np.arange(rows, dtype=np.int64)
    first = _FIRST[rng.integers(0, len(_FIRST), rows)]
    fault = rng.random((5, rows)) < ETL_FAULT_P
    half = rng.random((5, rows)) < 0.5

    name = first.astype(object)
    name[fault[0] & half[0]] = ""
    name[fault[0] & ~half[0]] = None

    domain = _DOMAINS[rng.integers(0, len(_DOMAINS), rows)]
    email = np.array([f"{f}.{u}@{d}" for f, u, d in zip(first, uid, domain)],
                     dtype=object)
    email[fault[1]] = None
    for i in np.flatnonzero(fault[2]):
        email[i] = f"{first[i]}#{i}"

    age = pd.array(rng.integers(0, 121, rows), dtype="Int64")
    age[fault[3] & half[3]] = 121 + rng.integers(0, 50, int((fault[3] & half[3]).sum()))
    age[fault[3] & ~half[3]] = pd.NA

    cents = rng.integers(0, 1_000_000, rows)
    amount = cents / 100.0
    amount[fault[4] & half[4]] = -amount[fault[4] & half[4]] - 0.01
    amount[fault[4] & ~half[4]] = np.nan

    return pd.DataFrame({
        "user_id": uid,
        "name": name,
        "email": email,
        "age": age,
        "amount": amount,
        "country": _COUNTRIES[rng.integers(0, len(_COUNTRIES), rows)],
        "event_time": np.datetime_as_string(
            (1_700_000_000 + rng.integers(0, 86_400 * 30, rows))
            .astype("datetime64[s]")),
    })


def etl_batch(out_dir: str, seed: int) -> dict:
    df = etl_frame(seed)
    _write_jsonl(df, out_dir, ETL_FILES)
    return {"rows": len(df), "files": ETL_FILES, "frame": df}


# -- stream_upsert ----------------------------------------------------

def stream_frame(seed: int) -> pd.DataFrame:
    """The stream backlog: ``seq`` is unique and increasing, ``user_id``
    has a planted cardinality of exactly STREAM_KEYS among valid rows,
    and ~19% of rows fail validation (empty name or negative value)."""
    rng = _rng(seed, 2)
    rows = STREAM_FILES * STREAM_ROWS_PER_FILE
    # the first STREAM_KEYS rows hold every key once and are never faulty
    keys = np.concatenate([np.arange(STREAM_KEYS),
                           rng.integers(0, STREAM_KEYS, rows - STREAM_KEYS)])
    free = np.arange(rows) >= STREAM_KEYS
    name = _FIRST[rng.integers(0, len(_FIRST), rows)].astype(object)
    name[free & (rng.random(rows) < STREAM_FAULT_P)] = ""
    value = rng.integers(0, 100_000, rows) / 100.0
    neg = free & (rng.random(rows) < STREAM_FAULT_P)
    value[neg] = -value[neg] - 0.01
    order = rng.permutation(rows)
    return pd.DataFrame({
        "seq": np.arange(rows, dtype=np.int64),
        "user_id": keys[order].astype(np.int64),
        "name": name[order],
        "event_type": np.array(["view", "click", "purchase"])[
            rng.integers(0, 3, rows)],
        "value": value[order],
    })


def stream_upsert(out_dir: str, seed: int) -> dict:
    df = stream_frame(seed)
    _write_jsonl(df, out_dir, STREAM_FILES)
    return {"rows": len(df), "files": STREAM_FILES, "keys": STREAM_KEYS,
            "frame": df}


# -- query_mix --------------------------------------------------------

_TS = pa.timestamp("us")
_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def query_tables(seed: int, scale: float = QUERY_SCALE) -> dict[str, pa.Table]:
    """A TPC-H-like star schema plus events, documents and embeddings,
    with the same column names, types and value domains as the engine's
    test tables, scaled by ``scale`` (1.0 ~ 6M lineitem rows)."""
    rng = _rng(seed, 3)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(20_000 * scale)
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                  "BUILDING", "HOUSEHOLD"])[
            rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array(["large", "hot", "red", "new", "small", "cold", "blue",
                    "old"])
    noun = np.array(["ring", "bolt", "anvil", "rod", "plate", "gear", "nut",
                     "pipe"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"),
                                _TS),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"),
                               _TS)})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
             .astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, _TS),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_ev)
        .astype(np.int64),
        "event_type": np.array(["view", "click", "signup", "purchase",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # planted duplicates: ~3% exact copies and ~3% one-token edits
    for i in rng.choice(n_doc, n_doc // 16, replace=False):
        src = texts[int(rng.integers(0, n_doc))]
        texts[i] = src if rng.random() < 0.5 else src + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[
            rng.integers(0, 6, n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32) * 0.1
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def query_mix(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    tables = query_tables(seed)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {"rows": sum(t.num_rows for t in tables.values()),
            "tables": {n: t.num_rows for n, t in tables.items()}}


# -- corpus_dedup -----------------------------------------------------

def corpus_table(seed: int, docs: int = CORPUS_DOCS) -> tuple[pa.Table, list]:
    """Documents over a CORPUS_VOCAB-word vocabulary (random docs share
    almost no 3-shingles), with planted near-duplicate clusters of 2-4
    docs: each member is its cluster's base text re-cased and re-spaced
    (identical shingles) or with one extra token appended (Jaccard
    ~0.98).  A planted share of docs fails the quality gate (too short,
    or an unlisted language); those are never cluster members.
    Returns the table and the planted clusters as lists of doc ids."""
    rng = _rng(seed, 4)
    vocab = np.array([f"w{i:04d}x" for i in range(CORPUS_VOCAB)])
    lengths = rng.integers(60, 121, docs)
    texts = [" ".join(vocab[rng.integers(0, CORPUS_VOCAB, k)]) for k in lengths]
    lang = np.array(CORPUS_LANGS)[rng.integers(0, len(CORPUS_LANGS), docs)]
    lang = lang.astype(object)
    order = rng.permutation(docs)
    n_rej = int(docs * CORPUS_REJECT_SHARE)
    for j, i in enumerate(order[:n_rej]):
        if j % 2:
            texts[i] = " ".join(vocab[rng.integers(0, CORPUS_VOCAB, 2)])
        else:
            lang[i] = "xx"
    clusters = []
    pool = list(order[n_rej:])
    target = int(docs * CORPUS_DUP_SHARE)
    used = 0
    while used < target:
        size = int(rng.integers(2, 5))
        members = sorted(int(m) for m in pool[used:used + size])
        base = texts[members[0]]
        for m in members[1:]:
            if rng.random() < 0.5:
                toks = base.split(" ")
                toks[0] = toks[0].upper()
                texts[m] = "  ".join(toks) + " "
            else:
                texts[m] = base + " " + str(vocab[int(rng.integers(0, CORPUS_VOCAB))])
        clusters.append(members)
        used += size
    table = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": lang.astype(str),
        "source": np.char.add("src", (np.arange(docs) % 16).astype(str)),
    })
    return table, clusters


def corpus_dedup(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    table, clusters = corpus_table(seed)
    # four files so the scan spreads over the cores
    for i, part in enumerate(np.array_split(np.arange(table.num_rows), 4)):
        pq.write_table(table.slice(int(part[0]), len(part)),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return {"rows": table.num_rows, "clusters": clusters, "table": table}


GENERATORS = {
    "etl_batch": etl_batch,
    "stream_upsert": stream_upsert,
    "query_mix": query_mix,
    "corpus_dedup": corpus_dedup,
}
