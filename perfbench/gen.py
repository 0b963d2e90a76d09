"""Seeded input generator for the graft benchmark (untimed).

Every table is a pure function of (seed, scale): the same seed writes the same
parquet bytes' worth of rows. `scale=1.0` gives the sf0.1 sizes of the repo's
test data (600k lineitem, 5,000 base documents, 2,000x64 base embeddings);
`scale=0.01` gives the sf0.001 sizes the self-test uses.

Besides the tables, each generator returns the planted ground truth the
checks need (near-duplicate families, exact copies, ingest duplicates).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "login", "purchase", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

# Document vocabulary: topic words plus the stopwords Text.langId profiles,
# so language ID, quality scores and BPE merges all see realistic inputs.
TOPIC_WORDS = (
    "batch part spark line column order small sort fast join window merge "
    "table query index vector search token shard stream event score model "
    "data frame scan filter group rank plan stage task cache memory disk "
    "node cluster driver worker shuffle hash bucket bloom sketch count sum "
    "mean median quantile sample split train test label feature embedding "
    "cosine distance neighbor graph edge component dedup near exact text "
    "corpus document word piece vocab merge encode decode parse format "
    "write read load store commit log offset batch micro watermark state "
    "session user click view purchase error login value price discount "
    "tax quantity supplier customer nation region market segment brand"
).split()
STOPWORDS = ("the a of and to in is it der die das und ist ein zu den "
             "el la que y en un es los le et une est dans les").split()
VOCAB = TOPIC_WORDS + STOPWORDS


def _write(out_dir, name, table):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _n(base, scale):
    return max(8, int(round(base * scale)))


def relational(out_dir, seed, scale=1.0):
    """TPC-H-shaped star schema plus the `events` stream table."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = _n(15_000, scale), _n(1_000, scale), _n(20_000, scale)
    n_ord, n_events = _n(150_000, scale), _n(100_000, scale)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    retail = np.round(900.0 + rng.integers(0, 1100, n_part) + rng.integers(0, 100, n_part) / 100, 2)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{TOPIC_WORDS[a]} {TOPIC_WORDS[b]}" for a, b in
                   rng.integers(0, len(TOPIC_WORDS), (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail}))

    odate = EPOCH_1992 + rng.integers(0, 2400, n_ord) * US_PER_DAY
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))

    lines = rng.integers(1, 8, n_ord)  # 1..7 lines, mean 4 -> ~600k at scale 1
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(len(okey)) - starts + 1
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li) * US_PER_DAY,
                               pa.timestamp("us"))}))

    ts = np.sort(EPOCH_2024 + rng.integers(0, 7 * US_PER_DAY, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_events // 100), n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}))
    return {"lineitem_rows": n_li, "orders_rows": n_ord, "events_rows": n_events,
            "customer_rows": n_cust, "part_rows": n_part}


def _doc_text(rng, n_words):
    weights = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
    words = rng.choice(len(VOCAB), n_words, p=weights / weights.sum())
    return [VOCAB[w] for w in words]


def documents(seed, n_base, amplify=10, neardup_share=0.2, exact_share=0.05,
              id_offset=0):
    """Amplified corpus: n_base * amplify docs. A `neardup_share` of them are
    copies of an earlier original doc with one or two words substituted (3-shingle
    Jaccard ~0.85-0.95); an `exact_share` are verbatim copies. Returns the
    columns plus `family`: the id of the original each copy derives from
    (each original is its own family)."""
    rng = np.random.default_rng([seed, 2])
    n = n_base * amplify
    texts, family, exact, originals = [], [], [], []
    for i in range(n):
        r = rng.random()
        if originals and r < neardup_share + exact_share:
            # copies derive from originals only, so families are stars
            src = originals[int(rng.integers(0, len(originals)))]
            root = family[src]
            if r < exact_share:
                words = texts[src].split(" ")
                exact.append(i)
            else:
                words = texts[src].split(" ")
                for _ in range(int(rng.integers(1, 3))):
                    pos = int(rng.integers(0, len(words)))
                    repl = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    while repl == words[pos]:
                        repl = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    words[pos] = repl
        else:
            root = i + id_offset
            originals.append(i)
            words = _doc_text(rng, int(rng.integers(40, 80)))
            k = rng.random()
            if k < 0.1:
                words.insert(int(rng.integers(0, len(words))),
                             f"user{int(rng.integers(0, 999))}@example.com")
            elif k < 0.15:
                words.insert(int(rng.integers(0, len(words))),
                             f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}")
        texts.append(" ".join(words))
        family.append(root)
    ids = np.arange(n, dtype=np.int64) + id_offset
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.array([f"src{k}" for k in range(10)])[rng.integers(0, 10, n)],
        "family": np.array(family, dtype=np.int64),
        "exact_copy": np.isin(ids, np.array(exact, dtype=np.int64) + id_offset),
    }


def write_documents(out_dir, name, docs, rows=None, extra=None):
    rows = np.arange(len(docs["doc_id"])) if rows is None else rows
    texts = [docs["text"][i] for i in rows]
    _write(out_dir, name, pa.table({
        "doc_id": pa.array(docs["doc_id"][rows], pa.int64()),
        "text": texts,
        "lang": docs["lang"][rows],
        "source": docs["source"][rows],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        **(extra or {})}))


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def embeddings(seed, n_base, dim=64, amplify=10, spread=0.3):
    """Clustered vectors: n_base random directions, each amplified into
    `amplify` members by a perturbation of norm `spread`."""
    rng = np.random.default_rng([seed, 3])
    base = unit(rng.standard_normal((n_base, dim)))
    noise = unit(rng.standard_normal((n_base * amplify, dim))) * spread
    vecs = unit(np.repeat(base, amplify, axis=0) + noise).astype(np.float32)
    labels = np.repeat(rng.integers(0, 10, n_base), amplify).astype(np.int32)
    return vecs, labels


def write_embeddings(out_dir, name, id_col, ids, vecs, extra):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(vecs) * vecs.shape[1] + 1, vecs.shape[1]), pa.int32())
    _write(out_dir, name, pa.table({
        id_col: pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        **{k: pa.array(v, pa.int32()) for k, v in extra.items()}}))
