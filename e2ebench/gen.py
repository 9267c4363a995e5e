"""Seeded input generation for the benchmark.

Writes the ten tables the registry queries read (same names, columns and
parquet types as the TPC-H-ish fixture the library is tested on) plus the
salted curation corpus. The same (seed, sf) always gives byte-identical
tables; the program under test only ever sees the files.

Table shapes follow the fixture's generator: documents are 10-100 tokens
from a 30-word vocabulary with 5% planted near-duplicates (an earlier text
plus " dup"), embeddings are 64-d float vectors, events span 30 days.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pathlib import Path

VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_WORDS = ("blue old widget gizmo small new large ring hot cold gear bolt "
              "plate red rod anvil").split()
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
# ScaleUp.documentsCopy shifts copy i's doc_id by i * this offset
KEY_OFFSET = 10_000_000
# re-cased / re-spaced exact duplicates get ids above every salted copy
DUP_ID_BASE = 900_000_000


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def documents(rng, n: int) -> dict:
    """Base corpus: `n` docs, ~5% of them near-duplicates of an earlier doc."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    # copy only from docs that are not themselves copies: every near-dup
    # cluster is a star, so the number of connected-components rounds (and
    # Spark jobs) does not change with the seed
    dup = rng.random(n) < 0.05
    dup[0] = False
    orig = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        below = orig[:np.searchsorted(orig, i)]
        texts[i] = texts[int(below[rng.integers(0, len(below))])] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def curation_corpus(rng, base: dict, copies: int, dup_share: float) -> dict:
    """`copies` salted copies of `base` (ScaleUp.documentsCopy's rule: copy
    i>0 shifts doc_id by i*KEY_OFFSET and suffixes every token with "0c<i>"),
    plus `dup_share` re-cased / re-spaced exact duplicates that exact_dedup
    must drop, in a seed-shuffled row order."""
    ids, texts, langs, sources = [], [], [], []
    for i in range(copies):
        ids.append(base["doc_id"] + i * KEY_OFFSET)
        texts += base["text"] if i == 0 else [
            " ".join(w + f"0c{i}" for w in t.split(" ")) for t in base["text"]]
        langs.append(base["lang"])
        sources += base["source"]
    ids, langs = np.concatenate(ids), np.concatenate(langs)
    n = len(texts)
    picks = rng.choice(n, int(round(n * dup_share)), replace=False)
    for k, j in enumerate(picks):
        words = texts[j].split(" ")
        if k % 2 == 0:  # re-cased
            words = [w.upper() if rng.random() < 0.3 else w for w in words]
            texts.append(" ".join(words))
        else:  # re-spaced
            texts.append("  ".join(words))
    ids = np.concatenate([ids, DUP_ID_BASE + np.arange(len(picks), dtype=np.int64)])
    langs = np.concatenate([langs, langs[picks]])
    sources += [sources[j] for j in picks]
    order = rng.permutation(len(texts))
    texts = [texts[j] for j in order]
    return {
        "doc_id": ids[order],
        "text": texts,
        "lang": langs[order],
        "source": [sources[j] for j in order],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def registry_tables(rng, sf: float) -> dict:
    """All ten fixture tables at scale factor `sf` (sf0.1 = 5,000 documents,
    600,000 lineitem rows)."""
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb = n(50_000), n(20_000)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {"c_custkey": ck,
                     "c_name": [f"Customer#{i:09d}" for i in ck],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                     "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {"s_suppkey": sk,
                     "s_name": [f"Supplier#{i:09d}" for i in sk],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    pw = np.array(PART_WORDS)
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {"p_partkey": pk,
                 "p_name": [f"{a} {b}" for a, b in zip(pw[rng.integers(0, 16, n_part)],
                                                      pw[rng.integers(0, 16, n_part)])],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)}
    t["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
                   "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                   "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
                   "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                     "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                     "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
                     "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
                     "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                   "user_id": rng.integers(0, max(1, n(15_000)), n_ev).astype(np.int64),
                   "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
                   "value": np.round(rng.exponential(50.0, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    t["documents"] = documents(rng, n_doc)
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                       "label": rng.integers(0, 10, n_emb).astype(np.int32)}
    return t


def generate(out: Path, seed: int, sf: float, curate_sf: float, copies: int) -> dict:
    """Write the registry tables to `out` and the curation corpus to
    `out/curate/documents.parquet`; returns a small summary."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    tables = registry_tables(rng, sf)
    for name, cols in tables.items():
        _write(out, name, cols)
    cur = out / "curate"
    cur.mkdir(exist_ok=True)
    dup_share = float(rng.uniform(0.05, 0.07))
    corpus = curation_corpus(rng, documents(rng, max(1, int(round(50_000 * curate_sf)))),
                             copies, dup_share)
    _write(cur, "documents", corpus)
    return {"curate_docs": len(corpus["text"]), "dup_share": dup_share,
            "lineitem": len(tables["lineitem"]["l_orderkey"])}
