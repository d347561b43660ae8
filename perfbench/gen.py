"""Seeded input generator for every benchmark workload.

Everything the program reads is made here from one ``numpy`` generator
seeded by ``--seed``: the same seed gives byte-identical tables and the
same request sequence. Tables are written with pyarrow (no Spark), each
as exactly ``N_FILES`` parquet files, so the layout the program scans is
pinned to a constant and never derived from the host's core count.

Text uses a fixed vocabulary of lowercase words chosen so that no word is
a stop word and no two words share a Porter2 stem: a TEXT term, prefix or
phrase query then has a plain set-membership meaning that DuckDB can
answer from the raw text (the checks in ``workloads.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8          # every generated table is written as this many files
DIM = 64             # vector dimension (float32)

VOCAB = (
    "spark batch column vector window table query index cache shard "
    "stream graph token scan join sort hash merge filter node page tree "
    "block frame field lake delta parquet arrow kernel driver task stage "
    "plan schema record bucket segment cluster replica"
).split()

BRANDS = [f"Brand#{i}" for i in range(1, 26)]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_ADJ = ["cold", "hot", "large", "small", "shiny", "rusty"]
NAME_NOUN = ["widget", "bolt", "ring", "gear", "spring", "valve"]
EVENT_TYPES = ["view", "click", "cart", "buy", "error"]
LANGS = ["en", "de", "fr", "zh"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream) — adding a stream
    never shifts the numbers another stream draws."""
    salt = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([seed, salt])


def write_table(table: pa.Table, path: str) -> int:
    """Write ``table`` as ``N_FILES`` contiguous row slices; returns the
    bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    total = 0
    for i in range(N_FILES):
        lo, hi = i * n // N_FILES, (i + 1) * n // N_FILES
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        total += os.path.getsize(f)
    return total


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    # Zipf-like word frequencies: a few common words, a long tail
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    w /= w.sum()
    lens = rng.integers(lo, hi, n)
    words = rng.choice(len(VOCAB), size=(n, hi), p=w)
    return [" ".join(VOCAB[j] for j in row[:k]) for row, k in zip(words, lens)]


# ---------------------------------------------------------------------------
# serve: part / documents / events and the point query pool
# ---------------------------------------------------------------------------

def part_table(rng, n: int) -> pa.Table:
    # retail prices are a permutation of distinct cents, so SORTBY on
    # price has no ties and a LIMIT's key set is unique
    price = 900.0 + rng.permutation(n) / 100.0
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{NAME_ADJ[a]} {NAME_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 6, n), rng.integers(0, 6, n))],
        "p_brand": [BRANDS[i] for i in rng.integers(0, len(BRANDS), n)],
        "p_type": [TYPES[i] for i in rng.integers(0, len(TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": price,
    })


def documents_table(rng, n: int, lo: int = 20, hi: int = 80) -> pa.Table:
    texts = _texts(rng, n, lo, hi)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events_table(rng, n: int) -> pa.Table:
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": rng.integers(0, 2000, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in
                       rng.choice(5, n, p=[.4, .3, .15, .1, .05])],
        "value": np.round(rng.gamma(2.0, 50.0, n), 2),
    })


def point_queries(rng, n_per_kind: int = 3) -> list[dict]:
    """Distinct FT.SEARCH / FT.AGGREGATE requests over the three indexes.
    Each carries its RESP argv and the SQL the DuckDB check answers it
    with: ``sql`` returns the ordered reply keys (and ``count_sql`` the
    pre-LIMIT total)."""
    qs: list[dict] = []
    for _ in range(n_per_kind):
        b = BRANDS[rng.integers(0, len(BRANDS))]
        t = TYPES[rng.integers(0, len(TYPES))]
        lo = round(900 + rng.integers(0, 190) / 10.0, 1)
        w1, w2 = (VOCAB[i] for i in rng.choice(12, 2, replace=False))
        rare = VOCAB[rng.integers(12, len(VOCAB))]
        pre = w1[:3]
        s_lo = int(rng.integers(1, 40))
        qs += [
            _q("tag", "parts", f"@p_brand:{{{b}}}", "part",
               f"p_brand = '{b}'"),
            _q("numeric", "parts", f"@p_retailprice:[{lo} {lo + 0.5}]",
               "part", f"p_retailprice BETWEEN {lo} AND {lo + 0.5}"),
            _q("term", "docs", f"@text:{rare}", "documents",
               f"list_contains(string_split(text, ' '), '{rare}')"),
            _q("prefix", "docs", f"@text:{pre}*", "documents",
               "len(list_filter(string_split(text, ' '), "
               f"x -> starts_with(x, '{pre}'))) > 0"),
            _q("phrase", "docs", f'@text:"{w1} {w2}"', "documents",
               f"(' ' || text || ' ') LIKE '% {w1} {w2} %'"),
            _q("negation", "parts",
               f"@p_brand:{{{b}}} -@p_size:[{s_lo} {s_lo + 20}]", "part",
               f"p_brand = '{b}' AND NOT (p_size BETWEEN {s_lo} AND "
               f"{s_lo + 20})"),
            _q("sortby", "parts", f"@p_type:{{{t}}}", "part",
               f"p_type = '{t}'", sortby=("p_retailprice", "DESC"),
               limit=5),
        ]
        et = list(rng.choice(EVENT_TYPES, 2, replace=False))
        vlo = int(rng.integers(0, 100))
        qs.append({
            "kind": "aggregate", "index": "events",
            "argv": ["FT.AGGREGATE", "events",
                     f"@event_type:{{{et[0]}|{et[1]}}} "
                     f"@value:[{vlo} +inf]",
                     "GROUPBY", "1", "@event_type",
                     "REDUCE", "COUNT", "0", "AS", "n",
                     "REDUCE", "SUM", "1", "@value", "AS", "s",
                     "SORTBY", "2", "@n", "DESC"],
            "sql": (f"SELECT event_type, count(*) AS n, sum(value) AS s "
                    f"FROM events WHERE event_type IN ('{et[0]}', "
                    f"'{et[1]}') AND value >= {vlo} GROUP BY event_type "
                    f"ORDER BY n DESC"),
        })
    return qs


def _q(kind, index, query, table, where, sortby=None, limit=10) -> dict:
    key = {"part": "p_partkey", "documents": "doc_id"}[table]
    argv = ["FT.SEARCH", index, query]
    if sortby:
        argv += ["SORTBY", sortby[0], sortby[1]]
        order = f"{sortby[0]} {sortby[1]}"
    else:
        # the engine orders an unsorted reply by the string key
        order = f"CAST({key} AS VARCHAR)"
    argv += ["NOCONTENT", "LIMIT", "0", str(limit)]
    return {
        "kind": kind, "index": index, "argv": argv,
        "sql": (f"SELECT CAST({key} AS VARCHAR) FROM {table} WHERE {where} "
                f"ORDER BY {order} LIMIT {limit}"),
        "count_sql": f"SELECT count(*) FROM {table} WHERE {where}",
    }


# ---------------------------------------------------------------------------
# serve / curate_ingest: clustered vectors
# ---------------------------------------------------------------------------

def clustered_vectors(rng, n: int, n_clusters: int, dim: int = DIM,
                      spread: float = 0.35):
    centers = rng.normal(size=(n_clusters, dim)).astype(np.float32)
    label = rng.integers(0, n_clusters, n).astype(np.int32)
    vecs = (centers[label]
            + spread * rng.normal(size=(n, dim))).astype(np.float32)
    return centers, label, vecs


def vector_table(ids, label, vecs, price) -> pa.Table:
    return pa.table({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "label": np.asarray(label, dtype=np.int32),
        "price": np.asarray(price, dtype=np.float64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })


def vector_queries(rng, label, vecs, n: int) -> list[dict]:
    """Seeded KNN request pool, alternating pure KNN on the HNSW field
    with hybrid tag+KNN carrying no dial (the planner's probe picks the
    branch). Query vectors perturb corpus points, and a hybrid filter
    names the query's own cluster — the filter a user narrowing to a
    category would send."""
    out = []
    for i in range(n):
        j = int(rng.integers(0, len(vecs)))
        v = (vecs[j] + 0.1 * rng.normal(size=vecs.shape[1])).astype(
            np.float32)
        if i % 2 == 0:
            kind, query = "knn_hnsw", "*=>[KNN 10 @emb $v EF_RUNTIME 64]"
        else:
            kind = "hybrid_nodial"
            query = f"@label:{{{int(label[j])}}}=>[KNN 10 @emb $v]"
        out.append({"kind": kind, "vec": v, "label": int(label[j]),
                    "argv": ["FT.SEARCH", "vecs", query, "PARAMS", "2", "v",
                             v.tobytes(), "NOCONTENT", "LIMIT", "0", "10"]})
    return out


# ---------------------------------------------------------------------------
# curate_ingest: token-disjoint replicas plus injected near-duplicates
# ---------------------------------------------------------------------------

@dataclass
class CurateCorpus:
    table: pa.Table
    injected: list[tuple[int, int]] = field(default_factory=list)
    texts: dict[int, str] = field(default_factory=dict)


def curate_corpus(rng, n_base: int, replicas: int, n_dups: int,
                  edit_frac: float = 0.06) -> CurateCorpus:
    """``replicas`` token-disjoint copies of an ``n_base``-document
    corpus (replica r>0 suffixes every token with ``r<r>``, so gram and
    shingle spaces never overlap across replicas — the ``bench.py``
    scale-leg construction), plus ``n_dups`` seeded near-duplicates: a
    copy of a random document with ``edit_frac`` of its tokens replaced."""
    base = _texts(rng, n_base, 40, 120)
    texts: list[str] = []
    for r in range(replicas):
        texts += base if r == 0 else [
            " ".join(f"{w}r{r}" for w in t.split()) for t in base]
    n = len(texts)
    injected = []
    for i in range(n_dups):
        src = int(rng.integers(0, n))
        toks = texts[src].split()
        k = max(1, int(edit_frac * len(toks)))
        for p in rng.choice(len(toks), k, replace=False):
            toks[p] = VOCAB[rng.integers(0, len(VOCAB))] + "z"
        texts.append(" ".join(toks))
        injected.append((src, n + i))
    perm = rng.permutation(len(texts))          # shuffle file placement
    ids = np.arange(len(texts), dtype=np.int64)
    table = pa.table({
        "doc_id": ids[perm],
        "text": [texts[i] for i in perm],
        "lang": ["en"] * len(texts),
        "source": [f"src{i % 8}" for i in perm],
        "n_chars": np.array([len(texts[i]) for i in perm], dtype=np.int64),
    })
    return CurateCorpus(table, injected, dict(enumerate(texts)))


# ---------------------------------------------------------------------------
# curate_ingest: a keyspace of vector-carrying documents and its mutations
# ---------------------------------------------------------------------------

def ingest_base(rng, n: int, n_clusters: int = 8):
    centers, label, vecs = clustered_vectors(rng, n, n_clusters)
    price = np.round(rng.uniform(0, 1000, n), 2)
    return centers, label, vecs, price


def mutation_batch(rng, live: dict, next_key: int, size: int,
                   centers) -> tuple[list[dict], int]:
    """One SET/DEL batch against the keyspace model ``live``
    (key -> (label, price, vec)): ~60% SET of new keys, ~25% SET
    (overwrite) of live keys, ~15% DEL of live keys; keys are distinct
    within a batch."""
    keys = sorted(live)
    n_new = int(size * 0.6)
    n_old = size - n_new
    picked = rng.choice(len(keys), n_old, replace=False)
    n_del = max(1, int(size * 0.15))
    rows = []
    for i, p in enumerate(picked):
        k = keys[p]
        if i < n_del:
            rows.append({"vec_id": k, "__op": "DEL"})
        else:
            rows.append(_set_row(rng, k, centers))
    for i in range(n_new):
        rows.append(_set_row(rng, next_key + i, centers))
    return rows, next_key + n_new


def _set_row(rng, key, centers) -> dict:
    c = int(rng.integers(0, len(centers)))
    v = (centers[c] + 0.35 * rng.normal(size=centers.shape[1])).astype(
        np.float32)
    return {"vec_id": int(key), "__op": "SET", "label": c,
            "price": float(np.round(rng.uniform(0, 1000), 2)),
            "embedding": v}
