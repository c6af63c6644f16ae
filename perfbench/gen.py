"""Seeded input generators for the benchmark.

Everything the program reads is written here from ``--seed``: the same
seed gives byte-identical parquet files. The tables follow the schemas
and value ranges of the engine's synthetic star schema (see FIXTURES.md)
so every ``queries()`` key and its DuckDB oracle run unchanged on them.

- ``write_tables``: the ten base tables at a scale factor.
- ``write_catalog``: a multi-app catalog; every relation gets its own
  copied parquet file, and every app a seeded policy mix.
- ``write_corpus``: a dup-dense LLM-prep corpus, built by amplifying the
  documents table with exact copies and token perturbations.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark line small fast group customer batch sort value hash "
    "filter big data query row stream part column order scan slow agg key "
    "window table merge vector join"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# the eight relational tables a catalog app is built from
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    days = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "us") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _docs(rng, n: int, dup_frac: float = 0.05) -> pd.DataFrame:
    """Whitespace-token documents over a small vocabulary; ``dup_frac``
    of them repeat an earlier document with one token appended, which is
    the near-duplicate shape the dedup keys mine."""
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < dup_frac):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, names=None) -> dict[str, int]:
    """Write the base tables at scale factor ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    makers = {
        "region": lambda: pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": lambda: pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": lambda: pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": lambda: pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": lambda: pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(
                    np.char.add(rng.choice(PART_ADJ, n_part), " "),
                    rng.choice(PART_NOUN, n_part),
                ).astype(object),
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": lambda: pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": lambda: pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(("N", "A", "R"), n_line),
                "l_linestatus": rng.choice(("F", "O"), n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": lambda: pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01T00:00:00", "us")
                + np.cumsum(rng.exponential(25.9e6, n_ev)).astype(
                    "timedelta64[us]"
                ),
                "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(
                    np.int64
                ),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": lambda: _docs(rng, n_docs),
        "embeddings": lambda: _embeddings(rng, n_emb),
    }
    counts = {}
    for name in names or makers:
        df = makers[name]()
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(df)
    return counts


def _embeddings(rng, n: int) -> pd.DataFrame:
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


# -- catalog -------------------------------------------------------------

# columns a redaction may target, with a literal of the column's type
REDACTABLE = {
    "customer": {"c_name": "REDACTED", "c_acctbal": 0.0},
    "supplier": {"s_name": "REDACTED", "s_acctbal": 0.0},
    "orders": {"o_orderpriority": "REDACTED"},
    "events": {"props": "{}", "value": -1.0},
    "part": {"p_name": "REDACTED"},
}
BANNABLE = ("c_mktsegment", "s_nationkey", "o_orderstatus", "p_type", "l_tax")
SOFT_DELETE = {
    "l_shipdate": "IS NOT NULL",
    "o_totalprice": "> 0",
    "ts": "IS NOT NULL",
}
# the three relations an app does not manage: one is configured
# unmanaged, the other two are left out by its INCLUDE or EXCLUDE list.
# Each triple holds 13 of the 43 columns, so every app manages five
# relations of 30 columns whatever the draw: an app's build cost, which
# follows its column count, does not move with the seed
UNMANAGED_TRIPLES = (
    ("region", "customer", "part"),
    ("region", "customer", "events"),
    ("nation", "supplier", "part"),
    ("nation", "supplier", "events"),
)


def write_catalog(
    out_dir: str, seed: int, n_apps: int, base_dir: str
) -> list[dict]:
    """Copy the base tables once per relation and draw one policy per app.

    Relation names are ``<app>_<table>`` so trifecta names never collide
    across apps. Returns one dict per app: its name, its relations
    (name -> parquet path) and the raw policy config the CLI accepts."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    width = {
        t: len(pq.read_schema(os.path.join(base_dir, f"{t}.parquet")).names)
        for t in CATALOG_TABLES
    }
    dropped = {sum(width[t] for t in triple) for triple in UNMANAGED_TRIPLES}
    if len(dropped) != 1:
        raise ValueError(f"unmanaged triples drop different column counts: {dropped}")
    apps = []
    for a in range(n_apps):
        app = f"APP{a:02d}"
        rels = {}
        for t in CATALOG_TABLES:
            name = f"{app.lower()}_{t}"
            path = os.path.join(out_dir, f"{name}.parquet")
            shutil.copyfile(os.path.join(base_dir, f"{t}.parquet"), path)
            rels[name] = path
        # every app keeps its orders relation (the SAFE aggregate reads
        # it) and registers five SAFE/PII pairs whatever the draw
        triple = UNMANAGED_TRIPLES[int(rng.integers(len(UNMANAGED_TRIPLES)))]
        skip_t = str(rng.choice(triple))
        left_out = sorted(f"{app.lower()}_{t}" for t in triple if t != skip_t)
        source: dict = {}
        if rng.random() < 0.5:
            source["INCLUDE"] = sorted(set(rels) - set(left_out))
        else:
            source["EXCLUDE"] = left_out
        if rng.random() < 0.6:
            col = str(rng.choice(sorted(SOFT_DELETE)))
            source["SOFT_DELETE"] = {col: SOFT_DELETE[col]}
        if rng.random() < 0.5:
            source["PREFIX"] = "LEGACY"
        unmanaged = [f"{app}.{app.lower()}_({skip_t})"]
        redactions = {}
        for t, cols in REDACTABLE.items():
            if rng.random() < 0.6:
                chosen = [c for c in cols if rng.random() < 0.7] or [next(iter(cols))]
                redactions[f"{app}.{app.lower()}_{t}"] = {
                    c.upper(): cols[c] for c in chosen
                }
        banned = sorted(
            {str(c) for c in rng.choice(BANNABLE, int(rng.integers(0, 3)), replace=False)}
        )
        apps.append(
            {
                "app": app,
                "relations": rels,
                "config": {
                    "sources": {f"{app}_RAW": source},
                    "redactions": redactions,
                    "banned_columns": banned,
                    "unmanaged_tables": unmanaged,
                },
            }
        )
    return apps


# -- LLM-prep corpus -----------------------------------------------------


PII_TOKENS = (
    lambda k: f"user{k}@mail.example.com",
    lambda k: f"555-{k % 1000:03d}-{k % 10000:04d}",
    lambda k: f"10.0.{k % 256}.{k % 199}",
)


def write_corpus(
    out_dir: str, seed: int, n_base: int, n_groups: int, group_size: int,
    n_eval: int = 10,
) -> dict[str, int]:
    """Dup-dense corpus: ``n_base`` documents, of which ``n_groups``
    (drawn among those with >= 40 tokens) are amplified into groups of
    ``group_size``. A fifth of each group's copies are exact; the rest
    replace one or two tokens of the original, so they survive exact
    dedup and stay MinHash near-duplicates of it. Every fiftieth base
    document carries one PII token (email, phone or IPv4).

    Also writes ``eval.parquet``: ``n_eval`` base documents that play the
    benchmark set the corpus must be decontaminated against."""
    rng = np.random.default_rng(seed + 2)
    os.makedirs(out_dir, exist_ok=True)
    base = _docs(rng, n_base)
    for i in range(7, n_base, 50):
        toks = base.at[i, "text"].split(" ")
        toks[int(rng.integers(0, len(toks)))] = PII_TOKENS[i // 50 % 3](i)
        base.at[i, "text"] = " ".join(toks)
    base["n_chars"] = base["text"].str.len().astype(np.int64)
    evals = rng.choice(n_base, n_eval, replace=False)
    _write(base.iloc[np.sort(evals)][["text"]], os.path.join(out_dir, "eval.parquet"))
    long_ids = np.flatnonzero(base["text"].str.count(" ").to_numpy() >= 39)
    seeds = rng.choice(long_ids, n_groups, replace=False)
    texts = list(base["text"])
    langs = list(base["lang"])
    sources = list(base["source"])
    n_exact = n_perturbed = 0
    for s in seeds:
        toks = texts[s].split(" ")
        for c in range(group_size - 1):
            if c % 5 == 0:
                texts.append(texts[s])
                n_exact += 1
            else:
                t = list(toks)
                for pos in rng.choice(len(t), int(rng.integers(1, 3)), replace=False):
                    t[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                texts.append(" ".join(t))
                n_perturbed += 1
            langs.append(langs[s])
            sources.append(sources[s])
    n = len(texts)
    order = rng.permutation(n)
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": [texts[i] for i in order],
            "lang": [langs[i] for i in order],
            "source": [sources[i] for i in order],
            "n_chars": np.array([len(texts[i]) for i in order], dtype=np.int64),
        }
    )
    _write(df, os.path.join(out_dir, "documents.parquet"))
    return {
        "docs": n, "exact_copies": n_exact, "perturbed_copies": n_perturbed,
        "eval_docs": n_eval,
    }
