"""Seeded input generators.

Everything the benchmark feeds the engine is made here from one integer
seed, so the same seed always yields byte-identical inputs and the
benchmark never reads data from outside its own checkout.

* ``documents``: the flat ``documents`` table shape (doc_id, text, lang,
  source, n_chars) with the same 30-word vocabulary, 10-100 words per
  document, 20 sources and 5% near-duplicates (a copy plus ``dup``).
* ``pages``: those documents grouped into markdown pages (1-20 documents
  each, under ``##`` headings, some with fenced code blocks) in the
  ``DOCUMENTS_RAW`` ingest shape.
* ``write_tables``: the ten parquet tables the registered batch queries
  read (TPC-H-like star schema, events, documents, embeddings).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de"]
N_SOURCES = 20
CODE_LANGS = ["python", "go", "json", "yaml", "bash", ""]


def documents(seed: int, n: int) -> list[dict]:
    """``n`` documents; ``doc_id`` is 0..n-1 and ``source`` is ``src{doc_id % 20}``."""
    rng = random.Random(seed)
    out: list[dict] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            text = out[rng.randrange(i)]["text"] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        out.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{i % N_SOURCES}",
                "n_chars": len(text),
            }
        )
    return out


@dataclass(frozen=True)
class Page:
    """One ``DOCUMENTS_RAW`` row: a markdown page built from documents."""

    source_id: str
    url: str
    title: str
    path: str
    content: str

    def row(self) -> tuple:
        return (self.source_id, self.url, self.title, self.path, self.content,
                [], 0, "success", None, None)


def _code_block(rng: random.Random) -> str:
    lang = rng.choice(CODE_LANGS)
    lines = [
        f"{rng.choice(VOCAB)}_{rng.choice(VOCAB)} = {rng.randint(0, 999)}"
        for _ in range(rng.randint(2, 8))
    ]
    return "```" + lang + "\n" + "\n".join(lines) + "\n```"


def pages(seed: int, docs: list[dict]) -> list[Page]:
    """Group ``docs`` in order into pages of 1-20 documents each."""
    rng = random.Random(seed * 7919 + 1)
    out: list[Page] = []
    i = 0
    while i < len(docs):
        group = docs[i : i + rng.randint(1, 20)]
        i += len(group)
        p = len(out)
        src = group[0]["source"]
        parts = [f"# Page {p}"]
        for d in group:
            parts.append(f"## Section {d['doc_id']}\n\n{d['text']}")
            if rng.random() < 0.2:
                parts.append(_code_block(rng))
        out.append(
            Page(
                source_id=src,
                url=f"https://docs.example.com/{src}/page-{p}",
                title=f"Page {p}",
                path=f"{src} > page-{p}",
                content="\n\n".join(parts),
            )
        )
    return out


def edit_pages(seed: int, pgs: list[Page], share: float) -> tuple[list[Page], set[str]]:
    """Rewrite one section of a seeded ``share`` of pages; returns the new
    corpus and the URLs that changed."""
    rng = random.Random(seed * 104729 + 3)
    n = max(1, round(len(pgs) * share))
    picked = set(rng.sample(range(len(pgs)), n))
    out = []
    for i, pg in enumerate(pgs):
        if i in picked:
            extra = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(5, 30)))
            pg = Page(pg.source_id, pg.url, pg.title, pg.path,
                      pg.content + f"\n\n## Edited\n\n{extra}")
        out.append(pg)
    return out, {pgs[i].url for i in picked}


def write_tables(seed: int, out_dir: str, scale: float = 0.001) -> None:
    """Write the ten tables the registered queries read to ``out_dir``
    (row counts as in the TPC-H-like layout: 6000 lineitems at 0.001)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(500_000 * scale)

    def save(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(pa.Table.from_pandas(pd.DataFrame(cols), schema=schema,
                                            preserve_index=False),
                       f"{out_dir}/{name}.parquet")

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    save("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
         pa.schema([("r_regionkey", i32), ("r_name", s)]))
    save("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
         pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"])
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    adj = np.array(["small", "large", "blue", "red", "hot", "cold", "new", "old"])
    noun = np.array(["widget", "bolt", "gear", "rod", "ring", "anvil", "nut", "pipe"])
    types = np.array(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"])
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                             noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    okey = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    save("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts)]))
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
        "event_type": np.array(["click", "purchase", "error", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                  ("value", f64), ("props", s)]))
    docs = documents(seed, n_doc)
    save("documents", {k: [d[k] for d in docs] for k in docs[0]},
         pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    emb = rng.normal(size=(n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_doc).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
