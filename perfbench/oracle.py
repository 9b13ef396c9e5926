"""Independent reference answers the benchmark checks the engine against.

Nothing here calls the engine: the search oracle is a NumPy top-k over
the chunk store read with pyarrow, written from the shared contract
(``__spark_entry__`` docstring and ``operators/hybrid.py``):

* tokens: lowercase, split on ``[^a-z0-9]+``, empties dropped;
* BM25 over the candidate set (filters applied first), k1 1.2, b 0.75,
  idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``, each distinct query term
  counted once;
* cosine between the stored float32 embedding and the hashing-TF query
  vector (md5 bucket of each token, L2-normalised), 0 for a zero norm;
* each score min-max normalised over the candidates (constant -> 0),
  fused ``alpha * vec + (1 - alpha) * bm25``, ranked by the score
  rounded to 6 decimals (descending), ties by ``url#chunk_index``.
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass

import numpy as np

K1, B = 1.2, 0.75
DEFAULT_ALPHA, DEFAULT_LIMIT = 0.5, 10
DIM = 64
CODE_TYPES = ("code", "config", "cmd", "api")
_SPLIT = re.compile(r"[^a-z0-9]+")


def tokens(text: str | None) -> list[str]:
    return [t for t in _SPLIT.split((text or "").lower()) if t]


def query_vector(text: str, dim: int = DIM) -> np.ndarray:
    v = np.zeros(dim)
    for t in tokens(text):
        v[int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim] += 1.0
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def _round6(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 1e6 + 0.5) / 1e6


@dataclass
class Hit:
    url: str
    chunk_index: int
    content: str
    score: float


class ChunkStore:
    """The chunk table in memory, with per-chunk term counts."""

    def __init__(self, table) -> None:
        cols = table.to_pydict()
        self.url = cols["url"]
        self.chunk_index = [int(i) for i in cols["chunk_index"]]
        self.content = cols["content"]
        self.type = cols["type"]
        self.language = cols["language"]
        self.source_id = np.array(cols["source_id"], dtype=object)
        self.ids = [f"{u}#{i}" for u, i in zip(self.url, self.chunk_index)]
        emb = np.array(cols["embedding"], dtype=np.float32).astype(np.float64)
        self.emb = emb
        self.emb_norm = np.linalg.norm(emb, axis=1)
        self.tf: list[dict[str, int]] = []
        for c in self.content:
            d: dict[str, int] = {}
            for t in tokens(c):
                d[t] = d.get(t, 0) + 1
            self.tf.append(d)
        self.dl = np.array([sum(d.values()) for d in self.tf], dtype=np.float64)

    @classmethod
    def read(cls, path: str) -> "ChunkStore":
        import pyarrow.dataset as ds

        return cls(ds.dataset(path, format="parquet", partitioning="hive").to_table())

    def search(self, query: str, alpha=None, limit=None, source_id=None) -> list[Hit]:
        a = DEFAULT_ALPHA if alpha is None else float(alpha)
        k = DEFAULT_LIMIT if limit is None else int(limit)
        cand = np.arange(len(self.ids))
        if source_id:
            cand = cand[self.source_id[cand] == source_id]
        if len(cand) == 0:
            return []
        terms = sorted(set(tokens(query)))
        n = float(len(cand))
        avgdl = float(self.dl[cand].mean())
        bm25 = np.zeros(len(cand))
        for t in terms:
            tf = np.array([self.tf[i].get(t, 0) for i in cand], dtype=np.float64)
            df = float((tf > 0).sum())
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            dl = self.dl[cand]
            bm25 += np.where(tf > 0, idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl)), 0.0)
        q = query_vector(query)
        qn = np.linalg.norm(q)
        en = self.emb_norm[cand]
        dots = self.emb[cand] @ q
        cos = np.where((en > 0) & (qn > 0), dots / np.where(en > 0, en, 1.0) / (qn or 1.0), 0.0)

        def norm(x):
            mn, mx = x.min(), x.max()
            return (x - mn) / (mx - mn) if mx > mn else np.zeros_like(x)

        score = a * norm(cos) + (1.0 - a) * norm(bm25)
        r6 = _round6(score)
        order = sorted(range(len(cand)), key=lambda j: (-r6[j], self.ids[cand[j]]))[:k]
        return [
            Hit(self.url[cand[j]], self.chunk_index[cand[j]], self.content[cand[j]], float(score[j]))
            for j in order
        ]

    def page_text(self, url: str) -> str:
        rows = sorted((self.chunk_index[i], i) for i, u in enumerate(self.url) if u == url)
        parts = []
        for _, i in rows[:1000]:
            if self.type[i] in CODE_TYPES:
                parts.append(f"--- Code ({self.language[i] or self.type[i]}) ---\n{self.content[i]}")
            else:
                parts.append(self.content[i])
        return "\n\n".join(parts)


_RESULT = re.compile(r"^Result (\d+) \(Score: (-?[0-9.]+)\):\n", re.MULTILINE)
_BLOCK_END = "\n```\n\n---\n"


def parse_search_text(text: str) -> list[tuple[str, str, float]]:
    """``qurio_search`` tool text -> [(url, content, score)] in order."""
    if text == "No results found.":
        return []
    heads = list(_RESULT.finditer(text))
    out = []
    for h, nxt in zip(heads, heads[1:] + [None]):
        block = text[h.end() : nxt.start() if nxt else len(text)]
        body_at = block.index("Content:\n```\n")
        url = next(
            (ln[5:] for ln in block[:body_at].splitlines() if ln.startswith("URL: ")), ""
        )
        content = block[body_at + len("Content:\n```\n") : block.rindex(_BLOCK_END)]
        out.append((url, content, float(h.group(2))))
    return out


def check_search(store: ChunkStore, args: dict, text: str) -> str | None:
    """None when the tool text matches the oracle top-k, else a reason."""
    want = store.search(args["query"], args.get("alpha"), args.get("limit"), args.get("source_id"))
    got = parse_search_text(text)
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    for i, ((url, content, score), h) in enumerate(zip(got, want)):
        if url != h.url or content != h.content:
            return f"result {i + 1}: {url!r} vs oracle {h.url!r}#{h.chunk_index}"
        if abs(score - h.score) > 0.005 + 1e-9:
            return f"result {i + 1}: score {score} vs oracle {h.score:.6f}"
    return None
