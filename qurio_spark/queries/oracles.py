"""DuckDB oracle SQL for every SQL-expressible query — the
``oracle_sql()`` aggregation the driver compares against (column
names and rounding in lockstep with the Spark side)."""

from __future__ import annotations

from qurio_spark.functions.hashing import minhash_coeffs
from qurio_spark.functions.text import EN_STOPWORDS

from .common import QUERY_TEXT, QUERY_VEC_ID
from .breadth import (
    _EVENT_TYPES,
    _LINK_EXCLUSION,
    _LINK_FIXTURE,
    _PAGE_FIXTURE,
)
from .ingest import (
    _DLQ_FIXTURE,
    _MD_FIXTURE,
    _META_FIXTURE,
    _SITEMAP_FIXTURE,
    _STUCK_FIXTURE,
    _STUCK_NOW,
    _TYPE_RE,
)
from .media import audio_features_sql, resize_targets_sql
from .temporal import (
    events_asof_attribution_sql,
    events_asof_recovery_sql,
    events_range_left_sql,
    events_range_proximity_sql,
)
from .search import _BATCH_QUERIES

# Shared SQL fragments for the oracles ------------------------------------

_TOKS = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
)

# BPE-ish pre-tokenizer regex (functions.text.BPEISH_RE) as a SQL
# literal: single quotes doubled for the SQL string.
from qurio_spark.functions.text import BPEISH_RE as _BPEISH_RE_PY

BPEISH_RE_SQL = _BPEISH_RE_PY.replace("'", "''")


def _pii_sql() -> str:
    """DuckDB twin of operators/textstats.pii_profile: SEQUENTIAL
    per-pattern counts (pattern i counted after patterns 0..i-1 have
    been replaced, mirroring functions/text.pii_count) + the
    fingerprint of the fully redacted text."""
    from qurio_spark.functions.text import PII_PATTERNS

    staged = "text"
    counts = []
    for pat, repl in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({staged}, '{pat}'))")
        staged = f"regexp_replace({staged}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id,
       ({" + ".join(counts)})::BIGINT AS n_pii,
       sha256({staged}) AS redacted_fp
FROM documents"""


def _bm25_cte(base: str = "documents", terms: tuple[str, ...] = ("hash", "join", "spark")) -> str:
    """BM25 scoring CTE over ``base`` (must expose doc_id, text) ->
    relation ``bm25_scores(doc_id, bm25)`` with dense zero scores."""
    values = ", ".join(f"('{t}')" for t in terms)
    toks = _TOKS.format(col="text")
    return f"""
  toks AS (
    SELECT doc_id, unnest({toks}) AS term FROM {base}
  ),
  tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
  dl AS (SELECT doc_id, len({toks})::DOUBLE AS dl FROM {base}),
  stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
  qterms(term) AS (VALUES {values}),
  dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
  bm25_raw AS (
    SELECT tf.doc_id,
           sum(
             ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
           ) AS bm25
    FROM tf
    JOIN qterms USING (term)
    JOIN dfreq USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY 1
  ),
  bm25_scores AS (
    SELECT b.doc_id, coalesce(r.bm25, 0.0) AS bm25
    FROM {base} b LEFT JOIN bm25_raw r USING (doc_id)
  )"""


_COS = (
    "list_dot_product(embedding::DOUBLE[], qv.v) / "
    "(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(qv.v, qv.v)))"
)

_QV = f"qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = {QUERY_VEC_ID})"


def _hybrid_sql(alpha: float, k: int, lang_filter: str | None = None) -> str:
    """Full hybrid-search oracle: BM25 + cosine, min-max fused."""
    where = f"WHERE lang = '{lang_filter}'" if lang_filter else ""
    return f"""
WITH base AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  {where}
),
{_QV},
{_bm25_cte(base="base")},
cos_scores AS (
  SELECT b.doc_id, {_COS} AS cos FROM base b CROSS JOIN qv
),
joined AS (
  SELECT b.doc_id, b.bm25, c.cos
  FROM bm25_scores b JOIN cos_scores c USING (doc_id)
),
mm AS (
  SELECT min(bm25) AS bmn, max(bm25) AS bmx, min(cos) AS cmn, max(cos) AS cmx
  FROM joined
),
fused AS (
  SELECT doc_id,
         {alpha} * (CASE WHEN cmx > cmn THEN (cos - cmn) / (cmx - cmn) ELSE 0.0 END)
         + (1 - {alpha}) * (CASE WHEN bmx > bmn THEN (bm25 - bmn) / (bmx - bmn) ELSE 0.0 END)
         AS score
  FROM joined CROSS JOIN mm
)
SELECT doc_id, (floor((score) * 10000.0 + 0.5) / 10000.0) AS score
FROM fused
ORDER BY (floor((score) * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id
LIMIT {k}"""


def _quality_sql() -> str:
    toks = _TOKS.format(col="text")
    sw = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n,
         {toks} AS toks,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::DOUBLE AS npunct
  FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN n >= 120 AND n <= 20000 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS length_ok,
         CASE WHEN n > 0 THEN npunct / n ELSE 0.0::DOUBLE END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN ({sw})))::DOUBLE / len(toks)
              ELSE 0.0::DOUBLE END AS sw_ratio
  FROM t
)
-- literals cast to DOUBLE so the FP op sequence is bit-identical to
-- Spark's (DuckDB otherwise parses 0.4 as DECIMAL and rounds differently)
SELECT doc_id,
       (floor((0.4::DOUBLE * length_ok
             + 0.3::DOUBLE * (1.0::DOUBLE - least(1.0::DOUBLE, punct_ratio * 4.0::DOUBLE))
             + 0.3::DOUBLE * least(1.0::DOUBLE, sw_ratio * 5.0::DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS quality
FROM r"""


def _lang_id_sql() -> str:
    from qurio_spark.operators.textstats import LANG_MARKERS

    toks = _TOKS.format(col="text")
    hit_exprs = []
    for lang in sorted(LANG_MARKERS):
        words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        hit_exprs.append(
            f"len(list_filter(toks, x -> x IN ({words}))) AS h_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    cases = "\n         ".join(
        f"WHEN h_{lang} = best AND best > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
h AS (SELECT doc_id, {', '.join(hit_exprs)} FROM t),
b AS (SELECT *, {best} AS best FROM h)
SELECT doc_id,
       CASE {cases}
            ELSE 'und' END AS lang_guess
FROM b"""


#: word-3-gram shingle list as a DuckDB scalar expression over ``toks``
#: (scalar list-range + list_transform — DuckDB's table-valued range()
#: can't take lateral column args)
_SHINGLES = (
    "list_transform(range(0, greatest(len(toks) - 3, 0) + 1), "
    "i -> array_to_string(toks[i + 1:i + 3], ' '))"
)


def _minhash_sql(num_perm: int = 4) -> str:
    toks = _TOKS.format(col="text")
    m = (1 << 61) - 1
    coeffs = minhash_coeffs(num_perm)
    mins = ", ".join(
        f"min(((h::HUGEINT * {a} + {b}) % {m})::BIGINT) AS mh{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM t
),
hashed AS (
  SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h
  FROM sh WHERE shingle <> ''
)
SELECT doc_id, {mins}
FROM hashed GROUP BY doc_id"""


def _minhash_lsh_sql(threshold: float = 0.5) -> str:
    """LSH banding oracle over the 4-perm minhash CTE: 2 bands x 2
    rows, candidates collide on a band slice, est_jaccard = fraction of
    matching signature slots (exact quarters — no float hazard)."""
    body = _minhash_sql(4).strip()
    matches = " + ".join(f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(4))
    return f"""
WITH sig AS ({body}),
banded AS (
  SELECT doc_id, mh0, mh1, mh2, mh3, 0 AS band,
         CAST(mh0 AS VARCHAR) || ',' || CAST(mh1 AS VARCHAR) AS key FROM sig
  UNION ALL
  SELECT doc_id, mh0, mh1, mh2, mh3, 1 AS band,
         CAST(mh2 AS VARCHAR) || ',' || CAST(mh3 AS VARCHAR) AS key FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.mh0 AS a0, a.mh1 AS a1, a.mh2 AS a2, a.mh3 AS a3,
         b.mh0 AS b0, b.mh1 AS b1, b.mh2 AS b2, b.mh3 AS b3
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       (floor((({matches}) / 4.0) * 10000.0 + 0.5) / 10000.0) AS est_jaccard
FROM cand
WHERE ({matches}) / 4.0 >= {threshold}"""


def _ngram_jaccard_sql(threshold: float = 0.1, max_df: int | None = None) -> str:
    toks = _TOKS.format(col="text")
    cap_cte = (
        f"""
sh2 AS (
  SELECT doc_id, shingle FROM sh0
  SEMI JOIN (SELECT shingle FROM sh0 GROUP BY shingle
             HAVING count(*) <= {max_df}) USING (shingle)
),"""
        if max_df is not None
        else "sh2 AS (SELECT doc_id, shingle FROM sh0),"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM t
),
sh0 AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
{cap_cte}
sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM sh2 GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::DOUBLE AS i
  FROM sh2 a JOIN sh2 b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       (floor((i / (sa.sz + sb.sz - i)) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.sz + sb.sz - i) >= {threshold}"""


def _pagerank_sql(iters: int = 3, damping: float = 0.85) -> str:
    """Fixed-iteration PageRank over the embedding near-dup graph,
    unrolled as chained CTEs — the exact math of operators/graph.
    pagerank (same teleport/damping literals, same dangling-mass-drop
    variant), so fixed-k keeps the iterative Spark loop
    hash-comparable."""
    sim = (
        "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
    )
    ctes = [
        f"""pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b USING (label)
  WHERE a.vec_id < b.vec_id AND {sim} > 0.3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
v AS (SELECT vec_id AS id FROM embeddings),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
           FROM edges GROUP BY src),
pr0 AS (SELECT id, (SELECT 1.0 / n FROM nn) AS pr FROM v)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT v.id,
         (SELECT (1.0 - {damping}) / n FROM nn)
           + {damping} * coalesce(s.m, 0.0) AS pr
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.pr / d.deg) AS m
    FROM edges e
    JOIN pr{i - 1} p ON p.id = e.src
    JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.id = v.id
)"""
        )
    body = ",\n".join(ctes)
    # 0.5 + 1e-6: boundary-tolerant round — see q_pagerank_centrality
    # (PageRank rationals land exactly on x.5 rounding boundaries)
    return f"""
WITH {body}
SELECT id AS vec_id,
       (floor(pr * 100000000.0 + 0.5000010) / 100000000.0) AS pr
FROM pr{iters}"""


def _canonical_docs_sql(iters: int = 3, damping: float = 0.85) -> str:
    """CC (recursive transitive closure) x unrolled PageRank ->
    argmax-per-cluster survivor, the composed keep-decision of
    q_canonical_docs.  Shares the pairs/edges CTEs between both
    algorithms and ranks by the SAME boundary-rounded pr as the Spark
    side (x.5 device, see _pagerank_sql)."""
    base = _pagerank_sql(iters, damping)
    # reuse the full pagerank text as a prefix: swap its WITH for
    # WITH RECURSIVE and its final SELECT for the composition
    body = base.split("SELECT id AS vec_id")[0].rstrip().rstrip(",")
    return f"""{body.replace("WITH pairs", "WITH RECURSIVE pairs", 1)},
reach AS (
  SELECT vec_id AS node, vec_id AS r FROM embeddings
  UNION
  SELECT reach.node, edges.dst AS r
  FROM reach JOIN edges ON reach.r = edges.src
),
cc AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node),
pr_r AS (
  SELECT id AS vec_id,
         (floor(pr * 100000000.0 + 0.5000010) / 100000000.0) AS pr
  FROM pr{iters}
),
ranked AS (
  SELECT cc.cluster_id, cc.vec_id, pr_r.pr,
         row_number() OVER (
           PARTITION BY cc.cluster_id
           ORDER BY pr_r.pr DESC, cc.vec_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
  FROM cc JOIN pr_r USING (vec_id)
)
SELECT cluster_id, vec_id AS canonical_id, pr, n_members
FROM ranked WHERE rn = 1"""


def _simhash_sql() -> str:
    toks = _TOKS.format(col="text")
    return f"""
WITH t AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*)::BIGINT AS w FROM t GROUP BY 1, 2),
hashed AS (
  SELECT doc_id, w, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tf
),
bits AS (
  SELECT doc_id, r.bit,
         sum(CASE WHEN (h >> r.bit::INT) & 1 = 1 THEN w ELSE -w END) AS s
  FROM hashed, range(0, 60) AS r(bit)
  GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id"""


def _simhash_near_sql(max_hamming: int = 30) -> str:
    """Near-pair oracle on top of the simhash CTE: quarter-band
    candidate join + bit_count(xor) Hamming verify."""
    body = _simhash_sql().strip()
    return f"""
WITH sig AS ({body}),
banded AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 15)) & 32767 AS q
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS h_a,
                  bb.doc_id AS id_b, bb.simhash AS h_b
  FROM banded a
  JOIN banded bb ON a.band = bb.band AND a.q = bb.q AND a.doc_id < bb.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}"""


def _link_filter_sql() -> str:
    """F7 oracle over the same literal fixture Spark builds with
    createDataFrame (host/scheme via regex — fixture URLs have no
    ports/userinfo, so regex host == parse_url host)."""
    values = ",\n    ".join(
        f"('{sid}', '{pu}', '{l}', {pd_}, {md})" for sid, pu, l, pd_, md in _LINK_FIXTURE
    )
    host_re = "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:]+)'"
    return f"""
WITH links(source_id, page_url, link, parent_depth, max_depth) AS (VALUES
    {values}
),
norm AS (
  SELECT source_id,
         regexp_replace(link, '#.*$', '') AS url,
         parent_depth,
         CASE WHEN page_url LIKE '%llms.txt' THEN max_depth + 1 ELSE max_depth END AS eff_max,
         lower(regexp_extract(link, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) AS scheme,
         regexp_extract(link, {host_re}, 1) AS lhost,
         regexp_extract(page_url, {host_re}, 1) AS phost
  FROM links
)
SELECT DISTINCT source_id, url, 'pending' AS status,
       CAST(parent_depth + 1 AS INT) AS depth
FROM norm
WHERE parent_depth < eff_max
  AND scheme IN ('http', 'https')
  AND lhost <> '' AND lhost = phost
  AND NOT regexp_matches(url, '{_LINK_EXCLUSION}')"""


def _source_completion_sql() -> str:
    values = ",\n    ".join(
        f"('{sid}', '{u}', '{st}', {d})" for sid, u, st, d in _PAGE_FIXTURE
    )
    return f"""
WITH pages(source_id, url, status, depth) AS (VALUES
    {values}
),
agg AS (
  SELECT source_id,
         sum(CASE WHEN status IN ('pending', 'processing') THEN 1 ELSE 0 END) AS in_flight,
         sum(CASE WHEN status = 'failed' AND depth = 0 THEN 1 ELSE 0 END) AS seed_failed
  FROM pages GROUP BY 1
)
SELECT source_id,
       CASE WHEN seed_failed > 0 THEN 'failed'
            WHEN in_flight = 0 THEN 'completed'
            ELSE 'in_progress' END AS status
FROM agg"""


def _curate_sql(budget: int) -> str:
    """Curation-pipeline oracle: dedup + quality + per-source token
    budget, mirroring operators/curate.curate_corpus (quality formula
    identical to _quality_sql, literals cast DOUBLE for FP parity)."""
    toks = _TOKS.format(col="text")
    sw = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH dd AS (
  SELECT source, doc_id, text,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM documents
),
t AS (
  SELECT source, doc_id,
         length(text)::DOUBLE AS n,
         {toks} AS toks,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::DOUBLE AS npunct
  FROM dd WHERE rn = 1
),
r AS (
  SELECT source, doc_id, len(toks) AS n_tokens,
         CASE WHEN n >= 120 AND n <= 20000 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS length_ok,
         CASE WHEN n > 0 THEN npunct / n ELSE 0.0::DOUBLE END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN ({sw})))::DOUBLE / len(toks)
              ELSE 0.0::DOUBLE END AS sw_ratio
  FROM t
),
q AS (
  SELECT source, doc_id, n_tokens,
         (floor((0.4::DOUBLE * length_ok
               + 0.3::DOUBLE * (1.0::DOUBLE - least(1.0::DOUBLE, punct_ratio * 4.0::DOUBLE))
               + 0.3::DOUBLE * least(1.0::DOUBLE, sw_ratio * 5.0::DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS quality
  FROM r
),
c AS (
  SELECT source, doc_id, quality, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY quality DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT source, doc_id, quality, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {budget}"""


def _lsh_topk_sql(
    n_planes: int = 3,
    k: int = 10,
    dim: int = 64,
    seed: int = 11,
    n_probe_buckets: int = 1,
) -> str:
    """LSH-bucketed ANN oracle: the deterministic md5-derived +-1
    hyperplanes are inlined as literal arrays, the query bucket is
    computed in SQL from the same stored query vector, and candidates
    are scored with the standard cosine.  ``n_probe_buckets > 1``
    mirrors multi-probe exactly as operators/similarity.lsh_probe_buckets
    does: ALL 2^n_planes flip masks ranked by the summed |margin| of
    their flipped planes (ties on mask value), cheapest
    ``n_probe_buckets`` kept — so multi-bit masks are probed whenever
    they are cheaper than a single-bit flip."""
    from qurio_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes, seed)

    def plane_lit(p: list[float]) -> str:
        return "[" + ", ".join(str(float(x)) for x in p) + "]::DOUBLE[]"

    def bucket_expr(vec_sql: str) -> str:
        parts = [
            f"(CASE WHEN list_dot_product({vec_sql}, {plane_lit(pl)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, pl in enumerate(planes)
        ]
        return " + ".join(parts)

    margin_rows = " UNION ALL ".join(
        f"SELECT {i} AS bit, abs(list_dot_product(qv.v, {plane_lit(pl)})) AS a FROM qv"
        for i, pl in enumerate(planes)
    )
    probes = f"""
margins AS ({margin_rows}),
masks AS (
  SELECT r.range AS mask,
         (SELECT COALESCE(SUM(g.a), 0) FROM margins g
          WHERE ((r.range >> g.bit) & 1) = 1) AS cost
  FROM range(0, {1 << n_planes}) r),
flips AS (SELECT mask FROM masks ORDER BY cost ASC, mask ASC
          LIMIT {max(1, n_probe_buckets)}),
probes AS (
  SELECT DISTINCT xor(qb.b, flips.mask) AS b FROM qb, flips
),"""

    return f"""
WITH {_QV},
qb AS (SELECT {bucket_expr('qv.v')} AS b FROM qv),
{probes}
eb AS (
  SELECT vec_id, embedding,
         {bucket_expr('embedding::DOUBLE[]')} AS b
  FROM embeddings
),
cand AS (SELECT eb.vec_id, eb.embedding FROM eb SEMI JOIN probes USING (b)),
scores AS (
  SELECT c.vec_id,
         list_dot_product(c.embedding::DOUBLE[], qv.v) /
         (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
          sqrt(list_dot_product(qv.v, qv.v))) AS score
  FROM cand c CROSS JOIN qv
)
SELECT vec_id, (floor(score * 10000.0 + 0.5) / 10000.0) AS score
FROM scores
ORDER BY (floor(score * 1000000.0 + 0.5) / 1000000.0) DESC, vec_id
LIMIT {k}"""


def _batch_hybrid_sql(alpha: float = 0.5, k: int = 5, doc_set_only: bool = False) -> str:
    """Batch-of-queries hybrid oracle — same scoring contract as
    _hybrid_sql, generalized per query_id.  ``doc_set_only`` drops the
    score column: the pruned IVF path's candidate-set normalization
    makes scores incomparable to the dense oracle's, but its retrieved
    top-k doc set must still equal the dense top-k exactly."""
    qvalues = ", ".join(f"('{q}', '{t}', {v})" for q, t, v in _BATCH_QUERIES)
    dtoks = _TOKS.format(col="text")
    qtoks = _TOKS.format(col="query_text")
    score_col = (
        ""
        if doc_set_only
        else ",\n       (floor(score * 10000.0 + 0.5) / 10000.0) AS score"
    )
    return f"""
WITH base AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
queries(query_id, query_text, qvec_id) AS (VALUES {qvalues}),
qv AS (
  SELECT q.query_id, q.query_text, e.embedding::DOUBLE[] AS v
  FROM queries q JOIN embeddings e ON e.vec_id = q.qvec_id
),
toks AS (SELECT doc_id, unnest({dtoks}) AS term FROM base),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({dtoks})::DOUBLE AS dl FROM base),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
qterms AS (SELECT DISTINCT query_id, unnest({qtoks}) AS term FROM qv),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
bm25_raw AS (
  SELECT qterms.query_id, tf.doc_id,
         sum(
           ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * (1.2 + 1)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
         ) AS bm25
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
cand AS (
  SELECT q.query_id, b.doc_id,
         list_dot_product(b.embedding::DOUBLE[], q.v) /
         (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.v, q.v))) AS cos
  FROM base b CROSS JOIN qv q
),
scored AS (
  SELECT c.query_id, c.doc_id, coalesce(r.bm25, 0.0) AS bm25, c.cos
  FROM cand c
  LEFT JOIN bm25_raw r ON r.query_id = c.query_id AND r.doc_id = c.doc_id
),
mm AS (
  SELECT query_id, min(bm25) AS bmn, max(bm25) AS bmx,
         min(cos) AS cmn, max(cos) AS cmx
  FROM scored GROUP BY 1
),
fused AS (
  SELECT s.query_id, s.doc_id,
         {alpha} * (CASE WHEN m.cmx > m.cmn
                         THEN (s.cos - m.cmn) / (m.cmx - m.cmn) ELSE 0.0 END)
         + {1.0 - alpha} * (CASE WHEN m.bmx > m.bmn
                                 THEN (s.bm25 - m.bmn) / (m.bmx - m.bmn) ELSE 0.0 END)
         AS score
  FROM scored s JOIN mm m USING (query_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY (floor(score * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id
         ) AS rn
  FROM fused
)
SELECT query_id, doc_id{score_col}
FROM ranked WHERE rn <= {k}"""


def _sitemap_sql() -> str:
    values = ",\n    ".join(
        f"('{sid}', '{b}', '{x}')" for sid, b, x in _SITEMAP_FIXTURE
    )
    host = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:]+)"
    return f"""
WITH sitemaps(source_id, base_url, xml) AS (VALUES
    {values}
),
locs AS (
  SELECT source_id, base_url,
         trim(unnest(regexp_extract_all(xml, '<loc>\\s*(.*?)\\s*</loc>', 1))) AS url
  FROM sitemaps
)
SELECT DISTINCT source_id, url
FROM locs
WHERE regexp_extract(url, '{host}', 1) <> ''
  AND regexp_extract(url, '{host}', 1) = regexp_extract(base_url, '{host}', 1)"""


def _md_extract_sql() -> str:
    values = ",\n    ".join(f"('{i}', '{c}')" for i, c in _MD_FIXTURE)
    return f"""
WITH md(doc_id, content) AS (VALUES
    {values}
)
SELECT DISTINCT doc_id,
       regexp_extract(content, '(?m)^# (.+)$', 1) AS title,
       unnest(regexp_extract_all(content, '\\[[^\\]]*\\]\\(([^)]*)\\)', 1)) AS link
FROM md"""


def _doc_meta_norm_sql() -> str:
    rows = []
    for path, title, authors, created, pages, language in _META_FIXTURE:
        t = "NULL" if title is None else f"'{title}'"
        a = "[" + ", ".join(f"'{x}'" for x in authors) + "]::VARCHAR[]"
        cr = "NULL" if created is None else f"'{created}'"
        lg = "NULL" if language is None else f"'{language}'"
        rows.append(f"('{path}', {t}, {a}, {cr}, {pages}, {lg})")
    values = ",\n    ".join(rows)
    return f"""
WITH raw(path, title, authors, created, pages, language) AS (VALUES
    {values}
)
SELECT path,
       coalesce(nullif(title, ''), regexp_extract(path, '([^/]+)$', 1)) AS title,
       coalesce(array_to_string(authors, ', '), '') AS author,
       coalesce(created, '') AS created_at,
       coalesce(pages, 0) AS page_count,
       coalesce(nullif(language, ''), 'en') AS language
FROM raw"""


def _stuck_reset_sql() -> str:
    values = ",\n    ".join(
        f"('{sid}', '{u}', '{st}', {ep})" for sid, u, st, ep in _STUCK_FIXTURE
    )
    return f"""
WITH pages(source_id, url, status, updated_epoch) AS (VALUES
    {values}
)
SELECT source_id, url,
       CASE WHEN status = 'processing' AND {_STUCK_NOW} - updated_epoch > 300
            THEN 'pending' ELSE status END AS status
FROM pages"""


def _dlq_retry_sql() -> str:
    values = ",\n    ".join(
        f"('{i}', '{h}', '{p}', '{e}', {r})" for i, h, p, e, r in _DLQ_FIXTURE
    )
    return f"""
WITH jobs(id, handler, payload, error, retries) AS (VALUES
    {values}
)
SELECT id,
       CASE WHEN regexp_extract(payload, '{_TYPE_RE}', 1) = 'file'
            THEN 'ingest.task.file' ELSE 'ingest.task.web' END AS topic,
       CAST(retries + 1 AS INT) AS retries
FROM jobs
WHERE retries < 3"""


def _rerank_overlap_sql() -> str:
    term_cases = " + ".join(
        f"(CASE WHEN regexp_matches(low, '(^|[^a-z0-9]){t}([^a-z0-9]|$)')"
        " THEN 1 ELSE 0 END)"
        for t in QUERY_TEXT.split()
    )
    return f"""
WITH cand AS (
  SELECT doc_id, lower(text) AS low
  FROM documents WHERE source = 'src1'
  ORDER BY n_chars DESC, doc_id LIMIT 20
)
SELECT doc_id, CAST({term_cases} AS INT) AS rerank_score
FROM cand
ORDER BY rerank_score DESC, doc_id LIMIT 10"""


def _quantile_view_sql(
    ps=(0.5, 0.9, 0.99), lo=0.0, hi=150.0, b=30
) -> str:
    """Twin of plans/aggview.quantile_estimates over the same
    fixed-bound histogram definition: bucket counts are integer-exact
    in both engines, and the interpolation repeats the engine's
    arithmetic ORDER exactly (eff_lo + frac*(eff_hi - eff_lo), edge
    buckets interpolating against the true mn/mx) so the doubles are
    bit-identical before rounding."""
    w = (hi - lo) / b
    ctes = [
        f"""v AS (SELECT event_type, CAST(value AS DOUBLE) AS val FROM events),
st AS (SELECT event_type, min(val) AS mn, max(val) AS mx,
              count(*) AS n, count(val) AS nv
       FROM v GROUP BY 1),
cum AS (
  SELECT event_type, b, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cs
  FROM (
    SELECT event_type,
           CAST(LEAST(GREATEST(
                floor((val - CAST({lo} AS DOUBLE)) / CAST({w} AS DOUBLE)),
                0), {b - 1}) AS BIGINT) AS b,
           count(*) AS c
    FROM v WHERE val IS NOT NULL GROUP BY 1, 2
  )
)"""
    ]
    sels = []
    for p in ps:
        tag = f"{int(round(p * 100)):02d}"
        # every numeric literal casts to DOUBLE: DuckDB parses bare
        # decimals as DECIMAL and would evaluate the interpolation in
        # exact arithmetic while Spark uses IEEE doubles (the recorded
        # oracle-parity rule)
        dlo = f"CAST({lo} AS DOUBLE)"
        dhi = f"CAST({hi} AS DOUBLE)"
        dw = f"CAST({w} AS DOUBLE)"
        ctes.append(
            f"""t{tag} AS (
  SELECT event_type, mn, mx,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(ceil(CAST({p} AS DOUBLE) * nv) AS BIGINT)) AS target
  FROM st),
f{tag} AS (
  SELECT c.event_type, min(c.b) AS fidx
  FROM cum c JOIN t{tag} t ON t.event_type = c.event_type
  WHERE c.cs >= t.target GROUP BY 1),
e{tag} AS (
  SELECT f.event_type,
         (CASE WHEN f.fidx = 0 THEN LEAST(t.mn, {dlo})
               ELSE {dlo} + f.fidx * {dw} END)
         + ((t.target - (c.cs - c.c)) / c.c)
           * ((CASE WHEN f.fidx = {b - 1} THEN GREATEST(t.mx, {dhi})
                    ELSE {dlo} + (f.fidx + 1) * {dw} END)
              - (CASE WHEN f.fidx = 0 THEN LEAST(t.mn, {dlo})
                      ELSE {dlo} + f.fidx * {dw} END)) AS raw,
         t.mn, t.mx
  FROM f{tag} f
  JOIN cum c ON c.event_type = f.event_type AND c.b = f.fidx
  JOIN t{tag} t ON t.event_type = f.event_type)"""
        )
        sels.append(
            f"(floor(LEAST(GREATEST(e{tag}.raw, e{tag}.mn), e{tag}.mx)"
            f" * 100.0 + 0.5) / 100.0) AS p{tag}"
        )
    joins = "".join(
        f"\nJOIN e{int(round(p * 100)):02d}"
        f" ON e{int(round(p * 100)):02d}.event_type = st.event_type"
        for p in ps
    )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\nSELECT st.event_type, st.n, "
        + ", ".join(sels)
        + f"\nFROM st{joins}"
    )


# Shared CCNet bigram-LM scoring SQL: (doc_id, n_bigrams,
# cost_millinats) in exact integer milli-nats — used verbatim by
# lm_quality and as the base CTE of lm_buckets.
_LM_SCORE_SQL = f"""
WITH d AS (
  SELECT doc_id, {_TOKS.format(col='text')} AS toks FROM documents),
tr AS (SELECT * FROM d WHERE doc_id % 5 = 0),
uc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY w),
voc AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk FROM uc)
  WHERE rk <= 512),
vsz AS (SELECT count(*) + 1 AS v FROM voc),
uni AS (
  SELECT coalesce(voc.w, '<unk>') AS w1m, count(*) AS c1
  FROM (SELECT unnest(toks) AS w FROM tr) t
  LEFT JOIN voc ON t.w = voc.w GROUP BY 1),
trb AS (
  SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
  FROM tr, unnest(range(0, greatest(len(toks) - 1, 0))) AS u(i)),
bi AS (
  SELECT coalesce(v1.w, '<unk>') AS w1m, coalesce(v2.w, '<unk>') AS w2m,
         count(*) AS c2
  FROM trb LEFT JOIN voc v1 ON trb.w1 = v1.w
           LEFT JOIN voc v2 ON trb.w2 = v2.w
  GROUP BY 1, 2),
db AS (
  SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
  FROM d, unnest(range(0, greatest(len(toks) - 1, 0))) AS u(i)),
dm AS (
  SELECT doc_id, coalesce(v1.w, '<unk>') AS w1m, coalesce(v2.w, '<unk>') AS w2m
  FROM db LEFT JOIN voc v1 ON db.w1 = v1.w
          LEFT JOIN voc v2 ON db.w2 = v2.w),
costs AS (
  SELECT doc_id,
         CAST(floor(1000.0 * (ln(coalesce(uni.c1, 0) + (SELECT v FROM vsz))
                              - ln(coalesce(bi.c2, 0) + 1))) AS BIGINT) AS cost
  FROM dm
  LEFT JOIN bi ON dm.w1m = bi.w1m AND dm.w2m = bi.w2m
  LEFT JOIN uni ON dm.w1m = uni.w1m),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(cost) AS BIGINT) AS cost_millinats
  FROM costs GROUP BY doc_id)
SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
       coalesce(agg.cost_millinats, 0) AS cost_millinats
FROM d LEFT JOIN agg USING (doc_id)"""


def oracle_sql() -> dict[str, str]:
    return {
        "quantile_view": _quantile_view_sql(),
        # pages = per-source doc concat + a shared banner line; the
        # banner (count 21 > 1) drops from every page, all other
        # lines are corpus-unique and survive in order
        "line_dedup": """
WITH banner AS (
  SELECT text FROM documents
  WHERE doc_id = (SELECT max(doc_id) FROM documents)
),
pages AS (
  SELECT source,
         (SELECT text FROM banner) || chr(10)
           || string_agg(text, chr(10) ORDER BY doc_id) AS text
  FROM documents GROUP BY source
),
l AS (
  SELECT source, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
  FROM (SELECT source, string_split(text, chr(10)) AS ls FROM pages)
),
counts AS (SELECT trim(line) AS tl, count(*) AS c FROM l GROUP BY 1),
kept AS (
  SELECT l.source, l.pos, l.line
  FROM l JOIN counts ON trim(l.line) = counts.tl
  WHERE counts.c <= 1
),
tot AS (SELECT source, count(*) AS n_lines FROM l GROUP BY 1),
reb AS (
  SELECT source, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY source
)
SELECT reb.source, n_kept, (n_lines - n_kept) AS n_removed,
       md5(text_clean) AS clean_hash
FROM reb JOIN tot USING (source)""",
        "resize_targets": resize_targets_sql(),
        "audio_features": audio_features_sql(),
        "events_asof_attribution": events_asof_attribution_sql(),
        "events_asof_recovery": events_asof_recovery_sql(),
        "events_range_proximity": events_range_proximity_sql(),
        "events_range_left": events_range_left_sql(),
        "source_list": """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source""",
        # the CRUD outcome is fully determined by documents.source:
        # every distinct source created once (dups rejected), src2
        # soft-deleted, src1 status-merged to completed
        "catalog_crud": """
SELECT source AS name, 'https://' || source || '.example' AS url,
       CASE WHEN source = 'src1' THEN 'completed' ELSE 'in_progress' END AS status
FROM (SELECT DISTINCT source FROM documents)
WHERE source <> 'src2'""",
        "filter_equality": """
SELECT doc_id, source, lang, n_chars FROM documents
WHERE lang = 'en' AND source = 'src1'""",
        "filter_offset": """
SELECT event_id, user_id, (floor((value) * 10000.0 + 0.5) / 10000.0) AS value FROM events
WHERE event_type = 'click' ORDER BY event_id LIMIT 100 OFFSET 50""",
        "count_global": "SELECT count(*) AS n FROM documents",
        "count_filtered": "SELECT count(*) AS n FROM documents WHERE source = 'src3'",
        "stats_fanin": """
SELECT (SELECT count(DISTINCT source) FROM documents) AS n_sources,
       (SELECT count(*) FROM documents) AS n_documents,
       (SELECT count(*) FROM events) AS n_events""",
        "dedup_anti_join": """
SELECT d.doc_id FROM documents d
WHERE d.doc_id >= 100 AND NOT EXISTS (
  SELECT 1 FROM documents e
  WHERE e.doc_id < 100 AND sha256(e.text) = sha256(d.text))""",
        "read_page": """
SELECT source AS page, count(*) AS n_chunks,
       string_agg(text, '\n\n' ORDER BY doc_id) AS full_text
FROM documents GROUP BY source""",
        # segmented-index scoring is score-identical to a monolithic
        # build (additive df/N/sumdl partials), so it shares the
        # full-corpus oracle
        "bm25_incremental": f"""
WITH {_bm25_cte()}
SELECT doc_id, (floor((bm25) * 10000.0 + 0.5) / 10000.0) AS bm25 FROM bm25_scores
WHERE bm25 > 0
ORDER BY (floor((bm25) * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id LIMIT 10""",
        "bm25_topk": f"""
WITH {_bm25_cte()}
SELECT doc_id, (floor((bm25) * 10000.0 + 0.5) / 10000.0) AS bm25 FROM bm25_scores
WHERE bm25 > 0
ORDER BY (floor((bm25) * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id LIMIT 10""",
        # identical oracle to bm25_topk on purpose: MaxScore/WAND
        # pruning is LOSSLESS for top-k — the pruned path must
        # reproduce the exhaustive scorer's top-10 exactly
        "bm25_maxscore": f"""
WITH {_bm25_cte()}
SELECT doc_id, (floor((bm25) * 10000.0 + 0.5) / 10000.0) AS bm25 FROM bm25_scores
WHERE bm25 > 0
ORDER BY (floor((bm25) * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id LIMIT 10""",
        # identical oracle to bm25_topk on purpose: Block-Max pruning
        # (per-(term, doc-block) bounds) is LOSSLESS for top-k — the
        # block-pruned path must reproduce the exhaustive top-10
        "bm25_blockmax": f"""
WITH {_bm25_cte()}
SELECT doc_id, (floor((bm25) * 10000.0 + 0.5) / 10000.0) AS bm25 FROM bm25_scores
WHERE bm25 > 0
ORDER BY (floor((bm25) * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id LIMIT 10""",
        # identical oracle to bm25_topk on purpose: the persisted-index
        # path must reproduce the in-DAG build's scores exactly
        "bm25_prebuilt": f"""
WITH {_bm25_cte()}
SELECT doc_id, (floor((bm25) * 10000.0 + 0.5) / 10000.0) AS bm25 FROM bm25_scores
WHERE bm25 > 0
ORDER BY (floor((bm25) * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id LIMIT 10""",
        # exact-dot oracle is valid for the approximate PQ pipeline
        # because the committed config's shortlist recall is 1.0 and
        # its refine stage is exact (pinned in tests/test_pq.py)
        "ann_pq": f"""
WITH {_QV}
SELECT vec_id,
       (floor((list_dot_product(embedding::DOUBLE[], qv.v)) * 10000.0 + 0.5)
         / 10000.0) AS score
FROM embeddings CROSS JOIN qv
ORDER BY (floor((list_dot_product(embedding::DOUBLE[], qv.v)) * 1000000.0
          + 0.5) / 1000000.0) DESC, vec_id LIMIT 10""",
        "vector_topk": f"""
WITH {_QV}
SELECT vec_id, (floor(({_COS}) * 10000.0 + 0.5) / 10000.0) AS score
FROM embeddings CROSS JOIN qv
ORDER BY (floor(({_COS}) * 1000000.0 + 0.5) / 1000000.0) DESC, vec_id LIMIT 10""",
        "hybrid_topk": _hybrid_sql(alpha=0.5, k=10),
        # batch PQ ANN == per-query exact dot top-10 (sublinear
        # shortlist holds recall 1.0, same law as ann_pq)
        "batch_ann_pq": """
WITH q(query_id, qvec_id) AS (VALUES ('q1', 0), ('q2', 1), ('q3', 2)),
qv AS (
  SELECT query_id, embedding::DOUBLE[] AS qvec
  FROM q JOIN embeddings ON vec_id = qvec_id
),
scored AS (
  SELECT qv.query_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], qv.qvec) AS s
  FROM embeddings e CROSS JOIN qv
),
ranked AS (
  SELECT query_id, vec_id,
         (floor(s * 10000.0 + 0.5) / 10000.0) AS score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY (floor(s * 1000000.0 + 0.5) / 1000000.0) DESC, vec_id
         ) AS rn
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10""",
        "hybrid_rrf": f"""
WITH base AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
{_QV},
{_bm25_cte(base="base")},
cos_scores AS (
  SELECT b.doc_id, {_COS} AS cos FROM base b CROSS JOIN qv
),
b AS (
  SELECT doc_id, rb FROM (
    SELECT doc_id,
           row_number() OVER (
             ORDER BY (floor(bm25 * 1000000.0 + 0.5) / 1000000.0) DESC,
                      doc_id ASC) AS rb
    FROM bm25_scores WHERE bm25 > 0
  ) WHERE rb <= 100
),
v AS (
  SELECT doc_id, rv FROM (
    SELECT doc_id,
           row_number() OVER (
             ORDER BY (floor(cos * 1000000.0 + 0.5) / 1000000.0) DESC,
                      doc_id ASC) AS rv
    FROM cos_scores
  ) WHERE rv <= 100
),
f AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         coalesce(1.0 / (60 + rb), 0.0) + coalesce(1.0 / (60 + rv), 0.0)
           AS score
  FROM b FULL OUTER JOIN v ON b.doc_id = v.doc_id
)
SELECT doc_id, (floor(score * 1000000.0 + 0.5) / 1000000.0) AS score
FROM f
ORDER BY (floor(score * 1000000.0 + 0.5) / 1000000.0) DESC, doc_id
LIMIT 10""",
        "hybrid_filtered": _hybrid_sql(alpha=0.3, k=5, lang_filter="en"),
        "batch_hybrid": _batch_hybrid_sql(alpha=0.5, k=5),
        # doc-set oracle: the pruned IVF path normalizes over its
        # candidate set (scores not dense-comparable), but the
        # RETRIEVED top-k doc set must equal the dense oracle's exactly
        # (recall 1 at this sf with nprobe=3 of 8 clusters)
        "batch_hybrid_ivf": _batch_hybrid_sql(alpha=0.5, k=5, doc_set_only=True),
        "lsh_topk": _lsh_topk_sql(n_planes=3, k=10),
        # identical semantics by construction: the persisted index only
        # moves the bucket computation to write time
        "lsh_prebuilt": _lsh_topk_sql(n_planes=3, k=10),
        "lsh_multiprobe": _lsh_topk_sql(n_planes=3, k=10, n_probe_buckets=2),
        "ann_ivf": f"""
WITH {_QV}
SELECT vec_id, (floor(({_COS}) * 10000.0 + 0.5) / 10000.0) AS score
FROM embeddings CROSS JOIN qv
WHERE label = (SELECT label FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
ORDER BY (floor(({_COS}) * 1000000.0 + 0.5) / 1000000.0) DESC, vec_id LIMIT 10""",
        # IVF x PQ: probe = the query vector's own coarse label (same
        # contract as ann_ivf), and within the probed partition the
        # adaptive ADC shortlist + exact refine make the result the
        # exact dot top-10 of that partition (recall 1.0 pinned in
        # tests/test_pq.py, gated by the ann_ivfpq_recall bench extra)
        "ann_ivfpq": f"""
WITH {_QV}
SELECT vec_id,
       (floor((list_dot_product(embedding::DOUBLE[], qv.v)) * 10000.0 + 0.5)
         / 10000.0) AS score
FROM embeddings CROSS JOIN qv
WHERE label = (SELECT label FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
ORDER BY (floor((list_dot_product(embedding::DOUBLE[], qv.v)) * 1000000.0
          + 0.5) / 1000000.0) DESC, vec_id LIMIT 10""",
        "keyword_extract": f"""
WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * ln(n.n / CAST(df.df AS DOUBLE)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
r AS (
  SELECT doc_id, term, score,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY (floor(score * 1000000.0 + 0.5) / 1000000.0) DESC, term
         ) AS rank
  FROM s
)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
       (floor(score * 10000.0 + 0.5) / 10000.0) AS tfidf
FROM r WHERE rank <= 3""",
        "decontaminate": f"""
WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(toks) - 4, 0) + 1),
                i -> array_to_string(toks[i + 1:i + 4], ' '))) AS shingle
  FROM t
),
shc AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
b AS (SELECT DISTINCT shingle FROM shc WHERE doc_id % 100 = 7)
SELECT s.doc_id, count(*) AS n_shared_shingles
FROM (SELECT * FROM shc WHERE doc_id % 100 <> 7) s
JOIN b USING (shingle)
GROUP BY 1""",
        "token_counts": f"""
SELECT doc_id,
       len({_TOKS.format(col='text')}) AS n_tokens,
       len(regexp_extract_all(text, '{BPEISH_RE_SQL}')) AS n_bpeish_tokens,
       len(list_distinct({_TOKS.format(col='text')})) AS n_distinct_tokens
FROM documents""",
        "quality_scores": _quality_sql(),
        "gopher_rules": f"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
           AS words,
         list_filter(regexp_split_to_array(text, '\\n'),
                     l -> trim(l) <> '') AS lines,
         {_TOKS.format(col='text')} AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         coalesce(list_aggregate(list_transform(words, x -> length(x)),
                                 'sum'), 0)::DOUBLE AS sum_len,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           AS n_alpha,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
         len(lines) AS n_lines,
         len(list_filter(lines,
             l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS n_bullet,
         len(list_filter(lines,
             l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS n_ell,
         len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM w
),
fl AS (
  SELECT doc_id,
         (n_words >= 50 AND n_words <= 100000)::INT AS r_word_count,
         (CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END
            BETWEEN 3.0 AND 10.0)::INT AS r_mean_word_len,
         (CASE WHEN n_words > 0 THEN n_sym / n_words <= 0.1
               ELSE FALSE END)::INT AS r_symbol_ratio,
         (CASE WHEN n_lines > 0 THEN n_bullet / n_lines <= 0.9
               ELSE TRUE END)::INT AS r_bullet_lines,
         (CASE WHEN n_lines > 0 THEN n_ell / n_lines <= 0.3
               ELSE TRUE END)::INT AS r_ellipsis_lines,
         (CASE WHEN n_words > 0 THEN n_alpha / n_words >= 0.8
               ELSE FALSE END)::INT AS r_alpha_words,
         (n_stop >= 2)::INT AS r_stopwords
  FROM m
)
SELECT doc_id, r_word_count, r_mean_word_len, r_symbol_ratio,
       r_bullet_lines, r_ellipsis_lines, r_alpha_words, r_stopwords,
       (r_word_count * r_mean_word_len * r_symbol_ratio * r_bullet_lines
        * r_ellipsis_lines * r_alpha_words * r_stopwords) AS gopher_pass
FROM fl""",
        "lang_id": _lang_id_sql(),
        "fingerprints": """
SELECT doc_id,
       sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents""",
        "repetition": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(col='text')} AS toks FROM documents
), b AS (
  SELECT doc_id, toks,
         list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                        i -> concat_ws(' ', toks[i], toks[i+1])) AS bigrams
  FROM t
)
SELECT doc_id,
  -- IS NULL arms: a NULL text row must yield 0.0 like Spark's
  -- when(size > 0, ...).otherwise(0.0), not propagate NULL
  CASE WHEN toks IS NULL OR len(toks) = 0 THEN 0.0
       ELSE floor(len(list_distinct(toks)) * 1.0 / len(toks) * 10000.0 + 0.5)
            / 10000.0 END AS distinct_word_ratio,
  CASE WHEN bigrams IS NULL OR len(bigrams) = 0 THEN 0.0
       ELSE floor((1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams))
                  * 10000.0 + 0.5) / 10000.0 END AS dup_2gram_frac
FROM b""",
        "word_concentration": f"""
WITH words AS (
  SELECT doc_id, unnest({_TOKS.format(col='text')}) AS word FROM documents
), counts AS (
  SELECT doc_id, word, count(*) AS n FROM words GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, word, n,
         sum(n) OVER (PARTITION BY doc_id) AS total,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, word) AS rn
  FROM counts
)
SELECT doc_id, word AS top_word,
       floor(n * 1.0 / total * 10000.0 + 0.5) / 10000.0 AS top_word_frac
FROM ranked WHERE rn = 1""",
        "pii_redact": _pii_sql(),
        "exact_dedup": """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
r AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM u
)
SELECT doc_id FROM r WHERE rn = 1""",
        "minhash": _minhash_sql(4),
        # threshold-1.0 streaming near-dup gate == min id per 4-perm
        # signature class (see q_streaming_near_dedup's docstring for
        # why the replay's greedy suppression equals the global min)
        "streaming_near_dedup": f"""
SELECT doc_id FROM (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY mh0, mh1, mh2, mh3) AS cmin
  FROM ({_minhash_sql(4)}) sigs
) t WHERE doc_id = cmin""",
        "minhash_lsh": _minhash_lsh_sql(0.5),
        "pagerank_centrality": _pagerank_sql(iters=3, damping=0.85),
        "canonical_docs": _canonical_docs_sql(iters=3, damping=0.85),
        "ngram_jaccard": _ngram_jaccard_sql(0.1),
        "ngram_jaccard_capped": _ngram_jaccard_sql(0.1, max_df=3),
        "simhash": _simhash_sql(),
        "simhash_near": _simhash_near_sql(30),
        "embedding_near_dup": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       (floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))) * 10000.0 + 0.5) / 10000.0) AS sim
FROM embeddings a JOIN embeddings b USING (label)
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) > 0.3""",
        # connected components as a recursive transitive closure: the
        # min reachable id per node IS the converged label-propagation
        # result, so the iterative Spark loop hash-matches it
        "near_dup_clusters": """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b USING (label)
  WHERE a.vec_id < b.vec_id
    AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) > 0.35
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT vec_id AS node, vec_id AS r FROM embeddings
  UNION
  SELECT reach.node, edges.dst AS r
  FROM reach JOIN edges ON reach.r = edges.src
)
SELECT node AS vec_id, min(r) AS cluster_id
FROM reach GROUP BY node""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, (floor((CAST(sum(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS total_value
FROM events GROUP BY 1, 2""",
        # the incremental view's two-batch refresh must equal the
        # one-shot aggregation (mergeable-state contract); avg derives
        # from the states at read time
        "incremental_hourly": """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_key,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_key,
       event_type,
       count(*) AS n,
       (floor((CAST(sum(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0)
         AS total_value,
       (floor((CAST(sum(value) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0)
         AS avg_value,
       (floor((CAST(min(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0)
         AS min_value,
       (floor((CAST(max(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0)
         AS max_value
FROM events GROUP BY 1, 2, 3""",
        # cascade (hourly states re-aggregated to days) == direct
        # daily aggregation; 0.5 + 1e-6 = boundary-tolerant round
        # (summation order differs between the two shapes)
        "rollup_daily": """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_key,
       event_type,
       count(*) AS n,
       (floor((CAST(sum(value) AS DOUBLE)) * 100.0 + 0.500001) / 100.0)
         AS total_value,
       (floor((CAST(sum(value) AS DOUBLE) / count(*)) * 100.0 + 0.500001)
         / 100.0) AS avg_value,
       (floor((CAST(min(value) AS DOUBLE)) * 100.0 + 0.500001) / 100.0)
         AS min_value,
       (floor((CAST(max(value) AS DOUBLE)) * 100.0 + 0.500001) / 100.0)
         AS max_value
FROM events GROUP BY 1, 2""",
        # streaming twin: complete-mode windowed agg == the batch query
        "streaming_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, (floor((CAST(sum(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS total_value
FROM events GROUP BY 1, 2""",
        "streaming_join": """
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts
  FROM events WHERE event_type = 'view'
),
pairs AS (
  SELECT p.user_id, p.p_id, p.p_value
  FROM p JOIN v
    ON p.user_id = v.v_user
   AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
   AND v.v_ts <= p.p_ts
)
SELECT user_id, count(*) AS n_pairs,
       count(DISTINCT p_id) AS n_purchases_with_view,
       (CAST(sum(CAST(floor(p_value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0) AS pair_value
FROM pairs GROUP BY user_id""",
        "merge_orders": """
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         (floor((CAST(o_totalprice AS DOUBLE)) * 1.1 * 100.0 + 0.5) / 100.0)
           AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
),
merged AS (
  SELECT * FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL
  SELECT * FROM upd
)
SELECT o_orderpriority, count(*) AS n,
       (floor((CAST(sum(o_totalprice) AS DOUBLE)) * 100.0 + 0.5) / 100.0)
         AS total_price,
       CAST(sum(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inserted
FROM merged GROUP BY o_orderpriority""",
        "events_top_users": """
WITH c AS (
  SELECT event_type, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, user_id, n,
         row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rank
  FROM c
)
SELECT event_type, user_id, n, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3""",
        "events_json": """
SELECT event_type, count(*) AS n,
       (floor((avg(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT))) * 10000.0 + 0.5) / 10000.0) AS avg_k
FROM events GROUP BY event_type""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       (floor((CAST(sum(l_quantity) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS sum_qty,
       (floor((CAST(sum(l_extendedprice) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS sum_base_price,
       (floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS sum_disc_price,
       (floor((CAST(avg(l_quantity) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS avg_qty,
       (floor((CAST(avg(l_discount) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "tpch_q3": """
SELECT o_orderkey, o_orderdate,
       (floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        "tpch_q5": """
SELECT n_name,
       (floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE s_nationkey = c_nationkey
GROUP BY n_name""",
        "top_customers": """
SELECT c_custkey, c_name,
       (floor((CAST(sum(o_totalprice) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS total_spent,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey LIMIT 10""",
        "tpch_q6": """
SELECT (floor((CAST(sum(l_extendedprice * l_discount) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
        "curate": _curate_sql(800),
        "events_pivot": """
SELECT user_id,
       """ + ",\n       ".join(
        f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS {t}"
        for t in _EVENT_TYPES
    ) + """
FROM events GROUP BY user_id""",
        "events_setops": """
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT user_id, 'click_only' AS cohort
FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
UNION ALL
SELECT user_id, 'click_and_buy' AS cohort
FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)""",
        "value_percentiles": """
SELECT event_type,
       (floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0) AS p50,
       (floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0) AS p90
FROM events GROUP BY event_type""",
        "revenue_rollup": """
SELECT coalesce(n_name, 'ALL') AS n_name,
       coalesce(year(o_orderdate), -1) AS o_year,
       (floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, year(o_orderdate))""",
        "events_histogram": """
WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
x AS (
  SELECT least(CAST(floor((value - b.lo) / ((b.hi - b.lo) / 10)) AS INT),
               9) AS bin,
         value
  FROM events CROSS JOIN b
)
SELECT bin, count(*) AS n,
       (floor((CAST(min(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS bin_min,
       (floor((CAST(max(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS bin_max
FROM x GROUP BY bin""",
        "events_unpivot": """
WITH u AS (SELECT DISTINCT user_id FROM events),
t(event_type) AS (VALUES ('click'), ('view'), ('purchase'),
                         ('signup'), ('error')),
c AS (SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT u.user_id, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM u CROSS JOIN t
LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type""",
        "events_cube": """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(hour(ts), -1) AS hr,
       count(*) AS n,
       (floor((CAST(sum(value) AS DOUBLE)) * 100.0 + 0.5) / 100.0)
         AS total_value
FROM events
GROUP BY CUBE (event_type, hour(ts))""",
        "events_moving_avg": """
SELECT user_id, event_id,
       (floor((avg(value) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) * 10000.0 + 0.5) / 10000.0) AS mavg
FROM events""",
        "first_order_per_customer": """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
       (floor((CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS first_totalprice
FROM ranked WHERE rn = 1""",
        "link_filter_chain": _link_filter_sql(),
        "source_completion": _source_completion_sql(),
        "events_sessions": """
WITH g AS (
  SELECT user_id, event_id, value,
         CASE WHEN (epoch_ms(ts::TIMESTAMP) // 1000)
                   - lag(epoch_ms(ts::TIMESTAMP) // 1000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session,
         ts
  FROM events
),
s AS (
  SELECT user_id, value,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
),
per_session AS (
  SELECT user_id, session_seq, count(*) AS n_events,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS session_cents
  FROM s GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       (CAST(sum(session_cents) AS DOUBLE) / 100.0) AS total_value
FROM per_session GROUP BY user_id""",
        # evicting sessionizer: closed = non-final sessions (inline)
        # UNION final sessions whose end + gap < final watermark
        # (max ts - 10s delay), all in ms like the stream's timeouts
        "streaming_sessions_final": """
WITH g AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN (epoch_ms(ts::TIMESTAMP) // 1000)
                   - lag(epoch_ms(ts::TIMESTAMP) // 1000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, value, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
),
per_session AS (
  SELECT user_id, session_seq, count(*) AS n_events,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS session_cents,
         max(epoch_ms(ts::TIMESTAMP)) AS end_ms,
         max(session_seq) OVER (PARTITION BY user_id) AS last_seq
  FROM s GROUP BY user_id, session_seq
),
wm AS (SELECT max(epoch_ms(ts::TIMESTAMP)) - 10000 AS wm_ms FROM events),
closed AS (
  SELECT * FROM per_session, wm
  WHERE session_seq < last_seq OR end_ms + 1800000 < wm_ms
)
SELECT user_id, count(*) AS n_closed,
       CAST(sum(n_events) AS BIGINT) AS closed_events,
       max(end_ms) AS last_closed_ms,
       (CAST(sum(session_cents) AS DOUBLE) / 100.0) AS closed_value
FROM closed GROUP BY user_id""",
        "sitemap_urls": _sitemap_sql(),
        "md_extract": _md_extract_sql(),
        "content_hash": """
SELECT doc_id,
       sha256('doc://' || CAST(doc_id AS VARCHAR)) AS url_hash,
       sha256(text) AS body_hash
FROM documents""",
        "doc_meta_norm": _doc_meta_norm_sql(),
        "reingest_upsert": """
SELECT doc_id, source, sha256(text) AS body_hash
FROM documents WHERE source <> 'src2'
UNION ALL
SELECT doc_id, source, sha256(text || '-v2') AS body_hash
FROM documents WHERE source = 'src2'""",
        "reingest_skip_unchanged": """
SELECT doc_id, source, sha256(text) AS body_hash, 'kept' AS action
FROM documents WHERE source NOT IN ('src2', 'src3')
UNION ALL
SELECT doc_id, source, sha256(text) AS body_hash, 'skipped_unchanged' AS action
FROM documents WHERE source = 'src3'
UNION ALL
SELECT doc_id, source, sha256(text || '-v2') AS body_hash, 'rewritten' AS action
FROM documents WHERE source = 'src2'""",
        # final persisted state (chunks JOIN ledger) after two real
        # micro-batches: p0..p19 rewritten, p20..p39 hash-skipped
        # (original bodies survive), p40..p49 new in batch 2
        "streaming_ingest": """
WITH base AS (SELECT doc_id, source FROM documents WHERE doc_id < 50),
final AS (
  SELECT 'https://ex.com/p' || doc_id AS url,
         source AS source_id,
         0 AS chunk_index,
         CASE WHEN doc_id < 20
              THEN 'Doc ' || doc_id || ' alpha beta gamma delta. updated'
              ELSE 'Doc ' || doc_id || ' alpha beta gamma delta.' END AS content,
         'Page ' || doc_id AS title
  FROM base
)
SELECT url, source_id, chunk_index, content, title,
       sha256(content) AS body_hash
FROM final""",
        "stuck_reset": _stuck_reset_sql(),
        "dlq_retry": _dlq_retry_sql(),
        "rerank_overlap": _rerank_overlap_sql(),
        "tpch_q4": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority""",
        "tpch_q7": """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3""",
        "tpch_q8": """
SELECT year(o_orderdate) AS o_year,
       (floor((sum(CASE WHEN ns.n_name = 'NATION_2'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
               / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5)
        / 10000.0) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN region   ON nc.n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1""",
        "tpch_q9": """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       (floor((sum(l_extendedprice * (1 - l_discount)
                   - 0.8 * p_retailprice * l_quantity)) * 100.0 + 0.5)
        / 100.0) AS sum_profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2""",
        # the bloom pre-filter only drops rows the join would drop
        # anyway (false positives re-join), so the plain semi-join IS
        # the oracle
        "bloom_semi_join": """
SELECT l_returnflag, count(*) AS n_items,
       (floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 494000.0
)
GROUP BY l_returnflag""",
        # data-skipping contract: pruned scan == plain BETWEEN
        # compaction is rows-byte-equal: the oracle is the plain
        # full-table aggregation
        "snap_compact": """
SELECT o_orderpriority, count(*) AS n_orders,
       (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS revenue
FROM orders GROUP BY 1""",
        # the DLQ split's quarantined side == the complement-predicate
        # SELECT, tags built with the same gate order (concat_ws skips
        # the NULL CASE arms in DuckDB like array_join over the
        # conditional-concat array in Spark)
        "snap_quarantine": """
SELECT event_id, event_type,
       (floor((value) * 100.0 + 0.5) / 100.0) AS value_r,
       concat_ws(',',
         CASE WHEN NOT (value < 400) THEN 'value_small' END,
         CASE WHEN NOT (event_type <> 'error') THEN 'not_error' END
       ) AS violated
FROM events
WHERE NOT (value < 400) OR NOT (event_type <> 'error')""",
        "snap_scan": """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
SELECT o_orderpriority, count(*) AS n_orders,
       (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM orders, m
WHERE o_orderkey > mx // 3 AND o_orderkey <= 2 * mx // 3
GROUP BY o_orderpriority""",
        # bloom pruning changes only WHICH files the point lookup
        # reads; the residual hash equality keeps the result exact
        "snap_bloom": """
WITH probe AS (
  SELECT sha256(text) AS h FROM documents
  WHERE doc_id = (SELECT max(doc_id) FROM documents)
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d, probe p
WHERE sha256(d.text) = p.h
ORDER BY d.doc_id""",
        # z-ordered layout changes only WHICH files a scan reads —
        # the residual filter makes the box predicate exact
        "snap_zorder": """
WITH m AS (SELECT max(o_custkey) AS mxc FROM orders)
SELECT o_orderpriority, count(*) AS n_orders,
       (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM orders, m
WHERE o_custkey >= mxc // 4 AND o_custkey <= mxc // 2
  AND o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
GROUP BY o_orderpriority""",
        # MERGE = CASE-rewrite the matched decile + UNION the inserted
        # rows; UPDATE = CASE-bump the mid band — same mutations the
        # snapshot DML commits file-granularly
        "snap_merge": """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey <= mx // 10 THEN 'U'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey <= mx // 10
              THEN CAST(o_totalprice AS DOUBLE) * 2
              ELSE CAST(o_totalprice AS DOUBLE) END AS p
  FROM orders, m
  UNION ALL
  SELECT mx + s, 'N', CAST(1000.0 AS DOUBLE)
  FROM m, generate_series(1, 100) AS g(s)
),
upd AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey > mx // 2 AND o_orderkey <= (3 * mx) // 4
              THEN p + 10 ELSE p END AS p
  FROM merged, m
)
SELECT o_orderstatus, count(*) AS n_orders,
       (floor(CAST(sum(p) AS DOUBLE) * 100.0 + 0.5) / 100.0) AS revenue
FROM upd GROUP BY o_orderstatus ORDER BY o_orderstatus""",
        # two stacked MOR deletes = the complement predicate; the
        # 'materialized' phase must reproduce the same aggregates
        "snap_dv": """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
surv AS (
  SELECT o_orderstatus, o_totalprice FROM orders, m
  WHERE NOT (o_orderkey > mx // 4 AND o_orderkey <= mx // 2)
    AND NOT (o_totalprice >= 150000.0)
),
a AS (
  SELECT o_orderstatus, count(*) AS n_orders,
         (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
           AS revenue
  FROM surv GROUP BY o_orderstatus
)
SELECT 'mor' AS phase, o_orderstatus, n_orders, revenue FROM a
UNION ALL
SELECT 'materialized' AS phase, o_orderstatus, n_orders, revenue FROM a""",
        # type widening: v0 reads with the narrow batch's own types;
        # the widened read must carry the narrow files' float-truncated
        # prices EXACTLY (CAST to REAL and back reproduces the bytes)
        "snap_widen": """
WITH m AS (SELECT max(o_orderkey) // 2 AS mid FROM orders),
narrow AS (
  SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey, o_orderstatus,
         CAST(o_totalprice AS REAL) AS o_totalprice
  FROM orders, m WHERE o_orderkey <= mid
),
widened AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice
  FROM orders, m WHERE o_orderkey <= mid
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders, m WHERE o_orderkey > mid
)
SELECT 'v0_narrow' AS phase, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       (floor(CAST(max(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS price_max
FROM narrow GROUP BY o_orderstatus
UNION ALL
SELECT 'widened' AS phase, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       (floor(max(o_totalprice) * 100.0 + 0.5) / 100.0) AS price_max
FROM widened GROUP BY o_orderstatus""",
        # drop column: time travel still groups by the dropped field;
        # the live read groups by a surviving one and must report
        # sees_col = 0 (computed from the actual read schema)
        "snap_dropcol": """
SELECT 'pre_drop' AS phase, o_orderpriority AS grp, 1 AS sees_col,
       count(*) AS n_orders,
       (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'post_drop' AS phase, 'status:' || o_orderstatus AS grp,
       0 AS sees_col, count(*) AS n_orders,
       (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM orders GROUP BY o_orderstatus""",
        # rename via column mapping: the live aggregation spans the
        # pre-rename (old physical name) and post-rename files; time
        # travel shows v0 = the first batch under the old name
        "snap_renamecol": """
WITH m AS (SELECT max(o_orderkey) // 2 AS mid FROM orders)
SELECT 'renamed_live' AS phase, o_orderstatus, 1 AS sees,
       count(*) AS n_orders,
       (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'pre_rename_v0' AS phase, o_orderstatus, 1 AS sees,
       count(*) AS n_orders,
       (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
         AS revenue
FROM orders, m WHERE o_orderkey <= mid GROUP BY o_orderstatus""",
        # manifest pinning contract: v0 == first batch, latest == all
        "time_travel": """
WITH m AS (SELECT max(o_orderkey) // 2 AS mid FROM orders),
v0 AS (
  SELECT count(*) AS v0_n,
         (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
           AS v0_revenue
  FROM orders, m WHERE o_orderkey <= mid
),
cur AS (
  SELECT count(*) AS n,
         (floor(CAST(sum(o_totalprice) AS DOUBLE) * 100.0 + 0.5) / 100.0)
           AS revenue
  FROM orders
)
SELECT v0_n, v0_revenue, n, revenue FROM v0 CROSS JOIN cur""",
        "tpch_q16": """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3""",
        "tpch_q11": """
WITH pv AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS value
  FROM lineitem GROUP BY 1
)
SELECT l_partkey,
       (floor(value * 100.0 + 0.5) / 100.0) AS value
FROM pv
WHERE value > 1.5 * (SELECT sum(value) / count(*) FROM pv)""",
        "tpch_q20": """
WITH lp AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
)
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT a.l_suppkey FROM lp a
  GROUP BY a.l_partkey, a.l_suppkey
  HAVING sum(a.l_quantity) > 0.5 * (SELECT sum(b.l_quantity)
                                    FROM lp b
                                    WHERE b.l_partkey = a.l_partkey))""",
        "tpch_q21": """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 365 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10""",
        "tpch_q2": """
WITH europe AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
supply AS (
  SELECT l_partkey, l_suppkey,
         (floor((min(l_extendedprice / l_quantity)) * 1000000.0 + 0.5)
          / 1000000.0) AS cost
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM europe)
  GROUP BY 1, 2
),
mn AS (SELECT l_partkey AS mpk, min(cost) AS mcost FROM supply GROUP BY 1)
SELECT (floor((s_acctbal) * 100.0 + 0.5) / 100.0) AS s_acctbal,
       s_name, n_name, p_partkey, p_brand, p_type, cost
FROM supply
JOIN mn ON l_partkey = mpk AND cost = mcost
JOIN part ON l_partkey = p_partkey
JOIN europe ON l_suppkey = s_suppkey
WHERE p_size <= 5""",
        "tpch_q15": """
WITH rev AS (
  SELECT l_suppkey,
         (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5)
          / 100.0) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
        "tpch_q17": """
WITH brand AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
),
caps AS (
  SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_cap
  FROM brand GROUP BY 1
)
SELECT (floor((coalesce(sum(l_extendedprice), 0.0) / 7.0) * 100.0 + 0.5)
        / 100.0) AS avg_yearly
FROM brand JOIN caps ON l_partkey = pk
WHERE l_quantity < qty_cap""",
        "tpch_q22": """
WITH in_scope AS (
  SELECT * FROM customer WHERE c_nationkey IN (1, 2, 3)
),
avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM in_scope WHERE c_acctbal > 0
)
SELECT n_name,
       count(*) AS numcust,
       (floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0) AS totacctbal
FROM in_scope, avg_bal
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1""",
        "tpch_q14": """
SELECT (floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'""",
        "tpch_q18": """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180
)
SELECT c_custkey, c_name, o_orderkey,
       (floor((CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS o_totalprice,
       (floor((CAST(total_qty AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey""",
        "tpch_q10": """
SELECT c_custkey, c_name, n_name,
       (floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
        "events_retention": """
WITH firsts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
offsets AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(floor(date_diff('day', f.cohort_week,
                              date_trunc('week', e.ts)) / 7.0) AS INT) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset, count(*) AS n_users
FROM offsets GROUP BY cohort_week, week_offset""",
        "cheapest_order_per_customer": """
WITH mins AS (
  SELECT o_custkey, min(o_totalprice) AS mn FROM orders GROUP BY o_custkey
),
hits AS (
  SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY o.o_custkey ORDER BY o.o_orderkey) AS rn
  FROM orders o JOIN mins m
    ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.mn
)
SELECT o_custkey AS custkey, o_orderkey AS cheapest_orderkey,
       (floor((CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS cheapest_totalprice
FROM hits WHERE rn = 1""",
        "events_funnel": """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT 'view' AS stage, count(*) AS n FROM v
UNION ALL
SELECT 'click' AS stage, count(*) AS n FROM c
UNION ALL
SELECT 'purchase' AS stage, count(*) AS n FROM p""",
        "pack_shards": f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len({_TOKS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM t
)
SELECT source, doc_id, n_tokens,
       CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard_id
FROM c""",
        "sample_mixture": f"""
SELECT doc_id, source
FROM documents
WHERE ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % {1_000_000}
      < CASE source
          WHEN 'src1' THEN {1_000_000}
          WHEN 'src2' THEN {500_000}
          WHEN 'src3' THEN {250_000}
          ELSE {100_000}
        END""",
        # the A-ES weighted-sample key is exact integer-hash math up
        # to ln(); stable_round(9) + id tie-break absorbs cross-engine
        # ulp noise like every float-ranked oracle here
        "weighted_sample": """
SELECT doc_id, n_chars, k AS sk FROM (
  SELECT doc_id, n_chars,
    (floor((ln((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
         / 1152921504606846976.0) / CAST(n_chars AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0) AS k
  FROM documents)
ORDER BY k DESC, doc_id ASC LIMIT 60""",
        "events_gapfill": """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
keys AS (SELECT DISTINCT event_type FROM events),
agg AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
               count(*) AS n, sum(value) AS v
        FROM events GROUP BY 1, 2)
SELECT k.event_type, g.bucket AS hour, coalesce(a.n, 0) AS n,
       (floor((CAST(last_value(a.v IGNORE NULLS) OVER (
            PARTITION BY k.event_type ORDER BY g.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS v_filled
FROM keys k CROSS JOIN grid g
LEFT JOIN agg a ON a.event_type = k.event_type AND a.bucket = g.bucket""",
        "stratified_sample": """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT ASC, doc_id ASC
         ) AS rk
  FROM documents
) WHERE rk <= 25""",
        "tpch_q13": """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count""",
        "tpch_q12": """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag""",
        "tpch_q19": """
SELECT (floor((CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'PROMO' AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_type = 'STANDARD' AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_size >= 40 AND l_quantity >= 20)""",
        "parts_never_shipped": """
SELECT p_brand, count(*) AS n_parts
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND l_shipdate >= TIMESTAMP '2000-06-01')
GROUP BY p_brand""",
        # Triangle census over the co-event graph; the oracle counts
        # each triangle once via the a<b<c three-way join (no
        # orientation needed at oracle scale).
        "triangle_count": """
WITH b AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
  FROM events),
hu AS (
  SELECT user_id,
         ('0x' || substring(md5('tu:' || CAST(user_id AS VARCHAR)),
                            1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT user_id FROM b)),
e AS (
  SELECT DISTINCT x.user_id AS u, y.user_id AS v
  FROM b x JOIN b y USING (event_type, h) JOIN hu ON hu.user_id = x.user_id
  WHERE x.user_id < y.user_id
    AND ((hu.h % 20) * 31 + y.user_id) % 20 = 0),
deg AS (
  SELECT x, count(*) AS d
  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
  GROUP BY 1),
tri AS (
  SELECT count(*) AS t
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT CAST(sum(d * (d - 1)) AS BIGINT) // 2 FROM deg) AS n_wedges,
       (SELECT t FROM tri) AS n_triangles,
       CASE WHEN (SELECT CAST(sum(d * (d - 1)) AS BIGINT) // 2 FROM deg) > 0
            THEN 3.0 * (SELECT t FROM tri)
                 / (SELECT CAST(sum(d * (d - 1)) AS BIGINT) // 2 FROM deg)
            END AS global_clustering""",
        # Export-sink manifest: the offset-packing rule (cumsum window
        # per source, shard = floor(start/budget)) re-derived in SQL;
        # file bytes/checksums are pytest-pinned, not SQL-visible.
        "export_shards": f"""
WITH t AS (
  SELECT source, doc_id,
         len({_TOKS.format(col='text')})::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT source, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t)
SELECT concat(source, '-', CAST(floor(start / 1000) AS INT)) AS shard,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM c GROUP BY 1""",
        # Exact duplicate-substring removal (Lee et al. ExactSubstr):
        # k=10 token grams occurring >= 2x corpus-wide; covered
        # positions dropped, docs rebuilt from surviving tokens.
        "span_dedup": f"""
WITH t AS (
  SELECT doc_id, {_TOKS.format(col='text')} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS s, array_to_string(toks[i+1:i+10], ' ') AS gram
  FROM t, unnest(range(0, greatest(len(toks) - 9, 0))) AS u(i)),
hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
fl AS (
  SELECT doc_id, list(s) AS starts
  FROM g JOIN hot USING (gram) GROUP BY doc_id),
r AS (
  SELECT t.doc_id, t.toks, coalesce(fl.starts, []) AS starts
  FROM t LEFT JOIN fl USING (doc_id)),
kept AS (
  SELECT doc_id, len(toks) AS n,
         list_filter(toks, (x, i) ->
           len(list_filter(starts,
               s -> s <= i - 1 AND i - 1 < s + 10)) = 0) AS kt
  FROM r)
SELECT doc_id, len(kt) AS n_kept, n - len(kt) AS n_removed,
       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_hash
FROM kept""",
        # k=2 symmetric-delete blocking vs the brute-force scan.
        "fuzzy_join2": """
WITH d1 AS (
  SELECT c_custkey,
         concat(substr(c_name, 1, c_custkey % length(c_name)),
                substr(c_name, c_custkey % length(c_name) + 2)) AS n1
  FROM customer WHERE c_custkey % 62 = 3),
dirty AS (
  SELECT c_custkey AS dirty_custkey,
         concat(substr(n1, 1, c_custkey % length(n1)),
                substr(n1, c_custkey % length(n1) + 2)) AS dirty_name
  FROM d1)
SELECT d.dirty_custkey, d.dirty_name,
       c.c_custkey AS clean_custkey, c.c_name AS clean_name,
       levenshtein(d.dirty_name, c.c_name) AS dist
FROM dirty d JOIN customer c ON c.c_custkey % 2 = 1
                 AND levenshtein(d.dirty_name, c.c_name) <= 2""",
        # Spark side: SymSpell symmetric-delete blocking (lossless for
        # k=1) + levenshtein verify; the oracle is the brute-force
        # quadratic scan the blocking must equal.
        "fuzzy_join": """
WITH dirty AS (
  SELECT c_custkey AS dirty_custkey,
         concat(substr(c_name, 1, c_custkey % length(c_name)),
                substr(c_name, c_custkey % length(c_name) + 2)) AS dirty_name
  FROM customer WHERE c_custkey % 7 = 3)
SELECT d.dirty_custkey, d.dirty_name,
       c.c_custkey AS clean_custkey, c.c_name AS clean_name,
       levenshtein(d.dirty_name, c.c_name) AS dist
FROM dirty d JOIN customer c ON levenshtein(d.dirty_name, c.c_name) <= 1""",
        # Fractions are exact-long divisions performed once on both
        # sides — identical IEEE doubles, no rounding needed.
        "data_quality": """
WITH m AS (
  SELECT count(*) AS n,
         count(o_custkey) AS c1, count(o_orderstatus) AS c2,
         count(DISTINCT o_orderstatus) AS d1,
         count(DISTINCT o_orderpriority) AS d2,
         min(o_totalprice) AS mn, max(o_totalprice) AS mx,
         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS s1,
         sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS s2,
         count(DISTINCT o_orderkey) AS dk
  FROM orders)
SELECT 'row_count' AS metric, '*' AS "column", CAST(n AS DOUBLE) AS value FROM m
UNION ALL SELECT 'completeness', 'o_custkey', CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE) FROM m
UNION ALL SELECT 'completeness', 'o_orderstatus', CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE) FROM m
UNION ALL SELECT 'distinct_count', 'o_orderstatus', CAST(d1 AS DOUBLE) FROM m
UNION ALL SELECT 'distinct_count', 'o_orderpriority', CAST(d2 AS DOUBLE) FROM m
UNION ALL SELECT 'min', 'o_totalprice', CAST(mn AS DOUBLE) FROM m
UNION ALL SELECT 'max', 'o_totalprice', CAST(mx AS DOUBLE) FROM m
UNION ALL SELECT 'compliance', 'o_orderstatus_domain', CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) FROM m
UNION ALL SELECT 'compliance', 'o_totalprice_positive', CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) FROM m
UNION ALL SELECT 'uniqueness', 'o_orderkey', CAST(dk AS DOUBLE) / CAST(n AS DOUBLE) FROM m""",
        # All-integer outlier test (cents * n > 3 * sum_cents) — no
        # division, so the flag cannot flip on a float boundary.
        "anomaly_events": """
WITH c AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_cents
  FROM events),
w AS (
  SELECT *, count(value_cents) OVER (PARTITION BY user_id) AS n_group,
         sum(value_cents) OVER (PARTITION BY user_id) AS s
  FROM c)
SELECT event_id, user_id, value_cents, n_group
FROM w WHERE n_group >= 20 AND value_cents * n_group > 3 * s""",
        # CCNet-shaped bigram-LM cross-entropy: capped-vocab (512)
        # add-one LM fit on doc_id % 5 = 0, scores in exact integer
        # milli-nats (ln over integer counts only — order-invariant).
        "lm_quality": _LM_SCORE_SQL,
        # CCNet head/middle/tail: per-source ntile(3) over the
        # per-bigram ratio (one IEEE division of two exact ints).
        "lm_buckets": f"""
WITH base AS ({_LM_SCORE_SQL}),
j AS (
  SELECT d.doc_id, d.source, base.n_bigrams, base.cost_millinats
  FROM documents d JOIN base USING (doc_id)
  WHERE base.n_bigrams > 0)
SELECT doc_id, source, n_bigrams, cost_millinats,
       ntile(3) OVER (PARTITION BY source
                      ORDER BY CAST(cost_millinats AS DOUBLE) / n_bigrams,
                               doc_id) AS bucket
FROM j""",
        # DSIR hashed-ngram importance weights (Xie et al. 2023):
        # target = src0/src1/src2, 4096 portable-hash buckets, exact
        # integer milli-nats (ln over integer bucket counts only).
        "dsir_weights": f"""
WITH d AS (
  SELECT doc_id, source, {_TOKS.format(col='text')} AS toks FROM documents),
tb AS (
  SELECT doc_id, source,
         (('0x' || substring(md5('ds:' || w), 1, 15))::BIGINT % 4096) AS b
  FROM (SELECT doc_id, source, unnest(toks) AS w FROM d)),
ct AS (SELECT b, count(*) AS ct FROM tb
       WHERE source IN ('src0', 'src1', 'src2') GROUP BY b),
cq AS (SELECT b, count(*) AS cq FROM tb GROUP BY b),
costs AS (
  SELECT doc_id,
         CAST(floor(1000.0 * (ln(coalesce(ct, 0) + 1)
                              - ln(coalesce(cq, 0) + 1))) AS BIGINT) AS lw
  FROM tb LEFT JOIN ct USING (b) LEFT JOIN cq USING (b)),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(lw) AS BIGINT) AS logw_millinats
  FROM costs GROUP BY doc_id)
SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
       coalesce(agg.logw_millinats, 0) AS logw_millinats
FROM (SELECT DISTINCT doc_id FROM d) d LEFT JOIN agg USING (doc_id)""",
        # GPT-style sequence packing: docs laid end-to-end per source,
        # cut into fixed 512-token sequences; long docs span.
        "pack_sequences": f"""
WITH t AS (
  SELECT source, doc_id,
         len({_TOKS.format(col='text')})::BIGINT AS n
  FROM documents),
c AS (
  SELECT source, n,
         CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
  FROM t WHERE n > 0),
s AS (SELECT source, e - n AS st, e FROM c),
x AS (
  SELECT source, CAST(q AS BIGINT) AS seq_id,
         least(e, (q + 1) * 512) - greatest(st, q * 512) AS fill
  FROM s, unnest(range(st // 512, (e - 1) // 512 + 1)) AS u(q))
SELECT source, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(fill) AS BIGINT) AS n_tokens
FROM x GROUP BY 1, 2""",
        # chunk_corpus, ingest_pipeline, kmeans_ivf: intentionally no
        # oracle (non-SQL ops — chunker UDF, embedder, iterative
        # k-means; rows-only check; chunker is golden-tested in
        # tests/test_chunker.py, k-means in tests/test_dedup.py)
    }
