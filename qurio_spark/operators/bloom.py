"""Bloom-filter semi-join pushdown — the runtime-filter pattern.

At 100 TB the expensive part of a selective join is SHUFFLING the big
side: every probe row pays the exchange even though most will not
match.  Engines solve this with runtime filters (Spark's own
InjectRuntimeFilter inserts a bloom under AQE for some shapes; this
module is the explicit, always-available form): build a Bloom filter
over the BUILD side's join keys (distributed: one partial-agg
shuffle over filter slots, never a key collect), ship it to the
probe side as a LITERAL bitmap inside a column expression, and drop
non-matching rows AT THE SCAN — before the join exchange ever sees
them.  The final join still runs (bloom false positives must be
re-checked), so results are EXACTLY the plain join's; only the
shuffled volume changes.

Hash choice: the k bit positions derive from ONE ``xxhash64`` call
split into two 31-bit halves h1, h2 with position_i = (h1 + i*h2)
mod m (the classic Kirsch-Mitzenmacher double hashing).  Unlike the
sketch operators, the bloom does NOT use the engine-portable md5
hash: the filter is transient query state (like Spark's own runtime
filters) whose correctness oracle is the plain join — any hash gives
the identical result set — and the md5/conv string pipeline benched
~12x slower on the probe scan (5.8 s vs 0.5 s over 600k rows at
sf0.1).  Build and probe share the same expression, so membership is
deterministic within an engine version, which is all a pre-filter
needs.

The bitmap is m bits packed into ceil(m/64) longs.  The distributed
build: each key row explodes to its k (slot, bit) pairs, a
groupBy(slot) bit_or merges them — one narrow shuffle of at most
k * |build| tiny rows, then ceil(m/64) rows reach the driver.  The
probe-side test is pure codegen: k extracts against an array<long>
literal, no join, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_MASK31 = (1 << 31) - 1


def _h1h2(col: Column):
    h = F.xxhash64(col)  # one fast JVM hash; full-range long
    h1 = h.bitwiseAND(F.lit(_MASK31)).cast("long")
    h2 = F.shiftrightunsigned(h, 31).bitwiseAND(F.lit(_MASK31)).cast("long")
    # h2 must be nonzero so positions spread; the +1 keeps it nonzero
    # without biasing (same formula both build and probe side)
    return h1, h2 + F.lit(1)


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 13,
    k_hashes: int = 5,
) -> list[int]:
    """Distributed Bloom build -> list of ceil(m/64) longs (the
    bitmap), via explode-to-(slot, bit) + groupBy(slot) bit_or.  Only
    the bitmap rows reach the driver — never the keys."""
    n_words = (m_bits + 63) // 64
    pos = _positions(F.col(key_col), m_bits, k_hashes)
    slots = (
        keys.select(F.explode(pos).alias("__p"))
        .select(
            (F.col("__p") / 64).cast("int").alias("__slot"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("__p") % 64).cast("int")
            ).alias("__bit"),
        )
        .groupBy("__slot")
        .agg(F.bit_or("__bit").alias("__word"))
        .collect()
    )
    words = [0] * n_words
    for r in slots:
        words[r["__slot"]] = r["__word"]
    return words


#: Largest bitmap (in 64-bit words) inlined into the plan as a
#: codegen literal.  4096 words = 32 KB = ~256k bits (~18k keys at 14
#: bits/key).  Beyond this, literal inlining is the wrong shape twice
#: over: building the F.array costs one py4j call PER WORD on the
#: driver (a 1M-key build would be ~220k calls), and the expression
#: bloats every task binary + codegen unit.  Larger filters route
#: through the Arrow membership stage instead (`bloom_semi_join`
#: switches automatically); the positions are still computed JVM-side
#: with the same xxhash64, so build and probe stay hash-identical.
BLOOM_LITERAL_MAX_WORDS = 4096


def _positions(key_col: Column, m_bits: int, k_hashes: int) -> Column:
    """The k double-hashed bit positions for a key, as array<long> —
    shared by the literal and Arrow probe paths (and the build)."""
    h1, h2 = _h1h2(key_col)
    return F.array(
        *[((h1 + F.lit(i) * h2) % F.lit(m_bits)) for i in range(k_hashes)]
    )


def bloom_might_contain(
    key_col: str,
    bitmap: list[int],
    m_bits: int = 1 << 13,
    k_hashes: int = 5,
) -> Column:
    """Membership test as a pure column expression against the literal
    bitmap: k double-hash positions, each an element_at + bit test —
    whole-stage codegen, zero Python, zero joins.  Refuses bitmaps
    over ``BLOOM_LITERAL_MAX_WORDS`` (use ``bloom_filter_rows`` /
    ``bloom_semi_join``, which route large filters through the Arrow
    membership stage instead of codegen literals).

    The whole predicate over the column NAME is assembled as ONE SQL
    string and parsed JVM-side in a single call (r16, guide §5 — the
    driver does no data work, and it shouldn't do thousands of py4j
    round-trips either: a per-word ``F.lit`` array plus the k hash
    terms cost ~0.4 s of pure driver time per filter at 128 words).
    The SQL reproduces ``_h1h2``'s arithmetic exactly (same xxhash64
    double-hashing, same `/64` truncation), so build and probe stay
    hash-identical."""
    if k_hashes < 1:
        # zero hash terms would test nothing: an empty SQL conjunction
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    if len(bitmap) > BLOOM_LITERAL_MAX_WORDS:
        raise ValueError(
            f"bitmap of {len(bitmap)} words exceeds the literal ceiling "
            f"({BLOOM_LITERAL_MAX_WORDS}); use bloom_filter_rows"
        )
    name = key_col.replace("`", "``")
    arr = "array(" + ",".join(f"{int(w)}L" for w in bitmap) + ")"
    h = f"xxhash64(`{name}`)"
    h1 = f"({h} & {_MASK31})"
    h2 = f"((shiftrightunsigned({h}, 31) & {_MASK31}) + 1)"
    terms = []
    for i in range(k_hashes):
        p = f"(({h1} + {i} * {h2}) % {m_bits})"
        word = f"element_at({arr}, cast({p} / 64 as int) + 1)"
        bit = f"shiftleft(1L, cast({p} % 64 as int))"
        terms.append(f"(({word} & {bit}) != 0)")
    return F.expr("(" + " AND ".join(terms) + ")")


def bloom_filter_rows(
    probe: DataFrame,
    on: str,
    bitmap: list[int],
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Probe-side pre-filter for LARGE bitmaps: the k positions are
    computed JVM-side (same xxhash64 expression the build used — the
    two sides must stay hash-identical), then an Arrow ``mapInPandas``
    stage gathers the bitmap words (a numpy array shipped once per
    task in the closure, not per-row literals) and keeps rows whose k
    bits are all set.  Same result contract as the literal path; the
    trade is one Python stage against codegen-literal bloat that grows
    with the filter."""
    import numpy as np

    words = np.asarray([np.uint64(w & 0xFFFFFFFFFFFFFFFF) for w in bitmap],
                       dtype=np.uint64)
    out_cols = list(probe.columns)
    annotated = probe.withColumn(
        "__bloom_pos", _positions(F.col(on), m_bits, k_hashes)
    )

    def member(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pos = np.stack(pdf["__bloom_pos"].to_numpy()).astype(np.int64)
            w = words[pos // 64]
            bits = (w >> (pos % 64).astype(np.uint64)) & np.uint64(1)
            yield pdf.loc[bits.all(axis=1), out_cols]

    return annotated.mapInPandas(member, probe.schema)


def bloom_size_for(n_keys: int, bits_per_key: int = 14) -> tuple[int, int]:
    """(m_bits, k_hashes) for a build side of ``n_keys``: ~14 bits/key
    (power-of-2 m, floor 8192) with the optimal k = (m/n) ln 2 clamped
    to [2, 8] — FP ~1e-3.  A FIXED filter size is the same scale cliff
    as a fixed ANN shortlist: at 10x the keys an 8k-bit filter
    saturates (measured 13% FP at 1.5k keys) and the pre-filter stops
    filtering."""
    import math

    m = max(8192, 1 << math.ceil(math.log2(max(1, n_keys) * bits_per_key)))
    k = min(8, max(2, round(m / max(1, n_keys) * 0.693)))
    return m, k


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    m_bits: int | None = None,
    k_hashes: int | None = None,
    how: str = "left_semi",
) -> DataFrame:
    """Exact semi/inner join with a bloom pre-filter on the probe side:
    rows that cannot match are dropped at the scan, the surviving
    sliver joins normally (false positives re-checked), so the result
    set is IDENTICAL to ``probe.join(build, on, how)`` — pinned by the
    plain-join oracle.  The win is shuffle volume: at a 1% match rate
    the exchange moves ~1% of the probe table (+ the bloom's false-
    positive rate) instead of all of it.

    ``m_bits=None`` (default) sizes the filter to the build side's
    measured key count (:func:`bloom_size_for`) — one count job on the
    (small, selective) build side, amortized against the probe scan it
    shrinks."""
    if how not in ("left_semi", "semi", "inner"):
        # A bloom PRE-filter drops probe rows before the join; outer
        # joins must KEEP unmatched probe rows, so pre-filtering
        # silently corrupts them.
        raise ValueError(
            f"bloom_semi_join supports semi/inner joins only, got {how!r}"
        )
    keys = build.select(on)
    if m_bits is None:
        m_bits, auto_k = bloom_size_for(keys.count())
        k_hashes = auto_k if k_hashes is None else k_hashes
    elif k_hashes is None:
        k_hashes = 5
    bitmap = bloom_build(keys, on, m_bits, k_hashes)
    if len(bitmap) <= BLOOM_LITERAL_MAX_WORDS:
        # pass the NAME so the membership predicate takes the
        # single-parse SQL path (no per-word py4j traffic)
        pre = probe.filter(
            bloom_might_contain(on, bitmap, m_bits, k_hashes)
        )
    else:  # large filter: Arrow membership stage, never a literal
        pre = bloom_filter_rows(probe, on, bitmap, m_bits, k_hashes)
    return pre.join(build, on, how)
