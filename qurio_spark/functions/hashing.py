"""Hashing column functions.

T8 (content hashing) maps straight to builtins: the reference uses
sha256 for source identity, body hash, and upload hash
(features/source/source.go:96-98, internal/worker/result_consumer.go:
195-198, features/source/handler.go:136-144) -> ``sha2(col, 256)``.

``hash64`` is the engine-portable 60-bit hash used by MinHash/SimHash:
the top 15 hex digits of md5, parsed as an integer.  Chosen because the
exact same value is computable in DuckDB
(``('0x' || substring(md5(s),1,15))::BIGINT``), Spark
(``conv(substring(md5(s),1,15),16,10)``), and Python — so sketch
operators stay oracle-checkable, unlike engine-private hashes
(xxhash64/murmur differ per engine).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql.column import Column

#: Large Mersenne prime for affine rehashing families: (a*h + b) mod P.
MERSENNE_61 = (1 << 61) - 1


def sha256_hex(col: Column) -> Column:
    return F.sha2(col, 256)


def hash64(col: Column) -> Column:
    """md5-top-60-bits as bigint — engine-portable (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash64_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_coeffs(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for ``num_perm`` permutations.
    Derived from md5 of the (seed, i) pair so Spark/DuckDB/Python agree
    without any RNG."""
    coeffs = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"a:{seed}:{i}".encode()).hexdigest()[:15], 16) % MERSENNE_61
        b = int(hashlib.md5(f"b:{seed}:{i}".encode()).hexdigest()[:15], 16) % MERSENNE_61
        coeffs.append((a or 1, b))
    return coeffs
