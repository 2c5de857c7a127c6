"""Cross-engine deterministic expression builders.

Every builder here emits BOTH a Spark SQL fragment and a DuckDB SQL fragment
with bit-identical semantics, so declared queries can be hash-verified
against the DuckDB oracle (the driver's t2 gate).  This replaces every
engine-native RNG/hash (Spark ``xxhash64``, DuckDB ``hash`` — different
algorithms) in the dedup/fingerprint operators.

Core primitive: ``hex15`` — fold the first 15 hex chars of ``md5(s)`` into a
60-bit non-negative BIGINT.  md5 is identical everywhere; the fold is plain
integer arithmetic, so Spark and DuckDB agree exactly.

The integer-modulus MinHash family is
``h_j(s) = (a_j * (hex15(s) % P) + b_j) % P`` with ``P = 2^31 - 1`` (products
stay < 2^62: no int64 overflow in either engine).
"""

from __future__ import annotations

import random

MERSENNE_P = 2_147_483_647  # 2^31 - 1
FNV_MOD = 1_000_000_007


# --- portable 4-decimal rounding -------------------------------------------
#
# Engine-native round() differs at exact .xxxx5 ties (Spark rounds the
# decimal expansion of the double; DuckDB rounds via C semantics), which
# bites values built from small rationals (ratios, scores).  floor-based
# half-up is pure IEEE arithmetic — bit-identical across engines.


def round4(col):
    """Spark Column: round half-up to 4 decimals, portable across engines."""
    from pyspark.sql import functions as F

    if isinstance(col, str):
        col = F.col(col)
    return F.floor(col * 10000.0 + 0.5) / 10000.0


def round4_duck(e: str) -> str:
    """DuckDB SQL fragment with identical semantics to :func:`round4`."""
    return f"(floor(({e}) * 10000.0 + 0.5) / 10000.0)"


def minhash_perms(num_perms: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for the universal-hash family."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(num_perms)]


# --- hex15: md5-prefix -> BIGINT ------------------------------------------
#
# Two layers: ``hexfold_*`` folds an ALREADY-COMPUTED md5 hex-string column
# (compute md5 once per row, fold touches 15 chars — the fast path used by
# the operators); ``hex15_*`` is the self-contained spelling over any
# expression (recomputes md5 per char — only for one-shot scalar use).


def hexfold_spark(m: str) -> str:
    """Spark SQL: first 15 hex chars of string column ``m`` as BIGINT.

    ``conv`` is a JVM built-in (whole-stage codegen) — ~10x faster than a
    per-char higher-order fold.  15 chars = 60 bits, always < 2^63.
    """
    return f"CAST(conv(substring({m}, 1, 15), 16, 10) AS BIGINT)"


def hexfold_duck(m: str) -> str:
    """DuckDB SQL: identical value via native hex-literal cast."""
    return f"CAST('0x' || substring({m}, 1, 15) AS BIGINT)"


def hex15_spark(e: str) -> str:
    """Spark SQL: 60-bit integer from the first 15 hex chars of md5(e)."""
    return hexfold_spark(f"md5({e})")


def hex15_duck(e: str) -> str:
    """DuckDB SQL: identical 60-bit integer (list_reduce fold)."""
    return hexfold_duck(f"md5({e})")


# --- character shingles ----------------------------------------------------


def shingles_spark(text: str, k: int) -> str:
    """Spark SQL array of distinct character k-grams of ``text``."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({text}) - {k - 1}, 1)), "
        f"p -> substring({text}, p, {k})))"
    )


def shingles_duck(text: str, k: int) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len({text}) - {k - 1}, 1) + 1), "
        f"p -> substring({text}, CAST(p AS INT), {k})))"
    )


# --- whitespace tokens ------------------------------------------------------


def tokens_spark(text: str) -> str:
    return f"split(trim({text}), '\\\\s+')"


def tokens_duck(text: str) -> str:
    return f"regexp_split_to_array(trim({text}), '\\s+')"


# --- rolling polynomial fingerprint ----------------------------------------


def fingerprint_spark(text: str) -> str:
    """Rolling hash: fold chars with acc*31 + code (mod 1e9+7)."""
    return (
        f"aggregate(sequence(1, length({text})), 0L, "
        f"(acc, k) -> (acc * 31 + ascii(substring({text}, k, 1))) % {FNV_MOD})"
    )


def fingerprint_duck(text: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, len({text}) + 1), "
        f"k -> CAST(ord(substring({text}, CAST(k AS INT), 1)) AS BIGINT))), "
        f"(acc, v) -> (acc * 31 + v) % {FNV_MOD})"
    )
