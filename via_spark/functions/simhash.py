"""Simhash (F3): 64-bit locality-sensitive fingerprint as native columns.

Capability parity with the reference's Simhash→binary-vector step
(``app/services/ingestion_service.py:31-39``): same capability (64-bit
LSH fingerprint of the token stream), with OUR pinned, deterministic,
SQL-expressible definition (SURVEY.md §7.4 decision 3):

* tokenizer: lowercased whitespace tokens, empties dropped
  (``via_spark.functions.text.tokens``)
* per-token hash: first 16 hex chars of sha256(token) = 64 bits
* bit b of token hash: nibble ``b // 4`` (hex char, leftmost = nibble
  0), bit ``b % 4`` within the nibble (LSB-first — mirrors the
  reference's LSB-first vector layout)
* vote: +1/-1 per token per bit; simhash bit = 1 iff vote sum >= 0
  (ties pinned to 1)
* rendering: 16 lowercase hex chars, nibble 0 first

Everything is JVM-native (sha2 / conv / higher-order functions) — no
Python in the row path — and exactly reproducible in ANSI SQL for the
DuckDB oracle. This native form is the reference that the Arrow
kernel used in production (:func:`simhash_hex_arrow`) is pinned
bit-identical to.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

SIMHASH_BITS = 64
_NIBBLES = SIMHASH_BITS // 4


def token_hashes(tokens_col: Column) -> Column:
    """array<string> tokens → array of 16-hex-char (64-bit) token hashes."""
    return F.transform(tokens_col, lambda t: F.substring(F.sha2(t, 256), 1, 16))


def _votes_for_hash(h: Column) -> Column:
    """±1 vote per bit of one token hash (h = lambda variable, evaluated
    once per token; the unrolled form executes ~3× faster than a
    dynamic-index lambda because each nibble is decoded once for its
    four bits)."""
    nibs = [F.conv(F.substring(h, i + 1, 1), 16, 10).cast("int") for i in range(_NIBBLES)]
    return F.array(
        *[
            F.shiftright(nibs[b // 4], b % 4).bitwiseAND(F.lit(1)) * 2 - 1
            for b in range(SIMHASH_BITS)
        ]
    )


def votes_to_hex(votes: Column) -> Column:
    """Vote array → 16-char lowercase hex fingerprint (nibble 0 first).

    ``votes`` should be a lambda variable or a materialized column —
    passing a heavy expression duplicates it 4× per nibble.
    """
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(_NIBBLES - 1)),
            lambda i: F.format_string(
                "%x",
                F.when(F.element_at(votes, i * 4 + 1) >= 0, 1).otherwise(0)
                + F.when(F.element_at(votes, i * 4 + 2) >= 0, 2).otherwise(0)
                + F.when(F.element_at(votes, i * 4 + 3) >= 0, 4).otherwise(0)
                + F.when(F.element_at(votes, i * 4 + 4) >= 0, 8).otherwise(0),
            ),
        ),
        "",
    )


def simhash_hex(tokens_col: Column) -> Column:
    """Tokens → 16-hex-char simhash as ONE expression.

    The hex rendering runs in ``aggregate``'s *finish* lambda, where the
    vote array is a bound lambda variable — evaluated once no matter how
    many times the rendering references it.
    """
    return F.aggregate(
        token_hashes(tokens_col),
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, _votes_for_hash(h), lambda a, v: a + v),
        votes_to_hex,
    )


_SIMHASH_PD = None
# token→hash memo cap per Python worker (~70 MB of str/int entries)
SIMHASH_MEMO_MAX = 1 << 19


def simhash_hex_arrow(tokens_col: Column) -> Column:
    """Arrow-vectorized twin of :func:`simhash_hex` — bit-identical
    output, built for the high-volume fingerprint pass.

    The native form is an ``aggregate`` over ``zip_with`` higher-order
    functions that Spark evaluates INTERPRETED: 64 vote updates per
    token per row, measured as ~40 s of executor time at the 100×
    corpus dial (the cold wall of every Hamming-family query; guide
    §4.2). This twin ships the token arrays as Arrow batches and runs
    the identical integer logic in numpy:

    * per-token hash — first 8 bytes of sha256(utf-8 bytes), exactly
      the 16-hex-char prefix the native expression takes (hashlib and
      Spark's sha2 are the same FIPS 180-4 function on the same bytes);
    * bit b of a token hash — nibble ``b // 4`` (leftmost hex char =
      nibble 0), bit ``b % 4`` LSB-first, i.e. shift
      ``4*(15 - b//4) + b%4`` of the 64-bit big-endian value;
    * votes — integer ±1 sums (no floats anywhere), simhash bit = 1
      iff vote >= 0 (ties to 1), rendered nibble-0-first lowercase hex.

    Every step is exact integer/boolean arithmetic, so equality with
    the native expression is structural, not numerical — pinned by
    tests/test_vector.py::test_simhash_arrow_bit_identical_to_native
    and by every consumer's DuckDB oracle.

    Contract: non-null array<string> with non-null elements (the
    fingerprint path filters ``size(toks) > 0`` upstream; empty arrays
    render the all-ones fingerprint exactly like the native form).
    A per-worker token→hash memo amortizes sha256 across the corpus's
    repeated vocabulary (worker reuse keeps it across tasks). It is
    cleared whenever it holds more than ``SIMHASH_MEMO_MAX`` tokens at
    the start of a batch, so a worker holds at most that many plus one
    batch's distinct tokens.
    """
    global _SIMHASH_PD
    if _SIMHASH_PD is None:
        global np, pd
        import hashlib

        import numpy as np
        import pandas as pd

        # shift of bit b within the big-endian 64-bit token hash
        shifts = np.array(
            [4 * (15 - b // 4) + (b % 4) for b in range(SIMHASH_BITS)],
            dtype=np.uint64,
        )
        memo: dict[str, int] = {}
        sha256 = hashlib.sha256

        @F.pandas_udf("string")
        def _simhash(toks: pd.Series) -> pd.Series:
            if len(memo) > SIMHASH_MEMO_MAX:
                memo.clear()
            one = np.uint64(1)
            out = []
            for tl in toks:
                n = len(tl)
                hs = np.empty(n, dtype=np.uint64)
                for j, t in enumerate(tl):
                    v = memo.get(t)
                    if v is None:
                        v = int.from_bytes(
                            sha256(t.encode("utf-8")).digest()[:8], "big"
                        )
                        memo[t] = v
                    hs[j] = v
                # n×64 bit matrix → vote sums → bits (vote >= 0 ⇒ 1)
                bits = ((hs[:, None] >> shifts) & one).sum(
                    axis=0, dtype=np.int64
                )
                votes = 2 * bits - n
                bv = votes >= 0
                nib = (
                    bv[0::4].astype(np.int8)
                    + 2 * bv[1::4]
                    + 4 * bv[2::4]
                    + 8 * bv[3::4]
                )
                out.append("".join("0123456789abcdef"[x] for x in nib))
            return pd.Series(out)

        _SIMHASH_PD = _simhash
    return _SIMHASH_PD(tokens_col)


def hamming_hex(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-hex-char fingerprints (0..64).

    Nibble-wise popcount of XOR — integer-exact in Spark and DuckDB.
    """
    def nib(c: Column, i: int) -> Column:
        return F.conv(F.substring(c, i + 1, 1), 16, 10).cast("int")

    return reduce(
        lambda x, y: x + y,
        [F.bit_count(nib(a, i).bitwiseXOR(nib(b, i))) for i in range(_NIBBLES)],
    ).cast("int")
