"""Pseudonymization: key derivation (O10) + keyed-hash rewrite (O8).

Reference semantics (src/crypto.rs):
- key derivation: secret must be >= 32 bytes (crypto.rs:98-102);
  key = blake3(secret)[0..32] (crypto.rs:104-110); without a secret a
  random 32-byte key is generated (crypto.rs:6-9) — tests always pass a
  fixed secret for determinism.
- IRI rewrite keeps the prefix up to and including the LAST '#' or '/'
  and appends hex(keyed_hash(key, full_iri_bytes)) (crypto.rs:49-57).
  The reference panics on IRIs containing neither separator
  (``rfind().unwrap()``); we define the behavior instead: empty prefix,
  hash of the whole IRI (documented divergence, SURVEY.md §7e).
- literal rewrite hashes the lexical form and DROPS datatype/language,
  producing a simple literal (crypto.rs:60-68).
- blank nodes pass through unchanged (crypto.rs:71-73).

Two interchangeable hash backends:
- ``sha256`` (default): salted SHA-256 via the built-in ``F.sha2`` —
  100% JVM-side / whole-stage-codegen, DuckDB-oracle-checkable
  (the north-star names SHA-256 salted hashing).
- ``blake3``: keyed BLAKE3 exactly like the reference, as an
  Arrow-batched pandas UDF over tripsu_spark.functions.blake3_np
  (``functions/blake3_py`` is the scalar reference it is checked
  against).
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .functions.blake3_py import blake3_digest, blake3_hex
from .schemas import KIND_IRI, KIND_LITERAL


def derive_key(secret: bytes | None) -> bytes:
    """secret (>=32 bytes) -> 32-byte key = blake3(secret) (crypto.rs:97-113)."""
    if secret is None:
        return os.urandom(32)
    if len(secret) < 32:
        raise ValueError("Secret must be at least 32 bytes long")
    return blake3_digest(secret)


class Pseudonymizer:
    """Column-level hash of a string value -> lowercase hex string."""

    algorithm = "base"

    def __init__(self, key: bytes):
        if len(key) != 32:
            raise ValueError("key must be exactly 32 bytes")
        self.key = key

    @staticmethod
    def create(algorithm: str, secret: bytes | None) -> "Pseudonymizer":
        key = derive_key(secret)
        if algorithm == "sha256":
            return Sha256Pseudonymizer(key)
        if algorithm == "blake3":
            return Blake3Pseudonymizer(key)
        raise ValueError(f"unknown pseudonymization algorithm: {algorithm}")

    def hash_expr(self, value: Column) -> Column:
        raise NotImplementedError

    def hash_str(self, value: str) -> str:
        """Driver-side equivalent, for golden tests / round-trip checks."""
        raise NotImplementedError


class Sha256Pseudonymizer(Pseudonymizer):
    """hex(sha256(salt_hex || value)) — pure Catalyst, oracle-friendly."""

    algorithm = "sha256"

    @property
    def salt(self) -> str:
        return self.key.hex()

    def hash_expr(self, value: Column) -> Column:
        return F.sha2(F.concat(F.lit(self.salt), value), 256)

    def hash_str(self, value: str) -> str:
        return hashlib.sha256((self.salt + value).encode("utf-8")).hexdigest()


class Blake3Pseudonymizer(Pseudonymizer):
    """hex(blake3::keyed_hash(key, value)) — reference algorithm
    (crypto.rs:116-120), Arrow-batched pandas UDF (the one unavoidable
    Python hop; everything else in pass 2 is JVM-side). Inside the UDF
    the whole Arrow batch is hashed at once by the numpy-vectorized
    compression function (functions/blake3_np.py, ~500-670k hashes/s
    per core on IRI-sized inputs — ~90x the interpreted scalar rate;
    bit-identical, validated in tests/test_crypto.py)."""

    algorithm = "blake3"

    def hash_expr(self, value: Column) -> Column:
        key = self.key

        @F.pandas_udf(StringType())
        def blake3_udf(values: pd.Series) -> pd.Series:
            from .functions.blake3_np import blake3_hex_batch

            enc = [None if v is None else v.encode("utf-8") for v in values]
            return pd.Series(blake3_hex_batch(enc, key), index=values.index, dtype=object)

        return blake3_udf(value)

    def hash_str(self, value: str) -> str:
        return blake3_hex(value.encode("utf-8"), self.key)


def iri_prefix_expr(value: Column) -> Column:
    """Prefix up to+including the last '#' or '/'; '' when absent."""
    return F.regexp_extract(value, r"^(.*[#/])", 1)


def pseudo_triple(
    df: DataFrame,
    mask_s: Column,
    mask_o: Column,
    hasher: Pseudonymizer,
) -> DataFrame:
    """Conditionally rewrite masked subject/object (O8, crypto.rs:14-73).

    Input: triple columns + boolean mask columns. Output: same triple
    schema with masked parts rewritten. Blank nodes are never rewritten
    even when masked (crypto.rs:71-73; reachable via ``invert``).
    """
    s_masked = mask_s & (F.col("s_kind") == KIND_IRI)
    new_s_value = F.when(
        s_masked,
        F.concat(iri_prefix_expr(F.col("s_value")), hasher.hash_expr(F.col("s_value"))),
    ).otherwise(F.col("s_value"))

    o_is_iri = F.col("o_kind") == KIND_IRI
    o_is_lit = F.col("o_kind") == KIND_LITERAL
    new_o_value = (
        F.when(
            mask_o & o_is_iri,
            F.concat(
                iri_prefix_expr(F.col("o_value")), hasher.hash_expr(F.col("o_value"))
            ),
        )
        .when(mask_o & o_is_lit, hasher.hash_expr(F.col("o_value")))
        .otherwise(F.col("o_value"))
    )
    # Hashed literals become Simple literals: datatype/lang dropped.
    new_o_datatype = F.when(mask_o & o_is_lit, F.lit(None).cast("string")).otherwise(
        F.col("o_datatype")
    )
    new_o_lang = F.when(mask_o & o_is_lit, F.lit(None).cast("string")).otherwise(
        F.col("o_lang")
    )

    return (
        df.withColumn("s_value", new_s_value)
        .withColumn("o_value", new_o_value)
        .withColumn("o_datatype", new_o_datatype)
        .withColumn("o_lang", new_o_lang)
    )
