"""Column helpers: RDF term serialization as pure Catalyst expressions.

Canonical forms follow the reference's Display impls
(src/rdf_types.rs:71-128): IRIs as ``<iri>``, blank nodes as ``_:id``,
literals quoted with escaping of exactly ``\\``, ``\"``, ``\\n``,
``\\r`` (fmt_quoted_str, rdf_types.rs:242-255), language tag as
``@lang``, datatype as ``^^<iri>``.

The reference emits unmasked triples through a *second* serializer
(the rio view's, pseudo.rs:31-33); we deliberately use one canonical
serializer and compare fixtures on parsed terms, not bytes
(SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import KIND_BLANK, KIND_IRI, KIND_LITERAL


def escape_literal(col: Column) -> Column:
    """N-Triples string escaping (rdf_types.rs:242-255): backslash first."""
    col = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    col = F.replace(col, F.lit('"'), F.lit('\\"'))
    col = F.replace(col, F.lit("\n"), F.lit("\\n"))
    col = F.replace(col, F.lit("\r"), F.lit("\\r"))
    return col


def serialize_subject(s_kind: Column, s_value: Column) -> Column:
    return (
        F.when(s_kind == KIND_IRI, F.concat(F.lit("<"), s_value, F.lit(">")))
        .when(s_kind == KIND_BLANK, F.concat(F.lit("_:"), s_value))
    )


def serialize_predicate(predicate: Column) -> Column:
    return F.concat(F.lit("<"), predicate, F.lit(">"))


def serialize_object(
    o_kind: Column, o_value: Column, o_datatype: Column, o_lang: Column
) -> Column:
    quoted = F.concat(F.lit('"'), escape_literal(o_value), F.lit('"'))
    literal = (
        F.when(o_lang.isNotNull(), F.concat(quoted, F.lit("@"), o_lang))
        .when(
            o_datatype.isNotNull(),
            F.concat(quoted, F.lit("^^<"), o_datatype, F.lit(">")),
        )
        .otherwise(quoted)
    )
    return (
        F.when(o_kind == KIND_IRI, F.concat(F.lit("<"), o_value, F.lit(">")))
        .when(o_kind == KIND_BLANK, F.concat(F.lit("_:"), o_value))
        .when(o_kind == KIND_LITERAL, literal)
    )


def subject_key() -> Column:
    """Serialized subject term — the index key form (index.rs:87)."""
    return serialize_subject(F.col("s_kind"), F.col("s_value"))


def object_key() -> Column:
    """Serialized object term (IRI/blank only; literals yield NULL so
    they never probe the index — literals cannot have rdf:type)."""
    return (
        F.when(
            F.col("o_kind") == KIND_IRI,
            F.concat(F.lit("<"), F.col("o_value"), F.lit(">")),
        )
        .when(F.col("o_kind") == KIND_BLANK, F.concat(F.lit("_:"), F.col("o_value")))
    )


def serialize_triple_line() -> Column:
    """Full N-Triples line ``s p o .`` (pseudo.rs:32-37; O9)."""
    return F.concat_ws(
        " ",
        serialize_subject(F.col("s_kind"), F.col("s_value")),
        serialize_predicate(F.col("predicate")),
        serialize_object(
            F.col("o_kind"), F.col("o_value"), F.col("o_datatype"), F.col("o_lang")
        ),
        F.lit("."),
    )
