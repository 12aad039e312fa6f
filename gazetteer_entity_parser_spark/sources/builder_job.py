"""Distributed parser build: gazetteer DataFrame -> Registry -> broadcast.

The reference's offline build (reference: src/parser_builder.rs:82-101 +
src/parser_registry.rs:38-167) produces a dimension-scale index that is
assembled on the driver and broadcast whole. ``build_registry_distributed``
therefore runs one Spark job: a single ``toArrow()`` collect of the
gazetteer's three columns, ordered on the driver, feeding the kernel's
sequential build (token interning, inverted index, stop words, edge cases).
That is the same build ``ParserBuilder`` uses, so the broadcast parser is the
reference-faithful one by construction.

The same steps are also expressed as DataFrames (``build_index_frames``,
``stop_words_df``, ``edge_cases_df``). They are catalog relations with DuckDB
oracles (see plans/queries.py), not inputs of the build; tests pin them to
the built ``Registry``:

- rank assignment: explicit ``rank`` column (DataFrames have no row order);
- tokenization: Arrow-batched pandas UDF around the kernel tokenizer (exact
  parity incl. unicode-whitespace semantics);
- token interning: first-appearance order over (rank, position) — matches
  the reference's BTreeMap+counter interning scan order
  (reference: src/symbol_table.rs:17-27);
- inverted index: ``groupBy(token).agg(sort_array(collect_set(entity)))``;
- stop words: top-n by distinct-entity count, ties to the earlier-interned
  token (Rust stable sort, reference: src/parser_registry.rs:141-157);
- edge cases: entities whose token set ⊆ stop words
  (reference: src/parser_registry.rs:159-166).

Scale note: the gazetteer is dimension-scale (≤ tens of millions of rows ≪
the 10^12-doc corpus), and a gazetteer that does not fit the driver does not
fit the executors' broadcast either. The corpus-side scan never shuffles on
gazetteer keys — the index travels as a broadcast.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.registry import Registry
from ..kernel.parser import Parser
from ..kernel.tokenizer import tokens_only

GAZETTEER_SCHEMA = "raw_value string, resolved_value string, rank bigint"


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(raw: pd.Series) -> pd.Series:
    """Kernel-exact tokenization, Arrow-batched (no per-row Python UDF)."""
    return raw.map(lambda s: tokens_only(s) if s is not None else [])


def build_index_frames(gazetteer_df: DataFrame) -> dict[str, DataFrame]:
    """The build expressed as reusable DataFrames (each also exposed as a
    driver-contract query with a DuckDB oracle — see __spark_entry__).

    Returns dict with:
      entities:  entity_id, resolved_value, rank, tokens array<string>
      tokens:    token, token_id (first-appearance interning order)
      postings:  token_id, entity_ids array<bigint> (sorted)
      token_df:  token, n_entities (distinct-entity frequency)
    """
    # entity id = position in rank order (reference interning order,
    # src/parser_registry.rs:43-45: one fresh id per row). Tie-break on
    # (resolved_value, raw_value) so duplicate user-supplied ranks still get
    # a total order — entity ids (and hence interning, postings, same-span
    # tie resolution) must be deterministic across runs for idempotent
    # replay and lineage checksums.
    w_rank = Window.orderBy(
        F.col("rank").asc(), F.col("resolved_value").asc(), F.col("raw_value").asc()
    )
    entities = (
        gazetteer_df.withColumn("tokens", tokenize_udf(F.col("raw_value")))
        .where(F.size("tokens") > 0)  # empty-value filter (src/parser_registry.rs:39-41)
        .withColumn("entity_id", F.row_number().over(w_rank) - F.lit(1))
        .select("entity_id", "resolved_value", "rank", "tokens")
    )

    exploded = entities.select(
        "entity_id", F.posexplode("tokens").alias("pos", "token")
    )

    # interning order: first appearance scanning entities by rank, tokens by
    # position (reference: src/symbol_table.rs:17-27)
    first_seen = exploded.groupBy("token").agg(
        F.min(F.struct("entity_id", "pos")).alias("first_seen")
    )
    w_intern = Window.orderBy(F.col("first_seen").asc())
    tokens = first_seen.withColumn(
        "token_id", F.row_number().over(w_intern) - F.lit(1)
    ).select("token", "token_id")

    with_ids = exploded.join(tokens, "token")

    postings = with_ids.groupBy("token_id").agg(
        F.sort_array(F.collect_set("entity_id")).alias("entity_ids")
    )

    token_df = with_ids.groupBy("token", "token_id").agg(
        F.countDistinct("entity_id").alias("n_entities")
    )

    return {
        "entities": entities,
        "tokens": tokens,
        "postings": postings,
        "token_df": token_df,
    }


def stop_words_df(frames: dict[str, DataFrame], n_stop_words: int) -> DataFrame:
    """Top-n tokens by distinct-entity count; ties go to the earlier-interned
    token id (reference: src/parser_registry.rs:141-157)."""
    return (
        frames["token_df"]
        .orderBy(F.col("n_entities").desc(), F.col("token_id").asc())
        .limit(n_stop_words)
        .select("token", "token_id", "n_entities")
    )


def edge_cases_df(frames: dict[str, DataFrame], stop_words: DataFrame) -> DataFrame:
    """Entities all of whose tokens are stop words
    (reference: src/parser_registry.rs:159-166), via array_except == empty."""
    sw = stop_words.select(F.collect_list("token").alias("sw"))
    return (
        frames["entities"]
        .crossJoin(F.broadcast(sw))
        .where(F.size(F.array_except(F.array_distinct("tokens"), F.col("sw"))) == 0)
        .select("entity_id", "resolved_value", "rank")
    )


def build_registry_distributed(
    gazetteer_df: DataFrame,
    n_stop_words: int = 0,
    additional_stop_words: list[str] | None = None,
    small_gazetteer_rows: int = 0,
) -> Registry:
    """Build the ``Registry`` from one Arrow collect of the gazetteer.

    Rows are ordered by ``(rank, resolved_value, raw_value)`` ascending,
    NULLs first — the same total order as ``build_index_frames``' entity-id
    window, so duplicate user-supplied ranks still give deterministic
    entity ids — and fed to the kernel's sequential build
    (reference: src/parser_builder.rs:90-105). Rows whose raw value is NULL
    or yields no token are skipped (src/parser_registry.rs:39-41).

    ``small_gazetteer_rows`` has no effect; it is accepted only because
    ``bench.py`` still passes ``small_gazetteer_rows=0``."""
    tbl = gazetteer_df.select("raw_value", "resolved_value", "rank").toArrow()
    order = pc.sort_indices(
        tbl,
        sort_keys=[
            ("rank", "ascending"),
            ("resolved_value", "ascending"),
            ("raw_value", "ascending"),
        ],
        null_placement="at_start",
    )
    tbl = tbl.take(order)
    reg = Registry()
    for raw_value, resolved_value, rank in zip(
        tbl.column("raw_value").to_pylist(),
        tbl.column("resolved_value").to_pylist(),
        tbl.column("rank").to_pylist(),
    ):
        if raw_value is not None:
            reg.add_raw_value(raw_value, resolved_value, rank)
    reg.set_stop_words(n_stop_words, additional_stop_words)
    return reg


def build_parser_distributed(
    gazetteer_df: DataFrame,
    threshold: float = 1.0,
    n_stop_words: int = 0,
    additional_stop_words: list[str] | None = None,
) -> Parser:
    """Threshold validation mirrors the reference builder
    (reference: src/parser_builder.rs:83-88)."""
    if threshold < 0.0 or threshold > 1.0:
        raise ValueError(
            f"Invalid value for threshold ({threshold}), it must be between 0.0 and 1.0"
        )
    registry = build_registry_distributed(
        gazetteer_df, n_stop_words, additional_stop_words
    )
    return Parser(registry, threshold)


def broadcast_parser(spark: SparkSession, parser: Parser):
    """Ship the built parser to every executor. Broadcasts are immutable:
    injection/prepend publish a NEW broadcast and unpersist the old one
    (reference's full-rebuild injection, src/parser_registry.rs:199-254,
    maps exactly onto this)."""
    return spark.sparkContext.broadcast(parser)


def prepend_and_rebroadcast(
    spark: SparkSession,
    old_broadcast,
    new_values: list[tuple[str, str]],
):
    """Prepend values with rank rebasing (reference: src/parser.rs:108-116)
    and publish a fresh broadcast (broadcasts are immutable)."""
    import copy

    parser = copy.deepcopy(old_broadcast.value)
    parser.prepend_values(new_values)  # invalidates the parser's run caches
    old_broadcast.unpersist()
    return spark.sparkContext.broadcast(parser)

