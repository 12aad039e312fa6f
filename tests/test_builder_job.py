"""The distributed build must equal the kernel's sequential build bit for
bit (SURVEY.md §2.1 B6/B7/B9: rank assignment, interning order, inverted
index, stop words, edge cases), and the catalog's index frames must agree
with the registry it builds."""

import pytest

from gazetteer_entity_parser_spark.kernel import ParserBuilder
from gazetteer_entity_parser_spark.kernel.registry import Registry
from gazetteer_entity_parser_spark.sources.builder_job import (
    GAZETTEER_SCHEMA,
    build_index_frames,
    build_parser_distributed,
    build_registry_distributed,
    stop_words_df,
    edge_cases_df,
)
from gazetteer_entity_parser_spark.sources.gazetteer import literal_gazetteer

GAZ = [
    ("the flying stones", "The Flying Stones"),
    ("the rolling stones", "The Rolling Stones"),
    ("the stones rolling", "The Stones Rolling"),
    ("the stones", "The Stones"),
    ("blink one eight two", "Blink-182"),
    ("blink 182", "Blink-182"),
    ("  ", "Empty Value"),
    ("дра नमस्ते", "Unicode Band"),
]

# (raw_value, resolved_value, rank) rows the build must order and filter
# exactly as the reference: NULL ranks and NULL resolved values sort first,
# duplicate ranks tie-break on resolved_value then raw_value, U+001C is not
# whitespace to the kernel (Rust White_Space), and non-BMP text is one token.
HOSTILE = [
    ("alpha beta", None, 3),
    ("alpha gamma", "Dup", 1),
    ("beta", "Ant", 1),
    ("alpha delta", "Dup", 1),
    ("beta gamma", None, 1),
    ("sep\x1cin token", "Sep", 2),
    ("\U0001f3b8 rock", "Guitar", 0),
    (None, "NullRaw", 4),
    ("  ", "Ws", 5),
    ("omega", "NullRank", None),
]


@pytest.fixture(scope="module")
def gaz_df(spark):
    return literal_gazetteer(spark, GAZ)


def kernel_registry(n_stop_words=0, additional=None):
    b = ParserBuilder().set_gazetteer(GAZ)
    if n_stop_words:
        b = b.n_stop_words(n_stop_words)
    if additional:
        b = b.set_additional_stop_words(additional)
    return b.build().registry


def reference_registry(rows, n_stop_words=0, additional=None):
    """The kernel's sequential build over rows put in explicit
    (rank, resolved_value, raw_value) ascending order, NULLs first; NULL
    raw values are skipped and whitespace-only ones add no entity."""

    def nulls_first(v):
        return (v is not None, v)

    reg = Registry()
    for raw, resolved, rank in sorted(
        rows, key=lambda r: (nulls_first(r[2]), nulls_first(r[1]), nulls_first(r[0]))
    ):
        if raw is not None:
            reg.add_raw_value(raw, resolved, rank)
    reg.set_stop_words(n_stop_words, additional)
    return reg


def test_distributed_build_equals_kernel_build(spark, gaz_df):
    dist = build_registry_distributed(gaz_df)
    assert dist == kernel_registry()
    assert dist == reference_registry([(r, v, i) for i, (r, v) in enumerate(GAZ)])


def test_distributed_build_with_stop_words(spark, gaz_df):
    dist = build_registry_distributed(
        gaz_df, n_stop_words=2, additional_stop_words=["hello"]
    )
    assert dist == kernel_registry(n_stop_words=2, additional=["hello"])
    assert dist == reference_registry(
        [(r, v, i) for i, (r, v) in enumerate(GAZ)], 2, ["hello"]
    )
    assert dist.get_stop_words() == {"the", "stones", "hello"}
    assert dist.get_edge_cases() == {"The Stones"}


def test_stop_words_frame_tie_break(spark, gaz_df):
    frames = build_index_frames(gaz_df)
    top = stop_words_df(frames, 2).collect()
    assert [r["token"] for r in top] == ["the", "stones"]
    edges = edge_cases_df(frames, stop_words_df(frames, 2)).collect()
    assert {r["resolved_value"] for r in edges} == {"The Stones"}


def test_distributed_parser_runs_goldens(spark, gaz_df):
    parser = build_parser_distributed(
        gaz_df, threshold=0.5, n_stop_words=2, additional_stop_words=["hello"]
    )
    parser.set_threshold(0.6)
    parsed = parser.run("je veux écouter les the rolling", 5)
    assert [(p.matched_value, p.resolved_value.resolved) for p in parsed] == [
        ("the rolling", "The Rolling Stones")
    ]
    assert [a.resolved for a in parsed[0].alternatives] == ["The Stones Rolling"]


def test_distributed_build_rejects_bad_threshold(spark, gaz_df):
    with pytest.raises(ValueError):
        build_parser_distributed(gaz_df, threshold=1.2)


def test_null_raw_value_rows_equal_kernel_build(spark):
    """NULL and whitespace-only raw values add no entity, as in the
    reference's empty-value filter (src/parser_registry.rs:39-41)."""
    rows = [("alpha beta", "A", 0), (None, "NULLROW", 1), ("  ", "WS", 2), ("gamma", "C", 3)]
    dist = build_registry_distributed(
        spark.createDataFrame(rows, GAZETTEER_SCHEMA), n_stop_words=1
    )
    assert dist == reference_registry(rows, n_stop_words=1)
    assert dist.resolved == ["A", "C"]


def test_null_rank_rows_equal_kernel_build(spark):
    """A NULL rank sorts first, as Spark's ascending order (NULLS FIRST)
    places it in build_index_frames' entity-id window."""
    rows = [("alpha beta", "A", 5), ("gamma delta", "B", None), ("zeta", "C", 1)]
    dist = build_registry_distributed(spark.createDataFrame(rows, GAZETTEER_SCHEMA))
    assert dist == reference_registry(rows)
    assert dist.resolved == ["B", "C", "A"]


def test_hostile_rows_equal_kernel_build(spark):
    dist = build_registry_distributed(
        spark.createDataFrame(HOSTILE, GAZETTEER_SCHEMA),
        n_stop_words=1,
        additional_stop_words=["rock"],
    )
    assert dist == reference_registry(HOSTILE, n_stop_words=1, additional=["rock"])
    assert dist.resolved == ["NullRank", "Guitar", None, "Ant", "Dup", "Dup", "Sep", None]
    assert dist.entity_rank == [None, 0, 1, 1, 1, 1, 2, 3]
    assert dist.get_resolved_value(4) == ("Dup", "alpha delta")
    assert {"sep\x1cin", "\U0001f3b8"} <= dist.token_ids.keys()


def test_index_frames_agree_with_built_registry(spark):
    """The frames are catalog relations built independently of the
    Registry: their entity order, token interning and postings must still
    be the registry's."""
    gaz = spark.createDataFrame(HOSTILE, GAZETTEER_SCHEMA)
    reg = build_registry_distributed(gaz)
    frames = build_index_frames(gaz)
    entities = frames["entities"].orderBy("entity_id").collect()
    assert [r["entity_id"] for r in entities] == list(range(len(reg.resolved)))
    assert [r["resolved_value"] for r in entities] == reg.resolved
    assert [r["rank"] for r in entities] == reg.entity_rank
    tokens = frames["tokens"].collect()
    assert {r["token"]: r["token_id"] for r in tokens} == reg.token_ids
    postings = frames["postings"].collect()
    assert {r["token_id"]: list(r["entity_ids"]) for r in postings} == dict(
        enumerate(reg.postings)
    )
