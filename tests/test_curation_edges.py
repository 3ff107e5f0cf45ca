"""Edge-document parity for the narrow curation/dedup generators.

The fixture corpus has no 1- or 2-word documents, so boundary behavior
(empty FIM parts, a single partial chunk, sub-segment docs) is exercised
here on an adversarial mini-corpus — still cross-checked against the
SAME DuckDB oracle SQL as the driver gate, just pointed at the tiny
table.
"""

import duckdb
import pytest

from arango_clickhouse_replica_spark.queries import QUERIES

from .oracle_util import compare

EDGE_DOCS = [
    (1, "one", "en", "src1", 3),
    (2, "two words", "en", "src1", 9),
    (3, "exactly three words", "de", "src2", 19),
    (4, " ".join(f"w{i % 7}" for i in range(64)), "en", "src2", 200),
    (5, " ".join(f"w{i % 7}" for i in range(65)), "en", "src1", 205),
    (6, " ".join(f"w{i % 7}" for i in range(64)), "fr", "src2", 200),  # dup of 4
    (7, "exactly three words", "de", "src2", 19),  # dup of 3
    (8, "", "en", "src1", 0),  # empty payload (zero bytes, zero tokens)
]

EDGE_QUERIES = [
    "curation_chunk_windows",
    "curation_fim_split",
    "curation_dataset_card",
    "curation_shard_export",
    "curation_segment_dedup_rewrite",
    "text_hashed_ngram_classifier",
    "text_vocab_build",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("edge_docs")
    df = spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{edge_dir}/documents.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_corpus_parity(spark, edge_duck, edge_dir, name):
    q = QUERIES[name]
    ok, msg = compare(q.build(spark, edge_dir), edge_duck.sql(q.oracle))
    assert ok, f"{name}: {msg}"


def test_fim_split_one_word_doc(spark, edge_dir):
    row = (
        QUERIES["curation_fim_split"]
        .build(spark, edge_dir)
        .filter("doc_id = 1")
        .collect()[0]
    )
    # n=1 -> thirds are (0, 0, 1): everything lands in the suffix.
    assert (row.prefix_tokens, row.middle_tokens, row.suffix_tokens) == (0, 0, 1)


def test_chunk_windows_single_partial_chunk(spark, edge_dir):
    rows = (
        QUERIES["curation_chunk_windows"]
        .build(spark, edge_dir)
        .filter("doc_id = 2")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0].chunk_id == 0 and rows[0].chunk_tokens == 2


def test_chunk_windows_overlap_at_exact_boundary(spark, edge_dir):
    # 65 tokens: chunks start at 0 and 48 -> sizes 64 and 17.
    sizes = {
        r.chunk_id: r.chunk_tokens
        for r in QUERIES["curation_chunk_windows"]
        .build(spark, edge_dir)
        .filter("doc_id = 5")
        .collect()
    }
    assert sizes == {0: 64, 1: 17}


def test_dataset_card_counts_exact_duplicates(spark, edge_dir):
    cards = {
        (r.source, r.lang): r
        for r in QUERIES["curation_dataset_card"].build(spark, edge_dir).collect()
    }
    # src2/de holds docs 3 and 7 (identical text): 2 docs, 1 distinct.
    card = cards[("src2", "de")]
    assert card.n_docs == 2 and card.distinct_docs == 1
    assert card.dup_rate == pytest.approx(0.5)
