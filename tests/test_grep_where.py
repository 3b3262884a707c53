"""Full-text token search with per-block token Blooms
(`engine.grep_where` / `token_bloom_cols`): exact-token match semantics
vs a plain Spark filter, metadata-speed pruning for absent words, AND
of words, and graceful degradation on tables without the filter."""
import pytest
from pyspark.sql import functions as F

from oroch_spark import engine


def _tok_match(col, word):
    return F.array_contains(
        F.split(F.coalesce(F.col(col), F.lit("")),
                engine._TOKEN_SPLIT_RE), word)


def _token_kept(blocks, word):
    """Blocks the block index keeps by the text column's token Bloom."""
    ix = engine._BlockIndex.of(blocks)
    return len(ix.keep(lambda i: ix.bloom(i, "text", word, engine.K_STR,
                                          "tbm")))


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read
            .parquet("/root/testdata/sf0.001/documents.parquet"))


@pytest.fixture(scope="module")
def doc_blocks(spark, docs):
    kinds = engine.column_kinds(docs.schema)
    blocks = engine.encode_df(docs, ["doc_id"], n_buckets=4,
                              block_rows=16,
                              token_bloom_cols=["text"]).cache()
    blocks.count()
    yield blocks, kinds
    blocks.unpersist()


def test_grep_matches_spark_filter(docs, doc_blocks):
    blocks, kinds = doc_blocks
    # a real word from the corpus, present in a minority of docs
    word = "spark"
    exp = docs.filter(_tok_match("text", word))
    assert 0 < exp.count() < docs.count()
    got = engine.grep_where(blocks, kinds, "text", word)
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in exp.collect())
    # projection path: probe column decoded but not returned
    got2 = engine.grep_where(blocks, kinds, "text", word,
                             columns=["doc_id"])
    assert got2.columns == ["doc_id"]
    assert got2.count() == exp.count()


def test_grep_and_of_words(docs, doc_blocks):
    blocks, kinds = doc_blocks
    words = ["spark", "window"]
    exp = docs.filter(_tok_match("text", words[0])
                      & _tok_match("text", words[1]))
    got = engine.grep_where(blocks, kinds, "text", words)
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in exp.collect())


def test_grep_absent_word_prunes_every_block(doc_blocks):
    blocks, kinds = doc_blocks
    assert _token_kept(blocks, "zzqqxxnope") == 0
    assert engine.grep_where(blocks, kinds, "text",
                             "zzqqxxnope").count() == 0


def test_grep_present_word_prunes_some_blocks(docs, doc_blocks):
    """A rare word ('dup', ~5% of docs) must skip most blocks — the
    pruning is real, not just correct — and still answer exactly."""
    blocks, kinds = doc_blocks
    total = blocks.count()
    kept = _token_kept(blocks, "dup")
    exp = docs.filter(_tok_match("text", "dup"))
    n_match = exp.count()
    assert 0 < n_match <= total  # rare but present
    # kept is bounded by the docs' true block spread (each matching doc
    # occupies one 16-row block) plus a small false-positive allowance
    assert kept <= n_match + max(2, total // 10), (kept, n_match, total)
    assert kept < total, (kept, total)  # real skipping happened
    got = engine.grep_where(blocks, kinds, "text", "dup")
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in exp.collect())


def test_grep_legacy_blocks_degrade_to_scan(spark, docs):
    """Blocks encoded WITHOUT token_bloom_cols: grep_where keeps every
    block (no false negatives) and still answers exactly."""
    kinds = engine.column_kinds(docs.schema)
    blocks = engine.encode_df(docs, ["doc_id"], n_buckets=2,
                              block_rows=64).cache()
    try:
        word = "spark"
        exp = docs.filter(_tok_match("text", word))
        got = engine.grep_where(blocks, kinds, "text", word)
        assert sorted(r.doc_id for r in got.collect()) \
            == sorted(r.doc_id for r in exp.collect())
        assert _token_kept(blocks, word) == blocks.count()
    finally:
        blocks.unpersist()


def test_grep_probe_validation(doc_blocks):
    blocks, kinds = doc_blocks
    with pytest.raises(ValueError):
        engine.grep_where(blocks, kinds, "text", "two words")
    with pytest.raises(ValueError):
        engine.grep_where(blocks, kinds, "text", [])
    with pytest.raises(ValueError):
        engine.grep_where(blocks, kinds, "text", "punct!")


def test_token_bloom_requires_string_column(spark, docs):
    with pytest.raises(Exception):  # surfaces as PythonException in job
        engine.encode_df(docs, ["doc_id"], n_buckets=2, block_rows=64,
                         token_bloom_cols=["doc_id"]).count()
