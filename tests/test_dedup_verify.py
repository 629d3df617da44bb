"""MinHash verify on shingle arrays and representative-level screening.

Pins: ``deduped_corpus`` on a duplicate-heavy corpus matches the DuckDB
oracle; ``minhash_lsh_dedup_pairs`` matches the exact inverted-index pairs
including every Jaccard double; NULL/empty text keeps its established
behaviour (both shingle to the empty string, so they pair with each
other); and none of the dedup operators leaves a persisted table behind.
"""

import random

import duckdb
import pytest

from hbase_indexer_spark.pipeline.dedup import (
    dedup_against,
    deduped_corpus,
    deduped_corpus_sql,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
)

SCHEMA = "doc_id long, text string"


def _dup_heavy_rows():
    """Exact clusters of dozens of copies, one-token edits of each base
    (J >= 0.9, far from the banding's recall cliff), whitespace variants
    (same shingle set, different md5) and docs shorter than 3 tokens.
    Doc ids are shuffled so a cluster's lowest id is not its first copy."""
    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    for k, copies in enumerate((36, 24, 48, 1, 5, 2, 30)):
        base = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(25, 60)))
        texts += [base] * copies
        toks = base.split()
        toks[-1] = f"edit{k}"
        texts.append(" ".join(toks))
        texts.append("  " + base.replace(" ", " \t ") + "\n")
    texts += ["a", "a", "a b", "a  b", " a b ", "b a", "x y", "x y", "q"]
    ids = rnd.sample(range(100, 10_000), len(texts))
    return list(zip(ids, texts))


# NULL and empty text: the Spark tokenizer gives both the single shingle
# "" (DuckDB gives NULL text a NULL shingle that never matches), so they
# are pinned separately: the lowest of them survives, here the NULL doc 3
NULL_EMPTY = [(3, None), (50, None), (7, ""), (60, ""), (9, "   ")]


@pytest.fixture(scope="module")
def heavy(spark):
    return spark.createDataFrame(_dup_heavy_rows(), SCHEMA)


def _duck_kept(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return [r[0] for r in con.execute(deduped_corpus_sql(0.7)).fetchall()]


def test_deduped_corpus_matches_oracle_on_duplicate_heavy_corpus(heavy):
    got = [r[0] for r in deduped_corpus(heavy, threshold=0.7).collect()]
    want = _duck_kept(_dup_heavy_rows())
    assert got == want
    # each base family (copies, edit, whitespace variant) is a near-dup
    # clique, so one doc survives per family; short docs: "a", "a b" (its
    # whitespace variants pair with it), "b a", "x y", "q"
    assert len(got) == 7 + 5


def test_deduped_corpus_null_and_empty_text(spark):
    rows = _dup_heavy_rows()
    got = [r[0] for r in deduped_corpus(
        spark.createDataFrame(rows + NULL_EMPTY, SCHEMA), 0.7).collect()]
    assert got == sorted(_duck_kept(rows) + [3])


def test_minhash_pairs_equal_exact_pairs_with_jaccard(spark):
    docs = spark.createDataFrame(_dup_heavy_rows() + NULL_EMPTY, SCHEMA)
    lsh = sorted(tuple(r) for r in minhash_lsh_dedup_pairs(docs, 0.7).collect())
    exact = sorted(tuple(r) for r in ngram_jaccard_pairs(docs, 0.7).collect())
    assert lsh == exact
    # the 36/24/48/30-copy clusters alone give C(k+2, 2) pairs each
    assert len(lsh) > 2000
    assert (3, 50, 1.0) in lsh and (7, 60, 1.0) in lsh


def test_dedup_operators_leave_nothing_persisted(spark, heavy):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    deduped_corpus(heavy, 0.7).collect()
    minhash_lsh_dedup_pairs(heavy, 0.7).collect()
    minhash_lsh_dedup_pairs(heavy, 0.7, max_bucket_size=4).collect()
    dedup_against(heavy.filter("doc_id % 2 = 0"),
                  heavy.filter("doc_id % 2 = 1"), 0.7).collect()
    assert jsc.getPersistentRDDs().size() == before
