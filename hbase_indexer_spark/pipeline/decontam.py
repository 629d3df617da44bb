"""Benchmark decontamination and corpus n-gram statistics.

Training pipelines must remove (or at least flag) training documents that
overlap an evaluation/benchmark set — otherwise the benchmark leaks into
the training corpus and eval numbers are meaningless.  The standard
technique (used by public LLM data pipelines) is word-n-gram overlap: a
train doc is *contaminated* if it shares at least ``min_shared`` distinct
word n-grams with any document in the held-out set.

Scale shape (the only one that works at 100 TB):

- the held-out/benchmark side is SMALL (thousands of docs, not billions),
  so its distinct n-gram set is collected into a **broadcast hash join** —
  the train corpus is scanned once, map-side, with no shuffle of the text;
- the train side explodes per-doc *distinct* n-grams (dedup inside the
  row, before the join — bounds the join fan-out by doc length);
- the only shuffle is the final ``groupBy(doc_id).count()`` over matched
  grams, which is partial-aggregated map-side and carries only
  (doc_id, count) pairs for docs that matched at all.

``ngram_topk`` reuses the same per-doc distinct n-gram explode to compute
corpus-wide document frequency — the "what phrases dominate my corpus"
diagnostic — as one partially-aggregated count + a deterministic top-k.

Both have bit-exact DuckDB mirrors (same tokenizer regex, same md5-derived
split as pipeline.curation) so the t2 oracle verifies them end-to-end.

Reference analog: none (beyond-reference training-data surface, same
registry as pipeline.dedup / pipeline.curation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_indexer_spark.pipeline.curation import SPLIT_BUCKETS, _bucket, _bucket_sql
from hbase_indexer_spark.pipeline.text import tokens


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams of ``text`` (whitespace tokens joined by a
    single space).  Docs shorter than ``n`` tokens yield an empty array —
    guarded explicitly because Spark's ``sequence(1, 0)`` would count
    DOWN, not produce an empty range."""
    t = tokens(text)
    # n shifted copies zipped element-wise — n slice ops per doc instead of
    # one slice+join per gram (the per-gram form is ~5x slower: higher-order
    # transform bodies run interpreted, and each gram re-sliced the array)
    m = F.size(t) - F.lit(n - 1)
    grams = F.slice(t, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(t, j, m),
                           lambda acc, w: F.concat(acc, F.lit(" "), w))
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def _ngrams_sql(n: int, text: str = "text") -> str:
    """DuckDB mirror of :func:`word_ngrams` (1-based inclusive list_slice)."""
    toks = f"list_filter(string_split_regex({text}, '\\s+'), x -> x <> '')"
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' ')) "
        f"ELSE [] END)"
    )


def decontaminate(docs: DataFrame, n: int = 6, min_shared: int = 3,
                  test_frac: float = 0.1, salt: str = "split-v1") -> DataFrame:
    """Flag train-split documents sharing >= ``min_shared`` distinct word
    ``n``-grams with the test split.

    Returns (doc_id, n_shared) for every contaminated train doc.  The test
    split is the same deterministic hash split as
    :func:`~hbase_indexer_spark.pipeline.curation.train_test_split`, so the
    operator composes with it without re-dealing any assignment.

    The test n-gram set goes through ``F.broadcast`` — at 100 TB the train
    corpus is never shuffled; each executor streams its own split of the
    scan against the broadcast hash set.
    """
    cut = int(test_frac * SPLIT_BUCKETS)
    is_test = _bucket(F.col("doc_id"), salt) < cut
    grams = docs.select("doc_id", is_test.alias("is_test"),
                        F.explode(word_ngrams(F.col("text"), n)).alias("g"))
    test_g = grams.filter("is_test").select("g").distinct()
    return (
        grams.filter(~F.col("is_test"))
        .join(F.broadcast(test_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate_sql(n: int = 6, min_shared: int = 3,
                      test_frac: float = 0.1, salt: str = "split-v1",
                      table: str = "documents") -> str:
    cut = int(test_frac * SPLIT_BUCKETS)
    return f"""
        WITH grams AS (
            SELECT doc_id,
                   ({_bucket_sql(salt)}) < {cut} AS is_test,
                   unnest({_ngrams_sql(n)}) AS g
            FROM {table}
        ),
        test_g AS (SELECT DISTINCT g FROM grams WHERE is_test)
        SELECT doc_id, count(*) AS n_shared
        FROM grams JOIN test_g USING (g)
        WHERE NOT is_test
        GROUP BY doc_id
        HAVING count(*) >= {min_shared}
    """


def ngram_topk(docs: DataFrame, n: int = 3, k: int = 20) -> DataFrame:
    """Top-``k`` word ``n``-grams by document frequency (number of docs
    containing the gram at least once).

    One explode + one partially-aggregated count; the top-k is a global
    sort over only the (gram, df) aggregate — tiny next to the corpus.
    Ties break on the gram string so the limit is deterministic
    cross-engine.
    """
    return (
        docs.select("doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(k)
    )


def ngram_topk_sql(n: int = 3, k: int = 20, table: str = "documents") -> str:
    return f"""
        WITH grams AS (
            SELECT doc_id, unnest({_ngrams_sql(n)}) AS ngram FROM {table}
        )
        SELECT ngram, count(*) AS df
        FROM grams
        GROUP BY ngram
        ORDER BY df DESC, ngram ASC
        LIMIT {k}
    """


def semantic_decontam(emb: DataFrame, threshold: float = 0.4,
                      test_frac: float = 0.1, salt: str = "split-v1",
                      dim: int = 64, n_bits: int = 6,
                      n_tables: int = 8) -> DataFrame:
    """Embedding-space decontamination: flag train-split vectors whose
    embedding has cosine >= ``threshold`` to ANY test-split vector — the
    paraphrase/translation contamination the n-gram screen
    (:func:`decontaminate`) structurally cannot catch.

    Returns ``(vec_id, n_test_hits)`` per contaminated train vector,
    where ``n_test_hits`` counts the distinct test vectors above the
    threshold among LSH candidates.  The split is the same deterministic
    hash deal as ``train_test_split`` (over ``vec_id``), and the
    candidate generation is the same OR-amplified hyperplane machinery
    as ``embedding_cosine_pairs_lsh`` — deterministic LCG planes, so the
    approximate screen has an exact SQL mirror.

    Scale: one corpus pass computes all sketches + the norm; candidates
    come from train-x-test band-equality joins (never a cross join);
    verification is dot-only on candidates.  At 100 TB the test split is
    small and hot — the band join broadcasts it."""
    from hbase_indexer_spark.pipeline.curation import SPLIT_BUCKETS, _bucket
    from hbase_indexer_spark.pipeline.similarity import (
        cosine_at_least,
        hyperplane_sketches,
        norm,
    )

    cut = int(test_frac * SPLIT_BUCKETS)
    sk = emb.select(
        "vec_id", "embedding",
        norm(F.col("embedding")).alias("nrm"),
        (_bucket(F.col("vec_id"), salt) < cut).alias("is_test"),
        *hyperplane_sketches(F.col("embedding"), dim, n_bits, n_tables),
    )
    tables = sk.select(
        "vec_id", "is_test",
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(n_tables)]))
        .alias("tbl", "bkt"),
    )
    train = tables.filter(~F.col("is_test")) \
        .select(F.col("vec_id").alias("x"), "tbl", "bkt")
    test = tables.filter(F.col("is_test")) \
        .select(F.col("vec_id").alias("y"), "tbl", "bkt")
    cands = train.join(F.broadcast(test), ["tbl", "bkt"]).select("x", "y")
    ex = sk.filter(~F.col("is_test")).select(
        F.col("vec_id").alias("x"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"))
    # only the (small, hot) TEST split is broadcast — never the corpus
    ey = sk.filter(F.col("is_test")).select(
        F.col("vec_id").alias("y"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"))
    return (
        cands.join(ex, "x").join(F.broadcast(ey), "y")
        .filter(cosine_at_least(F.col("va"), F.col("vb"), F.col("na"),
                                F.col("nb"), threshold))
        .groupBy(F.col("x").alias("vec_id"))
        .agg(F.count_distinct(F.col("y")).alias("n_test_hits"))
    )


def semantic_decontam_sql(threshold: float = 0.4, test_frac: float = 0.1,
                          salt: str = "split-v1", dim: int = 64,
                          n_bits: int = 6, n_tables: int = 8) -> str:
    """DuckDB mirror of :func:`semantic_decontam` — LCG planes inline as
    literals, same split hash, count(DISTINCT) over verified candidates."""
    from hbase_indexer_spark.pipeline.curation import SPLIT_BUCKETS, _bucket_sql
    from hbase_indexer_spark.pipeline.similarity import _hyperplane

    cut = int(test_frac * SPLIT_BUCKETS)

    def sketch_expr(off: int) -> str:
        terms = []
        for b in range(n_bits):
            plane = ", ".join(repr(c) for c in _hyperplane(dim, off + b))
            terms.append(
                f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"[{plane}]) >= 0 THEN {1 << b} ELSE 0 END)"
            )
        return " + ".join(terms)

    ctes, selects = [], []
    for t in range(n_tables):
        ctes.append(f"""
        sk{t} AS (
            SELECT vec_id,
                   ({_bucket_sql(salt, 'vec_id')}) < {cut} AS is_test,
                   CAST({sketch_expr(t * n_bits)} AS BIGINT) AS bkt
            FROM embeddings
        )""")
        selects.append(
            f"SELECT a.vec_id AS x, b.vec_id AS y FROM sk{t} a "
            f"JOIN sk{t} b ON a.bkt = b.bkt "
            f"AND NOT a.is_test AND b.is_test"
        )
    cands = " UNION ALL ".join(selects)
    return f"""
        WITH {", ".join(ctes)},
        cands AS (SELECT DISTINCT x, y FROM ({cands}))
        SELECT c.x AS vec_id,
               CAST(count(DISTINCT c.y) AS BIGINT) AS n_test_hits
        FROM cands c
        JOIN embeddings ea ON ea.vec_id = c.x
        JOIN embeddings eb ON eb.vec_id = c.y
        WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[]))
              >= {threshold}
        GROUP BY c.x
    """
