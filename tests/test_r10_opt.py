"""Round-10 optimization guards: the grouped (distinct-token-set)
prefix-filter machinery must be invisible in the produced pair set."""

def test_prefix_filter_identical_sets_pair_at_exactly_1e6(spark):
    """Docs whose distinct token sets are equal (including permuted /
    repeated tokens) pair at exactly 1_000_000 — the same-set branch of
    the grouped machinery."""
    from hbase_indexer_spark.pipeline.dedup import prefix_filter_pairs

    rows = [(1, "alpha beta gamma"),
            (2, "gamma alpha beta"),          # permutation: same set
            (3, "alpha alpha beta gamma"),    # repetition: same set
            (4, "totally different words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 prefix_filter_pairs(df, threshold_micro=900_000).collect())
    assert got == [(1, 2, 1_000_000), (1, 3, 1_000_000),
                   (2, 3, 1_000_000)]


def test_prefix_filter_threshold_above_1e6_yields_nothing(spark):
    """Jaccard can never exceed 1e6, so t > 1e6 must produce zero pairs
    even among identical docs (the same-set branch must not leak)."""
    from hbase_indexer_spark.pipeline.dedup import prefix_filter_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c")],
        "doc_id long, text string")
    assert prefix_filter_pairs(df, threshold_micro=1_000_001).count() == 0
    assert prefix_filter_pairs(df, threshold_micro=1_000_000).count() == 3


def test_prefix_filter_tokenless_docs_never_pair(spark):
    """Empty/NULL-text docs have empty token sets; they paired with
    nothing before the grouping change (no shared token exists) and
    must still pair with nothing — including with each other."""
    from hbase_indexer_spark.pipeline.dedup import prefix_filter_pairs

    rows = [(1, ""), (2, None), (3, "   "), (4, "real tokens here"),
            (5, "real tokens here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 prefix_filter_pairs(df, threshold_micro=500_000).collect())
    assert got == [(4, 5, 1_000_000)]


def test_idle_record_head_stamp_gates_adjudication():
    """The regression pre-adjudicator may only consult a committed idle
    record that measured the SAME code (VERDICT r9 #7).  Matching is by
    code-path tree hash when the record carries one (the commit of the
    record itself must not unmatch it); head-stamped records fall back to
    exact-commit equality; unstamped legacy records stay usable."""
    import bench

    assert bench._idle_record_usable({}, "abc") is True
    assert bench._idle_record_usable({"git_head": None}, "abc") is True
    assert bench._idle_record_usable({"git_head": "abc"}, "abc") is True
    assert bench._idle_record_usable({"git_head": "abc"}, "def") is False
    assert bench._idle_record_usable({"git_head": "abc"}, None) is False
    # code_tree matching takes precedence and survives record commits
    rec = {"git_head": "old_commit", "code_tree": "t1"}
    assert bench._idle_record_usable(rec, "new_commit", "t1") is True
    assert bench._idle_record_usable(rec, "old_commit", "t2") is False
    assert bench._idle_record_usable(rec, "old_commit", None) is False


def test_code_tree_stamp_stable_under_record_commits():
    """The stamp hashes only the measured code paths, so it must be
    non-None on a clean tree and computable twice identically."""
    import bench

    t1, t2 = bench._code_tree(), bench._code_tree()
    assert t1 == t2
    if t1 is not None:
        assert len(t1) == 16 and all(c in "0123456789abcdef" for c in t1)


def test_bench_git_head_resolves_in_repo():
    import bench

    head = bench._git_head()
    assert head is None or (len(head) == 40
                            and all(c in "0123456789abcdef" for c in head))


def test_prefix_filter_join_identical_sets_across_sides(spark):
    """R-S form: equal sets on opposite sides are DIFFERENT groups and
    must still meet (jacc 1e6), with overlapping doc_id spaces."""
    from hbase_indexer_spark.pipeline.dedup import prefix_filter_join

    L = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "p q r s t u v w")],
        "doc_id long, text string")
    R = spark.createDataFrame(
        [(1, "z y x"), (9, "unrelated totally different words")],
        "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 prefix_filter_join(L, R, threshold_micro=900_000).collect())
    assert got == [(1, 1, 1_000_000), (2, 1, 1_000_000)]


# --- small_batch_tuning ownership guards (r10 #5, ADVICE r9) -------------

def test_tuning_nested_block_is_noop(spark):
    """An inner tuning block while one is active must NOT stack conf
    writes: the outer width stays in force and is restored exactly once."""
    from hbase_indexer_spark.functions.tuning import small_batch_tuning

    sess = spark.conf.get("spark.sql.shuffle.partitions")
    with small_batch_tuning(spark, 1):
        outer = spark.conf.get("spark.sql.shuffle.partitions")
        assert outer == "4"
        with small_batch_tuning(spark, 200_000_000):
            # inner asked for a bigger width; the outer owner keeps it
            assert spark.conf.get("spark.sql.shuffle.partitions") == outer
        # inner exit must not restore anything
        assert spark.conf.get("spark.sql.shuffle.partitions") == outer
    assert spark.conf.get("spark.sql.shuffle.partitions") == sess


def test_tuning_restores_on_exception(spark):
    from hbase_indexer_spark.functions.tuning import small_batch_tuning

    sess = spark.conf.get("spark.sql.shuffle.partitions")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        with small_batch_tuning(spark, 1):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == sess
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    # and the ownership flag was released: a new block tunes again
    with small_batch_tuning(spark, 1):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_tuning_non_integer_width_is_noop():
    """Platforms whose session reports shuffle.partitions='auto' must not
    crash the int() parse (ADVICE r9) — the block becomes a no-op.  Spark 4
    validates the conf value on set, so the platform is simulated with a
    stub session (the parse guard runs before any Spark call)."""
    from hbase_indexer_spark.functions.tuning import small_batch_tuning

    class _Conf:
        def get(self, k, d=None):
            return "auto"

        def set(self, k, v):  # pragma: no cover - must never be called
            raise AssertionError("no-op block must not write conf")

    class _Spark:
        conf = _Conf()

    with small_batch_tuning(_Spark(), 1):
        pass  # entered and exited without touching conf


# --- embedding LSH over distinct vectors ----------------------------------

_LSH_BASE = [float(i % 7) - 3.0 for i in range(8)]


def _lsh_pairs_spark_and_duckdb(spark, rows, threshold):
    """``(spark_pairs, duckdb_pairs)``: ``embedding_cosine_pairs_lsh`` vs
    its DuckDB mirror ``embedding_cosine_pairs_lsh_sql`` on the same rows
    (dim 8, 4 bits, 4 tables)."""
    import duckdb

    from hbase_indexer_spark.pipeline.dedup import (
        embedding_cosine_pairs_lsh,
        embedding_cosine_pairs_lsh_sql,
    )

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(tuple(r) for r in embedding_cosine_pairs_lsh(
        emb, threshold=threshold, dim=8, n_bits=4, n_tables=4).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = sorted(con.execute(
        embedding_cosine_pairs_lsh_sql(threshold, 8, 4, 4)).fetchall())
    return got, want


def test_lsh_pairs_match_duckdb_on_duplicates(spark):
    """Value-equal vectors are interchangeable for sketches and cosine, so
    the distinct-vector pipeline must emit exactly the oracle's id-level
    pair set: same-group pairs (identical vectors collide in every table
    and score cosine(v,v)), cross-group pairs, and nothing for NULL or
    all-zero embeddings (a zero norm never pairs; ANSI division by it
    used to raise)."""
    near = [v + (0.01 if i == 0 else 0.0) for i, v in enumerate(_LSH_BASE)]
    far = [(-1.0) ** i * (i + 1.0) for i in range(8)]
    zero = [0.0] * 8
    rows = [
        (1, _LSH_BASE), (2, _LSH_BASE), (5, _LSH_BASE),  # 3 identical copies
        (3, near), (7, near),                             # 2 copies of a near dup
        (4, far),
        (6, zero), (8, zero),                             # zero vectors
        (9, None),                                        # NULL never pairs
    ]
    got, want = _lsh_pairs_spark_and_duckdb(spark, rows, 0.4)
    assert got == want and len(got) > 0
    # the duplicate copies must all pair with each other
    for pair in [(1, 2), (1, 5), (2, 5), (3, 7)]:
        assert pair in got
    assert not {6, 8, 9} & {i for pair in got for i in pair}


def test_lsh_pairs_match_duckdb_on_dup_free_input(spark):
    rows = [(i, [float((i * j) % 5) - 2.0 for j in range(8)])
            for i in range(1, 12)]
    got, want = _lsh_pairs_spark_and_duckdb(spark, rows, 0.3)
    assert got == want and len(got) > 0


def test_lsh_pairs_nan_vectors_pinned(spark):
    """NaN-bearing vectors: every plane product is NaN, and Spark orders
    NaN above every number, so ``NaN >= 0`` sets every sketch bit and
    ``NaN >= t`` passes the cosine gate.  The two NaN vectors therefore
    pair with each other and with any vector whose sketch is all ones.
    DuckDB cannot mirror this (Python NaN list elements reach it as NULL
    elements, which its list functions reject), so the established output
    is pinned here; whether a NaN vector should pair at all is an open
    question."""
    from hbase_indexer_spark.pipeline.dedup import embedding_cosine_pairs_lsh

    nan = float("nan")
    rows = [(1, [nan] + _LSH_BASE[1:]), (2, _LSH_BASE[:7] + [nan]),
            (3, _LSH_BASE), (4, [(-1.0) ** i * (i + 1.0) for i in range(8)]),
            (5, [1.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(tuple(r) for r in embedding_cosine_pairs_lsh(
        emb, threshold=0.4, dim=8, n_bits=4, n_tables=4).collect())
    assert got == [(1, 2)]
