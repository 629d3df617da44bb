"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for the 100 TB shape:

- exact dedup: one hash-shuffle on the content hash; no text comparison.
- n-gram Jaccard (brute): shingle inverted index -> co-shingle pair counts.
  Quadratic in the worst case — the *baseline*, not the scale path.
- MinHash+LSH: signatures are a single pass (map-side aggregation per doc);
  banding turns the pairwise problem into 16 equality-join buckets; exact
  Jaccard is then verified for candidates only, so cost is
  O(docs + candidate pairs), never O(docs^2).
- SimHash: one pass to a 60-bit signature; near-dup = small hamming radius.

All hashing is md5-derived (see pipeline.text.token_hash60) so every stage
has a deterministic DuckDB oracle.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_indexer_spark.functions.fastlit import array_lit
from hbase_indexer_spark.pipeline.text import token_hash60, tokens

P = 1_000_000_007

# fixed MinHash permutation constants (simple LCG-generated, seeded — same
# literals feed the SQL oracle)
def _perm_constants(k: int) -> list[tuple[int, int]]:
    out = []
    x = 1103515245
    for _ in range(k):
        x = (x * 1103515245 + 12345) % (2 ** 31)
        a = (x % (P - 1)) + 1
        x = (x * 1103515245 + 12345) % (2 ** 31)
        b = x % P
        out.append((a, b))
    return out


N_SIGS = 48
N_BANDS = 16
ROWS_PER_BAND = 3
PERMS = _perm_constants(N_SIGS)


def shingles_of(t: Column, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles over a token-array column; docs
    shorter than n tokens get their whole text as the single shingle.

    ``t`` should be a BOUND attribute (materialized column), not an
    inline ``tokens(text)`` expression: higher-order-function lambdas
    are interpreted and re-evaluate the referenced expression tree per
    element, so an inlined tokenizer re-splits the document once per
    gram — O(tokens^2) per doc (see _token_arrays for the Generate
    barrier that materializes it)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(F.array(F.concat_ws(" ", t)))
    )


TOKS_SQL = "list_filter(string_split_regex(text,'\\s+'), x -> x <> '')"
# NULL-safe variant: coalesce the text first, so a NULL document tokens
# to [] instead of NULL (keeps Spark/DuckDB parity under NULL text)
TOKS_SQL_NN = ("list_filter(string_split_regex(coalesce(text, ''),"
               "'\\s+'), x -> x <> '')")


def hash60_sql(expr: str) -> str:
    """DuckDB mirror of ``text.token_hash60`` over a VARCHAR expression:
    the 60-bit md5-derived hash both engines share.  One template so the
    oracle builders can't drift from the Spark-side recipe."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingles_sql(n: int = 3, toks: str = "toks") -> str:
    """DuckDB expression over a ``toks`` list column (pair of shingles_of())."""
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks})-{n - 2}), i -> {parts})) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


def shingle_cte_sql(n: int = 3) -> str:
    """CTE prefix producing sh(doc_id, s): exploded distinct shingles."""
    return f"""
        tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({shingles_sql(n)}) AS s FROM tk)
    """


def _token_arrays(docs: DataFrame) -> DataFrame:
    # a single-element explode materializes the token array as a bound
    # attribute (a CollapseProject barrier, map-side), so the gram lambda
    # reads an array instead of re-splitting the text per gram
    return docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("_toks"))


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """``(doc_id, sh)``: each doc's distinct shingle array — the array
    ``exploded_shingles`` explodes."""
    return _token_arrays(docs).select(
        "doc_id", shingles_of(F.col("_toks"), n).alias("sh"))


def exploded_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """``(doc_id, sh)`` with one row per distinct shingle of each doc.
    The explode takes the shingle expression itself: over an attribute,
    the optimizer infers a ``size(sh) > 0`` filter and pushes it below the
    projection, which would shingle every doc twice."""
    return _token_arrays(docs).select(
        "doc_id", F.explode(shingles_of(F.col("_toks"), n)).alias("sh"))


def jaccard_verify(cands: DataFrame, x_sets: DataFrame, y_sets: DataFrame,
                   threshold: float, x: str = "x", y: str = "y") -> DataFrame:
    """``(x, y, jaccard)`` for the candidate pairs with exact shingle
    Jaccard >= threshold, scored on the two ``shingle_sets`` arrays as
    ``|a ∩ b| / (|a| + |b| - |a ∩ b|)``: the same integers, hence the same
    doubles, as counting matched rows of the exploded shingle tables."""
    a = x_sets.select(F.col("doc_id").alias(x), F.col("sh").alias("_a"))
    b = y_sets.select(F.col("doc_id").alias(y), F.col("sh").alias("_b"))
    inter = F.size(F.array_intersect("_a", "_b"))
    return (
        cands.join(a, x).join(b, y)
        .select(x, y, (inter.cast("double")
                       / (F.size("_a") + F.size("_b") - inter).cast("double")
                       ).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Distinct-value pair kernel
# ---------------------------------------------------------------------------

def distinct_value_pairs(rows: DataFrame, id_col: str, key: str,
                         rep_pairs: Callable[[DataFrame, DataFrame], DataFrame],
                         *, derive: Sequence[Column] = (),
                         same_gate: Column | None = None,
                         same_cols: Sequence[Column] = (),
                         right: DataFrame | None = None) -> DataFrame:
    """Candidate pairs over DISTINCT values of ``key``, expanded to ids.

    When a pair's score depends only on the two key values, rows sharing
    a value are interchangeable.  Each side groups into one row per value,
    ``(gid = min id, ids = sorted ids, key, *derive)``, pinned once (every
    branch below reads it).  ``rep_pairs(left_groups, right_groups)`` then
    runs the quadratic candidate + verify step once per distinct value and
    returns verified ``(gx, gy, *extras)`` group pairs; each expands to
    the cross product of the two groups' ids.  A group of g equal rows
    costs one row instead of O(g²) candidates in every bucket it meets.

    Self join (``right`` is None; both arguments are the same table):
    pairs come out as ``least/greatest`` of the ids, and groups with >= 2
    ids that pass ``same_gate`` add their within-group pairs, scored by
    ``same_cols`` (named like the extras).  Groups partition the ids, so
    every pair appears once.  R-S join: ``x`` is a ``rows`` id, ``y`` a
    ``right`` id, cross pairs only.  Returns ``(x, y, *extras)``."""
    width = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def groups_of(df: DataFrame) -> DataFrame:
        # the fixed-width key repartition IS the aggregate's shuffle, and
        # AQE does not coalesce it: ``derive`` (sketch folds, the costly
        # part) runs on every core instead of the one or two tasks a
        # byte-small coalesced aggregate output would get
        return (df.repartition(width, key)
                .groupBy(key)
                .agg(F.min(id_col).alias("gid"),
                     F.sort_array(F.collect_list(id_col)).alias("ids"))
                .select("gid", "ids", key, *derive)
                .localCheckpoint(eager=False))

    gl = groups_of(rows)
    gr = gl if right is None else groups_of(right)
    pairs = rep_pairs(gl, gr)
    extras = [c for c in pairs.columns if c not in ("gx", "gy")]
    both = (pairs
            .join(gl.select(F.col("gid").alias("gx"), F.col("ids").alias("xs")), "gx")
            .join(gr.select(F.col("gid").alias("gy"), F.col("ids").alias("ys")), "gy")
            .select(F.explode("xs").alias("a"), "ys", *extras)
            .select("a", F.explode("ys").alias("b"), *extras))
    if right is not None:
        return both.select(F.col("a").alias("x"), F.col("b").alias("y"), *extras)
    cross = both.select(F.least("a", "b").alias("x"),
                        F.greatest("a", "b").alias("y"), *extras)
    # ids is sorted, so position order IS x < y
    same = (gl.filter((F.size("ids") >= 2) & same_gate)
            .select(F.posexplode("ids").alias("i", "x"), "ids", *same_cols)
            .select("x", F.explode(F.expr("slice(ids, i + 2, size(ids))"))
                    .alias("y"), *extras))
    return cross.unionByName(same)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Group identical texts by md5; keep the lowest doc_id as canonical.
    One shuffle on the 128-bit content hash — the only strategy that
    survives 100 TB (no text ever compared)."""
    return (
        docs.select(F.md5(F.col("text")).alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
    SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (brute-force baseline)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.7,
                        n: int = 3) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold, via a shingle
    inverted index (pairs sharing zero shingles are never materialized)."""
    sh = exploded_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sx = sizes.alias("sx")
    sy = sizes.alias("sy")
    return (
        inter.join(sx, F.col("x") == F.col("sx.doc_id"))
        .join(sy, F.col("y") == F.col("sy.doc_id"))
        .select(
            "x", "y",
            (F.col("n_inter").cast("double")
             / (F.col("sx.n_sh") + F.col("sy.n_sh") - F.col("n_inter")).cast("double")
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql(threshold: float = 0.7, n: int = 3) -> str:
    return f"""
        WITH {shingle_cte_sql(n)}, sz AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT x, y,
               CAST(n_inter AS DOUBLE) / CAST(sx.n_sh + sy.n_sh - n_inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sz sx ON x = sx.doc_id
        JOIN sz sy ON y = sy.doc_id
        WHERE CAST(n_inter AS DOUBLE) / CAST(sx.n_sh + sy.n_sh - n_inter AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# N-gram containment (doc-in-doc detection)
# ---------------------------------------------------------------------------

def ngram_containment_pairs(docs: DataFrame, threshold: float = 0.8,
                            n: int = 3) -> DataFrame:
    """Directional containment: pairs where ``|sh(x) ∩ sh(y)| / |sh(x)| >=
    threshold`` — doc ``x`` is (near-)contained in ``y``.  Catches the
    quote/subset duplicates Jaccard structurally misses: a short doc fully
    embedded in a long one has tiny Jaccard (union is dominated by the long
    doc) but containment 1.0.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (pairs sharing
    zero shingles never materialize), both directions kept.  Declared
    brute baseline: MinHash-LSH does NOT retrieve these candidates (minhash
    approximates Jaccard, which is exactly what containment escapes), so
    the scale path is a one-sided scheme over the SMALLER doc's shingles
    (sample k of sh(x), probe the inverted index, verify survivors) —
    the verify step below is that verifier.
    """
    sh = exploded_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes, F.col("x") == F.col("doc_id"))
        .select(
            "x", "y", "n_inter", F.col("n_sh").alias("n_x"),
            (F.col("n_inter").cast("double") / F.col("n_sh").cast("double"))
            .alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_containment_sql(threshold: float = 0.8, n: int = 3) -> str:
    return f"""
        WITH {shingle_cte_sql(n)}, sz AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT x, y, n_inter, sz.n_sh AS n_x,
               CAST(n_inter AS DOUBLE) / CAST(sz.n_sh AS DOUBLE) AS containment
        FROM inter JOIN sz ON x = sz.doc_id
        WHERE CAST(n_inter AS DOUBLE) / CAST(sz.n_sh AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def _sig_min_exprs() -> list[Column]:
    """The 48 per-permutation min aggregations, one expression parse each:
    the element-wise Column form (`F.min((F.col("h") * a + b) % P)`) costs
    ~6 py4j round trips per permutation (~0.6s of driver time per caller —
    the fastlit.py plan-construction tax); the parsed SQL text is the same
    expression tree with identical integer types."""
    return [F.expr(f"min((h * {a} + {b}) % {P}) AS s{i}")
            for i, (a, b) in enumerate(PERMS)]


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """k=48 MinHash signatures per doc: explode shingles once, 48 min-aggs
    over (a*h+b) % p — a single map-side-combinable aggregation."""
    return sigs_from_shingles(exploded_shingles(docs, n))


def minhash_signatures_sql(n: int = 3, k: int = N_SIGS) -> str:
    mins = ", ".join(
        f"min((h * {a} + {b}) % {P}) AS s{i}" for i, (a, b) in enumerate(PERMS[:k])
    )
    return f"""
        WITH {shingle_cte_sql(n)}, hashed AS (
            SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {P} AS h
            FROM sh
        )
        SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
    """


def sigs_from_shingles(sh: DataFrame) -> DataFrame:
    """48 MinHash signature mins in one map-side-combinable aggregation
    over exploded shingles ``(doc_id, sh)``."""
    return sh.withColumn(
        "h", token_hash60(F.col("sh")) % P
    ).groupBy("doc_id").agg(*_sig_min_exprs())


def band_keys(sigs: DataFrame) -> DataFrame:
    """``(doc_id, band, bkey)`` — the 16 band keys explode out of ONE pass
    over the signatures (a 16-way union of selects would recompute the
    signature aggregation per band)."""
    # one parsed literal array of 16 structs (the element-wise struct/
    # concat_ws build cost ~8 py4j calls per band — see fastlit.py)
    entries = ", ".join(
        "struct({band} AS band, concat_ws(':', {cols}) AS bkey)".format(
            band=band,
            cols=", ".join(f"s{band * ROWS_PER_BAND + j}"
                           for j in range(ROWS_PER_BAND)))
        for band in range(N_BANDS)
    )
    return sigs.select(
        "doc_id", F.explode(F.expr(f"array({entries})")).alias("e")
    ).select("doc_id", F.col("e.band").alias("band"),
             F.col("e.bkey").alias("bkey"))


def lsh_candidate_pairs(sigs: DataFrame,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Band k=48 sigs into 16 bands of 3 rows; docs sharing any band bucket
    are candidates.  Equality join on (band, key) — shuffle on the band key,
    never a cross join.  The 16 band keys explode out of ONE pass over the
    signatures (a 16-way union of selects would recompute the signature
    aggregation per band).

    ``max_bucket_size`` is the hot-bucket guard for template-heavy corpora
    (boilerplate pages, license headers): a bucket holding k docs emits
    k(k-1)/2 all-pairs rows — one million-member bucket is a 10^12-row
    join.  Buckets over the cap instead emit STAR candidates (every member
    paired with the bucket's min doc_id): linear in bucket size, and since
    downstream verification is exact Jaccard, precision is unchanged;
    recall within an oversized bucket holds whenever its members are
    mutually near-dup (the template case that creates such buckets),
    reached transitively through the representative in
    connected-components.  Default None preserves exact all-pairs
    candidates."""
    bands = band_keys(sigs)
    if max_bucket_size is None:
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
            .distinct()
        )
    stats = bands.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_rep"))
    tagged = bands.join(stats, ["band", "bkey"])
    small = tagged.filter(F.col("_n") <= max_bucket_size) \
                  .select("doc_id", "band", "bkey")
    a, b = small.alias("a"), small.alias("b")
    all_pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
    )
    star = (
        tagged.filter((F.col("_n") > max_bucket_size)
                      & (F.col("doc_id") != F.col("_rep")))
        .select(F.col("_rep").alias("x"), F.col("doc_id").alias("y"))
    )
    return all_pairs.unionByName(star).distinct()


def minhash_lsh_dedup_pairs(docs: DataFrame, threshold: float = 0.7,
                            n: int = 3,
                            max_bucket_size: int | None = None) -> DataFrame:
    """The scale path: LSH candidates -> exact Jaccard verification for
    candidates ONLY (never all pairs).  With 16 bands x 3 rows, recall at
    J>=0.9 is 1 - (1-0.9^3)^16 ~ 1 - 8e-10; the driver data's true dups are
    all J>=0.9 (verified), so output == exact-Jaccard output.

    Candidates are verified on the docs' shingle arrays
    (``jaccard_verify``); nothing is cached or left persisted.

    ``max_bucket_size``: hot-bucket star-candidate guard, see
    lsh_candidate_pairs — set it on template-heavy corpora where a single
    band bucket can hold thousands of members."""
    sigs = sigs_from_shingles(exploded_shingles(docs, n))
    cands = lsh_candidate_pairs(sigs, max_bucket_size=max_bucket_size)
    sets = shingle_sets(docs, n)
    return jaccard_verify(cands, sets, sets, threshold)


def edit_distance_dedup(docs: DataFrame, max_dist: int = 20,
                        prefix_len: int = 256, n: int = 3,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Fuzzy near-dup pairs verified by EDIT DISTANCE instead of Jaccard
    — the linkage metric for short/structured fields (titles, names,
    URLs) where token-set overlap under-discriminates single-character
    typos and near-identical boilerplate.  Same scale shape as
    :func:`minhash_lsh_dedup_pairs`: banded minhash candidates (never an
    all-pairs join), then Levenshtein over the first ``prefix_len``
    chars of each candidate pair only.

    The prefix cap is load-bearing at scale: Levenshtein is O(len^2)
    per pair, so full-document distances on web pages are a CPU bomb —
    256 chars bounds the DP at 64k cells/pair while keeping the
    title/lede region that decides short-field linkage.  Spark's
    3-arg ``levenshtein(l, r, threshold)`` early-exits above
    ``max_dist`` (returns -1), so the common far-apart candidate costs
    O(len * max_dist), not O(len^2).

    Returns ``(x, y, lev)`` for candidate pairs with distance <=
    ``max_dist``; values are plain codepoint edit counts (ASCII-safe
    cross-engine; the synthetic corpus is ASCII)."""
    sh = exploded_shingles(docs, n)
    sigs = sigs_from_shingles(sh)
    cands = lsh_candidate_pairs(sigs, max_bucket_size=max_bucket_size)
    pref = docs.select(
        "doc_id", F.substring(F.col("text"), 1, prefix_len).alias("pref"))
    px, py = pref.alias("px"), pref.alias("py")
    return (
        cands.join(px, F.col("x") == F.col("px.doc_id"))
        .join(py, F.col("y") == F.col("py.doc_id"))
        .select(
            "x", "y",
            F.levenshtein(F.col("px.pref"), F.col("py.pref"),
                          max_dist).cast("int").alias("lev"))
        .filter(F.col("lev") >= 0)  # -1 = early-exited above max_dist
    )


def edit_distance_dedup_sql(max_dist: int = 20, prefix_len: int = 256,
                            n: int = 3) -> str:
    """DuckDB mirror: same banded candidates (same LCG minhash
    constants), verify = full Levenshtein on the same prefixes with a
    plain ``<= max_dist`` filter (DuckDB lacks the early-exit arg; the
    kept rows and their distances are identical)."""
    sig_cols = ", ".join(
        f"min((h * {a} + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    band_structs = ", ".join(
        "struct_pack(band := {b}, bkey := {key})".format(
            b=band,
            key=" || ':' || ".join(
                f"CAST(s{band * ROWS_PER_BAND + j} AS VARCHAR)"
                for j in range(ROWS_PER_BAND)),
        )
        for band in range(N_BANDS)
    )
    return f"""
        WITH {shingle_cte_sql(n)},
        hashed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {P}
                       AS h
            FROM sh
        ),
        sigs AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
        bands AS (
            SELECT doc_id, u.band AS band, u.bkey AS bkey FROM (
                SELECT doc_id, unnest([{band_structs}]) AS u FROM sigs
            )
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        pref AS (SELECT doc_id, substr(text, 1, {prefix_len}) AS pref
                 FROM documents)
        SELECT c.x, c.y,
               CAST(levenshtein(px.pref, py.pref) AS INTEGER) AS lev
        FROM cand c
        JOIN pref px ON c.x = px.doc_id
        JOIN pref py ON c.y = py.doc_id
        WHERE levenshtein(px.pref, py.pref) <= {max_dist}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

N_BITS = 60


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over token occurrences: per bit, sign-sum of token
    hashes; bit set iff sum >= 0.  One explode + one agg (map-side
    combinable); the signature fits a BIGINT."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tok = tok.withColumn("h", token_hash60(F.col("t")))
    aggs = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(N_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sig = None
    for b in range(N_BITS):
        term = F.when(F.col(f"b{b}") >= 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(N_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN b{b} >= 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END"
        for b in range(N_BITS)
    )
    toks = "list_filter(string_split_regex(text,'\\s+'), x -> x <> '')"
    return f"""
        WITH tok AS (
            SELECT doc_id, CAST(('0x' || substr(md5(unnest({toks})), 1, 15)) AS BIGINT) AS h
            FROM documents
        ), sums AS (
            SELECT doc_id, {sums} FROM tok GROUP BY doc_id
        )
        SELECT doc_id, {sig} AS simhash FROM sums
    """


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       n_bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs via a banded Hamming join — the scale path
    for signature-level dedup.  The 60-bit signature splits into
    ``n_bands`` equal bands; by pigeonhole, two signatures within
    ``max_hamming < n_bands`` bits MUST agree on at least one whole band,
    so same-band equality joins retrieve every qualifying pair (recall is
    exactly 1 — the quadratic all-pairs scan the oracle runs is therefore
    a complete referee, and the banded plan is pure optimization).

    One explode (n_bands rows/doc), equality joins on (band, value),
    popcount verify on candidates only — never all-pairs.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole needs max_hamming < n_bands")
    width = N_BITS // n_bands
    mask = (1 << width) - 1
    sigs = simhash(docs)
    bands = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("bi"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask)).alias("bv"),
        )
        for i in range(n_bands)
    ]))
    banded = sigs.select("doc_id", "simhash", bands.alias("b")).select(
        "doc_id", "simhash", "b.bi", "b.bv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.bi") == F.col("b.bi"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"),
                F.col("a.simhash").alias("xs"), F.col("b.simhash").alias("ys"))
        .distinct()
    )
    ham = F.bit_count(F.col("xs").bitwiseXOR(F.col("ys"))).cast("int")
    return (cand.select("x", "y", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def simhash_near_pairs_sql(max_hamming: int = 3) -> str:
    """Oracle: the exact all-pairs Hamming scan.  Complete referee for the
    banded join because pigeonhole recall is exactly 1 (see above)."""
    return f"""
        WITH sigs AS ({simhash_sql()})
        SELECT a.doc_id AS x, b.doc_id AS y,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.4,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """All (x, y) pairs with cosine(embedding_x, embedding_y) >= threshold —
    the embedding-space near-dup detector (exact).

    Shape: the normalized corpus matrix is broadcast once; each partition
    computes its rows' similarities against it as ONE numpy matmul inside
    `mapInPandas` (Arrow-batched; ~1.6 GFLOP/s-scale work vectorizes to
    sub-second where a per-pair expression fold takes minutes).  Still
    O(n^2) flops — exact by construction; the 100 TB path is
    ``embedding_cosine_pairs_lsh`` (hyperplane-bucketed candidates + exact
    verification of candidates only), which never materializes the matrix.
    """
    import numpy as np
    import pandas as pd

    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    spark = emb.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def part(frames):
        full_ids, full_mat = b_ids.value, b_mat.value
        for pdf in frames:
            if pdf.empty:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ full_mat.T  # (rows, corpus)
            my_ids = pdf[id_col].to_numpy()
            ri, ci = np.nonzero(sims >= threshold)
            x = my_ids[ri]
            y = full_ids[ci]
            keep = x < y
            yield pd.DataFrame({"x": x[keep], "y": y[keep]})

    return emb.select(id_col, vec_col).mapInPandas(part, "x long, y long")


def embedding_cosine_pairs_blocked(emb: DataFrame, threshold: float = 0.4,
                                   n_blocks: int = 8,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> DataFrame:
    """Exact cosine near-dup pairs, fully distributed: block-partitioned
    all-pairs matmul (the classic blocked similarity join).

    Rows hash into ``n_blocks`` blocks; every unordered block pair
    (i <= j) is one cogroup task that compares its two blocks with a
    single numpy matmul.  No driver-side collect, no broadcast of the
    corpus: shuffle volume is O(rows x n_blocks) and each task holds two
    1/n_blocks fractions of the corpus — size n_blocks ~ sqrt(cluster
    parallelism) so tasks stay memory-bounded at any corpus size.  Same
    output as ``embedding_cosine_pairs`` (exact, deterministic); use the
    LSH variant when even O(n^2/B) flops is too much.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    B = n_blocks
    blocked = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("b"),
    )
    pairs = spark.createDataFrame(
        [(i, j) for i in range(B) for j in range(B) if i <= j],
        "bi int, bj int",
    )
    left = (
        blocked.alias("l")
        .join(F.broadcast(pairs.alias("pl")),
              F.col("l.b") == F.col("pl.bi"))
        .select(F.col("pl.bi").alias("bi"), F.col("pl.bj").alias("bj"),
                F.col("l.id").alias("id"), F.col("l.v").alias("v"))
    )
    right = (
        blocked.alias("r")
        .join(F.broadcast(pairs.alias("pr")),
              F.col("r.b") == F.col("pr.bj"))
        .select(F.col("pr.bi").alias("bi"), F.col("pr.bj").alias("bj"),
                F.col("r.id").alias("id2"), F.col("r.v").alias("v2"))
    )

    def compare(key, lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"x": [], "y": []}).astype("int64")
        lm = np.array(list(lpdf["v"]), dtype=np.float64)
        rm = np.array(list(rpdf["v2"]), dtype=np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        li = lpdf["id"].to_numpy()
        ri = rpdf["id2"].to_numpy()
        ii, jj = np.nonzero(sims >= threshold)
        x, y = li[ii], ri[jj]
        # same-block tasks see every pair twice (and self-pairs once);
        # cross-block pairs appear exactly once — orient to x < y
        keep = x != y
        x, y = x[keep], y[keep]
        lo = np.minimum(x, y)
        hi = np.maximum(x, y)
        if key[0] == key[1]:
            keep2 = x < y
            lo, hi = x[keep2], y[keep2]
        return pd.DataFrame({"x": lo, "y": hi})

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(compare, "x long, y long")
    )


def embedding_cosine_pairs_sql(threshold: float = 0.4) -> str:
    return f"""
        SELECT a.vec_id AS x, b.vec_id AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= {threshold}
    """


def embedding_cosine_pairs_lsh(emb: DataFrame, threshold: float = 0.4,
                               dim: int = 64, n_bits: int = 8,
                               n_tables: int = 8) -> DataFrame:
    """Approximate near-dup pairs — THE default embedding-dedup path at
    scale: candidates = pairs colliding in any of ``n_tables`` independent
    b-bit hyperplane sketches (OR-amplification), verified with exact
    cosine.  Output is always a subset of the exact pairs; per-table
    collision probability for similarity s is (1 - acos(s)/pi)^n_bits, so
    recall = 1 - (1 - p)^n_tables — size n_tables to the target similarity
    band.  Cost is O(docs x tables + candidate pairs): never a cross join,
    never a corpus matmul (``embedding_cosine_pairs`` /
    ``embedding_cosine_pairs_blocked`` are the declared exact baselines —
    O(n^2) flops — for verification and small corpora).  Deterministic
    end-to-end (LCG hyperplanes), so the whole approximate pipeline has an
    exact SQL oracle: :func:`embedding_cosine_pairs_lsh_sql`.

    Vectors with EQUAL values are interchangeable (the sketch and the
    cosine depend only on the value), so the pipeline runs over DISTINCT
    vectors via :func:`distinct_value_pairs`: a duplicate group of size
    g otherwise costs O(g²) candidate rows in EVERY table it collides in
    (the sf1 probe, 10 exact copies per vector, verified 27.7M candidates
    of which ~0.27M are distinct).  One pass per distinct vector computes
    all sketches and the norm.  Identical vectors collide in every table,
    so a group pairs internally iff its self-cosine passes the gate.  A
    NULL or all-zero embedding fails every cosine gate: it never pairs."""
    from hbase_indexer_spark.pipeline.similarity import (
        cosine_at_least,
        hyperplane_sketches,
        norm,
    )

    v, nrm = F.col("embedding"), F.col("nrm")
    return distinct_value_pairs(
        emb, "vec_id", "embedding",
        lambda g, _: _lsh_verify(g, threshold, n_tables),
        derive=[norm(v).alias("nrm"),
                *hyperplane_sketches(v, dim, n_bits, n_tables)],
        same_gate=cosine_at_least(v, v, nrm, nrm, threshold))


def _lsh_verify(groups: DataFrame, threshold: float,
                n_tables: int) -> DataFrame:
    """Candidate generation + exact-cosine verify over one row per
    distinct vector ``(gid, embedding, nrm, b0..b{n_tables-1})``:
    verified ``(gx, gy)``, gx < gy."""
    from hbase_indexer_spark.pipeline.similarity import cosine_at_least

    tables = groups.select(
        "gid",
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(n_tables)]))
        .alias("tbl", "bkt"),
    )
    a = tables.alias("a")
    b = tables.alias("b")
    cands = (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl")) & (F.col("a.bkt") == F.col("b.bkt"))
               & (F.col("a.gid") < F.col("b.gid")))
        .select(F.col("a.gid").alias("gx"), F.col("b.gid").alias("gy"))
    )
    ea = groups.select(F.col("gid").alias("gx"), F.col("embedding").alias("va"),
                       F.col("nrm").alias("na"))
    eb = groups.select(F.col("gid").alias("gy"), F.col("embedding").alias("vb"),
                       F.col("nrm").alias("nb"))
    return (
        cands.join(ea, "gx").join(eb, "gy")
        # the dedup of multi-table collisions runs AFTER the filter:
        # re-verifying the duplicate candidates is cheaper than shuffling
        # the full candidate set for a pre-verify distinct
        .filter(cosine_at_least(F.col("va"), F.col("vb"), F.col("na"),
                                F.col("nb"), threshold))
        .select("gx", "gy")
        .distinct()
    )


def embedding_cosine_pairs_lsh_sql(threshold: float = 0.4, dim: int = 64,
                                   n_bits: int = 8,
                                   n_tables: int = 8) -> str:
    """DuckDB mirror of :func:`embedding_cosine_pairs_lsh` — the LCG
    hyperplanes inline as literals (same recipe as ``lsh_topk_sql``), so
    the candidate generation, dedup, and exact-cosine verification all
    hash-match the approximate Spark plan exactly."""
    from hbase_indexer_spark.pipeline.similarity import _hyperplane

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
            SELECT vec_id, CAST({sketch_expr(t * n_bits)} AS BIGINT) AS bkt
            FROM embeddings
        )""")
        selects.append(
            f"SELECT a.vec_id AS x, b.vec_id AS y FROM sk{t} a "
            f"JOIN sk{t} b ON a.bkt = b.bkt AND a.vec_id < b.vec_id"
        )
    cands = " UNION ALL ".join(selects)
    return f"""
        WITH {", ".join(ctes)},
        cands AS (SELECT DISTINCT x, y FROM ({cands}))
        SELECT c.x, c.y
        FROM cands c
        JOIN embeddings ea ON ea.vec_id = c.x
        JOIN embeddings eb ON eb.vec_id = c.y
        WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[]))
              >= {threshold}
    """


def embedding_lsh_recall(emb: DataFrame, threshold: float = 0.4,
                         dim: int = 64, n_bits: int = 6,
                         n_tables: int = 8) -> DataFrame:
    """Recall of the gated LSH embedding-dedup path against the exact
    pair set, as one queryable row — the approximation the 100 TB
    default makes, measured instead of asserted (the pair-level analog
    of ``ann_recall_report``).

    Returns ``(n_exact, n_lsh, n_hits, recall_pct)``: exact-pair count,
    LSH-pair count, their intersection, and integer-percent recall.
    Both sides are deterministic, so the report is oracle-checkable.

    Scale: this is an AUDIT — the exact side is O(n^2) flops by nature
    (blocked matmul, no driver collect); run it on a sampled slice at
    full scale.  The comparison itself is one join of two pair sets."""
    exact = embedding_cosine_pairs_blocked(emb, threshold=threshold) \
        .withColumn("in_e", F.lit(1))
    approx = embedding_cosine_pairs_lsh(
        emb, threshold=threshold, dim=dim, n_bits=n_bits,
        n_tables=n_tables).withColumn("in_a", F.lit(1))
    j = exact.join(approx, ["x", "y"], "full_outer")
    return j.agg(
        F.sum("in_e").cast("long").alias("n_exact"),
        F.sum("in_a").cast("long").alias("n_lsh"),
        F.sum(F.col("in_e") * F.col("in_a")).cast("long").alias("n_hits"),
    ).select(
        "n_exact", "n_lsh", "n_hits",
        F.expr("CASE WHEN n_exact > 0 THEN (100 * n_hits) div n_exact END")
        .cast("long").alias("recall_pct"),
    )


def embedding_lsh_recall_sql(threshold: float = 0.4, dim: int = 64,
                             n_bits: int = 6, n_tables: int = 8) -> str:
    approx = embedding_cosine_pairs_lsh_sql(threshold, dim, n_bits, n_tables)
    return f"""
        WITH exact_pairs AS (
            SELECT a.vec_id AS x, b.vec_id AS y
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  >= {threshold}
        ),
        approx_pairs AS (SELECT * FROM ({approx}) t),
        j AS (
            SELECT coalesce(e.in_e, 0) AS in_e, coalesce(a.in_a, 0) AS in_a
            FROM (SELECT x, y, 1 AS in_e FROM exact_pairs) e
            FULL JOIN (SELECT x, y, 1 AS in_a FROM approx_pairs) a
              USING (x, y)
        )
        SELECT CAST(sum(in_e) AS BIGINT) AS n_exact,
               CAST(sum(in_a) AS BIGINT) AS n_lsh,
               CAST(sum(in_e * in_a) AS BIGINT) AS n_hits,
               CAST(CASE WHEN sum(in_e) > 0
                    THEN (100 * sum(in_e * in_a)) // sum(in_e) END
                   AS BIGINT) AS recall_pct
        FROM j
    """


# ---------------------------------------------------------------------------
# SemDeDup: k-means-bucketed semantic dedup (cluster, then prune in-cluster)
# ---------------------------------------------------------------------------

def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two long arrays.  ANSI-safe by
    magnitude: micro components are ~1e6, so a 64-dim sum of products
    stays around 6.4e13 — far under the 2^63 overflow throw."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _micro_vec(v: Column) -> Column:
    """Vector components quantized to micro-unit longs via the repo's
    ``floor(x * 1e6 + 0.5)`` fixed-point convention (cross-engine exact)."""
    return F.transform(
        v,
        lambda x: F.floor(x.cast("double") * F.lit(1_000_000.0)
                          + F.lit(0.5)).cast("long"),
    )


def kmeans_cells(emb: DataFrame, dim: int = 64, n_cells: int = 16,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Deterministic spherical k-means assignment: one distributed Lloyd
    refinement step over the pinned LCG centroids, then a final
    assignment against the refined centroids — entirely hash-checkable
    (``kmeans_cells_sql`` replays both iterations as unrolled CTEs, the
    house recipe for sequential/iterative semantics).

    - iteration 1 assigns each vector to its max-dot pinned centroid
      (ties: cell asc) — the same float expression the driver-green
      pinned-IVF path uses;
    - the refinement sums members in exact fixed point per (cell, dim)
      and floor-divides by the member count (integer centroid, so the
      data-dependent state is bit-exact and order-independent);
    - iteration 2 re-assigns by INTEGER dot against the refined
      centroids — no float enters the data-dependent iteration.

    Returns ``(vec_id, cell)``.

    Scale: both assignment passes are map-only against a broadcast
    ``n_cells x dim`` literal; the refinement shuffle is map-side
    combinable and carries at most ``n_cells x dim`` partials per task.
    The driver materializes only the refined centroid table (≤ n_cells x
    dim longs — the same boundedness class as the IVF training cap).
    At 100 TB, grow ``n_cells`` (SemDeDup practice: K ~ sqrt(N) keeps
    expected cluster size at sqrt(N)) — cost stays one broadcast literal."""
    from hbase_indexer_spark.pipeline.similarity import (
        _pinned_centroids, dot)

    cents = _pinned_centroids(dim, n_cells)
    cents_lit = array_lit(cents, "double")

    def pinned_cell(v: Column) -> Column:
        scored = F.transform(
            cents_lit,
            lambda c, i: F.struct((-dot(v, c)).alias("nd"),
                                  i.cast("int").alias("cell")),
        )
        return F.element_at(F.array_sort(scored), 1)["cell"]

    quant = emb.select(
        F.col(id_col).alias("vec_id"),
        _micro_vec(F.col(vec_col)).alias("vm"),
        pinned_cell(F.col(vec_col)).alias("cell"),
    )
    # one Lloyd step: exact fixed-point member sums -> floor-div centroid.
    # floor of an exact double division (|sum| < 2^53) — the SQL mirror
    # must use floor(CAST(sum AS DOUBLE)/count) too, NOT `//` (DuckDB's
    # integer // truncates toward zero, diverging on negative sums).
    refined_rows = (
        quant.select("cell", F.posexplode("vm").alias("dim", "mv"))
        .groupBy("cell", "dim")
        .agg(F.sum("mv").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("cell", "dim",
                F.floor(F.col("s").cast("double") / F.col("n"))
                .cast("long").alias("cm"))
        .collect()
    )
    by_cell: dict[int, list[int]] = {}
    for r in refined_rows:
        by_cell.setdefault(r["cell"], [0] * dim)[r["dim"]] = r["cm"]
    cells = sorted(by_cell)
    cents2_lit = array_lit([by_cell[cell] for cell in cells], "bigint")
    cell_ids = array_lit(cells, "int")

    # explode(array(...)) barrier: vm is referenced once per refined
    # centroid below — without the Generate, CollapseProject would
    # re-evaluate the 64-element quantization n_cells times per row
    base2 = emb.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.array(_micro_vec(F.col(vec_col)))).alias("vm"))
    vm = F.col("vm")
    scored2 = F.transform(
        cents2_lit,
        lambda c, i: F.struct((-_int_dot(vm, c)).alias("nd"),
                              i.cast("int").alias("pos")),
    )
    # positions enumerate `cells` ascending, so pos asc == cell asc —
    # the SQL mirror's ORDER BY d DESC, cell tie-break exactly
    pos = F.element_at(F.array_sort(scored2), 1)["pos"]
    return base2.select(
        "vec_id",
        F.element_at(cell_ids, pos + F.lit(1)).alias("cell"),
    )


def semdedup(emb: DataFrame, threshold: float = 0.4, dim: int = 64,
             n_cells: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (public recipe: cluster the embedding space, prune
    near-duplicates within each cluster): deterministic k-means cells
    from :func:`kmeans_cells`, then an exact-cosine self-join INSIDE
    each cell — a vector is dropped iff some lower-id cell-mate is
    ``>= threshold`` similar, and its exemplar is the smallest such id
    (the repo's keep-first keeper convention; chains a<b<c may record a
    dropped exemplar, like ``span_dedup``).

    Returns ``(vec_id, cell, kept, exemplar)`` — one row per vector,
    integer-only output.

    Scale: the quadratic work is confined to single cells (expected
    size n/K; grow K with the corpus so cells stay bounded — no global
    matmul, no LSH recall gap: within a cell the pair set is exact).
    Complements ``embedding_cosine_pairs_lsh``: LSH bounds the
    similarity band by collision probability, SemDeDup bounds the
    comparison scope by cluster."""
    cells = kmeans_cells(emb, dim=dim, n_cells=n_cells, id_col=id_col,
                         vec_col=vec_col)
    from hbase_indexer_spark.pipeline.similarity import cosine

    vecs = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("v")).join(cells, "vec_id")
    a = vecs.select(F.col("vec_id").alias("x"), F.col("v").alias("va"),
                    "cell")
    b = vecs.select(F.col("vec_id").alias("y"), F.col("v").alias("vb"),
                    "cell")
    drops = (
        a.join(b, ["cell"])
        .filter(F.col("x") < F.col("y"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .groupBy(F.col("y").alias("vec_id"))
        .agg(F.min("x").alias("exemplar"))
    )
    return (
        cells.join(drops, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.when(F.col("exemplar").isNull(), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("kept"),
            "exemplar",
        )
    )


def kmeans_cells_sql_cte(dim: int = 64, n_cells: int = 16) -> str:
    """The two unrolled k-means iterations as CTE text ending in
    ``a2(vec_id, cell)`` — shared by the kmeans/semdedup oracles."""
    from hbase_indexer_spark.pipeline.similarity import _pinned_centroids

    cents = _pinned_centroids(dim, n_cells)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        cents(cell, cv) AS (VALUES {values}),
        vm AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)
                   ) AS m
            FROM embeddings
        ),
        a1 AS (
            SELECT vec_id, m, cell FROM (
                SELECT vec_id, m, c.cell,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY list_dot_product(v, c.cv) DESC, c.cell
                       ) AS rn
                FROM vm CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        rc AS (
            SELECT cell, dim,
                   CAST(floor(CAST(sum(mv) AS DOUBLE) / count(*))
                        AS BIGINT) AS cm
            FROM (
                SELECT cell,
                       CAST(unnest(range(1, len(m) + 1)) AS INTEGER) - 1
                           AS dim,
                       unnest(m) AS mv
                FROM a1
            )
            GROUP BY 1, 2
        ),
        mdim AS (
            SELECT vec_id,
                   CAST(unnest(range(1, len(m) + 1)) AS INTEGER) - 1 AS dim,
                   unnest(m) AS mv
            FROM vm
        ),
        d2 AS (
            SELECT md.vec_id, rc.cell, CAST(sum(md.mv * rc.cm) AS BIGINT) AS d
            FROM mdim md JOIN rc ON md.dim = rc.dim
            GROUP BY 1, 2
        ),
        a2 AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d DESC, cell) AS rn
                FROM d2
            ) WHERE rn = 1
        )"""


def kmeans_cells_sql(dim: int = 64, n_cells: int = 16) -> str:
    return f"""
        WITH {kmeans_cells_sql_cte(dim, n_cells)}
        SELECT vec_id, cell FROM a2
    """


def semdedup_sql(threshold: float = 0.4, dim: int = 64,
                 n_cells: int = 16) -> str:
    """DuckDB mirror of :func:`semdedup`: the same two unrolled k-means
    iterations, then the identical in-cell keep-first prune."""
    return f"""
        WITH {kmeans_cells_sql_cte(dim, n_cells)},
        members AS (
            SELECT a2.vec_id, a2.cell, vm.v
            FROM a2 JOIN vm USING (vec_id)
        ),
        drops AS (
            SELECT b.vec_id, CAST(min(a.vec_id) AS BIGINT) AS exemplar
            FROM members a JOIN members b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
            GROUP BY 1
        )
        SELECT a2.vec_id, a2.cell,
               CASE WHEN d.exemplar IS NULL THEN 1 ELSE 0 END AS kept,
               d.exemplar
        FROM a2 LEFT JOIN drops d USING (vec_id)
    """


# ---------------------------------------------------------------------------
# End-to-end dedup materialization
# ---------------------------------------------------------------------------

def deduped_corpus(docs: DataFrame, threshold: float = 0.7, n: int = 3) -> DataFrame:
    """The kept corpus after dedup: exact duplicates collapse to their
    lowest doc_id, and the higher doc_id of every verified near-dup pair is
    dropped.  The rule is deterministic (no clustering iteration), which is
    what a production pipeline wants for reproducible corpus snapshots.

    Scale: one hash shuffle on ``md5(text)`` picks each distinct text's
    representative (its lowest doc_id, carried with its text), and only
    representatives are shingled, banded and verified: exact copies never
    reach the near-dup path.  Representative-level losers equal doc-level
    losers: B's representative loses iff some text A with J(A, B) >=
    threshold has min(A) < min(B) (signatures depend only on the shingle
    set, so the pair is a candidate at either level).
    """
    reps = docs.groupBy(F.md5(F.col("text")).alias("_h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"))
    losers = (
        minhash_lsh_dedup_pairs(reps, threshold=threshold, n=n)
        .select(F.col("y").alias("doc_id"))
    )
    return (
        reps.select("doc_id")
        .join(losers, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


def deduped_corpus_sql(threshold: float = 0.7, n: int = 3) -> str:
    return f"""
        WITH pairs AS ({ngram_jaccard_sql(threshold, n)}),
        keepers AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        losers AS (SELECT DISTINCT y AS doc_id FROM pairs)
        SELECT k.doc_id FROM keepers k
        LEFT JOIN losers l ON k.doc_id = l.doc_id
        WHERE l.doc_id IS NULL
        ORDER BY k.doc_id
    """


# ---------------------------------------------------------------------------
# Near-dup cluster formation: connected components over the pair graph
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected edge list ``(u, v)`` via
    alternating large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the published
    shuffle-only formulation that converges in O(log^2 n) rounds on any
    graph and in 1-2 rounds on near-dup clusters (which are near-cliques).

    Returns ``(id, component)`` for every node that appears in an edge;
    component = the minimum node id of the component.  Each round is two
    groupBy shuffles over the (shrinking) edge set; lineage is cut with
    ``localCheckpoint`` so iteration count never deepens the plan.

    No driver-side collect of nodes/edges — the only driver values per
    round are an (edge-count, edge-hash) pair for convergence detection.
    """
    e = edges.select(F.col(edges.columns[0]).alias("u"),
                     F.col(edges.columns[1]).alias("v"))
    e = e.filter(F.col("u") != F.col("v"))

    def _large_star(sym: DataFrame) -> DataFrame:
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m")))
        return (sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())

    def _small_star(sym: DataFrame) -> DataFrame:
        ori = sym.filter(F.col("v") < F.col("u"))
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (ori.join(mins, "u")
               .filter(F.col("v") != F.col("m"))
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        self_link = mins.select("u", F.col("m").alias("v"))
        return nbr.union(self_link).distinct()

    def _fingerprint(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    cur = e.localCheckpoint(eager=True)
    # size every round's shuffles to the materialized edge count (the
    # graph-loop recipe, see pipeline/graph.py / functions/tuning.py):
    # the candidate-pair generation above ran at session width inside the
    # eager checkpoint; the loop's per-round exchanges are pair-sized.
    # One tiny agg over the checkpointed blocks buys the size.
    # Coverage (ADVICE r9): each round IS materialized inside the block
    # (eager localCheckpoint), so every loop exchange runs tuned; the
    # trailing star-forest groupBy below is returned lazily and therefore
    # runs at session width when the CALLER materializes it — a tiny,
    # component-count-sized agg, deliberately left at session settings.
    from hbase_indexer_spark.functions.tuning import small_batch_tuning

    n_edges, _ = _fingerprint(cur)
    with small_batch_tuning(edges.sparkSession, n_edges):
        prev_fp = None
        for _ in range(max_iter):
            sym = cur.union(
                cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
            # large-star output is already directed large->small — exactly
            # the orientation small-star consumes, so no re-symmetrize
            # between them
            cur = _small_star(_large_star(sym)).localCheckpoint(eager=True)
            fp = _fingerprint(cur)
            if fp == prev_fp:
                break
            prev_fp = fp
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_iter} rounds")

        # final form is a star forest: every non-root points at its
        # component min
        members = cur.select(F.col("u").alias("id"),
                             F.col("v").alias("component"))
        roots = cur.select(F.col("v").alias("id")).distinct() \
                   .withColumn("component", F.col("id"))
        return members.union(roots).groupBy("id").agg(
            F.min("component").alias("component")
        )


def dedup_clusters(docs: DataFrame, threshold: float = 0.7,
                   n: int = 3) -> DataFrame:
    """Cluster id per document: near-dup pairs (n-gram Jaccard >= threshold)
    become graph edges; connected components give each doc its canonical
    cluster representative (min doc_id).  Docs with no near-dup keep their
    own id — the output is a total assignment over the corpus, ready for
    `GROUP BY component` canonical-doc selection.

    Edges come from the LSH-banded pair path (bucketed candidates +
    exact-Jaccard verify), never the all-pairs shingle join: a hot shingle
    shared by k docs costs k^2 join rows in the brute path — a skew bomb
    at scale — while the banded path bounds candidates per bucket.  LSH
    candidate-verified pairs are Jaccard-exact, so wherever band recall
    holds (unit-tested: banded == exact pair set on the fixtures) the
    component assignment is identical to the brute construction."""
    pairs = minhash_lsh_dedup_pairs(docs, threshold=threshold, n=n)
    comp = connected_components(pairs.select("x", "y"))
    return (
        docs.select(F.col("doc_id"))
        .join(comp, docs.doc_id == comp.id, "left_outer")
        .select("doc_id",
                F.coalesce(F.col("component"), F.col("doc_id")).alias("component"))
    )


def dedup_clusters_sql(threshold: float = 0.7, n: int = 3) -> str:
    """DuckDB oracle: min-reachable-id via a recursive transitive closure —
    exact on the small SF gate sizes (the Spark path is the scale path)."""
    return f"""
        WITH RECURSIVE pairs AS ({ngram_jaccard_sql(threshold, n)}),
        edges AS (
            SELECT x AS u, y AS v FROM pairs
            UNION
            SELECT y AS u, x AS v FROM pairs
        ),
        walk(id, r) AS (
            SELECT u, v FROM edges
            UNION
            SELECT w.id, e.v FROM walk w JOIN edges e ON w.r = e.u
        )
        SELECT d.doc_id,
               coalesce(least(min(w.r), d.doc_id), d.doc_id) AS component
        FROM documents d LEFT JOIN walk w ON d.doc_id = w.id
        GROUP BY d.doc_id
    """


# ---------------------------------------------------------------------------
# Cross-document span dedup (C4-style repeated-passage removal)
# ---------------------------------------------------------------------------

def doc_spans(docs: DataFrame, span: int = 10) -> DataFrame:
    """Explode each document into consecutive non-overlapping ``span``-token
    passages: ``(doc_id, pos, span)``.  The tail passage keeps its natural
    (shorter) length.  Mirrors the C4 preprocessing unit (three-sentence
    spans there; fixed token windows here — the corpus has no sentence
    boundaries)."""
    toked = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("_toks"))
    t = F.col("_toks")  # bound attribute: the slice lambda must not
    # re-tokenize the text per span (interpreted HOF re-evaluation)
    n_spans = F.ceil(F.size(t) / F.lit(span)).cast("int")
    spans = F.when(
        F.size(t) > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i * span + 1, span)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("doc_id", F.posexplode(spans).alias("pos", "span"))


def span_dedup(docs: DataFrame, span: int = 10) -> DataFrame:
    """C4-style global passage dedup: any ``span``-token passage that occurs
    more than once across the whole corpus is removed from every document
    except its first occurrence (lowest ``(doc_id, pos)``); each document's
    text is rebuilt from its surviving passages in order.

    Returns ``(doc_id, text, n_spans, n_removed)`` for every input document
    (documents whose every passage was removed keep an empty string).

    Scale: the keeper per passage is a ``min(struct(doc_id, pos))``
    aggregation — map-side combinable, so a passage repeated millions of
    times (boilerplate) costs one partial per input partition, not a
    skewed window sort.  Then one equi-join back on the passage hash and
    one regroup by doc_id: three shuffles total, none all-pairs, no
    driver materialization.  Joining on the md5 of the passage (not the
    passage text) keeps shuffle rows narrow at 100 TB.
    """
    sp = doc_spans(docs, span=span).withColumn("h", F.md5(F.col("span")))
    keepers = sp.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("keep")
    )
    kept = (
        sp.join(keepers, "h")
        .withColumn("is_keep", F.struct("doc_id", "pos") == F.col("keep"))
    )
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_keep"),
                                   F.struct("pos", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((~F.col("is_keep")).cast("long")).alias("n_removed"),
        )
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def span_dedup_sql(span: int = 10) -> str:
    """DuckDB oracle: same semantics via a row_number window (exact at gate
    scale; the Spark path replaces the window with the combinable min)."""
    return f"""
        WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        s0 AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, cast(ceil(len(toks)/{span}.0) AS BIGINT)),
                       i -> struct_pack(
                           pos := i,
                           span := array_to_string(
                               toks[i*{span}+1 : i*{span}+{span}], ' ')))) AS u
            FROM tk
        ),
        s AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM s0),
        k AS (
            SELECT doc_id, pos, span,
                   row_number() OVER (PARTITION BY span
                                      ORDER BY doc_id, pos) AS rn
            FROM s
        ),
        r AS (
            SELECT doc_id,
                   coalesce(string_agg(span, ' ' ORDER BY pos)
                            FILTER (WHERE rn = 1), '') AS text,
                   count(*) AS n_spans,
                   count(*) FILTER (WHERE rn > 1) AS n_removed
            FROM k GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(r.text, '') AS text,
               coalesce(r.n_spans, 0) AS n_spans,
               coalesce(r.n_removed, 0) AS n_removed
        FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
    """


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an accepted base corpus
# ---------------------------------------------------------------------------

def dedup_against(base: DataFrame, new: DataFrame, threshold: float = 0.7,
                  n: int = 3,
                  max_bucket_size: int | None = None) -> DataFrame:
    """Screen an incoming batch against an already-accepted corpus — the
    daily-increment shape: ``base`` never re-checks itself, only
    new-vs-base pairs are ever considered.

    Per new doc: ``exact_dup`` (md5 present in base), ``near_dup``
    (some base doc with shingle-Jaccard >= threshold), ``keep`` (neither).
    New-vs-new duplicates are deliberately out of scope here — run the
    in-batch operators first; this is the cross-snapshot gate.

    Scale: the base side reduces to md5 hashes and band keys (no text
    crosses the join); candidates come from an asymmetric equality join
    of new band keys against base band keys — the candidate count is
    bounded by band collisions, never |new| x |base|.  Verification
    scores candidate pairs only, on the two docs' shingle arrays
    (``jaccard_verify``); nothing is cached, so the operator leaves no
    persisted table behind.  ``max_bucket_size`` caps a
    hot band bucket on the BASE side (a template bucket with k base
    members emits k rows per colliding new doc): over the cap, the
    bucket is dropped from candidates — at that size the batch operators
    have already collapsed the template family inside the base, so its
    representative remains reachable through smaller buckets.
    """
    new_ids = new.select("doc_id")
    exact = (
        new.select("doc_id", F.md5("text").alias("h"))
        .join(base.select(F.md5("text").alias("h")).distinct(), "h",
              "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )
    bn = band_keys(sigs_from_shingles(exploded_shingles(new, n))) \
        .withColumnRenamed("doc_id", "new_id")
    bb = band_keys(sigs_from_shingles(exploded_shingles(base, n))) \
        .withColumnRenamed("doc_id", "base_id")
    if max_bucket_size is not None:
        hot = bb.groupBy("band", "bkey") \
            .agg(F.count(F.lit(1)).alias("_n")) \
            .filter(F.col("_n") > max_bucket_size) \
            .select("band", "bkey")
        bb = bb.join(hot, ["band", "bkey"], "left_anti")
    cands = bn.join(bb, ["band", "bkey"]).select("new_id", "base_id") \
        .distinct()
    near = (
        jaccard_verify(cands, shingle_sets(new, n), shingle_sets(base, n),
                       threshold, x="new_id", y="base_id")
        .select(F.col("new_id").alias("doc_id")).distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        new_ids.join(exact, "doc_id", "left").join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            (~(F.coalesce("exact_dup", F.lit(False))
               | F.coalesce("near_dup", F.lit(False)))).alias("keep"),
        )
    )


def dedup_against_sql(threshold: float = 0.7, n: int = 3,
                      base_pred: str = "doc_id % 2 = 0",
                      new_pred: str = "doc_id % 2 = 1") -> str:
    """DuckDB oracle over two predicate-defined splits of ``documents``
    (exact inverted-index Jaccard; the Spark path's LSH bands have
    recall ~1 at the gate's thresholds, same argument as
    minhash_lsh_dedup_pairs)."""
    return f"""
        WITH tk AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
        shl AS (SELECT doc_id, unnest({shingles_sql(n)}) AS s FROM tk),
        nb AS (SELECT doc_id FROM documents WHERE {new_pred}),
        ex AS (
            SELECT DISTINCT nw.doc_id
            FROM documents nw JOIN documents b ON md5(nw.text) = md5(b.text)
            WHERE ({new_pred.replace('doc_id', 'nw.doc_id')})
              AND ({base_pred.replace('doc_id', 'b.doc_id')})
        ),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM shl GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS new_id, b.doc_id AS base_id,
                   count(*) AS n_inter
            FROM shl a JOIN shl b ON a.s = b.s
            WHERE ({new_pred.replace('doc_id', 'a.doc_id')})
              AND ({base_pred.replace('doc_id', 'b.doc_id')})
            GROUP BY 1, 2
        ),
        nr AS (
            SELECT DISTINCT new_id AS doc_id
            FROM inter
            JOIN sz sx ON new_id = sx.doc_id
            JOIN sz sy ON base_id = sy.doc_id
            WHERE CAST(n_inter AS DOUBLE)
                  / CAST(sx.n_sh + sy.n_sh - n_inter AS DOUBLE)
                  >= {threshold}
        )
        SELECT nb.doc_id,
               (ex.doc_id IS NOT NULL) AS exact_dup,
               (nr.doc_id IS NOT NULL) AS near_dup,
               (ex.doc_id IS NULL AND nr.doc_id IS NULL) AS keep
        FROM nb
        LEFT JOIN ex ON nb.doc_id = ex.doc_id
        LEFT JOIN nr ON nb.doc_id = nr.doc_id
    """


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS; Schleimer et al., SIGMOD 2003)
# ---------------------------------------------------------------------------

def winnow_fingerprints(docs: DataFrame, k: int = 3,
                        w: int = 4) -> DataFrame:
    """Winnowed k-gram fingerprints: ``(doc_id, pos, fp)`` — in every
    window of ``w`` consecutive k-gram hashes, select the minimum (the
    rightmost one on ties), then deduplicate selections.  Winnowing's
    guarantee: any shared substring of >= ``w + k - 1`` tokens yields at
    least one shared fingerprint, at ~``2/(w+1)`` the density of full
    k-gram sets — the local-similarity primitive MinHash (a whole-doc
    sketch) cannot provide.

    Map-only: hashes, window minima, and the rightmost-tiebreak all run
    as Catalyst array expressions; cost per doc is O(tokens * w) with no
    shuffle.  Token-hash is the cross-engine md5 primitive, so the
    DuckDB oracle reproduces fingerprints exactly.

    Plan note: the token and hash arrays are materialized as bound
    attributes via single-element ``explode(array(...))`` Generate
    stages.  Higher-order-function lambdas are interpreted (not
    codegen'd) and re-evaluate every referenced expression TREE per
    element — with ``tokens(text)`` inlined, each window read re-split
    the whole document (measured ~5x wall on the bench corpus).
    CollapseProject would re-inline a plain projection; a Generate is a
    collapse barrier, still map-side, still shuffle-free.
    """
    toked = docs.select(
        "doc_id",
        F.explode(F.array(tokens(F.col("text")))).alias("toks"),
    )
    t = F.col("toks")
    n = F.size(t)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(k)])
    hashes_expr = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: token_hash60(gram(i))),
    ).otherwise(F.array().cast("array<long>"))
    hashed = toked.select(
        "doc_id", F.explode(F.array(hashes_expr)).alias("hs"))
    hashes = F.col("hs")
    m = F.size(hashes)

    # rightmost argmin inside each w-window, allocation-free: w scalar
    # try_element_at reads (null past the end — least() skips nulls, the
    # when-chain falls through), one least(), one rightmost-first when
    # chain; no per-window array builds
    def pick(p):
        cols = [F.try_element_at(hashes, p + j) for j in range(w)]
        mn = F.least(*cols) if w > 1 else cols[0]
        pos = F.lit(None).cast("long")
        for j in range(w):  # leftmost checked LAST -> rightmost wins
            pos = F.when(cols[j] == mn, (p + j).cast("long")).otherwise(pos)
        return F.struct(pos.alias("pos"), mn.alias("fp"))

    sel = F.when(
        m >= w,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), m - (w - 1)),
                        lambda p: pick(p))),
    ).otherwise(
        # short docs: a single window over all hashes (standard boundary
        # rule: never select nothing from a non-empty hash list)
        F.when(m > 0, F.array(pick(F.lit(1))))
        .otherwise(F.array().cast("array<struct<pos:long,fp:long>>"))
    )
    return hashed.select(
        "doc_id", F.explode(sel).alias("s")
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))


def winnow_overlap_pairs(docs: DataFrame, k: int = 3, w: int = 4,
                         min_shared: int = 2,
                         max_postings: int | None = 100) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` distinct winnowed
    fingerprints — the plagiarism-grade local-overlap detector (catches a
    shared paragraph inside otherwise-unrelated docs, which whole-doc
    Jaccard dilutes away).  Inverted-index equality join on the
    fingerprint value: pairs sharing none never materialize.

    ``max_postings`` drops fingerprints present in more than that many
    documents before the join — MOSS's own rule ("ignore matches in too
    many documents"): a ubiquitous fingerprint is boilerplate, carries no
    overlap signal, and a posting list of d docs emits d^2/2 join rows —
    measured as a 100x blowup on a small-vocabulary corpus at sf0.1.
    The filter is one combinable count on the fp key, mirrored exactly
    in the oracle; None disables it.
    """
    fp = winnow_fingerprints(docs, k=k, w=w) \
        .select("doc_id", "fp").distinct()
    if max_postings is not None:
        hot = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")) \
            .filter(F.col("_df") > max_postings).select("fp")
        fp = fp.join(hot, "fp", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_sql_cte(k: int = 3, w: int = 4) -> str:
    """CTE prefix producing wfp(doc_id, pos, fp) — the oracle's mirror of
    winnow_fingerprints (same rightmost-argmin via reverse + first-pos)."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    h = ("CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)")
    return f"""
        tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        hs AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {k} THEN
                       list_transform(
                           list_transform(range(1, len(toks)-{k - 2}),
                                          i -> {gram}),
                           g -> {h})
                   ELSE [] END AS hashes
            FROM tk
        ),
        sel AS (
            SELECT doc_id, hashes,
                   CASE WHEN len(hashes) >= {w}
                        THEN range(1, len(hashes)-{w - 2})
                        WHEN len(hashes) > 0 THEN [CAST(1 AS BIGINT)]
                        ELSE [] END AS starts
            FROM hs
        ),
        win AS (
            SELECT doc_id, p,
                   hashes[p : least(p + {w} - 1, len(hashes))] AS wnd
            FROM (SELECT doc_id, hashes, unnest(starts) AS p FROM sel)
        ),
        picked AS (
            SELECT DISTINCT doc_id,
                   CAST(p + (len(wnd) - list_position(list_reverse(wnd),
                                                      list_min(wnd)) + 1)
                        - 1 AS BIGINT) AS pos,
                   list_min(wnd) AS fp
            FROM win
        ),
        wfp AS (SELECT doc_id, pos, fp FROM picked)
    """


def winnow_fingerprints_sql(k: int = 3, w: int = 4) -> str:
    return f"WITH {winnow_sql_cte(k, w)} SELECT doc_id, pos, fp FROM wfp"


def winnow_overlap_pairs_sql(k: int = 3, w: int = 4, min_shared: int = 2,
                             max_postings: int | None = 100) -> str:
    cap = ("" if max_postings is None else
           f"AND fp IN (SELECT fp FROM d GROUP BY fp"
           f" HAVING count(*) <= {max_postings})")
    return f"""
        WITH {winnow_sql_cte(k, w)},
        d AS (SELECT DISTINCT doc_id, fp FROM wfp),
        kept AS (SELECT doc_id, fp FROM d WHERE TRUE {cap})
        SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
    """


# ---------------------------------------------------------------------------
# Bloom-prefilter exact membership screen (cross-snapshot, sketch-first)
# ---------------------------------------------------------------------------
#
# The exact-dedup companion to `dedup_against`: screen an incoming batch
# against an accepted base corpus by CONTENT HASH, but never join the raw
# batch against the raw base.  The base collapses to a Bloom bit-set whose
# size is bounded by `m_bits` REGARDLESS of base row count — at 100 TB the
# base side of the join is at most `m_bits` integers (a few MB, broadcast),
# while a direct anti-join would shuffle both full tables.  Docs the bloom
# rejects are definitively new (no false negatives); only the tiny
# bloom-positive fraction pays the exact verification join.
#
# The filter is hand-rolled from md5 double-hashing (pos_i = (h1 + i*h2)
# mod m) rather than Spark's built-in BloomFilter so the DuckDB oracle can
# replay the identical bit-set — every output column, including the
# probabilistic `bloom_hit`, is deterministic and hash-checkable.

BLOOM_K = 5  # hash functions; fpp ~= (1 - e^(-k*n/m))^k


def _bloom_h1_h2(key: Column) -> tuple[Column, Column]:
    """Two independent 30-bit hashes from one md5 (halves of the first 15
    hex chars — the same cross-engine primitive as token_hash60)."""
    h = F.md5(key)
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 7), 16, 10).cast("long")
    return h1, h2


def _bloom_positions(key: Column, m_bits: int) -> Column:
    """The k bit positions for a key: (h1 + i*h2 + i*i) % m (double
    hashing with a quadratic term so h2 % m == 0 can't alias all k)."""
    h1, h2 = _bloom_h1_h2(key)
    return F.array(*[
        (h1 + F.lit(i) * h2 + F.lit(i * i)) % F.lit(m_bits)
        for i in range(BLOOM_K)
    ])


def bloom_bits(base: DataFrame, key: Column | None = None,
               m_bits: int = 1 << 16) -> DataFrame:
    """The base corpus's Bloom bit-set as a DataFrame of distinct set bit
    positions — at most ``m_bits`` rows however large the base is.  One
    map pass + one distinct on small integers (partial-agg combinable).

    ``key`` is the RAW content column — ``_bloom_h1_h2`` applies the one
    and only md5, matching the oracle's ``md5(text)`` derivation exactly
    (a double md5 here would build a different bit-set and diverge on
    bloom false positives)."""
    key = F.col("text") if key is None else key
    return (
        base.select(F.explode(_bloom_positions(key, m_bits)).alias("bit"))
        .distinct()
    )


def bloom_screen(base: DataFrame, new: DataFrame,
                 m_bits: int = 1 << 16) -> DataFrame:
    """Per new doc: ``bloom_hit`` (all k bits set — candidate duplicate),
    ``exact_dup`` (content hash truly present in base; only bloom-hit
    docs are checked), ``keep`` (= not exact_dup; EXACT despite the
    probabilistic prefilter, because blooms have no false negatives).

    Plan shape: base -> <= m_bits distinct ints (broadcast); new -> k-row
    explode + broadcast semi-join + all-k count; survivors (the bloom-hit
    fraction, ~fpp of the batch plus true dups) -> exact hash join
    against base.  The full batch never shuffles on text.
    """
    bits = F.broadcast(bloom_bits(base, m_bits=m_bits))
    probe = new.select(
        "doc_id",
        F.posexplode(_bloom_positions(F.col("text"), m_bits))
        .alias("i", "bit"),
    )
    hits = (
        probe.join(bits, "bit", "left_semi")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == BLOOM_K)
        .select("doc_id").withColumn("bloom_hit", F.lit(True))
    )
    candidates = new.join(hits, "doc_id", "left_semi")
    exact = (
        candidates.select("doc_id", F.md5("text").alias("h"))
        .join(base.select(F.md5("text").alias("h")).distinct(), "h",
              "left_semi")
        .select("doc_id").withColumn("exact_dup", F.lit(True))
    )
    return (
        new.select("doc_id")
        .join(hits, "doc_id", "left").join(exact, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("bloom_hit", F.lit(False)).alias("bloom_hit"),
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            (~F.coalesce("exact_dup", F.lit(False))).alias("keep"),
        )
    )


def bloom_screen_sql(m_bits: int = 1 << 16,
                     base_pred: str = "doc_id % 2 = 0",
                     new_pred: str = "doc_id % 2 = 1") -> str:
    """DuckDB mirror over two predicate-defined splits of ``documents`` —
    replays the identical bit-set, so even ``bloom_hit`` (false positives
    and all) hash-matches."""
    pos = ("list_transform(range(0, " + str(BLOOM_K) + "), i -> "
           "(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) "
           " + i * CAST('0x' || substr(md5(text), 9, 7) AS BIGINT)"
           f" + i * i) % {m_bits})")
    return f"""
        WITH bits AS (
            SELECT DISTINCT unnest({pos}) AS bit
            FROM documents WHERE {base_pred}
        ),
        probe AS (
            SELECT doc_id, unnest({pos}) AS bit
            FROM documents WHERE {new_pred}
        ),
        hits AS (
            SELECT doc_id FROM probe
            WHERE bit IN (SELECT bit FROM bits)
            GROUP BY doc_id HAVING count(*) = {BLOOM_K}
        ),
        ex AS (
            SELECT DISTINCT nw.doc_id
            FROM documents nw
            JOIN documents b ON md5(nw.text) = md5(b.text)
            WHERE ({new_pred.replace('doc_id', 'nw.doc_id')})
              AND ({base_pred.replace('doc_id', 'b.doc_id')})
              AND nw.doc_id IN (SELECT doc_id FROM hits)
        )
        SELECT d.doc_id,
               (h.doc_id IS NOT NULL) AS bloom_hit,
               (ex.doc_id IS NOT NULL) AS exact_dup,
               (ex.doc_id IS NULL) AS keep
        FROM documents d
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        LEFT JOIN ex ON d.doc_id = ex.doc_id
        WHERE {new_pred.replace('doc_id', 'd.doc_id')}
    """


# ---------------------------------------------------------------------------
# Quality-canonical cluster keeper (dedup policy beyond min-id)
# ---------------------------------------------------------------------------

def dedup_keep_best(docs: DataFrame, threshold: float = 0.7,
                    n: int = 3, score_col: str = "n_chars") -> DataFrame:
    """Canonical-document selection per near-dup cluster by QUALITY rather
    than min-id: within each connected component the keeper is the member
    with the highest ``score_col`` (ties -> smallest doc_id).  Real
    pipelines keep the longest / highest-quality variant of a duplicated
    page, not an arbitrary representative.

    Output: (doc_id, component, keeper_id, is_canonical) — a total
    assignment over the corpus.

    Scale: clustering is the LSH + large-star/small-star path
    (`dedup_clusters`); keeper selection is one combinable ``max_by``
    aggregation over the (small) component table joined back by a
    broadcast-able component -> keeper map — no window sort over the
    corpus."""
    assign = dedup_clusters(docs, threshold=threshold, n=n)
    scored = assign.join(docs.select("doc_id", score_col), "doc_id")
    keepers = (
        scored.groupBy("component")
        .agg(F.expr(f"max_by(doc_id, struct({score_col} as s,"
                    f" -doc_id as t))").alias("keeper_id"))
    )
    return (
        assign.join(keepers, "component")
        .select(
            "doc_id", "component", "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_canonical"),
        )
    )


def dedup_keep_best_sql(threshold: float = 0.7, n: int = 3,
                        score_col: str = "n_chars") -> str:
    """DuckDB oracle: the recursive-closure cluster assignment plus a
    window argmax per component (same ordering: score desc, doc_id asc)."""
    return f"""
        WITH assign AS ({dedup_clusters_sql(threshold, n)}),
        keepers AS (
            SELECT component, doc_id AS keeper_id
            FROM (
                SELECT a.component, d.doc_id,
                       row_number() OVER (
                           PARTITION BY a.component
                           ORDER BY d.{score_col} DESC, d.doc_id ASC
                       ) AS rn
                FROM assign a JOIN documents d ON a.doc_id = d.doc_id
            ) WHERE rn = 1
        )
        SELECT a.doc_id, a.component, k.keeper_id,
               (a.doc_id = k.keeper_id) AS is_canonical
        FROM assign a JOIN keepers k ON a.component = k.component
    """


# ---------------------------------------------------------------------------
# Cross-source near-dup overlap matrix (corpus forensics)
# ---------------------------------------------------------------------------

def source_overlap_matrix(docs: DataFrame, threshold: float = 0.7,
                          n: int = 3,
                          group_col: str = "source") -> DataFrame:
    """How much does each pair of sources duplicate each other?  Joins
    the LSH-verified near-dup pair set with the docs' ``group_col`` and
    counts pairs per (source_a, source_b) with a <= b — the forensic
    view that tells you one crawl mirrors another BEFORE you pay to
    train on both.  Within-source pairs land on the diagonal.

    Scale: the pair set is the banded-LSH path (bounded candidates);
    the matrix aggregation touches only pairs (tiny vs the corpus) and
    the two source-label joins are projections of the doc table."""
    pairs = minhash_lsh_dedup_pairs(docs, threshold=threshold, n=n)
    lab = docs.select("doc_id", F.col(group_col).alias("_g"))
    labeled = (
        pairs.join(lab.withColumnRenamed("_g", "gx"),
                   pairs.x == lab.doc_id).drop("doc_id")
        .join(lab.withColumnRenamed("_g", "gy").alias("r"),
              F.col("y") == F.col("r.doc_id")).drop("doc_id")
    )
    return (
        labeled.select(
            F.least("gx", "gy").alias("source_a"),
            F.greatest("gx", "gy").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def source_overlap_matrix_sql(threshold: float = 0.7, n: int = 3,
                              group_col: str = "source") -> str:
    """DuckDB oracle via the exact inverted-index Jaccard pair set (the
    banded path's recall is ~1 at gate thresholds — same argument as
    the other LSH-gated oracles)."""
    return f"""
        WITH pairs AS ({ngram_jaccard_sql(threshold, n)})
        SELECT least(da.{group_col}, db.{group_col}) AS source_a,
               greatest(da.{group_col}, db.{group_col}) AS source_b,
               count(*) AS n_pairs
        FROM pairs p
        JOIN documents da ON p.x = da.doc_id
        JOIN documents db ON p.y = db.doc_id
        GROUP BY 1, 2
    """


def dup_size_histogram(docs: DataFrame) -> DataFrame:
    """Duplication-structure summary: how many exact-duplicate groups
    exist at each multiplicity — ``(group_size, n_groups, n_docs)``.
    The one-line forensic that says "0.1% of pages account for 40% of
    the corpus" before any dedup work is scheduled.

    Scale: two combinable aggregations (hash -> size, size -> count);
    the histogram is at most max-multiplicity rows."""
    sizes = (
        docs.select(F.md5("text").alias("h"))
        .groupBy("h").agg(F.count(F.lit(1)).alias("group_size"))
    )
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select(
            "group_size", "n_groups",
            (F.col("group_size") * F.col("n_groups")).alias("n_docs"),
        )
    )


def dup_size_histogram_sql() -> str:
    return """
        SELECT group_size, count(*) AS n_groups,
               group_size * count(*) AS n_docs
        FROM (
            SELECT md5(text) AS h, count(*) AS group_size
            FROM documents GROUP BY md5(text)
        )
        GROUP BY group_size
    """


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct n-grams
    whose FIRST corpus occurrence (smallest doc_id) is this doc — the
    scalar that separates content originators from aggregators/quoters
    and trends to zero as a crawl starts re-crawling itself.

    Returns ``(doc_id, n_grams, n_novel, novelty_pct)`` with
    ``novelty_pct`` an integer 0..100 (fixed point, hash-stable);
    docs with no n-grams report 0 grams and NULL pct.

    Scale: first-occurrence is a combinable ``min`` per gram hash (the
    same no-window trick as span_dedup's keeper), re-joined to the
    per-doc distinct gram stream; both shuffles carry (hash, id) pairs,
    never text."""
    sh = exploded_shingles(docs, n).select("doc_id", "sh").distinct()
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            # per_doc's pre-coalesce columns are NULL for gramless docs,
            # so the div null-propagates instead of ANSI-throwing on 0
            F.expr("(100 * n_novel) div n_grams").alias("novelty_pct"),
        )
    )


def ngram_novelty_sql(n: int = 3) -> str:
    return f"""
        WITH tk AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
        shl AS (
            SELECT DISTINCT doc_id, unnest({shingles_sql(n)}) AS s FROM tk
        ),
        first AS (
            SELECT s, min(doc_id) AS first_doc FROM shl GROUP BY s
        ),
        per_doc AS (
            SELECT shl.doc_id, count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = shl.doc_id
                            THEN 1 ELSE 0 END) AS n_novel
            FROM shl JOIN first f ON shl.s = f.s
            GROUP BY shl.doc_id
        )
        SELECT d.doc_id,
               coalesce(p.n_grams, 0) AS n_grams,
               CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
               CAST(CASE WHEN p.n_grams > 0
                    THEN (100 * p.n_novel) // p.n_grams END AS BIGINT)
                   AS novelty_pct
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) and shift-robust span dedup
# ---------------------------------------------------------------------------

def cdc_spans(docs: DataFrame, avg_mod: int = 8) -> DataFrame:
    """Content-defined chunking over the token stream: a chunk ENDS at
    every token whose 60-bit hash is ``== 0 (mod avg_mod)`` (expected
    chunk length = avg_mod tokens), plus the document end.  Because
    boundaries depend only on local content, inserting a sentence at
    the top of a page re-chunks ONLY the affected neighborhood — the
    fixed windows of ``doc_spans`` shift every downstream passage by
    the insertion length and lose all matches after the edit point.

    Returns ``(doc_id, pos, span)``; empty docs emit nothing.

    Scale: map-only — the boundary list, starts, and slices are in-row
    array ops over a bound token array; one posexplode fans out chunks.
    """
    toked = docs.select(
        "doc_id", F.array(tokens(F.col("text")))[0].alias("_t"))
    t = F.col("_t")
    n = F.size(t)
    raw = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: token_hash60(F.element_at(t, i)) % avg_mod == 0,
    )
    ends = F.when(
        (F.size(raw) == 0) | (F.try_element_at(raw, F.lit(-1)) != n),
        F.concat(raw, F.array(n)),
    ).otherwise(raw)
    # n = 0: sequence(1, 0) counts DOWN in Spark — guard empties outright
    bound = toked.select(
        "doc_id",
        F.explode(F.array(F.struct(
            t.alias("t"),
            F.when(n > 0, ends).otherwise(
                F.array().cast("array<int>")).alias("e"),
        ))).alias("_b"),
    )
    tb, eb = F.col("_b.t"), F.col("_b.e")
    chunks = F.when(
        F.size(eb) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(eb)),
            lambda k: F.concat_ws(
                " ",
                F.slice(
                    tb,
                    F.when(k == 1, F.lit(1))
                    .otherwise(F.element_at(eb, (k - 1).cast("int")) + 1),
                    F.element_at(eb, k.cast("int"))
                    - (F.when(k == 1, F.lit(1))
                       .otherwise(F.element_at(eb, (k - 1).cast("int")) + 1))
                    + 1,
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return bound.select("doc_id", F.posexplode(chunks).alias("pos", "span"))


def cdc_dedup(docs: DataFrame, avg_mod: int = 8) -> DataFrame:
    """Shift-robust global passage dedup: :func:`span_dedup` semantics
    (first ``(doc_id, pos)`` occurrence of every repeated passage wins,
    documents rebuilt from survivors) over CONTENT-DEFINED chunks, so
    boilerplate is still caught when it appears at different offsets in
    different pages — the case fixed windows structurally miss.

    Returns ``(doc_id, text, n_spans, n_removed)``.

    Scale: identical shape to span_dedup — combinable min(struct)
    keeper per chunk hash, one equi-join back, one regroup; no windows,
    no all-pairs."""
    sp = cdc_spans(docs, avg_mod=avg_mod).withColumn("h", F.md5(F.col("span")))
    keepers = sp.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("keep"))
    kept = (
        sp.join(keepers, "h")
        .withColumn("is_keep", F.struct("doc_id", "pos") == F.col("keep"))
    )
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("is_keep"), F.struct("pos", "span")))),
                    lambda s: s["span"],
                ), " ").alias("text"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((~F.col("is_keep")).cast("long")).alias("n_removed"),
        )
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def _cdc_spans_cte(avg_mod: int = 8) -> str:
    h = "CAST(('0x' || substr(md5(toks[i]), 1, 15)) AS BIGINT)"
    return f"""
        tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        e0 AS (
            SELECT doc_id, toks,
                   list_filter(range(1, len(toks) + 1),
                               i -> {h} % {avg_mod} = 0) AS raw
            FROM tk
        ),
        e1 AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) = 0 THEN []
                        WHEN len(raw) = 0 OR raw[-1] <> len(toks)
                        THEN list_append(raw, len(toks))
                        ELSE raw END AS ends
            FROM e0
        ),
        cdc AS (
            SELECT doc_id, u.pos AS pos, u.span AS span FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(ends) + 1),
                           k -> struct_pack(
                               pos := k - 1,
                               span := array_to_string(
                                   toks[(CASE WHEN k = 1 THEN 1
                                        ELSE ends[k - 1] + 1 END)
                                        : ends[k]], ' ')))) AS u
                FROM e1 WHERE len(ends) > 0
            )
        )
    """


def cdc_spans_sql(avg_mod: int = 8) -> str:
    return (f"WITH {_cdc_spans_cte(avg_mod)} "
            f"SELECT doc_id, pos, span FROM cdc")


def cdc_dedup_sql(avg_mod: int = 8) -> str:
    return f"""
        WITH {_cdc_spans_cte(avg_mod)},
        k AS (
            SELECT doc_id, pos, span,
                   row_number() OVER (PARTITION BY span
                                      ORDER BY doc_id, pos) AS rn
            FROM cdc
        ),
        r AS (
            SELECT doc_id,
                   coalesce(string_agg(span, ' ' ORDER BY pos)
                            FILTER (WHERE rn = 1), '') AS text,
                   count(*) AS n_spans,
                   count(*) FILTER (WHERE rn > 1) AS n_removed
            FROM k GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(r.text, '') AS text,
               coalesce(r.n_spans, 0) AS n_spans,
               coalesce(r.n_removed, 0) AS n_removed
        FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
    """


def dedup_pair_quality(docs: DataFrame, threshold: float = 0.7,
                       n: int = 3) -> DataFrame:
    """Retrieval quality of the banded-LSH pair path against the exact
    inverted-index Jaccard pair set, as one summary row:
    ``(n_exact, n_lsh, n_hit, recall_pct, precision_pct)`` — the dedup
    analog of ``ann_recall_report``: banding quality becomes a
    queryable, alertable number instead of a test-only assertion.

    Both pair generators are deterministic, so the quality numbers
    themselves are oracle-checkable.  (With candidate-exact
    verification the LSH path has precision 100 by construction;
    emitting it keeps the invariant observable.)

    Scale: the two pair sets are the operators' own bounded plans; the
    comparison joins pair keys only."""
    exact = ngram_jaccard_pairs(docs, threshold=threshold, n=n) \
        .select("x", "y", F.lit(1).alias("in_exact"))
    lsh = minhash_lsh_dedup_pairs(docs, threshold=threshold, n=n) \
        .select("x", "y", F.lit(1).alias("in_lsh"))
    # ONE action: full-outer the two pair sets and aggregate flags —
    # three separate counts would re-execute the shingle explode per
    # count (measured 3x the wall time at sf0.1)
    return (
        exact.join(lsh, ["x", "y"], "full_outer")
        .agg(
            F.coalesce(F.sum("in_exact"), F.lit(0)).alias("n_exact"),
            F.coalesce(F.sum("in_lsh"), F.lit(0)).alias("n_lsh"),
            F.coalesce(F.sum(F.col("in_exact") * F.col("in_lsh")),
                       F.lit(0)).alias("n_hit"),
        )
        .select(
            "n_exact", "n_lsh", "n_hit",
            F.when(F.col("n_exact") > 0,
                   F.expr("(100 * n_hit) div n_exact")).alias("recall_pct"),
            F.when(F.col("n_lsh") > 0,
                   F.expr("(100 * n_hit) div n_lsh")).alias("precision_pct"),
        )
    )


def dedup_pair_quality_sql(threshold: float = 0.7, n: int = 3) -> str:
    return f"""
        WITH exact_pairs AS ({ngram_jaccard_sql(threshold, n)}),
        lsh_pairs AS ({minhash_lsh_pairs_sql(threshold, n)}),
        hit AS (
            SELECT e.x, e.y FROM exact_pairs e
            JOIN lsh_pairs l ON e.x = l.x AND e.y = l.y
        )
        SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
               (SELECT count(*) FROM lsh_pairs) AS n_lsh,
               (SELECT count(*) FROM hit) AS n_hit,
               CASE WHEN (SELECT count(*) FROM exact_pairs) > 0
                    THEN (100 * (SELECT count(*) FROM hit))
                         // (SELECT count(*) FROM exact_pairs) END
                   AS recall_pct,
               CASE WHEN (SELECT count(*) FROM lsh_pairs) > 0
                    THEN (100 * (SELECT count(*) FROM hit))
                         // (SELECT count(*) FROM lsh_pairs) END
                   AS precision_pct
    """


def minhash_lsh_pairs_sql(threshold: float = 0.7, n: int = 3) -> str:
    """Full ANSI-SQL mirror of :func:`minhash_lsh_dedup_pairs` — the
    banded path itself (48 minhash aggregates with the same LCG
    constants, 16 band keys, candidate equality join, exact-Jaccard
    verification of candidates only), NOT the exact-set shortcut, so
    banding-mechanics regressions are visible to the oracle."""
    sig_cols = ", ".join(
        f"min((h * {a} + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    band_structs = ", ".join(
        "struct_pack(band := {b}, bkey := {key})".format(
            b=band,
            key=" || ':' || ".join(
                f"CAST(s{band * ROWS_PER_BAND + j} AS VARCHAR)"
                for j in range(ROWS_PER_BAND)),
        )
        for band in range(N_BANDS)
    )
    return f"""
        WITH {shingle_cte_sql(n)},
        hashed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {P}
                       AS h
            FROM sh
        ),
        sigs AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
        bands AS (
            SELECT doc_id, u.band AS band, u.bkey AS bkey FROM (
                SELECT doc_id, unnest([{band_structs}]) AS u FROM sigs
            )
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.x, c.y, count(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.x
            JOIN sh b ON b.doc_id = c.y AND a.s = b.s
            GROUP BY c.x, c.y
        )
        SELECT x, y,
               CAST(n_inter AS DOUBLE)
               / CAST(sx.n_sh + sy.n_sh - n_inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sz sx ON x = sx.doc_id
        JOIN sz sy ON y = sy.doc_id
        WHERE CAST(n_inter AS DOUBLE)
              / CAST(sx.n_sh + sy.n_sh - n_inter AS DOUBLE) >= {threshold}
    """


def jaccard_threshold_curve(docs: DataFrame, n: int = 3,
                            floor: float = 0.5) -> DataFrame:
    """The dedup threshold curve: how many near-dup pairs exist at each
    candidate threshold — computed from ONE pass over the LSH-verified
    pair set, so picking a threshold stops being guesswork ("0.7 drops
    2x the pairs 0.8 does" becomes a queryable fact before committing a
    corpus rebuild).

    Returns ``(threshold_pct, n_pairs)`` where ``n_pairs`` counts pairs
    with exact Jaccard >= threshold, for thresholds ``floor, floor+0.05
    ... 0.95, 1.0``.

    Pair generation is the EXACT inverted-index path: at a 0.5 floor
    the 16x3 banding's per-pair recall is only ~0.88, which would bias
    the low end of the curve exactly where it informs the decision —
    an audit operator must not inherit the approximation it is sizing.
    Scale: the inverted-index join is bounded by co-shingle pairs (cap
    hot shingles upstream if needed); the curve itself is a bucket
    count + suffix sum over ~10 aggregate rows."""
    pairs = ngram_jaccard_pairs(docs, threshold=floor, n=n)
    # bucket each pair at its highest passed 5%-step, then suffix-sum
    steps = [round(floor + 0.05 * i, 2)
             for i in range(int(round((1.0 - floor) / 0.05)) + 1)]
    bucket = F.floor(F.col("jaccard") * 20 + 1e-9) * 5  # pct, 5%-steps
    per_bucket = (
        pairs.select(bucket.cast("int").alias("bpct"))
        .groupBy("bpct").agg(F.count(F.lit(1)).alias("n"))
    )
    grid = docs.sparkSession.createDataFrame(
        [(int(round(s * 100)),) for s in steps], "threshold_pct int")
    return (
        grid.join(per_bucket, per_bucket.bpct >= grid.threshold_pct,
                  "left")
        .groupBy("threshold_pct")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_pairs"))
    )


def jaccard_threshold_curve_sql(n: int = 3, floor: float = 0.5) -> str:
    steps = [round(floor + 0.05 * i, 2)
             for i in range(int(round((1.0 - floor) / 0.05)) + 1)]
    grid = ", ".join(f"({int(round(s * 100))})" for s in steps)
    return f"""
        WITH pairs AS ({ngram_jaccard_sql(floor, n)}),
        buckets AS (
            SELECT CAST(floor(jaccard * 20 + 1e-9) * 5 AS INTEGER)
                       AS bpct,
                   count(*) AS n
            FROM pairs GROUP BY 1
        ),
        grid(threshold_pct) AS (VALUES {grid})
        SELECT g.threshold_pct,
               CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_pairs
        FROM grid g LEFT JOIN buckets b ON b.bpct >= g.threshold_pct
        GROUP BY g.threshold_pct
    """


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2022, bounded-width distributed form)
# ---------------------------------------------------------------------------

_POS_BITS = 20  # (doc_id, pos) keeper key = doc_id << 20 | pos; docs are
# assumed < 2^20 tokens (1M) — the packing/chunking layer upstream
# guarantees far smaller units.  DECLARED CONTRACT: doc_id must be a
# non-negative integer < 2^43 — a negative id would invert the
# min-keeper's "first occurrence" order and a larger one overflows the
# packed long (ANSI throws, it does not wrap).  Hash-derived 60-bit ids
# must be remapped (e.g. dense_rank) before this operator.


def substring_dedup(docs: DataFrame, width: int = 15) -> DataFrame:
    """Exact substring deduplication, the distributed bounded-width form
    of the public suffix-array recipe ("Deduplicating Training Data
    Makes Language Models Better"): every ``width``-token window that
    occurs more than once in the corpus is removed from every occurrence
    EXCEPT the first (min ``(doc_id, pos)``), overlapping/adjacent
    removals merge into spans, and the surviving tokens are rejoined.
    Any repeated substring of >= ``width`` tokens is covered by its
    windows, so this removes exactly the (>= width)-token repeats the
    suffix array would find — without a global suffix sort.

    Returns one row per doc: ``(doc_id, n_tokens, n_dup_spans,
    n_removed, clean_text)`` (``clean_text`` is whitespace-normalized —
    token-level reconstruction, declared).

    Scale: one (window-hash) shuffle with combinable count/min, a hash
    join back on the window hash, then per-doc combinable aggregation;
    the interval merge is a pure array fold over each doc's own flagged
    starts (bounded by tokens/doc).  Never a global sort, never a
    driver-side structure — the 100 TB path of the suffix-array
    semantics."""
    from hbase_indexer_spark.pipeline.text import token_hash60, tokens

    w = int(width)
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks"))
    t = F.col("toks")
    win_arr = F.when(
        F.size(t) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - w + 1),
            lambda i: F.struct(
                i.cast("long").alias("i"),
                token_hash60(
                    F.concat_ws(" ", F.slice(t, i, F.lit(w)))).alias("h")),
        ),
    ).otherwise(F.array().cast("array<struct<i:long,h:long>>"))
    wins = (
        toked.select("doc_id", F.explode(win_arr).alias("wn"))
        .select("doc_id", F.col("wn.i").alias("i"), F.col("wn.h").alias("h"))
    )
    key = (F.col("doc_id") * F.lit(1 << _POS_BITS) + F.col("i"))
    stats = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(key).alias("keeper"),
    )
    flagged = (
        wins.join(stats, "h")
        .filter((F.col("c") > 1) & (key != F.col("keeper")))
        .select("doc_id", "i")
    )
    empty_iv = F.array().cast("array<struct<s:bigint,e:bigint>>")

    def merge_starts(starts):
        def step(acc, s):
            last = F.element_at(acc, -1)
            grown = F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], s + w).alias("e"))))
            fresh = F.concat(acc, F.array(F.struct(
                s.alias("s"), (s + w).cast("bigint").alias("e"))))
            return F.when((F.size(acc) > 0) & (s <= last["e"]), grown) \
                .otherwise(fresh)

        return F.aggregate(starts, empty_iv, step)

    per_doc = (
        flagged.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("i")).alias("starts"))
        .select("doc_id", merge_starts(F.col("starts")).alias("iv"))
    )
    joined = toked.join(per_doc, "doc_id", "left").select(
        "doc_id", "toks", F.coalesce("iv", empty_iv).alias("iv"))
    ivc = F.col("iv")
    kept = F.filter(
        F.col("toks"),
        lambda tok, idx: ~F.exists(
            ivc, lambda v: (idx + 1 >= v["s"]) & (idx + 1 < v["e"])))
    return joined.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size("iv").cast("int").alias("n_dup_spans"),
        F.aggregate(ivc, F.lit(0).cast("long"),
                    lambda a, v: a + (v["e"] - v["s"]))
        .cast("int").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def substring_dedup_sql(width: int = 15, table: str = "documents") -> str:
    w = int(width)
    return f"""
        WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM {table}),
        wins AS (
            SELECT doc_id, CAST(i.x AS BIGINT) AS i,
                   CAST(('0x' || substr(md5(
                       array_to_string(toks[i.x:i.x + {w - 1}], ' ')),
                       1, 15)) AS BIGINT) AS h
            FROM tk, LATERAL unnest(
                generate_series(1, len(toks) - {w} + 1)) AS i(x)
            WHERE len(toks) >= {w}
        ),
        stats AS (
            SELECT h, count(*) AS c,
                   min(doc_id * {1 << _POS_BITS} + i) AS keeper
            FROM wins GROUP BY h
        ),
        flagged AS (
            SELECT wins.doc_id, wins.i
            FROM wins JOIN stats USING (h)
            WHERE stats.c > 1
              AND wins.doc_id * {1 << _POS_BITS} + wins.i <> stats.keeper
        ),
        brk AS (
            SELECT doc_id, i,
                   CASE WHEN i <= max(i + {w}) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 0 ELSE 1 END AS b
            FROM flagged
        ),
        isl AS (
            SELECT doc_id, i,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
            FROM brk
        ),
        iv AS (
            SELECT doc_id, g, min(i) AS s, max(i) + {w} AS e
            FROM isl GROUP BY doc_id, g
        ),
        ivdoc AS (
            SELECT doc_id, count(*) AS n_spans,
                   CAST(sum(e - s) AS BIGINT) AS n_removed
            FROM iv GROUP BY doc_id
        ),
        pos AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS p
            FROM tk
        ),
        keep AS (
            SELECT pos.doc_id, pos.p, pos.tok
            FROM pos LEFT JOIN iv
              ON pos.doc_id = iv.doc_id AND pos.p >= iv.s AND pos.p < iv.e
            WHERE iv.s IS NULL
        ),
        ct AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
            FROM keep GROUP BY doc_id
        )
        SELECT tk.doc_id,
               CAST(len(tk.toks) AS INTEGER) AS n_tokens,
               CAST(coalesce(d.n_spans, 0) AS INTEGER) AS n_dup_spans,
               CAST(coalesce(d.n_removed, 0) AS INTEGER) AS n_removed,
               coalesce(ct.clean_text, '') AS clean_text
        FROM tk
        LEFT JOIN ivdoc d ON tk.doc_id = d.doc_id
        LEFT JOIN ct ON tk.doc_id = ct.doc_id
    """


# ---------------------------------------------------------------------------
# Corpus-frequency line dedup (RefinedWeb/CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

def line_dedup(docs: DataFrame, max_freq: int = 2) -> DataFrame:
    """Exact LINE-level boilerplate removal (the RefinedWeb/CCNet
    recipe): any trimmed non-empty line whose total occurrence count
    across the corpus exceeds ``max_freq`` is removed from EVERY
    document (nav menus, footers, cookie banners — text that repeats
    verbatim is boilerplate, not content).  Blank lines pass through.

    Returns one row per doc: ``(doc_id, n_lines, n_dropped,
    clean_text)``.

    Scale: one (line-key) shuffle with a combinable count, a hash join
    back on the key, and a per-doc rebuild via sorted collect_list —
    each group is bounded by lines/doc, never corpus-wide.  The hot-line
    table is tiny by definition (only keys with count > max_freq), but
    rides a regular equality join, not a driver collect."""
    lines = F.split(
        F.regexp_replace(F.col("text"), "\r\n", "\n"), "\n", -1)
    exploded = (
        docs.select("doc_id", F.posexplode(lines).alias("p", "line"))
        .withColumn("key", F.trim(F.col("line")))
    )
    counts = (
        exploded.filter(F.col("key") != "")
        .groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > max_freq)
        .select("key", F.lit(True).alias("hot"))
    )
    marked = exploded.join(counts, "key", "left")
    kept = marked.filter(F.col("hot").isNull())
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"),
             F.array_sort(F.collect_list(F.struct("p", "line"))).alias("ls"))
        .select(
            "doc_id", "n_kept",
            F.array_join(F.transform(F.col("ls"), lambda s: s["line"]),
                         "\n").alias("clean_text"))
    )
    base = docs.select("doc_id", F.size(lines).cast("int").alias("n_lines"))
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id", "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("int").alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def line_dedup_sql(max_freq: int = 2, table: str = "documents") -> str:
    return f"""
        WITH l AS (
            SELECT doc_id,
                   string_split(replace(text, chr(13) || chr(10), chr(10)),
                                chr(10)) AS lines
            FROM {table}
        ),
        e AS (
            SELECT doc_id, generate_subscripts(lines, 1) AS p,
                   unnest(lines) AS line
            FROM l
        ),
        ek AS (SELECT doc_id, p, line, trim(line) AS key FROM e),
        hot AS (
            SELECT key FROM ek WHERE key <> ''
            GROUP BY key HAVING count(*) > {max_freq}
        ),
        kept AS (
            SELECT ek.doc_id, ek.p, ek.line
            FROM ek LEFT JOIN hot ON ek.key = hot.key
            WHERE hot.key IS NULL
        ),
        rebuilt AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY p) AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT l.doc_id,
               CAST(len(l.lines) AS INTEGER) AS n_lines,
               CAST(len(l.lines) - coalesce(r.n_kept, 0) AS INTEGER)
                   AS n_dropped,
               coalesce(r.clean_text, '') AS clean_text
        FROM l LEFT JOIN rebuilt r ON l.doc_id = r.doc_id
    """


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (r7): the third classical candidate family
# ---------------------------------------------------------------------------

def global_rank(df: DataFrame, order_cols: list[str],
                rank_col: str = "rank", n_parts: int = 32) -> DataFrame:
    """Global dense 1-based ranking WITHOUT a single-partition window:
    range-partition + sort on the order columns, count rows per
    partition (one tiny aggregate), broadcast the cumulative offsets,
    then rank = offset(partition) + per-partition row_number — every
    window runs partition-local, so the sort parallelism survives.

    The rank is determined by the total order alone: range-partition
    boundaries are sampled, but moving a boundary never changes any
    row's global position, so the output is deterministic.

    NULL ordering is pinned to NULLS LAST (r7 ADVICE: Spark's default
    ascending sort is NULLS FIRST while DuckDB's row_number ORDER BY
    defaults to NULLS LAST — unpinned, a NULL key ranks at opposite
    ends of the two engines).

    Scale: this is THE distributed ranking recipe — one range exchange
    (inherent to any global order), one count aggregate, no
    single-task stage."""
    from pyspark.sql import Window

    order = [F.asc_nulls_last(c) for c in order_cols]
    parted = (df.repartitionByRange(n_parts, *order)
              .sortWithinPartitions(*order)
              .withColumn("_pid", F.spark_partition_id()))
    parted = parted.localCheckpoint(eager=True)  # pin sampled boundaries
    sizes = {r["_pid"]: r["n"] for r in
             parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
    w = Window.partitionBy("_pid").orderBy(*order)
    return (parted.withColumn(
        rank_col, (off[F.col("_pid")] + F.row_number().over(w))
        .cast("long")).drop("_pid"))


def sorted_neighborhood_pairs(docs: DataFrame, window: int = 4,
                              key_len: int = 24) -> DataFrame:
    """Sorted-neighborhood method (SNM): order the corpus by a sort key
    (lowercased ``key_len``-char text prefix, doc_id tie-break) and pair
    each doc with its ``window`` successors — the classical blocking
    family alongside exact hashing and LSH banding: O(n·w) candidates,
    catches near-dups whose edits are BEYOND a shared prefix ... as long
    as the key sorts them together (its documented blind spot; rotate
    keys across passes in practice).  Each candidate pair carries its
    distinct-token Jaccard in integer micro units as the verification
    score.

    Returns ``(x, y, gap, jaccard_micro)`` with x the lower-ranked doc.

    Scale: one range exchange (the sort — inherent), offsets via
    :func:`global_rank` (no single-task window), candidates via an
    EQUI-join on rank+gap (the gap explode is window-sized, never a
    range join / BNLJ), token arrays ride the join (distinct tokens,
    vocab-bounded per doc)."""
    # coalesce to '' so a NULL text can never produce a NULL sort key /
    # NULL token array (r7 ADVICE: NULL keys would rank NULLS-FIRST in
    # Spark vs NULLS-LAST in the DuckDB oracle)
    txt = F.coalesce(F.col("text"), F.lit(""))
    base = docs.select(
        "doc_id",
        F.substring(F.lower(txt), 1, key_len).alias("k"),
        F.array_distinct(tokens(txt)).alias("toks"))
    ranked = global_rank(base, ["k", "doc_id"])
    left = ranked.select(
        F.col("doc_id").alias("x"), F.col("toks").alias("tx"),
        F.col("rank").alias("r1"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("g"))
    right = ranked.select(F.col("doc_id").alias("y"),
                          F.col("toks").alias("ty"),
                          F.col("rank").alias("r2"))
    cand = left.join(right, left["r1"] + left["g"] == right["r2"])
    inter = F.size(F.array_intersect("tx", "ty"))
    union = F.size("tx") + F.size("ty") - inter
    return (cand.select(
        "x", "y", F.col("g").cast("int").alias("gap"),
        F.when(union > 0, F.expr("1000000") * inter)
        .otherwise(F.lit(0)).alias("_num"), union.alias("_den"))
        .select("x", "y", "gap",
                F.when(F.col("_den") > 0,
                       F.expr("_num div _den")).otherwise(F.lit(0))
                .cast("long").alias("jaccard_micro"))
        .orderBy("x", "gap"))


def sorted_neighborhood_sql(window: int = 4, key_len: int = 24) -> str:
    """DuckDB mirror: row_number over the same (prefix, doc_id) order,
    self-join on rank distance 1..window, list_distinct Jaccard."""
    return f"""
        WITH base AS (
            SELECT doc_id,
                   substr(lower(coalesce(text, '')), 1, {key_len}) AS k,
                   list_distinct({TOKS_SQL_NN}) AS toks
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, toks,
                   row_number() OVER (ORDER BY k, doc_id) AS rank
            FROM base
        )
        SELECT a.doc_id AS x, b.doc_id AS y,
               CAST(b.rank - a.rank AS INTEGER) AS gap,
               CAST(CASE WHEN len(a.toks) + len(b.toks)
                              - len(list_intersect(a.toks, b.toks)) > 0
                    THEN (1000000 * len(list_intersect(a.toks, b.toks)))
                         // (len(a.toks) + len(b.toks)
                             - len(list_intersect(a.toks, b.toks)))
                    ELSE 0 END AS BIGINT) AS jaccard_micro
        FROM ranked a JOIN ranked b
          ON b.rank BETWEEN a.rank + 1 AND a.rank + {window}
        ORDER BY x, gap
    """


# ---------------------------------------------------------------------------
# Prefix filtering (PPJoin-lite, r8): the fourth classical candidate family
# ---------------------------------------------------------------------------

def prefix_filter_pairs(docs: DataFrame,
                        threshold_micro: int = 600_000) -> DataFrame:
    """All-pairs set-similarity join via PREFIX FILTERING (the
    PPJoin/AllPairs family, Chaudhuri et al. / Xiao et al.): order every
    document's distinct tokens by GLOBAL rarity (document frequency asc,
    token asc), keep only the first ``m - ceil(t*m) + 1`` tokens as the
    prefix, and generate candidates from prefix-token equality — any
    pair with Jaccard >= t MUST share at least one prefix token (the
    pigeonhole guarantee), so unlike MinHash banding this family has
    ZERO false negatives.  Candidates then verify with exact Jaccard.

    ``threshold_micro`` is the Jaccard threshold in integer micro units
    (600000 = 0.6); the prefix length uses the integer form
    ``m - (t_micro*m + 999999) div 1e6 + 1`` so both engines compute the
    identical ceil with no float in sight.

    POSITIONAL filtering (the PPJoin upgrade over plain AllPairs) is
    applied per candidate row before the distinct: a match at prefix
    positions (px, py) bounds the possible overlap by
    ``min(mx-px, my-py)`` (1-based remaining suffixes), and Jaccard >= t
    needs overlap >= t/(1+t)·(mx+my); rows failing
    ``bound·(1e6+t) >= t·(mx+my)`` are pruned.  Exactness is preserved:
    a true pair's EARLIEST shared token sees every shared token in both
    remaining suffixes, so its bound >= the true overlap and that row
    always survives.

    Returns verified ``(x, y, jaccard_micro)`` pairs, x < y (unordered —
    exact all-pairs output is cluster²-sized; don't global-sort it).

    Scale: the join key is the PREFIX token — the globally rarest
    tokens — so bucket sizes are the df of rare tokens, not corpus
    hot-words; the length filter ``min(ma,mb) >= t*max(ma,mb)`` prunes
    before verification; verification joins token arrays back
    (two hash joins), never recomputing them.  Candidate volume is
    sum over prefix tokens of df², the quantity the rarity ordering
    minimizes — the standard 100 TB all-pairs recipe when recall must
    be exact.

    r10: the quadratic machinery runs over DISTINCT TOKEN SETS, not
    docs.  Jaccard depends only on the distinct token set, so docs
    sharing a set are interchangeable: group them first (one
    corpus-sized aggregate), generate+verify candidates once per
    distinct set, then expand surviving set pairs back to doc pairs —
    same-set docs pair at exactly 1e6, cross-set doc pairs inherit
    their set pair's score.  A near-dup corpus is DEFINED by giant
    equal-set clusters, so candidate volume drops by the mean cluster
    size squared (sf1 probe: 12.5k docs / 1.07k sets — 39.1M doc-level
    candidates became 0.6M set-level ones) while the produced pair set
    is provably identical (:func:`distinct_value_pairs`)."""
    t = int(threshold_micro)
    return distinct_value_pairs(
        _token_sets(docs), "doc_id", "toks",
        lambda g, _: _prefix_filter_set_pairs(g, g, t, self_join=True),
        # same-set pairs score exactly 1e6: they qualify iff t <= 1e6
        same_gate=F.lit(t <= 1_000_000),
        same_cols=[F.lit(1_000_000).cast("long").alias("jaccard_micro")])


def _token_sets(docs: DataFrame) -> DataFrame:
    """``(doc_id, toks)``: each doc's canonical (sorted) distinct token
    set.  Token-less docs can never pair (no shared token), so they are
    dropped here."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    return (docs.select(
        "doc_id", F.array_sort(F.array_distinct(tokens(txt))).alias("toks"))
        .filter(F.size("toks") > 0))


def _prefix_filter_set_pairs(left_sets: DataFrame, right_sets: DataFrame,
                             t: int, self_join: bool) -> DataFrame:
    """PPJoin candidate generation + exact verification over one row
    per DISTINCT token set (``gid``, ``toks`` — toks non-empty).

    Every token is re-keyed to its dense GLOBAL RARITY RANK (long, r9)
    and the whole join runs on ranks instead of strings — the rank
    order IS the (dfn, tok) prefix order, the token->rank map is a
    bijection so every intersection size (hence every Jaccard and the
    final pair set) is unchanged, and the verify stage shuffles 8-byte
    longs instead of string arrays (dictionary encoding).  Document
    frequency here counts DISTINCT SETS, not docs — the prefix
    pigeonhole guarantee holds under ANY shared total token order, so
    the produced pair set is order-independent; the order only shapes
    candidate volume.

    Returns ``(gx, gy, jaccard_micro)``; for ``self_join`` both inputs
    must be the same set table and pairs come out ``gx < gy``."""
    el = left_sets.select(F.col("gid").alias("_gl"),
                          F.explode("toks").alias("tok"))
    er = (el.withColumnRenamed("_gl", "_gr") if self_join else
          right_sets.select(F.col("gid").alias("_gr"),
                            F.explode("toks").alias("tok")))
    dfe = el if self_join else el.unionByName(
        er.withColumnRenamed("_gr", "_gl"))
    dfc = dfe.groupBy("tok").agg(F.count(F.lit(1)).alias("dfn"))
    ranked = global_rank(dfc, ["dfn", "tok"], rank_col="rk")

    def meta_of(e, gcol):
        s = (e.join(ranked.select("tok", "rk"), "tok")
             .groupBy(gcol)
             .agg(F.array_sort(F.collect_list("rk")).alias("st")))
        return s.select(
            gcol, "st", F.size("st").cast("long").alias("m"),
            (F.size("st").cast("long")
             - F.expr(f"(({t} * size(st)) + 999999) div 1000000")
             + 1).alias("plen"))

    ml = meta_of(el, "_gl")
    mr = ml.withColumnRenamed("_gl", "_gr") if self_join \
        else meta_of(er, "_gr")

    def pref_of(meta, gcol, g_as, m_as, p_as):
        return meta.select(
            F.col(gcol).alias(g_as), F.col("m").alias(m_as),
            F.posexplode(F.slice("st", 1, F.col("plen")))
            .alias(p_as, "tok"))

    a = pref_of(ml, "_gl", "gx", "ma", "pa")
    b = pref_of(mr, "_gr", "gy", "mb", "pb")
    # positional bound: positions are 0-based, so the remaining suffix
    # including the match is m - p0
    bound = F.least(F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb"))
    flt = ((F.least("ma", "mb") * 1_000_000
            >= F.lit(t) * F.greatest("ma", "mb"))
           & (bound * (1_000_000 + t)
              >= F.lit(t) * (F.col("ma") + F.col("mb"))))
    if self_join:
        flt = (F.col("gx") < F.col("gy")) & flt
    cand = (a.join(b, "tok")
            .filter(flt)
            .select("gx", "gy").distinct()
            # the candidate table is BYTES-tiny (two longs/row) but each
            # row buys an array_intersect over full token arrays — AQE
            # coalesces the distinct's output by size and collapsed the
            # verify stage to 2 tasks at the sf1 probe (625s wall).
            # Re-spread candidates (hash on the full pair — immune to
            # one hot cluster head) so verification parallelism tracks
            # the cluster, not the candidate byte count.
            .repartition(F.col("gx"), F.col("gy")))
    ta = ml.select(F.col("_gl").alias("gx"),
                   F.col("st").alias("tx"), F.col("m").alias("mx"))
    tb = mr.select(F.col("_gr").alias("gy"),
                   F.col("st").alias("ty"), F.col("m").alias("my"))
    inter = F.size(F.array_intersect("tx", "ty")).cast("long")
    return (cand.join(ta, "gx").join(tb, "gy")
            .withColumn("_i", inter)
            .withColumn("jaccard_micro",
                        F.expr("(1000000 * _i) div (mx + my - _i)"))
            .filter(F.col("jaccard_micro") >= t)
            .select("gx", "gy", "jaccard_micro"))


def prefix_filter_join(left: DataFrame, right: DataFrame,
                       threshold_micro: int = 600_000) -> DataFrame:
    """Cross-corpus prefix-filtering similarity JOIN (r9): every
    ``(left, right)`` doc pair with exact Jaccard >= t — the R-S join
    form of :func:`prefix_filter_pairs`, and the EXACT-RECALL upgrade
    of ``dedup_against``'s banded near-dup screen (banding can miss a
    true pair; the prefix pigeonhole cannot).  Use it where a missed
    contamination pair is unacceptable: benchmark decontamination,
    cross-snapshot release audits.

    Both corpora are ranked in ONE shared global rarity order (document
    frequency over the UNION — the prefix guarantee needs only that
    both sides use the same total order, and union-df minimizes
    candidate volume); candidates meet on shared prefix ranks under the
    same length + positional filters as the self-join, then verify with
    exact intersections on the rank arrays.

    Returns ``(x, y, jaccard_micro)`` with x from ``left``, y from
    ``right`` (both must carry ``doc_id``/``text``; doc_id spaces may
    overlap — pairing is by side, not id order).

    Scale: identical recipe to the self-join — candidates keyed on
    globally-rare ranks, verification on dictionary-encoded longs over
    DISTINCT TOKEN SETS per side (r10 — see
    :func:`prefix_filter_pairs`), surviving set pairs expanded back to
    ``(left doc, right doc)`` pairs; the extra union for the df count
    is one combinable aggregate."""
    t = int(threshold_micro)
    return distinct_value_pairs(
        _token_sets(left), "doc_id", "toks",
        lambda gl, gr: _prefix_filter_set_pairs(gl, gr, t, self_join=False),
        right=_token_sets(right))


def prefix_filter_join_sql(threshold_micro: int,
                           left_where: str, right_where: str,
                           table: str = "documents") -> str:
    """DuckDB mirror of :func:`prefix_filter_join` over two slices of
    ``table`` (``left_where`` / ``right_where`` row predicates).  The
    mirror verifies EVERY length-eligible cross pair directly (exact
    Jaccard on the distinct token lists) — the oracle checks the
    answer, not the candidate machinery, so a prefix-filter recall bug
    on the Spark side shows up as missing rows."""
    t = int(threshold_micro)
    return f"""
        WITH lt AS (
            SELECT doc_id, list_distinct({TOKS_SQL_NN}) AS toks
            FROM {table} WHERE {left_where}
        ),
        rt AS (
            SELECT doc_id, list_distinct({TOKS_SQL_NN}) AS toks
            FROM {table} WHERE {right_where}
        )
        SELECT lt.doc_id AS x, rt.doc_id AS y,
               CAST((1000000 * len(list_intersect(lt.toks, rt.toks)))
                    // (len(lt.toks) + len(rt.toks)
                        - len(list_intersect(lt.toks, rt.toks)))
                    AS BIGINT) AS jaccard_micro
        FROM lt JOIN rt
          -- token-less docs never enter the Spark-side meta (explode
          -- drops them); mirror that and dodge the 0//0
          ON len(lt.toks) > 0 AND len(rt.toks) > 0
         AND least(len(lt.toks), len(rt.toks)) * 1000000
             >= {t} * greatest(len(lt.toks), len(rt.toks))
        WHERE (1000000 * len(list_intersect(lt.toks, rt.toks)))
              // (len(lt.toks) + len(rt.toks)
                  - len(list_intersect(lt.toks, rt.toks))) >= {t}
    """


def prefix_filter_sql(threshold_micro: int = 600_000,
                      table: str = "documents") -> str:
    t = int(threshold_micro)
    return f"""
        WITH tk AS (
            SELECT doc_id, list_distinct({TOKS_SQL_NN}) AS toks
            FROM {table}
        ),
        e AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        dfc AS (SELECT tok, count(*) AS dfn FROM e GROUP BY tok),
        sorted_ AS (
            SELECT e.doc_id,
                   array_agg(e.tok ORDER BY dfc.dfn, e.tok) AS st
            FROM e JOIN dfc USING (tok) GROUP BY e.doc_id
        ),
        meta AS (
            SELECT doc_id, st, len(st) AS m,
                   len(st) - (({t} * len(st)) + 999999) // 1000000 + 1
                       AS plen
            FROM sorted_
        ),
        pref AS (
            SELECT doc_id, m, unnest(list_slice(st, 1, plen)) AS tok,
                   generate_subscripts(list_slice(st, 1, plen), 1) AS p1
            FROM meta
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
            FROM pref a JOIN pref b ON a.tok = b.tok
            WHERE a.doc_id < b.doc_id
              AND least(a.m, b.m) * 1000000 >= {t} * greatest(a.m, b.m)
              -- positional bound (1-based subscripts: remaining suffix
              -- incl. the match = m - p1 + 1, == Spark's m - p0)
              AND least(a.m - a.p1 + 1, b.m - b.p1 + 1) * (1000000 + {t})
                  >= {t} * (a.m + b.m)
        )
        SELECT c.x, c.y,
               CAST((1000000 * len(list_intersect(ma.st, mb.st)))
                    // (ma.m + mb.m - len(list_intersect(ma.st, mb.st)))
                    AS BIGINT) AS jaccard_micro
        FROM cand c
        JOIN meta ma ON c.x = ma.doc_id
        JOIN meta mb ON c.y = mb.doc_id
        WHERE (1000000 * len(list_intersect(ma.st, mb.st)))
              // (ma.m + mb.m - len(list_intersect(ma.st, mb.st))) >= {t}
    """
