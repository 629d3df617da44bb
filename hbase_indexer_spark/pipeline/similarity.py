"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force cosine top-k: broadcast the (small) query set against the
  embedding table; exact, O(queries x corpus) — the baseline and the
  verifier for the approximate path.
- LSH-bucketed top-k (random hyperplanes): one pass to a b-bit sketch,
  candidates = same-bucket (multi-probe on neighboring buckets), exact
  re-rank of candidates only — the 100 TB path: the corpus is bucketed
  once (write-time), each query touches a handful of buckets.

Dot products run as Catalyst ``aggregate``/``zip_with`` folds in double
precision (left-to-right, matching the DuckDB oracle's evaluation), staying
JVM-side; for very wide vectors a numpy pandas-UDF variant is provided.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (pandas-UDF type hints resolve via module globals)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hbase_indexer_spark.functions.fastlit import array_lit


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_at_least(va: Column, vb: Column, na: Column, nb: Column,
                    threshold: float) -> Column:
    """The exact-cosine gate of the LSH pair paths, on precomputed norms:
    ``dot(va, vb) / (na * nb) >= threshold``.  ``try_divide`` turns a zero
    norm product into NULL, so a zero vector never passes (plain division
    raises DIVIDE_BY_ZERO under ANSI); every non-zero quotient is the same
    double as plain division."""
    return F.try_divide(dot(va, vb), na * nb) >= threshold


def brute_force_topk(emb: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact top-k neighbors for each query id: broadcast queries, one pass
    over the corpus, per-query top-k window (ties broken by neighbor id)."""
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def brute_force_topk_sql(query_ids: list[int], k: int = 5) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id IN ({ids})
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])) AS sim
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# LSH-bucketed approximate search (scale path)
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1]
    (LCG — fixed literals, reproducible anywhere)."""
    out = []
    x = (bit + 1) * 2654435761 % (2 ** 31)
    for _ in range(dim):
        x = (x * 1103515245 + 12345) % (2 ** 31)
        out.append(x / (2 ** 30) - 1.0)
    return out


def hyperplane_sketch(v: Column, dim: int, n_bits: int = 12,
                      plane_offset: int = 0) -> Column:
    """b-bit random-hyperplane sketch: bit i = sign(v . h_(offset+i)).
    ``plane_offset`` selects an independent plane family (for multi-table
    OR-amplification)."""
    # ONE 2-D literal + HOF fold: the per-bit python loop built ~8 py4j
    # column ops per plane (512 calls for an 8-table family build) — the
    # driver-side plan-construction tax fastlit.py documents.  Per plane
    # the float math is the identical zip_with/aggregate fold, and the
    # bit sum is exact integer addition in the same b=0..n-1 order.
    planes = array_lit(
        [_hyperplane(dim, plane_offset + b) for b in range(n_bits)],
        "double")
    weights = array_lit([1 << b for b in range(n_bits)], "bigint")
    bits = F.transform(
        planes,
        lambda p, b: F.when(
            F.aggregate(
                F.zip_with(v, p, lambda x, y: x.cast("double") * y),
                F.lit(0.0), lambda acc, t: acc + t,
            ) >= 0,
            F.element_at(weights, b + F.lit(1)),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, t: a + t)


def hyperplane_sketches(v: Column, dim: int, n_bits: int,
                        n_tables: int) -> list[Column]:
    """The OR-amplified sketch columns ``b0..b{n_tables-1}`` of ``v``:
    table t uses its own plane family (offset ``n_bits * t``)."""
    return [
        hyperplane_sketch(v, dim, n_bits, plane_offset=n_bits * t).alias(f"b{t}")
        for t in range(n_tables)
    ]


def _probe_masks(n_bits: int, probe_bits: int) -> list[int]:
    """Bucket ids to probe around a query's sketch: the bucket itself plus
    every bucket within ``probe_bits`` bit-flips (multi-probe LSH)."""
    masks = [0] + [1 << b for b in range(n_bits)]
    if probe_bits >= 2:
        masks += [
            (1 << a) | (1 << b)
            for a in range(n_bits) for b in range(a + 1, n_bits)
        ]
    if probe_bits >= 3:
        masks += [
            (1 << a) | (1 << b) | (1 << c)
            for a in range(n_bits)
            for b in range(a + 1, n_bits)
            for c in range(b + 1, n_bits)
        ]
    return masks


def lsh_topk(emb: DataFrame, query_ids: list[int], k: int = 5, dim: int = 64,
             n_bits: int = 8, probe_bits: int = 2, n_tables: int = 1,
             with_sim: bool = False) -> DataFrame:
    """Approximate top-k: bucket corpus by hyperplane sketch, probe the
    query's bucket plus all <=probe_bits-flip neighbors, exact re-rank
    within.  Probed fraction = C(n_bits,<=probe_bits) / 2^n_bits — tune
    n_bits up with corpus size (16 bits + 2-probe at 10^9 vectors touches
    ~0.2% of the corpus per query); recall rises with how clustered the
    embedding space is.

    ``n_tables`` > 1 enables OR-amplification: candidates are unioned
    across independent hyperplane families (plane_offset = t * n_bits), so
    a true neighbor is missed only if EVERY table misses it — miss
    probability decays geometrically in n_tables at ~n_tables× probe cost.
    This, not probe widening, is the recall lever at scale.

    ``with_sim`` appends ``sim_q`` — the neighbor's exact cosine rounded to
    4 decimals — so an external oracle can verify every returned row is
    truthful even though the candidate set is approximate.
    """
    masks = _probe_masks(n_bits, probe_bits)
    per_table = []
    for t in range(n_tables):
        off = t * n_bits
        sketched = emb.withColumn(
            "bkt", hyperplane_sketch(F.col("embedding"), dim, n_bits, plane_offset=off)
        )
        q = sketched.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
            F.col("bkt").alias("qbkt"),
        )
        probes = q.select(
            "query_id", "qv",
            F.explode(
                F.transform(array_lit(masks, "bigint"),
                            lambda m: F.col("qbkt").bitwiseXOR(m))
            ).alias("bkt"),
        )
        cands = sketched.join(F.broadcast(probes), "bkt").filter(
            F.col("vec_id") != F.col("query_id")
        )
        per_table.append(cands.select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("sim"),
        ))
    scored = per_table[0]
    for extra in per_table[1:]:
        scored = scored.unionByName(extra)
    scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if with_sim:
        return ranked.select(
            "query_id", "neighbor_id", "rank",
            F.round(F.col("sim"), 4).alias("sim_q"),
        )
    return ranked.select("query_id", "neighbor_id", "rank")


def lsh_topk_sql(query_ids: list[int], k: int = 5, dim: int = 64,
                 n_bits: int = 8, probe_bits: int = 2, n_tables: int = 1,
                 with_sim: bool = False) -> str:
    """ANSI-SQL mirror of :func:`lsh_topk` for the DuckDB oracle.

    The LSH pipeline is fully deterministic (LCG hyperplanes, fixed probe
    masks), so the whole approximate path — sketch, multi-probe bucket
    join, OR-amplified candidate union, exact re-rank — is expressible as
    SQL with the plane components inlined as literals.  A hash-match
    against this oracle therefore verifies the approximate result EXACTLY:
    the candidate generation, the dedup, the ranking, and (``with_sim``)
    each returned neighbor's true cosine.
    """
    ids = ", ".join(str(i) for i in query_ids)
    masks = ", ".join(str(m) for m in _probe_masks(n_bits, probe_bits))

    def sketch_expr(off: int) -> str:
        terms = []
        for b in range(n_bits):
            plane = ", ".join(repr(c) for c in _hyperplane(dim, off + b))
            terms.append(
                f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"[{plane}]) >= 0 THEN {1 << b} ELSE 0 END)"
            )
        return " + ".join(terms)

    table_ctes, table_selects = [], []
    for t in range(n_tables):
        off = t * n_bits
        table_ctes.append(f"""
        sk{t} AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   CAST({sketch_expr(off)} AS BIGINT) AS bkt
            FROM embeddings
        ), q{t} AS (
            SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
            FROM sk{t} WHERE vec_id IN ({ids})
        ), probes{t} AS (
            SELECT query_id, qv, xor(qbkt, m.m) AS bkt
            FROM q{t}, UNNEST([{masks}]) AS m(m)
        )""")
        table_selects.append(
            f"SELECT p.query_id, s.vec_id AS neighbor_id, p.qv, s.v "
            f"FROM sk{t} s JOIN probes{t} p USING (bkt) "
            f"WHERE s.vec_id <> p.query_id"
        )
    cands = " UNION ALL ".join(table_selects)
    sim_col = ", round(sim, 4) AS sim_q" if with_sim else ""
    return f"""
        WITH {", ".join(table_ctes)},
        scored AS (
            SELECT DISTINCT query_id, neighbor_id,
                   list_cosine_similarity(qv, v) AS sim
            FROM ({cands})
        )
        SELECT query_id, neighbor_id, rank{sim_col} FROM (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def _pinned_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic pseudo-random unit centroids (LCG, offset family 1000+
    so they never collide with the LSH planes).  Used by the VERIFIED IVF
    path: with centroids fixed as literals, the whole IVF pipeline becomes
    expressible in both Catalyst and ANSI SQL with no trained state."""
    cents = []
    for c in range(n_cells):
        v = _hyperplane(dim, 1000 + c)
        n = sum(x * x for x in v) ** 0.5
        cents.append([x / n for x in v])
    return cents


def _pinned_cell_ranking(dim: int, n_cells: int):
    """Catalyst cell-ranking expression over the pinned centroids: given a
    vector column, returns the array of ``struct(nd, cell)`` sorted by
    dot DESC, cell ASC (``array_sort`` over ``struct(-dot, cell)``).  One
    2-D literal + one transform keeps the expression tree (and its codegen)
    O(1) in n_cells instead of unrolling n aggregate folds.  Shared by the
    ad-hoc pinned path (:func:`ivf_topk_pinned`) and the pinned index-store
    build/query pair so all three hash-match the same SQL oracle."""
    cents = _pinned_centroids(dim, n_cells)
    cents_lit = array_lit(cents, "double")

    def cell_ranking(v: Column) -> Column:
        scored = F.transform(
            cents_lit,
            lambda c, i: F.struct(
                (-dot(v, c)).alias("nd"),
                i.cast("int").alias("cell"),
            ),
        )
        return F.array_sort(scored)

    return cell_ranking


def ivf_topk_pinned(emb: DataFrame, query_ids: list[int], k: int = 5,
                    dim: int = 64, n_cells: int = 16,
                    n_probe: int = 4) -> DataFrame:
    """IVF top-k over PINNED centroids, entirely in Catalyst — the
    hash-checkable mirror of the IVF mechanics (cell assignment, n_probe
    probing, candidate re-rank), with no k-means state:

    - per-row cell ranking is a shuffle-free ``array_sort`` over
      ``struct(-dot, cell)`` (ascending == dot desc, cell asc — exactly the
      ``ORDER BY d DESC, cell`` the SQL oracle uses);
    - corpus rows take their top-1 cell, queries their top-``n_probe``;
    - candidates join on cell and re-rank by exact cosine.

    The production path (:func:`ivf_topk` / the index store) keeps trained
    centroids and Arrow-batched assignment; this pinned variant exists so
    the approximate family has an exact external oracle
    (``ivf_topk_pinned_sql``), like ``lsh_topk``/``lsh_topk_sql``.
    """
    cell_ranking = _pinned_cell_ranking(dim, n_cells)
    corpus = emb.select(
        "vec_id", "embedding",
        F.element_at(cell_ranking(F.col("embedding")), 1)["cell"].alias("cell"),
    )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.explode(
            F.transform(
                F.slice(cell_ranking(F.col("embedding")), 1, n_probe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    cands = corpus.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("embedding")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("sim"), 4).alias("sim_q"))
    )


def ivf_topk_pinned_sql(query_ids: list[int], k: int = 5, dim: int = 64,
                        n_cells: int = 16, n_probe: int = 4) -> str:
    """ANSI-SQL mirror of :func:`ivf_topk_pinned` (DuckDB oracle): pinned
    centroids inlined as VALUES rows, cell ranking as a window over the
    cross join, identical tie-breaks (dot DESC, cell ASC)."""
    ids = ", ".join(str(i) for i in query_ids)
    cents = _pinned_centroids(dim, n_cells)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(cell, cv) AS (VALUES {values}),
        sims AS (
            SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cell,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_dot_product(
                                          CAST(e.embedding AS DOUBLE[]), c.cv)
                                          DESC, c.cell) AS rn
            FROM embeddings e CROSS JOIN cents c
        ),
        corpus AS (SELECT vec_id, v, cell FROM sims WHERE rn = 1),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, cell
            FROM sims WHERE rn <= {n_probe} AND vec_id IN ({ids})
        ),
        scored AS (
            SELECT p.query_id, s.vec_id AS neighbor_id,
                   list_cosine_similarity(p.qv, s.v) AS sim
            FROM corpus s JOIN probes p USING (cell)
            WHERE s.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim_q FROM (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate search — the classic coarse-quantizer path
# ---------------------------------------------------------------------------

TRAIN_VECTORS_PER_CELL = 100  # k-means needs ~100x n_cells training vectors


def ivf_sample_mod(n_rows: int, n_cells: int) -> int:
    """Hash-sample modulus that keeps the driver-side k-means training set
    at ~TRAIN_VECTORS_PER_CELL x n_cells vectors regardless of corpus size
    (expected sample = n_rows / mod).  Pure and deterministic so the same
    corpus always trains on the same sample."""
    target = TRAIN_VECTORS_PER_CELL * n_cells
    return max(1, n_rows // max(1, target))


def kmeans_centroids(emb: DataFrame, n_cells: int = 16,
                     sample_mod: int | None = None,
                     iters: int = 10, seed: int = 7):
    """Train the IVF coarse quantizer: spherical k-means over a deterministic
    hash sample of the corpus (``xxhash64(vec_id) % sample_mod == 0`` — no
    full scan ordering, reproducible on any cluster layout), solved on the
    driver with numpy.  The sample, not the corpus, bounds driver memory:
    by default ``sample_mod`` is auto-sized from a corpus count so the
    collected training set stays at ~100x n_cells vectors whether the
    corpus is 10^3 or 10^10 rows (training gains nothing past that).

    Returns an L2-normalized (n_cells, dim) float64 ndarray.
    """
    import numpy as np

    if sample_mod is None:
        sample_mod = ivf_sample_mod(emb.count(), n_cells)
    rows = (
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(sample_mod)) == 0)
        .select("vec_id", "embedding").collect()
    )
    rows.sort(key=lambda r: r["vec_id"])  # collect order is not deterministic
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    cents = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(iters):
        # spherical k-means: assign by max cosine, re-center, re-normalize
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def assign_cells(emb: DataFrame, centroids, n_probe: int = 1,
                 out_col: str = "cell") -> DataFrame:
    """Tag each vector with its ``n_probe`` nearest coarse cells (by cosine),
    as an array column.  Arrow-batched numpy matmul; the centroid matrix
    rides the UDF closure (small — n_cells x dim)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    cents = centroids  # (n_cells, dim), normalized

    @F.pandas_udf(ArrayType(IntegerType()))
    def cells_of(vs: pd.Series) -> pd.Series:
        m = np.array(list(vs), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ cents.T                      # (rows, n_cells)
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype(int).tolist() for row in top])

    return emb.withColumn(out_col, cells_of(F.col("embedding")))


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_cells: int = 16, n_probe: int = 4,
             centroids=None) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in exactly one coarse cell
    (write-time partitioning at scale — the inverted file); each query
    probes its ``n_probe`` nearest cells and exact-re-ranks only those
    candidates.  Probed fraction ~ n_probe/n_cells of the corpus per query;
    recall grows with n_probe (n_probe = n_cells degrades to brute force).

    Scale shape: one corpus pass to assign cells (or none, if the corpus is
    stored partitioned by cell), queries x probes broadcast against the
    cell-pruned corpus — no corpus shuffle, no cartesian.
    """
    if centroids is None:
        centroids = kmeans_centroids(emb, n_cells=n_cells)
    corpus = assign_cells(emb, centroids, n_probe=1).select(
        "vec_id", "embedding", F.element_at(F.col("cell"), 1).alias("cell")
    )
    q = assign_cells(
        emb.filter(F.col("vec_id").isin(query_ids)), centroids, n_probe=n_probe
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.explode(F.col("cell")).alias("cell"),
    )
    cands = corpus.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("embedding")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF index store — write-time cell partitioning (the 100 TB layout)
# ---------------------------------------------------------------------------

def build_ivf_index(emb: DataFrame, path: str, n_cells: int = 16,
                    centroids=None) -> None:
    """Materialize the inverted file: corpus written ONCE partitioned by
    coarse cell (``path/cell=<i>/``), centroids saved alongside.  At query
    time only probed cells' files are read (Hive partition pruning) — per
    query the scan cost is ~``n_probe/n_cells`` of the corpus, independent
    of corpus size.  This is the layout the ad-hoc ``ivf_topk`` simulates;
    at 100 TB the build is the one full pass and queries never re-scan."""
    import json
    import os

    if centroids is None:
        centroids = kmeans_centroids(emb, n_cells=n_cells)
    corpus = assign_cells(emb, centroids, n_probe=1).select(
        "vec_id", "embedding", F.element_at(F.col("cell"), 1).alias("cell")
    )
    corpus.write.partitionBy("cell").mode("overwrite").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump([[float(x) for x in row] for row in centroids], f)


def ivf_index_upsert(spark, path: str, new_emb: DataFrame) -> list[int]:
    """Incrementally fold new vectors into a :func:`build_ivf_index`
    store WITHOUT retraining or a full rewrite: assign each new vector to
    its nearest existing centroid, then rewrite ONLY the touched cell
    partitions (read-merge-overwrite per cell, keyed dedup on vec_id so
    re-upserting a vector replaces it).  Returns the touched cell ids.

    This is the ANN analog of the dedup state's incremental accept: the
    daily embedding drip costs O(new + touched cells), never a corpus
    rewrite.  Centroids stay fixed between rebuilds — standard IVF
    practice (recall drifts only as the data distribution drifts; track
    it with ann_recall_report and retrain on a schedule).

    Scale note: per-cell read-merge-overwrite mirrors the bucketed index
    store's copy-on-write; dynamic partition overwrite
    (``partitionOverwriteMode=dynamic``) gives the same effect in one
    write on a real cluster."""
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_centroids.json")) as f:
        centroids = np.array(json.load(f), dtype=np.float64)

    adds = assign_cells(new_emb, centroids, n_probe=1).select(
        "vec_id", "embedding", F.element_at(F.col("cell"), 1).alias("cell")
    ).cache()
    try:
        touched = sorted(r["cell"]
                         for r in adds.select("cell").distinct().collect())
        for cell in touched:
            cell_dir = os.path.join(path, f"cell={cell}")
            cell_adds = adds.filter(F.col("cell") == cell) \
                .select("vec_id", "embedding")
            if os.path.isdir(cell_dir):
                cur = spark.read.parquet(cell_dir).select("vec_id", "embedding")
                merged = cur.join(cell_adds.select("vec_id"), "vec_id",
                                  "left_anti").unionByName(cell_adds)
            else:
                merged = cell_adds
            import shutil

            # one write to a sibling tmp dir, then swap — merged reads the
            # live cell dir, so an in-place overwrite would read-after-free
            tmp = os.path.join(path, f"_cell_{cell}.tmp")
            merged.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(cell_dir, ignore_errors=True)
            os.rename(tmp, cell_dir)
    finally:
        adds.unpersist()
    return touched


def ivf_topk_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                     n_probe: int = 4) -> DataFrame:
    """Query a :func:`build_ivf_index` store: assign each query to its
    ``n_probe`` nearest cells, scan ONLY those partitions (pruned at the
    source — verify via ``df.inputFiles()``), exact-re-rank candidates.

    ``queries``: DataFrame(query_id, qv).  The probed-cell list is tiny
    (≤ queries × n_probe ints) and drives an ``isin`` partition filter.
    """
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_centroids.json")) as f:
        centroids = np.array(json.load(f), dtype=np.float64)

    tagged = assign_cells(
        queries.select(F.col("query_id").alias("vec_id"),
                       F.col("qv").alias("embedding")),
        centroids, n_probe=n_probe,
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.explode(F.col("cell")).alias("cell"),
    )
    q = tagged.cache()
    probed = [r["cell"] for r in q.select("cell").distinct().collect()]

    corpus = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    cands = corpus.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("embedding")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def build_ivf_index_pinned(emb: DataFrame, path: str, dim: int = 64,
                           n_cells: int = 16) -> None:
    """:func:`build_ivf_index` with PINNED centroids and the Catalyst cell
    assignment — the deterministic, hash-checkable build.  Same layout as
    the trained store (``path/cell=<i>/`` + ``_centroids.json``), but the
    assignment arithmetic is the exact float64 dot + (dot DESC, cell ASC)
    tie-break that ``ivf_topk_pinned_sql`` replays in DuckDB, so a query
    over this store has a full external oracle.  The trained k-means build
    stays the production default; this exists so the driver gate covers the
    store-backed read path (partition-pruned scan + re-rank), not just the
    ad-hoc plan."""
    import json
    import os

    cell_ranking = _pinned_cell_ranking(dim, n_cells)
    corpus = emb.select(
        "vec_id", "embedding",
        F.element_at(cell_ranking(F.col("embedding")), 1)["cell"].alias("cell"),
    )
    corpus.write.partitionBy("cell").mode("overwrite").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump(_pinned_centroids(dim, n_cells), f)


def ivf_topk_indexed_pinned(spark, path: str, queries: DataFrame, k: int = 5,
                            dim: int = 64, n_cells: int = 16,
                            n_probe: int = 4) -> DataFrame:
    """Query a :func:`build_ivf_index_pinned` store: probe cells come from
    the same pinned Catalyst ranking the build used, the corpus scan is
    partition-pruned to the probed cells, candidates exact-re-rank by
    cosine.  Output schema == :func:`ivf_topk_pinned` (query_id,
    neighbor_id, rank, sim_q) and — because parquet round-trips the
    embedding floats bit-exactly — the result equals the ad-hoc pinned
    plan, so ``ivf_topk_pinned_sql`` is its oracle too.

    ``queries``: DataFrame(query_id, qv).  The probed-cell collect is
    bounded by queries x n_probe ints (same shape as the trained
    :func:`ivf_topk_indexed`)."""
    cell_ranking = _pinned_cell_ranking(dim, n_cells)
    q = queries.select(
        "query_id", "qv",
        F.explode(
            F.transform(
                F.slice(cell_ranking(F.col("qv")), 1, n_probe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    ).cache()
    probed = [r["cell"] for r in q.select("cell").distinct().collect()]

    corpus = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    cands = corpus.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("embedding")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round(F.col("sim"), 4).alias("sim_q"))
    )


def numpy_topk(emb: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Arrow/numpy variant of brute-force top-k: per-partition matmul via
    mapInPandas (the pattern for very wide embeddings where a per-element
    Catalyst fold is too slow), then a global top-k reduce."""
    import numpy as np
    import pandas as pd

    q_rows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding").collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def part(frames):
        for pdf in frames:
            if pdf.empty:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = q_mat @ m.T  # (nq, rows)
            for qi, qid in enumerate(q_ids):
                order = np.argsort(-sims[qi])[: k + 1]
                yield pd.DataFrame({
                    "query_id": int(qid),
                    "neighbor_id": pdf["vec_id"].to_numpy()[order],
                    "sim": sims[qi][order],
                })

    partial = emb.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, neighbor_id long, sim double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8 symmetric)
# ---------------------------------------------------------------------------

def quantize_embeddings(emb: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|v| / 127``,
    ``code_i = floor(v_i/scale + 0.5)`` — the 4x memory lever for ANN at
    100 TB (a 1024-dim float corpus shrinks from 4 KB to 1 KB per row,
    and IVF/LSH re-rank reads codes, touching full floats only for the
    final top-k).

    Map-only Catalyst fold (no shuffle, no Python); reconstruction error
    is bounded by ``scale/2`` per component and emitted per row so the
    quality loss is auditable.  All arithmetic is double-precision with
    explicit floor(x+0.5) rounding, so the DuckDB mirror is bit-exact —
    codes serialize via the chr(31) convention (arrays don't hash in the
    driver's canonicalizer).

    Zero vectors quantize to all-zero codes (the ``scale = 0`` division
    guard — under ANSI mode floor(inf) would throw, not wrap).
    """
    q = quantize_codes(emb, vec_col=vec_col, id_col=id_col)
    return q.select(
        id_col,
        "scale",
        F.concat_ws("\x1f", F.transform(F.col("codes"),
                                        lambda c: c.cast("string")))
        .alias("codes_s"),
        "max_err",
    )


def quantize_codes(emb: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Array form of :func:`quantize_embeddings` — (id, scale,
    codes array<int>, max_err) — the shape ANN paths consume directly."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = max_abs / F.lit(127.0)
    codes = F.when(
        scale == 0.0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
    err = F.array_max(
        F.zip_with(v, codes, lambda a, c: F.abs(a - c.cast("double") * scale))
    )
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        codes.alias("codes"),
        err.alias("max_err"),
    )


def dequantize(qdf: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Reconstruct approximate vectors (``code_i * scale``) from
    :func:`quantize_codes` output — drop-in for any search path that
    expects an ``(id, embedding)`` frame (codes-first ANN re-rank)."""
    return qdf.select(
        F.col(id_col),
        F.transform(F.col("codes"),
                    lambda c: c.cast("double") * F.col("scale"))
        .alias(vec_col),
    )


def quantize_embeddings_sql(table: str = "embeddings",
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> str:
    """DuckDB mirror of :func:`quantize_embeddings` (same double ops,
    same floor(x+0.5) rounding, 1-based list indexing)."""
    return f"""
        WITH v AS (
            SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS ve FROM {table}
        ), s AS (
            SELECT {id_col}, ve,
                   list_max(list_transform(ve, x -> abs(x))) / 127.0 AS scale
            FROM v
        ), c AS (
            SELECT {id_col}, ve, scale,
                   CASE WHEN scale = 0
                        THEN list_transform(ve, x -> 0)
                        ELSE list_transform(ve, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
                   END AS codes
            FROM s
        )
        SELECT {id_col}, scale,
               array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)),
                               chr(31)) AS codes_s,
               list_max(list_transform(range(1, len(ve) + 1),
                        i -> abs(ve[i] - codes[i] * scale))) AS max_err
        FROM c
    """


# ---------------------------------------------------------------------------
# Per-label centroid statistics (embedding-space corpus audit)
# ---------------------------------------------------------------------------

def label_centroids(emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label embedding centroids in exact fixed point: one row per
    (label, dim) with the micro-unit component sum and member count —
    the class-center audit used to spot label drift / collapsed classes
    before training on an embedding corpus.  Emitting ``(sum_micro,
    n_vecs)`` instead of the float mean keeps the result bit-exact and
    order-independent (integer addition commutes; the consumer divides).

    Scale: ``posexplode`` fans each vector into dim rows, but the
    ``(label, dim)`` aggregation is map-side combinable, so the shuffle
    carries at most ``n_labels x dim`` partial rows per task — the wide
    result never materializes.  Components quantize via the module's
    ``floor(x * 1e6 + 0.5)`` convention (cross-engine deterministic)."""
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .select(
            "label", "dim",
            F.floor(F.col("v").cast("double") * F.lit(1_000_000.0)
                    + F.lit(0.5)).cast("long").alias("vm"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum("vm").alias("sum_micro"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def label_centroids_sql(label_col: str = "label",
                        vec_col: str = "embedding",
                        table: str = "embeddings") -> str:
    return f"""
        SELECT {label_col} AS label, dim, CAST(sum(vm) AS BIGINT) AS sum_micro,
               count(*) AS n_vecs
        FROM (
            SELECT {label_col},
                   CAST(unnest(range(1, len({vec_col}) + 1)) AS INTEGER) - 1
                       AS dim,
                   CAST(floor(
                       unnest(CAST({vec_col} AS DOUBLE[])) * 1000000.0 + 0.5
                   ) AS BIGINT) AS vm
            FROM {table}
        )
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# k-NN majority-vote label prediction (embedding-space classification)
# ---------------------------------------------------------------------------

def knn_label_vote(emb: DataFrame, query_ids: list[int],
                   k: int = 5) -> DataFrame:
    """Predict each query vector's label by majority vote over its k
    exact nearest neighbors (cosine; the query's own row is excluded) —
    the standard embedding-quality probe: high kNN label agreement means
    the space separates the classes.  Ties break toward the
    lexicographically smallest label, so the vote is deterministic.

    Returns ``(query_id, true_label, predicted_label, n_votes)``.

    Scale: neighbor search is :func:`brute_force_topk` (broadcast
    queries, one corpus pass — the verifier path; swap in the LSH/IVF
    top-k for bulk scoring); the vote itself is a combinable
    ``max_by`` over k rows per query."""
    nbrs = brute_force_topk(emb, query_ids, k=k)
    labeled = nbrs.join(
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("label").alias("nbr_label")),
        "neighbor_id",
    )
    votes = (
        labeled.groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .groupBy("query_id")
        .agg(
            F.expr("min_by(nbr_label, struct(-n_votes as n,"
                   " nbr_label as t))").alias("predicted_label"),
            F.max("n_votes").alias("n_votes"),
        )
    )
    truth = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return truth.join(votes, "query_id").select(
        "query_id", "true_label", "predicted_label", "n_votes")


def knn_label_vote_sql(query_ids: list[int], k: int = 5) -> str:
    """DuckDB mirror: the brute top-k CTE + a window argmax vote with the
    same (votes desc, label asc) ordering."""
    return f"""
        WITH nbrs AS ({brute_force_topk_sql(query_ids, k)}),
        votes AS (
            SELECT n.query_id, e.label AS nbr_label,
                   count(*) AS n_votes
            FROM nbrs n JOIN embeddings e ON n.neighbor_id = e.vec_id
            GROUP BY 1, 2
        ),
        win AS (
            SELECT query_id, nbr_label, n_votes,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY n_votes DESC, nbr_label ASC
                   ) AS rn
            FROM votes
        )
        SELECT w.query_id, e.label AS true_label,
               w.nbr_label AS predicted_label, w.n_votes
        FROM win w JOIN embeddings e ON w.query_id = e.vec_id
        WHERE w.rn = 1
    """


# ---------------------------------------------------------------------------
# Contrastive pair mining (positives + hard negatives for metric learning)
# ---------------------------------------------------------------------------

def contrastive_pairs(emb: DataFrame, query_ids: list[int],
                      k_pos: int = 3, k_neg: int = 3) -> DataFrame:
    """Mine contrastive training pairs for each anchor: the ``k_pos``
    nearest neighbors sharing the anchor's label (positives) and the
    ``k_neg`` nearest with a DIFFERENT label (hard negatives — the
    near-misses that teach a metric model the class boundary; random
    negatives are too easy to carry gradient).

    Returns ``(query_id, role, pair_id, rank)`` with ``role`` in
    ``('pos', 'neg')``; rank orders by (cosine desc, pair_id asc)
    within each (anchor, role), so the output is float-free and
    deterministic under ties.

    Scale: one corpus pass — anchors broadcast against the corpus
    exactly like :func:`brute_force_topk`, the role split is a CASE on
    the joined labels (not a second scan), and the per-(anchor, role)
    top-k window partitions on 2x|anchors| keys.  For bulk mining over
    every anchor, feed the candidate set from :func:`lsh_topk` /
    :func:`ivf_topk` instead of the full cross join — the window and
    role logic are unchanged.
    """
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.when(F.col("label") == F.col("q_label"), F.lit("pos"))
            .otherwise(F.lit("neg")).alias("role"),
            F.col("vec_id").alias("pair_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id", "role").orderBy(
        F.desc("sim"), F.asc("pair_id"))
    k_for = (F.when(F.col("role") == "pos", F.lit(k_pos))
             .otherwise(F.lit(k_neg)))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_for)
        .select("query_id", "role", "pair_id", "rank")
    )


def contrastive_pairs_sql(query_ids: list[int], k_pos: int = 3,
                          k_neg: int = 3) -> str:
    """DuckDB mirror: same scored cross join, same (sim desc, id)
    window per (anchor, role), same per-role k."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv, label AS q_label
            FROM embeddings WHERE vec_id IN ({ids})
        ), scored AS (
            SELECT q.query_id,
                   CASE WHEN e.label = q.q_label THEN 'pos'
                        ELSE 'neg' END AS role,
                   e.vec_id AS pair_id,
                   list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])) AS sim
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, role, pair_id, rank FROM (
            SELECT query_id, role, pair_id,
                   row_number() OVER (PARTITION BY query_id, role
                                      ORDER BY sim DESC, pair_id) AS rank
            FROM scored
        ) WHERE rank <= CASE WHEN role = 'pos'
                             THEN {k_pos} ELSE {k_neg} END
    """


# ---------------------------------------------------------------------------
# Quantized coarse-rank + exact re-rank (int8 ANN, fully oracle-able)
# ---------------------------------------------------------------------------

def int8_rerank_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                     m: int | None = None) -> DataFrame:
    """Two-stage ANN over the int8-quantized corpus: coarse-rank every
    candidate by INTEGER code dot product (the cheap pass that reads 1/4
    the bytes), keep the top ``m`` (default 3k) per query, then re-rank
    those by exact float cosine for the final top-``k``.

    The coarse score is scale-free: cos(reconstruct(q), reconstruct(c))
    = intdot / sqrt(ssq_q * ssq_c) because the two per-vector scales
    cancel — so the whole coarse stage is integer arithmetic plus one
    deterministic division, and unlike hyperplane-LSH the ENTIRE
    operator (both stages, all ranks) has a bit-exact DuckDB oracle.

    Returns ``(query_id, neighbor_id, rank)``.

    Scale: codes come from :func:`quantize_codes` (map-only); the coarse
    pass is a broadcast of q's codes against the code corpus — 4x less
    scan than the float brute force, integer multiply-adds instead of
    FP; only k*3 candidates per query touch full floats.  Pair it with
    the IVF cell layout to also prune the scan."""
    m = 3 * k if m is None else m
    codes = quantize_codes(emb)
    ssq = F.aggregate(
        F.transform(F.col("codes"), lambda c: c.cast("long") * c.cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v)
    coded = codes.select("vec_id", "codes", ssq.alias("ssq"))
    q = coded.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("codes").alias("qc"),
        F.col("ssq").alias("qssq"))
    intdot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("codes"),
                   lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v)
    coarse = (
        coded.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            (intdot.cast("double")
             / F.sqrt((F.col("qssq") * F.col("ssq")).cast("double")))
            .alias("qcos"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"),
                                                F.asc("neighbor_id"))
    cands = (coarse.withColumn("crank", F.row_number().over(wq))
             .filter(F.col("crank") <= m)
             .select("query_id", "neighbor_id"))
    qv = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    exact = (
        cands.join(emb.select(F.col("vec_id").alias("neighbor_id"),
                              "embedding"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id",
                cosine(F.col("qv"), F.col("embedding")).alias("sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                                F.asc("neighbor_id"))
    return (exact.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def int8_rerank_topk_sql(query_ids: list[int], k: int = 5,
                         m: int | None = None) -> str:
    """Bit-exact DuckDB mirror: same quantization (floor(x/scale + 0.5)),
    same integer dot, same scale-free coarse score, same re-rank."""
    m = 3 * k if m is None else m
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        ),
        s AS (
            SELECT vec_id, ve,
                   list_max(list_transform(ve, x -> abs(x))) / 127.0 AS scale
            FROM v
        ),
        c AS (
            SELECT vec_id, ve,
                   CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                        ELSE list_transform(ve,
                             x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                   END AS codes
            FROM s
        ),
        coded AS (
            SELECT vec_id, ve, codes,
                   list_sum(list_transform(codes, x -> x * x)) AS ssq
            FROM c
        ),
        coarse AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(
                       range(1, len(q.codes) + 1),
                       i -> q.codes[i] * e.codes[i])) AS DOUBLE)
                   / sqrt(CAST(q.ssq * e.ssq AS DOUBLE)) AS qcos
            FROM coded e, coded q
            WHERE q.vec_id IN ({ids}) AND e.vec_id <> q.vec_id
        ),
        cands AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY qcos DESC, neighbor_id)
                           AS crank
                FROM coarse
            ) WHERE crank <= {m}
        ),
        exact AS (
            SELECT cd.query_id, cd.neighbor_id,
                   list_cosine_similarity(q.ve, e.ve) AS sim
            FROM cands cd
            JOIN v e ON cd.neighbor_id = e.vec_id
            JOIN v q ON cd.query_id = q.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM exact
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# ANN recall report (index quality as a queryable, oracle-able surface)
# ---------------------------------------------------------------------------

def ann_recall_report(emb: DataFrame, query_ids: list[int], k: int = 5,
                      n_bits: int = 8, probe_bits: int = 2,
                      n_tables: int = 2) -> DataFrame:
    """Recall@k of the LSH index against the exact brute-force answer,
    PER QUERY, as a DataFrame — index health as data, not a buried test
    assertion: run it after every index (re)build, alert on the mean,
    bisect bad queries.  Both sides are deterministic, so the report
    itself is oracle-checkable end-to-end.

    Returns ``(query_id, n_hits, recall_pct)`` (integer percent).

    Scale: the two top-k's are the operators' own plans; the comparison
    joins two k-row-per-query results — negligible next to either."""
    exact = brute_force_topk(emb, query_ids, k=k) \
        .select("query_id", "neighbor_id")
    approx = lsh_topk(emb, query_ids, k=k, n_bits=n_bits,
                      probe_bits=probe_bits, n_tables=n_tables) \
        .select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr("(100 * coalesce(n_hits, 0)) div n_exact")
            .alias("recall_pct"),
        )
    )


def ann_recall_report_sql(query_ids: list[int], k: int = 5,
                          n_bits: int = 8, probe_bits: int = 2,
                          n_tables: int = 2) -> str:
    return f"""
        WITH exact_nn AS ({brute_force_topk_sql(query_ids, k)}),
        approx_nn AS ({lsh_topk_sql(query_ids, k=k, n_bits=n_bits,
                                    probe_bits=probe_bits,
                                    n_tables=n_tables)}),
        hits AS (
            SELECT e.query_id, count(*) AS n_hits
            FROM exact_nn e
            JOIN approx_nn a ON e.query_id = a.query_id
                            AND e.neighbor_id = a.neighbor_id
            GROUP BY e.query_id
        ),
        base AS (
            SELECT query_id, count(*) AS n_exact
            FROM exact_nn GROUP BY query_id
        )
        SELECT b.query_id,
               coalesce(h.n_hits, 0) AS n_hits,
               (100 * coalesce(h.n_hits, 0)) // b.n_exact AS recall_pct
        FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
    """


# ---------------------------------------------------------------------------
# Full production ANN stack, oracle-checked: IVF pruning + int8 coarse +
# exact re-rank
# ---------------------------------------------------------------------------

def ivf_int8_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                  dim: int = 64, n_cells: int = 16, n_probe: int = 4,
                  m: int | None = None) -> DataFrame:
    """The three-stage ANN stack as deployed at scale, in one plan:

    1. **IVF pruning** — corpus partitioned by nearest (pinned) coarse
       cell; each query scans only its ``n_probe`` cells
       (:func:`ivf_topk_pinned` mechanics);
    2. **int8 coarse rank** — candidates in probed cells ranked by the
       scale-free integer code dot product (1/4 the bytes, integer MACs
       — :func:`int8_rerank_topk` mechanics), keeping top ``m``;
    3. **exact re-rank** — float cosine for the final ``k``.

    Every stage is deterministic (pinned centroids, md5-free integer
    quantization), so the ENTIRE stack — pruning decisions, coarse
    ranks, final ranks — hash-checks against the SQL oracle; the
    trained-quantizer production variant swaps stage 1's centroids and
    keeps stages 2-3 unchanged.

    Returns ``(query_id, neighbor_id, rank)``.
    """
    m = 3 * k if m is None else m
    cents = _pinned_centroids(dim, n_cells)
    cents_lit = array_lit(cents, "double")

    def cell_ranking(v: Column) -> Column:
        return F.array_sort(F.transform(
            cents_lit,
            lambda c, i: F.struct((-dot(v, c)).alias("nd"),
                                  i.cast("int").alias("cell")),
        ))

    codes = quantize_codes(emb)
    ssq = F.aggregate(
        F.transform(F.col("codes"), lambda c: c.cast("long") * c.cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v)
    corpus = (
        emb.join(codes.select("vec_id", "codes"), "vec_id")
        .select(
            "vec_id", "embedding", "codes", ssq.alias("ssq"),
            F.element_at(cell_ranking(F.col("embedding")), 1)["cell"]
            .alias("cell"),
        )
    )
    q = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .join(codes.select("vec_id", F.col("codes").alias("qc")), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"), "qc",
            F.aggregate(
                F.transform(F.col("qc"),
                            lambda c: c.cast("long") * c.cast("long")),
                F.lit(0).cast("long"), lambda a, v: a + v).alias("qssq"),
            F.explode(F.transform(
                F.slice(cell_ranking(F.col("embedding")), 1, n_probe),
                lambda s: s["cell"])).alias("cell"),
        )
    )
    intdot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("codes"),
                   lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v)
    coarse = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "qv",
            "embedding",
            (intdot.cast("double")
             / F.sqrt((F.col("qssq") * F.col("ssq")).cast("double")))
            .alias("qcos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"),
                                                F.asc("neighbor_id"))
    cands = (coarse.withColumn("crank", F.row_number().over(wq))
             .filter(F.col("crank") <= m))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (
        cands.select(
            "query_id", "neighbor_id",
            cosine(F.col("qv"), F.col("embedding")).alias("sim"))
        # a probed duplicate can't exist (top-1 cell is unique per
        # corpus row), so no distinct needed before the final rank
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_int8_topk_sql(query_ids: list[int], k: int = 5, dim: int = 64,
                      n_cells: int = 16, n_probe: int = 4,
                      m: int | None = None) -> str:
    m = 3 * k if m is None else m
    ids = ", ".join(str(i) for i in query_ids)
    cents = _pinned_centroids(dim, n_cells)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(cell, cv) AS (VALUES {values}),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        ),
        qz AS (
            SELECT vec_id, ve,
                   list_max(list_transform(ve, x -> abs(x))) / 127.0 AS scale
            FROM v
        ),
        cz AS (
            SELECT vec_id, ve,
                   CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                        ELSE list_transform(ve,
                             x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                   END AS codes
            FROM qz
        ),
        coded AS (
            SELECT vec_id, ve, codes,
                   list_sum(list_transform(codes, x -> x * x)) AS ssq
            FROM cz
        ),
        sims AS (
            SELECT d.vec_id, d.ve, d.codes, d.ssq, c.cell,
                   row_number() OVER (PARTITION BY d.vec_id
                                      ORDER BY list_dot_product(d.ve, c.cv)
                                          DESC, c.cell) AS rn
            FROM coded d CROSS JOIN cents c
        ),
        corpus AS (
            SELECT vec_id, ve, codes, ssq, cell FROM sims WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, ve AS qv, codes AS qc,
                   ssq AS qssq, cell
            FROM sims WHERE rn <= {n_probe} AND vec_id IN ({ids})
        ),
        coarse AS (
            SELECT p.query_id, s.vec_id AS neighbor_id, p.qv, s.ve,
                   CAST(list_sum(list_transform(
                       range(1, len(p.qc) + 1),
                       i -> p.qc[i] * s.codes[i])) AS DOUBLE)
                   / sqrt(CAST(p.qssq * s.ssq AS DOUBLE)) AS qcos
            FROM corpus s JOIN probes p USING (cell)
            WHERE s.vec_id <> p.query_id
        ),
        cands AS (
            SELECT query_id, neighbor_id, qv, ve FROM (
                SELECT query_id, neighbor_id, qv, ve,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY qcos DESC, neighbor_id)
                           AS crank
                FROM coarse
            ) WHERE crank <= {m}
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qv, ve) DESC,
                                neighbor_id) AS rank
            FROM cands
        ) WHERE rank <= {k}
    """


def embedding_drift(emb_a: DataFrame, emb_b: DataFrame,
                    label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid drift between two embedding snapshots: the
    cosine similarity of each label's centroid in A vs B — the "did the
    embedding space move under me" audit run before mixing snapshots
    produced by different encoder versions into one ANN index.

    Built on :func:`label_centroids`' exact fixed-point sums, so the
    drift numbers are deterministic: cosine is computed from the
    micro-unit integer component sums (scale factors cancel).

    Returns ``(label, n_a, n_b, centroid_cos)`` for labels present in
    both (cosine NULL if either centroid is the zero vector).

    Scale: two combinable (label, dim) aggregations; the drift join is
    over ``labels x dim`` aggregate rows."""
    a = label_centroids(emb_a, label_col, vec_col) \
        .select("label", "dim", F.col("sum_micro").alias("sa"),
                F.col("n_vecs").alias("n_a"))
    b = label_centroids(emb_b, label_col, vec_col) \
        .select("label", "dim", F.col("sum_micro").alias("sb"),
                F.col("n_vecs").alias("n_b"))
    j = a.join(b, ["label", "dim"])
    agg = j.groupBy("label").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(F.col("sa").cast("decimal(38,0)") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa").cast("decimal(38,0)") * F.col("sa")).alias("ssa"),
        F.sum(F.col("sb").cast("decimal(38,0)") * F.col("sb")).alias("ssb"),
    )
    return agg.select(
        "label", "n_a", "n_b",
        F.when(
            (F.col("ssa") > 0) & (F.col("ssb") > 0),
            F.col("dot").cast("double")
            / F.sqrt(F.col("ssa").cast("double")
                     * F.col("ssb").cast("double")),
        ).alias("centroid_cos"),
    )


def embedding_drift_sql(pred_a: str = "vec_id % 2 = 0",
                        pred_b: str = "vec_id % 2 = 1",
                        label_col: str = "label",
                        table: str = "embeddings") -> str:
    def side(pred, alias):
        return f"""
            SELECT {label_col} AS label, dim, sum(vm) AS s{alias},
                   count(*) AS n_{alias}
            FROM (
                SELECT {label_col},
                       CAST(unnest(range(1, len(embedding) + 1))
                            AS INTEGER) - 1 AS dim,
                       CAST(floor(unnest(CAST(embedding AS DOUBLE[]))
                                  * 1000000.0 + 0.5) AS BIGINT) AS vm
                FROM {table} WHERE {pred}
            )
            GROUP BY 1, 2
        """
    return f"""
        WITH a AS ({side(pred_a, 'a')}), b AS ({side(pred_b, 'b')}),
        j AS (
            SELECT a.label, a.sa, b.sb, a.n_a, b.n_b
            FROM a JOIN b USING (label, dim)
        ),
        agg AS (
            SELECT label, max(n_a) AS n_a, max(n_b) AS n_b,
                   sum(CAST(sa AS HUGEINT) * sb) AS dot,
                   sum(CAST(sa AS HUGEINT) * sa) AS ssa,
                   sum(CAST(sb AS HUGEINT) * sb) AS ssb
            FROM j GROUP BY label
        )
        SELECT label, n_a, n_b,
               CASE WHEN ssa > 0 AND ssb > 0
                    THEN CAST(dot AS DOUBLE)
                         / sqrt(CAST(ssa AS DOUBLE) * CAST(ssb AS DOUBLE))
               END AS centroid_cos
        FROM agg
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

PQ_SUBS = 8      # subspaces (64-dim -> 8 x 8)
PQ_KS = 16       # centroids per subspace (4-bit codes)
_PQ_MICRO = 1_000_000


def _pq_codebook(dim: int = 64, m_sub: int = PQ_SUBS,
                 ks: int = PQ_KS) -> list[list[list[int]]]:
    """Pinned PQ codebook: ``[subspace][centroid][dim]`` micro-unit
    integers in [-1e6, 1e6] (LCG — fixed literals, the same determinism
    recipe as the LSH planes / IVF centroids, so both engines share the
    exact codebook).  A production deployment swaps trained centroids
    into the same literal structure — plan shape unchanged."""
    d_sub = dim // m_sub
    book = []
    for s in range(m_sub):
        cents = []
        for j in range(ks):
            x = (s * ks + j + 1) * 2654435761 % (2 ** 31)
            row = []
            for _ in range(d_sub):
                x = (x * 1103515245 + 12345) % (2 ** 31)
                row.append(int(round((x / (2 ** 30) - 1.0) * _PQ_MICRO)))
            cents.append(row)
        book.append(cents)
    return book


def _micro_quant(v: Column) -> Column:
    return F.transform(
        v, lambda x: F.floor(x.cast("double") * F.lit(1_000_000.0)
                             + F.lit(0.5)).cast("long"))


def _book_literal(book) -> Column:
    # one-parse literal: the element-wise F.array(*[F.lit(...)]) form cost
    # ~2.5s of driver py4j time PER REFERENCE of the 8x16x8 book (measured
    # r9; three references per pq_adc query) — see functions/fastlit.py
    return array_lit(book, "bigint")


def _packed_code(vm: Column, cb: Column, s, d_sub: int, ks: int) -> Column:
    """Argmin-L2 code for subspace ``s``: ``min(dist * ks + j) % ks`` —
    one array_min of packed longs, no struct sort, bit-identical in
    SQL."""
    sub_v = F.slice(vm, s * d_sub + 1, d_sub)
    return (F.array_min(F.transform(
        F.element_at(cb, s + 1),
        lambda c, j: F.aggregate(
            F.zip_with(sub_v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda a, t: a + t
        ) * ks + j.cast("long"))) % ks).cast("int")


def pq_train(emb: DataFrame, dim: int = 64, m_sub: int = PQ_SUBS,
             ks: int = PQ_KS,
             vec_col: str = "embedding") -> list[list[list[int]]]:
    """One exact fixed-point Lloyd step per subspace from the pinned
    init (the :func:`~hbase_indexer_spark.pipeline.dedup.kmeans_cells`
    recipe applied per subspace): assign every subvector to its
    argmin-L2 pinned centroid, refine each centroid to the
    floor(mean) of its members (integer state — bit-exact and
    order-independent), and keep the PINNED centroid for clusters that
    attracted no members.  Returns the refined ``[s][j][d]`` micro-unit
    codebook.

    Scale: the assignment is map-only vs the broadcast pinned literal;
    the refinement shuffle is a combinable (s, j, d) agg carrying at
    most ``m_sub x ks x d_sub`` partials per task, and the driver
    materializes only that many longs (the IVF-training boundedness
    class)."""
    d_sub = dim // m_sub
    book = _pq_codebook(dim, m_sub, ks)
    cb = _book_literal(book)
    base = emb.select(
        F.explode(F.array(_micro_quant(F.col(vec_col)))).alias("vm"))
    vm = F.col("vm")
    codes0 = F.array(*[_packed_code(vm, cb, s, d_sub, ks)
                       for s in range(m_sub)])
    rows = (
        base.select("vm", F.posexplode(codes0).alias("s", "j"))
        .select("s", "j",
                F.posexplode(F.slice(vm, F.col("s") * d_sub + 1,
                                     F.lit(d_sub))).alias("d", "val"))
        .groupBy("s", "j", "d")
        .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    import math

    refined = {(r["s"], r["j"], r["d"]): math.floor(r["sm"] / r["n"])
               for r in rows}
    return [[[int(refined.get((s, j, d), book[s][j][d]))
              for d in range(d_sub)]
             for j in range(ks)]
            for s in range(m_sub)]


def pq_encode(emb: DataFrame, book, dim: int = 64, m_sub: int = PQ_SUBS,
              ks: int = PQ_KS, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """PQ-encode every vector against ``book`` (from :func:`pq_train`):
    per subspace, the code is the argmin-L2 centroid (ties -> smaller
    code), computed entirely in integer arithmetic on micro-quantized
    components.  Returns ``(vec_id, codes array<int>)``.

    Scale: map-only vs a broadcast ``m_sub x ks x d_sub`` literal; codes
    are 4 bits each — the corpus representation ADC scans is ~32x
    smaller than the float vectors (the classic billion-scale trick)."""
    d_sub = dim // m_sub
    cb = _book_literal(book)
    # explode(array(...)) barrier: the quantized vector is referenced
    # m_sub*ks times below — without the Generate, CollapseProject would
    # inline (and re-evaluate) the 64-element quant per reference
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.array(_micro_quant(F.col(vec_col)))).alias("vm"))
    vm = F.col("vm")
    return base.select(
        "vec_id",
        F.array(*[_packed_code(vm, cb, s, d_sub, ks)
                  for s in range(m_sub)]).alias("codes"),
    )


def pq_adc_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                dim: int = 64, m_sub: int = PQ_SUBS, ks: int = PQ_KS,
                m: int | None = None) -> DataFrame:
    """Two-stage PQ search: ADC (asymmetric distance computation) ranks
    every corpus code by the sum of per-subspace LUT distances between
    the RAW query subvectors and each code's trained centroid (all
    integer), keeps the top ``m`` (default 10k) per query, then re-ranks
    those by exact float cosine for the final top-``k``.

    Returns ``(query_id, neighbor_id, rank)`` — the same contract as
    the brute/LSH/IVF/int8 legs, and like int8 the ENTIRE operator
    (training included) has a bit-exact DuckDB oracle.

    Scale: the LUT is ``m_sub x ks`` longs per query, built once on the
    broadcast side; the corpus pass reads only the 4-bit codes (~32x
    less than floats) and does ``m_sub`` array lookups per row — the
    memory-bound regime PQ exists for.  Compose with the IVF cell
    layout to also prune which codes are scanned."""
    m = 10 * k if m is None else m
    d_sub = dim // m_sub
    book = pq_train(emb, dim=dim, m_sub=m_sub, ks=ks)
    cb = _book_literal(book)
    codes = pq_encode(emb, book, dim=dim, m_sub=m_sub, ks=ks)

    qvm = F.col("vm")
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda s: F.transform(
            F.element_at(cb, s + 1),
            lambda c: F.aggregate(
                F.zip_with(F.slice(qvm, s * d_sub + 1, F.lit(d_sub)), c,
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"), lambda a, t: a + t)))
    q = (emb.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.explode(F.array(_micro_quant(F.col("embedding"))))
                 .alias("vm"))
         .select("query_id", lut.alias("lut")))
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("lut"),
                   lambda code, row: F.element_at(row, code + 1)),
        F.lit(0).cast("long"), lambda a, t: a + t)
    coarse = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                adc.alias("adc"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("adc"),
                                                F.asc("neighbor_id"))
    cands = (coarse.withColumn("crank", F.row_number().over(wq))
             .filter(F.col("crank") <= m)
             .select("query_id", "neighbor_id"))
    qv = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    exact = (
        cands.join(emb.select(F.col("vec_id").alias("neighbor_id"),
                              "embedding"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id",
                cosine(F.col("qv"), F.col("embedding")).alias("sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                                F.asc("neighbor_id"))
    return (exact.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def _pq_sql_book(dim: int, m_sub: int, ks: int) -> str:
    book = _pq_codebook(dim, m_sub, ks)
    return ("[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(str(c) for c in row) + "]" for row in sub)
        + "]" for sub in book) + "]")


def pq_adc_topk_sql(query_ids: list[int], k: int = 5, dim: int = 64,
                    m_sub: int = PQ_SUBS, ks: int = PQ_KS,
                    m: int | None = None) -> str:
    """Bit-exact DuckDB mirror: replays the Lloyd training step (pinned
    init -> assign -> floor-mean refine with pinned fallback), the
    packed-argmin encode, the integer ADC, and the exact-cosine
    re-rank."""
    m = 10 * k if m is None else m
    d_sub = dim // m_sub
    ids = ", ".join(str(i) for i in query_ids)

    def dist(bname: str) -> str:
        # integer L2^2 between subvector s of q and centroid j of the
        # given book: pure nested lambdas over range() — DuckDB lambdas
        # cannot contain subqueries
        return (f"list_sum(list_transform(range(1, {d_sub} + 1), "
                f"d -> (q[s * {d_sub} + d] - {bname}[s + 1][j + 1][d])"
                f" * (q[s * {d_sub} + d] - {bname}[s + 1][j + 1][d])))")

    codes_expr = (f"list_transform(range(0, {m_sub}), s -> "
                  f"CAST(list_min(list_transform(range(0, {ks}), "
                  f"j -> {{d}} * {ks} + j)) % {ks} AS INTEGER))")
    return f"""
        WITH pb(b) AS (
            SELECT CAST({_pq_sql_book(dim, m_sub, ks)} AS BIGINT[][][])
        ),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
            FROM embeddings
        ),
        vm AS (
            SELECT vec_id, ve,
                   list_transform(ve,
                       x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
                   AS q
            FROM v
        ),
        c0 AS (
            SELECT vec_id, q,
                   {codes_expr.format(d=dist('b'))} AS cs
            FROM vm, pb
        ),
        mem AS (
            SELECT si.i - 1 AS s, c0.cs[si.i] AS j, di.i AS d,
                   c0.q[(si.i - 1) * {d_sub} + di.i] AS val
            FROM c0,
                 LATERAL unnest(generate_series(1, {m_sub})) AS si(i),
                 LATERAL unnest(generate_series(1, {d_sub})) AS di(i)
        ),
        rsum AS (
            SELECT s, j, d,
                   CAST(floor(CAST(sum(val) AS DOUBLE) / count(*))
                        AS BIGINT) AS cm
            FROM mem GROUP BY s, j, d
        ),
        allsjd AS (
            SELECT si.i - 1 AS s, ji.i - 1 AS j, di.i AS d,
                   b[si.i][ji.i][di.i] AS pv
            FROM pb,
                 LATERAL unnest(generate_series(1, {m_sub})) AS si(i),
                 LATERAL unnest(generate_series(1, {ks})) AS ji(i),
                 LATERAL unnest(generate_series(1, {d_sub})) AS di(i)
        ),
        rbrow AS (
            SELECT a.s, a.j, a.d, coalesce(r.cm, a.pv) AS cm
            FROM allsjd a LEFT JOIN rsum r
              ON a.s = r.s AND a.j = r.j AND a.d = r.d
        ),
        rb1 AS (SELECT s, j, list(cm ORDER BY d) AS cv
                FROM rbrow GROUP BY s, j),
        rb2 AS (SELECT s, list(cv ORDER BY j) AS sv FROM rb1 GROUP BY s),
        tb(b2) AS (SELECT list(sv ORDER BY s) FROM rb2),
        codes AS (
            SELECT vec_id, {codes_expr.format(d=dist('b2'))} AS codes
            FROM vm, tb
        ),
        lut AS (
            SELECT vec_id AS query_id,
                   list_transform(range(0, {m_sub}), s ->
                       list_transform(range(0, {ks}), j -> {dist('b2')}))
                   AS t
            FROM vm, tb
            WHERE vec_id IN ({ids})
        ),
        coarse AS (
            SELECT l.query_id, cd.vec_id AS neighbor_id,
                   list_sum(list_transform(range(1, {m_sub} + 1),
                       s -> l.t[s][cd.codes[s] + 1])) AS adc
            FROM codes cd, lut l
            WHERE cd.vec_id <> l.query_id
        ),
        cands AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY adc, neighbor_id) AS cr
                FROM coarse
            ) WHERE cr <= {m}
        ),
        exact AS (
            SELECT cd.query_id, cd.neighbor_id,
                   list_cosine_similarity(q.ve, e.ve) AS sim
            FROM cands cd
            JOIN v e ON cd.neighbor_id = e.vec_id
            JOIN v q ON cd.query_id = q.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM exact
        ) WHERE rank <= {k}
    """
