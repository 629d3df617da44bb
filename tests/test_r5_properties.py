"""Property-based invariants for the r5 operators (hypothesis): random
small inputs vs pure-Python reference models.

- embedding_cosine_pairs_lsh: PRECISION is exactly 1 — every emitted pair
  is >= threshold by the numpy reference — and the LSH output is a subset
  of the exact pair set on every corpus (approximation may lose pairs,
  never invent them).
- semantic_decontam: every flagged train vector really has >= 1 test
  vector above the threshold, and its reported hit count never exceeds
  the true count.
- screen_batches: batch 0 keeps everything; every exact_dup verdict has
  an identical text in the KEPT set of an earlier batch; conversely a doc
  whose text matches an earlier kept doc is always flagged exact.
"""

import hashlib
import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hbase_indexer_spark.pipeline.dedup import embedding_cosine_pairs_lsh
from hbase_indexer_spark.pipeline.decontam import semantic_decontam

DIM = 8  # small dim keeps the hypothesis loop fast; planes slice to dim

vec_st = st.lists(
    st.integers(min_value=-3, max_value=3).map(float),
    min_size=DIM, max_size=DIM,
)
emb_st = st.lists(vec_st, min_size=2, max_size=8)
# zero vectors (drawn rarely at random) always get one explicit example
ZERO_VECS = [[0.0] * DIM, [0.0] * DIM, [1.0] * DIM, [2.0] * DIM]


def _cos(a, b):
    """Cosine of a and b; -inf (no pair at any threshold) for a zero norm."""
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na * nb > 0 else -math.inf


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(vecs=emb_st, threshold=st.sampled_from([0.3, 0.7]))
@example(vecs=ZERO_VECS, threshold=0.3)
def test_embedding_lsh_pairs_are_exactly_verified(spark, vecs, threshold):
    got = {(r["x"], r["y"]) for r in embedding_cosine_pairs_lsh(
        _emb_df(spark, vecs), threshold=threshold, dim=DIM,
        n_bits=3, n_tables=4).collect()}
    exact = {(i, j) for i in range(len(vecs)) for j in range(i + 1, len(vecs))
             if _cos(vecs[i], vecs[j]) >= threshold - 1e-9}
    # precision 1: never a pair below threshold (1e-9 float slack),
    # subset: the approximation may miss, never invent
    assert got <= exact, got - exact


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(vecs=emb_st, threshold=st.sampled_from([0.5]))
@example(vecs=ZERO_VECS, threshold=0.5)
def test_semantic_decontam_hits_are_truthful(spark, vecs, threshold):
    from hbase_indexer_spark.pipeline.curation import SPLIT_BUCKETS

    def bucket(vec_id, salt="split-v1"):
        h = hashlib.md5(f"{vec_id}:{salt}".encode()).hexdigest()
        return int(h[:15], 16) % SPLIT_BUCKETS

    test_frac = 0.5
    cut = int(test_frac * SPLIT_BUCKETS)
    out = {r["vec_id"]: r["n_test_hits"] for r in semantic_decontam(
        _emb_df(spark, vecs), threshold=threshold, test_frac=test_frac,
        dim=DIM, n_bits=3, n_tables=4).collect()}
    test_ids = [i for i in range(len(vecs)) if bucket(i) < cut]
    for train_id, n_hits in out.items():
        assert bucket(train_id) >= cut  # only train vectors are flagged
        true_hits = sum(
            1 for t in test_ids
            if _cos(vecs[train_id], vecs[t]) >= threshold - 1e-9)
        assert 1 <= n_hits <= true_hits, (train_id, n_hits, true_hits)


word_st = st.sampled_from(["a", "b", "c"])
doc_st = st.lists(word_st, min_size=1, max_size=6).map(" ".join)
corpus_st = st.lists(doc_st, min_size=1, max_size=8)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=corpus_st)
def test_screen_batches_exact_verdicts_vs_model(spark, texts, tmp_path_factory):
    from hbase_indexer_spark.pipeline.dedup_store import screen_batches

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("dstore"))
    rows = {r["doc_id"]: r for r in screen_batches(
        spark, docs, path, threshold=0.99, n_batches=3).collect()}
    assert set(rows) == set(range(len(texts)))
    kept_texts: set[str] = set()
    for b in range(3):
        batch_ids = [i for i in range(len(texts)) if i % 3 == b]
        for i in batch_ids:
            r = rows[i]
            assert r["batch"] == b
            if b == 0:
                assert r["keep"] and not r["exact_dup"]
            # exact verdicts are exactly "text seen in an earlier keep"
            assert r["exact_dup"] == (texts[i] in kept_texts), (i, texts[i])
        for i in batch_ids:
            if rows[i]["keep"]:
                kept_texts.add(texts[i])


# ---------------------------------------------------------------- hocon
key_st = st.text(alphabet="abcdefgh_", min_size=1, max_size=6)
scalar_st = st.one_of(
    st.integers(min_value=-999, max_value=999),
    st.booleans(),
    st.text(alphabet="abc xyz-0123", min_size=0, max_size=10),
)
value_st = st.recursive(
    scalar_st,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(key_st, children, max_size=3),
    ),
    max_leaves=10,
)
conf_st = st.dictionaries(key_st, value_st, min_size=1, max_size=4)


def _render(v, indent=0) -> str:
    pad = "  " * indent
    if isinstance(v, dict):
        body = "\n".join(
            f"{pad}  {k} : {_render(x, indent + 1).lstrip()}"
            if not isinstance(x, dict)
            else f"{pad}  {k} {_render(x, indent + 1).lstrip()}"
            for k, x in v.items())
        return f"{pad}{{\n{body}\n{pad}}}"
    if isinstance(v, list):
        return "[" + ", ".join(_render(x).strip() for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'


@settings(max_examples=50, deadline=None)
@given(conf=conf_st)
def test_parse_hocon_round_trips_rendered_configs(conf):
    from hbase_indexer_spark.config.morphline_conf import parse_hocon

    text = "\n".join(
        (f"{k} : {_render(v).strip()}" if not isinstance(v, dict)
         else f"{k} {_render(v).strip()}")
        for k, v in conf.items())
    assert parse_hocon(text) == conf
