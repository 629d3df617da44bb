"""Seeded input generator for the two workloads.

``inputs(cache_root, workload, seed)`` writes the workload's files and a
``manifest.json`` under ``cache_root/<workload>-s<seed>-<size>-<source>`` and
returns (dir, manifest).  The same seed gives the same files; a second
call with the same (workload, seed, size) reuses the cached directory.
Everything runs in the calling process, before any timed region.
"""

from __future__ import annotations

import json
import os
import random
import shutil

if __package__ in (None, ""):
    import reference as ref
else:
    from . import reference as ref

# Sizes per workload; BENCHMARK.json's "why" lines summarise the reasons.
SIZES = {
    # snapshot rows (= the CDC key space; ~17 cells per row incl. versions)
    # and its files, events per WAL file, WAL files generated.  1000 rows
    # and 500 events per file: a file touches ~200 distinct rows (a fifth
    # of the view), and the whole-view rewrite the plain store does per
    # trigger already dominates it: the index merge and the state overwrite,
    # run concurrently, take ~1.0 s each of a ~1.7 s trigger (traced, 4
    # vCPUs).  A larger key
    # space would make the per-round pure-Python reference check and the
    # generation outgrow the run budget.  wal_files is an upper bound: a run
    # ends early, without failing, when the files run out.
    "cdc_stream": {"keys": 1000, "files": 4, "events": 500, "wal_files": 120},
    # documents in the corpus
    "near_dup_curation": {"docs": 1000, "files": 4},
}

# The traffic mix of cdc_stream.  Only ZIPF_S has a published source; the
# other shares are choices, each made so that every path of the incremental
# indexer sees tens of events per WAL file.
# Row-key skew: YCSB's Zipfian constant (Cooper et al., "Benchmarking Cloud
# Serving Systems with YCSB", SoCC 2010), the usual skew for HBase-style
# key-value traffic.  Repeated keys let last-event-wins collapse events.
ZIPF_S = 0.99
# Choice: the WAL is shared by all tables of a region server, so the indexer
# must route by table; ~40 events per file belong to another table.
OTHER_TABLE_SHARE = 0.08
# Choice: puts dominate a mutation stream; the rest is split over the three
# tombstone scopes (~35 delete_column, ~25 delete_family, ~15 delete_row
# per file), so each scope is applied in every trigger.
PUT_SHARE, DELETE_COLUMN_TO, DELETE_FAMILY_TO = 0.85, 0.92, 0.97
# Choice: puts to qualifiers no field maps, which the relevance gate drops.
UNMAPPED_PUT_SHARE = 0.10
# Choices for the snapshot: a mapped field is present in 90% of rows (so
# documents have missing fields), 40% of rows carry unmapped columns, and
# 2% of rows carry only unmapped columns (so they produce no document).
FIELD_PRESENCE, UNMAPPED_COLUMNS, UNMAPPED_ONLY_ROWS = 0.9, 0.4, 0.02


def _value(rng: random.Random, type_: str):
    if type_ == "string":
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                       for _ in range(rng.randint(3, 12)))
    if type_ == "int":
        return rng.randint(-1000, 100000)
    if type_ == "long":
        return rng.randint(-(1 << 40), 1 << 40)
    if type_ == "double":
        return rng.uniform(-1e6, 1e6)
    if type_ == "boolean":
        return rng.random() < 0.5
    raise ValueError(type_)


def _write_parquet(path: str, columns: dict, schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns, schema=schema), path)


def _cell_schema():
    import pyarrow as pa

    return pa.schema([("table", pa.string()), ("row", pa.string()),
                      ("family", pa.string()), ("qualifier", pa.string()),
                      ("ts", pa.int64()), ("op", pa.string()),
                      ("value", pa.binary())])


# ---------------------------------------------------------------------------
# The HBase-shaped snapshot the CDC indexer goes live from
# ---------------------------------------------------------------------------

def _row_cells(rng: random.Random, table: str, row: str, unmapped_only: bool):
    """All versions of one row's cells: 2-3 versions per column with
    strictly increasing ts."""
    cols = []
    if not unmapped_only:
        for _, fam, q, t in ref.FIELDS:
            if rng.random() < FIELD_PRESENCE:
                cols.append((fam, q, t))
        for tag in rng.sample("abcdef", rng.randint(0, 3)):
            cols.append((ref.TAG_FAMILY, ref.TAG_PREFIX + tag, "string"))
    for fam, q in ref.UNMAPPED:
        if unmapped_only or rng.random() < UNMAPPED_COLUMNS:
            cols.append((fam, q, "string"))
    out = []
    for fam, q, t in cols:
        ts = 1_600_000_000_000 + rng.randint(0, 10 ** 9)
        for _ in range(rng.randint(2, 3)):
            ts += rng.randint(1, 10 ** 6)
            out.append((table, row, fam, q, ts, ref.encode(t, _value(rng, t))))
    return out


def _snapshot(d: str, rng: random.Random, keys: list, n_files: int) -> dict:
    """Cells of ``keys`` in the indexed table plus a tenth as many rows of
    another table."""
    cells = []
    for k in keys:
        cells += _row_cells(rng, ref.TABLE, k, rng.random() < UNMAPPED_ONLY_ROWS)
    for i in range(len(keys) // 10):
        cells += _row_cells(rng, ref.OTHER_TABLE, f"o{i:07d}", False)
    snap = os.path.join(d, "snapshot")
    os.makedirs(snap)
    per = -(-len(cells) // n_files)
    for k in range(n_files):
        part = cells[k * per:(k + 1) * per]
        _write_parquet(
            os.path.join(snap, f"part-{k:03d}.parquet"),
            {"table": [c[0] for c in part], "row": [c[1] for c in part],
             "family": [c[2] for c in part], "qualifier": [c[3] for c in part],
             "ts": [c[4] for c in part], "op": ["put"] * len(part),
             "value": [c[5] for c in part]},
            _cell_schema())
    return {"snapshot": "snapshot",
            "cells_indexed": sum(1 for c in cells if c[0] == ref.TABLE),
            "snapshot_bytes": sum(os.path.getsize(os.path.join(snap, f))
                                  for f in os.listdir(snap)),
            "expected": ref.snapshot_digest(cells)}


# ---------------------------------------------------------------------------
# cdc_stream: WAL file drops over the snapshot's key space
# ---------------------------------------------------------------------------

def _event_schema():
    import pyarrow as pa

    return pa.schema([("seq", pa.int64()), ("event_ts", pa.int64()),
                      ("table", pa.string()), ("row", pa.string()),
                      ("family", pa.string()), ("qualifier", pa.string()),
                      ("ts", pa.int64()), ("op", pa.string()),
                      ("value", pa.binary())])


def _write_events(path: str, events: list) -> None:
    names = ["seq", "event_ts", "table", "row", "family", "qualifier", "ts",
             "op", "value"]
    _write_parquet(path, {n: [e[i] for e in events]
                          for i, n in enumerate(names)}, _event_schema())


def gen_cdc(d: str, seed: int, size: dict) -> dict:
    import bisect
    import itertools

    rng = random.Random(seed)
    keys = [f"u{i:07d}" for i in range(size["keys"])]
    meta = _snapshot(d, rng, keys, size["files"])
    # cell ts of every event is above every snapshot ts, so events win
    seq = itertools.count(1)
    mapped = [(fam, q, t) for _, fam, q, t in ref.FIELDS] + [
        (ref.TAG_FAMILY, ref.TAG_PREFIX + c, "string") for c in "abc"]

    def ev(table, row, fam, q, op, value):
        s = next(seq)
        return (s, 1_700_000_000_000 + s, table, row, fam, q,
                1_700_000_000_000 + s, op, value)

    # Zipf(ZIPF_S) over a seeded permutation of the key space
    hot = keys[:]
    rng.shuffle(hot)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S
                                    for r in range(len(hot))))

    def key() -> str:
        return hot[bisect.bisect_left(cum, rng.random() * cum[-1])]

    wal = os.path.join(d, "wal")
    os.makedirs(wal)
    relevant, wal_bytes = [], []
    for f in range(size["wal_files"]):
        events, n_rel = [], 0
        for _ in range(size["events"]):
            table = ref.OTHER_TABLE if rng.random() < OTHER_TABLE_SHARE else ref.TABLE
            row, x = key(), rng.random()
            if x < PUT_SHARE:
                if rng.random() < UNMAPPED_PUT_SHARE:
                    fam, q = rng.choice(ref.UNMAPPED)
                    e = ev(table, row, fam, q, "put",
                           ref.encode("string", _value(rng, "string")))
                else:
                    fam, q, t = rng.choice(mapped)
                    e = ev(table, row, fam, q, "put",
                           ref.encode(t, _value(rng, t)))
            elif x < DELETE_COLUMN_TO:
                fam, q, _ = rng.choice(mapped)
                e = ev(table, row, fam, q, "delete_column", None)
            elif x < DELETE_FAMILY_TO:
                e = ev(table, row, rng.choice(("info", "stats")), None,
                       "delete_family", None)
            else:
                e = ev(table, row, None, None, "delete_row", None)
            events.append(e)
            n_rel += e[2] == ref.TABLE and (e[7] != "put"
                                            or ref.is_relevant(e[4], e[5]))
        path = os.path.join(wal, f"wal-{f:05d}.parquet")
        _write_events(path, events)
        relevant.append(n_rel)
        wal_bytes.append(os.path.getsize(path))
    return {**meta, "wal": "wal",
            "wal_files": sorted(os.listdir(wal)), "relevant": relevant,
            "wal_bytes": wal_bytes}


# ---------------------------------------------------------------------------
# near_dup_curation: exact-dup clusters, edited near-dups, distinct docs
# ---------------------------------------------------------------------------

def shingle_set(words: list, n: int = 3) -> set:
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: list, b: list) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def _edit(rng: random.Random, words: list, vocab: list, k: int) -> list:
    out = words[:]
    for i in rng.sample(range(len(out)), k):
        out[i] = rng.choice(vocab)
    return out


def gen_near_dup(d: str, seed: int, size: dict) -> dict:
    """Half the corpus is distinct base documents, 30% exact copies and 20%
    edited derivatives.  The counts and cluster sizes are fixed, so every
    seed screens the same amount of work; the seed picks the texts.  The
    shares and cluster sizes are choices: a few clusters of dozens of
    copies give the heavy tail (and the skewed shuffle keys) that exact
    dedup must collapse, and the edited share feeds the LSH band join.  Each
    edited pair's Jaccard is >= 0.85 or <= 0.5, so the LSH-banded screen
    (threshold 0.7) must equal the exact answer."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randint(4, 8)))
                    for _ in range(4000)})
    n = size["docs"]
    n_base = n // 2
    base = [[rng.choice(vocab) for _ in range(rng.randint(60, 140))]
            for _ in range(n_base)]
    texts = list(base)
    # heavy-tailed exact-duplicate clusters: three with dozens of copies,
    # then small clusters up to 80% of the corpus
    bases = iter(rng.sample(range(n_base), n_base))
    for copies in (24, 36, 48):
        texts += [base[next(bases)]] * copies
    small = (1, 1, 1, 1, 2, 2, 3, 5)
    i = 0
    while len(texts) < n * 8 // 10:
        copies = min(small[i % len(small)], n * 8 // 10 - len(texts))
        texts += [base[next(bases)]] * copies
        i += 1
    # edited derivatives, at most one per base document: 60% near, 40% far
    n_edit = n - len(texts)
    n_near = n_edit * 3 // 5
    edits = iter(rng.sample(range(n_base), n_base))
    while len(texts) < n:
        b = base[next(edits)]
        near = len(texts) - (n - n_edit) < n_near
        e = _edit(rng, b, vocab, 2 if near else len(b) * 2 // 5)
        j = jaccard(b, e)
        if (j >= 0.85) if near else (j <= 0.5):
            texts.append(e)
    ids = rng.sample(range(1, 10 * len(texts)), len(texts))
    rows = sorted(zip(ids, (" ".join(t) for t in texts)))
    import pyarrow as pa

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    corpus = os.path.join(d, "corpus")
    os.makedirs(corpus)
    per = -(-len(rows) // size["files"])
    for k in range(size["files"]):
        part = rows[k * per:(k + 1) * per]
        _write_parquet(os.path.join(corpus, f"part-{k:03d}.parquet"),
                       {"doc_id": [r[0] for r in part],
                        "text": [r[1] for r in part],
                        "lang": ["en"] * len(part),
                        "source": ["gen"] * len(part),
                        "n_chars": [len(r[1]) for r in part]}, schema)
    return {"corpus": "corpus", "docs": len(rows),
            "expected_kept": _duckdb_kept(corpus)}


def _duckdb_kept(corpus: str) -> list:
    """The kept doc_ids by DuckDB running the engine's own oracle text."""
    import duckdb

    from hbase_indexer_spark.pipeline.dedup import deduped_corpus_sql

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet(?)",
                    [os.path.join(corpus, "*.parquet")])
        return [r[0] for r in con.execute(deduped_corpus_sql(0.7)).fetchall()]
    finally:
        con.close()


GENERATORS = {"cdc_stream": gen_cdc,
              "near_dup_curation": gen_near_dup}


def _source_hash() -> str:
    """Part of the cache key, so a changed generator or reference never
    reuses inputs generated by an older one."""
    import hashlib

    h = hashlib.sha1()
    for name in ("gen.py", "reference.py"):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = os.path.join(cache_root, f"{workload}-s{seed}-{tag}-{_source_hash()}")
    man = os.path.join(d, "manifest.json")
    if os.path.exists(man):
        with open(man) as f:
            return d, json.load(f)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        manifest = {"workload": workload, "seed": seed, "size": size,
                    **GENERATORS[workload](tmp, seed, size)}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return d, manifest

