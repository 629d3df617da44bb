"""Pure-Python references the benchmark checks the engine against.

Nothing here imports Spark: the snapshot reference builds documents from the
generated cells, the CDC reference replays the dropped events (last event
wins, tombstones by row / family / column scope), and both reduce a set of
documents to an order-free digest that the published index must match.
The index is read back with pyarrow, not with the engine.
"""

from __future__ import annotations

import hashlib
import os
import struct

TABLE = "bench_users"
OTHER_TABLE = "bench_other"

# (field name, family, qualifier, type): the exact-qualifier fields
FIELDS = (
    ("name_s", "info", "name", "string"),
    ("age_i", "info", "age", "int"),
    ("active_b", "info", "active", "boolean"),
    ("score_d", "stats", "score", "double"),
    ("visits_l", "stats", "visits", "long"),
)
# the wildcard field: info:tag_* -> dynamic map column "tag_"
TAG_FAMILY, TAG_PREFIX, TAG_COLUMN = "info", "tag_", "tag_"
# qualifiers no field maps (the relevance filter must drop them)
UNMAPPED = (("info", "note"), ("stats", "raw"))

CONF = {
    "table": TABLE,
    "fields": [{"name": n, "value": f"{fam}:{q}", "type": t}
               for n, fam, q, t in FIELDS]
    + [{"name": TAG_PREFIX + "*", "value": f"{TAG_FAMILY}:{TAG_PREFIX}*",
        "type": "string"}],
}

_EXACT = {(fam, q): (n, t) for n, fam, q, t in FIELDS}


def encode(type_: str, v) -> bytes:
    """HBase ``Bytes.toBytes`` encodings (big-endian)."""
    if type_ == "string":
        return v.encode("utf-8")
    if type_ == "int":
        return struct.pack(">i", v)
    if type_ == "long":
        return struct.pack(">q", v)
    if type_ == "double":
        return struct.pack(">d", v)
    if type_ == "boolean":
        return b"\xff" if v else b"\x00"
    raise ValueError(type_)


def decode(type_: str, b: bytes):
    if type_ == "string":
        return b.decode("utf-8")
    if type_ == "int":
        return struct.unpack(">i", b)[0]
    if type_ == "long":
        return struct.unpack(">q", b)[0]
    if type_ == "double":
        return struct.unpack(">d", b)[0]
    if type_ == "boolean":
        return b[0] != 0
    raise ValueError(type_)


def is_relevant(family: str | None, qualifier: str | None) -> bool:
    """Does a put cell hit a mapped field?"""
    if (family, qualifier) in _EXACT:
        return True
    return (family == TAG_FAMILY and qualifier is not None
            and qualifier.startswith(TAG_PREFIX))


def document(row: str, cells: dict) -> tuple | None:
    """Canonical document of one row from its visible relevant cells
    ``{(family, qualifier): value_bytes}``; None when no cell is mapped."""
    if not cells:
        return None
    vals = {n: None for n, _, _, _ in FIELDS}
    tags = []
    for (fam, q), b in cells.items():
        if (fam, q) in _EXACT:
            n, t = _EXACT[(fam, q)]
            vals[n] = decode(t, b)
        elif fam == TAG_FAMILY and q.startswith(TAG_PREFIX):
            tags.append((q[len(TAG_PREFIX):], decode("string", b)))
    return canonical(row, [vals[n] for n, _, _, _ in FIELDS], tags)


def canonical(doc_id, values: list, tags) -> tuple:
    """One document as a hashable tuple; doubles by ``repr`` (exact)."""
    out = [doc_id]
    for (_, _, _, t), v in zip(FIELDS, values):
        out.append(repr(v) if t == "double" and v is not None else v)
    # a dynamic field with no match and an empty map both mean "no field"
    out.append(tuple(sorted(tags or ())))
    return tuple(out)


def digest(docs) -> dict:
    """Order-free digest of a document multiset: count plus the sum, mod
    2^64, of a 64-bit md5 prefix of each document's canonical text."""
    n, acc = 0, 0
    for d in docs:
        n += 1
        acc = (acc + int(hashlib.md5(repr(d).encode()).hexdigest()[:16], 16)) \
            % (1 << 64)
    return {"count": n, "hash": f"{acc:016x}"}


def latest_visible(cells) -> dict:
    """``{row: {(family, qualifier): value}}`` — the newest put per column
    of the indexed table's relevant cells (a snapshot holds no tombstones).
    ``cells`` yields ``(table, row, family, qualifier, ts, value)``."""
    best: dict = {}
    for table, row, fam, q, ts, value in cells:
        if table != TABLE or not is_relevant(fam, q):
            continue
        cur = best.setdefault(row, {})
        old = cur.get((fam, q))
        if old is None or ts > old[0]:
            cur[(fam, q)] = (ts, value)
    return {r: {k: v for k, (_, v) in c.items()} for r, c in best.items()}


def rows_digest(rows: dict) -> dict:
    """Digest of the documents built from ``{row: visible cells}``."""
    return digest(d for d in (document(r, c) for r, c in rows.items())
                  if d is not None)


def snapshot_digest(cells) -> dict:
    return rows_digest(latest_visible(cells))


class CdcReplay:
    """Sequential replay of the indexed table's mutation stream."""

    def __init__(self) -> None:
        self.rows: dict[str, dict] = {}

    def apply(self, events) -> None:
        """``events`` yields ``(table, row, family, qualifier, op, value)``
        in ``seq`` order.  Cell ts grows with seq (and lies above every
        snapshot ts), so a later event always wins and a tombstone masks
        exactly the cells written before it."""
        for table, row, fam, q, op, value in events:
            if table != TABLE:
                continue
            if op == "put":
                if is_relevant(fam, q):
                    self.rows.setdefault(row, {})[(fam, q)] = value
            elif op == "delete_row":
                self.rows.pop(row, None)
            elif op == "delete_family":
                cells = self.rows.get(row)
                if cells:
                    for k in [k for k in cells if k[0] == fam]:
                        del cells[k]
            elif op == "delete_column":
                cells = self.rows.get(row)
                if cells:
                    cells.pop((fam, q), None)
            else:
                raise ValueError(op)

    def digest(self) -> dict:
        return rows_digest(self.rows)


def index_digest(index_dir: str) -> dict:
    """Digest of an index store's current version, read with pyarrow from
    the store's on-disk layout (``_CURRENT`` names the ``v=<n>`` dir)."""
    import pyarrow.parquet as pq

    with open(os.path.join(index_dir, "_CURRENT")) as f:
        v = int(f.read().strip())
    t = pq.read_table(os.path.join(index_dir, f"v={v}"))
    cols = {name: t.column(name).to_pylist() for name in t.column_names}
    names = [n for n, _, _, _ in FIELDS]
    return digest(
        canonical(cols["id"][i], [cols[n][i] for n in names],
                  cols[TAG_COLUMN][i])
        for i in range(t.num_rows))
