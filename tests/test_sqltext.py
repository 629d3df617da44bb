"""SQL-text decoder templates (functions/sqltext.py) must be result- and
dtype-identical to the Column builders (functions/bytes_codec.py) they
replace in the extraction compile — checked decoder-by-decoder over
adversarial byte patterns: wrong lengths, NULL, empty, inf/nan/subnormal/
negative-zero bit patterns, and max/min exponents."""

import math
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hs
from pyspark.sql import functions as F

from hbase_indexer_spark.config.indexer_conf import FieldDef, IndexerConf
from hbase_indexer_spark.functions import bytes_codec as bc
from hbase_indexer_spark.functions import sqltext as st
from hbase_indexer_spark.operators.extraction import (
    _cell_matches_sql,
    cell_matches,
)

TYPES = ("int", "long", "short", "double", "float", "boolean", "string",
         "bytes")


def _cases():
    out = [None, b"", b"\x00", b"\xff", b"\x00\x00", b"\xff\xff",
           b"\x80\x00", b"\x7f\xff"]
    for v in (0, 1, -1, 2 ** 31 - 1, -2 ** 31, 12345678, -12345678):
        out.append(struct.pack(">i", v))
    for v in (0, 1, -1, 2 ** 63 - 1, -2 ** 63, 987654321987):
        out.append(struct.pack(">q", v))
    for f in (0.0, -0.0, 1.5, -1.5, 3.4e38, 1e-45, float("inf"),
              float("-inf"), float("nan")):
        out.append(struct.pack(">f", f))
    for f in (0.0, -0.0, 1.5, -1.5, 1.7e308, 5e-324, float("inf"),
              float("-inf"), float("nan")):
        out.append(struct.pack(">d", f))
    out += [bytes.fromhex(h) for h in (
        "0000000000000001", "800fffffffffffff", "7fefffffffffffff",
        "fff0000000000000", "7ff0000000000001", "fff8000000000000",
        "00000001", "807fffff", "7f7fffff", "ff800001", "7fc00000",
        "deadbeefcafebabe", "deadbeef", "abcd", "61")]
    out.append("hello world".encode())
    return out


def _same(o, n):
    if o is None or n is None:
        return o is None and n is None
    if isinstance(o, float) and isinstance(n, float):
        if math.isnan(o) or math.isnan(n):
            return math.isnan(o) and math.isnan(n)
        # bit-exact, incl. -0.0 vs 0.0
        return struct.pack(">d", o) == struct.pack(">d", n)
    return o == n


@pytest.mark.parametrize("type_name", TYPES)
def test_decode_sql_matches_column_builder(spark, type_name):
    rows = [(i, bytearray(b) if b is not None else None)
            for i, b in enumerate(_cases())]
    df = spark.createDataFrame(rows, "i int, v binary")
    sel = df.select(
        "i",
        bc.DECODERS[type_name](F.col("v")).alias("o"),
        F.expr(st.decode_sql(type_name, "v")).alias("n"),
    )
    dtypes = dict(sel.dtypes)
    assert dtypes["o"] == dtypes["n"]
    for r in sel.collect():
        assert _same(r["o"], r["n"]), (type_name, r["i"], r["o"], r["n"])


def test_decode_sql_unknown_types_fall_back():
    assert st.decode_sql("bigdecimal", "v") is None      # pandas UDF
    assert st.decode_sql("no_such_type", "v") is None    # custom mapper name
    assert st.decode_sql(lambda c: c, "v") is None       # callable type object


def test_qlit_escapes_quotes():
    assert st.qlit("a'b") == "'a''b'"
    assert st.qlit("plain") == "'plain'"


def test_qlit_escapes_backslashes_before_quotes():
    assert st.qlit("fam\\q1") == "'fam\\\\q1'"
    assert st.qlit("x\\'y") == "'x\\\\''y'"


# names built from the characters a SQL literal must survive: quotes,
# backslashes (alone and before quotes or escape letters), unicode and the
# \x1f unit separator
NAME = hs.text(alphabet=hs.sampled_from(
    ["'", "\\", '"', "\x1f", "n", "t", "u", "0", "a", ":", "*", " ", "%",
     "_", "\u00e9", "\u6f22", "\U0001f600"]), min_size=0, max_size=8)
PROPS = settings(max_examples=20, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


@PROPS
@given(hs.lists(NAME, min_size=1, max_size=10))
def test_qlit_evaluates_to_its_lit_twin(spark, names):
    row = spark.range(1).select(
        *[F.expr(st.qlit(s)).alias(f"e{i}") for i, s in enumerate(names)],
        *[F.lit(s).alias(f"l{i}") for i, s in enumerate(names)]).first()
    for i, s in enumerate(names):
        assert row[f"e{i}"] == row[f"l{i}"] == s, repr(s)


@PROPS
@given(hs.lists(hs.tuples(NAME.filter(bool), NAME, hs.booleans()),
                min_size=1, max_size=4),
       hs.lists(hs.tuples(NAME, NAME), max_size=6))
def test_cell_matches_sql_equals_column_predicate(spark, targets, extra):
    conf = IndexerConf(table="t", fields=tuple(
        FieldDef(f"f{i}", fam, qual, wild)
        for i, (fam, qual, wild) in enumerate(targets)))
    # each target's own cell, near misses (backslashes dropped, a suffix,
    # a truncated qualifier) and unrelated cells
    cells = list(extra)
    for fam, qual, _ in targets:
        cells += [(fam, qual), (fam, qual + "x"), (fam, qual[:-1]),
                  (fam.replace("\\", ""), qual.replace("\\", ""))]
    df = spark.createDataFrame(cells, "family string, qualifier string")
    got = df.select(
        F.expr(_cell_matches_sql(conf)).alias("s"),
        cell_matches(conf, F.col("family"), F.col("qualifier")).alias("c"),
    ).collect()
    for (fam, qual), r in zip(cells, got):
        assert r["s"] == r["c"], (fam, qual)
    # every target matches its own cell (the comparison is not vacuous)
    assert all(got[len(extra) + 4 * i]["s"] for i in range(len(targets)))
