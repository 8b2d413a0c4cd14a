"""Value pins for the SQL-text expression builders
(pipeline/similarity.py, operators/kmeans.py, pipeline/dedup.py): each
``*_sql`` text, parsed by Spark, must equal a plain-Python reference
computed from the same rows, including NULL-vector, empty-array and
NULL-signature rows.

These builders are the only implementation of each expression (the
Column-API forms they once twinned are gone), so the reference here is
independent arithmetic: left folds in IEEE doubles from 0.0, md5 over
the '|'-joined band rows, and unsigned shifts of the packed SimHash
words.  Folds compare bit-exactly — the engines' double math is the
parity contract the oracle relies on.
"""

from __future__ import annotations

import hashlib
import math
import struct

import pyspark.sql.functions as F
import pytest

from fletcher_spark.operators import kmeans as KM
from fletcher_spark.pipeline import dedup as D
from fletcher_spark.pipeline import similarity as SIM

PLANES = SIM.hyperplane_signs(8, 4, seed="twin-test")

# float32 inputs whose products are inexact in float32: the fold must
# cast to DOUBLE before multiplying, as the oracle does
VEC_ROWS = [
    (1, [1.0, 2.0, -3.5, 0.25], [0.5, -1.0, 2.0, 4.0]),
    (2, [0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),
    (3, [-2.5, 1e-5, 3e7, -0.125], [2.0, -2.0, 0.5, -0.5]),
    (4, None, [1.0, 2.0, 3.0, 4.0]),
    (5, [1.5, -1.5, 2.25, -2.25], None),
    (6, [0.1, 1.0 / 3.0, -0.7, 2.2], [0.3, 0.9, 1.1, -1.0 / 7.0]),
    (7, [], []),
]

SIG = [11, 22, 33, 44, 55, 66, 77, 88, 99, 100, 101, 102]
SIG_ROWS = [
    (1, SIG, -0x123456789ABCDEF0, 0x7EDCBA9876543210, 1),
    (2, SIG, 0, -1, 20_000),
    (3, SIG, -(2**63), 2**63 - 1, 100_000),
    (4, SIG, 1, 2, 5_000_000),
    (5, None, None, None, 1),
]


def _f32(xs):
    return None if xs is None else [struct.unpack("f", struct.pack("f", x))[0] for x in xs]


def _dot(a, b):
    """Left fold from 0.0 over doubles; zip_with pads the shorter side
    with NULL, and NULL absorbs the rest of the fold."""
    if a is None or b is None:
        return None
    if len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _norm(a):
    d = _dot(a, a)
    return None if d is None else math.sqrt(d)


def _bits(vec, planes):
    # CASE WHEN NULL >= 0 takes the ELSE branch
    out = []
    for row in planes:
        d = _dot(vec, row)
        out.append("1" if d is not None and d >= 0 else "0")
    return "".join(out)


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VEC_ROWS, "vec_id long, a array<float>, b array<float>")


@pytest.fixture(scope="module")
def sigs(spark):
    return spark.createDataFrame(
        SIG_ROWS, "doc_id long, sig array<long>, sig1 long, sig2 long, n long"
    )


def _check(df, key, sql, ref, rows):
    """Collect ``sql`` per ``key`` and compare to ``ref(row)`` on every
    row of ``rows`` (tuples whose first element is the key)."""
    got = {r[0]: r[1] for r in df.select(key, F.expr(sql).alias("v")).collect()}
    assert set(got) == {r[0] for r in rows}
    for r in rows:
        want = ref(r)
        v = got[r[0]]
        v = v.asDict(recursive=True) if hasattr(v, "asDict") else v
        if isinstance(v, list):
            v = [e.asDict() if hasattr(e, "asDict") else e for e in v]
        assert v == want, (r[0], v, want)


def test_dot_twin(vecs):
    _check(vecs, "vec_id", SIM.dot_sql("`a`", "`b`"),
           lambda r: _dot(_f32(r[1]), _f32(r[2])), VEC_ROWS)


def test_l2_norm_twin(vecs):
    _check(vecs, "vec_id", SIM.l2_norm_sql("`a`"), lambda r: _norm(_f32(r[1])), VEC_ROWS)


def test_cosine_twin(vecs):
    # a zero or empty vector divides by zero under ANSI — cosine is only
    # ever applied to non-degenerate vectors in the queries
    rows = [r for r in VEC_ROWS if r[0] not in (2, 7)]

    def ref(r):
        a, b = _f32(r[1]), _f32(r[2])
        d = _dot(a, b)
        return None if d is None else d / (_norm(a) * _norm(b))

    _check(vecs.filter(~F.col("vec_id").isin(2, 7)), "vec_id",
           SIM.cosine_sql("`a`", "`b`"), ref, rows)


def test_lsh_bucket_twin(vecs):
    # the zero vector sits ON every hyperplane: dot = 0 must emit '1'
    assert _bits([0.0] * 4, PLANES) == "1" * len(PLANES)
    _check(vecs, "vec_id", SIM.lsh_bucket_sql("`a`", PLANES),
           lambda r: _bits(_f32(r[1]), PLANES), VEC_ROWS)


def test_lsh_table_keys_twin(vecs):
    def ref(r):
        a = _f32(r[1])
        return [
            {"band": t, "key": _bits(a, PLANES[4 * t:4 * t + 4])}
            for t in range(len(PLANES) // 4)
        ]

    _check(vecs, "vec_id", SIM.lsh_table_keys_sql("`a`", PLANES, 4), ref, VEC_ROWS)


def test_nearest_struct_twin(vecs):
    # cid 2 and cid 4 are the same vector: ties break on the lower cid
    cent = [(4, [1.0, 2.0, -3.5, 0.25]), (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 2.0, -3.5, 0.25]), (3, [1.0, 1.0, 1.0, 1.0])]

    def l2sq(a, c):
        if a is None or len(a) != len(c):
            return None
        acc = 0.0
        for x, y in zip(a, c):
            acc = acc + (float(x) - y) * (float(x) - y)
        return acc

    def ref(r):
        a = _f32(r[1])
        cands = [(l2sq(a, cv), cid) for cid, cv in cent]
        # struct ordering puts a NULL d2 first
        return dict(zip(("d2", "cid"), min(cands, key=lambda t: (t[0] is not None, t[0] or 0.0, t[1]))))

    _check(vecs, "vec_id", KM.nearest_struct_sql("`a`", cent), ref, VEC_ROWS)


def _band_keys(sig, bands, rows):
    # element_at of a NULL signature is NULL, and concat_ws skips NULLs
    return [
        {"band": b, "key": hashlib.md5(
            "|".join(str(sig[b * rows + r]) for r in range(rows)).encode()
            if sig is not None else b""
        ).hexdigest()}
        for b in range(bands)
    ]


def test_lsh_band_keys_twin(sigs):
    for bands, rws in [(4, 3), (3, 4), (2, 6)]:
        _check(sigs, "doc_id", D.lsh_band_keys_sql("sig", bands, rws),
               lambda r: _band_keys(r[1], bands, rws), SIG_ROWS)


def test_lsh_band_keys_adaptive_twin(sigs):
    def ref(r):
        n = r[4]
        layout = next(((b, rw) for max_n, b, rw in D.LSH_BAND_LADDER if n <= max_n),
                      D.LSH_BAND_FLOOR)
        return _band_keys(r[1], *layout)

    # the rows' counts reach every rung, the floor included
    assert {len(ref(r)) for r in SIG_ROWS} == {4, 3, 2}
    _check(sigs, "doc_id", D.lsh_band_keys_adaptive_sql("sig", "n"), ref, SIG_ROWS)


def _chunks(words, n_chunks):
    """(band, key) of ``n_chunks`` equal MSB-first chunks of the
    concatenated unsigned words."""
    if words[0] is None:
        return [{"band": k, "key": None} for k in range(n_chunks)]
    bits = 64 * len(words)
    u = 0
    for wd in words:
        u = (u << 64) | (wd & (2**64 - 1))
    w = bits // n_chunks
    return [
        {"band": k, "key": (u >> (bits - (k + 1) * w)) & ((1 << w) - 1)}
        for k in range(n_chunks)
    ]


def test_simhash_chunk_key_twins(sigs):
    _check(sigs, "doc_id", D.simhash_chunks_packed_sql("sig1", 8),
           lambda r: _chunks([r[2]], 8), SIG_ROWS)
    _check(sigs, "doc_id", D.simhash_chunks_packed_128_sql("sig1", "sig2", 8),
           lambda r: _chunks([r[2], r[3]], 8), SIG_ROWS)


def test_assign_nearest_ties_break_low_cid(spark):
    # two equidistant centroids: struct comparison orders d2 then cid
    v = spark.createDataFrame([(1, [0.0, 0.0])], "id long, v array<double>")
    cent = [(7, [1.0, 0.0]), (3, [-1.0, 0.0])]
    out = KM.assign_nearest(v, cent, "id", "v").collect()[0]
    assert out["cid"] == 3 and out["d2"] == 1.0


def test_repr_double_literals_roundtrip(spark):
    # the `D`-suffixed repr path must round-trip awkward doubles exactly
    vals = [1e-5, 3e7, -0.1, 2.0 / 3.0, 1.7976931348623157e308, 5e-324]
    cent = [(1, vals)]
    got = spark.sql(f"SELECT {KM.centroid_literal_sql(cent)} AS c").collect()[0]["c"]
    assert list(got[0]["cv"]) == vals
