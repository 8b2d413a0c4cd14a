"""Property tests for the dedup sketch primitives — invariants that hold
for ANY input, which the planted-pair corpus tests can't establish:
identity (a doc always matches itself), shingle-order invariance, and
the SimHash chunk pigeonhole guarantee."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from fletcher_spark.pipeline import dedup as D

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _doc(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def rng():
    return random.Random(42)


def test_minhash_identical_docs_identical_signatures(spark, rng):
    """J(A, A) = 1 ⟹ identical texts produce identical signatures and
    band keys in every band — exact duplicates can never be missed by
    banded LSH."""
    docs = [(i, _doc(rng, 40)) for i in range(8)]
    rows = [(i, t) for i, t in docs] + [(i + 100, t) for i, t in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingle_frame(df, "text", 3)
    sig = D.minhash_signature_df(sh, "doc_id", "shingles", 12)
    got = {r["doc_id"]: tuple(r["sig"]) for r in sig.collect()}
    for i, _ in docs:
        assert got[i] == got[i + 100], f"doc {i}: identical text, different sig"


def test_minhash_signature_invariant_to_shingle_order(spark, rng):
    """Signatures are min-folds over the shingle SET — permuting the
    shingle array must not change them."""
    base = [(1, [f"{w} x y" for w in WORDS])]
    perm = [(2, list(reversed(base[0][1])))]
    df = spark.createDataFrame(base + perm, "doc_id long, shingles array<string>")
    sig = D.minhash_signature_df(df, "doc_id", "shingles", 12)
    got = {r["doc_id"]: tuple(r["sig"]) for r in sig.collect()}
    assert got[1] == got[2]


def test_simhash_zero_hamming_for_identical_docs(spark, rng):
    """hamming(sig(A), sig(A)) = 0 for both widths, and identical docs
    share EVERY chunk key — the pigeonhole guarantee's base case."""
    docs = [(i, _doc(rng, 60)) for i in range(6)]
    rows = [(i, t) for i, t in docs] + [(i + 100, t) for i, t in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingle_frame(df, "text", 3)
    s64 = {r["doc_id"]: r["sig"] for r in D.simhash_df(sh).select("doc_id", "sig").collect()}
    s128 = {
        r["doc_id"]: (r["sig1"], r["sig2"])
        for r in D.simhash_df_128(sh).collect()
    }
    for i, _ in docs:
        assert s64[i] == s64[i + 100]
        assert s128[i] == s128[i + 100]


def test_simhash_chunk_pigeonhole(spark):
    """Flipping ≤ n_chunks − 1 bits of a signature leaves ≥ 1 chunk
    untouched, so the pair still collides in ≥ 1 bucket — exhaustively
    checked over random flip sets for both widths."""
    rng = random.Random(7)

    def signed(u: int) -> int:
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = []
    for trial in range(40):
        u = rng.getrandbits(64)
        n_flips = rng.randrange(0, 8)  # ≤ 7 = n_chunks − 1
        f = u
        for pos in rng.sample(range(64), n_flips):
            f ^= 1 << pos
        rows.append((trial, signed(u), signed(f)))
    df = spark.createDataFrame(rows, "trial long, a long, b long")
    ka = F.expr(D.simhash_chunks_packed_sql("a", 8))
    kb = F.expr(D.simhash_chunks_packed_sql("b", 8))
    shared = df.select(
        "trial",
        F.size(
            F.array_intersect(
                F.transform(ka, lambda s: s["key"] + s["band"] * F.lit(1 << 32)),
                F.transform(kb, lambda s: s["key"] + s["band"] * F.lit(1 << 32)),
            )
        ).alias("n_shared"),
    )
    assert all(r["n_shared"] >= 1 for r in shared.collect())


def test_candidate_pairs_symmetric_and_deduped(spark, rng):
    """candidate_pairs emits each unordered pair once with id1 < id2
    regardless of how many bands collide."""
    rows = [
        (1, [(0, "k"), (1, "k2")]),
        (2, [(0, "k"), (1, "k2")]),  # collides with 1 in BOTH bands
        (3, [(0, "z"), (1, "z2")]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, band_keys array<struct<band:int,key:string>>"
    )
    got = [(r["id1"], r["id2"]) for r in D.candidate_pairs(df, "doc_id").collect()]
    assert got == [(1, 2)]


def test_minhash_hof_and_codegen_forms_agree(spark, rng):
    """The two MinHash implementations — the in-array HOF form
    (``minhash_signature``, exported API) and the explode→groupBy
    codegen form every query uses (``minhash_signature_df``) — are the
    same math by construction and must stay bit-identical; without a
    differential pin, a drift in one (e.g. a base-hash or modulus edit)
    would silently desynchronize the public API from the oracled query
    path."""
    rows = [
        (i, " ".join(rng.choice("abcdefgh") + str(rng.randrange(40)) for _ in range(rng.randrange(1, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingle_frame(df, "text", 3)
    via_df = {
        r["doc_id"]: r["sig"]
        for r in D.minhash_signature_df(sh, "doc_id", "shingles", 12).collect()
    }
    via_hof = {
        r["doc_id"]: r["sig"]
        for r in sh.select("doc_id", D.minhash_signature(F.col("shingles"), 12).alias("sig")).collect()
    }
    assert via_df == via_hof


def test_word_shingles_matches_shingle_frame(spark, rng):
    """word_shingles (exported per-column form) vs shingle_frame (the
    staged-projection form every query uses): same output by contract
    (shingle_frame's own docstring claims it), now pinned — including
    short docs (< k tokens, the fallback branch) and repeated-space
    texts where split() emits empty tokens."""
    texts = [
        " ".join(rng.choice("abcdef") for _ in range(rng.randrange(1, 12)))
        for _ in range(40)
    ] + ["a", "a b", "x  y   z", "p p p p p"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    via_col = {
        r["doc_id"]: sorted(r["s"])
        for r in df.select("doc_id", D.word_shingles(F.col("text"), 3).alias("s")).collect()
    }
    via_frame = {
        r["doc_id"]: sorted(r["shingles"])
        for r in D.shingle_frame(df, "text", 3).collect()
    }
    assert via_col == via_frame


def test_simhash64_matches_simhash_df_bits(spark, rng):
    """simhash64 (exported in-array HOF form) vs simhash_df (the
    packed-lane codegen form every query uses): bit-identical 64-bit
    signatures on ALL inputs — the same differential that caught
    minhash_signature's index-shadowed closure.

    UNCONDITIONAL since r13 (VERDICT r12 ask #4): both forms now weight
    bits by token multiplicity, so the generator deliberately includes
    repeated tokens (small alphabet, skewed repeats) plus the old
    distinct-only shape.  Until r13 simhash64 array_distinct-ed its
    input and the twins agreed only on the distinct arrays
    shingle_frame emits — a silent divergence for any external caller
    feeding raw token arrays."""
    rows = [
        (
            i,
            [
                f"{rng.choice('ab')}{rng.randrange(6)}"  # heavy repeats
                for _ in range(rng.randrange(1, 40))
            ],
        )
        for i in range(25)
    ] + [
        (
            25 + i,
            list(dict.fromkeys(
                f"{rng.choice('abcdefgh')}{rng.randrange(50)}"
                for _ in range(rng.randrange(1, 40))
            )),
        )
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    via_hof = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", D.simhash64(F.col("shingles")).alias("b")).collect()
    }
    via_df = {
        r["doc_id"]: r["bv"]
        for r in D.simhash_df(df, "doc_id", "shingles").select("doc_id", "bv").collect()
    }
    assert via_hof == via_df


def test_simhash_chunk_string_and_packed_keys_are_bijective(spark, rng):
    """simhash_chunks (exported bit-string-key form) vs
    simhash_chunks_packed_sql (the integer-key form the query uses): same
    bucket partition under the documented bijection — parsing each
    bit-string key as base-2 must yield exactly the packed integer key
    for the same (doc, band), across random signatures including the
    all-ones/all-zeros extremes (sign-fill edge of the arithmetic
    shift)."""
    sigs = [rng.randrange(-(2**63), 2**63) for _ in range(40)] + [0, -1, 2**63 - 1, -(2**63)]
    rows = []
    for i, s in enumerate(sigs):
        bits = [(s >> (63 - b)) & 1 for b in range(64)]
        rows.append((i, s, bits))
    df = spark.createDataFrame(rows, "doc_id long, sig long, bv array<long>")
    packed = {
        (r["doc_id"], e["band"]): e["key"]
        for r in df.select("doc_id", F.expr(D.simhash_chunks_packed_sql("sig", 8)).alias("c")).collect()
        for e in r["c"]
    }
    strkeys = {
        (r["doc_id"], e["band"]): int(e["key"], 2)
        for r in df.select("doc_id", D.simhash_chunks(F.col("bv"), 8).alias("c")).collect()
        for e in r["c"]
    }
    assert strkeys == packed


def test_adaptive_band_rungs_match_explicit_layouts(spark, rng):
    """Every LSH_BAND_LADDER rung — including the 3×4 middle and the
    2×6 floor that no driver scale (nor .tmp/sf10's 500k docs, for the
    floor) ever reaches — is wired correctly: forcing the corpus-count
    input of ``lsh_band_keys_adaptive_sql`` to a value in each rung's
    range must reproduce ``lsh_band_keys_sql(sig, bands, rows)`` exactly, and
    ``lsh_rpb_case_sql`` must resolve to the same rows-per-band in
    DuckDB under the same forced count.  This pins the CASE arithmetic
    of the never-exercised branches at unit-test cost; the REAL 3×4
    branch additionally carries full oracle parity at .tmp/sf1
    (SCALE.md r12)."""
    import duckdb

    rows = [(i, [rng.randrange(2**55) for _ in range(12)]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, sig array<long>")

    rungs = list(D.LSH_BAND_LADDER) + [(10**9, *D.LSH_BAND_FLOOR)]
    prev_max = 0
    for max_n, bands, rpb in rungs:
        forced_n = prev_max + 1  # smallest count selecting this rung
        prev_max = max_n
        got = df.select(
            "doc_id",
            F.expr(D.lsh_band_keys_adaptive_sql("sig", str(forced_n))).alias("bk"),
        )
        want = df.select(
            "doc_id", F.expr(D.lsh_band_keys_sql("sig", bands, rpb)).alias("bk")
        )
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, (
            f"adaptive rung n={forced_n} != explicit {bands}x{rpb}"
        )
        duck_rpb = duckdb.sql(f"SELECT {D.lsh_rpb_case_sql(str(forced_n))}").fetchone()[0]
        assert duck_rpb == rpb, (forced_n, duck_rpb, rpb)


def test_lsh_floor_rung_2x6_full_engine_parity(spark, duck, monkeypatch):
    """The LSH_BAND_LADDER 2×6 floor rung, END-TO-END in both engines
    (VERDICT r12 ask #2): the rung activates above 2M docs — no
    generated corpus reaches it, so until r13 it carried only the
    unit-level CASE-arithmetic pin above.  Both renderers derive the
    layout from the same module constants, so shrinking the ladder's
    thresholds (test ladder tripping the floor at >200 docs) exercises
    the REAL 2×6 branch of the REAL registered query
    (``dedup_minhash_lsh`` — shingle → 12-hash signature → adaptive
    banding → bucket-join candidates → Jaccard ≥ 0.5) against the SAME
    ``lsh_rpb_case_sql``-rendered DuckDB oracle on the 500-doc sf0.001
    corpus, through the driver's canonicalization — the standard the
    3×4 rung met at .tmp/sf1 and .tmp/sf10 in r12."""
    from tests.conftest import SF_DIR, pandas_canon
    from fletcher_spark.queries import dedup as QD

    monkeypatch.setattr(D, "LSH_BAND_LADDER", ((100, 4, 3), (200, 3, 4)))

    # non-vacuous: the corpus must actually trip the floor rung in the
    # oracle's own CASE, and both branch selectors must agree
    n_docs = duck.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert n_docs > 200, f"corpus too small to trip the test floor: {n_docs}"
    assert duck.sql(f"SELECT {D.lsh_rpb_case_sql(str(n_docs))}").fetchone()[0] == 6

    spdf = QD.dedup_minhash_lsh(spark, SF_DIR).toPandas()
    oracle = (
        "WITH "
        + QD._MINHASH_CTES_T.format(
            nn="nn AS (SELECT "
            + D.lsh_rpb_case_sql("count(*)")
            + " AS rpb FROM documents)"
        )
        + "\nSELECT id1, id2, round(j, 4) AS jaccard FROM ver WHERE j >= 0.5\n"
    )
    dpdf = duck.sql(oracle).df()

    # 2×6 must not degenerate to an empty comparison: the sf0.001 corpus
    # plants J 0.90-0.99 pairs and P[candidate | J=0.9] = 0.823 per band
    # layout, so SOME survivors are overwhelmingly likely — an empty
    # Spark frame would make the parity assert vacuous
    assert len(spdf) > 0, "floor-rung run found no pairs; parity would be vacuous"

    s_rows, s_cols = pandas_canon(spdf, "lsh_floor_2x6[spark]")
    d_rows, d_cols = pandas_canon(dpdf, "lsh_floor_2x6[duckdb]")
    assert s_cols == d_cols, f"column mismatch: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (len(s_rows), len(d_rows))
    assert s_rows == d_rows


def test_prefix_filter_prunes_and_loses_nothing(spark):
    """The prefix-filter join's two claims, checked independently of the
    oracle: (1) NO FALSE NEGATIVES — its result equals the exhaustive
    all-pairs bigram-Jaccard ≥ 0.8 result; (2) REAL PRUNING — the
    prefix candidate set is a small fraction of all pairs (that is the
    entire point of rarity-ordered prefixes vs joining on every
    token)."""
    import pyspark.sql.functions as F

    from fletcher_spark.io import load_tables
    from fletcher_spark.queries import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    got = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in registry.QUERIES["dedup_prefix_filter_join"](spark, SF_DIR).collect()
    }

    d = load_tables(spark, SF_DIR)["documents"]
    ws = F.split("text", " ")
    grams = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    sets = d.select("doc_id", F.array_distinct(grams).alias("toks"))
    a = sets.select(F.col("doc_id").alias("id1"), F.col("toks").alias("ta"))
    b = sets.select(F.col("doc_id").alias("id2"), F.col("toks").alias("tb"))
    exhaustive = (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .withColumn(
            "j",
            F.size(F.array_intersect("ta", "tb")).cast("double")
            / F.size(F.array_union("ta", "tb")),
        )
        .filter(F.col("j") >= 0.8)
        .select("id1", "id2", F.round("j", 4).alias("jaccard"))
    )
    want = {(r["id1"], r["id2"], r["jaccard"]) for r in exhaustive.collect()}
    assert got == want, (
        f"prefix filter must be lossless: missing={want - got} extra={got - want}"
    )

    # Pruning: count candidate pairs the prefix join generates.
    tok = sets.select("doc_id", F.explode("toks").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    plen = (F.col("n") - F.expr("(4 * n + 4) div 5") + 1).cast("int")
    pref = docs.select(
        "doc_id",
        "n",
        F.explode(F.slice(F.col("toks"), F.lit(1), plen)).alias("token"),
    )
    n_cand = (
        pref.alias("x")
        .join(pref.alias("y"), "token")
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (5 * F.col("x.n") >= 4 * F.col("y.n"))
            & (5 * F.col("y.n") >= 4 * F.col("x.n"))
        )
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    n_docs = d.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    assert n_cand < all_pairs * 0.2, (
        f"prefix join generated {n_cand} of {all_pairs} pairs — not pruning"
    )
