"""Deduplication operators for LLM training-data pipelines.

Not present in the reference (fletcher stops at column compute); these
compose its primitives — string kernels, hashing, set ops — into the
dedup stack a 100 TB corpus needs.  Design constraints, in order:

1. **Never materialize all-pairs.**  Candidate generation is always a
   shuffle on a *bucket key* (exact hash, LSH band, SimHash chunk,
   blocking key); only bucket-mates are ever joined.
2. **Stay JVM-side.**  Shingling, MinHash, SimHash are Catalyst
   higher-order functions (``transform``/``aggregate``/``zip_with``)
   over token arrays — no Python worker in the hot path.
3. **Deterministic hashing across engines.**  All hash families derive
   from ``md5(seed || ':' || value)``, which DuckDB computes bit-for-bit
   identically, so the whole pipeline (signatures → bands → candidate
   pairs → verified jaccard) is oracle-checkable in SQL.

Scale shape at 1000 executors: shingle+sign is map-only; the band
group-by shuffles ``docs × bands`` small rows (band keys are 32-char
strings); the pair self-join shuffles only bucket-mates.  Identical-doc
clusters make hot buckets — AQE skew-join splits them (enabled in
session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "word_shingles",
    "shingle_frame",
    "minhash_signature",
    "lsh_band_keys_sql",
    "lsh_band_keys_adaptive_sql",
    "lsh_rpb_case_sql",
    "candidate_pairs",
    "verify_jaccard",
    "simhash64",
    "simhash_chunks",
    "simhash_chunks_packed_sql",
    "simhash_chunks_packed_128_sql",
]


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word ``k``-shingles of a whitespace-tokenized text column.

    ``transform`` over an index sequence + ``slice``.  Shorter-than-``k``
    docs yield a single whole-doc shingle so they can still hash (guard
    avoids ``sequence(1, negative)``).

    PERF: when ``text`` is the raw string, the inlined ``split`` is
    re-evaluated per slice inside the (interpreted) transform lambda —
    measured 3× slower than splitting once.  Prefer
    :func:`shingle_frame`, which materializes the token array in its
    own projection first; this Column form is kept for composition and
    for callers that already pass a token array.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ", -1)
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(F.when(n >= k, shingled).otherwise(F.array(c)))


def shingle_frame(
    df: DataFrame, text_col: str = "text", k: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingles) frame with the token split MATERIALIZED in its own
    projection before the slice lambda touches it — the projection
    boundary stops the interpreted transform from re-running the split
    per shingle (3× on the 5k-doc corpus; the factor grows with doc
    length since the re-eval is per slice position).  Same output as
    ``select(id, word_shingles(text, k))``, pinned by the unchanged
    oracles of every dedup query."""
    t = df.select(id_col, F.split(F.col(text_col), " ", -1).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    sh = F.array_distinct(
        F.when(n >= k, shingled).otherwise(F.array(F.array_join(toks, " ")))
    )
    return t.select(id_col, sh.alias("shingles"))


#: modulus for the two-base-hash MinHash family (large prime < 2^61;
#: v1 + j*v2 stays < 2^63 for v1, v2 < 2^56 and j ≤ ~60)
_MINHASH_P = 2305843009213693951


def minhash_signature(shingles: Column, n_hashes: int = 12) -> Column:
    """MinHash signature via the two-base-hash family:
    ``h_j(s) = (v1 + j*v2) mod p`` with v1/v2 = two 56-bit halves of
    one md5 — an ``n_hashes``-element array<long>.

    ONE md5 per shingle (not per hash): the md5 is materialized into a
    struct array first because Catalyst does not CSE inside
    higher-order-function lambdas — deriving all hashes from the struct
    makes the signature ~n_hashes× cheaper than an md5-per-family-member
    formulation.  Map-only, no shuffle, no UDF.
    P[minhash_j(A) == minhash_j(B)] = J(A, B), the standard estimator.
    """
    halves = F.transform(
        shingles,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long").alias("v1"),
            F.conv(F.substring(F.md5(s), 15, 14), 16, 10).cast("long").alias("v2"),
        ),
    )

    # close over j via a factory, NOT a default argument: a two-parameter
    # lambda makes F.transform pass the ARRAY INDEX as the second
    # argument (the (element, index) form), silently overriding the
    # default — which collapsed all n_hashes family members to the same
    # index-keyed min (caught r12 by the differential test against
    # minhash_signature_df; no oracled query ever called this form)
    def _member(j: int):
        return lambda h: (h["v1"] + j * h["v2"]) % _MINHASH_P

    return F.array(
        *[F.array_min(F.transform(halves, _member(j))) for j in range(n_hashes)]
    )


def lsh_band_keys_sql(sig_sql: str, bands: int = 4, rows: int = 3) -> str:
    """Banded LSH keys: split the signature into ``bands`` groups of
    ``rows`` and hash each group — array of ``(band int, key string)``
    structs where key = md5 of the band's '|'-joined rows.

    Two docs are candidates iff they share a key in ≥1 band:
    P[candidate] = 1 - (1 - J^rows)^bands — the (4,3) default passes
    J≥0.8 with p>0.93 and rejects J≤0.3 with p>0.89.

    SQL text through ONE parser call: the Column-API form cost a py4j
    round-trip per node (~0.25 s per construction for the adaptive
    three-rung CASE, measured r13).  Values pinned against plain Python
    in tests/test_vector_sql_twins.py."""
    return "array({})".format(
        ",".join(
            "named_struct('band', {b}, 'key', md5(concat_ws('|', {cols})))".format(
                b=b,
                cols=",".join(
                    f"CAST(element_at({sig_sql}, {b * rows + r + 1}) AS STRING)"
                    for r in range(rows)
                ),
            )
            for b in range(bands)
        )
    )


def lsh_band_keys_adaptive_sql(sig_sql: str, n_sql: str) -> str:
    """Corpus-size-adaptive band layout (VERDICT r11 ask #2): pick
    (bands, rows) from ``LSH_BAND_LADDER`` by integer thresholds on
    ``n_sql`` (a broadcast one-row count, constant across rows).  CASE
    evaluates lazily, so each row computes only the chosen layout's
    band md5s; all branches share the already-computed 12-wide ``sig``.
    """
    whens = " ".join(
        f"WHEN {n_sql} <= {max_n} THEN {lsh_band_keys_sql(sig_sql, bands, rows)}"
        for max_n, bands, rows in LSH_BAND_LADDER
    )
    return f"CASE {whens} ELSE {lsh_band_keys_sql(sig_sql, *LSH_BAND_FLOOR)} END"


#: Broder (bands × rows) ladder for the 12-hash signature: rows-per-band
#: grows ~log(N) so the BACKGROUND candidate volume stays linear in the
#: corpus.  A random non-duplicate pair with background shingle overlap
#: j0 becomes a candidate w.p. ≈ bands·j0^rows, so total background
#: candidates ≈ N²/2 · bands·j0^rows — holding that ∝ N needs
#: rows ≈ log(N)/log(1/j0), i.e. one extra row per ~1/j0× corpus growth
#: (the standard Broder tuning; cf. the key-WIDTH ladder the sign-LSH
#: families use, pipeline/similarity.py:bits_case_sql — same genus,
#: granularity ∝ log N, here spent on band selectivity instead of key
#: width).  The 12-wide signature re-bands as 4×3 → 3×4 → 2×6 without
#: recomputing MinHashes — banding is a pure projection over ``sig``.
#: Entries are (max_docs, bands, rows); corpora above the last entry
#: use LSH_BAND_FLOOR (beyond that, n_hashes itself is the knob, like
#: the plane count behind max_bits in the width ladder).
#: Thresholds are INTEGER comparisons evaluated identically by Spark
#: and DuckDB (lsh_rpb_case_sql) — every driver scale (≤ 5k docs)
#: resolves to the original 4×3, so base-branch keys are bit-identical
#: to the pre-ladder ones; .tmp/sf1 (50k docs) re-bands to 3×4.
#: Recall at the verify threshold J=0.5 family (planted pairs are
#: J 0.90–0.99): P[candidate | J=0.9] = 0.998 (4×3), 0.959 (3×4),
#: 0.823 (2×6) — the documented Broder precision/recall trade.
LSH_BAND_LADDER: tuple[tuple[int, int, int], ...] = (
    (20_000, 4, 3),
    (2_000_000, 3, 4),
)
LSH_BAND_FLOOR: tuple[int, int] = (2, 6)

# Oracle-compat invariants (ADVICE r12): both DuckDB oracle templates
# (queries/dedup.py:_MINHASH_CTES_T, queries/textpipe.py's curate CTE)
# derive the layout from lsh_rpb_case_sql's rows-per-band ALONE —
# bands = 12 // rpb — and enumerate band indexes from a hard-coded
# ``unnest([0,1,2,3])`` (max 4 bands) filtered by ``band < 12 // rpb``.
# A future rung violating either equation (e.g. 6×2, or a bands value
# ≠ 12 // rows) would silently drop bands oracle-side while Spark emits
# them — an unexplained parity failure.  Fail HERE, at import, instead.
for _entry in LSH_BAND_LADDER + ((0, *LSH_BAND_FLOOR),):
    _, _bands, _rows = _entry
    assert 12 % _rows == 0 and _bands == 12 // _rows, (
        f"LSH band rung {_bands}x{_rows}: oracle derives bands as 12 // rpb"
    )
    assert _bands <= 4, (
        f"LSH band rung {_bands}x{_rows}: oracle unnest([0,1,2,3]) caps bands at 4"
    )
del _entry, _bands, _rows


def lsh_rpb_case_sql(n_expr: str) -> str:
    """Rows-per-band CASE over a corpus-count expression — ONE text
    evaluated identically by Spark SQL and DuckDB (integer thresholds
    only, same contract as similarity.bits_case_sql).  bands =
    n_hashes // rows, so the oracle derives the full layout from this
    single expression."""
    whens = " ".join(
        f"WHEN {n_expr} <= {max_n} THEN {rows}" for max_n, _, rows in LSH_BAND_LADDER
    )
    return f"(CASE {whens} ELSE {LSH_BAND_FLOOR[1]} END)"


def minhash_signature_df(
    df: DataFrame, id_col: str = "doc_id", shingle_col: str = "shingles", n_hashes: int = 12
) -> DataFrame:
    """MinHash as explode → codegen hash projection → grouped min.

    The whole-stage-codegen formulation of :func:`minhash_signature`
    (higher-order functions are CodegenFallback — interpreted — so the
    in-array version pays ~10× per element).  The shuffle this
    introduces is tiny: partial aggregation combines map-side, so only
    |docs| × n_hashes longs cross the wire.  Output: (id, sig).
    """
    ex = df.select(id_col, F.explode(shingle_col).alias("t"))
    # the n_hashes affine-hash columns as ONE selectExpr batch (the
    # Column-op form cost a py4j round-trip per node per member —
    # ~0.1 s per construction; same 56-bit integer math, exact at
    # < 2^61 either way)
    v1s = "CAST(conv(substring(md5(t), 1, 14), 16, 10) AS BIGINT)"
    v2s = "CAST(conv(substring(md5(t), 15, 14), 16, 10) AS BIGINT)"
    hashed = ex.selectExpr(
        id_col,
        *[f"({v1s} + {j} * {v2s}) % {_MINHASH_P} AS h{j}" for j in range(n_hashes)],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h{j}) AS h{j}") for j in range(n_hashes)]
    )
    return agg.selectExpr(
        id_col, "array({}) AS sig".format(",".join(f"h{j}" for j in range(n_hashes)))
    )


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", shingle_col: str = "shingles"
) -> DataFrame:
    """SimHash as explode → packed-counter codegen projection → grouped
    sums → sign.  Same codegen-vs-interpreted rationale as
    :func:`minhash_signature_df`; the shuffle after map-side combine is
    |docs| × 16 longs.

    The 64 per-bit popcounts are packed 4-to-a-long (16-bit lanes):
    a naive 64-column projection + 64-sum aggregate generates ~4× the
    janino source and pays ~15 s of one-time compile; the packed form
    sums ``((w >> k) & 1) << 16j`` lanes — bit-exact as long as no doc
    has ≥ 32768 shingles (lane carry), far above any real document.
    Sign rule: ±1 sum > 0  ⟺  2·popcount > n_shingles.
    Output: (id, bv array<long> of 64 bits, MSB-first).
    """
    ex = df.select(id_col, F.explode(shingle_col).alias("t"))
    # materialize the halves in their own projection: they are re-read
    # 32× each by the packed columns, and CollapseProject keeps non-cheap
    # multi-referenced aliases as a separate stage (no md5 re-eval)
    halves = ex.selectExpr(
        id_col,
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) AS w1",
        "CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT) AS w2",
    )

    # the 16 packed-lane columns and the 64-term signature are built as
    # parsed SQL strings: the same trees via per-node python calls cost
    # ~2 s of py4j driver time per query build (measured), the parse
    # path is ~10 ms for identical plans
    def lane(i: int, j: int) -> str:
        v, k = ("w1", 31 - i) if i < 32 else ("w2", 63 - i)
        return f"shiftleft(shiftright({v}, {k}) & 1, {16 * j})"

    contrib = halves.selectExpr(
        id_col,
        *[
            " + ".join(lane(g * 4 + j, j) for j in range(4)) + f" AS p{g}"
            for g in range(16)
        ],
    )
    summed = contrib.groupBy(id_col).agg(
        F.expr("count(1) AS n"),
        *[F.expr(f"sum(p{g}) AS p{g}") for g in range(16)],
    )

    def bit(i: int) -> str:
        return f"((shiftright(p{i // 4}, {16 * (i % 4)}) & 65535) * 2 > n)"

    # one packed word: bit i of the signature sits at position 63-i, so
    # Hamming distance downstream is bit_count(sig XOR sig') — two
    # codegen integer ops per pair instead of a 64-element array walk
    sig = F.expr(
        " + ".join(f"shiftleft(if({bit(i)}, 1L, 0L), {63 - i})" for i in range(64))
    )
    with_sig = summed.select(id_col, sig.alias("sig"))
    # bv kept for callers that want inspectable bits; derived from sig
    # (column pruning elides it when unused).  SQL form because the
    # Python shiftright wrapper only takes a literal shift amount.
    bv = F.expr("transform(sequence(0, 63), i -> bigint(shiftright(sig, 63 - i) & 1))")
    return with_sig.select(id_col, "sig", bv.alias("bv"))


def simhash_df_128(
    df: DataFrame, id_col: str = "doc_id", shingle_col: str = "shingles"
) -> DataFrame:
    """128-bit SimHash — the corpus-scale widening :func:`simhash_chunks`
    scopes: same explode → packed-lane → grouped-sum shape as
    :func:`simhash_df`, but consuming the FULL md5 (4×32-bit words) so
    chunk keys can be 16-bit (65k buckets) instead of 8-bit (256) —
    at ~10⁹ docs, 256 buckets per chunk would put ~4M docs in every
    bucket and the candidate join would degenerate toward all-pairs;
    65k buckets keep per-bucket membership ~1000× smaller.

    128 popcounts pack into 32 longs (16-bit lanes, 4 per word — same
    carry bound: no doc with ≥32768 shingles).  Output:
    (id, sig1, sig2) — two packed 64-bit words, bits 0–63 MSB-first in
    sig1, 64–127 in sig2; pair Hamming distance downstream is
    ``bit_count(sig1⊕sig1') + bit_count(sig2⊕sig2')``.
    """
    ex = df.select(id_col, F.explode(shingle_col).alias("t"))
    words = ex.selectExpr(
        id_col,
        *[
            f"CAST(conv(substring(md5(t), {1 + 8 * q}, 8), 16, 10) AS BIGINT) AS w{q}"
            for q in range(4)
        ],
    )

    def lane(i: int, j: int) -> str:
        q, k = divmod(i, 32)
        return f"shiftleft(shiftright(w{q}, {31 - k}) & 1, {16 * j})"

    contrib = words.selectExpr(
        id_col,
        *[
            " + ".join(lane(g * 4 + j, j) for j in range(4)) + f" AS p{g}"
            for g in range(32)
        ],
    )
    summed = contrib.groupBy(id_col).agg(
        F.expr("count(1) AS n"),
        *[F.expr(f"sum(p{g}) AS p{g}") for g in range(32)],
    )

    def bit(i: int) -> str:
        return f"((shiftright(p{i // 4}, {16 * (i % 4)}) & 65535) * 2 > n)"

    sig1 = F.expr(
        " + ".join(f"shiftleft(if({bit(i)}, 1L, 0L), {63 - i})" for i in range(64))
    )
    sig2 = F.expr(
        " + ".join(f"shiftleft(if({bit(i)}, 1L, 0L), {127 - i})" for i in range(64, 128))
    )
    return summed.select(id_col, sig1.alias("sig1"), sig2.alias("sig2"))


def candidate_pairs(
    banded: DataFrame,
    id_col: str = "doc_id",
    distinct: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """Bucket-join candidate generation: explode band keys, self-join on
    (band, key), keep ordered (distinct) pairs.

    THE scale decision: the join key is the band bucket, so shuffle
    volume is O(docs × bands) and join work is per-bucket — never the
    O(n²) all-pairs cross product.

    ``distinct`` placement is a cost trade: a pair colliding in k bands
    appears k times.  Dedup HERE bounds downstream verify work (right
    when verification is expensive — set-ops Jaccard); with
    ``distinct=False`` the caller dedups AFTER its verify filter (right
    when verification is a few integer ops — SimHash Hamming — because
    the filter kills ~all pairs first and the distinct then shuffles
    dozens of rows instead of every candidate).

    ``materialize`` (r13, guide §2.4 "remove shuffles outright" /
    §5 caching): the self-join references the exploded key frame TWICE,
    and although the static planner dedupes the two identical shuffle
    subtrees with ``ReusedExchange``, AQE does NOT — with
    ``spark.sql.adaptive.enabled`` the two exchanges fail to
    canonicalize equal once the subtree hangs off a cached relation
    (measured on dedup_minhash_lsh: static plan 6 Exchanges + reuse,
    AQE plan 12 Exchanges, runtime stage metrics showing the ~8 s-CPU
    signature chain executed twice with byte-identical shuffle writes).
    Callers whose ``banded`` is an EXPENSIVE chain (MinHash explode →
    hash family → grouped min → band md5s) pass True: the exploded
    frame — |docs|×bands small (id, band, key) rows, the exact payload
    the bucket shuffle carries anyway — is persisted and materialized
    once, so both join sides read the cache instead of re-running the
    chain.  At 100 TB the trade holds a fortiori: caching the
    key-projection (spills to disk under pressure) always beats a
    second full corpus scan + signature recompute.  Callers whose
    banding is a cheap projection over an already-persisted signature
    (SimHash integer slicing) keep the default False — for them the
    duplicated work is a cache scan, cheaper than an extra cache
    write + count job.
    """
    ex = banded.select(id_col, F.explode("band_keys").alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    if materialize:
        ex = ex.persist()
        ex.count()
    a = ex.alias("a")
    b = ex.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"))
    )
    return out.distinct() if distinct else out


def verify_jaccard(
    pairs: DataFrame,
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only (LSH output is a superset;
    this removes false positives).  ``array_intersect``/``array_union``
    on the pre-deduped shingle arrays — codegen, joins only candidates."""
    s1 = shingle_df.select(
        F.col(id_col).alias("id1"), F.col(shingle_col).alias("sh1")
    )
    s2 = shingle_df.select(
        F.col(id_col).alias("id2"), F.col(shingle_col).alias("sh2")
    )
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _bits_from_halves(h: Column) -> Column:
    """±1 contributions for the 64 bits of a (v1, v2) 32-bit-halves
    struct (MSB-first).  Bit ``i`` is extracted arithmetically
    (``div 2^k % 2``) because ``shiftright`` needs a literal shift
    amount; the divisors come from a literal array so the inner lambda
    is two integer ops + a lookup."""
    div = F.array(*[F.lit(2 ** (31 - k)) for k in range(32)])

    def bit(v: Column, i: Column) -> Column:
        return (v / F.element_at(div, i + 1)).cast("long") % 2

    return F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.when(i < 32, bit(h["v1"], i)).otherwise(bit(h["v2"], i - 32)) * 2 - 1
        ).cast("long"),
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash over a token array as an array<long> of 64 bits
    (MSB-first, 1 where the summed ±1 contributions are positive).

    Repeated tokens weight their bits by multiplicity — the standard
    Charikar semantics and bit-identical to :func:`simhash_df` on ALL
    inputs (unified r13; until then this form ``array_distinct``-ed its
    input, so the two "equivalent" APIs silently diverged on raw
    non-distinct token arrays — tests/test_dedup_property.py pins the
    twins unconditionally now).  Callers wanting set semantics pass
    ``F.array_distinct(tokens)`` explicitly, as ``shingle_frame`` does.

    The md5 of each token is materialized ONCE into a (v1, v2)
    halves-struct array before bit expansion — Catalyst does not CSE
    inside higher-order-function lambdas, so inlining the md5 into the
    per-bit lambda would recompute it 64× per token (measured ~20×
    slower at sf0.1).  ``aggregate`` + ``zip_with`` then keeps the whole
    reduction inside one codegen stage per row — no explode, no
    shuffle, no Python.
    """
    halves = F.transform(
        tokens,
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long").alias("v1"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long").alias("v2"),
        ),
    )
    summed = F.aggregate(
        halves,
        F.expr("array_repeat(0L, 64)"),
        lambda acc, h: F.zip_with(acc, _bits_from_halves(h), lambda x, y: x + y),
    )
    return F.transform(summed, lambda s: F.when(s > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"))


def simhash_chunks(bits: Column, n_chunks: int = 8) -> Column:
    """Split a 64-bit SimHash into ``n_chunks`` equal-width bucket keys.

    Pigeonhole: two docs within Hamming distance ``n_chunks - 1`` share
    ≥1 identical chunk, so a per-chunk bucket join finds all pairs with
    d ≤ 7 (at the default 8×8-bit) without all-pairs comparison.  8-bit
    chunks bucket coarsely (256 values) — at corpus scale widen the
    signature (128-bit) and keep 16-bit chunks to hold candidate counts
    down; the planted near-dups here (J 0.90–0.99 over ~90-shingle
    sets) land at Hamming 1–10, so d≤8 is the operating point.
    """
    w = 64 // n_chunks
    return F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.array_join(F.slice(bits, k * w + 1, w), "").alias("key"),
            )
            for k in range(n_chunks)
        ]
    )


def simhash_chunks_packed_sql(sig_sql: str, n_chunks: int = 8) -> str:
    """:func:`simhash_chunks` over the packed 64-bit signature: chunk k
    is the integer ``(sig >>> (64 - (k+1)·w)) & (2^w − 1)`` — the same
    bucket partition as the bit-string keys (identical index ranges,
    bijective key mapping), but built from two integer ops instead of an
    array slice + string join.  The ``& mask`` makes the arithmetic
    shift's sign-fill irrelevant.  SQL text through ONE parser call
    (r13 wave 10); values pinned against plain Python in
    tests/test_vector_sql_twins.py."""
    w = 64 // n_chunks
    mask = (1 << w) - 1
    return "array({})".format(
        ",".join(
            f"named_struct('band', {k}, 'key', "
            f"shiftright({sig_sql}, {64 - (k + 1) * w}) & {mask})"
            for k in range(n_chunks)
        )
    )


def simhash_chunks_packed_128_sql(
    sig1_sql: str, sig2_sql: str, n_chunks: int = 8
) -> str:
    """:func:`simhash_chunks_packed_sql` over the two-word 128-bit
    signature: ``n_chunks`` equal chunks of ``128 / n_chunks`` bits,
    chunk k sliced out of sig1 (k < n_chunks/2) or sig2 with two
    integer ops.  Pigeonhole: Hamming ≤ n_chunks − 1 ⇒ ≥1 shared
    chunk; beyond that the bucket join is probabilistic (the planted
    near-dup recall is pinned in tests/test_pipeline.py)."""
    w = 128 // n_chunks
    assert 64 % w == 0, "chunk width must divide the 64-bit words"
    per_word = 64 // w
    mask = (1 << w) - 1
    parts = []
    for k in range(n_chunks):
        word = sig1_sql if k < per_word else sig2_sql
        kk = k % per_word
        parts.append(
            f"named_struct('band', {k}, 'key', "
            f"shiftright({word}, {64 - (kk + 1) * w}) & {mask})"
        )
    return "array({})".format(",".join(parts))


def gram_occurrences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    scope_cols: tuple = (),
) -> DataFrame:
    """Stride-1 k-token gram occurrence table ``(id, pos, gram)`` — the
    probe/index row format of exact substring dedup: the corpus side is
    what :func:`substring_dedup` aggregates, what the bucketed gram
    index persists, and what an incremental ingest job computes for the
    day's batch (tests/test_bucketing.py, tests/test_streaming.py).
    ``pos`` is 1-based; docs under k tokens and NULL texts contribute
    no rows.  Map-only: split → bounded sequence explode → md5.
    The output format is fixed, so ``id_col`` may not collide with the
    other output/internal names.

    ``scope_cols`` fold scope values (language, source, tenant…) into
    the gram hash, so identical token runs in DIFFERENT scopes never
    collide — scoped dedup costs zero extra columns, joins, or shuffle
    keys downstream.  Each scope part is md5-hashed BEFORE folding, so
    scope values are opaque: a value containing the ``\\x1f`` delimiter
    (or any other byte) cannot splice itself into a neighboring part
    and merge two distinct scope combinations.  A NULL scope value
    folds as a non-hex sentinel no real value can hash to — its own
    scope, never merged into a neighbor (``concat_ws`` alone would
    silently drop it)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    reserved = ("pos", "gram", "_toks")
    if id_col in reserved:
        raise ValueError(
            f"id_col {id_col!r} collides with the fixed (id, pos, gram) "
            "output format — rename the id column first"
        )
    for c in scope_cols:
        if c in reserved or c == id_col:
            raise ValueError(
                f"scope column {c!r} collides with the fixed (id, pos, gram) "
                "output format or the id column — rename it first"
            )
    t = df.select(
        F.col(id_col),
        *[F.col(c) for c in scope_cols],
        F.split(text_col, " ", -1).alias("_toks"),
    )
    n = F.size("_toks")
    # md5 each part (hex — can never contain the \x1f delimiter); md5 of
    # NULL is NULL, so the coalesced sentinel is unreachable from data
    scope_parts = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("\x00null"))
        for c in scope_cols
    ]
    return t.select(
        id_col,
        F.explode(
            F.when(n >= k, F.sequence(F.lit(1), n - k + 1))
            .otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
        F.col("_toks"),
        *[F.col(c) for c in scope_cols],
    ).select(
        id_col,
        "pos",
        F.md5(
            F.concat_ws(
                "\x1f",
                *scope_parts,
                F.concat_ws(" ", F.slice("_toks", F.col("pos"), F.lit(k))),
            )
        ).alias("gram"),
    )


def _dup_gram_prefilter(occ: DataFrame, dup: DataFrame, n_bits: int) -> DataFrame:
    """Map-side Bloom pre-filter for the substring-dedup join-back.

    Packs the duplicated-gram set into a word-level bitmap DataFrame
    (``(word_index, 64-bit word)`` — at most ``n_bits/64`` rows, i.e.
    ≤ 8 MB at the default 2^26 bits, the same cap Spark's own runtime
    bloom uses) and broadcast-hash-joins it onto the occurrence table,
    keeping only occurrences whose bit is set.  Singleton grams (~95 %
    of a fresh-crawl corpus) die map-side in the broadcast lookup
    instead of shuffling into the gram join.  ONE hash function by
    design: with ``m`` bits and ``n`` set grams the false-positive rate
    is ``≈ n/m`` (6 % at n = 4 M, m = 2^26) — a second hash would halve
    an already-small leak at the price of a second broadcast probe over
    every occurrence, the wrong trade for a filter whose misses merely
    fall through to the exact join and drop there.  Correctness never
    depends on the bloom: when ``|dup|`` saturates the bitmap the
    filter passes everything and the join is unchanged.  Fully
    declarative: no driver collect, no eager job — the bitmap is built
    by a word-keyed ``bit_or`` aggregate and shipped by Spark's own
    broadcast machinery.  (Spark's own InjectRuntimeFilter can't serve
    here: its ``might_contain`` is not a registered SQL function, and
    its thresholds — probe scan ≥ 10 GB, build ≤ 10 MB estimate —
    never fire for a gram-aggregate build side.)
    """
    bit = F.pmod(F.xxhash64("gram"), F.lit(n_bits))
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit % 64 AS INT))")
    words = (
        dup.select(bit.alias("_bit"))
        .select(F.shiftright("_bit", 6).alias("_w"), mask.alias("_m"))
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_word"))
    )
    return (
        occ.withColumn("_bit", bit)
        .withColumn("_w", F.shiftright("_bit", 6))
        .join(F.broadcast(words), "_w")
        .filter(mask.bitwiseAND(F.col("_word")) != 0)
        .drop("_bit", "_w", "_word")
    )


#: input-size estimate (bytes) above which ``bloom_bits="auto"`` turns
#: the join-back pre-filter on: below it the bitmap's extra aggregate
#: pass costs more than the shuffle it saves (the same cost model
#: behind Spark's own InjectRuntimeFilter size thresholds).
_BLOOM_AUTO_THRESHOLD = 1 << 30


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    scope_cols: tuple = (),
    bloom_bits: int | None | str = "auto",
) -> DataFrame:
    """Exact SUBSTRING dedup (Lee et al. 2022): cut every duplicated
    ≥k-token span at arbitrary offsets, keeping only the corpus-wide
    canonical first occurrence (min ``(id, pos)``) of each duplicated
    k-gram.  Returns one row per input doc: ``(id, n_tokens, n_spans,
    n_dup_tokens, text_clean)`` where ``n_spans`` counts MERGED
    (overlapping/adjacent) removed spans and, for every non-null text,
    ``n_tokens − n_dup_tokens`` equals the number of tokens remaining
    in ``text_clean`` (0 when it is the empty string — note
    ``split("")`` yields ``[""]``, so validate with an emptiness check,
    not a bare re-split); a NULL text yields an all-NULL row (the
    pipeline-wide null convention — same as the multimodal decode
    tiers).  ``scope_cols`` restricts duplication to matching scope
    values (dedup within language/source/tenant): the scope is folded
    into the gram hash (see :func:`gram_occurrences`), so the plan is
    IDENTICAL to the global form — no extra join keys or shuffles.

    Plan shape (the 100 TB contract): stride-1 k-gram hashes are
    map-only; duplicate detection is ONE gram-keyed partial/final
    HashAggregate carrying the canonical occurrence as
    ``min(struct(id, pos))``, joined back on the gram key — never a
    corpus-wide rank window.  Span merge and text reconstruction
    shuffle by doc id only; both windows partition on the doc id
    (high-cardinality — no single-partition funnel).  The join-back can
    be pre-filtered by a broadcast Bloom bitmap of the duplicated grams
    (``bloom_bits`` wide; 2^26 ≈ 8 MB is Spark's own runtime-bloom cap)
    so singleton occurrences (~95 % of a fresh-crawl corpus) die
    map-side instead of shuffling.  The default ``bloom_bits="auto"``
    decides from the optimizer's input-size ESTIMATE (no job runs) —
    on above ``_BLOOM_AUTO_THRESHOLD`` (1 GiB), off below; an UNKNOWN
    estimate (e.g. a python-local input, which reports ``Long.Max``)
    counts as large, the scale-safe side.  This mirrors
    the size thresholds Spark's own InjectRuntimeFilter uses: at small
    scale the bitmap's extra aggregate pass over the gram table costs
    more than the shuffle it saves (measured ~+60 % at sf0.1), while at
    crawl scale the saved shuffle dominates.  Pass an int to force the
    pre-filter, ``None`` to force it off — results are identical either
    way (the exact join drops bloom false positives), only the plan
    changes.  Reconstruction walks the gaps
    between the sorted merged spans (``O(tokens + spans)`` per doc),
    not token×span membership tests.

    Side effect: the internal gram-occurrence table is ``persist()``-ed
    and intentionally NOT unpersisted — the returned (lazy) plan
    references it from both the duplicate aggregate and the join-back,
    so its lifetime follows Spark's LRU block-eviction contract, the
    same convention as :func:`fletcher_spark.operators.agg.exact_cut_points`.
    Call ``spark.catalog.clearCache()`` if you need the memory back
    after fully consuming the result."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col).alias("_id"), F.split(text_col, " ", -1).alias("toks"))
    occ = (
        gram_occurrences(
            df.select(
                F.col(id_col).alias("_id"),
                F.col(text_col),
                *[F.col(c) for c in scope_cols],
            ),
            "_id",
            text_col,
            k,
            scope_cols,
        )
        # feeds the dup aggregate AND the mark join-back; the returned
        # plan references it, so lifetime is the LRU cache contract
        .persist()
    )
    dup = (
        occ.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("_id", "pos")).alias("canon"),
        )
        .filter(F.col("c") >= 2)
        .select("gram", "canon")
    )
    if bloom_bits == "auto":
        # plan-estimate gate, the InjectRuntimeFilter pattern: file-source
        # statistics only — no JOB runs, but reading the estimate does make
        # Catalyst analyze+optimize the input plan eagerly on the driver,
        # and the py4j path below is private API; if either misbehaves,
        # fall back to "large" (the scale-safe side, same as Long.Max)
        try:
            est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            est = _BLOOM_AUTO_THRESHOLD + 1
        bloom_bits = (1 << 26) if est > _BLOOM_AUTO_THRESHOLD else None
    elif bloom_bits is not None and (not isinstance(bloom_bits, int) or bloom_bits < 64):
        # fail fast: pmod(hash, 0) is REMAINDER_BY_ZERO under ANSI mode
        # and a silent drop-everything NULL filter with ansi off
        raise ValueError(
            f"bloom_bits must be None, 'auto', or an int >= 64, got {bloom_bits!r}"
        )
    probe = occ if bloom_bits is None else _dup_gram_prefilter(occ, dup, bloom_bits)
    marked = (
        probe.join(dup, "gram")
        .filter(F.struct("_id", "pos") != F.col("canon"))
        .select("_id", "pos")
    )
    w_prev = (
        Window.partitionBy("_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("_id").orderBy("pos")
    isl = (
        marked.withColumn("pmax", F.max(F.col("pos") + (k - 1)).over(w_prev))
        .withColumn(
            "new_isl",
            F.when(F.col("pmax").isNull() | (F.col("pos") > F.col("pmax") + 1), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(w_run))
    )
    spans = isl.groupBy("_id", "island").agg(
        F.min("pos").alias("a"), (F.max("pos") + (k - 1)).alias("b")
    )
    iv = spans.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("b") - F.col("a") + 1).alias("n_dup_tokens"),
        F.collect_list(
            F.array(F.col("a").cast("long"), F.col("b").cast("long"))
        ).alias("ivs"),
    )
    out = toks.join(iv, "_id", "left")
    # gap sweep over the SORTED merged spans: kept tokens are exactly
    # the complement intervals [1,a1-1], [b1+1,a2-1], …, [bn+1,n] —
    # O(tokens + spans) per doc, vs the O(tokens × spans) per-token
    # exists() membership scan this replaces.  Spans are disjoint and
    # non-adjacent by construction, so only the first/last gap can be
    # empty (guarded by the s<=e branch).
    sp = F.array_sort(F.coalesce("ivs", F.array().cast("array<array<bigint>>")))
    starts = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform(sp, lambda v: v.getItem(1) + 1),
    )
    ends = F.concat(
        F.transform(sp, lambda v: v.getItem(0) - 1),
        F.array(F.size("toks").cast("long")),
    )
    keep = F.flatten(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.when(s <= e, F.sequence(s, e)).otherwise(
                F.array().cast("array<bigint>")
            ),
        )
    )
    null_in = F.col("toks").isNull()
    return out.select(
        F.col("_id").alias(id_col),
        F.when(null_in, F.lit(None))
        .otherwise(F.size("toks"))
        .cast("long")
        .alias("n_tokens"),
        F.when(null_in, F.lit(None))
        .otherwise(F.coalesce("n_spans", F.lit(0)))
        .cast("long")
        .alias("n_spans"),
        F.when(null_in, F.lit(None))
        .otherwise(F.coalesce("n_dup_tokens", F.lit(0)))
        .cast("long")
        .alias("n_dup_tokens"),
        F.when(null_in, F.lit(None).cast("string"))
        .otherwise(
            F.concat_ws(
                " ", F.transform(keep, lambda i: F.element_at("toks", i.cast("int")))
            )
        )
        .alias("text_clean"),
    )
