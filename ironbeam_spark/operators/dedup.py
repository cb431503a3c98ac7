"""Deduplication operators for LLM training-data pipelines (north-star
extension — BASELINE.json; not in the reference, whose only dedupe is exact
``distinct``, ``src/helpers/distinct.rs``).

Scale design: every variant is shuffle-bounded and driver-free.

- **exact**: hash groupBy on a content key, deterministic winner (min by a
  tiebreaker) — one shuffle.
- **MinHash + LSH**: shingle → K minhashes → band buckets → self-join per
  bucket → verify Jaccard.  The candidate join is on band signatures, so the
  cross product only happens inside a bucket (the LSH guarantee); at 100 TB
  the band-bucket join is an equi-join Spark shuffles or broadcasts like any
  other.
- **SimHash**: 48-bit fingerprint via per-token bit votes; near-dup = Hamming
  distance ≤ k, candidate-bounded by band equality on fingerprint chunks.
- **n-gram Jaccard**: exact verification primitive (also used standalone
  within explicit blocking buckets).

Hashes are md5-based so results are engine-independent and every pipeline
stage has an exact SQL oracle (DuckDB mirrors each expression verbatim).
All set intersections use sorted distinct arrays — no FP, no order
sensitivity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ironbeam_spark import caches
from ironbeam_spark.functions.text import token_int, tokens
from ironbeam_spark.plancache import memo_expr
from ironbeam_spark.scale import ensure_min_parallelism

__all__ = [
    "dedup_exact",
    "dedup_components",
    "let_",
    "simhash_of_ints",
    "word_shingles",
    "hashed_word_shingles",
    "char_ngrams",
    "minhash_affine",
    "minhash_signature",
    "minhash_signature_from_ints",
    "minhash_band_keys",
    "guard_band_buckets",
    "RECOMMENDED_MAX_BAND_BUCKET",
    "minhash_candidates",
    "minhash_dedup_pairs",
    "minhash_pairs_from_shingles",
    "simhash",
    "simhash_pairs",
    "jaccard",
    "prefix_filter_candidates",
    "set_similarity_join",
    "set_similarity_search",
    "winnow_match_pairs",
]


def dedup_exact(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Exact dedup: one row per key, deterministic winner = min ``order_col``.
    (``dropDuplicates`` keeps an arbitrary row; a pipeline that must be
    reproducible needs the min-by contract.)  Single hash shuffle."""
    others = [c for c in df.columns if c not in keys]
    aggs = [F.min_by(c, F.col(order_col)).alias(c) for c in others if c != order_col]
    return df.groupBy(*keys).agg(F.min(order_col).alias(order_col), *aggs)


@memo_expr
def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct sorted n-word shingles of a text column.  Texts with fewer
    than ``n`` tokens yield an EMPTY array — the guard matters because
    ``F.sequence(1, 0)`` is the DESCENDING sequence ``[1, 0]`` in Spark
    (it would emit a bogus shingle and a slice-at-0 crash)."""
    toks = tokens(col)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(sh))


# Rolling-hash base for hashed shingles: acc = (acc*31 + token_hash) mod
# SHINGLE_MOD.  SHINGLE_MOD·31 + 2^48 < 2^63, so the fold never overflows
# int64 and DuckDB mirrors it bit-for-bit.
SHINGLE_MOD = 10**17 + 3


from ironbeam_spark.functions.hof import let_  # noqa: E402 - re-export (API compat)


@memo_expr
def hashed_word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct sorted n-word shingle *hashes* (int64) of a text column.

    The scale-path variant of :func:`word_shingles`: one md5 per token (not
    per shingle), shingle identity = rolling hash of the n token hashes — no
    shingle strings are ever materialized, and downstream set ops
    (distinct/sort/intersect for Jaccard) run on int64 arrays, which also
    shrinks the shuffle payload of the verification join.  Hash collisions
    (~2^-48 per pair) are negligible for near-dup detection, and the SQL
    oracle applies the identical arithmetic so differential tests stay exact.

    The per-token hash array is let-bound (see :func:`let_`) so the md5 pass
    runs exactly once per row even though each shingle reads n elements.
    """
    token_hashes = F.transform(tokens(col), lambda t: token_int(t))

    def build(tis: Column) -> Column:
        def shingle_at(i: Column) -> Column:
            acc = F.get(tis, i - 1).cast("long")
            for j in range(1, n):
                acc = (acc * F.lit(31) + F.get(tis, i + F.lit(j) - 1)) % F.lit(SHINGLE_MOD)
            return acc

        # guard: F.sequence(1, 0) is the DESCENDING [1, 0] in Spark — without
        # it a <n-token text fabricates shingles from out-of-range gets
        sh = F.when(
            F.size(tis) >= n,
            F.transform(F.sequence(F.lit(1), F.size(tis) - F.lit(n - 1)), shingle_at),
        ).otherwise(F.array().cast("array<bigint>"))
        return F.array_sort(F.array_distinct(sh))

    return let_(token_hashes, build)


@memo_expr
def char_ngrams(col: Column | str, n: int = 4) -> Column:
    """Distinct sorted character n-grams.  Texts shorter than ``n`` yield an
    EMPTY array (matching SQL ``generate_series(1, 0)`` = empty); without
    the guard Spark's ``F.sequence(1, 0)`` — which is the DESCENDING
    ``[1, 0]`` — would fabricate a truncated gram for short texts."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
            lambda i: F.substring(c, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(grams))


# Affine-hash family for minhash: h_i(x) = (a_i·x' + b_i) mod MINHASH_PRIME
# over x' = the low 31 bits of the int64 base hash x (rolling shingle hashes
# are < SHINGLE_MOD ≈ 2^56.5; md5 token ints are 48-bit — either way uniform,
# so the 31-bit truncation keeps a uniform key; two DISTINCT shingles
# colliding in x' is a 2^-31 event that only nudges candidate generation,
# never the exact-Jaccard verify).
#
# The a_i MUST be large enough that a_i·x' wraps past the modulus MANY
# times.  The original family used a_i = 2i+3 (3..33) against p = 2^61−1:
# for x < 2^57 and a ≤ 17 (every i < 8), a·x + b < p — the mod NEVER
# fired, every h_i was strictly increasing in x, and all k "independent"
# minhashes picked the SAME argmin shingle.  The k-permutation signature
# silently collapsed to one hash replicated k times: band agreement became
# all-or-nothing, and LSH candidate recall degenerated from 1−(1−s^r)^b to
# s (caught round 10 when a Jaccard-0.45 pair with a forced 8-of-8 banding
# failed to collide).
#
# Now: p is the Mersenne prime M31 = 2^31−1 and a_i is a seeded odd value
# with the top bit forced (a ∈ [2^30, 2^31), so a·x' folds ~2^30 times —
# thoroughly mixed), b_i a seeded offset in [0, p).  Bounds: a·x' + b <
# 2^62 + 2^31 < 2^63, so ONE multiply + ONE mod is exact in int64 — and in
# DuckDB BIGINT, so the oracle embeds the same literals and mirrors the
# arithmetic bit-for-bit.  (A first fix used p = 2^61−1 with 30-bit a and
# an exact limb-split mulmod; correct, but ~8 ops per hash per element on
# an interpreted lambda where this is 3, and the narrower signature also
# shortens band-key strings.)
MINHASH_PRIME = (1 << 31) - 1


def _minhash_coeff(i: int) -> "tuple[int, int]":
    import hashlib

    h = hashlib.md5(f"ironbeam-minhash-{i}".encode()).hexdigest()
    a = (int(h[:8], 16) % (1 << 30)) | (1 << 30) | 1  # odd, in [2^30, 2^31)
    if a >= MINHASH_PRIME:  # a ≡ 0 mod p would be a constant hash
        a -= 2
    b = int(h[8:16], 16) % MINHASH_PRIME
    return a, b


MINHASH_COEFFS = [_minhash_coeff(i) for i in range(16)]  # (a_i, b_i)


def _family_version() -> str:
    """Content-derived id of the hash family: changes automatically with
    any constant change, so a persisted index built under a different
    family can never silently join against fresh signatures (the r10
    family repair invalidated every pre-r10 index with no error — near-zero
    recall, all gates green).  Stamped as ``mh_family`` on
    :func:`~ironbeam_spark.operators.incremental.minhash_index` output and
    checked by every index consumer."""
    import hashlib

    return "m31:" + hashlib.md5(
        repr((MINHASH_PRIME, MINHASH_COEFFS)).encode()
    ).hexdigest()[:12]


MINHASH_FAMILY = _family_version()


def minhash_affine(x: Column, a: int, b: int) -> Column:
    """``(a·(x & M31) + b) mod M31`` — exact in int64 (product < 2^62)."""
    p = F.lit(MINHASH_PRIME)
    return (F.lit(a).cast("long") * x.bitwiseAND(p) + F.lit(b)) % p


@memo_expr
def minhash_signature_from_ints(ints: Column | str, k: int = 8) -> Column:
    """K minhash values (int64 array) from pre-materialized int64 shingle
    hashes.  Materialize ``ints`` in its own projection before calling — the
    md5 pass must run once per row, not once per hash function (Catalyst
    does not CSE a subexpression across the k signature terms).

    Single-pass shape: one ``aggregate`` over the shingle array carrying a
    k-wide running-minimum accumulator, with the 31-bit truncation of each
    element let-bound once and shared by all k affine evaluations.  The
    naive spelling (k independent ``array_min(transform(...))`` passes)
    traverses the array k times and re-truncates per hash function.
    ``least`` over the same values is bit-identical to ``array_min``.
    Empty or NULL ``ints`` yield NULL (not the accumulator seed): this is
    exported API, and a seed-valued signature would give every
    empty-shingle doc an IDENTICAL signature — mutual LSH candidates for
    all of them, a quadratic bucket of junk pairs.  NULL band keys drop
    out of the candidate equi-join instead (r10 ADVICE).  All in-package
    callers additionally filter ``size > 0`` before signing."""
    ints = F.col(ints) if isinstance(ints, str) else ints
    p = F.lit(MINHASH_PRIME)

    def step(acc: Column, x: Column) -> Column:
        # one truncation per element, shared by all k hashes
        return let_(
            x.bitwiseAND(p),
            lambda xm: F.zip_with(
                acc,
                F.array(
                    *[
                        (F.lit(a).cast("long") * xm + F.lit(b)) % p
                        for a, b in MINHASH_COEFFS[:k]
                    ]
                ),
                lambda m, h: F.least(m, h),
            ),
        )

    sig = F.aggregate(
        ints,
        F.array(*[F.lit(MINHASH_PRIME).cast("long") for _ in range(k)]),
        step,
    )
    return F.when(F.size(ints) > 0, sig).otherwise(F.lit(None))


def minhash_signature(shingles: Column, k: int = 8) -> Column:
    """K minhash values as an array of int64 from *string* shingles.

    Base hash x(s) = first 48 bits of md5(s) (portable:
    ``('0x'||substr(md5(s),1,12))::BIGINT`` in DuckDB); signature element i is
    ``min over shingles of (a_i·(x & M31) + b_i) mod M31`` with the
    exact-int64 evaluation documented at :data:`MINHASH_COEFFS`.  The
    base-hash array is let-bound so md5 runs once per shingle, not once per
    hash function."""
    return let_(
        F.transform(shingles, lambda s: token_int(s)),
        lambda ints: minhash_signature_from_ints(ints, k),
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    payload_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Band-signature postings ``(id, band_key)``: one row per (doc, band),
    where ``band_key`` is the band index concatenated with that band's slice
    of the signature.  Two docs share a ``band_key`` iff they agree on ALL
    minhashes of that band — the LSH collision predicate.  This is the
    persistable corpus-index shape consumed by
    :func:`~ironbeam_spark.operators.incremental.minhash_dedup_incremental`
    and both sides of :func:`minhash_candidates`' self-join.

    ``payload_cols`` ride along on every posting row — streaming callers
    keep the shingle array on the row this way, because joining the
    postings back to their own source frame would be a stream-stream
    self-join (watermark-bounded state Spark refuses in a plain pipeline,
    and pointless state here).

    NULL signatures (the empty-shingle contract of
    :func:`minhash_signature_from_ints`) emit NO postings: without the
    filter, ``concat_ws`` swallows the NULL slice and every null-sig doc
    would share the literal key ``"<band>#"`` — re-creating the junk
    bucket the NULL contract exists to prevent."""
    df = df.where(F.col(sig_col).isNotNull())
    band_key = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.concat_ws(
                "#",
                b.cast("string"),
                # "_" separator: sig elements are int64 rendered as decimal
                # strings (variable width), so an unseparated concat would be
                # ambiguous ("12"+"345" == "123"+"45")
                F.concat_ws("_", F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band)),
            ),
        )
    ).alias("band_key")
    return df.select(F.col(id_col), *[F.col(c) for c in payload_cols], band_key)


# Recommended production bound for guard_band_buckets: a 10^4-posting
# bucket already means ~5*10^7 candidate pairs from ONE key (a task that
# runs, slowly) while anything an order of magnitude beyond it is a
# boilerplate cluster that should fail loudly.  The suite's minhash
# queries run with this bound ON, so the guarded plan shape is what the
# correctness gate and bench continuously exercise.
RECOMMENDED_MAX_BAND_BUCKET = 10_000


def guard_band_buckets(
    keyed: DataFrame, max_band_bucket: int, what: str = "minhash"
) -> DataFrame:
    """Fail-fast bound on LSH bucket size: raises MID-JOB if any ``band_key``
    holds more than ``max_band_bucket`` postings, instead of silently melting
    a task on the quadratic bucket join.  The hazard is real at corpus
    scale — a boilerplate template shared by 10^6 docs collapses them into
    ONE bucket and the candidate join emits 5·10^11 pairs from a single key.
    Same contract as ``frequent_item_pairs(max_basket_items=...)``: opt-in,
    one extra combinable count + equi-join when enabled, plan untouched when
    not.  Unless profiling says otherwise, enable it with
    :data:`RECOMMENDED_MAX_BAND_BUCKET`.  (The right FIX for a corpus that
    trips it is upstream: strip the boilerplate or raise ``rows_per_band``;
    the guard makes the failure loud and attributable.)"""
    from pyspark.sql.window import Window

    # window count, not groupBy+join: the count rides the band_key exchange
    # the downstream bucket join needs anyway.  In sort-merge mode (the
    # corpus-scale shape) AQE plans the second join side as a ReusedExchange
    # of the first, so the guarded self-join shuffles the postings exactly
    # once — pinned by tests/test_plans.py::
    # test_minhash_guard_band_key_exchange_is_reused_in_smj_mode.  In
    # broadcast mode (small inputs) the window's exchange is real overhead,
    # but measured ~0 at sf0.1 steady state (r11 same-JVM A/B: guard on
    # 1.48s vs off 1.485s; the r10 ab_check's apparent +15% was fresh-JVM
    # warm-up depth — see SCALE.md "q_dedup_minhash ±15% settled")
    sized = keyed.withColumn(
        "_bkn", F.count(F.lit(1)).over(Window.partitionBy("band_key"))
    )
    return sized.where(
        F.when(F.col("_bkn") <= max_band_bucket, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{what}: band bucket exceeds max_band_bucket="
                        f"{max_band_bucket} postings: band_key "
                    ),
                    F.col("band_key"),
                )
            )
        )
    ).drop("_bkn")


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: two docs are candidates iff they agree on ALL minhashes of
    at least one band.  Emits distinct candidate pairs (id_a < id_b).

    Plan shape: explode to (band_key, id) — band_key is the concatenated band
    slice — then an equi self-join on band_key.  At scale the join is
    hash-partitioned on band_key; a hot bucket (boilerplate cluster) is
    quadratic in its size — bound it with ``max_band_bucket``
    (:func:`guard_band_buckets`)."""
    keyed = minhash_band_keys(df, id_col, sig_col, bands, rows_per_band)
    if max_band_bucket is not None:
        keyed = guard_band_buckets(keyed, max_band_bucket)
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(b, on="band_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def jaccard(set_a: Column, set_b: Column, assume_distinct: bool = True) -> Column:
    """Exact Jaccard similarity of two arrays.

    .. warning:: **PRECONDITION (default path): both arrays must contain
       distinct elements.**  With ``assume_distinct=True`` the union size is
       computed as |A| + |B| − |A∩B|, which silently over-counts the union
       (deflating the similarity) if either input is a bag with repeats.
       Every producer in this module emits ``array_distinct`` output, so the
       default is safe internally; external callers passing arrays that may
       contain duplicates must pass ``assume_distinct=False``, which applies
       ``array_distinct`` to both sides first.

    The distinct-input formulation is one hash-set pass — array_union's
    second O(|A|+|B|) scan never runs; measured ~2× on the all-pairs verify
    stage of set_similarity_join."""
    if not assume_distinct:
        set_a = F.array_distinct(set_a)
        set_b = F.array_distinct(set_b)
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = (F.size(set_a) + F.size(set_b)).cast("double") - inter
    return inter / union


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    pairs → exact-Jaccard verification ≥ threshold.  ``max_band_bucket``
    opts into the :func:`guard_band_buckets` fail-fast bound on hot LSH
    buckets."""
    if k % bands != 0:
        # silently truncating (k // bands leaves k % bands minhashes out of
        # every band) would weaken LSH recall below what the caller asked
        # for — and the incremental-index sibling raises on the same params
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    rows_per_band = k // bands
    docs = ensure_min_parallelism(docs)
    base = caches.hold(
        docs.select(
            F.col(id_col),
            hashed_word_shingles(text_col, shingle_words).alias("shingles"),
        )
        # consumed 3× (signature pass + both sides of the verify join): persist
        # once instead of re-shingling — the analog of the reference's
        # dominator-CSE cache (src/runner.rs:257-337).  MEMORY_AND_DISK spills
        # rather than OOMs when the shingle table outgrows executor memory.
        # The returned plan is lazy, so this function cannot unpersist itself;
        # an entry left after the result is materialized is a leak, not warm
        # cache: CacheManager matches persisted plans STRUCTURALLY, so the next
        # call with identical inputs would reuse this call's table.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # The empty-set filter sits ABOVE the persist on purpose: shingling is an
    # interpreted higher-order expression (transform/array_distinct lambdas
    # never enter whole-stage codegen), and a size() filter placed below the
    # cache gets predicate-pushed beneath the parallelizing Exchange into the
    # scan stage, re-evaluating the whole shingle expression per row in as
    # few tasks as the source has splits.  Above the persist it tests the
    # already-materialized array — one cached-column read, zero recompute.
    return minhash_pairs_from_shingles(
        base, id_col, "shingles", k=k, bands=bands, threshold=threshold,
        max_band_bucket=max_band_bucket,
    )


def minhash_pairs_from_shingles(
    base: DataFrame,
    id_col: str,
    shingles_col: str = "shingles",
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Candidate + exact-Jaccard-verify over PRE-MATERIALIZED int64
    shingle arrays (:func:`hashed_word_shingles` output).

    Callers that already hold the shingles on a persisted/checkpointed
    frame (e.g. a cleaned-corpus checkpoint that other passes also read)
    use this to skip :func:`minhash_dedup_pairs`'s re-shingling pass and
    its separate shingle-table persist — one derived-column
    materialization instead of two (optimization r12, guide §2.3 "don't
    compute things twice").  This function itself persists nothing: the
    caller owns the materialization of ``base``.
    """
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    base = base.where(F.size(shingles_col) > 0)
    signed = base.select(
        F.col(id_col), minhash_signature_from_ints(F.col(shingles_col), k).alias("sig")
    )
    cands = minhash_candidates(
        signed, id_col, "sig", bands, k // bands, max_band_bucket=max_band_bucket
    )
    sh = base.select(F.col(id_col), F.col(shingles_col).alias("shingles"))
    verified = (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), on="id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return verified


# dedup_components solves on the driver when the edge table has at most this
# many symmetrized edge rows; ~1 MB collected worst case.  Sized so the label
# LITERAL stays cheap to analyze (≤ ~20k structs — measured ~0.2 s to
# build + fold at 5k rows, superlinear past ~40k), not by driver memory.
_LOCAL_SOLVE_MAX_EDGES = 10000


def _local_component_labels(spark, rows, node_type: str) -> DataFrame:
    """Driver-side connected components over a BOUNDED edge list → a
    pure-JVM literal ``(node, component)`` frame (min-id labels, identical
    to the distributed loop's fixed point).

    Union-find with path compression; the representative is the minimum id
    (Python ``<`` on ints and strs matches Spark's ordering — UTF-8 byte
    order is code-point order).  The result is inlined as ONE ``F.expr``
    array-of-structs literal (the ``_with_codebooks`` lesson: a
    parallelized ``createDataFrame`` would put a Python task into every
    consuming action, and per-element ``F.lit`` costs one py4j trip per
    value); consumers see a ``LocalTableScan`` that AQE broadcast-joins."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    out = sorted((n, comp_min[find(n)]) for n in parent)

    if node_type == "string":
        def lit(v: str) -> str:
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        def lit(v) -> str:
            return f"{v}L"
    arr = (
        "array(" + ",".join(f"struct({lit(n)},{lit(c)})" for n, c in out) + ")"
        if out
        else "array()"
    )
    return spark.range(1).select(
        F.inline(
            F.expr(arr).cast(
                f"array<struct<node:{node_type},component:{node_type}>>"
            )
        )
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_policy=None,
) -> DataFrame:
    """Duplicate *groups* from near-dup pairs: connected components by
    iterative min-label propagation.  Output: ``(node, component)`` where
    ``component`` is the minimum id reachable from ``node`` — the canonical
    survivor of the group (min-id winner, the same deterministic-winner
    contract as :func:`dedup_exact`).

    The loop is the standard Spark iterative-algorithm shape: each round is
    a neighbor-min shuffle (join + min-agg) **plus a pointer-jumping
    self-join** (``component[n] := min(component[n],
    component[component[n]])`` — path doubling), lineage is truncated per
    ``checkpoint_policy`` (an :class:`~ironbeam_spark.operators.checkpoint.
    CheckpointPolicy`; default = AfterEveryBarrier, the reference default,
    ``src/checkpoint.rs:88``, keeping plan size O(1) across rounds), and
    convergence is detected with a cheap changed-count action (one job per
    round — the self-join reuses the aggregate's exchange).  Pointer
    jumping makes rounds **O(log diameter)** instead of O(diameter): a
    chain of 1000 near-dups converges in ~10 rounds, not 1000
    (``max_iter`` is a safety bound).

    Round 1 is SPECIALIZED: with every label still equal to its node id,
    neighbor-min needs no labels frame at all — ``component =
    least(node, min(neighbor))`` is ONE combinable aggregate straight
    over the edge table (no init-labels checkpoint, no join, no union),
    which removes a shuffle and a checkpoint materialization both at toy
    scale (round-7 ``q_corpus_clean`` recovery) and at 100 TB.  The
    specialized round does NOT count against ``max_iter`` (it has no
    pointer-jumping step, so counting it would quietly weaken the bound:
    ``max_iter=k`` still guarantees k full jump-capable rounds, exactly
    the pre-specialization contract).

    SCALE-ADAPTIVE SHORT-CIRCUIT (optimization r13, guide §5): duplicate
    graphs are routinely metadata-scale after the verify join (hundreds
    to thousands of edges on a corpus of millions — near-dup pairs are
    the rare case), yet the iterative path pays 1 blocking Spark job per
    round REGARDLESS of size.  The first action here is therefore a
    bounded ``limit(B+1).collect()`` probe of the (lazily checkpointed)
    edge table: when every edge fits under ``_LOCAL_SOLVE_MAX_EDGES``
    (10,000 symmetrized rows ≈ 1 MB collected), the components are solved
    on the driver with union-find — bit-identical min-id labels, pinned by
    ``test_dedup_components_local_solve_*`` —
    and returned as one pure-JVM literal frame, replacing R blocking
    round-jobs with ONE bounded action.  Above the bound (or for id
    types whose ordering Python cannot replicate, or NULL endpoints) the
    standard loop runs unchanged; the probe's partial work is kept by
    the edge checkpoint, so the fallback costs one small take() job.
    This is the same decide-small/move-big discipline as guide §8 —
    the edge list is the lightweight proxy, and a broadcastable proxy
    never needs distributed iteration."""
    from ironbeam_spark.operators.checkpoint import CheckpointPolicy

    policy = checkpoint_policy or CheckpointPolicy.after_every_barrier()
    # Symmetrize via a per-row explode, NOT union(select(a,b), select(b,a)):
    # a union's two branches each embed the FULL ``pairs`` plan, so
    # materializing the edge checkpoint would execute the (expensive —
    # minhash candidate+verify joins) pair pipeline twice.  One explode of
    # a 2-struct array reads every pair row once for the same edge set
    # (measured at sf0.1: edge materialization 2.8s → half; at corpus
    # scale it removes an entire pass over the verification join.
    # Optimization r12, guide §2.4.)
    #
    # The edge table is never de-duplicated: min-label propagation takes a
    # min over a multiset, so duplicate edges cannot change a label, and a
    # distinct() would cost a full shuffle of the edge set.  The in-row
    # array_distinct still collapses a self-loop's two mirrored structs.
    sym = pairs.select(
        F.explode(
            F.array_distinct(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            )
        ).alias("_e")
    ).select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
    # LAZY checkpoint: the first action (the local-solve probe below, or
    # round 1's convergence count) is the materializing action, so the
    # edge derivation and the first aggregate run as ONE job instead of
    # an eager-checkpoint job plus a count job (optimization r12)
    edges = policy.checkpoint(sym, eager=False)

    # -- local-solve short-circuit (see docstring) ----------------------
    node_type = edges.schema["src"].dataType.simpleString()
    if node_type in ("tinyint", "smallint", "int", "bigint", "string"):
        probe = edges.limit(_LOCAL_SOLVE_MAX_EDGES + 1).collect()
        if len(probe) <= _LOCAL_SOLVE_MAX_EDGES and all(
            r[0] is not None and r[1] is not None for r in probe
        ):
            return _local_component_labels(
                pairs.sparkSession, [(r[0], r[1]) for r in probe], node_type
            )
        # over the bound (or NULL endpoints): fall through to the loop —
        # the probe already materialized the edge checkpoint blocks


    # round 1: labels[n] == n, so min-over-neighbors is a plain aggregate
    # over edges; _old = the node's own id (what a labels frame would hold)
    first = policy.checkpoint(
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_minn"))
        .select(
            "node",
            F.least(F.col("node"), F.col("_minn")).alias("component"),
            F.col("node").alias("_old"),
        ),
        eager=False,
    )
    changed = first.where(F.col("component") != F.col("_old")).count()
    labels = first.select("node", "component")
    if changed == 0:
        return labels
    for _ in range(max_iter):
        # candidate labels: my own + the label of every neighbor.  The self
        # row is TAGGED so the aggregate recovers the old label alongside
        # the new minimum — change detection then reads the aggregate's own
        # output instead of a join back against the previous labels, and the
        # round's single action (the changed count) both materializes the
        # lazily-checkpointed aggregate and decides convergence: ONE Spark
        # job per round instead of three (eager checkpoint + join + count).
        neighbor = (
            edges.join(labels.withColumnRenamed("node", "dst"), on="dst")
            .select(F.col("src").alias("node"), "component")
            # typed to the label column (NOT a hard "long"): for string ids
            # the union's type coercion would otherwise cast every label
            # to bigint and fail on non-numeric ids (r13)
            .withColumn(
                "_self", F.lit(None).cast(labels.schema["component"].dataType)
            )
        )
        mine = labels.withColumn("_self", F.col("component"))
        propagated = (
            neighbor.unionByName(mine)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                # exactly one non-null _self per node (its own labels row)
                F.min("_self").alias("_old"),
            )
        )
        # pointer jumping (path doubling): shortcut each label through its
        # own label.  The self-join's two aggregate reads share one shuffle
        # (ReusedExchange), so the round still costs one pass over labels.
        ptr = propagated.select(
            F.col("node").alias("component"), F.col("component").alias("_jump")
        )
        jumped = policy.checkpoint(
            propagated.join(ptr, on="component", how="left").select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_jump"), F.col("component")),
                ).alias("component"),
                "_old",
            ),
            eager=False,
        )
        # full count (not limit-1): materializes EVERY partition, so the
        # lazy checkpoint is complete and later rounds never recompute
        changed = jumped.where(F.col("component") != F.col("_old")).count()
        labels = jumped.select("node", "component")
        if changed == 0:
            break
    return labels


@memo_expr
def simhash(col: Column | str, bits: int = 48) -> Column:
    """SimHash fingerprint: per-token 48-bit md5 hash, per-bit ±1 votes over
    all tokens (with multiplicity), fingerprint bit j set iff vote > 0.

    vote_j = (+1 per set bit, -1 per clear bit) = 2·count_set_j − n, so bit j
    of the fingerprint is set iff ``2·count_set_j > n`` — pure counting, no
    fold state, mirrored verbatim in the SQL oracle.  The token-hash array is
    let-bound (see :func:`let_`): the 48 bit terms each read it, and an
    un-bound reference would re-run the md5 pass per bit."""
    token_hashes = F.transform(tokens(col), lambda t: token_int(t))
    return let_(token_hashes, lambda ints: simhash_of_ints(ints, F.size(ints), bits))


def simhash_of_ints(ints: Column, n: Column, bits: int = 48) -> Column:
    """SimHash from precomputed token hashes — materialize the hash array in
    its own projection first so the md5 pass runs once per row, not once per
    bit (Catalyst does not CSE across the 48 bit terms)."""

    def bit_term(j: int) -> Column:
        # single-arg lambda only: PySpark binds 2-arg lambdas as (elem, index)
        mask = F.lit(1 << j)
        set_count = F.size(F.filter(ints, lambda h: h.bitwiseAND(mask) != 0))
        return F.when(F.lit(2) * set_count > n, mask.cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    return F.aggregate(
        F.array(*[bit_term(j) for j in range(bits)]),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    chunks: int | None = None,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation uses the pigeonhole band trick: split the
    fingerprint into ``chunks`` bit-ranges covering all ``bits``.  A pair at
    distance d dirties at most d chunks, so with ``max_hamming < chunks``
    at least one chunk is shared exactly and the pair surfaces from the
    (chunk_idx, chunk_value) equi-join — never a cross join, and recall 1.0
    within the distance bound.  ``chunks`` defaults to ``max_hamming + 1``,
    the smallest count with that guarantee; passing fewer raises (a pair at
    distance ≥ chunks can differ in every chunk and be silently dropped).
    Chunk widths are as even as possible and cover every bit, so ``chunks``
    need not divide ``bits``."""
    if chunks is None:
        chunks = max_hamming + 1
    if max_hamming >= chunks:
        raise ValueError(
            f"pigeonhole recall guarantee requires max_hamming < chunks "
            f"(got max_hamming={max_hamming}, chunks={chunks})"
        )
    if chunks > bits:
        raise ValueError(f"chunks={chunks} exceeds fingerprint bits={bits}")
    fp = ensure_min_parallelism(docs).select(F.col(id_col), simhash(text_col, bits).alias("fp"))
    base_w, extra = divmod(bits, chunks)
    chunk_keys, start = [], 0
    for c in range(chunks):
        width = base_w + (1 if c < extra else 0)
        mask = (1 << width) - 1
        chunk_keys.append(
            F.concat_ws(
                "#",
                F.lit(str(c)),
                F.shiftright(F.col("fp"), start).bitwiseAND(F.lit(mask)).cast("string"),
            )
        )
        start += width
    chunked = fp.select(id_col, "fp", F.explode(F.array(*chunk_keys)).alias("chunk_key"))
    a = chunked.alias("a")
    b = chunked.alias("b")
    cands = (
        a.join(b, on="chunk_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def prefix_filter_candidates(
    sets: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """EXACT candidate pairs for Jaccard ≥ ``threshold`` via prefix filtering
    (the AllPairs/PPJoin family — Bayardo et al., WWW'07; public algorithm).

    Unlike MinHash banding this has a zero-false-negative guarantee, so an
    all-pairs oracle stays exact: J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉ (since
    |A∪B| ≥ |A|), and two sets with overlap ≥ α must share an element within
    the first |·| − α + 1 elements under ANY shared total order.  We order
    elements rarest-first (document frequency within the block, ties by
    value) so the prefix posting lists are the SHORT ones — the classic
    inverted-index trick that replaces the within-block all-pairs join.

    100 TB shape: every step is a linear shuffle (freq aggregate, freq join,
    per-doc window for prefix rank, posting-list equi-join, distinct) —
    no step is quadratic in block size, unlike ``a.join(b, block).where(...)``.

    ``block_cols``: optional hard blocking keys (pairs must agree on them);
    the rarest-first order is computed per block, which is consistent for
    every compared pair since pairs never cross blocks.

    Output: ``(*block_cols, id_a, id_b)`` — the block columns are carried
    through so the verify stage can join candidates back to their sets on
    ``[*block_cols, id]``; ids therefore only need to be unique WITHIN a
    block, not globally.
    """
    from pyspark.sql import Window as W

    blocks = list(block_cols)
    base = sets.select(
        *blocks, F.col(id_col), F.col(set_col).alias("_set"), F.size(set_col).alias("_n")
    ).where(F.col("_n") > 0)
    tok = base.select(*blocks, id_col, "_n", F.explode("_set").alias("_tok"))
    # document frequency via a window over the token partition: elements are
    # distinct within a set, so the row count IS the df.  One shuffle of the
    # token table instead of the agg+join formulation's two (freq aggregate
    # plus a second full-width shuffle to join it back on).
    ranked = tok.withColumn(
        "_df", F.count(F.lit(1)).over(W.partitionBy(*blocks, "_tok"))
    )
    w = W.partitionBy(*blocks, id_col).orderBy("_df", "_tok")
    # required overlap α = ⌈t·n⌉; prefix keeps the first n − α + 1 elements.
    # The 1e-9 nudge guards FP error in t·n the SAFE way: it can only LOWER
    # α (longer prefix → extra candidates), never raise it (missed pairs).
    alpha = F.ceil(F.lit(float(threshold)) * F.col("_n") - F.lit(1e-9)).cast("long")
    pref = caches.hold(
        ranked.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= F.col("_n") - alpha + F.lit(1))
        .select(*blocks, id_col, "_n", "_tok")
        # both sides of the posting self-join consume pref; without the
        # persist the whole explode→df-window→rank-window pipeline is
        # planned (and at runtime executed) once per side — AQE's stage
        # reuse does not unify them (measured: 2× the window passes)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = pref.alias("a")
    b = pref.alias("b")
    na, nb = F.col("a._n"), F.col("b._n")
    return (
        a.join(b, on=[*blocks, "_tok"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # length filter: J ≥ t needs min(n_a,n_b) ≥ t·max(n_a,n_b)
        .where(F.least(na, nb) >= F.lit(float(threshold)) * F.greatest(na, nb) - F.lit(1e-9))
        .select(
            *blocks,  # join cols are merged by the list-on equi-join
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# set_similarity_join: a block of at most this many rows takes the direct
# within-block join (≤ cap²/2 pairs); a larger one takes the prefix filter.
_SMALL_BLOCK_CAP = 512
# set_similarity_search: a query side of at most this many set elements in
# total (~tens of MB) is broadcast; a larger one takes the prefix plan.
_BROADCAST_TOKEN_CAP = 2_000_000


def set_similarity_join(
    sets: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    block_cols: tuple[str, ...] = (),
    sim_col: str = "jaccard_sim",
) -> DataFrame:
    """Exact self set-similarity join: all pairs with Jaccard ≥ ``threshold``
    (and equal ``block_cols``), as ``(id_a, id_b, sim)`` with ``id_a < id_b``.

    Identical OUTPUT to the quadratic ``a.join(b, block).where(J ≥ t)``
    formulation at ANY parameters — both execution paths below only prune
    pairs that provably cannot reach the threshold.

    Strategy is size-routed, the AQE-skew-handling idea applied to
    similarity: a tiny (broadcast) per-block row count splits blocks at
    ``_SMALL_BLOCK_CAP`` rows.  Small blocks take the direct within-block
    join — bounded quadratic (≤ cap²/2 pairs per block), cheapest when
    blocks are modest because it needs no posting-list shuffles.  Large blocks — the
    ones where quadratic explodes at 100 TB — go through
    :func:`prefix_filter_candidates` (exact, zero false negatives, linear
    shuffles) plus a verify join.  Either path alone is correct; the router
    exists purely for constant factors."""
    blocks = list(block_cols)
    if not blocks:
        # no user blocking: a constant internal block keeps every join below
        # a non-empty equi-join (PySpark rejects on=[]), and the whole input
        # is one block — exactly the unblocked semantics
        sets = sets.withColumn("_blk", F.lit(1))
        blocks = ["_blk"]
        block_cols = ("_blk",)
    base = caches.hold(
        sets.select(*blocks, F.col(id_col), F.col(set_col).alias("_set"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # empty sets can never reach a positive threshold, and J(∅,∅) is 0/0 —
    # which ANSI mode (Spark 4 default) raises on.  The filter sits ABOVE
    # the persist so it tests the materialized array; below the cache it
    # would be predicate-pushed beneath the parallelizing Exchange and
    # re-evaluate the interpreted set-building expression serially in the
    # scan stage (see minhash_dedup_pairs).
    base = base.where(F.size("_set") > 0)
    t = F.lit(float(threshold))

    sizes = base.groupBy(*blocks).agg(F.count(F.lit(1)).alias("_bn"))
    tagged = base.join(F.broadcast(sizes), on=blocks)
    # small feeds both sides of its self-join; large feeds the candidate
    # pipeline plus both verify sides.  Persisted (disjoint split of base,
    # so combined storage ≈ one more copy of base) because AQE does not
    # reuse the cache-scan→broadcast-join→filter pipeline across those
    # consumers — each was re-planned and re-executed (measured 5×).
    small = caches.hold(
        tagged.where(F.col("_bn") <= _SMALL_BLOCK_CAP)
        .drop("_bn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    large = caches.hold(
        tagged.where(F.col("_bn") > _SMALL_BLOCK_CAP)
        .drop("_bn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # small blocks: direct all-pairs verify (equi-join on block cols)
    a = small.alias("a")
    b = small.alias("b")
    small_out = (
        a.join(b, on=blocks)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard(F.col("a._set"), F.col("b._set")).alias(sim_col),
        )
        .where(F.col(sim_col) >= t)
    )

    # large blocks: prefix-filter candidates + verify join.  The verify
    # joins on [*blocks, id] — ids need only be unique within a block; a
    # join on id alone would cross-match rows from other blocks when ids
    # repeat across blocks.
    cands = prefix_filter_candidates(large, id_col, "_set", threshold, tuple(blocks))
    sa = large.select(*blocks, F.col(id_col).alias("id_a"), F.col("_set").alias("_sa"))
    sb = large.select(*blocks, F.col(id_col).alias("id_b"), F.col("_set").alias("_sb"))
    large_out = (
        cands.join(sa, on=[*blocks, "id_a"])
        .join(sb, on=[*blocks, "id_b"])
        .withColumn(sim_col, jaccard(F.col("_sa"), F.col("_sb")))
        .where(F.col(sim_col) >= t)
        .select("id_a", "id_b", sim_col)
    )
    return small_out.unionByName(large_out)


def set_similarity_search(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    set_col: str,
    block_cols: tuple[str, ...] = (),
    sim_col: str = "jaccard_sim",
) -> DataFrame:
    """Exact R-S set-similarity SEARCH (not self-join): every
    ``(query_id, corpus_id)`` pair with Jaccard ≥ ``threshold`` and equal
    ``block_cols`` — the asymmetric sibling of :func:`set_similarity_join`
    (public algorithm family: prefix-filtered similarity search/join,
    Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06).  Set elements must be
    distinct within each row (the shingle/ngram producers here guarantee it).

    Size-routed like :func:`set_similarity_join`, because the two exact
    plans have opposite sweet spots:

    - ``broadcast`` (small query side — the contamination-check / benchmark-
      decontamination shape): explode the QUERY postings only, broadcast
      them, hash-join the exploded corpus tokens against them (no shuffle —
      most corpus tokens miss and die map-side), then one groupBy on
      ``(pair)`` whose row count IS ``|A∩B|`` exactly (elements are distinct
      per set), so Jaccard falls out arithmetically — no df computation, no
      windows, no verify join.  Corpus-side cost: one scan + one agg shuffle
      of the surviving token matches.  This is the plan that survives a
      100 TB corpus when |Q| is bounded.
    - ``prefix`` (both sides large): two-sided prefix filter under a shared
      rarest-first order — linear shuffles, never |Q|·|C| (details below).

    The route is picked by probing the query side's total token count (one
    cheap job over the small side only): ``broadcast`` iff it is ≤
    ``_BROADCAST_TOKEN_CAP`` (~tens of MB broadcast), else ``prefix``.  Both
    paths prune only pairs that provably cannot reach ``threshold``:
    identical output.

    The two-sided prefix guarantee: under ANY total order shared by both
    sides, a pair with overlap ≥ α shares an element within the first
    ``n − α + 1`` elements of EACH side's sorted set; with
    α = ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|side|⌉ the posting-list equi-join over both
    prefixes misses nothing.  The shared order is rarest-first over the
    UNION of both sides (per block), so hot tokens sort last and the
    posting lists stay short.

    Prefix plan: union + freq agg + per-doc prefix rank + side₀×side₁
    posting equi-join + verify — all linear shuffles, never |Q|·|C|.
    """
    from pyspark.sql import Window as W

    blocks = list(block_cols)
    if not blocks:
        queries = queries.withColumn("_blk", F.lit(1))
        corpus = corpus.withColumn("_blk", F.lit(1))
        blocks = ["_blk"]

    qtoks = queries.select(
        F.coalesce(F.sum(F.size(set_col)), F.lit(0)).alias("n")
    ).first()["n"]
    if qtoks <= _BROADCAST_TOKEN_CAP:
        t = F.lit(float(threshold))
        # Persist the QUERY side only (small by the _BROADCAST_TOKEN_CAP
        # routing; beyond reuse, the cache is a predicate-pushdown barrier
        # for its set expression — see minhash_dedup_pairs).  The CORPUS
        # side is the 100-TB-class input: pinning a corpus-sized cache
        # copy solely as a pushdown barrier is exactly what this code path
        # must not do, so it gets the non-materializing barrier instead —
        # wrapping the set expression in a never-true branch on a
        # non-deterministic expression keeps the inferred size()>0 /
        # isnotnull() filters ABOVE the projection (Catalyst never moves a
        # filter through a non-deterministic projection), so the
        # interpreted set-building lambdas still evaluate exactly once per
        # row in the parallel post-Exchange stage, with zero bytes cached.
        qbase = caches.hold(
            queries.select(
                *blocks, F.col(id_col).alias("query_id"), F.col(set_col).alias("_set")
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        cset_guarded = (
            F.when(F.monotonically_increasing_id() < F.lit(-1), F.lit(None))
            .otherwise(F.col(set_col))
        )
        cbase = corpus.select(
            *blocks, F.col(id_col).alias("corpus_id"), cset_guarded.alias("_set")
        )
        # no explicit empty-set filter: explode() of an empty array emits no
        # rows, so empty sets can never reach the aggregate
        qtok = qbase.select(
            *blocks,
            "query_id",
            F.size("_set").alias("_nq"),
            F.explode("_set").alias("_tok"),
        )
        ctok = cbase.select(
            *blocks,
            "corpus_id",
            F.size("_set").alias("_nc"),
            F.explode("_set").alias("_tok"),
        )
        na, nc = F.col("_nq"), F.col("_nc")
        return (
            ctok.join(F.broadcast(qtok), on=[*blocks, "_tok"])
            # length filter: J ≥ t needs min sizes within ratio t of max
            .where(F.least(na, nc) >= F.lit(float(threshold)) * F.greatest(na, nc) - F.lit(1e-9))
            # pair identity is (block, query_id, corpus_id); _nq/_nc are
            # functionally dependent on the ids, carried for the arithmetic
            .groupBy(*blocks, "query_id", "corpus_id", "_nq", "_nc")
            .agg(F.count(F.lit(1)).alias("_inter"))
            .withColumn(
                sim_col,
                F.col("_inter").cast("double")
                / (na + nc - F.col("_inter")).cast("double"),
            )
            .where(F.col(sim_col) >= t)
            .select("query_id", "corpus_id", sim_col)
        )

    q = queries.select(
        *blocks, F.col(id_col).alias("_qid"), F.col(set_col).alias("_set"),
        F.lit(0).alias("_side"),
    )
    c = corpus.select(
        *blocks, F.col(id_col).alias("_qid"), F.col(set_col).alias("_set"),
        F.lit(1).alias("_side"),
    )
    both = caches.hold(
        q.unionByName(c).withColumn("_n", F.size("_set"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # empty-set filter above the persist: below the cache it would be
    # predicate-pushed beneath the parallelizing Exchange, serially
    # re-evaluating the interpreted set expression (see minhash_dedup_pairs)
    both = both.where(F.col("_n") > 0)

    tok = both.select(*blocks, "_qid", "_side", "_n", F.explode("_set").alias("_tok"))
    # df via window over (block, token) — elements are distinct per set, so
    # row count = document frequency over BOTH sides (the shared total
    # order); saves the agg+join's second full-width shuffle
    ranked = tok.withColumn(
        "_df", F.count(F.lit(1)).over(W.partitionBy(*blocks, "_tok"))
    )
    w = W.partitionBy(*blocks, "_side", "_qid").orderBy("_df", "_tok")
    alpha = F.ceil(F.lit(float(threshold)) * F.col("_n") - F.lit(1e-9)).cast("long")
    pref = caches.hold(
        ranked.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= F.col("_n") - alpha + F.lit(1))
        .select(*blocks, "_qid", "_side", "_n", "_tok")
        # consumed by both posting-join sides (side filters differ, so the
        # shared explode→df-window→rank pipeline would otherwise run twice)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = pref.where(F.col("_side") == 0).alias("a")
    b = pref.where(F.col("_side") == 1).alias("b")
    na, nb = F.col("a._n"), F.col("b._n")
    cands = (
        a.join(b, on=[*blocks, "_tok"])
        .where(F.least(na, nb) >= F.lit(float(threshold)) * F.greatest(na, nb) - F.lit(1e-9))
        .select(
            *blocks,  # carried so verify joins on [*blocks, id] — ids need
            # only be unique within a block, not globally
            F.col("a._qid").alias("query_id"),
            F.col("b._qid").alias("corpus_id"),
        )
        .distinct()
    )
    qs = both.where(F.col("_side") == 0).select(
        *blocks, F.col("_qid").alias("query_id"), F.col("_set").alias("_sa")
    )
    cs = both.where(F.col("_side") == 1).select(
        *blocks, F.col("_qid").alias("corpus_id"), F.col("_set").alias("_sb")
    )
    return (
        cands.join(qs, on=[*blocks, "query_id"])
        .join(cs, on=[*blocks, "corpus_id"])
        .withColumn(sim_col, jaccard(F.col("_sa"), F.col("_sb")))
        .where(F.col(sim_col) >= F.lit(float(threshold)))
        .select("query_id", "corpus_id", sim_col)
    )


def winnow_match_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup / contamination candidates via shared winnowing fingerprints
    (the MOSS matching step over :func:`~ironbeam_spark.functions.text.
    winnow_fingerprints`): pairs of documents sharing ≥ ``min_shared``
    RARE fingerprints, as ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    ``max_df`` is the discriminativeness cap (MOSS's noise-suppression
    idea): a fingerprint occurring in more than ``max_df`` documents is
    boilerplate, carries no match signal, and — crucially for 100 TB — is
    exactly the posting list whose self-join would explode quadratically.
    With the cap, pair generation is bounded by ``max_df²/2`` per
    fingerprint, linear overall.  Document frequency comes from one window
    over the fingerprint partition (fingerprints are distinct per doc, so
    the row count IS the df — the same one-shuffle trick as
    :func:`prefix_filter_candidates`)."""
    from pyspark.sql import Window as W

    from ironbeam_spark.functions.text import winnow_fingerprints

    fps = docs.select(
        F.col(id_col), F.explode(winnow_fingerprints(text_col, k, w)).alias("fp")
    )
    ranked = fps.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("fp")))
    # persisted: both self-join sides consume the rare-fingerprint postings
    # (pushdown barrier + single evaluation, see prefix_filter_candidates)
    rare = caches.hold(
        ranked.where(F.col("_df") <= max_df)
        .select(id_col, "fp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(b, on="fp")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
