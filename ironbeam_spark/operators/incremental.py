"""Incremental (delta) near-duplicate detection against a persisted corpus
index — the production dedup shape for a continuously-ingested corpus.

Batch dedup (:func:`~ironbeam_spark.operators.dedup.minhash_dedup_pairs`)
re-shingles and re-joins the WHOLE corpus every run: at 100 TB that is a
full-corpus shuffle to admit a 0.1 TB crawl delta.  The incremental shape
amortizes it:

1. **Index build, once per corpus version** (:func:`minhash_index`): the
   corpus's MinHash *band-signature postings* ``(id, band_key)`` — a plain
   DataFrame, written as parquet partitioned however the warehouse likes.
   It is ~``bands`` rows per document of a few dozen bytes: thousands of
   times smaller than the corpus text.
2. **Per-delta dedup** (:func:`minhash_dedup_incremental`): shingle and
   sign ONLY the new batch, equi-join its band keys against the index
   (new-vs-corpus candidates) and against itself (new-vs-new candidates),
   then verify candidates with exact Jaccard.  Corpus text is touched only
   for the candidate docs — a LEFT SEMI prune runs before re-shingling, so
   the full-corpus scan reads just the id/text of docs that actually
   collided.
3. Survivors' band keys are appended to the index (it is just a DataFrame
   union + parquet append), keeping the next delta's join warm.

Everything is an equi-join on ``band_key`` or an aggregate on the new-doc
id — no full-corpus shuffle, no cross product; hot band buckets are the
same bounded LSH buckets as the batch path.

Classification contract (deterministic, exact-oracle-able):

- ``dup_of_corpus``: the new doc verifies (Jaccard >= threshold) against at
  least one indexed doc; ``dup_of`` = the MINIMUM such corpus id,
  ``jaccard_sim`` = that pair's similarity.  Corpus matches take priority
  over batch matches (the corpus copy is the canonical survivor).
- ``dup_in_batch``: no corpus match, but the doc verifies against a batch
  doc with a SMALLER id (keep-first-by-id within the delta, the same
  min-winner contract as ``dedup_exact``); ``dup_of`` = the minimum such
  batch id.  Note this is the greedy by-id rule, NOT transitive grouping —
  a chain a~b~c (a<b<c, a!~c) marks b dup-of-a and c dup-of-b; route pairs
  through :func:`~ironbeam_spark.operators.dedup.dedup_components` when
  group semantics are needed.
- ``unique``: neither (including docs too short to shingle); ``dup_of`` and
  ``jaccard_sim`` are NULL.

No reference analogue (the reference's only dedup is exact ``distinct``,
``src/helpers/distinct.rs``); this extends the north-star dedup family with
the index/delta lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ironbeam_spark import caches
from ironbeam_spark.operators.dedup import (
    MINHASH_FAMILY,
    guard_band_buckets,
    hashed_word_shingles,
    jaccard,
    minhash_band_keys,
    minhash_signature_from_ints,
)
from ironbeam_spark.scale import ensure_min_parallelism

__all__ = [
    "check_index_family",
    "write_minhash_index_table",
    "minhash_index",
    "minhash_verify_table",
    "minhash_dedup_incremental",
    "minhash_index_admit",
]


def _shingled(docs: DataFrame, id_col: str, text_col: str, shingle_words: int) -> DataFrame:
    """(id, shingles) for docs with at least one shingle — docs shorter than
    ``shingle_words`` tokens carry no signal and classify as ``unique``.

    The short-doc predicate tests the TOKEN count, not
    ``size(shingles) > 0`` (equivalent: a doc has >= 1 n-gram shingle iff
    it has >= n tokens): Catalyst pushes the filter below the projection,
    and a predicate built on the shingle expression would re-run the whole
    interpreted shingle+md5 chain once for the filter and once for the
    projection on every surviving row — the pushdown anti-pattern
    documented at the ``minhash_dedup_pairs`` persist."""
    from ironbeam_spark.functions.text import tokens

    return docs.where(F.size(tokens(text_col)) >= shingle_words).select(
        F.col(id_col),
        hashed_word_shingles(text_col, shingle_words).alias("shingles"),
    )


def minhash_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Corpus fingerprint index: band-signature postings ``(id, band_key)``,
    ``bands`` rows per shingleable doc.  Pure projection + explode — one
    linear pass, no shuffle — so building it rides along with any corpus
    write.  Persist as parquet; the delta join reads it back as a plain
    DataFrame (parquet bloom filters / bucketing on ``band_key`` compose in
    the usual way).  Hash parameters must match the delta side exactly —
    pass the same ``shingle_words`` / ``k`` / ``bands`` to
    :func:`minhash_dedup_incremental`.

    Every posting row carries ``mh_family``, a content-derived id of the
    hash-family constants (RLE-compressed to ~nothing in parquet).  Index
    consumers verify it against the running engine's family and fail
    loudly on mismatch — a persisted index built under different constants
    (e.g. any pre-r10 index after the family repair) would otherwise join
    fresh signatures with near-zero recall and NO error (r10 ADVICE)."""
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    base = _shingled(docs, id_col, text_col, shingle_words)
    signed = base.select(
        F.col(id_col), minhash_signature_from_ints(F.col("shingles"), k).alias("sig")
    )
    return minhash_band_keys(signed, id_col, "sig", bands, k // bands).withColumn(
        "mh_family", F.lit(MINHASH_FAMILY)
    )


def write_minhash_index_table(
    index: DataFrame, table: str, buckets: int, mode: str = "overwrite"
) -> None:
    """Persist a :func:`minhash_index` as a catalog table BUCKETED (and
    sorted) on ``band_key`` — the write-side layout that makes every later
    delta run cheaper, as the module docstring promises:

    - the delta-vs-index candidate join needs both sides hash-partitioned
      on ``band_key``; a bucketed scan already IS ``HashPartitioning(
      band_key, buckets)``, so the index side joins with ZERO exchange —
      only the (small) delta shuffles;
    - the hot-bucket guard's window count requires the same clustering, so
      with a bucketed index even ``max_band_bucket`` adds no index-side
      shuffle (pinned by the plan test in tests/test_incremental_dedup.py);
    - in-bucket sorting gives sort-free sort-merge joins and parquet
      row-group locality for ``band_key`` point lookups.

    At 100 TB the index is `bands` rows per corpus doc — re-shuffling it
    per delta is the dominant incremental cost this write amortizes away.
    Read back with ``spark.sparkSession.table(table)``; pick ``buckets``
    so one bucket's postings fit an executor core (e.g. corpus_docs ×
    bands / buckets ≈ 10-50M rows).  Appending a new delta's postings
    keeps the layout: ``write_minhash_index_table(new_postings, table,
    buckets, mode="append")`` (Spark enforces matching bucketing specs on
    append)."""
    from ironbeam_spark.sources.bucketing import write_bucketed

    if "mh_family" not in index.columns:
        raise ValueError(
            "write_minhash_index_table: index has no mh_family stamp — "
            "build it with minhash_index()"
        )
    write_bucketed(index, table, ["band_key"], buckets,
                   sort_by=["band_key"], mode=mode)


def check_index_family(index: DataFrame, what: str = "minhash index") -> DataFrame:
    """Guard a persisted band-posting index against hash-family drift.

    Missing ``mh_family`` column → immediate ValueError (the index predates
    stamping, or was built by other code: rebuild with
    :func:`minhash_index`).  Present column → a zero-extra-job mid-scan
    check (same pattern as ``guard_band_buckets``): any row stamped with a
    different family raises inside the task, so a stale index can never
    silently deliver near-zero recall.  Returns the index with the stamp
    column dropped — downstream joins never see it."""
    if "mh_family" not in index.columns:
        raise ValueError(
            f"{what}: no mh_family column — this index predates hash-family "
            "stamping (or was not built by minhash_index) and cannot be "
            f"verified against the running family {MINHASH_FAMILY!r}; "
            "rebuild it with minhash_index()"
        )
    return index.where(
        F.when(F.col("mh_family") == F.lit(MINHASH_FAMILY), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{what}: stale hash family — index stamped "),
                    F.col("mh_family"),
                    F.lit(
                        f" but the running engine is {MINHASH_FAMILY}; "
                        "rebuild the index with minhash_index()"
                    ),
                )
            )
        )
    ).drop("mh_family")


def minhash_verify_table(
    docs: DataFrame, id_col: str, text_col: str, shingle_words: int = 3
) -> DataFrame:
    """Companion verify table ``(id, shingles)`` for the corpus, persisted
    alongside :func:`minhash_index`.  The batch path re-shingles candidate
    corpus docs on demand (it has the corpus text at hand); a STREAMING
    delta cannot semi-prune a static table by stream content per
    micro-batch, so
    :func:`~ironbeam_spark.streaming.dedup.stream_dedup_against_index`
    joins candidates against this precomputed table instead — build it once
    per corpus version, same ``shingle_words`` as the index."""
    return _shingled(docs, id_col, text_col, shingle_words)


def minhash_dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Classify every row of ``new_docs`` against a corpus fingerprint
    ``index`` (from :func:`minhash_index`, same hash parameters) plus the
    batch itself.  Returns one row per new doc:
    ``(id_col, status string, dup_of long?, jaccard_sim double?)`` — see the
    module docstring for the contract.

    ``corpus_docs`` supplies ``(id, text)`` for exact-Jaccard verification;
    only docs named by a band collision are re-shingled (LEFT SEMI prune
    first), so its scan cost is proportional to the candidate set, not the
    corpus.  Ids must be unique within the union of corpus and batch.

    ``max_band_bucket`` opts into the
    :func:`~ironbeam_spark.operators.dedup.guard_band_buckets` fail-fast
    bound on BOTH posting sides — per-bucket candidate volume is
    |delta bucket| x |index bucket|, so bounding each side bounds the
    product.
    """
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    rows_per_band = k // bands
    index = check_index_family(index, "minhash_dedup_incremental")

    # the delta's shingle table feeds FOUR subtrees (signature pass, its own
    # verify side twice — vs-corpus and vs-batch — and the vs-batch "first"
    # side): persist once instead of re-running the interpreted shingle
    # expression per subtree, same rationale as minhash_dedup_pairs.
    # Parallelism is raised on the RAW docs so the parallelizing exchange
    # sits BELOW the interpreted shingle projection — a single-file delta
    # must not shingle on one core (the measured ordering from
    # minhash_dedup_pairs).
    new_base = caches.hold(
        _shingled(ensure_min_parallelism(new_docs), id_col, text_col, shingle_words)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    signed = new_base.select(
        F.col(id_col), minhash_signature_from_ints(F.col("shingles"), k).alias("sig")
    )
    new_keys = minhash_band_keys(signed, id_col, "sig", bands, rows_per_band)
    if max_band_bucket is not None:
        new_keys = guard_band_buckets(new_keys, max_band_bucket, "delta postings")
        index = guard_band_buckets(index, max_band_bucket, "index postings")

    # -- candidates ---------------------------------------------------------
    # new-vs-corpus: equi-join the delta's postings against the index
    # read twice (the semi-prune of corpus_docs AND the verify join) — persist
    # so the delta-vs-index band join runs once, not per subtree; candidate
    # volume is the LSH-bounded pair set, orders smaller than either input
    cand_corpus = caches.hold(
        new_keys.withColumnRenamed(id_col, "_new_id")
        .join(index.withColumnRenamed(id_col, "_old_id"), on="band_key")
        .select("_new_id", "_old_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # new-vs-new: self-join within the delta, keep-first orientation
    a = new_keys.withColumnRenamed(id_col, "_first_id").alias("a")
    b = new_keys.withColumnRenamed(id_col, "_new_id").alias("b")
    cand_batch = (
        a.join(b, on="band_key")
        .where(F.col("_first_id") < F.col("_new_id"))
        .select("_new_id", "_first_id")
        .distinct()
    )

    # -- exact verification --------------------------------------------------
    new_sh = new_base.select(F.col(id_col).alias("_new_id"), F.col("shingles").alias("_sh_new"))

    # corpus text is scanned only for docs that collided: semi-prune, then
    # re-shingle just those (at 100 TB this is the step that keeps the delta
    # run proportional to the delta, not the corpus)
    cand_old_ids = cand_corpus.select(F.col("_old_id").alias(id_col)).distinct()
    old_sh = _shingled(
        corpus_docs.join(cand_old_ids, on=id_col, how="left_semi"),
        id_col,
        text_col,
        shingle_words,
    ).select(F.col(id_col).alias("_old_id"), F.col("shingles").alias("_sh_old"))

    corpus_match = (
        cand_corpus.join(new_sh, on="_new_id")
        .join(old_sh, on="_old_id")
        .withColumn("_j", jaccard(F.col("_sh_new"), F.col("_sh_old")))
        .where(F.col("_j") >= threshold)
        .groupBy("_new_id")
        .agg(
            F.min("_old_id").alias("_c_dup_of"),
            F.min_by("_j", "_old_id").alias("_c_jac"),
        )
    )

    first_sh = new_base.select(F.col(id_col).alias("_first_id"), F.col("shingles").alias("_sh_first"))
    batch_match = (
        cand_batch.join(new_sh, on="_new_id")
        .join(first_sh, on="_first_id")
        .withColumn("_j", jaccard(F.col("_sh_new"), F.col("_sh_first")))
        .where(F.col("_j") >= threshold)
        .groupBy("_new_id")
        .agg(
            F.min("_first_id").alias("_b_dup_of"),
            F.min_by("_j", "_first_id").alias("_b_jac"),
        )
    )

    # -- classification ------------------------------------------------------
    all_new = new_docs.select(F.col(id_col).alias("_new_id"))
    return (
        all_new.join(corpus_match, on="_new_id", how="left")
        .join(batch_match, on="_new_id", how="left")
        .select(
            F.col("_new_id").alias(id_col),
            F.when(F.col("_c_dup_of").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("_b_dup_of").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce(F.col("_c_dup_of"), F.col("_b_dup_of")).alias("dup_of"),
            F.when(F.col("_c_dup_of").isNotNull(), F.col("_c_jac"))
            .otherwise(F.col("_b_jac"))
            .alias("jaccard_sim"),
        )
    )


def minhash_index_admit(
    index: DataFrame,
    new_docs: DataFrame,
    classification: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    k: int = 8,
    bands: int = 4,
    admit: str = "all",
) -> DataFrame:
    """Next corpus-index version: ``index`` plus the band postings of the
    delta docs selected by the ``admit`` policy.

    ``admit="all"`` (DEFAULT — the production choice for continuous
    ingestion, decided on an r11 measurement): every shingleable delta doc
    is indexed, duplicate or not — full chain recall (a future near-dup of
    ANY delta doc collides with its postings) at the cost of dup groups
    accumulating one posting set per member.  Measured on the real sf0.01
    corpus with a 300-doc chain-heavy delta: admit="unique" permanently
    missed 8.7% of the next delta's chain-tail near-dups (recall 0.913 vs
    1.0) while saving only 612 posting rows — index growth is
    delta-proportional (``bands`` rows/doc) under EITHER policy, so the
    bytes saved never justify a silent, permanent recall hole.  The
    quadratic hazard of dup groups growing their own band bucket is the
    hot-bucket problem the suite-default ``max_band_bucket`` guard already
    bounds — keep it on in the classifier.

    ``admit="unique"``: only docs with ``status == 'unique'`` in
    ``classification`` (the output of :func:`minhash_dedup_incremental` for
    the same delta) are indexed.  Duplicates are NOT — indexing both sides
    of a near-dup pair would double every future candidate hit on the
    group.  KNOWN RECALL GAP (greedy chains): for a within-delta chain
    a~b~c with a < b < c and a NOT~ c, classification assigns both b and c
    ``dup_in_batch`` (b's dup_of=a, c's dup_of=b), so NEITHER b nor c is
    admitted even though c's content is not represented by a — a future
    delta doc near-duplicating only c is admitted as unique, permanently.
    This is the standard greedy-transitive-closure trade-off (the batch
    path makes the same choice).  Admitting a component REPRESENTATIVE
    would not help — the a~b~c component's min-id representative is a,
    which still leaves c's content unindexed.  Choose this policy only
    when index size is the binding constraint AND the corpus is known
    chain-free (e.g. exact-dup-dominated ingestion).
    ``classification`` is ignored in this mode (pass the same frame; the
    signature stays uniform across the per-delta loop).

    Hash parameters must match the existing index.

    Plain union — in production, write just the new postings
    (``minhash_index(admitted, ...)``) as a parquet APPEND to the index
    path instead of rewriting it; this helper is the in-memory spelling of
    the same step, closing the per-delta loop:
    classify → admit survivors → next delta joins the grown index.
    """
    if admit not in ("unique", "all"):
        raise ValueError(
            f"minhash_index_admit: admit must be 'unique' or 'all', got {admit!r}"
        )
    if admit == "all":
        admitted = new_docs
    else:
        admitted = new_docs.join(
            classification.where(F.col("status") == "unique").select(id_col),
            on=id_col,
            how="left_semi",
        )
    # Full family check (not just column presence): a stale-family index
    # admitted here would silently union mixed-family postings and only be
    # caught later by a reader's check_index_family — fail loudly at admit
    # time instead, matching the contract everywhere else.  The guard is
    # the usual zero-extra-job mid-scan raise; the stamp is re-applied so
    # the returned index stays a valid stamped index.
    checked = check_index_family(index, "minhash_index_admit").withColumn(
        "mh_family", F.lit(MINHASH_FAMILY)
    )
    return checked.unionByName(
        minhash_index(admitted, id_col, text_col, shingle_words, k, bands)
    )
