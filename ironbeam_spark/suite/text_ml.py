"""LLM training-data pipeline queries: text analysis, dedup (exact / MinHash-
LSH / SimHash / n-gram Jaccard / embedding cosine), similarity search
(brute-force + LSH ANN).  North-star extensions beyond the reference surface
(BASELINE.json).

Every query has an exact DuckDB oracle: all hashes are md5-based, all set ops
use sorted distinct arrays, all FP values are single-division / fixed-fold
expressions (see the parity notes in operators/dedup.py, functions/vectors.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironbeam_spark.functions.text import (
    BPE_ISH_PATTERN,
    STOPWORDS,
    bpe_ish_token_count,
    lang_id,
    md5_fingerprint,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from ironbeam_spark.operators.dedup import (
    MINHASH_COEFFS as _MINHASH_COEFFS,
    RECOMMENDED_MAX_BAND_BUCKET,
    char_ngrams,
    dedup_exact,
    jaccard,
    minhash_dedup_pairs,
)
from ironbeam_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from ironbeam_spark.sources.io import read_table_stream
from ironbeam_spark.streaming import run_to_memory
from ironbeam_spark.suite.registry import _t, query

_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"
_TI_SQL = "('0x'||substr(md5({0}),1,12))::BIGINT"


# ---------------------------------------------------------------- text stats


@query(
    "q_text_stats",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
           (length(text) - len({_TOKS_SQL}) + 1)::DOUBLE / len({_TOKS_SQL})::DOUBLE AS mean_word_len
    FROM documents
    ORDER BY doc_id
    """,
    bench=True,
    doc="token counting: whitespace + BPE-ish regex pre-tokenizer (north-star text analysis)",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").df
    n_tok = token_count("text")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        ((F.length("text") - n_tok + 1).cast("double") / n_tok.cast("double")).alias(
            "mean_word_len"
        ),
    ).orderBy("doc_id")


def _lang_scores_sql() -> dict[str, str]:
    return {
        lang: f"len(list_filter({_TOKS_SQL}, t -> list_contains({list(words)}, t)))"
        for lang, words in STOPWORDS.items()
    }


def _lang_case_sql() -> str:
    s = _lang_scores_sql()
    langs = list(STOPWORDS)
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"{s[lang]} > 0"] + [
            f"{s[lang]} >= {s[other]}" for other in langs[i + 1 :]
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


@query(
    "q_lang_id",
    f"""
    SELECT {_lang_case_sql()} AS lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY lang_pred
    ORDER BY lang_pred
    """,
    doc="language-ID heuristic: per-language stopword argmax with fixed priority (north-star text analysis)",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").df
    return (
        docs.select(lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


@query(
    "q_quality_score",
    """
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) BETWEEN 10 AND 100000
                  THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - len(list_filter(string_split(text, ' '), x -> x <> '')) + 1)::DOUBLE
                         / len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE BETWEEN 2.0 AND 12.0
                    THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                         / length(text)::DOUBLE <= 0.2
                    THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS quality
      FROM documents
    )
    SELECT quality, CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY quality ORDER BY quality
    """,
    doc="quality scoring: banded length/word-shape/punctuation heuristic (north-star text analysis)",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").df
    return (
        docs.select(quality_score("text").alias("quality"))
        .groupBy("quality")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("quality")
    )


@query(
    "q_fingerprints",
    f"""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_md5,
           list_reduce(list_prepend(0::BIGINT,
               list_transform({_TOKS_SQL}, x -> {_TI_SQL.format('x')})),
               (acc, x) -> (acc*31 + x) % 1000000007) AS rolling_fp
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="document fingerprinting: content md5 + polynomial rolling hash over tokens (north-star text analysis)",
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        md5_fingerprint("text").alias("content_md5"),
        rolling_fingerprint("text").alias("rolling_fp"),
    ).orderBy("doc_id")


@query(
    "q_winnow_fingerprints",
    f"""
    WITH h AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 8 THEN
               list_transform(generate_series(1, length(text)-7),
                              i -> {_TI_SQL.format("substr(text, i, 8)")})
             ELSE CAST([] AS BIGINT[]) END AS hs
      FROM documents WHERE doc_id < 300)
    SELECT doc_id,
           coalesce(array_to_string(
             CASE WHEN len(hs) >= 4 THEN
               list_sort(list_distinct(list_transform(
                 generate_series(1, len(hs)-3), j -> list_min(hs[j:j+3]))))
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE CAST([] AS BIGINT[]) END, '|'), '') AS winnow_fp
    FROM h
    ORDER BY doc_id
    """,
    doc="winnowing fingerprints (Schleimer et al. SIGMOD'03, the MOSS algorithm): md5-hash every char-8-gram, keep each 4-window's minimum, distinct — a content-defined ~2/(w+1) sample per document with the guaranteed-detection property for shared substrings >= w+k-1 chars; all-expression, no shuffle, oracle mirrors the md5/slice/min arithmetic exactly; fingerprint list '|'-joined for the driver's scalar value-hash (DuckDB array_to_string is NULL on [], hence the coalesce; the array form stays under pytest, test_text_fns.py)",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 300)
    return docs.select(
        "doc_id",
        F.array_join(
            winnow_fingerprints("text", k=8, w=4).cast("array<string>"), "|"
        ).alias("winnow_fp"),
    ).orderBy("doc_id")


# -------------------------------------------------------------------- dedup


@query(
    "q_dedup_exact",
    """
    SELECT user_id, event_type,
           min(event_id) AS first_event_id,
           arg_min(value, event_id) AS first_value,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    doc="exact dedup with deterministic min-winner (north-star dedup; ref has only distinct, src/helpers/distinct.rs:69)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").df
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_dups"))
    deduped = dedup_exact(
        ev.select("user_id", "event_type", "event_id", "value"),
        ["user_id", "event_type"],
        "event_id",
    ).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.col("value").alias("first_value"),
    )
    return deduped.join(counts, on=["user_id", "event_type"]).orderBy(
        "user_id", "event_type"
    )


_SHINGLE_MOD = 10**17 + 3

# The minhash affine family's (a_i, b_i) constants — the SAME literals the
# engine uses (single source of truth: operators/dedup.MINHASH_COEFFS), and
# the same exact-int64 evaluation over M31 = 2^31−1 with the base hash
# truncated to its low 31 bits (see the MINHASH_COEFFS comment for the
# derivation and overflow bounds; the SQL below is that arithmetic spelled
# in DuckDB BIGINT ops, independently written against the documented
# formula).
_MH_P = (1 << 31) - 1
_COEFFS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MINHASH_COEFFS[:8])
)
_MH_HASH_SQL = f"((ca * (s & {_MH_P})) + cb) % {_MH_P}"

# CTE chain shared by q_dedup_minhash and q_dedup_groups (recursive components)
_MINHASH_CTES = f"""coeffs(i, ca, cb) AS (VALUES {_COEFFS_SQL}),
    toksrc AS (SELECT doc_id,
                      list_transform({_TOKS_SQL}, t -> {_TI_SQL.format('t')}) AS tis
                    FROM documents),
    base0 AS (SELECT doc_id, list_sort(list_distinct(list_transform(
                 generate_series(1, greatest(len(tis)-2, 0)),
                 i -> ((tis[i]*31 + tis[i+1]) % {_SHINGLE_MOD} * 31 + tis[i+2])
                      % {_SHINGLE_MOD}))) AS shingles
              FROM toksrc),
    base AS (SELECT * FROM base0 WHERE len(shingles) > 0),
    sigs AS (SELECT doc_id, i, min({_MH_HASH_SQL}) AS sig
             FROM base, unnest(base.shingles) AS u(s), coeffs
             GROUP BY doc_id, i),
    bands AS (SELECT doc_id, (i//2) AS band, string_agg(sig::VARCHAR, '_' ORDER BY i) AS band_sig
              FROM sigs GROUP BY doc_id, (i//2)),
    cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE AS jaccard_sim
      FROM cands JOIN base sa ON sa.doc_id = id_a JOIN base sb ON sb.doc_id = id_b
      WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE >= 0.5)"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT id_a, id_b, jaccard_sim FROM pairs ORDER BY id_a, id_b
"""

# Connected components of the near-dup ``pairs`` CTE: recursive reachability
# with the min-id canonical label — the single SQL definition shared by the
# q_dedup_groups / q_corpus_clean / q_leakage_safe_split oracles (a fix to
# the reachability algebra must land in all three at once).
_COMPONENT_CTES = """e AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM e),
    r(n, m) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.n, e.b FROM r JOIN e ON r.m = e.a
    ),
    comp AS (SELECT n AS node, min(m) AS component FROM r GROUP BY n)"""


@query(
    "q_dedup_minhash",
    _MINHASH_ORACLE,
    bench=True,
    doc="MinHash-LSH near-dup: 3-word shingles, 8 hashes, 4 bands, Jaccard>=0.5 verify (north-star dedup)",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").df
    return minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    ).orderBy("id_a", "id_b")


@query(
    "q_dedup_groups",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    {_COMPONENT_CTES}
    SELECT CAST(component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS group_size,
           array_to_string(list_sort(list(CAST(node AS BIGINT))), '|') AS members
    FROM comp GROUP BY component ORDER BY component
    """,
    doc="duplicate groups: near-dup pairs → connected components via iterative min-label propagation (one shuffle/round, localCheckpoint lineage truncation); oracle = recursive-CTE reachability",
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import dedup_components

    docs = _t(spark, sf_dir, "documents").df
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    labels = dedup_components(pairs)
    return (
        labels.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("node")), lambda x: x.cast("string")),
                "|",
            ).alias("members"),
        )
        .orderBy("component")
    )


@query(
    "q_dedup_incremental",
    f"""
    WITH {_MINHASH_CTES},
    newd AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
    cross_pairs AS (
      SELECT CASE WHEN id_a % 3 = 1 THEN id_a ELSE id_b END AS n,
             CASE WHEN id_a % 3 = 1 THEN id_b ELSE id_a END AS o,
             jaccard_sim AS j
      FROM pairs WHERE (id_a % 3 = 1) <> (id_b % 3 = 1)),
    cm AS (SELECT n AS doc_id, min(o) AS dup_of, arg_min(j, o) AS jac
           FROM cross_pairs GROUP BY n),
    bm AS (SELECT id_b AS doc_id, min(id_a) AS dup_of,
                  arg_min(jaccard_sim, id_a) AS jac
           FROM pairs WHERE id_a % 3 = 1 AND id_b % 3 = 1 GROUP BY id_b)
    SELECT nd.doc_id,
           CASE WHEN cm.dup_of IS NOT NULL THEN 'dup_of_corpus'
                WHEN bm.dup_of IS NOT NULL THEN 'dup_in_batch'
                ELSE 'unique' END AS status,
           coalesce(cm.dup_of, bm.dup_of) AS dup_of,
           CASE WHEN cm.dup_of IS NOT NULL THEN cm.jac ELSE bm.jac END AS jaccard_sim
    FROM newd nd LEFT JOIN cm ON cm.doc_id = nd.doc_id
                 LEFT JOIN bm ON bm.doc_id = nd.doc_id
    ORDER BY nd.doc_id
    """,
    bench=True,
    doc="incremental dedup of a delta batch (doc_id%3=1) against a corpus fingerprint index: band-posting equi-joins (delta-vs-index + delta self), exact-Jaccard verify on semi-pruned candidates only, corpus-priority min-id winner; oracle = the shared minhash CTE chain classified by batch membership",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.incremental import (
        minhash_dedup_incremental,
        minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").df
    corpus = docs.where(F.col("doc_id") % 3 != 1)
    batch = docs.where(F.col("doc_id") % 3 == 1)
    idx = minhash_index(corpus, "doc_id", "text", shingle_words=3, k=8, bands=4)
    return minhash_dedup_incremental(
        batch, idx, corpus, "doc_id", "text",
        shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    ).orderBy("doc_id")


@query(
    "q_stream_dedup_index",
    f"""
    WITH {_MINHASH_CTES},
    newd AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
    cross_pairs AS (
      SELECT CASE WHEN id_a % 3 = 1 THEN id_a ELSE id_b END AS n,
             CASE WHEN id_a % 3 = 1 THEN id_b ELSE id_a END AS o,
             jaccard_sim AS j
      FROM pairs WHERE (id_a % 3 = 1) <> (id_b % 3 = 1)),
    cm AS (SELECT n AS doc_id, min(o) AS dup_of, arg_min(j, o) AS jac
           FROM cross_pairs GROUP BY n)
    SELECT nd.doc_id,
           CASE WHEN cm.dup_of IS NOT NULL THEN 'dup_of_corpus'
                ELSE 'unique' END AS status,
           cm.dup_of AS dup_of,
           cm.jac AS jaccard_sim
    FROM newd nd LEFT JOIN cm ON cm.doc_id = nd.doc_id
    ORDER BY nd.doc_id
    """,
    doc="ingestion-time near-dup admission check: a STREAM of delta docs (doc_id%3=1) classified against the static corpus fingerprint index + verify table via stream-static band-key equi-joins and exact-Jaccard verify; new-vs-new pairs are out of stream contract (composed with stream_distinct upstream), so the oracle is the cross-pair branch of the shared minhash CTE chain",
)
def q_stream_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.incremental import (
        minhash_index,
        minhash_verify_table,
    )
    from ironbeam_spark.streaming.dedup import stream_dedup_against_index

    static = _t(spark, sf_dir, "documents").df
    corpus = static.where(F.col("doc_id") % 3 != 1)
    idx = minhash_index(corpus, "doc_id", "text", shingle_words=3, k=8, bands=4)
    ver = minhash_verify_table(corpus, "doc_id", "text", shingle_words=3)
    sdf = (
        read_table_stream(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text")
    )
    matches = stream_dedup_against_index(
        sdf, idx, ver, "doc_id", "text",
        shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    found = run_to_memory(matches, "q_stream_dedup_index_sink", "complete")
    batch_ids = static.where(F.col("doc_id") % 3 == 1).select("doc_id")
    return (
        batch_ids.join(found, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), F.lit("dup_of_corpus"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            "dup_of",
            "jaccard_sim",
        )
        .orderBy("doc_id")
    )


@query(
    "q_contrastive_pairs",
    f"""
    WITH {_MINHASH_CTES},
    pool AS (SELECT list(doc_id ORDER BY md5(concat('7', '|', CAST(doc_id AS VARCHAR))), doc_id) AS pl
             FROM (SELECT doc_id FROM documents
                   ORDER BY md5(concat('7', '|', CAST(doc_id AS VARCHAR))), doc_id
                   LIMIT 22)),
    excl AS (SELECT a, list(b) AS ex FROM (
               SELECT id_a AS a, id_b AS b FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs) GROUP BY a)
    SELECT id_a AS anchor, id_b AS positive,
           coalesce(array_to_string(list_slice(list_filter((SELECT pl FROM pool),
             c -> c <> id_a AND NOT list_contains(coalesce(e.ex, CAST([] AS BIGINT[])), c)),
             1, 5), '|'), '') AS negatives
    FROM pairs LEFT JOIN excl e ON e.a = id_a
    ORDER BY anchor, positive
    """,
    doc="contrastive training triples (north-star training-data gen): anchor/positive from the minhash near-dup miner, up to 5 seeded negatives from a SHARED 22-id priority pool (in-batch-negatives contract — one global seeded sort + per-anchor array filter against its dup-partner set; linear, no per-anchor corpus join); oracle = same pool/exclusion algebra in list form (array_to_string coalesced to '' — DuckDB yields NULL on an empty list where Spark array_join yields '', the q_winnow_fingerprints pitfall)",
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sampling import contrastive_negatives

    docs = _t(spark, sf_dir, "documents").df
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    out = contrastive_negatives(
        docs.select("doc_id"), pairs, "doc_id", k=5, seed=7, pool_margin=16
    )
    return out.select(
        "anchor",
        "positive",
        F.array_join(F.transform("negatives", lambda x: x.cast("string")), "|").alias(
            "negatives"
        ),
    ).orderBy("anchor", "positive")


@query(
    "q_leakage_safe_split",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    {_COMPONENT_CTES},
    g AS (SELECT d.doc_id,
                 CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS group_key
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
    SELECT doc_id, group_key,
           CASE WHEN ('0x' || substr(md5('31|' || group_key::VARCHAR), 1, 12))::BIGINT
                     < CAST(floor(0.8 * 281474976710656) AS BIGINT) THEN 'train'
                WHEN ('0x' || substr(md5('31|' || group_key::VARCHAR), 1, 12))::BIGINT
                     < CAST(floor(0.9 * 281474976710656) AS BIGINT) THEN 'val'
                ELSE 'test' END AS split
    FROM g
    ORDER BY doc_id
    """,
    bench=True,
    doc="leakage-safe train/val/test split (north-star eval-contamination guard): near-dup GROUPS (minhash pairs -> connected components, min-id label; singletons = own id) are co-assigned by md5-bucketing the GROUP key, so no eval doc has a near-copy in train; oracle = recursive-CTE reachability + identical hash arithmetic, per-doc assignment verified",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents").df
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    out = leakage_safe_split(
        docs.select("doc_id"), pairs, "doc_id", seed=31, train=0.8, val=0.1
    )
    return out.select("doc_id", "group_key", "split").orderBy("doc_id")


@query(
    "q_dedup_ngram",
    """
    WITH g AS (SELECT doc_id, lang, source,
                 list_sort(list_distinct(list_transform(
                   generate_series(1, greatest(length(text)-3, 0)),
                   i -> substr(text, i, 4)))) AS grams
               FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.grams, b.grams))::DOUBLE
             / len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE AS jaccard_sim
    FROM g a JOIN g b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
            / len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE >= 0.4
    ORDER BY id_a, id_b
    """,
    doc="char-4-gram Jaccard near-dup within (lang, source) blocking buckets (north-star dedup)",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale-safe shape: EXACT prefix-filter candidates (rarest-first inverted
    # index) + verify — identical output to the oracle's all-pairs join, but
    # every shuffle is linear in block size (operators/dedup.py:
    # prefix_filter_candidates; zero-false-negative guarantee documented
    # there, so the quadratic SQL stays an exact oracle)
    from ironbeam_spark.operators.dedup import set_similarity_join
    from ironbeam_spark.scale import ensure_min_parallelism

    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents").df)
    g = docs.select(
        "doc_id", "lang", "source", char_ngrams("text", 4).alias("grams")
    )
    out = set_similarity_join(
        g, "doc_id", "grams", 0.4, block_cols=("lang", "source")
    )
    return out.select("id_a", "id_b", "jaccard_sim").orderBy("id_a", "id_b")


@query(
    "q_simhash_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 200),
    ints AS (SELECT doc_id, list_transform(toks, x -> {_TI_SQL.format('x')}) AS hs,
                    len(toks) AS n FROM t)
    SELECT doc_id,
           -- ::BIGINT matters: DuckDB's list_sum over BIGINT yields HUGEINT,
           -- which pandas widens to float64 — same values, different dtype,
           -- and a dtype-sensitive comparator then sees every row mismatch.
           list_sum(list_transform(generate_series(0, 47), j ->
              CASE WHEN 2*len(list_filter(hs, h -> (h >> j) & 1 = 1)) > n
                   THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash_fp
    FROM ints
    ORDER BY doc_id
    """,
    doc="SimHash 48-bit fingerprints via per-bit token votes (north-star dedup)",
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id", simhash("text", 48).alias("simhash_fp")
    ).orderBy("doc_id")


_COS_SQL = (
    "list_sum(list_transform(generate_series(1,64), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(generate_series(1,64), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(generate_series(1,64), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))"
)


@query(
    "q_dedup_embedding",
    f"""
    WITH p AS (SELECT vec_id AS plane_id, embedding AS plane
               FROM embeddings WHERE vec_id < 16),
    bk AS (SELECT e.vec_id, e.label,
             sum(CASE WHEN {_COS_SQL.format(a='e.embedding', b='p.plane')} > 0
                      THEN (1::BIGINT << plane_id) ELSE 0::BIGINT END) AS bucket
           FROM embeddings e CROSS JOIN p
           GROUP BY e.vec_id, e.label),
    bands AS (SELECT vec_id, label, band,
                     (bucket >> (4*band)) & 15 AS band_bits
              FROM bk CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bands a JOIN bands b
               ON a.label = b.label AND a.band = b.band
              AND a.band_bits = b.band_bits AND a.vec_id < b.vec_id)
    SELECT c.id_a, c.id_b,
           {_COS_SQL.format(a='ea.embedding', b='eb.embedding')} AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {_COS_SQL.format(a='ea.embedding', b='eb.embedding')} >= 0.3
    ORDER BY id_a, id_b
    """,
    doc="embedding-cosine near-dup within label blocks via multi-band hyperplane LSH (4 bands × 4 sign bits, planes = data vectors 0..15) + exact cosine verify — candidate equi-join, never all-pairs (north-star dedup)",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale-safe shape: the within-label ALL-PAIRS join is replaced by
    # multi-band LSH candidates + exact verify (operators/similarity.py:
    # lsh_near_dup_pairs).  The oracle replicates the deterministic plane
    # construction, so the check is exact by construction — same pattern as
    # q_ann_lsh.  Semantics = candidates ∩ (cos ≥ 0.3); banding recall curve
    # documented on the operator.
    from ironbeam_spark.operators.similarity import lsh_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").df
    planes = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    out = lsh_near_dup_pairs(
        emb, planes, 0.3, "vec_id", "embedding", bands=4, block_cols=("label",)
    )
    return out.orderBy("id_a", "id_b")


# ------------------------------------------------- composite prep pipeline


@query(
    "q_training_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             {_lang_case_sql()} AS lang_pred,
             CASE WHEN len({_TOKS_SQL}) BETWEEN 10 AND 100000
                  THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - len({_TOKS_SQL}) + 1)::DOUBLE
                         / len({_TOKS_SQL})::DOUBLE BETWEEN 2.0 AND 12.0
                    THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                         / length(text)::DOUBLE <= 0.2
                    THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS quality,
             len({_TOKS_SQL})::BIGINT AS n_tokens
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.6),
    deduped AS (
      SELECT md5(lower(trim(text))) AS fp, source,
             min(doc_id) AS doc_id,
             arg_min(n_tokens, doc_id) AS n_tokens
      FROM kept GROUP BY fp, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM deduped GROUP BY source ORDER BY source
    """,
    bench=True,
    doc="flagship composite LLM-data-prep pipeline: language-ID filter → quality threshold → exact content dedup (deterministic winner) → per-source corpus stats; every stage a codegen expression, two shuffles total",
)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no ensure_min_parallelism here: measured — the expression scoring is
    # cheaper than a round-robin shuffle of the full text payload
    docs = _t(spark, sf_dir, "documents").df
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    kept = scored.where((F.col("lang_pred") == "en") & (F.col("quality") >= 0.6))
    deduped = (
        kept.withColumn("fp", md5_fingerprint("text"))
        .groupBy("fp", "source")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("n_tokens", F.col("doc_id")).alias("n_tokens"),
        )
    )
    return (
        deduped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------- similarity search


@query(
    "q_ann_bruteforce",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cos_sim
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    bench=True,
    doc="brute-force cosine top-k ANN baseline: broadcast queries × corpus, row_number<=k (north-star similarity)",
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").df
    queries = emb.filter(F.col("vec_id") < 10)
    out = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


@query(
    "q_ann_lsh",
    f"""
    WITH p AS (SELECT vec_id AS plane_id, embedding AS plane
               FROM embeddings WHERE vec_id < 4),
    b AS (SELECT e.vec_id, e.embedding,
            sum(CASE WHEN {_COS_SQL.format(a='e.embedding', b='p.plane')} > 0
                     THEN (1::BIGINT << plane_id) ELSE 0::BIGINT END) AS bucket
          FROM embeddings e CROSS JOIN p
          GROUP BY e.vec_id, e.embedding),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cos_sim
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="LSH-bucketed ANN: sign-of-dot hyperplane buckets (planes = data vectors 0..3), exact re-rank in bucket (north-star similarity)",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").df
    planes = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 10)
    out = lsh_ann_topk(emb, queries, planes, "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


@query(
    "q_ann_ivf",
    f"""
    WITH cent AS (SELECT vec_id AS cell, embedding AS cvec
                  FROM embeddings WHERE vec_id < 8),
    scored AS (SELECT e.vec_id, e.embedding, cent.cell,
                      {_COS_SQL.format(a='e.embedding', b='cent.cvec')} AS sim
               FROM embeddings e CROSS JOIN cent),
    corp AS (SELECT vec_id, embedding, cell FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cell) AS rn
               FROM scored) WHERE rn = 1),
    qprobe AS (SELECT vec_id, embedding, cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY sim DESC, cell) AS rn
                 FROM scored WHERE vec_id < 10) WHERE rn <= 2),
    pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cos_sim
              FROM qprobe q JOIN corp c ON q.cell = c.cell AND q.vec_id <> c.vec_id),
    ranked AS (SELECT query_id, neighbor_id, cos_sim,
                      CAST(row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
               FROM pairs)
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="IVF-style ANN (the brief's scale path alongside LSH): coarse cells = 8 deterministic centroid vectors, corpus in nearest cell, queries probe 2 cells, exact re-rank in-cell (north-star similarity)",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings").df
    centroids = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_ann_topk(emb, queries, centroids, "vec_id", "embedding", k=5, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


@query(
    "q_setsim_search",
    """
    WITH g AS (SELECT doc_id, lang, source,
                 list_sort(list_distinct(list_transform(
                   generate_series(1, greatest(length(text)-3, 0)),
                   i -> substr(text, i, 4)))) AS grams
               FROM documents),
    q AS (SELECT * FROM g WHERE doc_id < 25 AND len(grams) > 0),
    c AS (SELECT * FROM g WHERE doc_id >= 25 AND len(grams) > 0)
    SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
           len(list_intersect(q.grams, c.grams))::DOUBLE
             / (len(q.grams) + len(c.grams) - len(list_intersect(q.grams, c.grams)))::DOUBLE
             AS jaccard_sim
    FROM q JOIN c ON q.lang = c.lang AND q.source = c.source
    WHERE len(list_intersect(q.grams, c.grams))::DOUBLE
            / (len(q.grams) + len(c.grams) - len(list_intersect(q.grams, c.grams)))::DOUBLE >= 0.35
    ORDER BY query_id, corpus_id
    """,
    bench=True,
    doc="asymmetric set-similarity SEARCH (queries vs corpus, not self-join): size-routed exact plan — small query side broadcasts its posting list and |A∩B| falls out of one groupBy count (no df/window/verify stages); large query sides take the two-sided prefix filter; oracle is the quadratic R-S join (operators/dedup.set_similarity_search)",
)
def q_setsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import set_similarity_search
    from ironbeam_spark.scale import ensure_min_parallelism

    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents").df)
    g = docs.select("doc_id", "lang", "source", char_ngrams("text", 4).alias("grams"))
    out = set_similarity_search(
        g.where(F.col("doc_id") < 25),
        g.where(F.col("doc_id") >= 25),
        0.35,
        "doc_id",
        "grams",
        block_cols=("lang", "source"),
    )
    return out.orderBy("query_id", "corpus_id")


@query(
    "q_corpus_clean",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    {_COMPONENT_CTES},
    -- drop every near-dup-group member except the min-doc_id winner
    losers AS (SELECT node AS doc_id FROM comp WHERE node <> component)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
    bench=True,
    doc="end-to-end corpus cleaning (the canonical LLM-dedup product): MinHash-LSH near-dup pairs → connected components → keep the min-id winner per group → per-source kept/removed/token stats; every stage reuses the library's bucketed, driver-free operators (north-star dedup composite); ~2.5s warm at sf0.1 = minhash pipeline (~1.3s) + R one-job label-propagation rounds (R = max group diameter; the changed-count action doubles as the round's materialization) + final stats join",
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import dedup_components

    docs = _t(spark, sf_dir, "documents").df
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    labels = dedup_components(pairs)
    losers = labels.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("_loser")
    )
    return (
        docs.select("doc_id", "source", token_count("text").alias("_nt"))
        .join(losers, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.sum(F.coalesce(F.col("_loser"), F.lit(0))).cast("long").alias("n_removed"),
        )
        .orderBy("source")
    )


@query(
    "q_bm25_rational",
    # BM25-shaped relevance scoring with a RATIONAL idf — the classic
    # formula with idf(t) = ln((N-df+0.5)/(df+0.5)) replaced by the ratio
    # itself.  Reason: ln() differs by 1 ulp between JVM and DuckDB libm
    # (measured ~3% of values), so a log-based oracle cannot be bit-exact;
    # +,*,/ are correctly-rounded IEEE ops in both engines, so the rational
    # variant is — per-term ranking is identical (monotone transform) and
    # the multi-term sum is a documented scoring-family choice, not a bug.
    # Every operation below is written with the same association on both
    # sides so the doubles match bit for bit.
    """
    WITH base AS (
      SELECT doc_id,
             len(list_filter(string_split(text,' '), x -> x <> '')) AS dl,
             len(list_filter(string_split(text,' '), x -> x = 'vector')) AS tf0,
             len(list_filter(string_split(text,' '), x -> x = 'filter')) AS tf1,
             len(list_filter(string_split(text,' '), x -> x = 'data')) AS tf2
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      FROM base
    ),
    scored AS (
      SELECT doc_id,
        (((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE)) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
          * ((CAST(tf0 AS DOUBLE) * 2.2)
             / (CAST(tf0 AS DOUBLE) + (1.2 * (0.25 + (0.75 * (CAST(dl AS DOUBLE) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))))))
        + (((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE)) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
          * ((CAST(tf1 AS DOUBLE) * 2.2)
             / (CAST(tf1 AS DOUBLE) + (1.2 * (0.25 + (0.75 * (CAST(dl AS DOUBLE) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))))))
        + (((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE)) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
          * ((CAST(tf2 AS DOUBLE) * 2.2)
             / (CAST(tf2 AS DOUBLE) + (1.2 * (0.25 + (0.75 * (CAST(dl AS DOUBLE) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))))))
        AS score
      FROM base, stats
      WHERE tf0 + tf1 + tf2 > 0
    )
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    doc="BM25-shaped retrieval scoring (k1=1.2, b=0.75, rational idf - see oracle comment for the exactness rationale): per-term tf via token filters (codegen), corpus stats (N, avgdl, df) via one aggregate broadcast back, top-20 by score; the query-relevance primitive for retrieval-based quality filtering of training corpora",
)
def q_bm25_rational(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import tokens as _tok

    terms = ["vector", "filter", "data"]
    docs = _t(spark, sf_dir, "documents").df
    toks = _tok("text")
    def tf_of(term: str):
        # single-arg lambda only: PySpark binds 2-arg lambdas as (elem, idx),
        # so the term must be closed over, never passed as a default arg
        return F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("long")

    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[tf_of(term).alias(f"tf{i}") for i, term in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("s"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("long").alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    n, s = F.col("n").cast("double"), F.col("s").cast("double")
    dl = F.col("dl").cast("double")
    # association mirrors the SQL text exactly: avgdl = s/n, norm =
    # 1.2*(0.25 + (0.75*(dl/avgdl)))
    norm = F.lit(1.2) * (F.lit(0.25) + (F.lit(0.75) * (dl / (s / n))))
    score = None
    for i in range(len(terms)):
        tf, df = F.col(f"tf{i}").cast("double"), F.col(f"df{i}").cast("double")
        term_score = ((n - df) + F.lit(0.5)) / (df + F.lit(0.5)) * (
            (tf * F.lit(2.2)) / (tf + norm)
        )
        score = term_score if score is None else score + term_score
    out = (
        j.where((F.col("tf0") + F.col("tf1") + F.col("tf2")) > 0)
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )
    return out


_QZ_SQL = (
    "list_transform(generate_series(1,64), i -> CAST(round({e}[i]::DOUBLE / "
    "(list_max(list_transform(generate_series(1,64), j -> abs({e}[j]::DOUBLE))) / 127.0)) AS INTEGER))"
)
_IDOT_SQL = "list_sum(list_transform(generate_series(1,64), i -> {a}[i]::BIGINT * {b}[i]::BIGINT))"


@query(
    "q_ann_int8",
    # int8 scalar quantization (symmetric, scale = max|x|/127) then exact
    # integer-dot cosine: the per-vector scales CANCEL in cosine, so the
    # score is three integer dots + two sqrt + one division - every step
    # bit-deterministic cross-engine, making QUANTIZED ANN exact-oracle-
    # checkable (the float-cosine variant q_ann_bruteforce is the recall
    # reference).
    f"""
    WITH z AS (
      SELECT vec_id, {_QZ_SQL.format(e='embedding')} AS q
      FROM embeddings
      WHERE list_max(list_transform(generate_series(1,64), j -> abs(embedding[j]::DOUBLE))) > 0
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST({_IDOT_SQL.format(a='a.q', b='b.q')} AS DOUBLE)
             / (sqrt(CAST({_IDOT_SQL.format(a='a.q', b='a.q')} AS DOUBLE))
                * sqrt(CAST({_IDOT_SQL.format(a='b.q', b='b.q')} AS DOUBLE))) AS cos_q
      FROM z a CROSS JOIN z b
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_q,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_q DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_q, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="int8-quantized brute-force ANN: symmetric scalar quantization (4x smaller vectors, integer dot products - the billion-vector compression step), exact integer-arithmetic cosine (scales cancel), top-5 per query; oracle reproduces the identical codes and scores (functions/vectors.quantize_int8/cosine_int8)",
)
def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.vectors import cosine_int8, quantize_int8
    from ironbeam_spark.scale import ensure_min_parallelism
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings").df
    z = emb.select(
        "vec_id", quantize_int8(F.col("embedding")).alias("z")
    ).select("vec_id", F.col("z.q").alias("q"), F.col("z.scale").alias("scale")).where(
        F.col("scale") > 0
    )
    qside = z.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    cside = ensure_min_parallelism(z).select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb")
    )
    scored = (
        F.broadcast(qside)
        .crossJoin(cside)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_int8(F.col("qa"), F.col("qb")).alias("cos_q"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_q").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_q", "rank")
        .orderBy("query_id", "rank")
    )


@query(
    "q_winnow_match",
    # same fingerprint arithmetic as q_winnow_fingerprints; the df <= 50
    # cap (MOSS noise suppression) is also the scale guard - it bounds the
    # posting-list self-join at max_df^2/2 pairs per fingerprint
    f"""
    WITH h AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 8 THEN
               list_transform(generate_series(1, length(text)-7),
                              i -> {_TI_SQL.format("substr(text, i, 8)")})
             ELSE CAST([] AS BIGINT[]) END AS hs
      FROM documents),
    fp AS (
      SELECT doc_id,
             unnest(CASE WHEN len(hs) >= 4 THEN
               list_sort(list_distinct(list_transform(
                 generate_series(1, len(hs)-3), j -> list_min(hs[j:j+3]))))
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE CAST([] AS BIGINT[]) END) AS f
      FROM h),
    rare AS (
      SELECT doc_id, f FROM (
        SELECT doc_id, f, count(*) OVER (PARTITION BY f) AS df FROM fp)
      WHERE df <= 20)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b
    HAVING count(*) >= 8
    ORDER BY id_a, id_b
    """,
    doc="MOSS-style match detection: pairs of documents sharing >= 8 rare winnowing fingerprints (df <= 20 cap = noise suppression AND the quadratic-blowup guard - boilerplate fingerprints never join); one window for df, one bounded posting self-join, one pair aggregate (operators/dedup.winnow_match_pairs)",
)
def q_winnow_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import winnow_match_pairs
    from ironbeam_spark.scale import ensure_min_parallelism

    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents").df)
    return winnow_match_pairs(
        docs, "doc_id", "text", k=8, w=4, min_shared=8, max_df=20
    ).orderBy("id_a", "id_b")


@query(
    "q_semantic_dedup",
    # Oracle replicates every stage analytically: nearest-centroid
    # assignment (argmax cosine, ties -> lower cell id), within-cell
    # pairwise cosine >= threshold, recursive-CTE connected components,
    # min-id winner.  Centroids are data vectors chosen by id, so the
    # whole pipeline is deterministic and the check exact (the cosine SQL
    # is the established bit-exact fold).
    f"""
    WITH RECURSIVE
    cent AS (SELECT vec_id AS cell, embedding AS cvec
             FROM embeddings WHERE vec_id < 6),
    scored AS (SELECT e.vec_id, e.embedding, cent.cell,
                      {_COS_SQL.format(a='e.embedding', b='cent.cvec')} AS sim
               FROM embeddings e CROSS JOIN cent),
    assigned AS (SELECT vec_id, embedding, cell FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY sim DESC, cell) AS rn
                   FROM scored) WHERE rn = 1),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM assigned a JOIN assigned b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.35),
    e AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    r(n, m) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM e)
      UNION
      SELECT r.n, e.d FROM r JOIN e ON r.m = e.s
    ),
    comp AS (SELECT n AS node, min(m) AS component FROM r GROUP BY n)
    SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
           CAST(coalesce(comp.component, a.vec_id) AS BIGINT) AS component,
           coalesce(comp.component, a.vec_id) = a.vec_id AS keep
    FROM assigned a LEFT JOIN comp ON a.vec_id = comp.node
    ORDER BY a.vec_id
    """,
    doc="SemDeDup-style semantic dedup (cluster embeddings -> prune within-cell cosine near-dups -> keep min-id representative, Abbas et al. 2023): nearest-centroid assign + cell-partitioned pairwise cosine + connected components, never global all-pairs (north-star dedup composite; operators/similarity.semantic_dedup)",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").df
    cents = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]
    return semantic_dedup(emb, cents, "vec_id", "embedding", threshold=0.35).orderBy(
        "vec_id"
    )


# -- positional phrase search (round 6): operators/phrase.py ----------------


@query(
    "q_phrase_search",
    # k-term phrase = (k-1)-way equi-join of postings aligned on
    # (doc, pos - i): no windows, no per-doc position arrays, no cross
    # products — a stopword posting joins 1:1 per position
    """
    WITH toks AS (SELECT doc_id,
                    list_filter(string_split(lower(text), ' '), x -> x <> '')
                      AS ts
                  FROM documents),
    idx AS (SELECT doc_id AS doc, unnest(ts) AS term,
                   generate_subscripts(ts, 1) - 1 AS pos
            FROM toks),
    t0 AS (SELECT doc, pos AS start_pos FROM idx WHERE term = 'table'),
    t1 AS (SELECT doc, pos - 1 AS start_pos FROM idx WHERE term = 'hash')
    SELECT t0.doc, CAST(t0.start_pos AS BIGINT) AS start_pos
    FROM t0 JOIN t1 USING (doc, start_pos)
    WHERE t0.start_pos >= 0
    ORDER BY doc, start_pos
    """,
    doc="exact phrase search over a positional inverted index (operators/phrase — classic positional postings, public IR): the phrase 'table hash' as an equi-join of per-term postings aligned on (doc, pos - i); postings are (term, doc, pos) rows so no per-doc position array ever materializes (a stopword's list wouldn't fit a row at 100 TB) and every join key is unique per position — the rarest-term size bound falls out of AQE (north-star retrieval; reference regex matches within rows only)",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.phrase import phrase_search, positional_index

    docs = _t(spark, sf_dir, "documents").df
    idx = positional_index(docs, "doc_id", "text")
    hits = phrase_search(idx, ["table", "hash"])
    return hits.select(
        "doc", F.col("start_pos").cast("long").alias("start_pos")
    ).orderBy("doc", "start_pos")


@query(
    "q_editdist_join",
    # all-pairs levenshtein is the ORACLE only; the engine never compares
    # all pairs (ED-Join q-gram prefix filter, operators/editdist.py)
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 = 0)
    SELECT a.c_custkey AS id1, b.c_custkey AS id2,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id1, id2
    """,
    doc="edit-distance similarity self-join (entity resolution over near-identical names; ED-Join q-gram count+prefix filters, Xiao/Wang/Lin VLDB'08 — public paper; no ref analogue, regex is the reference's only string matching): candidates from an equi-join on each string's q*d+1 RAREST occurrence-indexed q-grams (corpus-frequency order — the shared 'Customer#0' prefix grams are the most frequent and never generate candidates), one JVM-side levenshtein per survivor; the oracle IS the all-pairs join the engine avoids",
)
def q_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.editdist import edit_distance_join
    from ironbeam_spark.scale import ensure_min_parallelism

    c = ensure_min_parallelism(
        _t(spark, sf_dir, "customer")
        .df.where(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_name")
    )
    return edit_distance_join(c, "c_custkey", "c_name", max_dist=1).orderBy(
        "id1", "id2"
    )


@query(
    "q_ann_pq",
    # oracle replicates the full PQ pipeline in SQL: codebooks = sub-slices
    # of the first-8 vectors, L2 arg-min codes (row_number tie-break to the
    # lower code), per-query ADC sub-dot tables, subspace scores pivoted to
    # fixed columns and added left-to-right — the same fold/add order as the
    # engine, so the APPROXIMATION itself is verified bit-exactly
    """
    WITH cb AS (
      SELECT j.j AS j, e.vec_id AS c,
             list_transform(generate_series(1,16),
                            i -> e.embedding[16*j.j + i]::DOUBLE) AS cw
      FROM (SELECT unnest(generate_series(0,3)) AS j) j
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) e
    ),
    dists AS (
      SELECT x.vec_id, cb.j, cb.c,
             list_sum(list_transform(generate_series(1,16), i ->
               (x.embedding[16*cb.j + i]::DOUBLE - cb.cw[i])
               * (x.embedding[16*cb.j + i]::DOUBLE - cb.cw[i]))) AS d
      FROM embeddings x CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d, c) AS rn
        FROM dists) WHERE rn = 1
    ),
    qadc AS (
      SELECT q.vec_id AS query_id, cb.j, cb.c,
             list_sum(list_transform(generate_series(1,16), i ->
               q.embedding[16*cb.j + i]::DOUBLE * cb.cw[i])) AS dp
      FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 10
    ),
    pair AS (
      SELECT qa.query_id, co.vec_id AS neighbor_id, qa.j, qa.dp
      FROM codes co JOIN qadc qa ON qa.j = co.j AND qa.c = co.c
      WHERE qa.query_id <> co.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             max(CASE WHEN j=0 THEN dp END) + max(CASE WHEN j=1 THEN dp END)
           + max(CASE WHEN j=2 THEN dp END) + max(CASE WHEN j=3 THEN dp END)
             AS pq_score
      FROM pair GROUP BY query_id, neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, pq_score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY pq_score DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, pq_score, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="product-quantized ANN (Jegou/Douze/Schmid TPAMI'11 — public paper; completes the ANN family: PQ is the VECTOR-compression path that makes a 100 TB embedding corpus scannable): 4 subspaces x 8 codewords (deterministic first-8-vector sub-slices, same convention as q_ann_ivf's centroids — production trains with pq_train_codebooks), expression-only encode to 4 small ints per vector, per-query ADC tables broadcast over the CODE scan (m array lookups + 3 adds per pair — the scan never touches raw embeddings), top-5 by approximated dot (operators/pq.py)",
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.pq import pq_ann_topk, pq_codebooks_from_prefix

    emb = _t(spark, sf_dir, "embeddings").df
    cb = pq_codebooks_from_prefix(emb, "vec_id", "embedding", m=4, ncode=8)
    queries = emb.filter(F.col("vec_id") < 10)
    out = pq_ann_topk(emb, queries, cb, "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


@query(
    "q_ann_ivfpq",
    # composition of q_ann_ivf's cell oracle and q_ann_pq's code/ADC oracle:
    # candidates restricted to probed cells, scored by the bit-exact ADC sum
    f"""
    WITH cent AS (SELECT vec_id AS cell, embedding AS cvec
                  FROM embeddings WHERE vec_id < 8),
    cs AS (SELECT e.vec_id, e.embedding, cent.cell,
                  {_COS_SQL.format(a='e.embedding', b='cent.cvec')} AS sim
           FROM embeddings e CROSS JOIN cent),
    corp AS (SELECT vec_id, cell FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sim DESC, cell) AS rn
               FROM cs) WHERE rn = 1),
    qprobe AS (SELECT vec_id, cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY sim DESC, cell) AS rn
                 FROM cs WHERE vec_id < 10) WHERE rn <= 2),
    cb AS (
      SELECT j.j AS j, e.vec_id AS c,
             list_transform(generate_series(1,16),
                            i -> e.embedding[16*j.j + i]::DOUBLE) AS cw
      FROM (SELECT unnest(generate_series(0,3)) AS j) j
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) e
    ),
    dists AS (
      SELECT x.vec_id, cb.j, cb.c,
             list_sum(list_transform(generate_series(1,16), i ->
               (x.embedding[16*cb.j + i]::DOUBLE - cb.cw[i])
               * (x.embedding[16*cb.j + i]::DOUBLE - cb.cw[i]))) AS d
      FROM embeddings x CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d, c) AS rn
        FROM dists) WHERE rn = 1
    ),
    qadc AS (
      SELECT q.vec_id AS query_id, cb.j, cb.c,
             list_sum(list_transform(generate_series(1,16), i ->
               q.embedding[16*cb.j + i]::DOUBLE * cb.cw[i])) AS dp
      FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 10
    ),
    cand AS (
      SELECT DISTINCT qp.vec_id AS query_id, co.vec_id AS neighbor_id
      FROM qprobe qp JOIN corp co ON qp.cell = co.cell
      WHERE qp.vec_id <> co.vec_id
    ),
    pair AS (
      SELECT ca.query_id, ca.neighbor_id, cd.j, qa.dp
      FROM cand ca
      JOIN codes cd ON cd.vec_id = ca.neighbor_id
      JOIN qadc qa ON qa.query_id = ca.query_id
                  AND qa.j = cd.j AND qa.c = cd.c
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             max(CASE WHEN j=0 THEN dp END) + max(CASE WHEN j=1 THEN dp END)
           + max(CASE WHEN j=2 THEN dp END) + max(CASE WHEN j=3 THEN dp END)
             AS pq_score
      FROM pair GROUP BY query_id, neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, pq_score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY pq_score DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, pq_score, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    bench=True,
    doc="IVF-PQ, the production 100 TB ANN shape (Jegou et al. TPAMI'11 SV: inverted cells + PQ codes): corpus rows live in their nearest-cosine cell carrying only 4 PQ code ints, queries probe 2 cells with precomputed ADC tables — the search join is a plain cell-id EQUI-JOIN whose corpus side never carries raw embeddings (operators/pq.ivfpq_ann_topk; candidate set = n_probe x cell size, never the corpus)",
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.pq import ivfpq_ann_topk, pq_codebooks_from_prefix

    emb = _t(spark, sf_dir, "embeddings").df
    # centroids as a DataFrame: the query side folds them into ONE broadcast
    # array row inside ivf_assign_cells; the corpus side materializes the
    # same 8 rows via the bounded _centroid_list collect feeding the
    # vectorized Arrow build (opt r12 — same bounded-collect contract as
    # pq_codebooks_from_prefix two lines down)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    cb = pq_codebooks_from_prefix(emb, "vec_id", "embedding", m=4, ncode=8)
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivfpq_ann_topk(
        emb, queries, centroids, cb, "vec_id", "embedding", k=5, n_probe=2
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


@query(
    "q_kcenter",
    # the greedy selection replays bit-exactly in a recursive CTE: the
    # state row carries the selected (ids, vecs, dists) lists; each step's
    # arg-max is max() over a payload struct ordered by (dist, -id)
    f"""
    WITH RECURSIVE
    seed AS (SELECT vec_id, embedding FROM embeddings
             ORDER BY vec_id LIMIT 1),
    sel(r, ids, vecs, dists) AS (
      SELECT 0, [seed.vec_id], [seed.embedding], [CAST(NULL AS DOUBLE)]
      FROM seed
      UNION ALL
      SELECT q.r + 1,
             list_append(q.ids, q.win.vid),
             list_append(q.vecs, q.win.emb),
             list_append(q.dists, q.win.d)
      FROM (
        SELECT z.r AS r, z.ids AS ids, z.vecs AS vecs, z.dists AS dists,
               max(struct_pack(d := z.d, ni := -z.vec_id,
                               vid := z.vec_id, emb := z.embedding)) AS win
        FROM (
          SELECT s.r, s.ids, s.vecs, s.dists, e.vec_id, e.embedding,
                 list_min(list_transform(s.vecs,
                   c -> 1.0 - ({_COS_SQL.format(a='e.embedding', b='c')}))) AS d
          FROM sel s CROSS JOIN embeddings e
          WHERE s.r < 5 AND NOT list_contains(s.ids, e.vec_id)
        ) z
        GROUP BY z.r, z.ids, z.vecs, z.dists
      ) q
    )
    SELECT u.r AS sel_rank, u.i AS vec_id, u.d AS dist
    FROM (SELECT ids, dists FROM sel ORDER BY r DESC LIMIT 1) f,
    LATERAL (SELECT unnest(generate_series(1, len(f.ids))) - 1 AS r,
                    unnest(f.ids) AS i, unnest(f.dists) AS d) u
    ORDER BY sel_rank
    """,
    doc="greedy k-center coreset selection (Gonzalez TCS'85, the 2-approx farthest-point traversal — the diverse-subset primitive for few-shot pools and coreset curation; no ref analogue): 6 rounds, each ONE narrow literal-center distance pass + ONE TakeOrdered(1) arg-max, CheckpointPolicy lineage truncation — an ITERATIVE algorithm with an exact recursive-CTE value oracle (operators/kcenter.py; contrast q_bpe_tokenize, rows-only by nature)",
)
def q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.kcenter import kcenter_select

    emb = _t(spark, sf_dir, "embeddings").df
    return kcenter_select(emb, "vec_id", "embedding", k=6)
