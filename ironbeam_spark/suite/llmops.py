"""LLM-pipeline text operations, wave 2: PII scrubbing and vocabulary
building over the documents table (north-star text analysis — no reference
counterpart; registered after the driver's current 50-query window, driver
rows arrive next round, oracle-checked by tools/check.py now)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironbeam_spark.functions.text import PII_PATTERNS, scrub_pii
from ironbeam_spark.sources.io import read_table
from ironbeam_spark.suite.registry import QUERIES, query

# the synthetic corpus carries no PII, so the query plants deterministic
# PII derived from doc_id before scrubbing — the redaction is then a real,
# value-checked diff instead of a no-op
_PII_SUFFIX_SQL = (
    "' contact user' || doc_id::VARCHAR || '@example.com from 10.0.' "
    "|| (doc_id % 256)::VARCHAR || '.7 card 4111111111111111'"
)


@query(
    "q_pii_scrub",
    f"""
    WITH seeded AS (
      SELECT doc_id, text || {_PII_SUFFIX_SQL} AS raw FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, raw,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '{PII_PATTERNS[0][0]}', '{PII_PATTERNS[0][1]}', 'g'),
               '{PII_PATTERNS[1][0]}', '{PII_PATTERNS[1][1]}', 'g'),
               '{PII_PATTERNS[2][0]}', '{PII_PATTERNS[2][1]}', 'g') AS clean
      FROM seeded
    )
    SELECT doc_id,
           CAST(length(raw) - length(clean) AS BIGINT) AS chars_redacted,
           md5(clean) AS clean_md5
    FROM scrubbed
    ORDER BY doc_id
    """,
    doc="PII scrubbing (north-star text cleaning): email/IPv4/card-number redaction as a codegen regexp_replace chain; patterns shared verbatim with the RE2 oracle (functions/text.scrub_pii)",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 card 4111111111111111"),
    )
    seeded = docs.select("doc_id", raw.alias("raw"))
    out = seeded.select(
        "doc_id",
        "raw",
        scrub_pii("raw").alias("clean"),
    )
    return out.select(
        "doc_id",
        (F.length("raw") - F.length("clean")).cast("long").alias("chars_redacted"),
        F.md5("clean").alias("clean_md5"),
    ).orderBy("doc_id")


@query(
    "q_vocab_topk",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 100
    """,
    doc="vocabulary building (north-star): lowercase whitespace tokens → frequency count → deterministic top-100; partial+final agg bounds the shuffle by |vocab|, TakeOrdered bounds the result (the classic corpus-vocab job)",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(100)
    )


@query(
    "q_heavy_hitters",
    # the Misra-Gries guarantees are checked in-query against exact counts;
    # the oracle is the guarantee contract itself (same pattern as
    # q_approx_distinct / q_approx_quantiles)
    "SELECT TRUE AS all_frequent_found, TRUE AS bounds_hold, TRUE AS bounded_size",
    doc="approximate heavy hitters (mergeable Misra-Gries, operators/frequency.py): O(m) memory per task, <= partitions*(m+1) shuffle rows — the bounded-memory tier above exact count_per_element for billion-token domains; emits its guarantee booleans vs exact counts",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.frequency import approx_heavy_hitters

    toks = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    # both intermediates are tiny (≤ m sketch rows, |vocab| exact rows) but
    # feed 3 downstream branches — localCheckpoint cuts the re-scan of the
    # exploded token stream from ~4× to 2×
    sketch = approx_heavy_hitters(toks, "token", m=64).localCheckpoint()
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_n")).localCheckpoint()
    joined = sketch.join(exact, sketch.item == exact.token, "left")
    checks = joined.agg(
        F.min(
            (F.col("est") <= F.col("true_n")) & (F.col("true_n") <= F.col("est") + F.col("err"))
        ).alias("bounds_hold"),
        F.count(F.lit(1)).alias("n_reported"),
        F.max("err").alias("err"),
    )
    missed_frequent = (
        exact.join(sketch, exact.token == sketch.item, "left_anti")
        .crossJoin(F.broadcast(checks.select("err")))
        .where(F.col("true_n") > F.col("err"))
        .agg(F.count(F.lit(1)).alias("n_missed"))
    )
    return checks.crossJoin(missed_frequent).select(
        (F.col("n_missed") == 0).alias("all_frequent_found"),
        F.col("bounds_hold"),
        (F.col("n_reported") <= 64).alias("bounded_size"),
    )


@query(
    "q_doc_chunking",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tok
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_id,
             array_to_string(tok[i*24+1 : i*24+32], ' ') AS chunk_text
      FROM toks, (SELECT unnest(generate_series(0, 63)) AS i)
      WHERE i*24 < len(tok)
    )
    SELECT doc_id, chunk_id, chunk_text,
           CAST(len(list_filter(string_split(chunk_text, ' '), t -> t <> '')) AS BIGINT)
             AS n_tokens
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    doc="document chunking (north-star preprocessing): split each doc into 32-token windows with 8-token overlap (stride 24) — one explode over a codegen sequence, no Python; the unit every embedding/training pipeline feeds downstream",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    size, stride = 32, 24
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("tok"),
    )
    # chunk starts: 0, stride, 2*stride, ... while start < len(tok)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("tok") - 1, F.lit(0)), F.lit(stride)
    )
    chunks = toks.select(
        "doc_id", "tok", F.explode(starts).alias("start")
    ).where(F.col("start") < F.size("tok"))
    out = chunks.select(
        "doc_id",
        (F.col("start") / stride).cast("long").alias("chunk_id"),
        F.array_join(F.slice("tok", F.col("start") + 1, size), " ").alias("chunk_text"),
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        F.size(F.filter(F.split("chunk_text", " "), lambda t: t != "")).cast("long").alias("n_tokens"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "q_contamination",
    """
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text)-23, 0)),
               i -> substr(text, i, 24))) AS grams
      FROM documents
    ),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 10),
    flagged AS (
      SELECT DISTINCT g.doc_id
      FROM g, bench
      WHERE doc_id >= 10 AND list_contains(g.grams, bench.gram)
    )
    SELECT doc_id FROM flagged ORDER BY doc_id
    """,
    doc="benchmark-contamination check (north-star decontamination): corpus docs sharing ANY char-24-gram with the benchmark set (doc_id<10) — shingle explode + broadcast semi-join on the gram, never a doc×doc comparison",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import char_ngrams

    docs = read_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(char_ngrams("text", 24))).alias("gram")
    )
    bench = grams.where(F.col("doc_id") < 10).select("gram").distinct()
    flagged = (
        grams.where(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), on="gram", how="leftsemi")
        .select("doc_id")
        .distinct()
    )
    return flagged.orderBy("doc_id")


@query(
    "q_quality_pipeline",
    None,  # assembled below (needs text_ml SQL fragments) — see _qp_oracle
    bench=True,
    doc="composable quality-filter pipeline (north-star corpus curation): one pass chaining language-ID → quality score → PII redaction size → benchmark-contamination flag → keep verdict, per corpus doc; every stage a codegen expression except one broadcast semi-join",
)
def q_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import lang_id, quality_score, token_count
    from ironbeam_spark.operators.dedup import char_ngrams

    docs = read_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 card 4111111111111111"),
    )
    # contamination stage: corpus docs (id ≥ 10) sharing any char-24-gram
    # with the benchmark set (id < 10) — broadcast semi-join, as
    # q_contamination, folded into the pipeline as a boolean flag
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(char_ngrams("text", 24))).alias("gram")
    )
    bench = grams.where(F.col("doc_id") < 10).select("gram").distinct()
    flagged = (
        grams.where(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), on="gram", how="leftsemi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    scored = docs.where(F.col("doc_id") >= 10).select(
        "doc_id",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        (F.length(raw) - F.length(scrub_pii(raw))).cast("long").alias("pii_chars"),
    )
    out = (
        scored.join(flagged, on="doc_id", how="left")
        .withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))
        .withColumn(
            "keep",
            (F.col("lang_pred") == "en")
            & (F.col("quality") >= 0.6)
            & ~F.col("contaminated"),
        )
    )
    return out.orderBy("doc_id")


def _qp_oracle() -> str:
    from ironbeam_spark.suite.text_ml import _TOKS_SQL, _lang_case_sql

    return f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text)-23, 0)),
               i -> substr(text, i, 24))) AS grams
      FROM documents
    ),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 10),
    contam AS (
      SELECT DISTINCT g.doc_id FROM g, bench
      WHERE doc_id >= 10 AND list_contains(g.grams, bench.gram)
    ),
    seeded AS (
      SELECT doc_id, text, text || {_PII_SUFFIX_SQL} AS raw
      FROM documents WHERE doc_id >= 10
    ),
    scored AS (
      SELECT doc_id,
             {_lang_case_sql()} AS lang_pred,
             CASE WHEN len({_TOKS_SQL}) BETWEEN 10 AND 100000
                  THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - len({_TOKS_SQL}) + 1)::DOUBLE
                         / len({_TOKS_SQL})::DOUBLE BETWEEN 2.0 AND 12.0
                    THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                         / length(text)::DOUBLE <= 0.2
                    THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS quality,
             len({_TOKS_SQL})::BIGINT AS n_tokens,
             CAST(length(raw) - length(
               regexp_replace(regexp_replace(regexp_replace(raw,
                 '{PII_PATTERNS[0][0]}', '{PII_PATTERNS[0][1]}', 'g'),
                 '{PII_PATTERNS[1][0]}', '{PII_PATTERNS[1][1]}', 'g'),
                 '{PII_PATTERNS[2][0]}', '{PII_PATTERNS[2][1]}', 'g')) AS BIGINT)
               AS pii_chars
      FROM seeded
    )
    SELECT s.doc_id, s.lang_pred, s.quality, s.n_tokens, s.pii_chars,
           (c.doc_id IS NOT NULL) AS contaminated,
           (s.lang_pred = 'en' AND s.quality >= 0.6 AND c.doc_id IS NULL) AS keep
    FROM scored s LEFT JOIN contam c ON s.doc_id = c.doc_id
    ORDER BY s.doc_id
    """


QUERIES["q_quality_pipeline"].oracle = _qp_oracle()


@query(
    "q_crossshard_dedup",
    None,  # assembled below — needs text_ml's shared tokenizer SQL
    doc="cross-shard span-level dedup (north-star corpus curation, suffix-array-free): per-doc fraction of word-8-gram shingles that also occur in ANOTHER shard (source) — shingle md5 explode → per-shingle distinct-shard spread → per-doc rollup; linear shuffles on shingle hash, never doc×doc",
)
def q_crossshard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.dedup import word_shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(word_shingles("text", 8)).alias("shingle"),
    ).select(
        "doc_id", "source", F.substring(F.md5("shingle"), 1, 16).alias("h")
    )
    spread = sh.groupBy("h").agg(F.count_distinct("source").alias("nsrc"))
    per_doc = (
        sh.join(spread, on="h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_if(F.col("nsrc") >= 2).alias("n_shared"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_shared").cast("double") / F.col("n_shingles").cast("double"),
        )
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_shared", "dup_frac"
    ).orderBy("doc_id")


def _cs_oracle() -> str:
    from ironbeam_spark.suite.text_ml import _TOKS_SQL

    return f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, source,
            list_distinct(list_transform(
              generate_series(1, greatest(len(toks)-7, 0)),
              i -> substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16))) AS hs
          FROM t),
    ex AS (SELECT doc_id, source, unnest(hs) AS h FROM s),
    spread AS (SELECT h, count(DISTINCT source) AS nsrc FROM ex GROUP BY h)
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE spread.nsrc >= 2) AS BIGINT) AS n_shared,
           count(*) FILTER (WHERE spread.nsrc >= 2)::DOUBLE / count(*)::DOUBLE AS dup_frac
    FROM ex JOIN spread USING (h)
    GROUP BY ex.doc_id
    ORDER BY ex.doc_id
    """


QUERIES["q_crossshard_dedup"].oracle = _cs_oracle()


@query(
    "q_token_packing",
    None,  # assembled below — needs the shared tokenizer SQL
    bench=True,
    doc="cross-document token-stream packing (north-star training prep): concatenate the corpus token stream in doc_id order, slice into fixed 2048-token training windows; each doc's pack id + offset come from a DISTRIBUTED two-pass prefix sum (operators/scan.py), never a single-partition global window",
)
def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import token_count
    from ironbeam_spark.operators.scan import global_running_sum, pack_layout

    # narrow eager checkpoint: the two-level scan reads its input three
    # times (stats, bucket totals, final window — operators/scan.py); the
    # break point tokenizes each text ONCE and the (id, count) frame the
    # passes re-read is metadata-scale (guide §2.3; opt r12)
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", token_count("text").alias("n_tokens"))
        .localCheckpoint()
    )
    scanned = global_running_sum(docs, ["doc_id"], "n_tokens", "cum_end")
    # pack arithmetic lives in operators/scan.pack_layout — integer DIV
    # throughout (exact past 2^53 cumulative tokens; tests/test_scan.py)
    return (
        pack_layout(scanned, "n_tokens", "cum_end", cap=2048)
        .select("doc_id", "n_tokens", "pack_id", "offset_in_pack", "n_packs_spanned")
        .orderBy("doc_id")
    )


def _tp_oracle() -> str:
    from ironbeam_spark.suite.text_ml import _TOKS_SQL

    return f"""
    WITH t AS (
      SELECT doc_id, len({_TOKS_SQL})::BIGINT AS n_tokens FROM documents
    ),
    s AS (
      -- ::BIGINT: DuckDB's window sum is HUGEINT (Arrow decimal128(38,0));
      -- uncast, the derived pack columns inherit it and a dtype-sensitive
      -- hash mismatches Spark's int64 on type with equal values
      SELECT doc_id, n_tokens,
             (sum(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               )::BIGINT AS cum_end
      FROM t
    )
    SELECT doc_id, n_tokens,
           (cum_end - n_tokens) // 2048 AS pack_id,
           (cum_end - n_tokens) % 2048 AS offset_in_pack,
           CASE WHEN n_tokens = 0 THEN 1
                ELSE (cum_end - 1) // 2048 - (cum_end - n_tokens) // 2048 + 1
           END AS n_packs_spanned
    FROM s ORDER BY doc_id
    """


QUERIES["q_token_packing"].oracle = _tp_oracle()


@query(
    "q_shard_export",
    None,  # assembled below — the oracle embeds the seed's affine params
    bench=True,
    doc="deterministic shard export (operators/sharding.py, beyond ref — the training-data write step): seeded affine permutation over Z_(2^61-1) de-clusters doc ids (bijective below p, exact DECIMAL(38,0)/HUGEINT arithmetic both engines), sizes prefix-summed by the two-level distributed scan in permuted order, shard_id/offset_in_shard from integer-DIV pack arithmetic; same seed == same layout, reproducibly",
)
def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sharding import shard_assignment

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = shard_assignment(
        docs, "doc_id", "n_chars", shard_capacity=16384, seed=7
    )
    return out.select(
        "doc_id", "n_chars", "shuffle_key", "shard_id", "offset_in_shard"
    ).orderBy("doc_id")


def _shard_oracle() -> str:
    from ironbeam_spark.operators.sharding import affine_params

    a, b, p = affine_params(7)
    return f"""
    WITH k AS (
      -- ((x % p) + p) % p: DuckDB % is sign-preserving where the engine
      -- uses pmod; the wrap keeps the oracle correct for negative ids too
      SELECT doc_id, n_chars,
             CAST(((CAST(((doc_id % {p}) + {p}) % {p} AS HUGEINT) * {a} + {b})
                   % {p}) AS BIGINT) AS shuffle_key
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_chars, shuffle_key,
             (sum(n_chars) OVER (ORDER BY shuffle_key, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               )::BIGINT AS cum
      FROM k
    )
    SELECT doc_id, n_chars, shuffle_key,
           ((cum - n_chars) // 16384)::BIGINT AS shard_id,
           ((cum - n_chars) % 16384)::BIGINT AS offset_in_shard
    FROM s ORDER BY doc_id
    """


QUERIES["q_shard_export"].oracle = _shard_oracle()


# -- q_token_packing driver-bisect probes (round 6) -------------------------
# q_token_packing has been hash-red in the external gate two rounds running
# while bit-exact in every local replication (isolation, full canonical-order
# driver-sim, --bare).  The divergence is environment-specific; these two
# probes decompose the query into its stages so the external gate itself
# localizes it: q_token_counts = the tokenizer alone; q_prefix_scan =
# global_running_sum alone on a clean integer column.  Whichever goes red
# names the divergent stage; both green + q_token_packing red puts the bug
# in their composition (next probe: doc_id, n_tokens, cum_end).


@query(
    "q_token_counts",
    None,  # assembled below — needs the shared tokenizer SQL
    doc="bisect probe A: per-doc whitespace token counts only (functions/text.py:token_count vs the shared _TOKS_SQL) — tokenizer parity with the external gate, no scan involved",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count("text").alias("n_tokens")
    ).orderBy("doc_id")


def _tc_oracle() -> str:
    from ironbeam_spark.suite.text_ml import _TOKS_SQL

    return f"""
    SELECT doc_id, len({_TOKS_SQL})::BIGINT AS n_tokens
    FROM documents ORDER BY doc_id
    """


QUERIES["q_token_counts"].oracle = _tc_oracle()


@query(
    "q_prefix_scan",
    # NOTE the ::BIGINT on the window sum: DuckDB types sum(BIGINT) OVER as
    # HUGEINT, which its Arrow surface emits as decimal128(38,0) while Spark
    # emits int64 — a dtype-sensitive comparison then fails on TYPE with
    # equal values (tools/check.py's dtype lint checks the whole registry
    # against this class).
    """
    SELECT o_orderkey, o_custkey AS v,
           (sum(o_custkey) OVER (ORDER BY o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             )::BIGINT AS running_v
    FROM orders ORDER BY o_orderkey
    """,
    doc="bisect probe B: the distributed two-pass prefix scan (operators/scan.py) alone, over orders keyed by o_orderkey on a clean integer column — no tokenizer anywhere in the plan",
)
def q_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.scan import global_running_sum

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("v")
    )
    return global_running_sum(orders, ["o_orderkey"], "v", "running_v").orderBy(
        "o_orderkey"
    )


@query(
    "q_scan_string_key",
    """
    SELECT p_partkey, p_name, p_size,
           (sum(p_size) OVER (ORDER BY p_name, p_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             )::BIGINT AS running_size
    FROM part ORDER BY p_partkey
    """,
    doc="distributed prefix scan over a STRING first order key (operators/scan.py string monotone projection: first 8 UTF-8 bytes as a big-endian unsigned decimal — bytewise order-consistent): running p_size total over parts ordered by (p_name, p_partkey); duplicate names tiebreak on the key, so the order is total; ::BIGINT keeps the oracle's window-sum typing aligned with Spark int64",
)
def q_scan_string_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.scan import global_running_sum

    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size")
    return global_running_sum(
        part, ["p_name", "p_partkey"], "p_size", "running_size"
    ).orderBy("p_partkey")


@query(
    "q_scan_float_key",
    """
    SELECT p_partkey, p_retailprice, p_size,
           (sum(p_size) OVER (ORDER BY p_retailprice, p_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             )::BIGINT AS running_size
    FROM part ORDER BY p_partkey
    """,
    doc="distributed prefix scan over a DOUBLE first order key — doubles have no monotone decimal projection, so mechanism='auto' takes the STAMPED range-shuffle path (operators/scan.py:_running_sum_stamped — RangePartitioner slices + stamped pid + localCheckpoint + mapInArrow cumulative pass), giving the declared outlier escape hatch the same end-to-end driver-evidence class as the bucketed default; p_partkey tiebreaks equal prices so the order is total; ::BIGINT keeps the oracle window-sum typing aligned with Spark int64",
)
def q_scan_float_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.scan import global_running_sum

    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return global_running_sum(
        part, ["p_retailprice", "p_partkey"], "p_size", "running_size"
    ).orderBy("p_partkey")


@query(
    "q_repetition_filter",
    None,  # assembled below — needs the shared tokenizer SQL
    doc="repetition-based quality signals (Gopher-rule family, Rae et al. 2021 §A1.1 — public): per-doc top-token fraction, top-bigram fraction, distinct-token ratio, thresholded keep verdict; explode + partial-agg per (doc, gram), linear shuffles only",
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("tok")).where(F.size("tok") > 0)
    uni = toked.select("doc_id", F.explode("tok").alias("g"))
    big = toked.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("tok", 1, F.greatest(F.size("tok") - 1, F.lit(0))),
                F.slice("tok", 2, F.greatest(F.size("tok") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    )

    def stats(ex, top_col, total_col):
        return (
            ex.groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                F.max("c").alias(top_col),
                F.sum("c").alias(total_col),
                F.count(F.lit(1)).alias(f"_distinct_{total_col}"),
            )
        )

    u = stats(uni, "top_uni", "n_uni").withColumnRenamed("_distinct_n_uni", "n_distinct")
    b = stats(big, "top_big", "n_big").drop("_distinct_n_big")
    out = (
        u.join(b, on="doc_id", how="left")
        .select(
            "doc_id",
            F.col("n_uni").alias("n_tokens"),
            (F.col("top_uni") / F.col("n_uni")).alias("top_token_frac"),
            F.coalesce(F.col("top_big") / F.col("n_big"), F.lit(0.0)).alias("top_bigram_frac"),
            (F.col("n_distinct") / F.col("n_uni")).alias("distinct_frac"),
        )
        .withColumn(
            "keep",
            (F.col("top_token_frac") <= 0.2)
            & (F.col("top_bigram_frac") <= 0.4)
            & (F.col("distinct_frac") >= 0.3),
        )
    )
    return out.orderBy("doc_id")


def _rep_oracle() -> str:
    from ironbeam_spark.suite.text_ml import _TOKS_SQL

    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS tok FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(tok) > 0),
    uni AS (SELECT doc_id, unnest(tok) AS g FROM nz),
    big AS (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(tok)-1),
                                         i -> tok[i] || ' ' || tok[i+1])) AS g
            FROM nz WHERE len(tok) > 1),
    us AS (SELECT doc_id, max(c) AS top_uni, sum(c) AS n_uni, count(*) AS n_distinct
           FROM (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY doc_id, g)
           GROUP BY doc_id),
    bs AS (SELECT doc_id, max(c) AS top_big, sum(c) AS n_big
           FROM (SELECT doc_id, g, count(*) AS c FROM big GROUP BY doc_id, g)
           GROUP BY doc_id)
    SELECT us.doc_id,
           CAST(us.n_uni AS BIGINT) AS n_tokens,
           us.top_uni::DOUBLE / us.n_uni::DOUBLE AS top_token_frac,
           coalesce(bs.top_big::DOUBLE / bs.n_big::DOUBLE, 0.0) AS top_bigram_frac,
           us.n_distinct::DOUBLE / us.n_uni::DOUBLE AS distinct_frac,
           (us.top_uni::DOUBLE / us.n_uni::DOUBLE <= 0.2
            AND coalesce(bs.top_big::DOUBLE / bs.n_big::DOUBLE, 0.0) <= 0.4
            AND us.n_distinct::DOUBLE / us.n_uni::DOUBLE >= 0.3) AS keep
    FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
    ORDER BY us.doc_id
    """


QUERIES["q_repetition_filter"].oracle = _rep_oracle()


def _dsir_sql() -> str:
    from ironbeam_spark.suite.text_ml import _TI_SQL, _TOKS_SQL

    ti = _TI_SQL.format("t")
    return f"""
    WITH tk AS (SELECT doc_id, lang,
                  list_transform({_TOKS_SQL}, t -> {ti}) AS tis
                FROM documents),
    fl AS (SELECT doc_id, lang,
             CASE WHEN len(tis) >= 2 THEN
               list_transform(generate_series(1, len(tis) - 1),
                 i -> ((tis[i] * 31 + tis[i+1]) % 100000000000000003) % 256)
             ELSE []::BIGINT[] END AS fs
           FROM tk),
    rawf AS (SELECT doc_id, unnest(fs) AS f FROM fl),
    tgtf AS (SELECT doc_id, unnest(fs) AS f FROM fl WHERE lang = 'en'),
    rc AS (SELECT f, count(*) AS cr FROM rawf GROUP BY f),
    tc AS (SELECT f, count(*) AS ct FROM tgtf GROUP BY f),
    tot AS (SELECT (SELECT count(*) FROM rawf) AS tr,
                   (SELECT count(*) FROM tgtf) AS tt),
    ratio AS (SELECT rc.f,
                ((coalesce(tc.ct, 0) + 1)::DOUBLE / (tot.tt + 256.0))
                  / ((rc.cr + 1)::DOUBLE / (tot.tr + 256.0)) AS r
              FROM rc LEFT JOIN tc ON rc.f = tc.f CROSS JOIN tot),
    perdoc AS (SELECT rawf.doc_id,
                 CAST(count(*) AS BIGINT) AS n_feats,
                 list_sum(list(ratio.r ORDER BY rawf.f, ratio.r)) AS dsir_weight
               FROM rawf JOIN ratio ON rawf.f = ratio.f
               GROUP BY rawf.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
           coalesce(p.dsir_weight, 0.0) AS dsir_weight
    FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """


@query(
    "q_dsir_weights",
    _dsir_sql(),
    bench=True,
    doc="DSIR-style importance weights for data selection (hashed word-bigram features mod 256, add-one smoothed target/raw distribution ratios, target = lang='en'; Xie et al. 2023): rational ratio-sum scoring folded in sorted feature order so the doubles are bit-exact cross-engine (operators/sampling.dsir_importance_weights; north-star training-data pipeline)",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.sampling import dsir_importance_weights

    docs = read_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    return dsir_importance_weights(docs, target, "doc_id", "text").orderBy("doc_id")


# Frozen BPE merge table: trained ONCE by operators.bpe.bpe_train
# (24 merges, sf0.01 documents doc_id<200) and committed as a literal so
# the SEGMENTATION pass — deterministic given merges — gets an exact SQL
# oracle.  Training itself is inherently iterative (each round's arg-max
# depends on the previous round's re-tokenized histogram), which DuckDB
# SQL cannot replay; it stays verified merge-for-merge against a
# pure-Python reference implementation in tests/test_bpe.py.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("er", "</w>"), ("n", "</w>"),
    ("s", "t"), ("o", "r"), ("o", "w"), ("ow", "</w>"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("y", "</w>"),
    ("a", "</w>"), ("g", "</w>"), ("i", "n"), ("t", "</w>"),
    ("a", "r"), ("p", "ar"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er</w>"), ("at", "c"), ("atc", "h</w>"),
]


def _assert_bpe_oracle_well_formed(merges: list[tuple[str, str]]) -> None:
    """Import-time guard for the oracle-equivalence precondition (round-7
    advice): the rank-ordered replace chain equals the engine's
    lowest-rank-first loop only when applying a LATER merge can never
    create a new occurrence of an EARLIER pair.  A merge creates new
    adjacencies only around its output symbol ``a+b``, so it suffices
    that every output is distinct from all other outputs and from every
    earlier pair's constituents (e.g. ``(a, bc)`` and ``(ab, c)`` both
    yielding ``'abc'`` would violate it).  True of this committed table;
    re-freeze a table only if it still satisfies this check."""
    # explicit raises, not assert: a guard that vanishes under python -O
    # is no guard at all
    outputs = [a + b for a, b in merges]
    if len(set(outputs)) != len(outputs):
        raise ValueError(
            "BPE oracle precondition broken: duplicate merge outputs "
            f"{[o for o in outputs if outputs.count(o) > 1]}"
        )
    for j, out in enumerate(outputs):
        earlier = {s for a, b in merges[:j] for s in (a, b)}
        if out in earlier:
            raise ValueError(
                f"BPE oracle precondition broken: merge {j} output {out!r} "
                "equals a constituent of an earlier merge — a later pass "
                "could recreate that earlier pair and the replace-chain "
                "oracle diverges from the lowest-rank-first engine loop"
            )


_assert_bpe_oracle_well_formed(_BPE_MERGES)


def _bpe_chain_sql(word_expr: str) -> str:
    """DuckDB expression segmenting ``word_expr`` with ``_BPE_MERGES``:
    symbols separated by DOUBLE chr(31) boundaries, merges applied as a
    chain of left-to-right non-overlapping ``replace`` calls IN RANK
    ORDER.

    Rank-order sequential application is provably identical to the
    engine's lowest-rank-first loop (operators/bpe.bpe_segment) for merge
    tables satisfying the well-formedness invariant asserted at import by
    ``_assert_bpe_oracle_well_formed``: every merge output is distinct
    from all other outputs and from every earlier pair's constituents.
    Under that invariant applying a later merge can never create a new
    occurrence of an earlier pair (new adjacencies only form around the
    output symbol), so one pass per rank suffices — an independent
    formulation, not a transliteration, which is what makes it an oracle.
    (Without the invariant the claim fails: ``(a, bc)`` and ``(ab, c)``
    both yielding ``'abc'`` lets a later merge recreate an earlier pair.)

    The boundary is TWO separator chars and each replace pattern
    ``<sep>a<sep><sep>b<sep>`` consumes exactly one separator from each
    outer boundary: the full inner boundary anchors both symbol ends (a
    single-separator scheme would false-match when the following symbol
    merely STARTS with ``b``, e.g. ``i|n</w>`` vs pair ``(i, n)``), and
    the surviving outer halves keep back-to-back occurrences matchable
    after the scan resumes past the replacement (``a a a a`` under
    ``(a, a)`` must give ``aa aa``)."""

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # "the" -> ^^t^^h^^e^^</w>^^ where ^ = chr(31)
    # (regexp_replace prefixes EVERY char, including the first)
    expr = (
        f"regexp_replace({word_expr}, '(.)', chr(31) || chr(31) || '\\1', 'g')"
        f" || chr(31) || chr(31) || '</w>' || chr(31) || chr(31)"
    )
    for a, b in _BPE_MERGES:
        pat = (
            f"chr(31) || {lit(a)} || chr(31) || chr(31) || {lit(b)} || chr(31)"
        )
        rep = f"chr(31) || {lit(a + b)} || chr(31)"
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


def _bpe_sql() -> str:
    chain_w = _bpe_chain_sql("word")
    chain_first = _bpe_chain_sql("words[1]")
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    lw AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM d
    ),
    w AS (SELECT doc_id, unnest(words) AS word FROM lw),
    seg AS (SELECT doc_id, {chain_w} AS s FROM w),
    agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_words,
             -- #separators = 2*(symbols+1) per word
             sum((length(s) - length(replace(s, chr(31), ''))) // 2 - 1)::BIGINT
               AS n_bpe_tokens
      FROM seg GROUP BY doc_id
    ),
    fw AS (
      SELECT doc_id,
             replace(substr({chain_first}, 3,
                            length({chain_first}) - 4),
                     chr(31) || chr(31), '|') AS first_tokens
      FROM lw WHERE len(words) > 0
    )
    SELECT d.doc_id,
           coalesce(agg.n_words, 0) AS n_words,
           coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
           coalesce(fw.first_tokens, '') AS first_tokens
    FROM d LEFT JOIN agg USING (doc_id) LEFT JOIN fw USING (doc_id)
    ORDER BY d.doc_id
    """


@query(
    "q_bpe_tokenize",
    None,  # assembled below (_bpe_sql — needs the frozen merge literals)
    doc="BPE segmentation with a frozen committed merge table (Sennrich et al. 2016): Arrow-batched lowest-rank-first application per word over the corpus, per-doc word/bpe-token counts + first-word segmentation; oracle replays the merges as a rank-ordered replace chain — equivalent by the well-formedness of trained merge tables (operators/bpe; training itself is verified merge-for-merge against a pure-Python reference in tests/test_bpe.py; north-star training-data pipeline)",
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.bpe import bpe_segment

    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return bpe_segment(docs, "doc_id", "text", _BPE_MERGES).orderBy("doc_id")


QUERIES["q_bpe_tokenize"].oracle = _bpe_sql()


def _pretrain_sql() -> str:
    from ironbeam_spark.suite.text_ml import (
        _MINHASH_CTES,
        _TI_SQL,
        _TOKS_SQL,
        _lang_case_sql,
    )

    ti = _TI_SQL.format("t")
    # the shared minhash chain reads FROM documents; re-root it at the
    # exact-dedup survivors so the stages compose exactly like the engine
    minhash = _MINHASH_CTES.replace("FROM documents", "FROM exact")
    return f"""
    WITH RECURSIVE scored0 AS (
      SELECT doc_id, text, source,
             {_lang_case_sql()} AS lang_pred,
             CASE WHEN len({_TOKS_SQL}) BETWEEN 10 AND 100000
                  THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - len({_TOKS_SQL}) + 1)::DOUBLE
                         / len({_TOKS_SQL})::DOUBLE BETWEEN 2.0 AND 12.0
                    THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
             + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                         / length(text)::DOUBLE <= 0.2
                    THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS quality
      FROM documents
    ),
    kept AS (SELECT doc_id, text, source FROM scored0
             WHERE lang_pred = 'en' AND quality >= 0.6),
    exact AS (
      SELECT min(doc_id) AS doc_id,
             arg_min(text, doc_id) AS text,
             arg_min(source, doc_id) AS source
      FROM kept GROUP BY md5(lower(trim(text)))
    ),
    {minhash},
    e2 AS (SELECT id_a AS s, id_b AS d FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
    r(n, m) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM e2)
      UNION
      SELECT r.n, e2.d FROM r JOIN e2 ON r.m = e2.s
    ),
    comp AS (SELECT n AS node, min(m) AS component FROM r GROUP BY n),
    survivors AS (
      SELECT ex.* FROM exact ex
      LEFT JOIN (SELECT node FROM comp WHERE node <> component) l
        ON ex.doc_id = l.node
      WHERE l.node IS NULL
    ),
    tk AS (SELECT doc_id, source,
             list_transform({_TOKS_SQL}, t -> {ti}) AS tis,
             len({_TOKS_SQL})::BIGINT AS n_toks
           FROM survivors),
    fl AS (SELECT doc_id, source, n_toks,
             CASE WHEN len(tis) >= 2 THEN
               list_transform(generate_series(1, len(tis) - 1),
                 i -> ((tis[i] * 31 + tis[i+1]) % 100000000000000003) % 256)
             ELSE []::BIGINT[] END AS fs
           FROM tk),
    rawf AS (SELECT doc_id, unnest(fs) AS f FROM fl),
    tgtf AS (SELECT doc_id, unnest(fs) AS f FROM fl WHERE source = 'src1'),
    rc AS (SELECT f, count(*) AS cr FROM rawf GROUP BY f),
    tc AS (SELECT f, count(*) AS ct FROM tgtf GROUP BY f),
    tot AS (SELECT (SELECT count(*) FROM rawf) AS tr,
                   (SELECT count(*) FROM tgtf) AS tt),
    ratio AS (SELECT rc.f,
                ((coalesce(tc.ct, 0) + 1)::DOUBLE / (tot.tt + 256.0))
                  / ((rc.cr + 1)::DOUBLE / (tot.tr + 256.0)) AS rr
              FROM rc LEFT JOIN tc ON rc.f = tc.f CROSS JOIN tot),
    perdoc AS (SELECT rawf.doc_id,
                 list_sum(list(ratio.rr ORDER BY rawf.f, ratio.rr)) AS w
               FROM rawf JOIN ratio ON rawf.f = ratio.f
               GROUP BY rawf.doc_id)
    SELECT fl.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(fl.n_toks) AS BIGINT) AS total_tokens,
           list_sum(list(coalesce(perdoc.w, 0.0) ORDER BY fl.doc_id)) AS weight_sum
    FROM fl LEFT JOIN perdoc ON fl.doc_id = perdoc.doc_id
    GROUP BY fl.source ORDER BY fl.source
    """


@query(
    "q_pretrain_pipeline",
    _pretrain_sql(),
    doc="flagship end-to-end pretraining-data pipeline composite: language-ID + quality filter -> exact content dedup (min-id winner) -> MinHash-LSH near-dup pairs -> pointer-jumped connected components -> drop group losers -> DSIR importance weights (target = the curated 'src1' slice) -> per-source corpus stats with an order-fixed weight fold; every stage is the library operator the standalone queries verify, and the oracle replays the full chain (recursive-CTE components, sorted-fold weight sums) bit-exactly",
)
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import lang_id, quality_score, token_count
    from ironbeam_spark.operators.dedup import (
        RECOMMENDED_MAX_BAND_BUCKET,
        dedup_components,
        dedup_exact,
        minhash_dedup_pairs,
    )
    from ironbeam_spark.operators.sampling import dsir_importance_weights

    docs = read_table(spark, sf_dir, "documents")
    kept = docs.where(
        (lang_id("text") == "en") & (quality_score("text") >= 0.6)
    ).select("doc_id", "text", "source")
    exact = dedup_exact(
        kept.withColumn("fp", F.md5(F.lower(F.trim("text")))), ["fp"], "doc_id"
    ).select("doc_id", "text", "source")
    pairs = minhash_dedup_pairs(
        exact, "doc_id", "text", shingle_words=3, k=8, bands=4, threshold=0.5,
        max_band_bucket=RECOMMENDED_MAX_BAND_BUCKET,
    )
    losers = (
        dedup_components(pairs)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    survivors = exact.join(losers, on="doc_id", how="left_anti")
    weights = dsir_importance_weights(
        survivors, survivors.where(F.col("source") == "src1"), "doc_id", "text"
    )
    return (
        survivors.select("doc_id", "source", token_count("text").alias("_nt"))
        .join(weights.select("doc_id", "dsir_weight"), on="doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct(F.col("doc_id"), F.col("dsir_weight")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["dsir_weight"],
            ).alias("weight_sum"),
        )
        .orderBy("source")
    )


@query(
    "q_tfidf_topterms",
    # Rational idf = (N+1)/(df+1) — the scoring-family member expressible
    # bit-exactly cross-engine (ln is 1-ulp divergent between JVM and
    # DuckDB libm; same documented trade as q_bm25_rational/q_dsir_weights).
    # Per-term ranking is identical (monotone transform of log-idf).
    """
    WITH d AS (SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
               FROM documents WHERE doc_id < 300),
    n AS (SELECT count(*) AS nd FROM d),
    tfx AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tfx GROUP BY doc_id, term),
    dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq
            FROM tfc GROUP BY term),
    scored AS (SELECT t.doc_id, t.term,
                      t.tf::DOUBLE * ((n.nd + 1)::DOUBLE / (dfc.dfreq + 1)::DOUBLE)
                        AS score
               FROM tfc t JOIN dfc ON t.term = dfc.term CROSS JOIN n),
    ranked AS (SELECT doc_id, term, score,
                      CAST(row_number() OVER (PARTITION BY doc_id
                                              ORDER BY score DESC, term) AS BIGINT)
                        AS rank
               FROM scored)
    SELECT doc_id, term, score, rank FROM ranked
    WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    doc="per-document TF-IDF top terms (rational idf = (N+1)/(df+1), bit-exact cross-engine): token explode -> (doc, term) partial+final counts -> term-keyed document-frequency join -> per-doc top-3 window; the df table shuffles on term (never collected), N is the one bounded scalar (north-star text analysis)",
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ironbeam_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    n_docs = docs.count()  # bounded scalar (same class as k-means centers)
    tfc = (
        docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    scored = tfc.join(dfc, on="term").select(
        "doc_id",
        "term",
        (
            F.col("tf").cast("double")
            * (F.lit(float(n_docs + 1)) / (F.col("dfreq") + 1).cast("double"))
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
        .orderBy("doc_id", "rank")
    )


# -- exact substring dedup (round 6): Lee et al. 2022, n-gram form ----------
# operators/substring.py is the scale-path implementation (positional gram
# hashes -> one combinable aggregate -> one join -> per-doc islands); these
# queries pin it to a same-arithmetic DuckDB oracle over the full documents
# table.  No reference counterpart (north-star LLM dedup family).


def _gram_sql(n: int) -> str:
    """Nested rolling-hash SQL mirroring substring.positional_token_ngrams:
    the identical (acc*31 + h) % SHINGLE_MOD fold over hs[j..j+n-1]."""
    from ironbeam_spark.operators.dedup import SHINGLE_MOD

    acc = "hs[j]"
    for k in range(1, n):
        acc = f"(({acc})*31 + hs[j+{k}]) % {SHINGLE_MOD}"
    return acc


def _substring_ctes(n: int) -> str:
    """Shared CTE chain ending in spans(doc_id, s, e) — keep-first semantics,
    packed (doc_id * 2^24 + pos) canonical winner, gaps-and-islands merge."""
    from ironbeam_spark.operators.substring import POS_PACK_BITS
    from ironbeam_spark.suite.text_ml import _TI_SQL, _TOKS_SQL

    ti = _TI_SQL.format("t")
    return f"""
    base AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    toks AS (SELECT doc_id, ts, list_transform(ts, t -> {ti}) AS hs FROM base),
    grams AS (
      SELECT doc_id, j - 1 AS pos, {_gram_sql(n)} AS gh,
             doc_id * {1 << POS_PACK_BITS} + (j - 1) AS pk
      FROM toks, unnest(generate_series(1, len(hs) - {n - 1})) AS u(j)
      WHERE len(hs) >= {n}
    ),
    win AS (SELECT gh, min(pk) AS w FROM grams GROUP BY gh),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN win ON g.gh = win.gh
             WHERE g.pk <> win.w),
    isl AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {n}
                   THEN 1 ELSE 0 END AS brk
            FROM hits),
    gid AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM isl),
    spans AS (SELECT doc_id, min(pos) AS s, max(pos) + {n} AS e
              FROM gid GROUP BY doc_id, grp)"""


@query(
    "q_substring_spans",
    f"""
    WITH {_substring_ctes(8)}
    SELECT doc_id, CAST(s AS BIGINT) AS start_tok, CAST(e AS BIGINT) AS end_tok
    FROM spans ORDER BY doc_id, start_tok
    """,
    bench=True,
    doc="exact substring-duplication spans (Lee et al. 2022, token 8-gram form): positional rolling-hash grams -> one map-side-combinable winner/count aggregate -> hash join back -> per-doc gaps-and-islands merge; keep-first semantics (the corpus-wide first occurrence of each gram is never marked), 0-based token indices, end exclusive (north-star LLM dedup; suffix arrays don't distribute, gram hashing does)",
)
def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.substring import duplicated_ngram_spans

    docs = read_table(spark, sf_dir, "documents")
    return duplicated_ngram_spans(docs, "doc_id", "text", n=8).orderBy(
        "doc_id", "start_tok"
    )


@query(
    "q_substring_scrub",
    f"""
    WITH {_substring_ctes(8)},
    tok_pos AS (SELECT doc_id, unnest(ts) AS t,
                       generate_subscripts(ts, 1) - 1 AS pos
                FROM toks),
    kept AS (
      SELECT tp.doc_id, tp.t, tp.pos FROM tok_pos tp
      WHERE NOT EXISTS (SELECT 1 FROM spans sp
                        WHERE sp.doc_id = tp.doc_id
                          AND tp.pos >= sp.s AND tp.pos < sp.e)
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY pos) AS clean
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.ts) AS BIGINT) AS n_tokens,
           CAST(len(b.ts) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(a.clean, '')) AS clean_md5
    FROM base b LEFT JOIN agg a USING (doc_id)
    ORDER BY b.doc_id
    """,
    doc="exact substring scrub: remove every redundant duplicated 8-gram span (keep-first — exactly one copy of each duplicated window survives corpus-wide), report per-doc token/removed counts and the md5 of the whitespace-normalized scrubbed text; the scrub itself is an expression-only in-array filter, no second shuffle beyond the span build",
)
def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.substring import scrub_duplicated_spans

    docs = read_table(spark, sf_dir, "documents")
    out = scrub_duplicated_spans(docs, "doc_id", "text", n=8)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    ).orderBy("doc_id")


@query(
    "q_collocations",
    # PMI ranks identically to its ratio argument, so the score is
    # (c_ab*N)::DOUBLE / (c_a*c_b)::DOUBLE — exact int64 products and ONE
    # IEEE division, bit-exact cross-engine (ln() is not, SCALE.md).
    """
    WITH toks AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents
    ),
    uc AS (SELECT t, count(*) AS c FROM (SELECT unnest(ts) AS t FROM toks)
           GROUP BY t),
    n AS (SELECT sum(c) AS n FROM uc),
    bc AS (
      SELECT ts[i] AS a, ts[i + 1] AS b, count(*) AS c_ab
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 2
      GROUP BY ts[i], ts[i + 1]
      HAVING count(*) >= 5
    )
    SELECT bc.a, bc.b, CAST(bc.c_ab AS BIGINT) AS c_ab,
           (bc.c_ab * n.n)::DOUBLE / (ua.c * ub.c)::DOUBLE AS pmi_ratio
    FROM bc CROSS JOIN n
    JOIN uc ua ON bc.a = ua.t
    JOIN uc ub ON bc.b = ub.t
    ORDER BY pmi_ratio DESC, bc.a, bc.b LIMIT 20
    """,
    doc="top-20 adjacent-bigram collocations by PMI over the lowercased corpus (operators/frequency.collocations_pmi): linear token/bigram explodes, combinable counts, vocabulary-keyed hash joins, one bounded total-count scalar, TakeOrdered top-k with bigram-text tiebreak; PMI emitted as the exact rational ratio (c_ab*N)/(c_a*c_b) under one IEEE division so the oracle hash-matches (north-star text analysis)",
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.frequency import collocations_pmi

    docs = read_table(spark, sf_dir, "documents")
    return collocations_pmi(docs, "text", min_count=5, top_k=20)


# -- corpus-wide line-level dedup (round 6): C4 / MassiveText style ---------
# operators/line_dedup.py is the scale path (line explode -> one combinable
# keep-first winner aggregate -> one join back -> per-doc reassembly).  The
# synthetic corpus is single-line, so the query first reconstructs a
# deterministic multi-line view (8-token lines) — same generate-then-process
# pattern as the tar/PNG composites — and the tiny vocabulary makes whole
# lines collide corpus-wide, exercising the hot-line 1:N join path.


@query(
    "q_line_dedup",
    """
    WITH base AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x <> '') AS ts
                  FROM documents),
    ml AS (
      SELECT doc_id,
        list_transform(
          generate_series(0, greatest(CAST(ceil(len(ts) / 8.0) AS INT), 1) - 1),
          i -> array_to_string(ts[i*8+1 : i*8+8], ' ')) AS lines
      FROM base
    ),
    lp AS (SELECT doc_id, unnest(lines) AS line,
                  generate_subscripts(lines, 1) - 1 AS pos
           FROM ml),
    el AS (SELECT doc_id, pos, line, md5(line) AS k,
                  doc_id * 16777216 + pos AS pk
           FROM lp WHERE len(line) >= 1),
    win AS (SELECT k, min(pk) AS w FROM el GROUP BY k),
    surv AS (
      SELECT e.doc_id, e.pos, e.line FROM el e
      JOIN win ON e.k = win.k AND e.pk = win.w
      UNION ALL
      SELECT doc_id, pos, line FROM lp WHERE len(line) < 1
    ),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean
            FROM surv GROUP BY doc_id)
    SELECT m.doc_id, CAST(len(m.lines) AS BIGINT) AS n_lines,
           CAST(len(m.lines) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(a.clean, '')) AS clean_md5
    FROM ml m LEFT JOIN agg a USING (doc_id)
    ORDER BY m.doc_id
    """,
    bench=True,
    doc="corpus-wide line-level keep-first dedup (operators/line_dedup.line_dedup_keep_first — the C4/MassiveText boilerplate-removal pass, public papers): deterministic 8-token line reconstruction, md5 line keys, ONE map-side-combinable min(packed id*2^24+pos) winner aggregate (a 10^8-occurrence boilerplate line partial-combines instead of hot-keying a reducer), 1:N join back, per-doc bounded reassembly; reports per-doc line/removed counts + md5 of the scrubbed text (north-star LLM dedup family, no reference analogue)",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.functions.text import tokens
    from ironbeam_spark.operators.line_dedup import line_dedup_keep_first

    docs = read_table(spark, sf_dir, "documents")
    ts = tokens("text")
    nl = F.greatest(
        F.ceil(F.size(ts) / F.lit(8.0)).cast("int"), F.lit(1)
    )
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(ts, i * F.lit(8) + 1, 8), " "),
    )
    ml = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = line_dedup_keep_first(ml, "doc_id", "text", min_chars=1)
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5("text_clean").alias("clean_md5"),
    ).orderBy("doc_id")


# -- bigram LM quality scoring (round 6): operators/ngram_lm.py -------------
# CCNet-shaped perplexity filtering with rational probabilities (the ln()
# 1-ulp divergence rules out log scores — same documented trade as
# q_bm25_rational).  Train on the lang='en' slice, score every document.


@query(
    "q_lm_score",
    """
    WITH tk AS (SELECT doc_id, lang,
                  list_filter(string_split(lower(text), ' '), x -> x <> '')
                    AS ts
                FROM documents),
    pr AS (SELECT doc_id, i AS pos, ts[i] AS v, ts[i+1] AS w
           FROM tk, unnest(generate_series(1, len(ts) - 1)) AS u(i)
           WHERE len(ts) >= 2),
    uni AS (SELECT t AS term, count(*) AS c_uni
            FROM (SELECT unnest(ts) AS t FROM tk WHERE lang = 'en')
            GROUP BY t),
    big AS (SELECT ts[i] AS v, ts[i+1] AS w, count(*) AS c_big
            FROM tk, unnest(generate_series(1, len(ts) - 1)) AS u(i)
            WHERE lang = 'en' AND len(ts) >= 2
            GROUP BY 1, 2),
    tot AS (SELECT sum(c_uni)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni),
    sc AS (SELECT pr.doc_id, pr.pos,
             big.c_big IS NOT NULL AS hit,
             uw.c_uni IS NULL AS oov,
             CASE WHEN big.c_big IS NOT NULL
                  THEN big.c_big::DOUBLE / uv.c_uni::DOUBLE
                  ELSE 0.4 * ((coalesce(uw.c_uni, 0) + 1)::DOUBLE
                              / (tot.n + tot.v)) END AS p
           FROM pr
           LEFT JOIN big ON pr.v = big.v AND pr.w = big.w
           LEFT JOIN uni uw ON pr.w = uw.term
           LEFT JOIN uni uv ON pr.v = uv.term
           CROSS JOIN tot),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bigram_hits,
             CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             list_sum(list(p ORDER BY pos)) AS score_sum
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(pd.n_scored, 0) AS n_scored,
           coalesce(pd.n_bigram_hits, 0) AS n_bigram_hits,
           coalesce(pd.n_oov, 0) AS n_oov,
           coalesce(pd.score_sum, 0.0) AS score_sum,
           CASE WHEN pd.n_scored > 0
                THEN pd.score_sum / pd.n_scored::DOUBLE END AS score_mean
    FROM documents d LEFT JOIN pd USING (doc_id)
    ORDER BY d.doc_id
    """,
    bench=True,
    doc="bigram-LM quality scoring under stupid backoff (operators/ngram_lm — the CCNet/KenLM perplexity-filter stage, Wenzek et al. 2020 + Brants et al. 2007, rational-probability form: bigram hit = c(v,w)/c(v), backoff = 0.4*add-one-smoothed unigram, OOV hits the same smoothed formula; ln() is 1-ulp divergent cross-engine so the score is the mean probability itself, association-pinned): vocabulary-keyed count tables trained on the lang='en' slice (never force-broadcast — a web-scale bigram table exceeds driver memory; AQE picks the strategy), three linear hash joins, one bounded totals row, per-doc position-ordered fold (north-star quality-filter family)",
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.ngram_lm import (
        bigram_counts,
        lm_score_stupid_backoff,
    )

    docs = read_table(spark, sf_dir, "documents")
    uni, big = bigram_counts(docs.where(F.col("lang") == "en"), "text")
    return lm_score_stupid_backoff(
        docs, "doc_id", "text", uni, big, alpha=0.4
    ).orderBy("doc_id")



# -- unicode normalization (round 6): operators/unicode_norm.py -------------


@query(
    "q_unicode_norm",
    # constructed combining-sequence inputs: k copies of e+U+0301 (composes
    # to U+00E9), a precomposed U+00E9, and n copies of n+U+0303 (-> U+00F1);
    # CPython unicodedata and DuckDB's utf8proc implement the same stable
    # canonical composition, which this oracle pins end to end
    """
    WITH r AS (
      SELECT doc_id,
             repeat('e' || chr(769), 1 + doc_id % 4) || chr(233)
               || repeat('n' || chr(771), doc_id % 3) AS raw
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS len_raw,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_norm,
           length(raw) <> length(nfc_normalize(raw)) AS changed,
           md5(nfc_normalize(raw)) AS norm_md5
    FROM r ORDER BY doc_id
    """,
    doc="NFC unicode normalization (operators/unicode_norm — UAX #15 canonical composition, the pass exact-match dedup/contamination needs first): arrow_udf over unicodedata (no Catalyst normalizer exists; stateless row-local map, no shuffle, pipelined with the scan); oracle constructs decomposed combining sequences and pins CPython/utf8proc agreement (north-star text hygiene)",
)
def q_unicode_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.unicode_norm import unicode_normalize

    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    raw = F.concat(
        F.expr("repeat('e' || '́', 1 + doc_id % 4)"),
        F.lit("é"),
        F.expr("repeat('n' || '̃', doc_id % 3)"),
    )
    normed = unicode_normalize(raw, "NFC")
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("len_raw"),
        F.length(normed).cast("long").alias("len_norm"),
        (F.length(raw) != F.length(normed)).alias("changed"),
        F.md5(normed).alias("norm_md5"),
    ).orderBy("doc_id")
