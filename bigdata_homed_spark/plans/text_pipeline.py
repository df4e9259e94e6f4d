"""Training-data text pipeline: dedup, fingerprinting, quality, language.

These are the operators a 100 TB pretraining-data pipeline needs on top of
the reference's report surface (BASELINE.json north star).  All hot paths are
built-in column expressions; the only shuffles are on compact keys (md5
hashes, shingle strings, band buckets) — never on raw document text.

Scale design per operator:

- **exact dedup** — shuffle on md5(text) (16 bytes/row, uniform): optimal.
- **n-gram Jaccard** — exact pairwise via shingle-inverted-index self-join.
  Exact but candidate-quadratic in shingle frequency; the scale path is
  ``minhash_lsh_pairs`` below, which bounds candidates by banding.
- **MinHash+LSH** — signature is a per-row projection; candidate generation
  shuffles on (band_idx, band_key); verification touches only candidates.
  This is the standard web-scale near-dup design (e.g. 12 hashes, 6 bands).
- **SimHash** — per-row 60-bit signature; near-pair search by 4-chunk
  banding is *exact* for hamming ≤ 3 by pigeonhole.
- **quality/lang/tokens** — pure narrow projections.

Everything is verified bit-for-bit against DuckDB thanks to the md5-derived
portable hashes (functions/hashing.py) — no Spark-murmur3 anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, minhash_signature, shingle_hashes
from ..functions.text import (
    EN_STOPWORDS,
    bpe_token_estimate,
    fingerprint,
    lang_guess,
    quality_score,
    token_count,
    tokens,
    word_shingles,
)
from ..operators.graph import min_label_components, symmetrize
from ..session import session_dir
from .core_relational import dsum
from .registry import query

# ---------------------------------------------------------------------------
# shared oracle SQL fragments (must mirror functions/text.py exactly)
TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"
STOPLIST = "[" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
SHINGLES3 = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks)-2, 1)),"
    " i -> array_to_string(list_slice(toks, i, i+2), ' ')))"
)


def _hash64_sql(expr: str, seed: str = "") -> str:
    return f"cast(('0x' || substr(md5('{seed}' || {expr}), 1, 15)) as bigint)"


# --------------------------------------------------------------------------
# Exact dedup: hash-group on md5(text), keep lowest doc_id.
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keeper_id,
           count(*)    AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


# --------------------------------------------------------------------------
# Token accounting: whitespace tokens + BPE-ish estimate per document.
@query(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           cast(len({TOKS}) as bigint) AS n_tokens,
           cast((length(text) + 3) // 4 as bigint) AS bpe_tokens,
           cast(length(text) as bigint) AS n_chars_actual
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_token_estimate("text").alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


# --------------------------------------------------------------------------
# Quality scoring + language heuristic, reported per source.
_QUALITY_SQL = f"""
      round(0.5 * least(1.0, cast(len(toks) as double) / 100.0)
          + 0.4 * least(1.0, 4.0 * (cast(len(list_filter(toks, t -> list_contains({STOPLIST}, t))) as double)
                                    / cast(greatest(len(toks), 1) as double)))
          + 0.1 * (1.0 - cast(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) as double)
                         / cast(greatest(length(text), 1) as double)), 6)
"""
_STOP_RATIO_SQL = (
    f"(cast(len(list_filter(toks, t -> list_contains({STOPLIST}, t))) as double)"
    " / cast(greatest(len(toks), 1) as double))"
)


@query(
    "quality_by_source",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CASE WHEN {_STOP_RATIO_SQL} >= 0.08 THEN 'en' ELSE 'other' END AS lang_guess,
             {_QUALITY_SQL} AS quality
      FROM (SELECT source, text, {TOKS} AS toks FROM documents)
    )
    SELECT source, lang_guess,
           count(*) AS n_docs,
           cast(cast(sum(cast(quality as decimal(27,6))) as varchar) as double) / count(*) AS avg_quality,
           cast(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) as bigint) AS n_pass
    FROM scored GROUP BY source, lang_guess
    """,
)
def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        lang_guess("text").alias("lang_guess"),
        quality_score("text").alias("quality"),
    )
    return scored.groupBy("source", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("quality").cast("decimal(27,6)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_quality"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_pass"),
    )


# --------------------------------------------------------------------------
# Bag-of-words fingerprint dedup (order/punct/repeat-insensitive).
@query(
    "fingerprint_dedup",
    oracle=f"""
    SELECT md5(array_to_string(list_sort(list_distinct({TOKS})), ' ')) AS fp,
           min(doc_id) AS keeper_id,
           count(*)    AS n_docs
    FROM documents GROUP BY 1
    """,
)
def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs via shingle inverted index.
@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docsh),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    docsh = docs.select("doc_id", word_shingles("text", 3).alias("sh"))
    sh = docsh.select("doc_id", F.explode("sh").alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa").withColumnRenamed("doc_id", "sa_doc").withColumnRenamed("n", "na")
    sb = sizes.alias("sb").withColumnRenamed("doc_id", "sb_doc").withColumnRenamed("n", "nb")
    jac = F.col("inter") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.join(sa, F.col("d1") == F.col("sa_doc"))
        .join(sb, F.col("d2") == F.col("sb_doc"))
        .where(jac >= 0.5)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding (the web-scale near-dup path): 12 seeded min-hashes,
# 6 bands × 2 rows; candidates share ≥1 band; verified with exact Jaccard.
NUM_HASHES = 12
BAND_ROWS = 2
NUM_BANDS = NUM_HASHES // BAND_ROWS


def _minhash_sql() -> str:
    """Mirror of functions/hashing.minhash_signature: one md5 per shingle,
    XOR-key permutations per hash."""
    from ..functions.hashing import xor_keys

    keys = xor_keys(NUM_HASHES)
    base = f"list_transform(sh, s -> {_hash64_sql('s')})"
    mins = ",".join(f"list_min(list_transform({base}, h -> xor(h, {k})))" for k in keys)
    return f"[{mins}]"


@query(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sigs AS (SELECT doc_id, sh, {_minhash_sql()} AS sig FROM docsh),
    bands AS (
      SELECT doc_id, sh, b.band_idx,
             md5(cast(sig[b.band_idx*{BAND_ROWS}+1] as varchar) || '_' ||
                 cast(sig[b.band_idx*{BAND_ROWS}+2] as varchar)) AS band_key
      FROM sigs, (SELECT unnest(generate_series(0, {NUM_BANDS - 1})) AS band_idx) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.d1, c.d2,
             cast(len(list_intersect(x.sh, y.sh)) as double)
               / cast(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) as double) AS jaccard
      FROM cands c JOIN docsh x ON x.doc_id = c.d1 JOIN docsh y ON y.doc_id = c.d2
    )
    SELECT d1, d2, round(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.5
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # parquet gives one partition per file; spread the (CPU-bound) shingle
    # hashing across cores, and cache the shingle table — it is read three
    # times (banding + both sides of the verification join).  At 100 TB this
    # caching step is "materialize signatures to a staging table" instead.
    docsh = (
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", word_shingles("text", 3).alias("sh"))
        .cache()
    )
    sigs = docsh.withColumn("hs", shingle_hashes(F.col("sh"))).withColumn(
        "sig", minhash_signature(F.col("hs"), NUM_HASHES)
    ).drop("hs")
    bands = sigs.select(
        "doc_id",
        "sh",
        F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("band_idx"),
        "sig",
    ).select(
        "doc_id",
        "sh",
        "band_idx",
        F.md5(
            F.concat_ws(
                "_",
                F.element_at("sig", F.col("band_idx") * BAND_ROWS + 1).cast("string"),
                F.element_at("sig", F.col("band_idx") * BAND_ROWS + 2).cast("string"),
            )
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("d1"), F.col("band_idx").alias("bi"), F.col("band_key").alias("bk")
    )
    b = bands.select(
        F.col("doc_id").alias("d2"), F.col("band_idx").alias("bi2"), F.col("band_key").alias("bk2")
    )
    cands = (
        a.join(b, (F.col("bi") == F.col("bi2")) & (F.col("bk") == F.col("bk2")) & (F.col("d1") < F.col("d2")))
        .select("d1", "d2")
        .distinct()
    )
    x = docsh.select(F.col("doc_id").alias("xd"), F.col("sh").alias("xsh"))
    y = docsh.select(F.col("doc_id").alias("yd"), F.col("sh").alias("ysh"))
    inter = F.size(F.array_intersect("xsh", "ysh")).cast("double")
    union = (F.size("xsh") + F.size("ysh")).cast("double") - inter
    jac = inter / union
    return (
        cands.join(x, F.col("d1") == F.col("xd"))
        .join(y, F.col("d2") == F.col("yd"))
        .where(jac >= 0.5)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# End-to-end dedup decision: exact dups + minhash near-dups feed one greedy
# keeper policy (drop any doc with an equal-or-near duplicate of smaller
# id), then a per-source retention report — the shape of a real pretraining
# data-pruning pass (candidates → verify → decide → account).
@query(
    "dedup_decisions",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, source, {SHINGLES3} AS sh
      FROM (SELECT doc_id, source, text, {TOKS} AS toks FROM documents)
    ),
    sigs AS (SELECT doc_id, sh, {_minhash_sql()} AS sig FROM docsh),
    bands AS (
      SELECT doc_id, sh, b.band_idx,
             md5(cast(sig[b.band_idx*{BAND_ROWS}+1] as varchar) || '_' ||
                 cast(sig[b.band_idx*{BAND_ROWS}+2] as varchar)) AS band_key
      FROM sigs, (SELECT unnest(generate_series(0, {NUM_BANDS - 1})) AS band_idx) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    near AS (
      SELECT c.d1, c.d2
      FROM cands c JOIN docsh x ON x.doc_id = c.d1 JOIN docsh y ON y.doc_id = c.d2
      WHERE cast(len(list_intersect(x.sh, y.sh)) as double)
            / cast(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) as double) >= 0.5
    ),
    dropped AS (SELECT DISTINCT d2 AS doc_id FROM near)
    SELECT d.source,
           count(*) AS n_docs,
           cast(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) as bigint) AS n_kept,
           cast(sum(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END) as bigint) AS n_dropped
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
    """,
)
def dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    near = minhash_lsh_pairs(spark, sf_dir)  # (d1 < d2, jaccard >= 0.5)
    dropped = near.select(F.col("d2").alias("doc_id")).distinct()
    marked = docs.join(dropped.withColumn("is_dup", F.lit(1)), "doc_id", "left")
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("is_dup").isNull(), 0).otherwise(1)).cast("bigint").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
# PII scrubbing: regexp-based email/URL redaction.  Patterns use only
# constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, +, no lookaround.  The synthetic corpus has
# no PII, so the query plants deterministic PII first and then proves the
# scrubber removes exactly what was planted.
_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
_URL_RE = "http://[a-z0-9./]+"


@query(
    "pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, source,
             text || ' contact user' || cast(doc_id as varchar) || '@mail.com or http://x.io/p/'
                  || cast(doc_id as varchar) AS text
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, source,
             regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_URL_RE}', '<URL>', 'g') AS clean
      FROM planted
    )
    SELECT source,
           count(*) AS n_docs,
           cast(sum(len(regexp_extract_all(clean, '<EMAIL>'))) as bigint) AS n_emails,
           cast(sum(len(regexp_extract_all(clean, '<URL>'))) as bigint) AS n_urls,
           cast(sum(CASE WHEN regexp_matches(clean, '{_EMAIL_RE}') OR regexp_matches(clean, '{_URL_RE}')
                         THEN 1 ELSE 0 END) as bigint) AS n_leaks
    FROM scrubbed GROUP BY source
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.com or http://x.io/p/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    scrubbed = planted.select("doc_id", "source", clean.alias("clean"))
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.expr("regexp_extract_all(clean, '<EMAIL>', 0)")))
        .cast("bigint")
        .alias("n_emails"),
        F.sum(F.size(F.expr("regexp_extract_all(clean, '<URL>', 0)")))
        .cast("bigint")
        .alias("n_urls"),
        F.sum(
            F.when(
                F.col("clean").rlike(_EMAIL_RE) | F.col("clean").rlike(_URL_RE), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_leaks"),
    )


# --------------------------------------------------------------------------
# Corpus n-gram frequency: top-20 trigrams by document frequency — the
# frequency table a tokenizer/contamination pipeline builds.  Shuffle moves
# (shingle, doc) pairs, never documents.
@query(
    "ngram_frequency_topk",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docsh),
    df AS (SELECT shingle, count(*) AS doc_freq FROM sh GROUP BY shingle)
    SELECT shingle, doc_freq, cast(rnk as bigint) AS rnk FROM (
      SELECT *, row_number() OVER (ORDER BY doc_freq DESC, shingle) AS rnk FROM df
    ) WHERE rnk <= 20
    """,
)
def ngram_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    from ..operators.aggregate import global_top_k

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle"))
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    # distributed take-ordered over the unbounded shingle keyspace; the rank
    # window then only sees the 20 survivors (operators/aggregate.global_top_k)
    return global_top_k(
        df_counts, [F.col("doc_freq").desc(), F.col("shingle")], 20
    ).withColumn("rnk", F.col("rnk").cast("bigint"))


# --------------------------------------------------------------------------
# Benchmark decontamination: flag training docs sharing any 5-gram with a
# "benchmark" set (here: doc_id < 5).  The join moves 16-byte md5 keys, and
# the benchmark side broadcasts — the standard web-scale decontamination
# shape (exact n-gram overlap via hash semi-join).
@query(
    "decontamination",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks)-4, 1)),
                    i -> md5(array_to_string(list_slice(toks, i, i+4), ' '))))) AS g
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
    contaminated AS (
      SELECT DISTINCT doc_id FROM grams WHERE doc_id >= 5 AND g IN (SELECT g FROM bench)
    )
    SELECT count(*) AS n_train_docs,
           cast(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_contaminated
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.doc_id >= 5
    """,
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(F.transform(word_shingles("text", 5), F.md5)).alias("g")
    )
    bench = grams.where(F.col("doc_id") < 5).select("g").distinct()
    contaminated = (
        grams.where(F.col("doc_id") >= 5)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = docs.where(F.col("doc_id") >= 5).select("doc_id")
    marked = train.join(contaminated.withColumn("hit", F.lit(1)), "doc_id", "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated"),
    )


# --------------------------------------------------------------------------
# SimHash signatures: 60-bit set-simhash from portable token hashes.
@query(
    "simhash_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({TOKS})) AS tok FROM documents
    ),
    th AS (SELECT doc_id, {_hash64_sql('tok')} AS h FROM tok),
    bits AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(generate_series(0, 59)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           cast(sum(CASE WHEN s > 0 THEN (1::bigint << b) ELSE 0 END) as bigint) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode doc × token-hash × bit, two hash aggregations.  (A
    shuffle-free 60-array-fold per-row spelling was measured 4× slower —
    the 60-term expression tree costs more than the narrow shuffles, which
    AQE coalesces; keep the explode.)  Repartition spreads the CPU-bound
    md5 work off the single input file split."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok"))
    th = tok.select("doc_id", hash64(F.col("tok")).alias("h"))
    bits = (
        th.select("doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"))
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(h, b) & 1) = 1"), 1).otherwise(-1)
            ).alias("s")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), b)")).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("simhash")
    )


# --------------------------------------------------------------------------
# SimHash near-pairs, exact for hamming ≤ 3 via 4-chunk pigeonhole banding.
# (Any pair differing in ≤3 of 60 bits shares at least one identical 15-bit
# chunk, so chunk-banding finds ALL such pairs — banding here is an exact
# index, not an approximation.)
@query(
    "simhash_near_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({TOKS})) AS tok FROM documents
    ),
    th AS (SELECT doc_id, {_hash64_sql('tok')} AS h FROM tok),
    bits AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(generate_series(0, 59)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sim AS (
      SELECT doc_id,
             cast(sum(CASE WHEN s > 0 THEN (1::bigint << b) ELSE 0 END) as bigint) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = simhash_docs(spark, sf_dir)
    # 4-chunk banding: candidates share >=1 of 4 15-bit chunks (exact for
    # hamming<=3); avoids the O(n^2) cross join the oracle can afford.
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("ci"),
    ).withColumn("chunk", F.expr("shiftright(simhash, ci * 15) & 32767"))
    a = chunks.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"), "ci", "chunk"
    )
    b = chunks.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"),
        F.col("ci").alias("ci2"), F.col("chunk").alias("chunk2"),
    )
    cands = (
        a.join(b, (F.col("ci") == F.col("ci2")) & (F.col("chunk") == F.col("chunk2")) & (F.col("d1") < F.col("d2")))
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )
    hamming = F.bit_count(F.expr("h1 ^ h2"))
    return cands.where(hamming <= 3).select(
        "d1", "d2", hamming.cast("bigint").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Language ID, n-gram flavor (the prompt's "language-ID (n-gram heuristic)"):
# fixed character-bigram marker profiles per language, score = total marker
# occurrences, argmax with a deterministic tie order.  Pure narrow projection
# (zero shuffles before the tiny confusion-matrix agg); the marker table is a
# compile-time constant, so both engines compute the identical function.
LID_MARKERS: dict[str, list[str]] = {
    "en": ["th", "he", "in"],
    "de": ["sc", "ch", "de"],
    "es": ["es", "os", "ar"],
    "fr": ["le", "re", "ou"],
    "zh": ["sh", "ng", "zh"],
}
LID_ORDER = ["en", "de", "es", "fr", "zh"]


def _lid_score_sql(lang: str) -> str:
    terms = [
        f"(length(text) - length(replace(text, '{m}', ''))) // {len(m)}"
        for m in LID_MARKERS[lang]
    ]
    return "(" + " + ".join(terms) + ")"


def _lid_pred_sql() -> str:
    cases = []
    for lang in LID_ORDER:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in LID_ORDER if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(cases[:-1]) + f" ELSE '{LID_ORDER[-1]}' END"


@query(
    "lang_id_ngram",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {", ".join(f"{_lid_score_sql(lang)} AS s_{lang}" for lang in LID_ORDER)}
      FROM documents
    ),
    pred AS (
      SELECT lang, {_lid_pred_sql()} AS predicted FROM scored
    )
    SELECT lang, predicted, cast(count(*) as bigint) AS n_docs
    FROM pred GROUP BY lang, predicted
    """,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID over the labeled corpus, reported as a
    (actual, predicted) confusion table.  Marker-profile scoring is the
    classic n-gram LID shape (real pipelines swap the 3 bigrams/lang for a
    few hundred trigram frequencies — identical plan: per-row projection,
    argmax, tiny agg)."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def score(lang: str):
        c = F.lit(0)
        for m in LID_MARKERS[lang]:
            c = c + (F.length("text") - F.length(F.replace(F.col("text"), F.lit(m)))) / len(m)
        return c.cast("bigint")

    scored = docs.select(
        "lang", *[score(lang).alias(f"s_{lang}") for lang in LID_ORDER]
    )
    expr = None
    for lang in LID_ORDER[:-1]:
        cond = None
        for other in LID_ORDER:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    predicted = expr.otherwise(LID_ORDER[-1]).alias("predicted")
    return (
        scored.select("lang", predicted)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Document-frequency table — the TF-IDF building block over the corpus.
@query(
    "word_doc_frequency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({TOKS})) AS word FROM documents
    ),
    n AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents)
    SELECT word,
           cast(count(*) as bigint) AS df,
           cast(count(*) as double) / (SELECT n_docs FROM n) AS doc_frac
    FROM toks GROUP BY word
    """,
)
def word_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document frequency per word: explode distinct tokens per doc,
    count docs per word, normalize by the corpus size (broadcast 1-row
    total — the part_share_of_total pattern).  At 100 TB the shuffle key is
    the word (compact, heavy-tailed but bounded by vocabulary); partial
    aggregation absorbs the skew before the exchange."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("word"))
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    df = toks.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return df.crossJoin(F.broadcast(total)).select(
        "word", "df", (F.col("df").cast("double") / F.col("n_docs")).alias("doc_frac")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document (integer-exact scoring: tf * N / df).
@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKS}) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, cast(count(*) as bigint) AS tf FROM toks GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, cast(count(*) as bigint) AS df
      FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word
    ),
    n AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, df.df,
             cast(tf.tf * (SELECT n_docs FROM n) as double) / df.df AS score
      FROM tf JOIN df USING (word)
    )
    SELECT doc_id, word, tf, df, score
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  IDF is kept as the exact rational
    ``N / df`` (one IEEE division — bit-identical across engines, unlike
    ``ln``, whose libm rounding differs).  Plan: tf agg keyed on
    (doc_id, word), df agg keyed on word joined back (word is broadcastable
    once aggregated — vocabulary-sized), then a per-doc top-k window."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    df = (
        toks.distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "word", "tf", "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# BM25 document scoring — the retrieval-grade sibling of tfidf_top_terms
# (RAG corpus curation ranks candidate documents against a probe query with
# BM25, not raw TF-IDF).  Probe terms are the 5 globally most frequent
# tokens (deterministic: total tf desc, word asc).  Okapi BM25 with
# k1=1.2, b=0.75:
#   idf(w)      = ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((2N+2)/(2·df+1))
#                 — the integer-ratio ln form (the unigram_surprisal /
#                 bigram_lm precedent: both engines take ln of the SAME
#                 double, and round(..,6) absorbs any last-ulp libm skew)
#   tfnorm(w,d) = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)); dl/avgdl is
#                 kept exact-rational as dl·N/T (T = corpus token count)
# Per-term scores round to 6dp decimals before the per-doc sum, so the sum
# is order-independent (the dsum discipline).  Scale shape: two token aggs
# (tf, df — both map-side combinable), vocabulary-sized df and 5-row probe
# sets broadcast back, one per-doc agg, one global top-k.  No shuffle
# carries raw text.
_BM25_K1 = "1.2"
_BM25_TOPN_DOCS = 50
_BM25_PROBES = 5


@query(
    "bm25_doc_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKS}) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, cast(count(*) as bigint) AS tf FROM toks GROUP BY doc_id, word
    ),
    dl AS (
      SELECT doc_id, cast(count(*) as bigint) AS dl FROM toks GROUP BY doc_id
    ),
    corpus AS (
      SELECT cast(count(*) as bigint) AS n_docs,
             cast(sum(dl) as bigint) AS t_total
      FROM dl
    ),
    df AS (
      SELECT word, cast(count(*) as bigint) AS df, sum(tf) AS total_tf
      FROM tf GROUP BY word
    ),
    probe AS (
      SELECT word, df FROM df ORDER BY total_tf DESC, word ASC LIMIT {_BM25_PROBES}
    ),
    term_scores AS (
      SELECT tf.doc_id,
             cast(round(
               ln(cast(2 * c.n_docs + 2 as double) / cast(2 * p.df + 1 as double))
               * (cast(tf.tf as double)
                    * (cast(1 as double) + cast({_BM25_K1} as double))
                  / (cast(tf.tf as double)
                     + cast({_BM25_K1} as double)
                       * (cast(1 as double) - cast(0.75 as double)
                          + cast(0.75 as double) * dl.dl * c.n_docs / c.t_total)))
             , 6) as decimal(27,6)) AS s
      FROM tf
      JOIN probe p USING (word)
      JOIN dl USING (doc_id)
      CROSS JOIN corpus c
    ),
    doc_scores AS (
      SELECT doc_id, cast(count(*) as bigint) AS n_hit_terms,
             cast(sum(s) as double) AS bm25
      FROM term_scores GROUP BY doc_id
    )
    SELECT doc_id, n_hit_terms, bm25,
           cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) as bigint) AS rnk
    FROM doc_scores
    QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= {_BM25_TOPN_DOCS}
    """,
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{50} documents against the 5-most-frequent-token probe
    query (the retrieval scorer a RAG curation pipeline runs corpus-side).
    Reference parity: the reference has TF-IDF-shaped scoring only
    (SearchReport's term stats); BM25 is the beyond-reference retrieval
    op.  Plan: tf/df token aggs (map-combinable), probe set (5 rows) and
    corpus stats (1 row) broadcast onto the tf stream, per-doc decimal sum,
    then a single-partition top-50 (TakeOrderedAndProject-sized: the window
    input is one row per doc that contains a probe term)."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_total"),
    )
    df = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    probe = (
        df.orderBy(F.desc("total_tf"), F.asc("word"))
        .limit(_BM25_PROBES)
        .select("word", "df")
    )
    k1 = F.lit(float(_BM25_K1))
    term_scores = (
        tf.join(F.broadcast(probe), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (2 * F.col("n_docs") + 2).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
                * (
                    F.col("tf").cast("double") * (F.lit(1) + k1)
                    / (
                        F.col("tf").cast("double")
                        + k1
                        * (
                            F.lit(1)
                            - F.lit(0.75)
                            + F.lit(0.75)
                            * F.col("dl")
                            * F.col("n_docs")
                            / F.col("t_total")
                        )
                    )
                ),
                6,
            )
            .cast("decimal(27,6)")
            .alias("s"),
        )
    )
    doc_scores = term_scores.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit_terms"),
        F.sum("s").cast("double").alias("bm25"),
    )
    # global top-50 via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, never a single-partition shuffle of the corpus-sized score
    # frame — the O3 pattern); the rank window then runs over ≤50 rows
    top = doc_scores.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_BM25_TOPN_DOCS)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# Length-outlier banding — per-language exact-percentile thresholds, then a
# broadcast join classifies every document (the curation "length filter").
@query(
    "doc_length_bands",
    oracle="""
    WITH th AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CASE WHEN d.n_chars < th.lo THEN 'short'
                WHEN d.n_chars > th.hi THEN 'long'
                ELSE 'ok' END AS band,
           cast(count(*) as bigint) AS n_docs,
           cast(cast(sum(cast(d.n_chars as decimal(27,6))) as varchar) as double) AS total_chars
    FROM documents d JOIN th ON d.lang = th.lang
    GROUP BY 1, 2
    """,
)
def doc_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-outlier banding (p5/p95 exact percentiles →
    broadcast threshold join → classify + count).  The percentile agg runs
    over the lang key (5 groups); its 5-row result broadcasts back onto the
    corpus scan, so the classification pass is shuffle-free."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    th = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    banded = docs.join(F.broadcast(th), "lang").select(
        "lang",
        F.when(F.col("n_chars") < F.col("lo"), "short")
        .when(F.col("n_chars") > F.col("hi"), "long")
        .otherwise("ok")
        .alias("band"),
        "n_chars",
    )
    return banded.groupBy("lang", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        dsum(F.col("n_chars"), "total_chars"),
    )


# ---------------------------------------------------------------------------
# Curation funnel — FilterDetail.scala's staged-filter report, re-aimed at
# the training-data cleaning chain: each stage's survivor count in ONE pass
# (conditional sums over cumulative predicates; the dedup stage's keeper
# rule is a window over the content hash).
@query(
    "curation_funnel",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             len({TOKS}) AS n_toks,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    )
    SELECT cast(count(*) as bigint) AS n_total,
           cast(sum(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1 ELSE 0 END) as bigint) AS n_len,
           cast(sum(CASE WHEN n_chars BETWEEN 100 AND 5000 AND lang = 'en'
                         THEN 1 ELSE 0 END) as bigint) AS n_lang,
           cast(sum(CASE WHEN n_chars BETWEEN 100 AND 5000 AND lang = 'en'
                          AND doc_id = keeper THEN 1 ELSE 0 END) as bigint) AS n_dedup,
           cast(sum(CASE WHEN n_chars BETWEEN 100 AND 5000 AND lang = 'en'
                          AND doc_id = keeper AND n_toks >= 20
                         THEN 1 ELSE 0 END) as bigint) AS n_tokens
    FROM d
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length → language → exact-dedup → token-floor funnel counts
    (FilterDetail.scala's staged filter report, as a data-cleaning audit).
    One scan, one window on the 16-byte content hash, one global agg —
    the funnel does NOT rescan per stage."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    d = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens("text")).alias("n_toks"),
        F.min("doc_id").over(w).alias("keeper"),
    )
    c1 = F.col("n_chars").between(100, 5000)
    c2 = c1 & (F.col("lang") == "en")
    c3 = c2 & (F.col("doc_id") == F.col("keeper"))
    c4 = c3 & (F.col("n_toks") >= 20)
    cnt = lambda c, a: F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(a)  # noqa: E731
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        cnt(c1, "n_len"),
        cnt(c2, "n_lang"),
        cnt(c3, "n_dedup"),
        cnt(c4, "n_tokens"),
    )


# --------------------------------------------------------------------------
# Near-dup CONNECTED COMPONENTS: greedy pair-dropping (dedup_decisions)
# under-merges transitive duplicates (a~b, b~c but a!~c); component-level
# dedup keeps exactly one doc per connected cluster of the near-dup graph.
# Spark side: min-label propagation (operators/graph.py
# min_label_components) over the symmetrized LSH pairs — one shuffle round
# per step of component diameter, lineage cut via localCheckpoint, and
# convergence is a per-round changed-count, NOT a collect of the graph.
# At 100 TB the same loop runs unchanged; rounds follow the largest
# component's diameter, not data size.
# Oracle: DuckDB recursive-CTE transitive closure + min reachable id —
# a genuinely independent algorithm for the same answer.
@query(
    "near_dup_components",
    oracle=f"""
    WITH RECURSIVE docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sigs AS (SELECT doc_id, sh, {_minhash_sql()} AS sig FROM docsh),
    bands AS (
      SELECT doc_id, sh, b.band_idx,
             md5(cast(sig[b.band_idx*{BAND_ROWS}+1] as varchar) || '_' ||
                 cast(sig[b.band_idx*{BAND_ROWS}+2] as varchar)) AS band_key
      FROM sigs, (SELECT unnest(generate_series(0, {NUM_BANDS - 1})) AS band_idx) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    near AS (
      SELECT c.d1, c.d2
      FROM cands c JOIN docsh x ON x.doc_id = c.d1 JOIN docsh y ON y.doc_id = c.d2
      WHERE cast(len(list_intersect(x.sh, y.sh)) as double)
            / cast(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) as double) >= 0.5
    ),
    sym AS (SELECT d1 AS src, d2 AS dst FROM near UNION SELECT d2, d1 FROM near),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    lab AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component_id
      FROM reach GROUP BY src
    )
    SELECT doc_id, component_id,
           cast(count(*) OVER (PARTITION BY component_id) as bigint) AS comp_size
    FROM lab
    """,
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("d1").alias("p1"), F.col("d2").alias("p2")
    )
    labels = min_label_components(symmetrize(pairs))
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .cast("bigint")
        .alias("comp_size"),
    )


# --------------------------------------------------------------------------
# INCREMENTAL dedup against a persisted signature index — the daily-ingest
# shape at 100 TB: the historical corpus is never rescanned; its
# (band_idx, band_key) index is staged once (here: written to and read back
# from parquet, the "signature table"), and each new batch joins its own
# bands against the index, verifies exact Jaccard only for candidate hits,
# and reports keep/drop per source.  Cost per day is O(new-batch) + one
# index join, not O(corpus²) — the full self-join (`minhash_lsh_pairs`)
# becomes a one-time backfill.
# Split rule: docs with doc_id % 5 == 4 are "today's batch", the rest are
# the historical corpus.  New-vs-new dups inside the batch are also caught
# (smaller-id keeper), mirroring the full-corpus policy.
@query(
    "incremental_dedup_report",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, source, doc_id % 5 = 4 AS is_new, {SHINGLES3} AS sh
      FROM (SELECT doc_id, source, text, {TOKS} AS toks FROM documents)
    ),
    sigs AS (SELECT doc_id, is_new, sh, {_minhash_sql()} AS sig FROM docsh),
    bands AS (
      SELECT doc_id, is_new, sh, b.band_idx,
             md5(cast(sig[b.band_idx*{BAND_ROWS}+1] as varchar) || '_' ||
                 cast(sig[b.band_idx*{BAND_ROWS}+2] as varchar)) AS band_key
      FROM sigs, (SELECT unnest(generate_series(0, {NUM_BANDS - 1})) AS band_idx) b
    ),
    cands AS (
      SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
      FROM bands n JOIN bands h
        ON n.band_idx = h.band_idx AND n.band_key = h.band_key
       AND n.is_new AND (NOT h.is_new OR h.doc_id < n.doc_id)
    ),
    hits AS (
      SELECT c.new_id
      FROM cands c JOIN docsh x ON x.doc_id = c.new_id JOIN docsh y ON y.doc_id = c.hist_id
      WHERE cast(len(list_intersect(x.sh, y.sh)) as double)
            / cast(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) as double) >= 0.5
    ),
    dropped AS (SELECT DISTINCT new_id AS doc_id FROM hits)
    SELECT d.source,
           cast(count(*) as bigint) AS n_new,
           cast(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) as bigint) AS n_kept,
           cast(sum(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END) as bigint) AS n_dropped
    FROM (SELECT doc_id, source FROM documents WHERE doc_id % 5 = 4) d
    LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
    """,
)
def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    docsh = (
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            "source",
            (F.col("doc_id") % 5 == 4).alias("is_new"),
            word_shingles("text", 3).alias("sh"),
        )
    )
    sigs = docsh.withColumn("hs", shingle_hashes(F.col("sh"))).withColumn(
        "sig", minhash_signature(F.col("hs"), NUM_HASHES)
    )
    bands = sigs.select(
        "doc_id",
        "is_new",
        F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("band_idx"),
        F.md5(
            F.concat_ws(
                "_",
                F.element_at("sig", F.col("band_idx") * BAND_ROWS + 1).cast("string"),
                F.element_at("sig", F.col("band_idx") * BAND_ROWS + 2).cast("string"),
            )
        ).alias("band_key"),
    )
    # stage the historical signature index exactly as a nightly job would:
    # written once, read back as the join side (at 100 TB this table is
    # partitioned by band_idx and appended to per day, never rebuilt)
    index_dir = session_dir(spark, "sig_index_")
    bands.where(~F.col("is_new")).select("doc_id", "band_idx", "band_key").write.mode(
        "overwrite"
    ).parquet(index_dir)
    hist_index = spark.read.parquet(index_dir).select(
        F.col("doc_id").alias("hist_id"),
        F.col("band_idx").alias("hbi"),
        F.col("band_key").alias("hbk"),
    )
    new_bands = bands.where(F.col("is_new")).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_key"
    )
    # candidates = index hits ∪ new-vs-new band collisions (smaller-id keeper)
    hist_cands = new_bands.join(
        hist_index,
        (F.col("band_idx") == F.col("hbi")) & (F.col("band_key") == F.col("hbk")),
    ).select("new_id", "hist_id")
    nb2 = bands.where(F.col("is_new")).select(
        F.col("doc_id").alias("hist_id"),
        F.col("band_idx").alias("hbi"),
        F.col("band_key").alias("hbk"),
    )
    new_cands = new_bands.join(
        nb2,
        (F.col("band_idx") == F.col("hbi"))
        & (F.col("band_key") == F.col("hbk"))
        & (F.col("hist_id") < F.col("new_id")),
    ).select("new_id", "hist_id")
    cands = hist_cands.union(new_cands).distinct()
    shingles = docsh.select("doc_id", "sh")
    x = shingles.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("xsh"))
    y = shingles.select(F.col("doc_id").alias("hist_id"), F.col("sh").alias("ysh"))
    inter = F.size(F.array_intersect("xsh", "ysh")).cast("double")
    union = (F.size("xsh") + F.size("ysh")).cast("double") - inter
    dropped = (
        cands.join(x, "new_id")
        .join(y, "hist_id")
        .where(inter / union >= 0.5)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    new_docs = docs.where(F.col("doc_id") % 5 == 4).select("doc_id", "source")
    marked = new_docs.join(dropped, "doc_id", "left")
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("is_dup").isNull(), 0).otherwise(1)).cast("bigint").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
# N-gram novelty scoring: what fraction of a document's shingles appear
# here for the FIRST time (by doc_id order, the ingest-time proxy)?  The
# memorization/novelty signal a curation pipeline uses to down-weight
# boilerplate-heavy sources.  Scale shape: the first-seen index is
# min-mergeable, so it is maintained incrementally per ingest batch (like
# the minhash signature index above) and a new batch's novelty is one
# index join — never a rescan of the corpus.
@query(
    "ngram_novelty",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sh AS (SELECT doc_id, {_hash64_sql('shingle')} AS sh_h
           FROM (SELECT doc_id, unnest(sh) AS shingle FROM docsh)),
    first_seen AS (SELECT sh_h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT s.doc_id,
           cast(count(*) as bigint) AS n_shingles,
           cast(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) as bigint) AS n_novel,
           round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS novelty
    FROM sh s JOIN first_seen f ON s.sh_h = f.sh_h
    GROUP BY s.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    # single-file inputs scan as one split; spread the CPU-bound tokenize/
    # explode across cores (a real corpus gets this free from many files)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # shuffle/join on an 8-byte shingle hash, never the raw shingle string;
    # the oracle applies the SAME md5-derived hash64, so the two plans are
    # structurally identical and parity is exact, not probabilistic
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    ).select("doc_id", hash64(F.col("shingle")).alias("sh_h"))
    # ONE explode pass: reduce occurrences to (doc, shingle, n_occ) with a
    # map-side combine, take first-seen via a shingle-partitioned min window
    # on the REDUCED table (thousands of small partitions, never global),
    # then fold to the doc grain — replaces the former occurrence-table
    # self-join, which tokenized the corpus twice and sort-merge-joined
    # every shingle occurrence against the distinct-shingle table.
    from pyspark.sql import Window

    red = sh.groupBy("doc_id", "sh_h").agg(F.count(F.lit(1)).alias("n_occ"))
    first_doc = F.min("doc_id").over(Window.partitionBy("sh_h"))
    marked = red.withColumn("first_doc", first_doc)
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), F.col("n_occ")).otherwise(0))
    total = F.sum("n_occ")
    return marked.groupBy("doc_id").agg(
        total.cast("bigint").alias("n_shingles"),
        novel.cast("bigint").alias("n_novel"),
        F.round(novel * F.lit(1.0) / total, 6).alias("novelty"),
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixing: the sampling weights a training run
# uses to rebalance sources — weight_i ∝ tokens_i^alpha (alpha=0.5 here,
# the sqrt temperature), reported next to each source's natural share so
# the oversampling factor is explicit.  One narrow aggregation over the
# corpus plus a 1-row broadcast of the totals; the per-row decimal cast
# makes the weight sums order-independent (registry rule 1).
@query(
    "source_mixing_weights",
    oracle=f"""
    WITH per AS (
      SELECT source,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(len({TOKS})) as bigint) AS total_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, cast(sqrt(cast(total_tokens as double)) as decimal(27,6)) AS w_raw
      FROM per
    ),
    tot AS (SELECT sum(w_raw) AS w_sum, sum(total_tokens) AS tok_sum FROM w)
    SELECT source, n_docs, total_tokens,
           round(cast(w_raw as double) / cast(w_sum as double), 6) AS weight,
           round((cast(w_raw as double) / cast(w_sum as double))
                 / (cast(total_tokens as double) / cast(tok_sum as double)), 6) AS oversample
    FROM w, tot
    """,
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("total_tokens"),
    )
    w = per.withColumn(
        "w_raw", F.sqrt(F.col("total_tokens").cast("double")).cast("decimal(27,6)")
    )
    tot = F.broadcast(
        w.agg(
            F.sum("w_raw").alias("w_sum"),
            F.sum("total_tokens").cast("bigint").alias("tok_sum"),
        )
    )
    share = F.col("w_raw").cast("double") / F.col("w_sum").cast("double")
    natural = F.col("total_tokens").cast("double") / F.col("tok_sum").cast("double")
    return w.crossJoin(tot).select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("weight"),
        F.round(share / natural, 6).alias("oversample"),
    )


# --------------------------------------------------------------------------
# RAG-prep chunking: every document split into overlapping token windows
# (size 64, stride 48 → 16-token overlap), each chunk carrying its token
# count and an md5 content id — the retrieval-corpus shape a training/RAG
# pipeline materializes downstream of curation.  Fully native: the window
# starts are a sequence(), the chunk is a slice() — a narrow per-row
# fan-out with NO shuffle (the only exchange is the driver-side collect of
# results).  At 100 TB chunking is embarrassingly parallel and this plan
# keeps it that way.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@query(
    "rag_chunking",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    chunks AS (
      SELECT doc_id,
             cast(i as bigint) AS start_pos,
             list_slice(toks, i, i + {CHUNK_TOKENS - 1}) AS chunk
      FROM tok,
           LATERAL (SELECT unnest(generate_series(1,
                       greatest(len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}, 1),
                       {CHUNK_STRIDE})) AS i) s
    )
    SELECT doc_id,
           cast((start_pos - 1)/{CHUNK_STRIDE} as bigint) AS chunk_idx,
           cast(len(chunk) as bigint) AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    # start positions run to n-(size-stride) so EVERY token lands in some
    # chunk (largest start s* satisfies s* > n-size, hence s*+size > n;
    # the former n-(size-1) bound silently dropped up to stride-1 trailing
    # tokens of any doc whose length missed the stride grid); short docs
    # yield exactly one (possibly partial) chunk
    last_start = F.greatest(n - F.lit(CHUNK_TOKENS - CHUNK_STRIDE), F.lit(1))
    starts = F.sequence(F.lit(1), last_start, F.lit(CHUNK_STRIDE))
    chunked = docs.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("start_pos")
    ).select(
        "doc_id",
        "start_pos",
        F.slice(F.col("toks"), F.col("start_pos"), CHUNK_TOKENS).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        ((F.col("start_pos") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.size("chunk").cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# BPE vocabulary induction, step 1: global adjacent-pair frequencies (the
# statistic every merge round of byte-pair encoding recomputes).  Adjacent
# pairs are built in-row with sequence+element_at (no self-join, no
# positional shuffle — the classic naive spelling joins tokens on
# pos=pos+1, a full extra exchange); one hash-agg on the pair string and a
# 1-row total broadcast produce the top-20 merge candidates with corpus
# share.  At 100 TB each merge round is: this query → broadcast the chosen
# pair → map-side re-tokenize → repeat (the same broadcast-iterate shape
# as kmeans_clusters, which covers the iterative harness).
@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    pairs AS (
      SELECT p.pair
      FROM tok,
           LATERAL (SELECT unnest(list_transform(
                      generate_series(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair) p
      WHERE len(toks) >= 2
    ),
    counts AS (SELECT pair, cast(count(*) as bigint) AS n_occ FROM pairs GROUP BY pair),
    tot AS (SELECT cast(sum(n_occ) as bigint) AS n_total FROM counts)
    SELECT cast(row_number() OVER (ORDER BY n_occ DESC, pair) as bigint) AS rnk,
           pair, n_occ,
           round(n_occ * 1.0 / n_total, 6) AS share
    FROM counts, tot
    QUALIFY row_number() OVER (ORDER BY n_occ DESC, pair) <= 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tk = F.col("toks")
    idx = F.sequence(F.lit(1), F.size(tk) - 1)
    pairs = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
    )
    exploded = (
        docs.select(tokens("text").alias("toks"))
        .where(F.size(tk) >= 2)
        .select(F.explode(pairs).alias("pair"))
    )
    # both consumers below (global total + top-k) re-aggregate from the raw
    # explode without this persist — one materialized pass over the corpus
    # instead of two.  The aggregated pair table is vocabulary-bounded (far
    # smaller than the corpus); at 100 TB this is "stage the pair counts",
    # which is exactly what a real BPE trainer does between merge rounds.
    counts = exploded.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    ).persist()
    from ..operators.aggregate import global_top_k

    tot = F.broadcast(counts.agg(F.sum("n_occ").cast("bigint").alias("n_total")))
    # take-ordered over the (≈vocab²) pair keyspace, THEN the 1-row total
    # broadcast and rank window over the 20 survivors — never a global
    # single-partition WindowExec (operators/aggregate.global_top_k)
    topk = global_top_k(counts, [F.col("n_occ").desc(), F.col("pair")], 20)
    return (
        topk.withColumn("rnk", F.col("rnk").cast("bigint"))
        .crossJoin(tot)
        .select(
            "rnk",
            "pair",
            "n_occ",
            F.round(F.col("n_occ") * F.lit(1.0) / F.col("n_total"), 6).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# BPE vocabulary induction, step 2: the actual merge LOOP (bpe_pair_counts
# above is one round's statistic; this runs the trainer).  Each round:
# (1) global adjacent-pair counts, (2) 1-row argmax broadcast (count desc,
# key asc — deterministic), (3) greedy left-to-right NON-OVERLAPPING
# rewrite of every document, (4) recount on the rewritten corpus.  The
# greedy scan — inherently sequential in a naive tokenizer — is expressed
# declaratively: consecutive matched positions form islands
# (pos − row_number), and within an island greedy keeps every other match
# (parity rule), exactly the left-to-right semantics of HF/sentencepiece
# trainers.  Pair keys are length-prefixed (len(tok)||':'||tok||US||nxt) so
# a merged token's internal separator can never make two distinct
# adjacencies collide; merged token values join with U+001F.
# Scale design: per round = ONE hash-agg over compact pair keys + windows
# partitioned by doc_id (each doc rewritten independently — embarrassingly
# parallel), with the chosen merge a 1-row broadcast.  No self-joins, no
# all-pairs, each round's state persisted so lineage doesn't re-derive
# prior rounds (the distributed map-reduce BPE shape).  Rounds are a fixed
# unrolled R=3 — at 100 TB the same plan iterates with the pair table
# staged between rounds.
BPE_MERGE_ROUNDS = 3
BPE_SEP = "\u001f"  # joins merged token values; never appears in raw tokens


def _bpe_round_cte(r: int) -> str:
    """DuckDB CTE chain mirroring one Spark merge round (tok{r-1} -> tok{r})."""
    return f"""
    marked{r} AS (
      SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM tok{r - 1}
    ),
    keyed{r} AS (
      SELECT *, CASE WHEN nxt IS NULL THEN NULL
                     ELSE length(tok) || ':' || tok || chr(31) || nxt END AS pair_key
      FROM marked{r}
    ),
    best{r} AS (
      SELECT pair_key AS best_pair, cast(count(*) as bigint) AS n_occ
      FROM keyed{r} WHERE pair_key IS NOT NULL
      GROUP BY pair_key ORDER BY n_occ DESC, best_pair LIMIT 1
    ),
    m{r} AS (
      SELECT k.*, coalesce(k.pair_key = b.best_pair, false) AS is_match
      FROM keyed{r} k, best{r} b
    ),
    g{r} AS (
      SELECT *, pos - row_number() OVER (PARTITION BY doc_id, is_match ORDER BY pos) AS grp
      FROM m{r}
    ),
    kept{r} AS (
      SELECT *, is_match AND
             (row_number() OVER (PARTITION BY doc_id, is_match, grp ORDER BY pos) - 1) % 2 = 0 AS kept
      FROM g{r}
    ),
    cons{r} AS (
      SELECT *, coalesce(lag(kept) OVER (PARTITION BY doc_id ORDER BY pos), false) AS consumed
      FROM kept{r}
    ),
    tok{r} AS (
      SELECT doc_id,
             cast(row_number() OVER (PARTITION BY doc_id ORDER BY pos) as bigint) AS pos,
             CASE WHEN kept THEN tok || chr(31) || nxt ELSE tok END AS tok
      FROM cons{r} WHERE NOT consumed
    ),
    after{r} AS (SELECT cast(count(*) as bigint) AS tokens_after FROM tok{r})"""


@query(
    "bpe_vocab_merges",
    oracle=f"""
    WITH tok0 AS (
      SELECT doc_id, cast(i as bigint) AS pos, toks[i] AS tok
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s
    ),
    {",".join(_bpe_round_cte(r).strip() for r in range(1, 4))}
    SELECT * FROM (
      SELECT cast(1 as bigint) AS merge_rank,
             replace(regexp_replace(best_pair, '^[0-9]+:', ''), chr(31), ' ') AS pair,
             n_occ, tokens_after
      FROM best1, after1
      UNION ALL
      SELECT cast(2 as bigint), replace(regexp_replace(best_pair, '^[0-9]+:', ''), chr(31), ' '),
             n_occ, tokens_after FROM best2, after2
      UNION ALL
      SELECT cast(3 as bigint), replace(regexp_replace(best_pair, '^[0-9]+:', ''), chr(31), ' '),
             n_occ, tokens_after FROM best3, after3
    ) ORDER BY merge_rank
    """,
)
def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, _ = _bpe_train(spark, sf_dir)
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out.orderBy("merge_rank")


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The R-round merge loop shared by the trainer (`bpe_vocab_merges`,
    which reports the merge table) and the applier
    (`bpe_apply_segmentation`, which reports the segmented corpus).
    Returns (per-round stat frames, final rewritten token frame)."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.posexplode(tokens("text")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
        .persist()
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    rows = []
    cur = toks
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        marked = cur.withColumn("nxt", F.lead("tok").over(w_doc))
        pair_key = F.when(
            F.col("nxt").isNotNull(),
            F.concat(
                F.length("tok").cast("string"),
                F.lit(":"),
                F.col("tok"),
                F.lit(BPE_SEP),
                F.col("nxt"),
            ),
        )
        best = (
            marked.where(F.col("nxt").isNotNull())
            .groupBy(pair_key.alias("best_pair"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
            .orderBy(F.col("n_occ").desc(), F.col("best_pair"))
            .limit(1)
        )
        m = marked.crossJoin(F.broadcast(best)).withColumn(
            "is_match", F.coalesce(pair_key == F.col("best_pair"), F.lit(False))
        )
        # greedy parity on ONE doc-keyed window pass: `pos` is consecutive
        # (row_number re-rank each round), so a matched position's island
        # index is  pos − (last unmatched pos before it) − 1  — no
        # (doc,is_match[,grp])-keyed windows, which each forced their own
        # full-corpus exchange+sort per round (3 exchanges → 1).  Same
        # islands, same parity, pinned by the DuckDB oracle's original
        # islands-and-row_number formulation.
        w_prev = (
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        last_nm = F.last(
            F.when(~F.col("is_match"), F.col("pos")), ignorenulls=True
        ).over(w_prev)
        kept = m.withColumn(
            "kept",
            F.col("is_match")
            & (((F.col("pos") - F.coalesce(last_nm, F.lit(0)) - 1) % 2) == 0),
        )
        cons = kept.withColumn(
            "consumed", F.coalesce(F.lag("kept").over(w_doc), F.lit(False))
        )
        # each round's rewritten corpus feeds BOTH the next round's argmax
        # and its rewrite — persist so lineage doesn't re-derive the chain
        cur = (
            cons.where(~F.col("consumed"))
            .select(
                "doc_id",
                F.row_number().over(w_doc).cast("bigint").alias("pos"),
                F.when(
                    F.col("kept"), F.concat(F.col("tok"), F.lit(BPE_SEP), F.col("nxt"))
                )
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
            .persist()
        )
        after = cur.agg(F.count(F.lit(1)).cast("bigint").alias("tokens_after"))
        rows.append(
            best.crossJoin(F.broadcast(after)).select(
                F.lit(r).cast("bigint").alias("merge_rank"),
                F.translate(
                    F.regexp_replace("best_pair", "^[0-9]+:", ""), BPE_SEP, " "
                ).alias("pair"),
                "n_occ",
                "tokens_after",
            )
        )
    return rows, cur


# --------------------------------------------------------------------------
# Unigram-LM surprisal scoring — the perplexity-proxy quality filter a
# pretraining pipeline runs when a real LM can't be shipped to the scan:
# train the unigram model ON the corpus (one token hash-agg), then score
# each document by its average token surprisal  −(1/n)·Σ ln p(t)  =
# (1/n)·Σ ln(T/freq(t)).  High scores = rare-token soup (OCR noise,
# boilerplate hashes); low = repetitive filler.  Plan: one explode+agg for
# the model, one shuffle join token→freq (both sides reduced to the
# vocabulary), a 1-row total broadcast, and a per-doc agg.  Cross-engine
# exactness: ln() may differ at 1 ulp between JVMs/libms, so each
# per-token surprisal is rounded to 6 dp and decimal-summed (registry rule
# 1) — bit-identical on both engines.
@query(
    "unigram_surprisal_scores",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS}) AS token FROM documents
    ),
    freq AS (SELECT token, cast(count(*) as bigint) AS n_tok FROM tok GROUP BY token),
    tot AS (SELECT cast(sum(n_tok) as bigint) AS t_total FROM freq),
    scored AS (
      SELECT tk.doc_id,
             cast(round(ln(tot.t_total * 1.0 / f.n_tok), 6) as decimal(27,6)) AS surp
      FROM tok tk JOIN freq f USING (token), tot
    )
    SELECT doc_id,
           cast(count(*) as bigint) AS n_tokens,
           round(cast(sum(surp) as double) / count(*), 6) AS avg_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    tot = F.broadcast(freq.agg(F.sum("n_tok").cast("bigint").alias("t_total")))
    scored = tok.join(freq, "token").crossJoin(tot).select(
        "doc_id",
        F.round(F.log(F.col("t_total") * F.lit(1.0) / F.col("n_tok")), 6)
        .cast("decimal(27,6)")
        .alias("surp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(
            F.sum("surp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_surprisal"),
    )


# --------------------------------------------------------------------------
# Fractional contamination scoring: the binary any-hit flag above
# (`decontamination`) is how docs get DROPPED; thresholds get SET from the
# per-doc overlap fraction — what share of a training doc's distinct
# 5-grams appear anywhere in the benchmark set.  Same broadcast hash
# semi-join core, but aggregating hits per doc instead of existence, plus
# the standard 10% flag.  At 100 TB the benchmark gram set is millions of
# rows — still broadcastable — and the per-doc agg rides the explode scan.
@query(
    "contamination_overlap_scores",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks)-4, 1)),
                    i -> md5(array_to_string(list_slice(toks, i, i+4), ' '))))) AS g
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
    scored AS (
      SELECT t.doc_id,
             count(*) AS n_grams,
             cast(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_hit
      FROM grams t LEFT JOIN bench b USING (g)
      WHERE t.doc_id >= 5
      GROUP BY t.doc_id
    )
    SELECT doc_id, cast(n_grams as bigint) AS n_grams, n_hit,
           round(n_hit * 1.0 / n_grams, 6) AS overlap_frac,
           n_hit * 10 >= n_grams AS flagged
    FROM scored
    """,
)
def contamination_overlap_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(F.transform(word_shingles("text", 5), F.md5)).alias("g")
    )
    bench = grams.where(F.col("doc_id") < 5).select("g").distinct()
    scored = (
        grams.where(F.col("doc_id") >= 5)
        .join(F.broadcast(bench.withColumn("hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    # integer comparison (n_hit*10 >= n_grams) instead of a float ratio
    # threshold: exact on both engines
    return scored.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.round(F.col("n_hit") * F.lit(1.0) / F.col("n_grams"), 6).alias(
            "overlap_frac"
        ),
        (F.col("n_hit") * 10 >= F.col("n_grams")).alias("flagged"),
    )


# --------------------------------------------------------------------------
# Boilerplate line removal (CCNet/C4-style): a "line" whose normalized
# content recurs across ≥K distinct documents of the same source is
# boilerplate (nav bars, cookie banners, license headers) and is removed
# from every document, preserving the order of what remains.  The
# synthetic docs are single-line word streams, so the line unit is a
# fixed 4-word window; at web scale the unit is the real newline split
# and the same plan applies unchanged.
#
# Scale shape: chunks shuffle ONCE to the (source, line-hash) df count
# (map-side combinable); the flagged set (df ≥ K) is orders of magnitude
# smaller than the corpus and joins back as a broadcast; reassembly is a
# per-doc sort_array(collect_list) — partitioned by doc_id, never a
# global window.  Only 16-byte hashes and the surviving text move.
# A fully-scrubbed doc (every line boilerplate — exact dup docs hit
# this) keeps a row with cleaned_chars=0/md5('') on BOTH engines
# (DuckDB's FILTERed list aggregate is NULL there, hence the coalesce).
_BOILER_W = 4  # words per synthetic line
_BOILER_K = 2  # boilerplate threshold: distinct docs containing the line

_BOILERPLATE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, source, str_split(text, ' ') AS w FROM documents
),
chunks AS (
  SELECT doc_id, source, i.i AS idx,
         array_to_string(w[(i.i*{_BOILER_W}+1):(i.i*{_BOILER_W}+{_BOILER_W})], ' ')
           AS chunk
  FROM words,
       LATERAL (SELECT unnest(generate_series(0,
                  cast(ceil(len(w)/{_BOILER_W}.0) as int)-1)) AS i) i
),
flagged AS (
  SELECT source, md5(chunk) AS h
  FROM chunks GROUP BY 1, 2
  HAVING count(DISTINCT doc_id) >= {_BOILER_K}
),
marked AS (
  SELECT c.doc_id, c.source, c.idx, c.chunk,
         CASE WHEN f.h IS NULL THEN 0 ELSE 1 END AS is_boiler
  FROM chunks c LEFT JOIN flagged f
    ON f.source = c.source AND f.h = md5(c.chunk)
)
SELECT doc_id, source,
       cast(count(*) as bigint) AS n_lines,
       cast(sum(is_boiler) as bigint) AS n_removed,
       md5(coalesce(array_to_string(
         list(chunk ORDER BY idx) FILTER (WHERE is_boiler = 0), ' '), ''))
         AS cleaned_hash,
       cast(coalesce(length(array_to_string(
         list(chunk ORDER BY idx) FILTER (WHERE is_boiler = 0), ' ')), 0) as bigint)
         AS cleaned_chars
FROM marked
GROUP BY 1, 2
"""


@query("boilerplate_line_removal", oracle=_BOILERPLATE_ORACLE)
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = _BOILER_W
    chunks = (
        docs.withColumn("words", F.split("text", " "))
        .withColumn(
            "idx",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.expr(f"cast(ceil(size(words)/{w}.0) as int) - 1"),
                )
            ),
        )
        .select(
            "doc_id",
            "source",
            "idx",
            F.expr(f"array_join(slice(words, idx*{w}+1, {w}), ' ')").alias("chunk"),
        )
    )
    flagged = (
        chunks.groupBy("source", F.md5(F.col("chunk")).alias("h"))
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= _BOILER_K)
        .select("source", "h", F.lit(1).alias("is_boiler"))
    )
    marked = chunks.withColumn("h", F.md5(F.col("chunk"))).join(
        F.broadcast(flagged), ["source", "h"], "left"
    ).withColumn("is_boiler", F.coalesce("is_boiler", F.lit(0)))
    kept_text = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("is_boiler") == 0, F.struct("idx", "chunk")
                    )
                )
            ),
            lambda s: s["chunk"],
        ),
        " ",
    )
    return (
        marked.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("is_boiler").cast("bigint").alias("n_removed"),
            F.md5(kept_text).alias("cleaned_hash"),
            F.length(kept_text).cast("bigint").alias("cleaned_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — the mergeable fixed-size frequency
# sketch (Cormode & Muthukrishnan 2005).  At 100 TB an exact term-frequency
# table is vocabulary-sized and shuffle-heavy; a CMS is D*W counters
# REGARDLESS of corpus size, each partition's partial sketch map-side
# combines into the global one (cell counts are sums), and point estimates
# are min over D cells with a one-sided error bound (estimate >= truth,
# over by <= eps*N with eps = e/W).  The reference has no sketches at all;
# this is the approx side of the exact ngram_frequency_topk pair, same
# role the HLL path plays for distinct counts (A7).
#
# Determinism: row-r cell of a term is md5-hash64(f"cms{r}_" + term) mod W —
# the same portable scheme as every other hash here, so DuckDB rebuilds the
# identical sketch.  The exact top-k side (tie-broken by term) exists to
# AUDIT the sketch: the report pairs each true heavy hitter's exact count
# with its CMS estimate and the one-sided overestimate.
CMS_D = 4
CMS_W = 2048
CMS_TOP_K = 25

_CMS_CELL_SQL = (
    f"cast(('0x' || substr(md5('cms' || cast(r as varchar) || '_' || term), 1, 15)) "
    f"as bigint) % {CMS_W}"
)


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (SELECT unnest({TOKS}) AS term FROM documents),
    cells AS (
      SELECT r, {_CMS_CELL_SQL} AS cms_col
      FROM toks, range({CMS_D}) t(r)
    ),
    sketch AS (
      SELECT r, cms_col, cast(count(*) as bigint) AS cell_n
      FROM cells GROUP BY r, cms_col
    ),
    exact AS (
      SELECT term, cast(count(*) as bigint) AS exact_n
      FROM toks GROUP BY term
      ORDER BY exact_n DESC, term LIMIT {CMS_TOP_K}
    ),
    probes AS (
      SELECT term, exact_n, r, {_CMS_CELL_SQL} AS cms_col
      FROM exact, range({CMS_D}) t(r)
    )
    SELECT p.term, p.exact_n,
           cast(min(s.cell_n) as bigint) AS cms_n,
           cast(min(s.cell_n) - p.exact_n as bigint) AS overestimate
    FROM probes p JOIN sketch s ON p.r = s.r AND p.cms_col = s.cms_col
    GROUP BY p.term, p.exact_n
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CMS_TOP_K} corpus terms with exact count vs count-min estimate.

    Build: one token pass, each token fanned to its D (row, col) cells via
    a posexplode over an in-row transform (no join), then ONE groupBy on
    (r, cms_col) whose output is at most D*W = {CMS_D}*{CMS_W} rows — the
    partial agg collapses every partition to sketch size before the
    exchange, which is the entire point of the structure.  Probing joins
    the K*D probe cells (broadcast) against the sketch.  The exact top-k
    pass is the audit oracle, not part of the sketch path.
    """
    from ..sources.tables import load_table

    def cms_cells(term: Column) -> Column:
        # row-r column index: same md5 scheme as hash64(), seed varies by row
        return F.transform(
            F.sequence(F.lit(0), F.lit(CMS_D - 1)),
            lambda r: F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("cms"), r.cast("string"), F.lit("_"), term
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(CMS_W),
            ),
        )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("term"))
    # ONE tokenize pass: the sketch and the exact top-k both derive from
    # the per-term counts (vocab-sized after the map-combinable agg).  A
    # cell's count is the sum of the counts of the terms hashing into it,
    # so building the sketch FROM the vocab is exactly equal to counting
    # token occurrences per cell — and the D-way cell fan-out runs over
    # vocab rows instead of every token occurrence (the before-shape
    # tokenized the corpus twice and exploded tokens x D; guide §2.3
    # "aggregate before you shuffle").
    term_counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .localCheckpoint(eager=False)  # consumed by sketch AND top-k
    )
    sketch = (
        term_counts.select(
            F.posexplode(cms_cells(F.col("term"))).alias("r", "cms_col"),
            "exact_n",
        )
        .groupBy("r", "cms_col")
        .agg(F.sum("exact_n").cast("bigint").alias("cell_n"))
    )
    exact = term_counts.orderBy(F.desc("exact_n"), F.asc("term")).limit(CMS_TOP_K)
    probes = exact.select(
        "term", "exact_n", F.posexplode(cms_cells(F.col("term"))).alias("r", "cms_col")
    )
    return (
        F.broadcast(probes)
        .join(sketch, ["r", "cms_col"])
        .groupBy("term", "exact_n")
        .agg(F.min("cell_n").cast("bigint").alias("cms_n"))
        .select(
            "term",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join — All-Pairs/PPJoin (Bayardo et al.
# WWW'07; Xiao et al. WWW'08; the MapReduce formulation is Vernica, Carey
# & Li SIGMOD'10).  Third candidate-generation technique next to
# MinHash-LSH (probabilistic) and the full shingle inverted index (exact
# but df²-bound): order every doc's shingles by GLOBAL rarity (df asc,
# shingle asc); for Jaccard >= t a qualifying pair must share a shingle
# inside both docs' first n - ceil(t*n) + 1 shingles, so candidates come
# from an equi-join over PREFIXES only — at the t=4/5 near-dup operating
# point the prefix is ~n/5, and the stop-shingle problem disappears
# structurally (a frequent shingle sorts to the END of every doc and
# almost never lands in a prefix).  Two further exact prunes run BEFORE
# the expensive verify:
#   length filter (in the join): t*max(na,nb) <= min(na,nb);
#   positional filter (grouped): with m shared prefix shingles whose last
#   matched sorted positions are pa, pb, true overlap <= m +
#   min(na-pa, nb-pb); require that bound >= alpha = ceil(t/(1+t)*(na+nb)).
# Only survivors pay the array_intersect verify.  All thresholds are
# integer-exact (no float boundary), and the oracle is the brute-force
# all-pairs formulation — identical output proves the cascade admits no
# false negatives.
PFX_T_NUM, PFX_T_DEN = 4, 5  # Jaccard threshold t = 4/5


@query(
    "prefix_filter_jaccard_pairs",
    oracle=f"""
    WITH docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docsh),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, cast(inter as bigint) AS inter,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE inter * {PFX_T_DEN} >= (sa.n + sb.n - inter) * {PFX_T_NUM}
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Jaccard >= {PFX_T_NUM}/{PFX_T_DEN} via the
    prefix + length + positional filter cascade.

    Plan: df per shingle (one combinable shuffle); shingles re-sorted per
    doc by (df, shingle) and prefix-sliced in-row; candidate equi-join
    over the exploded prefixes with the length filter IN the join
    condition; ONE combinable (d1,d2) groupBy computes the shared-prefix
    count m and last matched positions for the positional upper bound —
    pairs the bound disqualifies never reach the verify join; survivors
    verified exactly by array_intersect against the per-doc arrays.
    """
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # both fan-out points are read twice (self-join sides / verify sides):
    # materialize once or the shingle build + df join run 2x each
    docsh = docs.select(
        "doc_id", word_shingles("text", 3).alias("sh")
    ).localCheckpoint()
    sh = docsh.select("doc_id", F.explode("sh").alias("shingle"))
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix_len = n - ceil(t*n) + 1, integer-exact
    pl = (
        f"size(ord) - ((size(ord) * {PFX_T_NUM} + {PFX_T_DEN} - 1) "
        f"div {PFX_T_DEN}) + 1"
    )
    pref = (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            "doc_id",
            F.size("ord").alias("n"),
            F.posexplode(
                F.expr(f"transform(slice(ord, 1, {pl}), s -> s.shingle)")
            ).alias("p0", "shingle"),
        )
        .select("doc_id", "n", (F.col("p0") + 1).alias("pos"), "shingle")
        .localCheckpoint()
    )
    a, b = pref.alias("a"), pref.alias("b")
    matches = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: t*max <= min, integer form
        & (F.col("a.n") * PFX_T_NUM <= F.col("b.n") * PFX_T_DEN)
        & (F.col("b.n") * PFX_T_NUM <= F.col("a.n") * PFX_T_DEN),
    ).select(
        F.col("a.doc_id").alias("d1"),
        F.col("b.doc_id").alias("d2"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    # positional filter: overlap <= m + min(na - max_pa, nb - max_pb);
    # required overlap alpha = ceil(t/(1+t) * (na+nb))
    alpha = F.expr(
        f"(({PFX_T_NUM} * (na + nb)) + {PFX_T_NUM + PFX_T_DEN} - 1) "
        f"div {PFX_T_NUM + PFX_T_DEN}"
    )
    cands = (
        matches.groupBy("d1", "d2", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max("pa").alias("mpa"),
            F.max("pb").alias("mpb"),
        )
        .where(
            F.col("m")
            + F.least(F.col("na") - F.col("mpa"), F.col("nb") - F.col("mpb"))
            >= alpha
        )
        .select("d1", "d2")
    )
    s1 = docsh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    s2 = docsh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("bigint")
    union = F.size("sh1").cast("bigint") + F.size("sh2").cast("bigint") - inter
    return (
        cands.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", inter.alias("inter"), union.alias("union_n"))
        .where(F.col("inter") * PFX_T_DEN >= F.col("union_n") * PFX_T_NUM)
        .select(
            "d1",
            "d2",
            "inter",
            F.round(F.col("inter") * F.lit(1.0) / F.col("union_n"), 6).alias(
                "jaccard"
            ),
        )
    )


# --------------------------------------------------------------------------
# Canonical-representative selection — the FINAL stage of the dedup
# pipeline: near-dup clusters are only half the job; the pipeline must then
# KEEP exactly one document per cluster and drop the rest.  Keeper policy:
# highest lexical richness (distinct-token count — integer, so
# cross-engine exact), doc_id ascending as the deterministic tiebreak —
# the "keep the best, not the first" rule real curation stacks use
# (quality-ranked dedup, e.g. FineWeb's cluster-representative step).
# Plan: the components labels (min-label rounds, shared machinery)
# join the per-doc richness scan on doc_id, then ONE row_number window per
# component — no new shuffle class; at 100 TB the window partitions by
# component_id, which the label join already clustered.
# Oracle: an independent recursive-CTE transitive closure + the same
# richness argmax.
@query(
    "dedup_canonical_keep",
    oracle=f"""
    WITH RECURSIVE docsh AS (
      SELECT doc_id, {SHINGLES3} AS sh
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    ),
    sigs AS (SELECT doc_id, sh, {_minhash_sql()} AS sig FROM docsh),
    bands AS (
      SELECT doc_id, sh, b.band_idx,
             md5(cast(sig[b.band_idx*{BAND_ROWS}+1] as varchar) || '_' ||
                 cast(sig[b.band_idx*{BAND_ROWS}+2] as varchar)) AS band_key
      FROM sigs, (SELECT unnest(generate_series(0, {NUM_BANDS - 1})) AS band_idx) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    near AS (
      SELECT c.d1, c.d2
      FROM cands c JOIN docsh x ON x.doc_id = c.d1 JOIN docsh y ON y.doc_id = c.d2
      WHERE cast(len(list_intersect(x.sh, y.sh)) as double)
            / cast(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) as double) >= 0.5
    ),
    sym AS (SELECT d1 AS src, d2 AS dst FROM near UNION SELECT d2, d1 FROM near),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    lab AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component_id
      FROM reach GROUP BY src
    ),
    lab2 AS (
      SELECT doc_id, component_id,
             cast(count(*) OVER (PARTITION BY component_id) as bigint) AS comp_size
      FROM lab
    ),
    rich AS (
      SELECT doc_id, cast(len(list_distinct({TOKS})) as bigint) AS n_distinct_toks
      FROM documents
    ),
    ranked AS (
      SELECT l.doc_id, l.component_id, l.comp_size, r.n_distinct_toks,
             row_number() OVER (PARTITION BY l.component_id
                                ORDER BY r.n_distinct_toks DESC, l.doc_id ASC) AS rn
      FROM lab2 l JOIN rich r ON l.doc_id = r.doc_id
    )
    SELECT component_id, comp_size, doc_id AS keep_doc_id, n_distinct_toks,
           cast(comp_size - 1 as bigint) AS n_dropped
    FROM ranked WHERE rn = 1
    """,
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    comp = near_dup_components(spark, sf_dir)  # doc_id, component_id, comp_size
    rich = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias(
            "n_distinct_toks"
        ),
    )
    scored = comp.join(rich, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_distinct_toks").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "component_id",
            "comp_size",
            F.col("doc_id").alias("keep_doc_id"),
            "n_distinct_toks",
            (F.col("comp_size") - 1).cast("bigint").alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# BPE APPLY — the inference side of the trainer above: segment every
# document with the R trained merges and report per-doc token accounting
# (before, after, how many merged symbols) — the "token counting with the
# real tokenizer" number a pretraining data pipeline budgets corpora by,
# not the whitespace proxy.  Shares the trainer's island-parity rewrite
# machinery (`_bpe_train`), so apply-equals-train semantics are guaranteed
# by construction and the greedy left-to-right contract is already
# property-tested against a sequential tokenizer.  Plan: the R rewrite
# rounds (doc-partitioned windows, embarrassingly parallel) + ONE per-doc
# hash agg; docs whose text yields zero tokens surface with zeros.
@query(
    "bpe_apply_segmentation",
    oracle=f"""
    WITH tok0 AS (
      SELECT doc_id, cast(i as bigint) AS pos, toks[i] AS tok
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s
    ),
    {",".join(_bpe_round_cte(r).strip() for r in range(1, BPE_MERGE_ROUNDS + 1))},
    agg3 AS (
      SELECT doc_id, cast(count(*) as bigint) AS tokens_after,
             cast(sum(CASE WHEN tok LIKE '%' || chr(31) || '%' THEN 1 ELSE 0 END) as bigint)
               AS n_merged_tokens
      FROM tok{BPE_MERGE_ROUNDS} GROUP BY doc_id
    )
    SELECT d.doc_id,
           cast(len({TOKS}) as bigint) AS tokens_before,
           cast(coalesce(a.tokens_after, 0) as bigint) AS tokens_after,
           cast(coalesce(a.n_merged_tokens, 0) as bigint) AS n_merged_tokens
    FROM documents d LEFT JOIN agg3 a ON d.doc_id = a.doc_id
    """,
)
def bpe_apply_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    _, segmented = _bpe_train(spark, sf_dir)
    per_doc = segmented.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tokens_after"),
        F.sum(F.col("tok").contains(BPE_SEP).cast("int"))
        .cast("bigint")
        .alias("n_merged_tokens"),
    )
    before = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("tokens_before")
    )
    return before.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "tokens_before",
        F.coalesce("tokens_after", F.lit(0)).cast("bigint").alias("tokens_after"),
        F.coalesce("n_merged_tokens", F.lit(0))
        .cast("bigint")
        .alias("n_merged_tokens"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): hash every k-gram, slide a window of w consecutive hashes,
# select each window's MINIMUM — the selected set is guaranteed to share a
# fingerprint with any copy of length >= w+k-1 tokens, at ~2/(w+1) density.
# This is the position-robust counterpart of `rolling_hash_fingerprint`
# (which fingerprints the WHOLE document, so any edit changes it):
# winnowing survives insertions/deletions outside the copied span, which is
# what plagiarism/near-dup detection over a crawl actually needs.
#
# Scale shape: a pure per-row projection (tokenize → k-gram hash → window
# minima → distinct), zero shuffle — at 100 TB it pipelines inside the scan
# stage.  The per-doc digest below XOR-folds the selected set (order-free,
# engine-portable); a dedup join would explode the selected fingerprints
# and shuffle on them (compact bigints), exactly like the MinHash band join.
# Reference provenance: the reference has no sub-document dedup at all
# (its dedup is row-level distinct, e.g. etl/MysqlToHive.scala full-row
# groupBy); this is part of the LLM-pipeline widening.
WINNOW_K = 3  # k-gram length (tokens)
WINNOW_W = 4  # winnowing window (k-gram hashes)


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, len(toks) AS n_toks,
             list_transform(
               generate_series(1, greatest(len(toks) - {WINNOW_K - 1}, 0)),
               i -> {_hash64_sql(f"array_to_string(list_slice(toks, i, i + {WINNOW_K - 1}), ' ')", "winnow")}
             ) AS th
      FROM toks
    ),
    sel AS (
      SELECT doc_id, n_toks, len(th) AS n_kgrams,
             list_distinct(list_transform(
               generate_series(1, greatest(len(th) - {WINNOW_W - 1}, CASE WHEN len(th) > 0 THEN 1 ELSE 0 END)),
               j -> list_min(list_slice(th, j, j + {WINNOW_W - 1}))
             )) AS fps
      FROM grams
    )
    SELECT doc_id,
           cast(n_kgrams as bigint) AS n_kgrams,
           cast(len(fps) as bigint) AS n_fingerprints,
           list_reduce(list_prepend(cast(0 as bigint), fps),
                       (acc, x) -> xor(acc, x)) AS fp_digest
    FROM sel
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n = F.size("toks")
    # k-gram hash sequence (empty when the doc is shorter than k tokens)
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0] (step sign is
    # inferred), unlike DuckDB's empty generate_series(1, 0) — every upper
    # bound below is guarded so the sequence is only built when non-empty.
    grams = docs.select(
        "doc_id",
        F.when(
            n >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), n - (WINNOW_K - 1)),
                lambda i: hash64(
                    F.concat_ws(" ", F.slice("toks", i, WINNOW_K)), "winnow"
                ),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("th"),
    )
    m = F.size("th")
    # window minima; a doc with 0 < m < w gets one whole-list window (both
    # engines: slice past the end truncates), m == 0 selects nothing
    sel = grams.select(
        "doc_id",
        m.cast("bigint").alias("n_kgrams"),
        F.when(
            m > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(m - (WINNOW_W - 1), F.lit(1))),
                    lambda j: F.array_min(F.slice("th", j, WINNOW_W)),
                )
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("fps"),
    )
    return sel.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.aggregate(
            "fps", F.lit(0).cast("bigint"), lambda acc, x: acc.bitwiseXOR(x)
        ).alias("fp_digest"),
    )
