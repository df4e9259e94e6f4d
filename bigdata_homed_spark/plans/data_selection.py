"""Data-selection and quality operators from the pretraining-data literature.

The curation stages a pipeline runs between near-dup removal and mixing —
all absent from the reference's report surface, all oracle-checked:

- ``exact_substring_spans`` / ``incremental_substring_report`` — ExactSubstr
  dedup (Lee et al.) as a batch report and as a per-ingest-day update
  against a persisted window-hash index;
- ``dsir_selection`` — DSIR hashed-ngram importance resampling (Xie et al.);
- ``bigram_lm_quality`` — the CCNet perplexity-filter recipe (Wenzek et
  al.) as a bigram stupid-backoff LM trained on the target slice;
- ``char_entropy_quality`` — the compression-ratio/gibberish filter as
  exact in-row Shannon entropy.

The two headline designs:

- **exact substring spans** (Lee et al., "Deduplicating Training Data Makes
  Language Models Better", arXiv:2107.06499).  The paper's ExactSubstr
  dedup finds token spans of length >= W that occur more than once anywhere
  in the corpus.  A distributed suffix array is overkill on Spark: sliding a
  W-token window over every document and hashing each window finds exactly
  the same duplicated-span set (every duplicated span of length >= W
  contains a duplicated W-window and vice versa), and it is pure
  explode -> groupBy -- no suffix structure, no driver state.  Flagged
  window positions are merged into maximal spans per document with a
  lag-based interval merge (equal-length intervals sorted by start: a new
  span starts exactly on a coverage hole, pos > prev_pos + W — windows at
  prev and prev+W touch, covering [prev, prev+2W-1] contiguously, so they
  merge).

- **DSIR importance resampling** (Xie et al., "Data Selection for Language
  Models via Importance Resampling", arXiv:2302.03169).  Documents are
  featurized as hashed unigram+bigram counts over B buckets; a target
  distribution p (here: the lang='en' slice, standing in for the paper's
  high-quality target corpus) and the raw distribution q are estimated with
  +0.5 smoothing, and each document scores the mean log(p_b/q_b) of its
  feature occurrences.  Selection is the deterministic score>0 cut (the
  paper adds Gumbel noise for sampled selection; a reproducible engine
  exposes the noiseless estimator and leaves sampling to the caller via
  the seedable helpers in operators/timegrid.py).

Scale design: the substring pass explodes ~n_tokens windows per doc but
shuffles only (8-byte window hash, int pos) pairs -- never text -- and the
span merge is a doc_id-partitioned window.  DSIR's bucket table is <= B
rows (broadcast); its only wide shuffle is the doc-grain re-aggregation.
Both are linear in corpus size and embarrassingly partition-parallel, the
property that matters at 100 TB.

Cross-engine determinism: window hashes are the portable md5-derived
hash64 (functions/hashing.py); DSIR's log-ratios follow the registry rule
used by unigram_surprisal_scores -- round(ln(..), 6) per row, exact
decimal sum, one cast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64_sql
from ..session import session_dir
from .registry import query
from .text_pipeline import TOKS

# W: minimum duplicated-span length in tokens.  Lee et al. use 50 BPE
# tokens on web-scale corpora; 16 whitespace tokens is the same knob scaled
# to the synthetic fixture's ~300-token documents.
SUBSTR_W = 16

# DSIR hashed-feature space.  The paper uses 10k buckets on real corpora;
# 64 keeps every bucket populated at the fixture SFs while exercising the
# identical plan (the bucket table is broadcast either way).
DSIR_BUCKETS = 64


def _window_hashes(d: DataFrame, W: int) -> DataFrame:
    """(doc_id, pos, wh): every W-token window start with its portable
    hash64 — one narrow pass per doc; only 12 bytes/window ever reach a
    shuffle, never the window text."""
    return d.select(
        "doc_id",
        F.expr(
            f"inline(transform(sequence(1, n_toks-{W}+1), i -> struct("
            f"i as pos, "
            f"cast(conv(substring(md5(concat_ws(' ', slice(toks, i, {W}))), 1, 15), 16, 10) as bigint) as wh)))"
        ),
    )


def _merge_flagged_spans(flag: DataFrame, W: int) -> DataFrame:
    """Interval merge of flagged window positions → per-doc
    (n_dup_spans, dup_tokens).  Equal-length windows sorted by start, so
    chaining off the previous START is exact (prev start is also the max
    end so far).  A new span starts only on a coverage HOLE
    (pos > prev + W): the window at prev covers [prev, prev+W-1], so a
    window starting at prev+W touches it and their token coverage is one
    contiguous run — maximal spans, matching the coverage-bitmap oracle."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") > F.coalesce(F.lag("pos").over(w), F.lit(-W)) + W, 1
    ).otherwise(0)
    grp = flag.withColumn("brk", brk).withColumn(
        "gid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("a"), F.max("pos").alias("b")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("b") - F.col("a") + W).cast("bigint").alias("dup_tokens"),
    )


@query(
    "exact_substring_spans",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, toks, len(toks) AS n_toks
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
      WHERE len(toks) >= {SUBSTR_W}
    ),
    win AS (
      SELECT doc_id, i AS pos,
             {hash64_sql(f"array_to_string(list_slice(toks, i, i+{SUBSTR_W}-1), ' ')")} AS wh
      FROM (SELECT doc_id, toks, unnest(generate_series(1, n_toks-{SUBSTR_W}+1)) AS i
            FROM d)
    ),
    dup AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
    flag AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (wh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -{SUBSTR_W}) + {SUBSTR_W}
                  THEN 1 ELSE 0 END AS brk
      FROM flag WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS gid
      FROM isl
    ),
    spans AS (SELECT doc_id, gid, min(pos) AS a, max(pos) AS b
              FROM grp GROUP BY 1, 2),
    per AS (SELECT doc_id,
                   cast(count(*) as bigint) AS n_dup_spans,
                   cast(sum(b - a + {SUBSTR_W}) as bigint) AS dup_tokens
            FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           cast(d.n_toks as bigint) AS n_toks,
           cast(d.n_toks - {SUBSTR_W} + 1 as bigint) AS n_windows,
           coalesce(per.n_dup_spans, 0) AS n_dup_spans,
           coalesce(per.dup_tokens, 0) AS dup_tokens,
           round(coalesce(per.dup_tokens, 0) * 1.0 / d.n_toks, 6) AS dup_ratio
    FROM d LEFT JOIN per USING (doc_id)
    """,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup report: per doc, the merged duplicated spans.

    A span is duplicated when its W-token window hash occurs >= 2 times
    corpus-wide (within- or cross-document).  Flagged positions merge into
    maximal spans; ``dup_tokens`` is the exact token coverage of the merged
    spans, ``dup_ratio`` the removable fraction Lee et al. report.
    """
    from ..sources.tables import load_table

    W = SUBSTR_W
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
        ).alias("toks"),
    ).withColumn("n_toks", F.size("toks")).filter(F.col("n_toks") >= W)

    win = _window_hashes(d, W)
    dup = win.groupBy("wh").agg(F.count(F.lit(1)).alias("n_occ")).filter(
        F.col("n_occ") >= 2
    )
    flag = win.join(dup.select("wh"), "wh").select("doc_id", "pos")
    per = _merge_flagged_spans(flag, W)
    return (
        d.select("doc_id", "n_toks")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_toks").cast("bigint").alias("n_toks"),
            (F.col("n_toks") - W + 1).cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) * F.lit(1.0) / F.col("n_toks"), 6
            ).alias("dup_ratio"),
        )
    )


_DSIR_FEATS = (
    f"list_concat(toks, list_transform(generate_series(1, greatest(len(toks)-1, 0)),"
    f" i -> toks[i] || ' ' || toks[i+1]))"
)


@query(
    "dsir_selection",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    feat AS (
      SELECT doc_id, (lang = 'en') AS is_target,
             {hash64_sql('f')} % {DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang, unnest({_DSIR_FEATS}) AS f FROM d)
    ),
    bstat AS (
      SELECT bucket,
             cast(sum(CASE WHEN is_target THEN 1 ELSE 0 END) as bigint) AS c_t,
             cast(count(*) as bigint) AS c_all
      FROM feat GROUP BY bucket
    ),
    tot AS (SELECT cast(sum(c_t) as bigint) AS t_t,
                   cast(sum(c_all) as bigint) AS t_all FROM bstat),
    bw AS (
      SELECT bucket,
             cast(round(ln(((c_t + 0.5) * (t_all + {DSIR_BUCKETS} * 0.5))
                           / ((c_all + 0.5) * (t_t + {DSIR_BUCKETS} * 0.5))), 6)
                  as decimal(27,6)) AS lr
      FROM bstat, tot
    )
    SELECT f.doc_id,
           cast(count(*) as bigint) AS n_features,
           floor(cast(sum(bw.lr) as double) / count(*) * 1000000) / 1000000 AS dsir_score,
           (cast(sum(bw.lr) as double) / count(*) > 0) AS selected
    FROM feat f JOIN bw USING (bucket)
    GROUP BY f.doc_id
    """,
)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (arXiv:2302.03169): hashed-ngram importance scores per document.

    p = feature distribution of the target slice (lang='en'), q = the whole
    corpus, both +0.5-smoothed over ``DSIR_BUCKETS`` hashed unigram+bigram
    buckets; a doc's score is the mean log(p_b/q_b) over its feature
    occurrences, and ``selected`` is the noiseless score>0 cut.
    """
    from ..functions.hashing import hash64
    from ..sources.tables import load_table

    B = DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").alias(
            "toks"
        ),
    )
    # unigrams ++ bigrams in one generated array, then a single explode
    feats = d.select(
        "doc_id",
        "is_target",
        F.explode(
            F.expr(
                "concat(toks, transform(sequence(1, greatest(size(toks)-1, 0)),"
                " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1))))"
            )
        ).alias("f"),
    ).select("doc_id", "is_target", (hash64(F.col("f")) % B).alias("bucket"))

    bstat = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_t"),
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
    )
    tot = F.broadcast(
        bstat.agg(
            F.sum("c_t").cast("bigint").alias("t_t"),
            F.sum("c_all").cast("bigint").alias("t_all"),
        )
    )
    # <= B rows: broadcast the per-bucket log-ratio table back to the feats.
    # The +0.5 smoothing folds into exact integer products —
    # (c+0.5)(t+B/2) ∝ (2c+1)(2t+B) — because DuckDB evaluates decimal
    # literals exactly while Spark uses doubles, and at sf1 magnitudes the
    # last-ulp difference in the ln() argument survives round(.., 6)
    # (caught by the full sf1 oracle gate).  Products stay under 2^63 for
    # feature totals < ~2e9 per side; beyond that, pre-scale the counts.
    bw = F.broadcast(
        bstat.crossJoin(tot).select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("c_t") * 2 + 1) * (F.col("t_all") * 2 + B)).cast("double")
                    / ((F.col("c_all") * 2 + 1) * (F.col("t_t") * 2 + B)).cast("double")
                ),
                6,
            )
            .cast("decimal(27,6)")
            .alias("lr"),
        )
    )
    score = F.sum("lr").cast("double") / F.count(F.lit(1))
    return (
        feats.join(bw, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            (F.floor(score * 1000000) / 1000000).alias("dsir_score"),
            (score > 0).alias("selected"),
        )
    )


# --------------------------------------------------------------------------
# CCNet-style LM quality scoring (Wenzek et al., arXiv:1911.00359): CCNet
# scores web text with a KenLM model TRAINED ON WIKIPEDIA and buckets by
# perplexity.  The honest SQL-expressible version of that recipe: a bigram
# LM with stupid backoff (Brants et al. 2007, alpha=0.4) trained on the
# target slice (lang='en', the in-domain stand-in), scoring EVERY document
# — off-domain docs hit unseen bigrams, fall to the backoff path, and
# score low, which is exactly the separation the filter exists to produce
# (the existing unigram_surprisal_scores has no cross-domain train/score
# split; this is the upgrade that does).
#
# Scale: the LM tables shuffle on 60-bit token/bigram hashes (the repo
# rule: raw text never shuffles); scoring is two hash-joins against the
# unigram table and one against the bigram table — all map-side
# combinable aggregations and compact-key joins, linear in corpus tokens.
# log() determinism follows the registry rule: round(ln, 6) per row,
# exact decimal sum, one cast back.
_BACKOFF_ALPHA = 0.4

# the LM-train + per-doc-score CTE chain, shared by bigram_lm_quality and
# the CCNet bucket composition below (lmq = one row per scored doc)
_BIGRAM_LM_CTES = f"""d AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    uni AS (
      SELECT {hash64_sql('t')} AS th, cast(count(*) as bigint) AS c_uni
      FROM (SELECT unnest(toks) AS t FROM d WHERE lang = 'en') GROUP BY 1
    ),
    tot AS (SELECT cast(sum(c_uni) as bigint) AS t_total FROM uni),
    bi AS (
      SELECT {hash64_sql('b')} AS bh, cast(count(*) as bigint) AS c_bi
      FROM (SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                   i -> toks[i] || ' ' || toks[i+1])) AS b
            FROM d WHERE lang = 'en') GROUP BY 1
    ),
    pos AS (
      SELECT doc_id,
             {hash64_sql('prev')} AS prevh,
             {hash64_sql('cur')} AS curh,
             {hash64_sql("prev || ' ' || cur")} AS bh
      FROM (SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur
            FROM (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks)-1, 0))) AS i
                  FROM d))
    ),
    scored AS (
      SELECT p.doc_id,
             cast(CASE
               WHEN b.c_bi IS NOT NULL AND up.c_uni IS NOT NULL
                 THEN round(ln(cast(b.c_bi as double) / cast(up.c_uni as double)), 6)
               ELSE round(ln(cast(4 * coalesce(uc.c_uni, 0) + 2 as double)
                             / cast(10 * t.t_total + 5 as double)), 6)
             END as decimal(27,6)) AS lp
      FROM pos p
      LEFT JOIN bi b ON p.bh = b.bh
      LEFT JOIN uni up ON p.prevh = up.th
      LEFT JOIN uni uc ON p.curh = uc.th
      CROSS JOIN tot t
    ),
    lmq AS (
      SELECT doc_id,
             cast(count(*) as bigint) AS n_bigrams,
             floor(cast(sum(lp) as double) / count(*) * 1000000) / 1000000 AS avg_logprob
      FROM scored GROUP BY doc_id
    )"""


@query(
    "bigram_lm_quality",
    oracle=f"""
    WITH {_BIGRAM_LM_CTES}
    SELECT doc_id, n_bigrams, avg_logprob FROM lmq
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-probability under the target-slice LM with
    stupid backoff — the CCNet perplexity-filter signal (higher = more
    target-like; threshold/bucket downstream)."""
    from ..functions.hashing import hash64
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = docs.select(
        "doc_id",
        "lang",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").alias(
            "toks"
        ),
    )
    train = d.where(F.col("lang") == "en")
    # the unigram LM table has THREE consumers (the total, the c_prev side,
    # the c_cur side) and Spark gives differently-keyed aggregates no
    # exchange reuse — without the persist the target slice is re-scanned
    # and re-tokenized for each (measured: 5 scans of documents -> 3).
    # In a production pipeline this is the staged LM artifact anyway.
    from pyspark.storagelevel import StorageLevel

    uni = (
        train.select(F.explode("toks").alias("t"))
        .groupBy(hash64(F.col("t")).alias("th"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_uni"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = F.broadcast(uni.agg(F.sum("c_uni").cast("bigint").alias("t_total")))
    bigram_expr = (
        "transform(sequence(1, greatest(size(toks)-1, 0)),"
        " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1)))"
    )
    bi = (
        train.select(F.explode(F.expr(bigram_expr)).alias("b"))
        .groupBy(hash64(F.col("b")).alias("bh"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_bi"))
    )
    pos = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(toks)-1, 0)),"
                " i -> struct(element_at(toks, i) as prev, element_at(toks, i+1) as cur))"
            )
        ).alias("p"),
    ).select(
        "doc_id",
        hash64(F.col("p.prev")).alias("prevh"),
        hash64(F.col("p.cur")).alias("curh"),
        hash64(F.concat_ws(" ", F.col("p.prev"), F.col("p.cur"))).alias("bh"),
    )
    up = uni.select(F.col("th").alias("prevh"), F.col("c_uni").alias("c_prev"))
    uc = uni.select(F.col("th").alias("curh"), F.col("c_uni").alias("c_cur"))
    # alpha=0.4 and the +0.5 smoothing are folded into exact integer
    # ratios — 0.4*(c+0.5)/(t+0.5) = (4c+2)/(10t+5) — because decimal
    # literals are exact in DuckDB but doubles in Spark, and a last-ulp
    # difference in the ln() argument survives round(.., 6)
    lp = F.when(
        F.col("c_bi").isNotNull() & F.col("c_prev").isNotNull(),
        F.round(
            F.log(F.col("c_bi").cast("double") / F.col("c_prev").cast("double")), 6
        ),
    ).otherwise(
        F.round(
            F.log(
                (F.coalesce(F.col("c_cur"), F.lit(0)) * 4 + 2).cast("double")
                / (F.col("t_total") * 10 + 5).cast("double")
            ),
            6,
        )
    )
    scored = (
        pos.join(bi, "bh", "left")
        .join(up, "prevh", "left")
        .join(uc, "curh", "left")
        .crossJoin(tot)
        .select("doc_id", lp.cast("decimal(27,6)").alias("lp"))
    )
    # the mean lands on exact .5 ties at 6dp for real inputs and the two
    # engines round negative halves differently — floor-at-6dp is the same
    # IEEE op chain on both sides, so it is tie-free by construction
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        (
            F.floor(F.sum("lp").cast("double") / F.count(F.lit(1)) * 1000000)
            / 1000000
        ).alias("avg_logprob"),
    )


# --------------------------------------------------------------------------
# Incremental ExactSubstr: the per-ingest-day spelling of the span dedup
# above, following the staged-index pattern of incremental_dedup_report /
# incremental_ann_index — the historical corpus's window hashes live in a
# persisted parquet index (appended to nightly, partitioned by hash range
# at real scale, NEVER rebuilt), and a new batch's cost is one explode
# over the batch plus one equi-join against the index.  A new-batch window
# is duplicated if it hits the index OR occurs >= 2 times within the
# batch itself; flagged positions merge with the same span machinery.
# The fixture split is the registry convention: doc_id % 5 == 4 is today's
# batch, the rest is history.
@query(
    "incremental_substring_report",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, doc_id % 5 = 4 AS is_new, toks, len(toks) AS n_toks
      FROM (SELECT doc_id, source, {TOKS} AS toks FROM documents)
      WHERE len(toks) >= {SUBSTR_W}
    ),
    win AS (
      SELECT doc_id, is_new, i AS pos,
             {hash64_sql(f"array_to_string(list_slice(toks, i, i+{SUBSTR_W}-1), ' ')")} AS wh
      FROM (SELECT doc_id, is_new, toks, unnest(generate_series(1, n_toks-{SUBSTR_W}+1)) AS i
            FROM d)
    ),
    hist AS (SELECT DISTINCT wh FROM win WHERE NOT is_new),
    newdup AS (SELECT wh FROM win WHERE is_new GROUP BY wh HAVING count(*) >= 2),
    flag AS (
      SELECT w.doc_id, w.pos FROM win w
      WHERE w.is_new AND (w.wh IN (SELECT wh FROM hist)
                          OR w.wh IN (SELECT wh FROM newdup))
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -{SUBSTR_W}) + {SUBSTR_W}
                  THEN 1 ELSE 0 END AS brk
      FROM flag WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS gid
      FROM isl
    ),
    spans AS (SELECT doc_id, gid, min(pos) AS a, max(pos) AS b FROM grp GROUP BY 1, 2),
    per AS (SELECT doc_id,
                   cast(count(*) as bigint) AS n_dup_spans,
                   cast(sum(b - a + {SUBSTR_W}) as bigint) AS dup_tokens
            FROM spans GROUP BY doc_id)
    SELECT d.source,
           cast(count(*) as bigint) AS n_new_docs,
           cast(sum(d.n_toks) as bigint) AS new_tokens,
           cast(sum(coalesce(per.dup_tokens, 0)) as bigint) AS dup_tokens,
           round(sum(coalesce(per.dup_tokens, 0)) * 1.0 / sum(d.n_toks), 6) AS dup_share
    FROM d LEFT JOIN per USING (doc_id)
    WHERE d.is_new
    GROUP BY d.source
    """,
)
def incremental_substring_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    W = SUBSTR_W
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = (
        docs.select(
            "doc_id",
            "source",
            (F.col("doc_id") % 5 == 4).alias("is_new"),
            F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").alias(
                "toks"
            ),
        )
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") >= W)
    )
    win = _window_hashes(d.select("doc_id", "toks", "n_toks"), W).join(
        d.select("doc_id", "is_new"), "doc_id"
    )
    # stage the historical window-hash index exactly as the nightly job
    # would: written once, read back as the join side (8 bytes per window)
    index_dir = session_dir(spark, "substr_index_")
    win.where(~F.col("is_new")).select("wh").distinct().write.mode(
        "overwrite"
    ).parquet(index_dir)
    hist = spark.read.parquet(index_dir)

    # batch-scale frame with THREE consumers (newdup, both semi-joins):
    # without the lineage cut each one re-runs the regex tokenization +
    # window explode + hash over the new docs (the before-plan scanned
    # documents 16 times).  History stays a single streamed pass (the
    # parquet index write above) — only the batch is materialized.
    new_win = (
        win.where(F.col("is_new"))
        .select("doc_id", "pos", "wh")
        .localCheckpoint(eager=False)
    )
    newdup = (
        new_win.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("wh")
    )
    # two semi-joins instead of union+distinct over the index: the index is
    # corpus-token-scale and must only be STREAMED through its one equi-join,
    # never re-shuffled through a distinct; the union/distinct below touches
    # batch-scale rows only
    flag_hist = new_win.join(hist, "wh", "left_semi")
    flag_new = new_win.join(newdup, "wh", "left_semi")
    flag = flag_hist.union(flag_new).distinct().select("doc_id", "pos")
    per = _merge_flagged_spans(flag, W)
    newd = d.where(F.col("is_new")).select("doc_id", "source", "n_toks")
    dup = F.sum(F.coalesce("dup_tokens", F.lit(0)))
    return (
        newd.join(per, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_new_docs"),
            F.sum("n_toks").cast("bigint").alias("new_tokens"),
            dup.cast("bigint").alias("dup_tokens"),
            F.round(dup * F.lit(1.0) / F.sum("n_toks"), 6).alias("dup_share"),
        )
    )


# --------------------------------------------------------------------------
# Character-entropy quality signal: the compressibility proxy data
# pipelines use to drop gibberish and keyboard-mash (low entropy =
# repetitive; the signal behind "compression ratio" filters, computed
# exactly instead of via zlib).  Shannon entropy over the 36-class
# lowercase-alnum character distribution, ENTIRELY in-row: each class
# count is length(clean) - length(replace(clean, ch)) — a fixed 36-term
# expression chain inside whole-stage codegen, no explode, no shuffle
# beyond the scan.  Per-term ln rounds to 6dp then sums as exact decimal
# (fixed order), and the final division floors at 6dp (round() half-tie
# rule learned from bigram_lm_quality).
_ENTROPY_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"


def _entropy_terms_sql() -> str:
    terms = []
    for ch in _ENTROPY_CHARS:
        c = f"(length(clean) - length(replace(clean, '{ch}', '')))"
        terms.append(
            f"CASE WHEN {c} > 0 THEN cast(round(ln(cast({c} as double)), 6)"
            f" as decimal(27,6)) * {c} ELSE cast(0 as decimal(27,6)) END"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "char_entropy_quality",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS clean
      FROM documents
    ),
    s AS (
      SELECT doc_id, length(clean) AS n,
             {_entropy_terms_sql()} AS term_sum
      FROM d
    )
    SELECT doc_id,
           cast(n as bigint) AS n_chars_used,
           CASE WHEN n > 0 THEN
             floor((cast(round(ln(cast(n as double)), 6) as double)
                    - cast(term_sum as double) / n) * 1000000) / 1000000
           ELSE 0.0 END AS entropy_nats
    FROM s
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("clean"),
    )
    n = F.length("clean")
    term_sum = None
    for ch in _ENTROPY_CHARS:
        c = n - F.length(F.replace("clean", F.lit(ch), F.lit("")))
        term = F.when(
            c > 0,
            F.round(F.log(c.cast("double")), 6).cast("decimal(27,6)") * c,
        ).otherwise(F.lit(0).cast("decimal(27,6)"))
        term_sum = term if term_sum is None else term_sum + term
    entropy = F.when(
        n > 0,
        F.floor(
            (
                F.round(F.log(n.cast("double")), 6).cast("double")
                - term_sum.cast("double") / n
            )
            * 1000000
        )
        / 1000000,
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_chars_used"),
        entropy.alias("entropy_nats"),
    )


# --------------------------------------------------------------------------
# CCNet perplexity buckets (Wenzek et al. arXiv:1911.00359 §4.3): CCNet's
# actual selection step — documents ranked by LM score and split into
# head / middle / tail TERCILES, with downstream training mixes drawing
# from the buckets by quota.  Composed entirely from machinery this repo
# already verifies: the bigram-LM per-doc scores (shared _BIGRAM_LM_CTES
# oracle text = shared bigram_lm_quality plan) and the DISTRIBUTED global
# rank (operators/rank.py — never a partition-less window).  Tercile =
# 1 + (rn-1)*3 div n, integer-exact; bucket 3 (highest logprob = lowest
# perplexity) is 'head'.  Output: per bucket × lang doc counts, exact
# decimal char mass, and the bucket's logprob extent — the table a corpus
# mixer reads to set sampling quotas.
@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_BIGRAM_LM_CTES},
    ranked AS (
      SELECT l.doc_id, l.avg_logprob,
             row_number() OVER (ORDER BY l.avg_logprob, l.doc_id) AS rn,
             count(*) OVER () AS n
      FROM lmq l
    ),
    bucketed AS (
      SELECT r.doc_id, r.avg_logprob,
             CASE 1 + (r.rn - 1) * 3 // r.n
               WHEN 1 THEN 'tail' WHEN 2 THEN 'middle' ELSE 'head'
             END AS bucket
      FROM ranked r
    )
    SELECT b.bucket AS bucket, doc.lang AS lang,
           cast(count(*) as bigint) AS n_docs,
           cast(cast(sum(cast(doc.n_chars as decimal(27,6))) as varchar) as double)
             AS sum_chars,
           min(b.avg_logprob) AS min_logprob,
           max(b.avg_logprob) AS max_logprob
    FROM bucketed b JOIN documents doc ON b.doc_id = doc.doc_id
    GROUP BY 1, 2
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rank import global_row_number
    from ..sources.tables import load_table
    from .core_relational import dsum

    scores = bigram_lm_quality(spark, sf_dir).select("doc_id", "avg_logprob")
    ranked = global_row_number(scores, ["avg_logprob", "doc_id"], "rn")
    # rn is dense 1..n over the checkpointed ranked frame, so max(rn) IS
    # the doc count — no second pass over the expensive LM pipeline
    n = F.broadcast(ranked.agg(F.max("rn").alias("n")))
    idx = F.lit(1) + F.floor((F.col("rn") - 1) * 3 / F.col("n"))
    bucketed = ranked.crossJoin(n).select(
        "doc_id",
        "avg_logprob",
        F.when(idx == 1, "tail")
        .when(idx == 2, "middle")
        .otherwise("head")
        .alias("bucket"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return (
        bucketed.join(docs, "doc_id")
        .groupBy("bucket", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            dsum(F.col("n_chars"), "sum_chars"),
            F.min("avg_logprob").alias("min_logprob"),
            F.max("avg_logprob").alias("max_logprob"),
        )
    )
