"""Round-2 entry-surface additions: the reference tail items that
lacked oracle queries —

  * ``er_token_blocks_clean`` — B4 stop-word / bad-token removal
    (scala/.../TokenBlocking.scala:18-24 removeBadWords)
  * ``er_block_filtering_scala`` — the Scala exact-truncation block
    filtering (scala/.../BlockFiltering.scala:28-39 blockFiltering)
  * ``er_block_entropy`` — the Scala-only per-block entropy estimator
    (old_versions/.../Utilities/StatisticsEstimator.scala:296-342)
  * ``er_lsh_blocks`` — profile-level MinHash-LSH blocking
    (old_versions/.../BlockBuildingMethods/LSHTwitter.scala:30-71)

Registered into sparker_spark.entry.QUERIES alongside entry_ext.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import Blocking
from sparker_spark.blocking.converters import Converters
from sparker_spark.blocking.strategies import ENGLISH_STOPWORDS, BlockingKeysStrategies
from sparker_spark.evaluation import StatisticsEstimator
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.rounding import rnd


# ====================================================================
# B4: stop-word / bad-token removal over unigram document keys
# ====================================================================
def q_er_token_blocks_clean(spark, sf_dir):
    from sparker_spark.entry import _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir)
    cleaned = BlockingKeysStrategies.clean_keys(keys, stopwords=ENGLISH_STOPWORDS)
    blocks = Blocking.blocks_from_keys(cleaned, clean=False, assign_ids=False)
    return blocks.meta.select(
        "key",
        F.col("block_size").cast("long").alias("block_size"),
        F.col("comparisons").cast("long").alias("comparisons"),
    )


def _o_er_token_blocks_clean() -> str:
    from sparker_spark.entry import DUCK_UNIGRAM_KEYS

    stop_list = ",".join("'" + w.replace("'", "''") + "'" for w in ENGLISH_STOPWORDS)
    return f"""WITH {DUCK_UNIGRAM_KEYS.strip()},
ck AS (SELECT profile_id, key FROM keys
       WHERE (regexp_full_match(key, '[a-z]+') OR regexp_full_match(key, '[0-9]+'))
         AND key NOT IN ({stop_list})),
blocks AS (
  SELECT key, count(*) AS block_size,
         count(*) * (count(*) - 1) AS comparisons
  FROM ck GROUP BY key HAVING count(*) > 1)
SELECT key, block_size, comparisons FROM blocks"""


# ====================================================================
# R2 (Scala variant): exact-truncation block filtering. assign_ids=True
# (dense ids ranked by key via the distributed ranker) so the Spark
# tie order (comparisons, block_id) equals the oracle's
# (comparisons, key) — with truncation the selected SET depends on tie
# order, unlike the tie-inclusive cutoff.
# ====================================================================
def q_er_block_filtering_scala(spark, sf_dir):
    from sparker_spark.entry import FILTER_R, SMOOTH_FACTOR, _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir).localCheckpoint(eager=False)
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=True)
    purged = BlockPurging.block_purging(blocks, SMOOTH_FACTOR)
    pb = Converters.blocks_to_profile_blocks(purged)
    filtered = BlockFiltering.block_filtering(pb, FILTER_R, tie_inclusive=False)
    return filtered.join(purged.meta.select("block_id", "key"), "block_id").select(
        "profile_id",
        "key",
        F.col("comparisons").cast("long").alias("comparisons"),
    )


def _o_er_block_filtering_scala() -> str:
    from sparker_spark.entry import FILTER_R, _DUCK_PURGE_PREFIX

    return (
        _DUCK_PURGE_PREFIX
        + f""",
purged AS (SELECT b.key, b.comparisons FROM blocks b, thr WHERE b.comparisons <= thr.t),
pb AS (SELECT k.profile_id, p.key, p.comparisons FROM keys k JOIN purged p USING (key)),
ranked AS (SELECT profile_id, key, comparisons,
                  row_number() OVER (PARTITION BY profile_id ORDER BY comparisons, key) AS rn,
                  count(*) OVER (PARTITION BY profile_id) AS n
           FROM pb)
SELECT profile_id, key, comparisons
FROM ranked
WHERE rn <= CAST(floor(n * CAST({FILTER_R} AS DOUBLE) + 0.5) AS BIGINT)"""
    )


# ====================================================================
# L9: per-block entropy estimator over unigram document blocks
# ====================================================================
def q_er_block_entropy(spark, sf_dir):
    from sparker_spark.entry import _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir).localCheckpoint(eager=False)
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    blocks = dataclasses.replace(blocks, meta=blocks.meta.localCheckpoint(eager=False))
    ent = StatisticsEstimator.block_entropy(blocks, normalized=True)
    return ent.join(blocks.meta.select("block_id", "key"), "block_id").select(
        "key",
        rnd("entropy", 6).alias("entropy"),
        rnd("norm_entropy", 6).alias("norm_entropy"),
    )


def _o_er_block_entropy() -> str:
    from sparker_spark.entry import DUCK_UNIGRAM_KEYS

    return f"""WITH {DUCK_UNIGRAM_KEYS.strip()},
blocks AS (
  SELECT key, count(*) AS block_size,
         count(*) * (count(*) - 1) AS comparisons
  FROM keys GROUP BY key HAVING count(*) > 1),
pb AS (SELECT k.profile_id, k.key FROM keys k JOIN blocks USING (key)),
pk AS (SELECT a.key AS bkey, b.key AS okey
       FROM pb a JOIN pb b ON a.profile_id = b.profile_id),
cnt AS (SELECT bkey, okey, count(*) AS c FROM pk GROUP BY 1, 2),
ent AS (SELECT bkey, CAST(sum(c) AS DOUBLE) AS n,
               sum(c * ln(CAST(c AS DOUBLE))) AS clogc
        FROM cnt GROUP BY bkey)
SELECT b.key,
       round((ln(e.n) - e.clogc / e.n) / e.n, 6) AS entropy,
       round(((ln(e.n) - e.clogc / e.n) / e.n) / b.block_size, 6) AS norm_entropy
FROM ent e JOIN blocks b ON e.bkey = b.key"""


# ====================================================================
# L10: profile-level MinHash-LSH blocking (LSHTwitter.scala:30-71) —
# each LSH bucket is a block. Small signature (16 hashes) keeps the
# generated oracle SQL readable; the operator itself takes any size.
# ====================================================================
LSH_HASHES = 16
LSH_T = 0.4


def q_er_lsh_blocks(spark, sf_dir):
    from sparker_spark.blocking.lsh import LSHBlocking
    from sparker_spark.entry import _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir)
    blocks = LSHBlocking.create_blocks_lsh(
        keys, num_hashes=LSH_HASHES, target_threshold=LSH_T, assign_ids=False
    )
    return blocks.meta.select(
        "key",
        F.col("block_size").cast("long").alias("block_size"),
        F.col("comparisons").cast("long").alias("comparisons"),
    )


def _o_er_lsh_blocks() -> str:
    from sparker_spark.attribute_clustering import band_chunks
    from sparker_spark.entry import DUCK_UNIGRAM_KEYS
    from sparker_spark.llm.hashing import (
        DUCK_HASH60,
        MERSENNE_31,
        minhash_coefficients,
        minhash_expr,
    )

    coeffs = minhash_coefficients(LSH_HASHES)
    chunks = band_chunks(LSH_HASHES, LSH_T)
    mh_cols = ",\n         ".join(
        f"min({minhash_expr(a, b)}) AS mh_{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_exprs = ",\n".join(
        "concat_ws('_', %d, %s) AS band_%d"
        % (bi, ", ".join(f"mh_{start + r}" for r in range(length)), bi)
        for bi, (start, length) in enumerate(chunks)
    )
    bucket_union = " UNION ALL ".join(
        f"SELECT profile_id, band_{bi} AS key FROM banded"
        for bi in range(len(chunks))
    )
    h60 = DUCK_HASH60.format(x="key")
    return f"""WITH {DUCK_UNIGRAM_KEYS.strip()},
h AS (SELECT profile_id, ({h60} % {MERSENNE_31}) AS h31 FROM keys),
sigs AS (SELECT profile_id,
         {mh_cols}
         FROM h GROUP BY profile_id),
banded AS (SELECT profile_id,
{band_exprs}
FROM sigs),
buckets AS ({bucket_union})
SELECT key, count(*) AS block_size,
       count(*) * (count(*) - 1) AS comparisons
FROM buckets GROUP BY key HAVING count(*) > 1"""


# ====================================================================
def r2_queries() -> dict:
    return {
        "er_token_blocks_clean": q_er_token_blocks_clean,
        "er_block_filtering_scala": q_er_block_filtering_scala,
        "er_block_entropy": q_er_block_entropy,
        "er_lsh_blocks": q_er_lsh_blocks,
    }


def r2_oracles() -> dict:
    return {
        "er_token_blocks_clean": _o_er_token_blocks_clean(),
        "er_block_filtering_scala": _o_er_block_filtering_scala(),
        "er_block_entropy": _o_er_block_entropy(),
        "er_lsh_blocks": _o_er_lsh_blocks(),
    }
