"""Entry-surface extension: the SURVEY §2 families not covered by
sparker_spark.entry — supervised meta-blocking (F1, F4–F7), attribute
clustering / entropy (L5, L7, L8), progressive ER (G1–G2) and PC/PQ
evaluation (E1/F8) — each as an oracle-checked query.

Registered into sparker_spark.entry.QUERIES at the bottom of entry.py;
DuckDB CTE fragments shared with entry are imported lazily inside the
builder functions to avoid a module cycle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparker_spark.attribute_clustering import AttributeClustering, band_chunks
from sparker_spark.blocking.blockers import Blocking
from sparker_spark.feature_generator import FeatureGenerator
from sparker_spark.llm.dedup import Dedup
from sparker_spark.llm.hashing import (
    DUCK_HASH60,
    MERSENNE_31,
    minhash_coefficients,
    minhash_expr,
)
from sparker_spark.metablocking.pruning_utils import WeightTypes
from sparker_spark.progressive import GSPSN, PPS
from sparker_spark.rounding import rnd
from sparker_spark.supervised import SupervisedMB

# ---------------------------------------------------------------- params
ATTR_HASHES = 32  # reference default is 128 (BLAST.ipynb); 32 keeps the
ATTR_LSH_T = 0.5  # oracle SQL tractable — the construction is identical
ATTR_SEED = 1234  # LSH.scala:44-52 seed
GSPSN_W = 3  # progressive.py:330 default max_window_size

FEATURE_COLS = ["cfibf", "raccb", "js", "rs", "aejs", "nrs", "wjs"]

CUST_ATTRS = ["c_acctbal", "c_mktsegment", "c_name", "c_nationkey"]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _py_rnd(x: float, n: int = 6) -> float:
    """Python twin of rounding.rnd / sql_rnd (identical IEEE ops)."""
    scale = float(10**n)
    return math.floor(x * scale + 0.5) / scale


# ====================================================================
# Customer EAV: the schema-agnostic profile view used by the attribute
# subsystem queries. Two "sources" split by key parity so the
# cross-source rules (L5) have something to do; c_custkey is the
# profile id; every value stringified exactly alike in both engines
# (c_acctbal via DECIMAL(12,2) so trailing zeros match).
# ====================================================================
def _customer_eav(spark, sf_dir) -> DataFrame:
    cust = _load(spark, sf_dir, "customer")
    vals = {
        "c_name": F.col("c_name").cast("string"),
        "c_nationkey": F.col("c_nationkey").cast("string"),
        "c_acctbal": F.col("c_acctbal").cast("decimal(12,2)").cast("string"),
        "c_mktsegment": F.col("c_mktsegment").cast("string"),
    }
    structs = [
        F.struct(F.lit(a).alias("attr"), vals[a].alias("value"))
        for a in CUST_ATTRS
    ]
    return (
        cust.select(
            F.col("c_custkey").alias("profile_id"),
            (F.col("c_custkey") % 2).cast("int").alias("source_id"),
            F.explode(F.array(*structs)).alias("kv"),
        )
        .select(
            "profile_id",
            "source_id",
            F.col("kv.attr").alias("attr"),
            F.col("kv.value").alias("value"),
        )
        .where(F.col("value").isNotNull() & (F.trim("value") != ""))
        .withColumn(
            "attr_key", F.concat(F.col("source_id"), F.lit("_"), F.col("attr"))
        )
    )


DUCK_CUST_EAV = """
eav AS MATERIALIZED (
  SELECT pid, source_id, attr, value FROM (
    SELECT c_custkey AS pid, c_custkey % 2 AS source_id, c_name,
           CAST(c_nationkey AS VARCHAR) AS c_nationkey,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS c_acctbal,
           c_mktsegment
    FROM customer)
  UNPIVOT (value FOR attr IN (c_acctbal, c_mktsegment, c_name, c_nationkey))
),
tok_all AS MATERIALIZED (
  SELECT pid, source_id, attr, source_id || '_' || attr AS attr_key, tok AS token
  FROM (SELECT pid, source_id, attr,
               unnest(regexp_split_to_array(lower(value), '[^\\p{L}\\p{N}_]+')) AS tok
        FROM eav WHERE value IS NOT NULL AND trim(value) <> '')
  WHERE tok <> ''
),
tok AS MATERIALIZED (SELECT DISTINCT attr_key, token FROM tok_all)"""

# per-attribute Shannon entropy of the token-occurrence distribution
# (attribute_clustering.py:263-313): H = log2(N) − Σc·log2(c)/N
DUCK_ATTR_ENTROPY = """
cnt AS (SELECT attr_key, token, count(*) AS c FROM tok_all GROUP BY 1, 2),
attr_h AS (
  SELECT attr_key, log2(sum(c)) - sum(c * log2(c)) / sum(c) AS entropy
  FROM cnt GROUP BY attr_key)"""


def q_attr_entropy(spark, sf_dir):
    table = AttributeClustering.signature_table(
        _customer_eav(spark, sf_dir), ATTR_HASHES, ATTR_SEED
    )
    return spark.createDataFrame(
        [(k, _py_rnd(h, 6)) for k, h in zip(table.keys, table.entropy)],
        "attr_key STRING, entropy DOUBLE",
    )


O_ATTR_ENTROPY = f"""WITH {DUCK_CUST_EAV.strip()},
{DUCK_ATTR_ENTROPY.strip()}
SELECT attr_key, round(entropy, 6) AS entropy FROM attr_h"""


# ---------------------------------------------------------------- L5:
# MinHash signatures + LSH banding -> cross-source similarity edges
def _duck_minhash_attrs() -> str:
    coeffs = minhash_coefficients(ATTR_HASHES, ATTR_SEED)
    chunks = band_chunks(ATTR_HASHES, ATTR_LSH_T)
    mh_cols = ",\n         ".join(
        f"min({minhash_expr(a, b)}) AS mh_{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_exprs = ",\n".join(
        "concat_ws('_', %d, %s) AS band_%d"
        % (bi, ", ".join(f"mh_{start + r}" for r in range(length)), bi)
        for bi, (start, length) in enumerate(chunks)
    )
    bucket_union = " UNION ALL ".join(
        f"SELECT attr_key, band_{bi} AS bucket FROM banded"
        for bi in range(len(chunks))
    )
    agree = " + ".join(
        f"CASE WHEN s1.mh_{i} = s2.mh_{i} THEN 1 ELSE 0 END"
        for i in range(ATTR_HASHES)
    )
    # MATERIALIZED: DuckDB otherwise inlines every CTE reference,
    # multiplying the parquet scans of the chain (8 band references ×
    # 4 unpivot columns ×… blows past the fd limit on the recursive
    # clusters oracle)
    return f"""
h AS (SELECT attr_key, ({DUCK_HASH60.format(x='token')}) % {MERSENNE_31} AS h31 FROM tok),
sigs AS MATERIALIZED (SELECT attr_key, {mh_cols} FROM h GROUP BY attr_key),
banded AS (SELECT attr_key, {band_exprs} FROM sigs),
buckets AS MATERIALIZED ({bucket_union}),
cand AS (SELECT DISTINCT a.attr_key AS a1, b.attr_key AS a2
         FROM buckets a JOIN buckets b USING (bucket)
         WHERE a.attr_key < b.attr_key
           AND split_part(a.attr_key, '_', 1) <> split_part(b.attr_key, '_', 1)),
sim AS MATERIALIZED (
  SELECT cand.a1, cand.a2, ({agree}) / {float(ATTR_HASHES)} AS sim
  FROM cand JOIN sigs s1 ON cand.a1 = s1.attr_key
            JOIN sigs s2 ON cand.a2 = s2.attr_key)"""


def q_attr_sim_edges(spark, sf_dir):
    table = AttributeClustering.signature_table(
        _customer_eav(spark, sf_dir), ATTR_HASHES, ATTR_SEED
    )
    edges = AttributeClustering.similarity_edges(table, ATTR_LSH_T)
    return spark.createDataFrame(edges, "a1 STRING, a2 STRING, sim DOUBLE").select(
        "a1", "a2", rnd("sim", 6).alias("sim")
    )


def _o_attr_sim_edges() -> str:
    return f"""WITH {DUCK_CUST_EAV.strip()},
{_duck_minhash_attrs().strip()}
SELECT a1, a2, round(sim, 6) AS sim FROM sim"""


# ---------------------------------------------------------------- L6+L7+L8:
# top edges -> connected components -> clusters with entropy
def _canonical_clusters(spark, sf_dir) -> list[dict]:
    """BLAST attribute clustering over the customer EAV; the library's
    cluster ids are canonical (real clusters ordered by smallest member
    key, default cluster last)."""
    return AttributeClustering.cluster_similar_attributes(
        _customer_eav(spark, sf_dir), ATTR_HASHES, ATTR_LSH_T, seed=ATTR_SEED
    )


def q_attr_clusters(spark, sf_dir):
    rows = []
    for c in _canonical_clusters(spark, sf_dir):
        for k in c["keys"]:
            rows.append((c["cluster_id"], k, _py_rnd(c["entropy"], 6)))
    return spark.createDataFrame(
        rows, "cluster_id BIGINT, attr_key STRING, entropy DOUBLE"
    )


def _duck_cluster_chain() -> str:
    """CTE chain (requires WITH RECURSIVE + DUCK_CUST_EAV +
    DUCK_ATTR_ENTROPY + minhash fragments) ending in
    ``members(attr_key, cluster_id)`` and ``cent(cluster_id, entropy)``
    with the same canonical ids as _canonical_clusters: connected
    components via transitive closure, labeled by min member key."""
    return """
directed AS (SELECT a1, a2, sim FROM sim UNION ALL SELECT a2, a1, sim FROM sim),
topmax AS (SELECT a1, max(sim) AS m FROM directed GROUP BY a1),
top AS (SELECT d.a1, d.a2 FROM directed d JOIN topmax t ON d.a1 = t.a1
        WHERE d.sim >= t.m),
und AS (SELECT a1, a2 FROM top UNION SELECT a2, a1 FROM top),
reach AS (
  SELECT a1, a2 FROM und
  UNION
  SELECT r.a1, u.a2 FROM reach r JOIN und u ON r.a2 = u.a1),
comp AS (SELECT a1 AS attr_key, least(a1, min(a2)) AS root
         FROM reach GROUP BY a1),
ids AS (SELECT root, dense_rank() OVER (ORDER BY root) - 1 AS cluster_id
        FROM (SELECT DISTINCT root FROM comp)),
clustered AS (SELECT c.attr_key, i.cluster_id FROM comp c JOIN ids i USING (root)),
n_real AS (SELECT count(*) AS n FROM ids),
allattrs AS (SELECT DISTINCT attr_key FROM tok),
members AS MATERIALIZED (
  SELECT attr_key, cluster_id FROM clustered
  UNION ALL
  SELECT a.attr_key, (SELECT n FROM n_real) AS cluster_id
  FROM allattrs a WHERE a.attr_key NOT IN (SELECT attr_key FROM clustered)),
cent AS MATERIALIZED (
  SELECT m.cluster_id, avg(coalesce(h.entropy, 0.0)) AS entropy
  FROM members m LEFT JOIN attr_h h USING (attr_key) GROUP BY m.cluster_id)"""


def _o_attr_clusters() -> str:
    return f"""WITH RECURSIVE {DUCK_CUST_EAV.strip()},
{DUCK_ATTR_ENTROPY.strip()},
{_duck_minhash_attrs().strip()},
{_duck_cluster_chain().strip()}
SELECT m.cluster_id, m.attr_key, round(c.entropy, 6) AS entropy
FROM members m JOIN cent c USING (cluster_id)"""


# ====================================================================
# B2: attribute-qualified token blocking on the customer EAV
# ====================================================================
def q_er_attr_token_blocks(spark, sf_dir):
    from sparker_spark.blocking.strategies import BlockingKeysStrategies

    eav = _customer_eav(spark, sf_dir)
    keys = BlockingKeysStrategies.token_blocking_w_attr(eav)
    blocks = Blocking.blocks_from_keys(keys, clean=True, assign_ids=False)
    return blocks.meta.select(
        "key",
        F.col("block_size").cast("long").alias("block_size"),
        F.col("comparisons").cast("long").alias("comparisons"),
    )


def _o_er_attr_token_blocks() -> str:
    return f"""WITH {DUCK_CUST_EAV.strip()},
akeys AS (SELECT DISTINCT pid, source_id, attr || '_' || token AS key FROM tok_all),
per_src AS (SELECT key, source_id, count(*) AS n FROM akeys GROUP BY 1, 2),
blocks AS (
  SELECT key, CAST(sum(n) AS BIGINT) AS block_size,
         CAST((sum(n) * sum(n) - sum(n * n)) // 2 AS BIGINT) AS comparisons
  FROM per_src GROUP BY key
  HAVING sum(n) > 1 AND count(*) > 1)
SELECT key, block_size, comparisons FROM blocks"""


# ====================================================================
# B7 + W7: BLAST cluster blocking on the customer EAV (clean-clean)
# and entropy-boosted chi² edge weighting over those blocks
# ====================================================================
def _cluster_blocks(spark, sf_dir):
    eav = _customer_eav(spark, sf_dir)
    clusters = _canonical_clusters(spark, sf_dir)
    # xxhash64 block ids: nothing downstream needs dense ids, and the
    # dense path is a global row_number window (single-partition sort)
    return Blocking.create_blocks_clusters(
        eav, clusters, clean=True, assign_ids=False
    )


def q_er_cluster_blocks(spark, sf_dir):
    blocks = _cluster_blocks(spark, sf_dir)
    return blocks.meta.select(
        "key",
        F.col("block_size").cast("long").alias("block_size"),
        F.col("comparisons").cast("long").alias("comparisons"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        rnd("entropy", 6).alias("entropy"),
    )


# qualified keys + clean-clean blocks over the cluster-suffixed tokens
DUCK_CLUSTER_BLOCKS = """
qual AS (
  SELECT t.pid, t.source_id,
         t.token || '_' || coalesce(m.cluster_id, (SELECT n FROM n_real)) AS key,
         coalesce(m.cluster_id, (SELECT n FROM n_real)) AS cid
  FROM tok_all t LEFT JOIN members m USING (attr_key)),
keysq AS MATERIALIZED (SELECT DISTINCT pid, source_id, key FROM qual),
per_src AS (SELECT key, source_id, count(*) AS n FROM keysq GROUP BY 1, 2),
blocksq AS MATERIALIZED (
  SELECT key, CAST(sum(n) AS BIGINT) AS block_size,
         CAST((sum(n) * sum(n) - sum(n * n)) // 2 AS BIGINT) AS comparisons,
         CAST(regexp_extract(key, '_([0-9]+)$', 1) AS BIGINT) AS cluster_id
  FROM per_src GROUP BY key
  HAVING sum(n) > 1 AND count(*) > 1),
bent AS MATERIALIZED (
  SELECT b.key, b.block_size, b.comparisons, b.cluster_id,
         coalesce(c.entropy, 1.0) AS entropy
  FROM blocksq b LEFT JOIN cent c USING (cluster_id))"""


def _o_er_cluster_blocks() -> str:
    return f"""WITH RECURSIVE {DUCK_CUST_EAV.strip()},
{DUCK_ATTR_ENTROPY.strip()},
{_duck_minhash_attrs().strip()},
{_duck_cluster_chain().strip()},
{DUCK_CLUSTER_BLOCKS.strip()}
SELECT key, block_size, comparisons, cluster_id, round(entropy, 6) AS entropy
FROM bent"""


def q_er_chi2_entropy_edges(spark, sf_dir):
    from sparker_spark.blocking.converters import Converters
    from sparker_spark.entry import _pin_blocks
    from sparker_spark.metablocking.weights import EdgeWeighting

    blocks = _pin_blocks(_cluster_blocks(spark, sf_dir))
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(
        blocks, pb, WeightTypes.CHI_SQUARE, use_entropy=True
    )
    return ctx.half().select("p1", "p2", rnd("weight", 6).alias("weight"))


def _o_er_chi2_entropy_edges() -> str:
    chi2 = """(
  pow(cbs - (dst_blocks * src_blocks / B), 2) / (dst_blocks * src_blocks / B)
+ pow((dst_blocks - cbs) - (dst_blocks * (B - src_blocks) / B), 2) / (dst_blocks * (B - src_blocks) / B)
+ pow((src_blocks - cbs) - ((B - dst_blocks) * src_blocks / B), 2) / ((B - dst_blocks) * src_blocks / B)
+ pow((B - (dst_blocks + src_blocks - cbs)) - ((B - dst_blocks) * (B - src_blocks) / B), 2) / ((B - dst_blocks) * (B - src_blocks) / B)
)""".replace("B", "CAST((SELECT nb FROM nblocksq) AS DOUBLE)")
    return f"""WITH RECURSIVE {DUCK_CUST_EAV.strip()},
{DUCK_ATTR_ENTROPY.strip()},
{_duck_minhash_attrs().strip()},
{_duck_cluster_chain().strip()},
{DUCK_CLUSTER_BLOCKS.strip()},
nblocksq AS (SELECT count(*) AS nb FROM blocksq),
pbq AS MATERIALIZED (
  SELECT k.pid, k.source_id, k.key FROM keysq k JOIN blocksq USING (key)),
nbq AS (SELECT pid, count(*) AS num_blocks FROM pbq GROUP BY pid),
coq AS (
  SELECT a.pid AS src, b2.pid AS dst, CAST(count(*) AS DOUBLE) AS cbs,
         sum(be.entropy) AS entropy_sum
  FROM pbq a JOIN pbq b2 USING (key) JOIN bent be USING (key)
  WHERE a.source_id <> b2.source_id
  GROUP BY 1, 2),
g AS (
  SELECT coq.*, n1.num_blocks AS src_blocks, n2.num_blocks AS dst_blocks
  FROM coq JOIN nbq n1 ON coq.src = n1.pid JOIN nbq n2 ON coq.dst = n2.pid)
SELECT src AS p1, dst AS p2, round({chi2} * entropy_sum, 6) AS weight
FROM g WHERE src < dst"""


# ====================================================================
# BLAST end-to-end (SURVEY §3.2): attribute clustering -> cluster
# blocking -> entropy-boosted chi² -> WNP with the sqrt(t1²+t2²)/d rule
# ====================================================================
CHI2_DIVIDER = 2.0  # BLAST.ipynb default


def q_er_blast_wnp(spark, sf_dir):
    from sparker_spark.blocking.converters import Converters
    from sparker_spark.entry import _pin_blocks
    from sparker_spark.metablocking.pruning_utils import (
        ComparisonTypes,
        ThresholdTypes,
    )
    from sparker_spark.metablocking.weights import EdgeWeighting
    from sparker_spark.metablocking.wnp import WNP

    blocks = _pin_blocks(_cluster_blocks(spark, sf_dir))
    pb = Converters.blocks_to_profile_blocks(blocks)
    ctx = EdgeWeighting.weighted_edges(
        blocks, pb, WeightTypes.CHI_SQUARE, use_entropy=True
    )
    kept = WNP.prune(
        ctx, ThresholdTypes.AVG, ComparisonTypes.OR, chi2divider=CHI2_DIVIDER
    )
    return kept.select("p1", "p2", rnd("weight", 6).alias("weight"))


def _o_er_blast_wnp() -> str:
    base = _o_er_chi2_entropy_edges()
    # reuse the chi²·entropy chain up to `g`, then the BLAST threshold
    head, tail = base.rsplit("SELECT src AS p1", 1)
    chi2 = tail.split("round(", 1)[1].rsplit(", 6)", 1)[0]
    return (
        head
        + f""", weighted AS (SELECT src, dst, {chi2} AS w FROM g),
thr AS (SELECT src AS pid, avg(w) AS t FROM weighted GROUP BY src)
SELECT w.src AS p1, w.dst AS p2, round(w.w, 6) AS weight
FROM weighted w JOIN thr t1 ON w.src = t1.pid JOIN thr t2 ON w.dst = t2.pid
WHERE w.src < w.dst
  AND w.w >= sqrt(t1.t * t1.t + t2.t * t2.t) / {CHI2_DIVIDER}"""
    )


# ====================================================================
# B3: char n-gram blocking over documents (dirty)
# ====================================================================
NGRAM_N = 4


def q_er_ngram_blocks(spark, sf_dir):
    from sparker_spark.blocking.strategies import BlockingKeysStrategies

    docs = _load(spark, sf_dir, "documents")
    profiles = docs.select(
        F.col("doc_id").alias("profile_id"),
        F.lit(0).alias("source_id"),
        F.lit("text").alias("attr"),
        F.col("text").alias("value"),
    )
    keys = BlockingKeysStrategies.ngrams_blocking(profiles, ngram_size=NGRAM_N)
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    return blocks.meta.select(
        "key",
        F.col("block_size").cast("long").alias("block_size"),
        F.col("comparisons").cast("long").alias("comparisons"),
    )


def _o_er_ngram_blocks() -> str:
    pad = "_" * (NGRAM_N - 1)
    return f"""WITH toks AS (
  SELECT doc_id, '{pad}' || tok || '{pad}' AS padded
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}_]+')) AS tok
        FROM documents)
  WHERE tok <> ''),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, length(padded) - {NGRAM_N - 2}),
                i -> padded[i:i+{NGRAM_N - 1}])) AS key
  FROM toks),
blocks AS (
  SELECT key, count(*) AS block_size, count(*) * (count(*) - 1) AS comparisons
  FROM grams GROUP BY key HAVING count(*) > 1)
SELECT key, block_size, comparisons FROM blocks"""


# ====================================================================
# P4 (AND variant): reciprocal cardinality node pruning
# ====================================================================
def q_er_cnp_cbs_and(spark, sf_dir):
    from sparker_spark.entry import _shingle_blocks
    from sparker_spark.metablocking.cnp import CNP
    from sparker_spark.metablocking.pruning_utils import ComparisonTypes
    from sparker_spark.metablocking.weights import EdgeWeighting

    blocks, pb = _shingle_blocks(spark, sf_dir)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    n_profiles = _load(spark, sf_dir, "documents").count()
    k = CNP.compute_cnp_threshold(blocks, n_profiles)
    kept = CNP.prune(ctx, k, ComparisonTypes.AND)
    return kept.select("p1", "p2", rnd("weight", 6).alias("weight"))


def _o_er_cnp_cbs_and() -> str:
    from sparker_spark.entry import _duck_dirty_weighted

    return (
        _duck_dirty_weighted(WeightTypes.CBS)
        + """,
kv AS (SELECT CAST(floor(sum(block_size) / (SELECT count(*) FROM documents)) AS BIGINT) - 1 AS k
       FROM blocks),
retained AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rn
    FROM weighted) r, kv
  WHERE r.rn <= kv.k)
SELECT w.src AS p1, w.dst AS p2, round(w.w, 6) AS weight
FROM weighted w
WHERE w.src < w.dst
  AND EXISTS (SELECT 1 FROM retained r WHERE r.src = w.src AND r.dst = w.dst)
  AND EXISTS (SELECT 1 FROM retained r WHERE r.src = w.dst AND r.dst = w.src)"""
    )


# ====================================================================
# F1: GSMB feature generation over unigram document blocks (dirty),
# after purging (1.025) + filtering (0.8) — the notebook pipeline
# (SURVEY §3.3). Running features on unrefined blocks would enumerate
# the quadratic pair space of every stop-word mega-block; the
# purge/filter stages ARE the algorithm's scale guard.
# ====================================================================
GSMB_SMOOTH = 1.025


def q_gsmb_features(spark, sf_dir):
    from sparker_spark.entry import FILTER_R, _doc_keys_unigram
    from sparker_spark.filters import BlockFiltering, BlockPurging

    keys = _doc_keys_unigram(spark, sf_dir).localCheckpoint(eager=False)
    blocks = Blocking.blocks_from_keys(keys, clean=False, assign_ids=False)
    purged = BlockPurging.block_purging(blocks, GSMB_SMOOTH)
    _, _, rebuilt = BlockFiltering.block_filtering_quick(purged, FILTER_R)
    feats = FeatureGenerator.generate_features(rebuilt)
    out_cols = [
        rnd(F.col(c).cast("double"), 6).alias(c) for c in FEATURE_COLS
    ]
    return feats.select("p1", "p2", *out_cols, "numCompP1", "numCompP2")


def _o_gsmb_features() -> str:
    from sparker_spark.entry import FILTER_R, _duck_purge_prefix
    from sparker_spark.filters import ROUND_HALF_EVEN_SQL

    # doubles -> float32 at the feature boundary (reference schema,
    # feature_generator.py:233-245) -> back to double -> round: both
    # engines quantize identically
    def f32(expr):
        return f"round(CAST(CAST(({expr}) AS REAL) AS DOUBLE), 6)"

    js1 = "(cbs / (nb_p1 + nb_p2 - cbs))"
    raccb = "greatest(raccb_raw, 0.000001)"
    rhe = ROUND_HALF_EVEN_SQL.format(x=f"(n * CAST({FILTER_R} AS DOUBLE))")
    return f"""{_duck_purge_prefix(GSMB_SMOOTH)},
purged AS (SELECT b.key, b.comparisons FROM blocks b, thr WHERE b.comparisons <= thr.t),
pb0 AS (SELECT k.profile_id, p.key, p.comparisons FROM keys k JOIN purged p USING (key)),
ranked AS (SELECT profile_id, key, comparisons,
                  row_number() OVER (PARTITION BY profile_id ORDER BY comparisons, key) AS rn,
                  count(*) OVER (PARTITION BY profile_id) AS n
           FROM pb0),
cut AS (SELECT profile_id, comparisons AS cutoff FROM ranked
        WHERE rn = least(greatest(({rhe}) - 1, 0), n - 1) + 1),
kept AS (SELECT p.profile_id, p.key
         FROM pb0 p JOIN cut c USING (profile_id) WHERE p.comparisons <= c.cutoff),
rb AS MATERIALIZED (
  SELECT key, CAST(count(*) AS BIGINT) AS block_size,
         CAST(count(*) * (count(*) - 1) AS BIGINT) AS comparisons
  FROM kept GROUP BY key HAVING count(*) > 1),
pb AS (SELECT kept.profile_id, rb.key, rb.block_size, rb.comparisons
       FROM kept JOIN rb USING (key)),
per_profile AS (
  SELECT profile_id, count(*) AS num_blocks,
         sum(1.0 / block_size) AS inv_size_sum,
         sum(CAST(comparisons AS DOUBLE)) AS comp_sum,
         sum(1.0 / comparisons) AS inv_comp_sum
  FROM pb GROUP BY 1),
co AS (SELECT a.profile_id AS src, b2.profile_id AS dst,
              CAST(count(*) AS DOUBLE) AS cbs
       FROM pb a JOIN pb b2 USING (key) GROUP BY 1, 2),
stats AS (SELECT src, sum(cbs) AS redundant, count(*) AS non_redundant
          FROM co GROUP BY src),
consts AS (SELECT CAST(count(*) AS DOUBLE) AS B,
                  CAST(sum(comparisons) AS DOUBLE) AS T
           FROM rb),
pairs AS (
  SELECT a.profile_id AS p1, b2.profile_id AS p2,
         CAST(count(*) AS DOUBLE) AS cbs,
         sum(1.0 / a.comparisons) AS raccb_raw,
         sum(1.0 / a.block_size) AS rs
  FROM pb a JOIN pb b2 USING (key)
  WHERE a.profile_id < b2.profile_id
  GROUP BY 1, 2),
e AS (
  SELECT pairs.*, consts.B, consts.T,
         pp1.num_blocks AS nb_p1, pp2.num_blocks AS nb_p2,
         pp1.inv_size_sum AS invsize_p1, pp2.inv_size_sum AS invsize_p2,
         pp1.comp_sum AS comp_p1, pp2.comp_sum AS comp_p2,
         pp1.inv_comp_sum AS invcomp_p1, pp2.inv_comp_sum AS invcomp_p2,
         st1.redundant AS red_p1, st2.redundant AS red_p2,
         st1.non_redundant AS nonred_p1, st2.non_redundant AS nonred_p2
  FROM pairs CROSS JOIN consts
  JOIN per_profile pp1 ON pairs.p1 = pp1.profile_id
  JOIN per_profile pp2 ON pairs.p2 = pp2.profile_id
  JOIN stats st1 ON pairs.p1 = st1.src
  JOIN stats st2 ON pairs.p2 = st2.src)
SELECT p1, p2,
       {f32('cbs * ln(B / nb_p1) * ln(B / nb_p2)')} AS cfibf,
       {f32(raccb)} AS raccb,
       {f32('cbs / (red_p1 + red_p2 - cbs)')} AS js,
       {f32('rs')} AS rs,
       {f32(f'{js1} * ln(T / comp_p1) * ln(T / comp_p2)')} AS aejs,
       {f32('rs / (invsize_p1 + invsize_p2 - rs)')} AS nrs,
       {f32(f'{raccb} / (invcomp_p1 + invcomp_p2 - {raccb})')} AS wjs,
       nonred_p1 AS numCompP1, nonred_p2 AS numCompP2
FROM e"""


# ====================================================================
# F4–F7: supervised pruners over deterministically scored edges
# (p_match = rounded JS weight — stand-in for the LR probability so
# the pruning algebra itself is oracle-checkable; the ML scoring path
# is exercised in tests/test_blast_supervised.py)
# ====================================================================
def _scored_edges(spark, sf_dir) -> tuple[DataFrame, int]:
    """The scored edges and Σ block_size of the blocks they come from:
    one block build serves both (its pins are not shared across
    builds)."""
    from sparker_spark.entry import _edges

    ctx, half = _edges(spark, sf_dir, WeightTypes.JS, rounded=True)
    scored = half.select("p1", "p2", F.col("weight").alias("p_match"))
    return scored, int(ctx.total_block_size)


def _duck_scored(weight_type: str = WeightTypes.JS) -> str:
    from sparker_spark.entry import _duck_dirty_weighted

    return (
        _duck_dirty_weighted(weight_type)
        + """,
scored AS (SELECT src AS p1, dst AS p2, round(w, 6) AS p_match
           FROM weighted WHERE src < dst),
over_t AS (SELECT * FROM scored WHERE p_match >= 0.5),
tbs AS (SELECT CAST(sum(block_size) AS BIGINT) AS total FROM blocks)"""
    )


def q_smb_cep(spark, sf_dir):
    return SupervisedMB.cep(*_scored_edges(spark, sf_dir))


def _o_smb_cep() -> str:
    return (
        _duck_scored()
        + """
SELECT p1, p2, p_match FROM (
  SELECT p1, p2, p_match,
         row_number() OVER (ORDER BY p_match DESC, p1, p2) AS rn
  FROM over_t), tbs
WHERE rn <= tbs.total // 2"""
    )


def q_smb_wep(spark, sf_dir):
    return SupervisedMB.wep(_scored_edges(spark, sf_dir)[0])


def _o_smb_wep() -> str:
    return (
        _duck_scored()
        + """,
thr AS (SELECT avg(p_match) AS t FROM over_t)
SELECT p1, p2, p_match FROM over_t, thr WHERE p_match >= thr.t"""
    )


def q_smb_blast(spark, sf_dir):
    return SupervisedMB.blast(_scored_edges(spark, sf_dir)[0])


def _o_smb_blast() -> str:
    return (
        _duck_scored()
        + """,
m1 AS (SELECT p1, max(p_match) AS mx1 FROM over_t GROUP BY p1),
m2 AS (SELECT p2, max(p_match) AS mx2 FROM over_t GROUP BY p2)
SELECT o.p1, o.p2, o.p_match
FROM over_t o JOIN m1 USING (p1) JOIN m2 USING (p2)
WHERE o.p_match >= 0.35 * (m1.mx1 + m2.mx2)"""
    )


def _duck_smb_topk() -> str:
    return """,
kv AS (SELECT CAST(floor(2 * greatest(1.0, CAST(tbs.total AS DOUBLE)
              / (SELECT count(*) FROM documents))) AS BIGINT) AS k FROM tbs),
t1 AS (SELECT p1, p2 FROM (
         SELECT p1, p2, row_number() OVER (PARTITION BY p1
                ORDER BY p_match DESC, p2) AS rn FROM over_t), kv
       WHERE rn <= kv.k),
t2 AS (SELECT p1, p2 FROM (
         SELECT p1, p2, row_number() OVER (PARTITION BY p2
                ORDER BY p_match DESC, p1) AS rn FROM over_t), kv
       WHERE rn <= kv.k)"""


def q_smb_cnp(spark, sf_dir):
    n_docs = _load(spark, sf_dir, "documents").count()
    return SupervisedMB.cnp(*_scored_edges(spark, sf_dir), n_docs)


def _o_smb_cnp() -> str:
    return (
        _duck_scored()
        + _duck_smb_topk()
        + """
SELECT o.p1, o.p2, o.p_match FROM over_t o
WHERE EXISTS (SELECT 1 FROM t1 WHERE t1.p1 = o.p1 AND t1.p2 = o.p2)
   OR EXISTS (SELECT 1 FROM t2 WHERE t2.p1 = o.p1 AND t2.p2 = o.p2)"""
    )


def q_smb_rcnp(spark, sf_dir):
    n_docs = _load(spark, sf_dir, "documents").count()
    return SupervisedMB.rcnp(*_scored_edges(spark, sf_dir), n_docs)


def _o_smb_rcnp() -> str:
    return (
        _duck_scored()
        + _duck_smb_topk()
        + """
SELECT o.p1, o.p2, o.p_match FROM over_t o
WHERE EXISTS (SELECT 1 FROM t1 WHERE t1.p1 = o.p1 AND t1.p2 = o.p2)
  AND EXISTS (SELECT 1 FROM t2 WHERE t2.p1 = o.p1 AND t2.p2 = o.p2)"""
    )


# ====================================================================
# ANN IVF oracle: the cell assignment is a seeded deterministic
# hyperplane sketch (similarity.py:77-162), so the "approximate"
# operator is exactly reproducible in SQL — plane constants, probe
# map and tie rules are shared with the Spark plan.
# ====================================================================
IVF_DIM = 64  # driver testdata embedding dim (all SFs)
IVF_CELLS = 16
IVF_PROBE = 4
IVF_SEED = 1234


def _ivf_oracle(v_ctes: str) -> str:
    """The IVF search oracle over ANY ``v(vec_id, emb, norm)`` CTE
    chain — shared by the float gate (ann_topk_ivf) and the r9 int8
    twin (ann_topk_int8_ivf) so the correctness-critical constants
    (plane seeding order, the '> 0' sign rule, the Hamming probe
    tie-break, rank/round rules) can never drift between them."""
    import random

    from sparker_spark.entry import ANN_K, ANN_QUERY_MOD

    bits = IVF_CELLS.bit_length() - 1
    rng = random.Random(IVF_SEED)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(IVF_DIM)] for _ in range(bits)
    ]
    cell = " + ".join(
        f"CASE WHEN list_dot_product(emb, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {2**j} ELSE 0 END"
        for j, p in enumerate(planes)
    )
    cells = list(range(IVF_CELLS))
    probe_rows = []
    for c in cells:
        ranked = sorted(cells, key=lambda o: (bin(c ^ o).count("1"), o))
        probe_rows.extend(f"({c}, {o})" for o in ranked[:IVF_PROBE])
    return f"""
WITH {v_ctes},
vc AS MATERIALIZED (SELECT vec_id, emb, norm, ({cell}) AS cell FROM v),
probes(cell, probe_cell) AS (VALUES {', '.join(probe_rows)}),
qp AS (SELECT q.vec_id AS query_id, q.emb AS e1, q.norm AS n1, p.probe_cell
       FROM vc q JOIN probes p USING (cell)
       WHERE q.vec_id % {ANN_QUERY_MOD} = 0),
cand AS (SELECT vec_id AS neighbor_id, emb AS e2, norm AS n2, cell AS probe_cell
         FROM vc),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(e1, e2) / (n1 * n2), 6) AS cosine
  FROM qp JOIN cand USING (probe_cell)
  WHERE query_id <> neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}"""


def _o_ann_topk_ivf() -> str:
    return _ivf_oracle(
        """v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
  FROM embeddings)"""
    )


# ====================================================================
# G1: PPS initialization frame (per-profile likelihood + top-1)
# ====================================================================
def q_pps_init(spark, sf_dir):
    from sparker_spark.entry import _shingle_blocks
    from sparker_spark.metablocking.weights import EdgeWeighting

    blocks, pb = _shingle_blocks(spark, sf_dir)
    ctx = EdgeWeighting.weighted_edges(blocks, pb, WeightTypes.CBS)
    half = ctx.edges.where(F.col("src") < F.col("dst")).select(
        "src", "dst", "weight"
    )
    init = PPS.init_frame(half)
    return init.select(
        F.col("src").alias("profile_id"),
        rnd("likelihood", 6).alias("likelihood"),
        (-F.col("top.nd")).cast("long").alias("top_neighbor"),
        rnd(F.col("top.weight"), 6).alias("top_weight"),
    )


def _o_pps_init() -> str:
    from sparker_spark.entry import _duck_dirty_weighted

    return (
        _duck_dirty_weighted(WeightTypes.CBS)
        + """,
half AS (SELECT src, dst, w FROM weighted WHERE src < dst),
lik AS (SELECT src, avg(w) AS likelihood FROM half GROUP BY src),
top AS (SELECT src, dst, w, row_number() OVER (PARTITION BY src
               ORDER BY w DESC, dst ASC) AS rn FROM half)
SELECT l.src AS profile_id, round(l.likelihood, 6) AS likelihood,
       t.dst AS top_neighbor, round(t.w, 6) AS top_weight
FROM lik l JOIN top t ON l.src = t.src AND t.rn = 1"""
    )


# ====================================================================
# G2: GSPSN sorted-neighborhood comparisons
# ====================================================================
def q_gspsn(spark, sf_dir):
    from sparker_spark.entry import _doc_keys_unigram

    keys = _doc_keys_unigram(spark, sf_dir)
    out = GSPSN(keys, max_window_size=GSPSN_W).compute_comparisons()
    return out.select("p1", "p2", rnd("weight", 6).alias("weight"))


def _o_gspsn() -> str:
    from sparker_spark.entry import DUCK_UNIGRAM_KEYS

    return f"""WITH {DUCK_UNIGRAM_KEYS.strip()},
pos AS (SELECT profile_id,
               row_number() OVER (ORDER BY key, profile_id) - 1 AS pos
        FROM keys),
pairs AS (
  SELECT a.profile_id AS pa, b.profile_id AS pb
  FROM pos a JOIN pos b
    ON b.pos BETWEEN a.pos - {GSPSN_W} AND a.pos + {GSPSN_W}
   AND b.pos <> a.pos
  WHERE b.profile_id < a.profile_id),
cbs AS (SELECT pa, pb, count(*) AS c FROM pairs GROUP BY 1, 2),
counts AS (SELECT profile_id, count(*) AS n FROM pos GROUP BY 1)
SELECT cbs.pb AS p1, cbs.pa AS p2,
       round(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS weight
FROM cbs
JOIN counts na ON cbs.pa = na.profile_id
JOIN counts nb ON cbs.pb = nb.profile_id"""


# ====================================================================
# E1/F8: PC/PQ/F1 of the WNP(CBS, AVG, OR) output against the
# exact-duplicate groundtruth derived from normalized text
# ====================================================================
def q_er_pcpq(spark, sf_dir):
    from sparker_spark.entry import q_er_wnp_cbs_avg_or

    # materialize the pruned edges ONCE (r12): n_edges and hits are
    # separate actions and each re-ran the weighting+WNP chain past
    # the cached shingle blocks (guide §2.4); GC frees the blocks
    edges = (
        q_er_wnp_cbs_avg_or(spark, sf_dir)
        .select("p1", "p2")
        .localCheckpoint(eager=True)
    )
    groups = Dedup.exact_groups(_load(spark, sf_dir, "documents")).select(
        "doc_id", "text_hash"
    )
    a = groups.select(F.col("doc_id").alias("p1"), "text_hash")
    b = groups.select(F.col("doc_id").alias("p2"), "text_hash")
    gt = a.join(b, "text_hash").where(F.col("p1") < F.col("p2")).select("p1", "p2")
    gt_size = gt.count()
    n_edges = edges.count()
    hits = edges.join(gt, ["p1", "p2"], "left_semi").count()
    pc = hits / gt_size if gt_size else 0.0
    pq = hits / n_edges if n_edges else 0.0
    f1 = 2 * pc * pq / (pc + pq) if (pc + pq) > 0 else 0.0
    row = [
        (
            int(n_edges),
            int(gt_size),
            int(hits),
            _py_rnd(pc, 6),
            _py_rnd(pq, 6),
            _py_rnd(f1, 6),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_edges BIGINT, gt_size BIGINT, hits BIGINT, pc DOUBLE, pq DOUBLE, f1 DOUBLE",
    )


def _o_er_pcpq() -> str:
    from sparker_spark.entry import _duck_dirty_weighted

    return (
        _duck_dirty_weighted(WeightTypes.CBS)
        + """,
thr AS (SELECT src AS pid, avg(w) AS t FROM weighted GROUP BY src),
pruned AS (
  SELECT w.src AS p1, w.dst AS p2
  FROM weighted w JOIN thr t1 ON w.src = t1.pid JOIN thr t2 ON w.dst = t2.pid
  WHERE w.src < w.dst AND (w.w >= t1.t OR w.w >= t2.t)),
gh AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g'))) AS th
       FROM documents),
gt AS (SELECT a.doc_id AS p1, b.doc_id AS p2
       FROM gh a JOIN gh b ON a.th = b.th AND a.doc_id < b.doc_id),
c AS (SELECT (SELECT count(*) FROM pruned) AS n_edges,
             (SELECT count(*) FROM gt) AS gt_size,
             (SELECT count(*) FROM pruned p JOIN gt g
                ON p.p1 = g.p1 AND p.p2 = g.p2) AS hits)
SELECT n_edges, gt_size, hits,
       round(CASE WHEN gt_size > 0 THEN CAST(hits AS DOUBLE) / gt_size ELSE 0.0 END, 6) AS pc,
       round(CASE WHEN n_edges > 0 THEN CAST(hits AS DOUBLE) / n_edges ELSE 0.0 END, 6) AS pq,
       round(CASE WHEN (CASE WHEN gt_size > 0 THEN CAST(hits AS DOUBLE) / gt_size ELSE 0.0 END)
                     + (CASE WHEN n_edges > 0 THEN CAST(hits AS DOUBLE) / n_edges ELSE 0.0 END) > 0
             THEN 2 * (CASE WHEN gt_size > 0 THEN CAST(hits AS DOUBLE) / gt_size ELSE 0.0 END)
                    * (CASE WHEN n_edges > 0 THEN CAST(hits AS DOUBLE) / n_edges ELSE 0.0 END)
                  / ((CASE WHEN gt_size > 0 THEN CAST(hits AS DOUBLE) / gt_size ELSE 0.0 END)
                   + (CASE WHEN n_edges > 0 THEN CAST(hits AS DOUBLE) / n_edges ELSE 0.0 END))
             ELSE 0.0 END, 6) AS f1
FROM c"""
    )


# ====================================================================
def ext_queries() -> dict:
    return {
        # attribute subsystem (SURVEY §2.8)
        "attr_entropy": q_attr_entropy,
        "attr_sim_edges": q_attr_sim_edges,
        "attr_clusters": q_attr_clusters,
        # attribute-qualified blocking (SURVEY §2.2 B2)
        "er_attr_token_blocks": q_er_attr_token_blocks,
        # BLAST blocking + entropy weighting (SURVEY §2.3 B7, §2.5 W7)
        "er_cluster_blocks": q_er_cluster_blocks,
        "er_chi2_entropy_edges": q_er_chi2_entropy_edges,
        "er_blast_wnp": q_er_blast_wnp,
        # n-gram blocking (SURVEY §2.2 B3)
        "er_ngram_blocks": q_er_ngram_blocks,
        # reciprocal CNP (SURVEY §2.6 P4 AND)
        "er_cnp_cbs_and": q_er_cnp_cbs_and,
        # supervised meta-blocking (SURVEY §2.7)
        "gsmb_features": q_gsmb_features,
        "smb_cep": q_smb_cep,
        "smb_wep": q_smb_wep,
        "smb_blast": q_smb_blast,
        "smb_cnp": q_smb_cnp,
        "smb_rcnp": q_smb_rcnp,
        # progressive ER (SURVEY §2.9)
        "pps_init": q_pps_init,
        "gspsn": q_gspsn,
        # evaluation (SURVEY §2.10)
        "er_pcpq": q_er_pcpq,
    }


def ext_oracles() -> dict:
    return {
        "attr_entropy": O_ATTR_ENTROPY,
        "attr_sim_edges": _o_attr_sim_edges(),
        "attr_clusters": _o_attr_clusters(),
        "ann_topk_ivf": _o_ann_topk_ivf(),
        "er_attr_token_blocks": _o_er_attr_token_blocks(),
        "er_cluster_blocks": _o_er_cluster_blocks(),
        "er_chi2_entropy_edges": _o_er_chi2_entropy_edges(),
        "er_blast_wnp": _o_er_blast_wnp(),
        "er_ngram_blocks": _o_er_ngram_blocks(),
        "er_cnp_cbs_and": _o_er_cnp_cbs_and(),
        "gsmb_features": _o_gsmb_features(),
        "smb_cep": _o_smb_cep(),
        "smb_wep": _o_smb_wep(),
        "smb_blast": _o_smb_blast(),
        "smb_cnp": _o_smb_cnp(),
        "smb_rcnp": _o_smb_rcnp(),
        "pps_init": _o_pps_init(),
        "gspsn": _o_gspsn(),
        "er_pcpq": _o_er_pcpq(),
    }
