"""Deduplication operators for training-data pipelines (SURVEY §7.1 M8).

All candidate generation is block-local (hash buckets / LSH bands /
shared shingles) — never an unbounded cross join — so each operator's
shuffle volume is proportional to true candidate count, the property
that keeps them viable at 100 TB. Exact semantics are mirrored in
DuckDB SQL by the oracle generator (sparker_spark/oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparker_spark.rounding import rnd
from sparker_spark.session import shuffle_partitions

from sparker_spark.llm.hashing import (
    MERSENNE_31,
    minhash_coefficients,
    minhash_expr,
)
from sparker_spark.llm.shingles import shingle_hashes, shingles


class Dedup:
    @staticmethod
    def exact_groups(documents: DataFrame, normalize: bool = True) -> DataFrame:
        """Exact dedup via content hash: (doc_id, text_hash, group_size,
        is_canonical). Canonical = smallest doc_id in the group."""
        text = F.col("text")
        if normalize:
            text = F.trim(F.regexp_replace(F.lower(text), "[ \\t\\r\\n\\f\\x0B]+", " "))
        w = Window.partitionBy("text_hash")
        return (
            documents.select("doc_id", F.md5(text).alias("text_hash"))
            .withColumn("group_size", F.count("*").over(w))
            .withColumn(
                "is_canonical", (F.col("doc_id") == F.min("doc_id").over(w))
            )
        )

    # candidate-blowup gate for the adaptive exact-Jaccard plan: route
    # through the PPJoin prefix filter once the naive shared-shingle
    # join would enumerate more than this many candidate rows per
    # input shingle row
    NAIVE_BLOWUP_FACTOR = 20.0

    @staticmethod
    def ngram_jaccard_pairs(
        documents: DataFrame,
        shingle_size: int = 3,
        threshold: float = 0.2,
        plan: str = "auto",
    ) -> DataFrame:
        """Exact n-gram Jaccard near-dup pairs:
        jaccard = |∩| / (n1 + n2 − |∩|) over word-shingle hash sets.

        ADAPTIVE plan choice (``plan="auto"``): the naive
        shared-shingle equi-join enumerates Σ_h df_h·(df_h−1)/2
        candidate rows — linear on flat shingle-frequency
        distributions (two shuffles total, the fastest plan there)
        but quadratic in the hottest shingle's df, which is exactly
        the boilerplate-text regime of a large corpus. One cheap
        aggregate over the per-shingle frequency relation measures
        that sum; when it exceeds ``NAIVE_BLOWUP_FACTOR`` candidate
        rows per input row, candidate generation is routed through
        the PPJoin prefix filter (setjoin.prefix_jaccard_pairs),
        whose join keys are only each document's rarest
        ``n − ceil(t·n) + 1`` shingles — provably lossless at the
        threshold, so BOTH plans produce the identical relation.
        ``plan="naive"`` / ``plan="prefix"`` force a branch (tests
        pin plan-equivalence through them)."""
        if plan not in ("auto", "naive", "prefix"):
            raise ValueError("plan must be one of 'auto', 'naive', 'prefix'")
        t = float(threshold)
        # pin the shingle relation: the stats probe (auto) plus every
        # branch's multiple legs (freq/ordered/sizes in the prefix
        # join; counts + both join sides in the naive one) would
        # otherwise re-derive the tokenize+shingle+hash lineage per
        # leg. The probe, or the first leg that runs, writes the pin.
        sh = shingle_hashes(documents, shingle_size).select(
            "doc_id", F.col("h").alias("tok")
        ).localCheckpoint(eager=False)
        if plan == "auto":
            stats = (
                sh.groupBy("tok")
                .agg(F.count("*").alias("df"))
                .agg(
                    F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("cand"),
                    F.sum("df").alias("rows"),
                )
                .first()
            )
            cand = stats["cand"] or 0.0
            rows = stats["rows"] or 1
            plan = (
                "prefix"
                if cand > Dedup.NAIVE_BLOWUP_FACTOR * rows
                else "naive"
            )
        if plan == "prefix":
            from sparker_spark.llm.setjoin import SetSimilarityJoin

            pairs = SetSimilarityJoin.prefix_jaccard_pairs(sh, t)
            # re-apply the threshold on the ROUNDED value: the oracle
            # compares rounded jaccard >= t, and a boundary pair must
            # classify identically in both engines (floor-rounding
            # never rounds up, so the unrounded >= t pre-filter inside
            # the prefix join is lossless with respect to this one)
            return pairs.select(
                "p1", "p2", rnd("jaccard", 6).alias("jaccard")
            ).where(F.col("jaccard") >= F.lit(t))
        counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        a = sh.select(F.col("doc_id").alias("p1"), F.col("tok").alias("h"))
        b = sh.select(F.col("doc_id").alias("p2"), F.col("tok").alias("h"))
        common = (
            a.join(b, "h")
            .where(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.count("*").alias("c"))
        )
        j = (
            common.join(
                counts.select(F.col("doc_id").alias("p1"), F.col("n_sh").alias("n1")),
                "p1",
            )
            .join(
                counts.select(F.col("doc_id").alias("p2"), F.col("n_sh").alias("n2")),
                "p2",
            )
            .withColumn(
                "jaccard",
                rnd(F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")), 6),
            )
        )
        return j.where(F.col("jaccard") >= F.lit(t)).select(
            "p1", "p2", "jaccard"
        )

    @staticmethod
    def minhash_signatures(
        documents: DataFrame, num_hashes: int = 32, shingle_size: int = 3,
        seed: int = 1234,
    ) -> DataFrame:
        """(doc_id, mh_0..mh_{k-1}): classic MinHash over word shingles
        using seeded affine permutations mod 2^31−1 (portable to the
        DuckDB oracle; construction mirrors the reference LSH,
        attribute_clustering.py:11-32 / LSH.scala:44-52)."""
        coeffs = minhash_coefficients(num_hashes, seed)
        sh = shingle_hashes(documents, shingle_size)
        aggs = [
            F.min(F.expr(minhash_expr(a, b))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
        return sh.groupBy("doc_id").agg(*aggs)

    @staticmethod
    def minhash_lsh_pairs(
        documents: DataFrame,
        num_hashes: int = 32,
        bands: int = 8,
        shingle_size: int = 3,
        threshold: float = 0.2,
        seed: int = 1234,
        source_col: str | None = None,
    ) -> DataFrame:
        """MinHash + LSH banding near-dup pairs: signature -> band
        buckets -> bucket-local candidate pairs -> exact Jaccard
        verification >= threshold. The band join is the scale path: at
        any data size candidates are only same-bucket pairs.

        ``source_col``: when set, only CROSS-source pairs are emitted
        (the clean-clean shape — "which docs in the new crawl near-dup
        something in the old crawl"); within-source pairs are filtered
        at candidate generation, before the verification join pays for
        them."""
        assert num_hashes % bands == 0
        rows = num_hashes // bands
        # the shingle relation feeds four plan legs (signatures, the
        # two verification sides, per-doc counts) — without a pin the
        # tokenize+shingle+md5 pass and the corpus scan run once per
        # leg (6 parquet scans in the physical plan). A local
        # checkpoint is stored MEMORY_AND_DISK, so it spills rather
        # than OOMs when the shingle relation outgrows executor memory.
        sh = (
            shingle_hashes(documents, shingle_size)
            .select("doc_id", "h", "h31")
            .localCheckpoint(eager=False)
        )
        sigs = sh.groupBy("doc_id").agg(
            *[
                F.min(F.expr(minhash_expr(a, b, "h31"))).alias(f"mh_{i}")
                for i, (a, b) in enumerate(
                    minhash_coefficients(num_hashes, seed)
                )
            ]
        )
        band_cols = [
            F.concat_ws(
                "_",
                F.lit(bi),
                *[F.col(f"mh_{bi * rows + r}") for r in range(rows)],
            ).alias(f"band_{bi}")
            for bi in range(bands)
        ]
        banded = sigs.select("doc_id", *band_cols)
        buckets = banded.select(
            "doc_id",
            F.explode(F.array(*[F.col(f"band_{bi}") for bi in range(bands)])).alias(
                "bucket"
            ),
        )
        if source_col is not None:
            src_map = documents.select("doc_id", F.col(source_col).alias("_src"))
            buckets = buckets.join(src_map, "doc_id")
            a = buckets.select(
                F.col("doc_id").alias("p1"), F.col("_src").alias("_s1"), "bucket"
            )
            b = buckets.select(
                F.col("doc_id").alias("p2"), F.col("_src").alias("_s2"), "bucket"
            )
            cand = (
                a.join(b, "bucket")
                .where((F.col("p1") < F.col("p2")) & (F.col("_s1") != F.col("_s2")))
                .select("p1", "p2")
            ).distinct()
        else:
            a = buckets.select(F.col("doc_id").alias("p1"), "bucket")
            b = buckets.select(F.col("doc_id").alias("p2"), "bucket")
            cand = (
                a.join(b, "bucket").where(F.col("p1") < F.col("p2")).select("p1", "p2")
            ).distinct()
        # Verify with exact jaccard computed ONLY for the candidate
        # pairs: route each candidate's two shingle sets through an
        # equi-join on (doc, shingle) instead of re-enumerating every
        # co-shingle pair in the corpus (which would make the LSH
        # banding pointless — the full shared-shingle self-join is
        # exactly the quadratic work LSH exists to avoid).
        counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        s1 = sh.select(F.col("doc_id").alias("p1"), "h")
        s2 = sh.select(F.col("doc_id").alias("p2"), "h")
        common = (
            cand.join(s1, "p1")
            .join(s2, ["p2", "h"])
            .groupBy("p1", "p2")
            .agg(F.count("*").alias("c"))
        )
        j = (
            common.join(
                counts.select(F.col("doc_id").alias("p1"), F.col("n_sh").alias("n1")),
                "p1",
            )
            .join(
                counts.select(F.col("doc_id").alias("p2"), F.col("n_sh").alias("n2")),
                "p2",
            )
            .withColumn(
                "jaccard",
                rnd(F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")), 6),
            )
        )
        return j.where(F.col("jaccard") >= F.lit(float(threshold))).select(
            "p1", "p2", "jaccard"
        )

    @staticmethod
    def simhash_fingerprints(documents: DataFrame, bits: int = 32) -> DataFrame:
        """(doc_id, simhash): tf-weighted SimHash over word tokens.
        One groupBy with ``bits`` conditional sums — a single shuffle,
        no explode by bit position."""
        toks = documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[ \\t\\r\\n\\f\\x0B]+")).alias("tok"),
        ).where(F.length("tok") > 0)
        from sparker_spark.llm.hashing import SPARK_HASH60

        h = toks.withColumn("h", F.expr(SPARK_HASH60.format(x="tok")))
        aggs = [
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s_{j}")
            for j in range(bits)
        ]
        sums = h.groupBy("doc_id").agg(*aggs)
        fp = None
        for j in range(bits):
            bit = F.when(F.col(f"s_{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
            fp = bit if fp is None else fp + bit
        return sums.select("doc_id", fp.cast("long").alias("simhash"))

    @staticmethod
    def simhash_pairs(
        documents: DataFrame, bits: int = 32, max_hamming: int = 3
    ) -> DataFrame:
        """SimHash near-dup pairs with Hamming distance <= max_hamming.
        Candidates via pigeonhole banding: split the fingerprint into
        max_hamming+1 bands — any pair within distance d shares >=1
        exact band — then verify with bit_count(xor)."""
        nbands = max_hamming + 1
        band_bits = bits // nbands
        # no pin: both sides of the bucket self-join read the same
        # fingerprint aggregate, whose token shuffle AQE reuses, and
        # the probe side keeps its doc_id partitioning, so the
        # candidate distinct needs no exchange. A pin carries no
        # partitioning: it measured one more shuffle (+42 % bytes at
        # sf0.01) for the one aggregate pass it saves.
        fps = Dedup.simhash_fingerprints(documents, bits)
        band_cols = [
            F.concat_ws(
                "_",
                F.lit(bi),
                F.expr(
                    f"(simhash >> {bi * band_bits}) & {(1 << band_bits) - 1}"
                ),
            ).alias("band")
            for bi in range(nbands)
        ]
        buckets = fps.select(
            "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bucket")
        )
        a = buckets.select(
            F.col("doc_id").alias("p1"), F.col("simhash").alias("f1"), "bucket"
        )
        b = buckets.select(
            F.col("doc_id").alias("p2"), F.col("simhash").alias("f2"), "bucket"
        )
        cand = (
            a.join(b, "bucket")
            .where(F.col("p1") < F.col("p2"))
            .select("p1", "p2", "f1", "f2")
            .distinct()
        )
        return (
            cand.withColumn(
                "hamming", F.expr("bit_count(f1 ^ f2)").cast("int")
            )
            .where(F.col("hamming") <= F.lit(int(max_hamming)))
            .select("p1", "p2", "hamming")
        )

    @staticmethod
    def embedding_cosine_pairs(
        embeddings: DataFrame, threshold: float = 0.9
    ) -> DataFrame:
        """Embedding near-dup pairs: brute-force cosine >= threshold.
        Exact baseline — O(n²); use ANN (similarity.py) as the scale
        path. Dot product via zip_with/aggregate — JVM-side."""
        v = embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.expr(
                "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
            ).alias("norm"),
        )
        a = v.select(
            F.col("vec_id").alias("p1"), F.col("emb").alias("e1"), F.col("norm").alias("n1")
        )
        b = v.select(
            F.col("vec_id").alias("p2"), F.col("emb").alias("e2"), F.col("norm").alias("n2")
        )
        pairs = a.crossJoin(b).where(F.col("p1") < F.col("p2"))
        dot = F.expr(
            "aggregate(zip_with(e1, e2, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x)"
        )
        return (
            pairs.withColumn("cosine", rnd(dot / (F.col("n1") * F.col("n2")), 6))
            .where(F.col("cosine") >= F.lit(float(threshold)))
            .select("p1", "p2", "cosine")
        )

    @staticmethod
    def srp_hyperplanes(dim: int, bits: int, seed: int = 1234) -> list[list[float]]:
        """Seeded Gaussian hyperplanes for signed-random-projection
        LSH — deterministic, so any engine can regenerate them."""
        import random

        rng = random.Random(seed)
        return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]

    @staticmethod
    def embedding_srp_pairs(
        embeddings: DataFrame,
        bits: int = 16,
        bands: int = 4,
        threshold: float = 0.35,
        seed: int = 1234,
    ) -> DataFrame:
        """Embedding near-dup via signed-random-projection LSH — the
        SCALE path for embedding_cosine_pairs' O(n²) crossJoin.

        SRP (Charikar, STOC'02): bit_j(v) = sign(v · h_j) for seeded
        Gaussian hyperplanes h_j; P[bit agrees] = 1 − θ/π, so banding
        the ``bits`` signature into ``bands`` groups makes same-bucket
        collision probability rise steeply with cosine — candidates
        are only same-bucket pairs (a shuffled equi-join on band
        buckets, exactly the MinHash-LSH plan shape), then the exact
        cosine filter runs on candidates alone. The hyperplanes are
        column literals: the signature is a pure codegen expression,
        no UDF, no broadcast state.
        """
        assert bits % bands == 0
        head = embeddings.select("embedding").first()
        if head is None:  # empty corpus: no pairs
            return embeddings.sparkSession.createDataFrame(
                [], "p1 long, p2 long, cosine double"
            )
        dim = len(head["embedding"])
        planes = Dedup.srp_hyperplanes(dim, bits, seed)
        rows = bits // bands

        v = embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.expr(
                "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
            ).alias("norm"),
        ).localCheckpoint(eager=False)  # read by the signature pass and both verify sides

        def bit(j: int):
            plane = F.array(*[F.lit(x) for x in planes[j]])
            dot = F.aggregate(
                F.zip_with(F.col("emb"), plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

        sig = v.select(
            "vec_id", *[bit(j).alias(f"b_{j}") for j in range(bits)]
        )
        band_cols = [
            F.concat_ws(
                "_",
                F.lit(bi),
                *[F.col(f"b_{bi * rows + r}") for r in range(rows)],
            ).alias(f"band_{bi}")
            for bi in range(bands)
        ]
        buckets = sig.select("vec_id", *band_cols).select(
            "vec_id",
            F.explode(F.array(*[F.col(f"band_{bi}") for bi in range(bands)])).alias(
                "bucket"
            ),
        )
        a = buckets.select(F.col("vec_id").alias("p1"), "bucket")
        b = buckets.select(F.col("vec_id").alias("p2"), "bucket")
        cand = (
            a.join(b, "bucket").where(F.col("p1") < F.col("p2")).select("p1", "p2")
        ).distinct()

        s1 = v.select(
            F.col("vec_id").alias("p1"), F.col("emb").alias("e1"), F.col("norm").alias("n1")
        )
        s2 = v.select(
            F.col("vec_id").alias("p2"), F.col("emb").alias("e2"), F.col("norm").alias("n2")
        )
        dot = F.expr(
            "aggregate(zip_with(e1, e2, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x)"
        )
        return (
            cand.join(s1, "p1")
            .join(s2, "p2")
            .withColumn("cosine", rnd(dot / (F.col("n1") * F.col("n2")), 6))
            .where(F.col("cosine") >= F.lit(float(threshold)))
            .select("p1", "p2", "cosine")
        )

    @staticmethod
    def keep_best(
        scores: DataFrame,
        pairs: DataFrame,
        id_col: str = "doc_id",
        score_col: str = "quality_score",
    ) -> DataFrame:
        """Near-dup canonicalization: the pipeline stage AFTER
        clustering. ``pairs`` (p1, p2) says which docs are mutual
        near-dups; this picks which ONE of each connected cluster
        survives — the highest ``score_col`` (lowest id breaking
        ties), not the min-id that ``ConnectedComponents.
        canonical_groups`` uses — matching what a training-data
        pipeline actually keeps. Docs in no cluster keep themselves.

        Returns one row per scored doc: (id, component, cluster_size,
        score, keeper_id, kept).

        Scale: CC runs over cluster ENDPOINTS only (pointer jumping,
        O(E) per round); singletons join in afterwards with a left
        join, so the iterative part never carries the corpus. The
        argmax is one window over the component key — components are
        near-dup clusters, bounded fan-in, no skew hazard. Ordering
        uses the caller's (rounded) score so the choice is identical
        cross-engine.
        """
        from sparker_spark.graph import ConnectedComponents

        cc = ConnectedComponents.run(pairs)
        labeled = (
            scores.select(
                F.col(id_col).cast("long").alias("node"),
                F.col(score_col).alias("_score"),
            )
            .join(cc, "node", "left")
            .withColumn("component", F.coalesce("component", F.col("node")))
        )
        w = Window.partitionBy("component").orderBy(
            F.col("_score").desc(), F.col("node").asc()
        )
        ranked = labeled.select(
            "node",
            "component",
            "_score",
            F.row_number().over(w).alias("_rn"),
            F.first("node").over(w).alias("keeper_id"),
            F.count("*")
            .over(Window.partitionBy("component"))
            .alias("cluster_size"),
        )
        return ranked.select(
            F.col("node").alias(id_col),
            "component",
            "cluster_size",
            F.col("_score").alias(score_col),
            "keeper_id",
            (F.col("_rn") == 1).alias("kept"),
        )


def _join_salts(num_cells: int, partitions: int) -> int:
    """Salts for the within-cell candidate join of
    :meth:`SemanticDedup.pairs`: enough that ``num_cells * salts``
    gives about four join keys per shuffle partition (ceil), so 1 —
    no salting — whenever the cells alone are that many."""
    return -(-4 * partitions // num_cells)


class SemanticDedup:
    """Embedding-space near-duplicate removal (the SemDeDup shape,
    Abbas et al. 2023 "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public): cluster the embedding
    space coarsely, compare ONLY within clusters, and keep one
    representative per high-cosine group. Text-surface dedup
    (exact/MinHash/SimHash above) cannot see paraphrases and
    translations; embedding cosine can.

    Spark-first deviations from the paper, both deterministic and
    both documented: the coarse clusters are the engine's seeded
    hyperplane cells (llm/similarity.IVFIndex — a (dim, cells, seed)
    pure function, so the DuckDB oracle replays them exactly; the
    paper uses k-means, whose iterations are seed- and
    scheduling-sensitive), and the kept representative is the
    group's MIN id (the paper keeps the vector farthest from the
    centroid; min-id is the engine's established canonical rule,
    dedup_cc_clusters). Connected components merge transitively (a~b,
    b~c => one group), matching the paper's within-cluster dedup.

    Scale posture — CELL SIZING IS THE WHOLE GAME, because dedup makes
    EVERY vector a query (nothing amortizes):

    * ``target_cell_size=k`` (the PRODUCTION mode for dedup): cells ≈
      N/k, per-cell pair volume ≤ k², total candidate volume ≈ N·k —
      LINEAR in the corpus. This matches SemDeDup's constant-size
      k-means clusters (cluster count grows with N).
    * ``num_cells="auto"`` (the default): sqrt-N cells — right for
      SEARCH (per-query cost ~sqrt(N)), but total dedup volume is
      N^1.5: sub-quadratic yet super-linear, measurably so at the
      decade (bench_decade_newq_sf10.json).
    * a pinned integer (the gates use 16): deterministic correctness
      anchor; quadratic-per-cell — never use it at scale.

    The CC is the pointer-jumping one (graph.py), logarithmic rounds.
    Cross-cell near-dups at the cell boundary are missed exactly as
    the paper's k-means variant misses them (documented recall trade
    of every clustered dedup) unless ``multi_probe`` is on.
    """

    @staticmethod
    def pairs(
        embeddings: DataFrame,
        threshold: float | None,
        num_cells: int | str = "auto",
        seed: int = 1234,
        multi_probe: bool | str = False,
        target_cell_size: int | None = None,
        probe_margin: float = 0.05,
    ) -> DataFrame:
        """(p1, p2, cosine): within-cell pairs (p1 < p2) with rounded
        cosine >= threshold. One keyed self-join on the cell id.

        ``multi_probe=True`` additionally compares pairs whose cells
        differ in ONE hyperplane sign bit — near-dups sitting on a
        plane boundary land in adjacent cells, the recall loss every
        clustered dedup trades away. Each vector fans out to its
        UPWARD Hamming-1 neighbor cells on one join side only
        (neighbor > home), so every qualifying pair is enumerated
        exactly once and candidate volume grows by at most
        (log2 cells + 1)x — still sub-quadratic, never all-pairs.

        ``multi_probe="margin"`` prunes that fan-out to the planes the
        vector is actually NEAR: expand along bit j only when
        |proj_j|/norm < ``probe_margin``. Only boundary vectors can
        gain recall from probing (a vector far from plane j has its
        whole cosine-neighborhood on its own side), so the pruned
        variant keeps the recall at a fraction of the candidates —
        measured on the sf0.1 fixture in bench_semdedup_prod.json."""
        from sparker_spark.llm.similarity import DOT, IVFIndex

        index = IVFIndex.build(
            embeddings,
            num_cells=num_cells,
            seed=seed,
            target_cell_size=target_cell_size,
        )
        rel = index.indexed
        if multi_probe == "margin":
            bits = index.num_cells.bit_length() - 1
            planes = IVFIndex._planes(index.dim, index.num_cells, index.seed)
            projs = IVFIndex._proj_exprs(planes, "emb")
            # expand along bit j only if (a) it flips UPWARD (bit is
            # 0 — keeps the exactly-once enumeration of the full
            # variant) and (b) the vector sits within probe_margin of
            # plane j relative to its norm
            ups = [
                F.when(
                    (F.col("cell").bitwiseAND(F.lit(1 << j)) == 0)
                    & (
                        # rounded per the repo's cross-engine rounding
                        # discipline so the SQL oracle can replay the
                        # margin test bit-for-bit
                        rnd(F.abs(projs[j]) / F.col("norm"), 6)
                        < F.lit(float(probe_margin))
                    ),
                    F.col("cell") + F.lit(1 << j),
                ).otherwise(F.lit(-1))
                for j in range(bits)
            ]
            neighbors = F.concat(
                F.array(F.col("cell")),
                F.filter(F.array(*ups), lambda c: c >= 0),
            )
            a_rel = rel.select(
                F.col("cell").alias("home"),
                F.explode(neighbors).alias("cell"),
                "vec_id",
                "emb",
                "norm",
            )
        elif multi_probe:
            # each vector fans out to its UPWARD (neighbor > home)
            # Hamming-1 cells plus home; a cross-cell pair (c1 < c2,
            # one bit apart) is then enumerable ONLY as (lower-cell
            # vector expanded up) x (higher-cell vector at home) —
            # exactly once, regardless of id order. Same-cell pairs
            # keep the id-ordered guard.
            bits = index.num_cells.bit_length() - 1
            a_rel = rel.select(
                F.col("cell").alias("home"),
                F.explode(
                    F.expr(
                        "filter(transform(sequence(0, "
                        f"{bits}), j -> IF(j = {bits}, cell, "
                        "cell ^ shiftleft(1, j))), c -> c >= cell)"
                    )
                ).alias("cell"),
                "vec_id",
                "emb",
                "norm",
            )
        else:
            a_rel = rel.select(F.col("cell").alias("home"), "*")
        a = a_rel.select(
            "home",
            "cell",
            F.col("vec_id").alias("i1"),
            F.col("emb").alias("e1"),
            F.col("norm").alias("n1"),
        )
        b = rel.select(
            "cell",
            F.col("vec_id").alias("i2"),
            F.col("emb").alias("e2"),
            F.col("norm").alias("n2"),
        )
        # Few-cell regime (r13, guide §2.5): with a FIXED small cell
        # count (the gated 16-cell fixtures) the candidate join has at
        # most num_cells distinct keys, so its parallelism is capped at
        # num_cells tasks — and worse, AQE coalesces by INPUT bytes
        # (~tens of MB here) while the join OUTPUT is quadratic per
        # cell, so the whole enumeration collapsed onto 1-2 tasks
        # (measured at sf1.0: dedup_semantic_probe1 410 s, a 75x
        # super-linear wall for 10x data). Salt the key: the probe side
        # keeps a deterministic per-row salt, the build side is
        # exploded across all salts (each candidate pair still meets
        # exactly once, at the probe row's salt), and BOTH sides are
        # explicitly repartitioned with a user-specified partition
        # count — which AQE never coalesces — so the enumeration runs
        # at full width. Auto/target_cell_size sizings have
        # cells >> cores and skip this (salt = 1).
        join_keys = ["cell"]
        spark = embeddings.sparkSession
        par = shuffle_partitions(spark)
        n_salts = _join_salts(index.num_cells, par)
        if n_salts > 1:
            a = a.withColumn(
                "salt",
                F.pmod(F.xxhash64("i1"), F.lit(n_salts)).cast("int"),
            ).repartition(par, "cell", "salt")
            b = b.withColumn(
                "salt",
                F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))),
            ).repartition(par, "cell", "salt")
            join_keys = ["cell", "salt"]
        scored = (
            a.join(b, join_keys)
            .where(
                ((F.col("home") == F.col("cell")) & (F.col("i1") < F.col("i2")))
                | (F.col("home") != F.col("cell"))
            )
            .select(
                F.least("i1", "i2").alias("p1"),
                F.greatest("i1", "i2").alias("p2"),
                rnd(
                    F.expr(DOT) / (F.col("n1") * F.col("n2")), 6
                ).alias("cosine"),
            )
        )
        if threshold is None:
            # the full candidate relation — what the cell sizing and
            # probe pruning actually control; counting it is how the
            # margin variant's ≥2× claim is measured
            return scored
        return scored.where(F.col("cosine") >= float(threshold))

    @staticmethod
    def dedup(
        embeddings: DataFrame,
        threshold: float,
        num_cells: int | str = "auto",
        seed: int = 1234,
        multi_probe: bool | str = False,
        target_cell_size: int | None = None,
        probe_margin: float = 0.05,
    ) -> DataFrame:
        """(vec_id, component, cluster_size, is_canonical): every
        vector labeled with its semantic-duplicate group; vectors with
        no near-dup are their own canonical singleton. Filter
        is_canonical to materialize the deduplicated corpus.

        For corpus-scale dedup pass ``target_cell_size`` (bounded
        cells ⇒ linear candidate volume — see the class docstring);
        the ``num_cells`` default suits search-sized inputs."""
        from sparker_spark.graph import ConnectedComponents

        edges = SemanticDedup.pairs(
            embeddings,
            threshold,
            num_cells=num_cells,
            seed=seed,
            multi_probe=multi_probe,
            target_cell_size=target_cell_size,
            probe_margin=probe_margin,
        ).select("p1", "p2")
        nodes = embeddings.select(F.col("vec_id").alias("node"))
        return ConnectedComponents.canonical_groups(
            edges, nodes=nodes
        ).select(
            F.col("node").alias("vec_id"),
            "component",
            "cluster_size",
            "is_canonical",
        )
