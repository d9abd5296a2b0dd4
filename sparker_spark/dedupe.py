"""One-call generic dedup API over arbitrary DataFrames.

SURVEY §7.1 M8's north-star wrapper: ``dedupe(df, ...) -> matches``
composes the whole engine (EAV profile load -> blocking -> purging ->
filtering -> edge weighting -> pruning) behind a single function, so a
user with ANY DataFrame gets candidate matches keyed by their own ids
without touching pipeline internals. Every stage is the same
DataFrame-native operator the oracle-checked queries run — this module
adds composition and id round-tripping only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.blocking.blockers import Blocking
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.metablocking.pruning_utils import (
    ComparisonTypes,
    ThresholdTypes,
    WeightTypes,
)
from sparker_spark.metablocking.weights import EdgeWeighting
from sparker_spark.wrappers import DataFrameWrapper

_PRUNERS = ("wnp", "wep", "cep", "cnp", "none")


def dedupe(
    df: DataFrame,
    id_col: str,
    df2: DataFrame | list[DataFrame] | None = None,
    columns: list[str] | None = None,
    blocking: str = "token",
    ngram_size: int = 3,
    purge_smooth: float = 1.025,
    filter_r: float = 0.8,
    weight_type: str = WeightTypes.CBS,
    pruning: str = "wnp",
    threshold_type: str = ThresholdTypes.AVG,
    comparison_type: str = ComparisonTypes.OR,
) -> DataFrame:
    """Candidate matches for one DataFrame (dirty ER) or across two
    or more (clean-clean ER): ``(id1, id2, weight)`` in the CALLER's
    id space.

    * ``df`` / ``df2``: any DataFrames; ``id_col`` names the unique
      record id in each. With ``df2`` set (a DataFrame, or a LIST of
      DataFrames for k-source clean-clean ER — reference
      old_versions/multi-data-source-sparker), only cross-frame pairs
      are emitted; each frame is its own source. With a single
      ``df2`` DataFrame the output keeps the 2-frame contract
      (``id1`` from ``df``, ``id2`` from ``df2``); with a LIST the
      output additionally carries ``source1``/``source2`` (0 = ``df``,
      i = ``df2[i-1]``, always ``source1 < source2``) so pairs stay
      attributable when frames share an id namespace.
    * ``columns``: attribute subset to block on (default: all except
      the id column).
    * ``blocking``: ``"token"`` (schema-agnostic token blocking) or
      ``"ngram"`` (character n-grams of size ``ngram_size``).
    * ``purge_smooth`` / ``filter_r``: the reference's block purging
      and filtering knobs (SURVEY §2.4); ``None`` skips the stage.
    * ``weight_type`` + ``pruning`` (+ threshold/comparison): any of
      the engine's six edge weights and WNP/WEP/CEP/CNP pruners;
      ``pruning="none"`` returns the full weighted edge relation.
    """
    from sparker_spark.blocking.strategies import BlockingKeysStrategies

    if pruning not in _PRUNERS:
        raise ValueError(f"pruning must be one of {_PRUNERS}")

    def prep(frame: DataFrame, source_id: int, start_id: int) -> DataFrame:
        use = frame if columns is None else frame.select(id_col, *columns)
        return DataFrameWrapper.load_profiles(
            use, start_id_from=start_id, real_id_field=id_col, source_id=source_id
        )

    extra = (
        [] if df2 is None else (df2 if isinstance(df2, list) else [df2])
    )
    clean = bool(extra)
    # an empty df2 list is a dirty-ER run: without this guard it would
    # take the k-source output shape (source1/source2 columns) while
    # clean=False, contradicting the documented list contract
    multi = clean and isinstance(df2, list)
    # Per-frame id offsets from each frame's OWN row count — one cheap
    # independent job per frame over the raw input. (Deriving the
    # offset from max(profile_id) of the growing union re-executes the
    # whole melt lineage of every earlier frame per step: O(k²).)
    counts = [df.count()] + [f.count() for f in extra]
    starts = [0]
    for c in counts[:-1]:
        starts.append(starts[-1] + c)
    profiles = prep(df, 0, starts[0])
    for i, frame in enumerate(extra, start=1):
        profiles = profiles.unionByName(prep(frame, i, starts[i]))
    profiles = profiles.localCheckpoint(eager=False)

    if blocking == "token":
        keys = BlockingKeysStrategies.token_blocking(profiles)
    elif blocking == "ngram":
        keys = BlockingKeysStrategies.ngrams_blocking(profiles, ngram_size=ngram_size)
    else:
        raise ValueError("blocking must be 'token' or 'ngram'")

    blocks = Blocking.blocks_from_keys(keys, clean=clean)
    if purge_smooth is not None:
        blocks = BlockPurging.block_purging(blocks, purge_smooth)
    if filter_r is not None:
        _, pb_filtered, blocks = BlockFiltering.block_filtering_quick(
            blocks, filter_r
        )
    else:
        from sparker_spark.blocking.converters import Converters

        pb_filtered = Converters.blocks_to_profile_blocks(blocks)

    ctx = EdgeWeighting.weighted_edges(blocks, pb_filtered, weight_type)
    if pruning == "wnp":
        from sparker_spark.metablocking.wnp import WNP

        edges = WNP.prune(ctx, threshold_type, comparison_type)
    elif pruning == "wep":
        from sparker_spark.metablocking.wep import WEP

        edges = WEP.prune(ctx)
    elif pruning == "cep":
        from sparker_spark.metablocking.cep import CEP

        edges = CEP.prune(ctx, CEP.num_edges_to_keep(blocks))
    elif pruning == "cnp":
        from sparker_spark.metablocking.cnp import CNP

        n_profiles = profiles.select("profile_id").distinct().count()
        k = CNP.compute_cnp_threshold(blocks, n_profiles)
        edges = CNP.prune(ctx, k, comparison_type=comparison_type)
    else:
        edges = ctx.half()

    # back to the caller's ids (original_id is the stringified id_col);
    # profile ids ascend with source index, and edges hold p1 < p2, so
    # source1 <= source2 (strictly < for clean-clean cross-source)
    ids = profiles.select("profile_id", "original_id", "source_id").distinct()
    out = (
        edges.join(
            ids.select(
                F.col("profile_id").alias("p1"),
                F.col("original_id").alias("id1"),
                F.col("source_id").alias("source1"),
            ),
            "p1",
        )
        .join(
            ids.select(
                F.col("profile_id").alias("p2"),
                F.col("original_id").alias("id2"),
                F.col("source_id").alias("source2"),
            ),
            "p2",
        )
    )
    if multi:
        # k-source mode: frames may share an id namespace — keep the
        # source indexes so every pair stays attributable
        return out.select("id1", "id2", "source1", "source2", "weight")
    return out.select("id1", "id2", "weight")


# ====================================================================
# One-call CORPUS dedup facade — the LLM-pipeline counterpart of
# dedupe(): compose the document-dedup operators (llm/dedup.py) behind
# a single call that returns a keep-set with per-method attribution.
# ====================================================================

_CORPUS_METHODS = ("exact", "minhash", "simhash", "semantic")


def dedup_corpus(
    documents: DataFrame,
    methods: list[str] | tuple[str, ...] = ("exact", "minhash", "semantic"),
    embeddings: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    normalize: bool = True,
    shingle_size: int = 3,
    minhash_k: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.2,
    seed: int = 1234,
    simhash_bits: int = 32,
    simhash_max_hamming: int = 3,
    semantic_threshold: float = 0.9,
    target_cell_size: int = 256,
    keep: str = "min_id",
) -> DataFrame:
    """(doc_id, kept, dropped_by): every input document labeled with
    whether it survives the requested dedup ladder and, if not, WHICH
    method removed it — the one-call corpus-dedup counterpart of
    :func:`dedupe` (a user with a documents DataFrame gets the
    training keep-set without composing Dedup/SemanticDedup/
    ConnectedComponents by hand). Filter ``kept`` to materialize the
    deduplicated corpus; group by ``dropped_by`` for the per-method
    removal report.

    Methods run IN THE GIVEN ORDER, each over the SURVIVORS of the
    previous stage (the production ladder: cheap exact hashing first,
    then banded near-dup, then embedding-space semantic dedup —
    so attribution is "first method that removed the doc", and later,
    more expensive stages never pay for documents already gone):

    * ``"exact"``: content-hash groups (whitespace/case normalized
      when ``normalize``); the min-id copy of each group survives
      (copies are byte-equal after normalization, so the keep policy
      is immaterial here).
    * ``"minhash"``: MinHash-LSH banded near-dup pairs at
      ``jaccard_threshold`` (``minhash_k`` hashes in ``bands`` bands
      — the production banding; candidates are same-bucket pairs
      only, never all-pairs) -> distributed connected components ->
      one survivor per cluster.
    * ``"simhash"``: tf-weighted SimHash pairs within
      ``simhash_max_hamming`` bits via pigeonhole banding -> same
      clustering.
    * ``"semantic"``: SemDeDup over ``embeddings`` (required;
      ``emb_id_col`` values must be the document ids) in the
      PRODUCTION sizing — ``target_cell_size`` bounds SRP cell size
      so candidate volume stays linear in the corpus (measured
      ~linear across the sf decade, SCALING.md r11). Documents
      without an embedding are KEPT (the stage cannot judge them).

    ``keep``: ``"min_id"`` keeps each near-dup/semantic cluster's
    smallest id (deterministic, matching dedup_cc_clusters);
    ``"best_quality"`` keeps the cluster's highest
    TextAnalysis.quality_score doc (Dedup.keep_best — what a
    production pipeline usually wants).

    Document ids must be castable to long (the distributed
    connected-components labels are numeric); pre-map string ids
    before calling.

    Scale posture: every stage is the same shuffle-bounded operator
    its oracle-gated query runs — keyed aggregation (exact), banded
    LSH (minhash/simhash), bounded-cell SRP (semantic), pointer-
    jumping CC (log rounds, no driver graph). Stage boundaries are
    pinned with a lazy ``localCheckpoint`` that the result owns: each
    stage's survivor set is consumed by at least two downstream legs
    (the next stage + the final attribution join), and without the
    cut every leg would re-derive the full upstream lineage.
    """
    from sparker_spark.graph import ConnectedComponents
    from sparker_spark.llm.dedup import Dedup, SemanticDedup

    methods = list(methods)
    if not methods:
        raise ValueError("methods must name at least one dedup method")
    if len(set(methods)) != len(methods):
        raise ValueError(f"duplicate method in {methods}")
    for m in methods:
        if m not in _CORPUS_METHODS:
            raise ValueError(
                f"unknown method {m!r}; choose from {_CORPUS_METHODS}"
            )
    if "semantic" in methods and embeddings is None:
        raise ValueError('method "semantic" requires an embeddings DataFrame')
    if keep not in ("min_id", "best_quality"):
        raise ValueError(f"invalid keep policy: {keep!r}")

    docs = documents.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    ).localCheckpoint(eager=False)

    def cluster_drops(pairs: DataFrame, nodes: DataFrame, method: str,
                      survivors: DataFrame) -> DataFrame:
        """(doc_id, dropped_by): cluster the candidate pairs and mark
        every non-surviving member. ``nodes`` bounds the component
        node set (docs the stage could actually judge)."""
        edges = pairs.select("p1", "p2")
        if keep == "min_id":
            cg = ConnectedComponents.canonical_groups(
                edges, nodes=nodes.select(F.col("doc_id").alias("node"))
            )
            culled = cg.where(~F.col("is_canonical")).select(
                F.col("node").alias("doc_id")
            )
        else:
            from sparker_spark.llm.text import TextAnalysis

            scores = (
                TextAnalysis.quality_score(
                    survivors.join(nodes.select("doc_id"), "doc_id")
                ).select("doc_id", "quality_score")
            )
            culled = (
                Dedup.keep_best(scores, edges)
                .where(~F.col("kept"))
                .select("doc_id")
            )
        return culled.select(
            "doc_id", F.lit(method).alias("dropped_by")
        )

    survivors = docs
    drop_rels: list[DataFrame] = []
    for m in methods:
        if m == "exact":
            d = (
                Dedup.exact_groups(survivors, normalize=normalize)
                .where(~F.col("is_canonical"))
                .select("doc_id", F.lit("exact").alias("dropped_by"))
            )
        elif m == "minhash":
            pairs = Dedup.minhash_lsh_pairs(
                survivors,
                minhash_k,
                bands,
                shingle_size,
                jaccard_threshold,
                seed,
            )
            d = cluster_drops(pairs, survivors, "minhash", survivors)
        elif m == "simhash":
            pairs = Dedup.simhash_pairs(
                survivors, simhash_bits, simhash_max_hamming
            )
            d = cluster_drops(pairs, survivors, "simhash", survivors)
        else:  # semantic
            emb = embeddings.select(
                F.col(emb_id_col).cast("long").alias("vec_id"), "embedding"
            ).join(
                survivors.select(F.col("doc_id").alias("vec_id")), "vec_id"
            )
            pairs = SemanticDedup.pairs(
                emb,
                semantic_threshold,
                seed=seed,
                target_cell_size=int(target_cell_size),
            )
            d = cluster_drops(
                pairs,
                emb.select(F.col("vec_id").alias("doc_id")),
                "semantic",
                survivors,
            )
        d = d.localCheckpoint(eager=False)
        drop_rels.append(d)
        survivors = survivors.join(
            d.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)

    drops = drop_rels[0]
    for d in drop_rels[1:]:
        drops = drops.unionByName(d)
    return (
        docs.select("doc_id")
        .join(drops, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dropped_by").isNull().alias("kept"),
            "dropped_by",
        )
    )
