"""Sequence packing for pretraining — the concat-and-chunk plan.

The standard LLM pretraining data layout concatenates the tokenized
corpus in a deterministic order (each document followed by a fixed
number of separator tokens, e.g. one EOS) and cuts the stream into
fixed-length training sequences; a document whose tokens straddle a
cut simply continues in the next sequence. The PLAN for that layout —
which token span of which document lands at which position of which
sequence — is pure integer arithmetic over a global running token
offset, so this module emits it as a relation without touching the
text bytes twice:

    (seq_id, doc_id, tok_start, tok_end, n_toks, seq_pos)

meaning: tokens ``[tok_start, tok_end)`` of ``doc_id`` (0-based within
the document's own token stream) occupy positions ``[seq_pos,
seq_pos + n_toks)`` of training sequence ``seq_id``. A downstream
writer joins the plan back to the tokenized text and materializes
sequences with an ordinary groupBy(seq_id) — every shuffle is keyed,
nothing is driver-resident.

Scale posture: the one global dependency is the running offset, which
is NOT computed with an unpartitioned window (single-partition sort —
fatal at corpus scale) but with ``ranking.global_cumsum``: range
repartition + per-partition prefix sums + a #partitions-sized driver
offset list. Everything after the cumsum is per-row arithmetic plus
one bounded ``sequence()`` explode (a document of n tokens spans at
most ``n // seq_len + 2`` sequences).

No reference counterpart — sparker has no pretraining surface; this
extends the engine per the training-data-pipeline brief.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparker_spark import ranking


def _ws_tokens(col):
    """Whitespace token array (split on ``[ \\t\\r\\n\\f\\x0B]+``, empty tokens
    dropped; NULL text = zero tokens). The DEFAULT tokenizer expression
    shared by the plan's counts and the materializer's slices — the
    ends-doc test and slice bounds silently break if these ever
    diverge."""
    return F.coalesce(
        F.filter(F.split(col, "[ \\t\\r\\n\\f\\x0B]+"), lambda t: F.length(t) > 0),
        F.array().cast("array<string>"),
    )


def _check_cap(max_doc_tokens: int | None) -> None:
    if max_doc_tokens is not None and int(max_doc_tokens) <= 0:
        raise ValueError("max_doc_tokens must be positive")


def _tokens(col, tokenizer: Callable[[Column], Column] | None):
    """Token array under the pluggable tokenizer contract: any
    Column -> Column(array) expression (e.g. a BPE-ish
    ``regexp_extract_all``); NULL text always counts zero tokens.
    Plan counts and text slices MUST flow through the SAME tokenizer
    or the ends-doc test and slice bounds silently diverge — which is
    why every entry point threads one ``tokenizer`` argument to both.
    """
    if tokenizer is None:
        return _ws_tokens(col)
    return F.coalesce(tokenizer(col), F.array().cast("array<string>"))


class SequencePacking:
    @staticmethod
    def token_counts(
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        tokenizer: Callable[[Column], Column] | None = None,
        counts_col: str | None = None,
    ) -> DataFrame:
        """(doc_id, n) token counts. Default: whitespace tokens
        (``_ws_tokens``); NULL-text documents count zero tokens and,
        like empty ones, still reserve their separators in the plan.

        * ``tokenizer``: any Column -> Column(array) expression (a
          BPE-ish regex, a pre-split column reference, ...) replacing
          the whitespace default.
        * ``counts_col``: a PRECOMPUTED token-count column on ``docs``
          (e.g. written by an external BPE/SentencePiece run) — the
          plan then never touches the text at all. NULLs count zero.
        """
        if counts_col is not None:
            return docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(F.col(counts_col).cast("long"), F.lit(0))
                .alias("n"),
            )
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(_tokens(F.col(text_col), tokenizer))
            .cast("long")
            .alias("n"),
        )

    @staticmethod
    def pack_plan(
        docs: DataFrame,
        seq_len: int,
        text_col: str = "text",
        id_col: str = "doc_id",
        sep_tokens: int = 1,
        tokenizer: Callable[[Column], Column] | None = None,
        counts_col: str | None = None,
        base_offset: int = 0,
        max_doc_tokens: int | None = None,
    ) -> DataFrame:
        """The concat-and-chunk packing plan (module docstring).

        ``max_doc_tokens``: per-document length cap — documents longer
        than the cap contribute only their FIRST ``max_doc_tokens``
        tokens to the stream (the standard pretraining guard against
        one pathological document dominating sequences). Pass the SAME
        cap to the materializer (pack_texts / pack_token_ids) or the
        separator accounting silently diverges.

        Documents are laid out in ascending ``doc_id`` order; each
        occupies its ``n`` tokens plus ``sep_tokens`` separator
        positions (separators are accounted for in the offsets but
        never emitted as document slices). Zero-token documents
        contribute their separators to the stream and no plan rows.

        The plan only needs a ``(doc_id, n)`` relation, so any
        tokenization plugs in: ``tokenizer`` (a Column -> array
        expression applied to ``text_col``) or ``counts_col`` (a
        precomputed per-document token count — the form an external
        BPE run hands over).

        ``base_offset``: the stream position the first document starts
        at — the INCREMENTAL-append hook. Packing a new batch with
        ``base_offset=stream_end(old_docs)`` yields exactly the rows
        the full-corpus plan would assign to those documents (the
        corpus-append case: new docs have higher doc_ids), so daily
        appends never repack history.
        """
        seq_len = int(seq_len)
        if seq_len <= 0:
            raise ValueError("seq_len must be positive")
        if sep_tokens < 0:
            raise ValueError("sep_tokens must be >= 0")
        if base_offset < 0:
            raise ValueError("base_offset must be >= 0")
        counts = SequencePacking.token_counts(
            docs, text_col, id_col, tokenizer=tokenizer, counts_col=counts_col
        )
        _check_cap(max_doc_tokens)
        if max_doc_tokens is not None:
            counts = counts.withColumn(
                "n", F.least(F.col("n"), F.lit(int(max_doc_tokens)))
            )
        counts = counts.withColumn(
            "_w", F.col("n") + F.lit(int(sep_tokens))
        )
        cum = ranking.global_cumsum(counts, ["doc_id"], "_w", out="_cum")
        # exclusive prefix: first stream position of this doc's tokens
        offs = cum.withColumn(
            "off",
            F.col("_cum") - F.col("_w") + F.lit(int(base_offset)),
        ).drop("_cum", "_w")
        spans = offs.where(F.col("n") > 0).select(
            "doc_id",
            "n",
            "off",
            F.explode(
                F.expr(
                    f"sequence(off div {seq_len}, (off + n - 1) div {seq_len})"
                )
            ).alias("seq_id"),
        )
        out = spans.select(
            "seq_id",
            "doc_id",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("seq_id") * seq_len - F.col("off"),
            ).alias("tok_start"),
            F.least(
                F.col("n"), (F.col("seq_id") + 1) * seq_len - F.col("off")
            ).alias("tok_end"),
            F.greatest(
                F.lit(0).cast("long"),
                F.col("off") - F.col("seq_id") * seq_len,
            ).alias("seq_pos"),
        ).withColumn("n_toks", F.col("tok_end") - F.col("tok_start"))
        return out.select(
            "seq_id", "doc_id", "tok_start", "tok_end", "n_toks", "seq_pos"
        )

    @staticmethod
    def stream_end(
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        sep_tokens: int = 1,
        tokenizer: Callable[[Column], Column] | None = None,
        counts_col: str | None = None,
        max_doc_tokens: int | None = None,
    ) -> int:
        """Total stream length of a packed corpus — ``sum(n +
        sep_tokens)`` over every document including zero-token ones
        (their reserved separators count). One aggregate, one bounded
        driver scalar: the ``base_offset`` to hand the NEXT batch's
        :meth:`pack_plan` for incremental corpus appends.
        ``max_doc_tokens`` must match the plans' cap."""
        counts = SequencePacking.token_counts(
            docs, text_col, id_col, tokenizer=tokenizer, counts_col=counts_col
        )
        _check_cap(max_doc_tokens)
        if max_doc_tokens is not None:
            counts = counts.withColumn(
                "n", F.least(F.col("n"), F.lit(int(max_doc_tokens)))
            )
        row = counts.agg(
            F.coalesce(
                F.sum(F.col("n") + F.lit(int(sep_tokens))), F.lit(0)
            ).alias("s")
        ).first()
        return int(row["s"])

    @staticmethod
    def pack_texts(
        docs: DataFrame,
        plan: DataFrame,
        seq_len: int,
        text_col: str = "text",
        id_col: str = "doc_id",
        sep: str = "<|sep|>",
        sep_tokens: int = 1,
        tokenizer: Callable[[Column], Column] | None = None,
        tokens_col: str | None = None,
        max_doc_tokens: int | None = None,
    ) -> DataFrame:
        """Materialize the packed sequences: join the plan back to the
        tokenized text and emit (seq_id, n_docs, n_tokens, text) with
        each document slice's tokens in stream order and ``sep``
        rendered at every reserved separator position that falls
        INSIDE the sequence. ``sep_tokens`` MUST match the value the
        plan was built with — the plan reserved that many stream
        positions per document, and this renders exactly the reserved
        positions that land before the sequence boundary (separators
        flush with or past a cut continue at the next sequence's head,
        where rendering drops them — position accounting matches the
        plan's offsets either way).

        ``tokenizer`` / ``tokens_col`` MUST match what the plan was
        built with: ``tokenizer`` re-tokenizes ``text_col`` with the
        same expression; ``tokens_col`` names a PRE-TOKENIZED array
        column on ``docs`` (``array<string>`` or any castable element
        type — elements are rendered with their string form), the form
        to use when the plan was built from precomputed counts.

        Plan shape: one slice() per plan row over the document's token
        array (no per-token explode — the join moves each document's
        token array once per covering sequence, which is bounded by
        n//seq_len + 2), then one groupBy(seq_id) assembling slices in
        seq_pos order. Both shuffles are keyed; nothing driver-side."""
        if sep_tokens < 0:
            raise ValueError("sep_tokens must be >= 0")
        if tokens_col is not None:
            tok_expr = F.coalesce(
                F.transform(F.col(tokens_col), lambda t: t.cast("string")),
                F.array().cast("array<string>"),
            )
        else:
            tok_expr = _tokens(F.col(text_col), tokenizer)
        toks = docs.select(
            F.col(id_col).alias("doc_id"), tok_expr.alias("_toks")
        )
        # how many of this document's reserved separators land inside
        # THIS sequence: the slice must end the document — under a
        # length cap the document's stream presence ends at the cap,
        # not at its full token count (max_doc_tokens MUST match the
        # plan's) — and only positions before the sequence boundary
        # render here
        _check_cap(max_doc_tokens)
        eff_len = (
            F.least(F.size("_toks"), F.lit(int(max_doc_tokens)))
            if max_doc_tokens is not None
            else F.size("_toks")
        )
        n_seps = F.when(
            F.col("tok_end") == eff_len,
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(int(sep_tokens)).cast("long"),
                    F.lit(int(seq_len)) - F.col("seq_pos") - F.col("n_toks"),
                ),
            ),
        ).otherwise(F.lit(0).cast("long"))
        sliced = plan.join(toks, "doc_id").select(
            "seq_id",
            "seq_pos",
            "n_toks",
            F.concat_ws(
                " ",
                F.concat(
                    F.slice(
                        "_toks",
                        F.col("tok_start").cast("int") + 1,
                        F.col("n_toks").cast("int"),
                    ),
                    F.array_repeat(F.lit(sep), n_seps.cast("int")),
                ),
            ).alias("_piece"),
        )
        assembled = sliced.groupBy("seq_id").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq_pos", "_piece"))
                    ),
                    lambda s: s["_piece"],
                ),
                " ",
            ).alias("text"),
        )
        return assembled.select("seq_id", "n_docs", "n_tokens", "text")

    @staticmethod
    def pack_token_ids(
        docs: DataFrame,
        plan: DataFrame,
        seq_len: int,
        tokens_col: str,
        id_col: str = "doc_id",
        sep_id: int = -1,
        sep_tokens: int = 1,
        max_doc_tokens: int | None = None,
    ) -> DataFrame:
        """Materialize packed INTEGER sequences — the relation a
        pretraining run actually writes: ``(seq_id, n_docs, n_tokens,
        input_ids)`` with ``input_ids`` an ``array<long>`` of the
        documents' token ids in stream order and ``sep_id`` at every
        reserved separator position that falls inside the sequence
        (same separator-rendering rule as :meth:`pack_texts`; the
        final ragged sequence is shorter than ``seq_len``).

        ``tokens_col`` is a pre-tokenized ``array`` column on ``docs``
        (any integer element type) whose per-document length matches
        the counts the plan was built from — pair it with
        ``pack_plan(counts_col=...)`` or
        ``pack_plan(tokenizer=...)`` + an id-mapping of the same
        tokenizer. Identical plan shape to pack_texts: one slice per
        plan row, one keyed groupBy(seq_id), flatten in seq_pos order.
        """
        if sep_tokens < 0:
            raise ValueError("sep_tokens must be >= 0")
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(
                F.transform(F.col(tokens_col), lambda t: t.cast("long")),
                F.array().cast("array<long>"),
            ).alias("_toks"),
        )
        _check_cap(max_doc_tokens)
        eff_len = (
            F.least(F.size("_toks"), F.lit(int(max_doc_tokens)))
            if max_doc_tokens is not None
            else F.size("_toks")
        )
        n_seps = F.when(
            F.col("tok_end") == eff_len,
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(int(sep_tokens)).cast("long"),
                    F.lit(int(seq_len)) - F.col("seq_pos") - F.col("n_toks"),
                ),
            ),
        ).otherwise(F.lit(0).cast("long"))
        sliced = plan.join(toks, "doc_id").select(
            "seq_id",
            "seq_pos",
            "n_toks",
            F.concat(
                F.slice(
                    "_toks",
                    F.col("tok_start").cast("int") + 1,
                    F.col("n_toks").cast("int"),
                ),
                F.array_repeat(
                    F.lit(int(sep_id)).cast("long"), n_seps.cast("int")
                ),
            ).alias("_piece"),
        )
        assembled = sliced.groupBy("seq_id").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq_pos", "_piece"))
                    ),
                    lambda s: s["_piece"],
                )
            ).alias("input_ids"),
        )
        return assembled.select("seq_id", "n_docs", "n_tokens", "input_ids")

    @staticmethod
    def pack_stats(plan: DataFrame, seq_len: int) -> DataFrame:
        """Per-sequence fill report over a pack_plan relation:
        (seq_id, n_docs, n_doc_tokens, fill_ratio) — separator and
        tail positions are the unfilled remainder. The final (ragged)
        sequence legitimately reports a low fill."""
        return plan.groupBy("seq_id").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_doc_tokens"),
            (F.sum("n_toks") / F.lit(float(int(seq_len)))).alias(
                "fill_ratio"
            ),
        )


def training_order(
    seqs: DataFrame, seed: int = 0, id_col: str = "seq_id"
) -> DataFrame:
    """Assign every packed sequence its position in a deterministic
    global shuffle — the training-order step every pretraining run
    applies after packing (sequential seq_id order would feed the
    model the corpus in doc_id order).

    The permutation is the rank of the engine's md5 hash coordinate
    (llm/sampling.py) of ``(seed, seq_id)``: a pure function of the
    seed, so the order is reproducible anywhere, and a different seed
    gives an independent permutation per epoch. Ranking uses
    ranking.global_rank (range-partitioned two-phase rank — no
    single-partition window, the shape that survives corpus scale);
    ties on the coordinate (2^-60 probability) break on seq_id.
    Adds ``shuffle_pos`` (dense, 0-based).
    """
    from sparker_spark import ranking
    from sparker_spark.llm.sampling import Sampling

    keyed = seqs.withColumn("_coord", Sampling.coord(id_col, seed))
    return ranking.global_rank(
        keyed, ["_coord", id_col], out="shuffle_pos"
    ).drop("_coord")


def write_packed_shards(
    seqs: DataFrame,
    path: str,
    seqs_per_shard: int = 100_000,
    order_col: str = "seq_id",
    manifest: bool = True,
    epoch: int = 0,
) -> DataFrame | None:
    """Write packed sequences as Hive-partitioned parquet shards —
    the on-disk layout a training dataloader consumes: ``path/
    shard=K/`` holds sequences [K·seqs_per_shard, (K+1)·seqs_per_shard)
    of ``order_col`` (seq_id for corpus order, shuffle_pos from
    :func:`training_order` for training order), so a worker assigned
    shards K..K+j reads exactly its partitions (PartitionFilters
    pruning — asserted in tests) and row order within a shard follows
    ``order_col`` via a per-partition sort (sortWithinPartitions: no
    global sort, no single-partition window).

    ``manifest=True`` additionally writes ``path/_manifest`` (the
    underscore prefix keeps it invisible to the partitioned data
    read, like _SUCCESS) holding one row per shard — ``(epoch, shard,
    path, n_seqs, token_count, min_order, max_order)``, ``path``
    relative (``shard=K``) so the manifest is machine-portable — and
    returns the manifest DataFrame: what a dataloader needs to assign
    shards to workers and RESUME mid-epoch without listing files.
    ``token_count`` sums ``n_tokens`` when the relation carries it
    (pack_texts / pack_token_ids outputs), else null. The aggregate
    runs over the WRITTEN parquet (partition column + two numeric
    columns, column-pruned), never the input lineage — re-executing
    ``seqs``'s upstream plan a second time just to count rows would
    double the cost of any expensive pipeline feeding this sink."""
    if seqs_per_shard <= 0:
        raise ValueError("seqs_per_shard must be positive")
    out = seqs.withColumn(
        "shard",
        (F.col(order_col) / F.lit(int(seqs_per_shard)))
        .cast("long"),
    )
    (
        out.repartition("shard")
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    if not manifest:
        return None
    tok_sum = (
        F.sum("n_tokens").cast("long")
        if "n_tokens" in seqs.columns
        else F.lit(None).cast("long")
    )
    back = seqs.sparkSession.read.parquet(path)
    man = back.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_seqs"),
        tok_sum.alias("token_count"),
        F.min(order_col).cast("long").alias("min_order"),
        F.max(order_col).cast("long").alias("max_order"),
    ).select(
        F.lit(int(epoch)).alias("epoch"),
        # the read-back partition column infers as int — keep the
        # manifest's shard long, as the writer's own column was
        F.col("shard").cast("long").alias("shard"),
        F.concat(F.lit("shard="), F.col("shard")).alias("path"),
        "n_seqs",
        "token_count",
        "min_order",
        "max_order",
    )
    man.repartition(1).write.mode("overwrite").parquet(
        f"{path}/_manifest"
    )
    return seqs.sparkSession.read.parquet(f"{path}/_manifest")
