"""Distributed BPE (byte-pair-encoding) tokenizer training + encoding.

Completes the engine's tokenizer story: ``BPE.train`` learns a merge
table from the corpus, ``BPE.encode`` tokenizes documents with it, and
the token arrays/counts flow straight into
``SequencePacking.pack_plan(counts_col=...)`` /
``pack_texts(tokens_col=...)`` — corpus in, trained-tokenizer packed
sequences out, all inside one engine.

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"): start from the corpus WORD VOCABULARY with
counts (Heaps-small relative to the corpus — the reason BPE training
is tractable at 100 TB: one corpus pass builds the vocab, every
iteration after that touches only vocab rows), each word a sequence of
single-character symbols; repeatedly count adjacent symbol pairs
weighted by word count, merge the most frequent pair (ties: count
desc, then left asc, right asc — fully deterministic), and record the
merge. Word boundaries are never crossed (no end-of-word marker;
merges apply within words only — the GPT-2-style convention without
byte-level pre-mapping).

Scale posture:

* ``train`` is the fully-distributed loop: per merge, one pair-count
  aggregate and one symbol-rewrite projection over the pinned vocab
  relation — two keyed jobs per merge, no driver-resident vocab. The
  per-merge job overhead makes it the right path for moderate merge
  counts or vocabularies too large to collect.
* ``train_local`` collects the (word, count) vocab — GUARDED by an
  explicit row cap (the same bounded-driver-scalar discipline as the
  purging threshold collects) — and runs the classic in-memory
  trainer. Vocabulary is sublinear in corpus size (Heaps' law), so
  this is the practical path for real merge counts (32k+) where the
  distributed loop's 2·k job latency dominates; equality with
  ``train`` is property-tested.
* ``encode`` broadcasts the MERGE TABLE (the model itself, ≤ the
  number of merges — bounded and small by construction) and runs the
  standard priority encoder in Arrow-batched ``mapInPandas`` with a
  per-batch word cache; Zipf's law makes the cache hit rate high.

No reference counterpart — sparker has no tokenizer surface; this
extends the engine per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.rounding import rnd

# stop training when the best pair occurs fewer times than this
# (merging singletons memorizes the corpus tail instead of learning
# subword structure)
DEFAULT_MIN_COUNT = 2

# explicit whitespace class for word splitting — NOT \s, which
# includes \x0B in Java regex but not in RE2/DuckDB (the repo's
# BoilerplateRemoval portability rule); the SQL oracles use the same
# class, and BPE.encode's Python splitter mirrors it (str.split()
# would additionally split on unicode spaces). Canonical definition
# lives in llm/hashing.py next to the other engine-portable
# primitives; re-exported here for existing importers.
from sparker_spark.llm.hashing import WS_CLASS  # noqa: F401


# --------------------------------------------------- byte-level base
# GPT-2's byte<->unicode convention (Radford et al. 2019, public
# gpt-2/src/encoder.py): every byte gets a PRINTABLE stand-in
# character, so byte sequences round-trip through ordinary strings.
# Visible latin bytes (33-126, 161-172, 174-255) map to their own
# codepoint; the 68 remaining bytes (controls, space, 127-160, 173)
# map to 256+k in ascending byte order. With this base alphabet the
# vocabulary covers EVERY byte, so byte-level encoding can never
# produce an out-of-vocabulary symbol — no unk ids, ever.

_B2U: dict[int, str] | None = None
_U2B: dict[str, int] | None = None


def bytes_to_unicode() -> dict[int, str]:
    """byte -> stand-in character map (cached; pure function)."""
    global _B2U
    if _B2U is None:
        bs = (
            list(range(33, 127))
            + list(range(161, 173))
            + list(range(174, 256))
        )
        cs = bs[:]
        n = 0
        for b in range(256):
            if b not in bs:
                bs.append(b)
                cs.append(256 + n)
                n += 1
        _B2U = dict(zip(bs, (chr(c) for c in cs)))
    return _B2U


def unicode_to_bytes() -> dict[str, int]:
    """Inverse of :func:`bytes_to_unicode` (cached)."""
    global _U2B
    if _U2B is None:
        _U2B = {c: b for b, c in bytes_to_unicode().items()}
    return _U2B


def byte_map_word(word: str) -> list[str]:
    """A word's UTF-8 bytes as the byte-level symbol list — the
    byte-level counterpart of the char split."""
    b2u = bytes_to_unicode()
    return [b2u[b] for b in word.encode("utf-8")]


def byte_decode(token: str) -> str:
    """Mapped-symbol token back to text (UTF-8; replacement char on
    byte sequences that a merge boundary split mid-codepoint)."""
    u2b = unicode_to_bytes()
    return bytes(u2b[c] for c in token).decode("utf-8", errors="replace")


def _chars(col):
    """Single-character symbol array of a word, split by CODEPOINT:
    Java regex ``.`` consumes a full code point (surrogate pairs
    stay together), matching the DuckDB oracles' ``regexp_extract_all
    (word, '.')`` and Python's ``tuple(word)`` in ``train_local`` —
    ``F.split(col, '')`` would cut non-BMP characters into surrogate
    halves. ``(?s)`` so the U+0085/U+2028/U+2029 line separators
    (not in WS_CLASS, so they can appear inside words) are kept, as
    RE2's ``.`` keeps them."""
    return F.regexp_extract_all(col, F.lit("(?s)."), 0)


class BPE:
    # ---------------------------------------------------------- corpus
    @staticmethod
    def word_vocab(
        docs: DataFrame, text_col: str = "text"
    ) -> DataFrame:
        """(word, n) whitespace-word counts over the corpus — the ONE
        corpus-sized pass of BPE training; everything after operates
        on this Heaps-small relation."""
        words = docs.select(
            F.explode(
                F.filter(
                    F.split(F.col(text_col), WS_CLASS),
                    lambda t: F.length(t) > 0,
                )
            ).alias("word")
        )
        return words.groupBy("word").agg(F.count("*").cast("long").alias("n"))

    @staticmethod
    def pair_counts(vocab_syms: DataFrame) -> DataFrame:
        """(left, right, n) adjacent-symbol pair counts over a
        (word, n, syms) vocabulary state — the per-iteration counting
        relation (one explode + one hash aggregate, keyed shuffle
        only)."""
        pairs = vocab_syms.select(
            "n",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(
                        a.alias("left"), b.alias("right")
                    ),
                )
            ).alias("p"),
        )
        return pairs.groupBy("p.left", "p.right").agg(
            F.sum("n").cast("long").alias("n")
        )

    # ------------------------------------------------------- training
    @staticmethod
    def _select_batch(
        pairs: list[tuple[str, str, int]],
        complete: bool,
        batch_pairs: int,
        remaining: int,
        merged_seen: set[str],
        min_count: int,
    ) -> list[tuple[str, str, int]]:
        """Pick a batch of merges from ONE pair-count pass that is
        PROVABLY equal to applying them one-at-a-time with a recount
        between (the sequential trainer) — the standard jobs-per-merge
        reduction, made exact:

        * accept a PREFIX of the (count desc, left, right)-sorted pair
          list, stopping at the first pair that (a) shares a symbol
          with an accepted pair — merging changes overlapping pairs'
          counts — or (b) falls below ``min_count``, or (c) whose
          merged string re-creates an EXISTING merged symbol — then
          the 'new' pairs around it are existing pairs whose counts
          can INCREASE (e.g. merging (b,c) when 'bc' already exists
          boosts (a,bc)), breaking every bound. Base symbols are
          single codepoints and merges are >= 2, so only previously
          merged strings can collide.
        * a SELF-pair (left == right) ends the batch after itself:
          merging (b,b) creates pairs like (bb,bb) whose pre-image is
          (b,b) ITSELF, so their counts are bounded by the accepted
          pair's count (~half of it), not by the stop level — they
          can legitimately outrank later batch members (a run of six
          b's yields (bb,bb) counts above a disjoint (a,a)).
        * truncate the accepted prefix to counts STRICTLY above the
          first OVERLAPPING pair's count (the scan for it continues
          past the acceptance stop): pairs newly created by an
          applied non-self merge are bounded by SOME original pair
          overlapping the accepted set (pre-image argument:
          (x,m)<-(x,l), (m,y)<-(r,y), (m,m)<-(r,l)), and the first
          such pair in sort order carries the max overlapping count —
          strict dominance kills the one remaining failure mode, a
          tie between a new pair and a later batch member that the
          (left, right) tie-break can resolve the other way (new
          pair (m,y): m = l+r can sort BEFORE an accepted pair even
          though (r,y) sorts after it). Ties with NON-accepted
          ORIGINAL pairs are safe without truncation: they rank
          after every accepted pair (prefix property), so the
          deterministic tie-break keeps picking the accepted one.
        * if truncation empties the batch, fall back to the single
          top pair — literally the sequential step, always sound.

        Disjoint-prefix pairs' counts are mutually unaffected (merging
        (a,b) only changes counts of pairs touching a or b), ties
        WITHIN the batch keep their original sort order, and all
        non-accepted + new pairs sit strictly below every kept count —
        so the sequential trainer provably picks exactly these pairs
        in exactly this order. Property-tested against the sequential
        trainer over randomized corpora (tests/test_bpe.py)."""
        accepted: list[tuple[str, str, int]] = []
        used: set[str] = set()
        batch_merged: set[str] = set()
        cap = min(int(batch_pairs), int(remaining))
        n_stop = None
        accepting = True
        for left, right, n in pairs:
            if n < int(min_count):
                # everything from here down is below min_count;
                # neither the sequential trainer nor any new pair
                # derived from it (count <= pre-image count) can be
                # picked ahead of the accepted pairs
                break
            overlaps = left in used or right in used
            if overlaps:
                # first overlap = the max count among pairs touching
                # the accepted set = the bound on every new pair an
                # accepted merge can create; acceptance is over AND
                # the truncation level is known
                n_stop = n
                break
            if accepting and (
                len(accepted) >= cap
                or (left + right) in merged_seen
                or (left + right) in batch_merged
                # defensive: an operand equal to a THIS-batch merged
                # string cannot appear in pre-batch counts (the
                # symbol doesn't exist yet), but guard anyway
                or left in batch_merged
                or right in batch_merged
            ):
                # acceptance must stay a PREFIX (a skipped pair would
                # outrank later accepts sequentially) — stop
                # accepting, keep scanning for the first overlap
                accepting = False
            if accepting:
                accepted.append((left, right, n))
                used.add(left)
                used.add(right)
                batch_merged.add(left + right)
                if left == right:
                    accepting = False
        if n_stop is None and not complete:
            # the unseen tail may contain an overlapping pair tying
            # the last collected count — be conservative
            n_stop = pairs[-1][2] if pairs else None
        if n_stop is not None:
            kept = [p for p in accepted if p[2] > n_stop]
        else:
            kept = accepted
        if not kept and pairs:
            # singleton = the plain sequential step, sound regardless
            # of collisions/ties (and the top pair CAN conflict on its
            # own, e.g. ('a','bc') re-creating an earlier ('ab','c')
            # merge's string — sequential just applies it)
            kept = pairs[:1]
        return kept

    @staticmethod
    def _merge_batch_expr(syms, pairs: list[tuple[str, str]]):
        """One left-to-right pass applying a WHOLE batch of
        symbol-disjoint merges, as a single fold with a map lookup —
        constant expression DEPTH in the batch size (composing
        :meth:`_merge_expr` per pair nests N aggregates and stalls
        Catalyst analysis at real batch sizes).

        Equal to applying the pairs' passes sequentially BECAUSE the
        batch invariants hold: (1) pairs are symbol-disjoint, so one
        pair's rewrite never creates or destroys another's matches —
        match regions can't even touch (adjacent matches would share
        the boundary symbol); (2) no merged output is another batch
        pair's operand (operands exist in the pre-batch state; merged
        outputs are fresh — _select_batch rejects recreations of
        existing symbols), so a merge result can never chain into a
        further batch merge within the pass. The map key is a struct,
        so symbols containing any characters are collision-free."""
        if len(pairs) == 1:
            return BPE._merge_expr(syms, pairs[0][0], pairs[0][1])
        lookup = F.map_from_arrays(
            F.array(
                *[
                    F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                    for a, b in pairs
                ]
            ),
            F.array(*[F.lit(a + b) for a, b in pairs]),
        )
        head = F.slice(syms, 1, 1)
        tail = F.slice(syms, 2, F.size(syms) - 1)

        def step(acc, x):
            hit = F.element_at(
                lookup,
                F.struct(
                    F.element_at(acc, -1).alias("a"), x.alias("b")
                ),
            )
            return F.when(
                hit.isNotNull(),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(hit)
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return F.when(F.size(syms) < 2, syms).otherwise(
            F.aggregate(tail, head, step)
        )

    @staticmethod
    def _apply_ranked_passes(
        syms: list, rank_of: dict[tuple[str, str], int]
    ) -> list:
        """Replay a merge table over one word's symbols EXACTLY as the
        training loop would have evolved them: merges apply in rank
        order, each as ONE left-to-right non-overlapping pass, and a
        pair re-exposed AFTER its rank has passed stays unmerged (the
        training state never revisits earlier ranks — this is where
        the priority encoder :meth:`_encode_word` legitimately
        differs, so resume must NOT use it).

        Simulation: track the last applied rank (``time``); repeatedly
        apply the minimum-rank adjacent pair with rank > time. Between
        two firings no other merge touches the word, so skipping the
        non-firing ranks is exact. O(firings × len) per word, and
        firings ≤ len(syms) - 1."""
        time = -1
        while len(syms) > 1:
            best = None
            best_pair = None
            for i in range(len(syms) - 1):
                r = rank_of.get((syms[i], syms[i + 1]))
                if r is not None and r > time and (
                    best is None or r < best
                ):
                    best, best_pair = r, (syms[i], syms[i + 1])
            if best is None:
                break
            left, right = best_pair
            merged = left + right
            out: list = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            time = best
        return syms

    @staticmethod
    def _merge_expr(syms, left: str, right: str):
        """One left-to-right non-overlapping merge pass over a symbol
        array, as a pure column expression (sequential fold — correct
        for overlapping candidates like (a,a) on 'aaa': the merged
        output never re-matches within the pass)."""
        merged = left + right
        head = F.slice(syms, 1, 1)
        tail = F.slice(syms, 2, F.size(syms) - 1)
        step = lambda acc, x: F.when(  # noqa: E731
            (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))
        return F.when(F.size(syms) < 2, syms).otherwise(
            F.aggregate(tail, head, step)
        )

    @staticmethod
    def _init_state(
        vocab: DataFrame, byte_level: bool = False
    ) -> DataFrame:
        """Initial (word, n, syms) training state. Char-level splits
        with a column expression; byte-level maps each word's UTF-8
        bytes to the stand-in alphabet in Arrow-batched mapInPandas —
        over the VOCAB relation (Heaps-small), never the corpus, so
        the Python hop costs vocab rows, not data rows."""
        if not byte_level:
            return vocab.select(
                "word", "n", _chars(F.col("word")).alias("syms")
            )

        def run(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "word": pdf["word"],
                        "n": pdf["n"],
                        "syms": [byte_map_word(w) for w in pdf["word"]],
                    }
                )

        return vocab.select("word", "n").mapInPandas(
            run, schema="word string, n long, syms array<string>"
        )

    @staticmethod
    def train(
        docs: DataFrame,
        num_merges: int,
        text_col: str = "text",
        min_count: int = DEFAULT_MIN_COUNT,
        byte_level: bool = False,
        batch_pairs: int = 1,
        resume_merges: list[tuple[int, str, str]] | None = None,
    ) -> DataFrame:
        """Learn up to ``num_merges`` merges; returns the merge table
        (rank, left, right, merged) with rank 1 = first/most-frequent.
        Stops early when no pair reaches ``min_count``.
        ``byte_level=True`` trains over UTF-8 byte symbols in the
        stand-in alphabet (:func:`bytes_to_unicode`) instead of
        characters — the production convention that makes every input
        encodable with zero unknowns.

        Each iteration: one pair-count aggregate (a bounded top-K
        collect — driver-scalar class, like a purging threshold) and
        one symbol-rewrite projection, with the vocab state re-pinned
        by a lazy localCheckpoint that the next pair count writes.

        ``batch_pairs``: apply up to N merges per iteration — the
        SAME merge table as one-at-a-time (see :meth:`_select_batch`
        for the exactness argument), at ~2·k/N Spark jobs instead of
        2·k. This is what makes real merge budgets trainable
        distributed: the per-merge cost becomes one WHEN-branch in a
        shared rewrite pass instead of a full job round-trip. Batches
        shrink automatically (to singletons in the worst case) when
        the top pairs interact, so correctness never depends on the
        corpus.

        ``resume_merges``: continue an interrupted run from its saved
        merge table — a list of (rank, left, right) with contiguous
        ranks 1..k. The initial vocab state is replayed through the
        given merges with :meth:`_apply_ranked_passes` (one Arrow
        mapInPandas pass over the Heaps-small vocab — NOT the corpus),
        which reproduces the training-state evolution exactly, so
        ``train(D, n)`` equals ``train(D, n, resume_merges=m_k)`` for
        any prefix ``m_k`` of its own merges (property-tested in
        tests/test_bpe.py)."""
        spark = docs.sparkSession
        state = BPE._init_state(
            BPE.word_vocab(docs, text_col), byte_level=byte_level
        )
        merges: list[tuple[int, str, str, str]] = []
        merged_seen: set[str] = set()
        num_merges = int(num_merges)
        batch_pairs = max(1, int(batch_pairs))
        if resume_merges:
            ordered = sorted(
                (int(k), str(l), str(r)) for k, l, r in resume_merges
            )
            if [k for k, _, _ in ordered] != list(
                range(1, len(ordered) + 1)
            ):
                raise ValueError(
                    "resume_merges ranks must be contiguous 1..k"
                )
            rank_of = {(l, r): k for k, l, r in ordered}

            def replay(batches):
                import pandas as pd

                for pdf in batches:
                    yield pd.DataFrame(
                        {
                            "word": pdf["word"],
                            "n": pdf["n"],
                            "syms": [
                                BPE._apply_ranked_passes(
                                    list(s), rank_of
                                )
                                for s in pdf["syms"]
                            ],
                        }
                    )

            state = state.mapInPandas(
                replay, schema="word string, n long, syms array<string>"
            )
            merges = [(k, l, r, l + r) for k, l, r in ordered]
            merged_seen = {l + r for _, l, r in ordered}
        state = state.localCheckpoint(eager=False)
        while len(merges) < num_merges:
            top_k = max(8, 4 * batch_pairs)
            top = (
                BPE.pair_counts(state)
                .orderBy(
                    F.col("n").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(top_k)
                .collect()
            )
            if not top or top[0]["n"] < int(min_count):
                break
            kept = BPE._select_batch(
                [(r["left"], r["right"], r["n"]) for r in top],
                complete=len(top) < top_k,
                batch_pairs=batch_pairs,
                remaining=num_merges - len(merges),
                merged_seen=merged_seen,
                min_count=min_count,
            )
            for left, right, _n in kept:
                merges.append(
                    (len(merges) + 1, left, right, left + right)
                )
                merged_seen.add(left + right)
            state = state.withColumn(
                "syms",
                BPE._merge_batch_expr(
                    F.col("syms"), [(l, r) for l, r, _ in kept]
                ),
            ).localCheckpoint(eager=False)
        return spark.createDataFrame(
            merges, "rank int, left string, right string, merged string"
        )

    # collecting an unbounded relation to the driver is the engine's
    # one forbidden move; the local fast path therefore refuses
    # vocabularies beyond an explicit cap instead of silently OOMing
    LOCAL_VOCAB_CAP = 2_000_000

    @staticmethod
    def train_local(
        docs: DataFrame,
        num_merges: int,
        text_col: str = "text",
        min_count: int = DEFAULT_MIN_COUNT,
        vocab_cap: int = LOCAL_VOCAB_CAP,
        byte_level: bool = False,
        batch_pairs: int = 1,
    ) -> DataFrame:
        """The classic in-memory trainer over the collected word
        vocabulary — identical merges to :meth:`train` (property-
        tested), at one corpus pass + one collect instead of 2 jobs
        per merge. The collect is guarded: more than ``vocab_cap``
        distinct words raises instead of flooding the driver (Heaps'
        law keeps real corpora far below the default cap; raise it
        explicitly on a machine sized for it). ``batch_pairs`` runs
        the SAME batch selection as the distributed trainer
        (:meth:`_select_batch`) — here it only skips recounts, but it
        makes the batching logic property-testable in pure Python
        against the one-at-a-time default."""
        spark = docs.sparkSession
        vocab_df = BPE.word_vocab(docs, text_col)
        n_vocab = vocab_df.count()
        if n_vocab > int(vocab_cap):
            raise ValueError(
                f"word vocabulary has {n_vocab} rows > vocab_cap="
                f"{vocab_cap}; use BPE.train (distributed) or raise the"
                " cap explicitly"
            )
        vocab = {
            r["word"]: r["n"] for r in vocab_df.collect()
        }
        state = {
            w: tuple(byte_map_word(w)) if byte_level else tuple(w)
            for w in vocab
        }
        merges: list[tuple[int, str, str, str]] = []
        merged_seen: set[str] = set()
        num_merges = int(num_merges)
        batch_pairs = max(1, int(batch_pairs))
        while len(merges) < num_merges:
            counts: dict[tuple[str, str], int] = {}
            for w, syms in state.items():
                c = vocab[w]
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + c
            if not counts:
                break
            # (count desc, left asc, right asc) — the trainer's
            # deterministic selection order
            ordered = sorted(
                ((l, r, n) for (l, r), n in counts.items()),
                key=lambda p: (-p[2], p[0], p[1]),
            )
            if ordered[0][2] < int(min_count):
                break
            kept = BPE._select_batch(
                ordered,
                complete=True,
                batch_pairs=batch_pairs,
                remaining=num_merges - len(merges),
                merged_seen=merged_seen,
                min_count=min_count,
            )
            for left, right, _n in kept:
                merges.append(
                    (len(merges) + 1, left, right, left + right)
                )
                merged_seen.add(left + right)
                new_state = {}
                for w, syms in state.items():
                    out = []
                    i = 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    new_state[w] = tuple(out)
                state = new_state
        return spark.createDataFrame(
            merges, "rank int, left string, right string, merged string"
        )

    @staticmethod
    def train_incremental(
        docs: DataFrame,
        num_merges: int,
        text_col: str = "text",
        min_count: int = DEFAULT_MIN_COUNT,
        vocab_cap: int = LOCAL_VOCAB_CAP,
        byte_level: bool = False,
        observer=None,
    ) -> DataFrame:
        """The PRODUCTION merge-budget trainer: one distributed
        corpus pass (:meth:`word_vocab`, the only corpus-sized job),
        then an in-memory merge loop with INCREMENTAL pair-count
        maintenance — a lazy max-heap over pair counts plus a
        pair→words occurrence index, so each merge costs
        O(words containing the pair), not O(vocabulary) like
        :meth:`train_local`'s full recount and not two Spark jobs
        like :meth:`train`. This is the architecture real tokenizer
        trainers use (HuggingFace tokenizers, SentencePiece): Heaps'
        law keeps the word-count relation driver-sized even at
        100 TB of corpus — scale lives in the ONE corpus pass, which
        Spark does distributed; the 32k merge loop is not a
        distributed problem and pretending it is costs 2 scheduler
        round-trips per ~1.4 merges (measured, SCALING.md round 11).

        IDENTICAL merge tables to :meth:`train` / :meth:`train_local`
        (property-tested, plus a 11,947-merge prefix-equality witness
        against the distributed production run in SCALING.md): the
        selection rule is the same sequential maximum by
        (count desc, left asc, right asc) with the same ``min_count``
        floor, and the rewrite is the same single left-to-right
        non-overlapping pass. The lazy heap preserves that order
        exactly — every count change pushes a fresh entry and stale
        entries are discarded on pop by comparing against the live
        count, so the heap top is always the true current maximum
        under the exact tie-break.

        ``observer``: optional callable(merge_rank, left, right,
        count) invoked per learned merge — the trajectory/durability
        hook for production runners (tools/train_bpe_32k.py's
        checkpoint protocol)."""
        import heapq
        from collections import Counter

        spark = docs.sparkSession
        vocab_df = BPE.word_vocab(docs, text_col)
        n_vocab = vocab_df.count()
        if n_vocab > int(vocab_cap):
            raise ValueError(
                f"word vocabulary has {n_vocab} rows > vocab_cap="
                f"{vocab_cap}; raise the cap explicitly on a driver"
                " sized for it"
            )
        rows = vocab_df.collect()
        words: list[tuple[str, ...]] = []
        wcount: list[int] = []
        for r in rows:
            words.append(
                tuple(byte_map_word(r["word"]))
                if byte_level
                else tuple(r["word"])
            )
            wcount.append(int(r["n"]))

        def word_pairs(syms: tuple) -> Counter:
            return Counter(zip(syms, syms[1:]))

        pc: dict[tuple[str, str], int] = {}
        occ: dict[tuple[str, str], set[int]] = {}
        for wi, syms in enumerate(words):
            c = wcount[wi]
            for p, k in word_pairs(syms).items():
                pc[p] = pc.get(p, 0) + k * c
                occ.setdefault(p, set()).add(wi)
        heap: list[tuple[int, str, str]] = [
            (-n, p[0], p[1]) for p, n in pc.items()
        ]
        heapq.heapify(heap)

        merges: list[tuple[int, str, str, str]] = []
        num_merges = int(num_merges)
        min_count = int(min_count)
        while len(merges) < num_merges:
            # lazy pop: discard entries whose count is stale
            best = None
            while heap:
                negn, hl, hr = heap[0]
                if pc.get((hl, hr)) == -negn:
                    best = (hl, hr, -negn)
                    break
                heapq.heappop(heap)
            if best is None or best[2] < min_count:
                break
            left, right, _n = best
            heapq.heappop(heap)  # its count is about to change
            merged = left + right
            merges.append((len(merges) + 1, left, right, merged))
            changed: set[tuple[str, str]] = set()
            for wi in sorted(occ.get((left, right), ())):
                syms = words[wi]
                c = wcount[wi]
                old = word_pairs(syms)
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_syms = tuple(out)
                new = word_pairs(new_syms)
                words[wi] = new_syms
                for p, k in old.items():
                    if p not in new:
                        occ[p].discard(wi)
                for p in new:
                    occ.setdefault(p, set()).add(wi)
                for p in old.keys() | new.keys():
                    d = (new.get(p, 0) - old.get(p, 0)) * c
                    if d:
                        pc[p] = pc.get(p, 0) + d
                        changed.add(p)
            for p in changed:
                n = pc.get(p, 0)
                if n <= 0:
                    pc.pop(p, None)
                    occ.pop(p, None)
                else:
                    heapq.heappush(heap, (-n, p[0], p[1]))
            if observer is not None:
                observer(len(merges), left, right, _n)
        return spark.createDataFrame(
            merges, "rank int, left string, right string, merged string"
        )

    # ------------------------------------------------------- encoding
    @staticmethod
    def _encode_word(
        word: str,
        rank_of: dict[tuple[str, str], int],
        byte_level: bool = False,
    ):
        """Standard priority encode of one word: repeatedly merge the
        LOWEST-RANK applicable pair (all its occurrences, left to
        right) until none applies — the exact encoder trained merges
        assume (rank order alone can miss pairs re-exposed by later
        merges). Byte-level starts from the word's mapped UTF-8 byte
        symbols instead of its characters."""
        syms = byte_map_word(word) if byte_level else list(word)
        while len(syms) > 1:
            best_rank = None
            best_pair = None
            for i in range(len(syms) - 1):
                r = rank_of.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (syms[i], syms[i + 1])
            if best_pair is None:
                break
            left, right = best_pair
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    @staticmethod
    def encode(
        docs: DataFrame,
        merges: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        byte_level: bool = False,
    ) -> DataFrame:
        """(doc_id, tokens, n_tokens) — corpus tokenized under the
        merge table. The merge table is the MODEL: bounded by
        num_merges, collected once and shipped inside the Arrow-batched
        closure (same bounded-broadcast discipline as the threshold
        scalars). Per-batch word cache: Zipf makes distinct words per
        batch a small fraction of tokens. ``byte_level`` must match
        how the merges were trained; byte-level tokens are strings in
        the stand-in alphabet (:func:`byte_decode` inverts them)."""
        rank_of = {
            (r["left"], r["right"]): r["rank"]
            for r in merges.select("rank", "left", "right").collect()
        }
        # the output schema carries the INPUT id type — a string or
        # int id column flows through unchanged instead of being
        # silently coerced to long inside mapInPandas
        id_type = docs.schema[id_col].dataType.simpleString()
        base = docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
        )

        def run(batches):
            import re

            import pandas as pd

            ws = re.compile("[ \t\r\n\f\x0B]+")  # == WS_CLASS
            cache: dict[str, list[str]] = {}

            def enc(text):
                if text is None:
                    return []
                out = []
                for w in ws.split(text):
                    if not w:
                        continue
                    hit = cache.get(w)
                    if hit is None:
                        hit = BPE._encode_word(
                            w, rank_of, byte_level=byte_level
                        )
                        cache[w] = hit
                    out.extend(hit)
                return out

            for pdf in batches:
                toks = [enc(t) for t in pdf["_text"]]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "tokens": toks,
                        "n_tokens": [len(t) for t in toks],
                    }
                )

        return base.mapInPandas(
            run,
            schema=(
                f"doc_id {id_type}, tokens array<string>, n_tokens long"
            ),
        )


class BPEVocab:
    """Deterministic token-id assignment over a trained merge table:
    base single-character symbols (from the corpus, sorted) get ids
    0..C-1, merged symbols follow in merge-rank order C..C+k-1 — the
    id layout every BPE implementation ships alongside its merges.
    """

    @staticmethod
    def build(
        docs: DataFrame,
        merges: DataFrame,
        text_col: str = "text",
        byte_level: bool = False,
    ) -> DataFrame:
        """(token, token_id) vocabulary. Base characters come from the
        corpus word set (one pass + distinct, sorted for determinism);
        the merged symbols append in rank order. Sorting a relation of
        |charset| + num_merges rows is driver-trivial at any corpus
        size — the vocab is the model, not the data.

        ``byte_level=True`` replaces the corpus charset with the FIXED
        256-symbol byte alphabet: symbol for byte ``b`` gets id ``b``
        (0..255), merges follow at 256+rank-1, and NO corpus pass is
        needed at all. Because every possible byte is in the base
        vocabulary, :meth:`encode_ids` over byte-level encodings can
        never emit ``unk_id`` — any input tokenizes to known ids."""
        if byte_level:
            spark = docs.sparkSession
            b2u = bytes_to_unicode()
            base = spark.createDataFrame(
                [(b2u[b], b) for b in range(256)],
                "token string, token_id long",
            )
            merged = merges.select(
                F.col("merged").alias("token"),
                (F.col("rank").cast("long") - 1 + F.lit(256)).alias(
                    "token_id"
                ),
            )
            return (
                base.unionByName(merged)
                .groupBy("token")
                .agg(F.min("token_id").alias("token_id"))
                .localCheckpoint(eager=False)
            )
        chars = (
            BPE.word_vocab(docs, text_col)
            .select(F.explode(_chars(F.col("word"))).alias("token"))
            .distinct()
        )
        n_chars = chars.count()
        from sparker_spark import ranking

        base = ranking.global_rank(chars, ["token"], out="token_id")
        merged = merges.select(
            F.col("merged").alias("token"),
            (F.col("rank").cast("long") - 1 + F.lit(n_chars)).alias(
                "token_id"
            ),
        )
        # the vocab is model-sized and every encode_ids call joins to
        # it, so it is materialized once, as on the byte-level path.
        # Distinct merges can concatenate to the SAME string (('a','bc')
        # and ('ab','c') both yield 'abc') — encode_ids joins on token,
        # so duplicate token rows would duplicate positions; keep ONE
        # row per token (the lowest id, i.e. the earliest rank)
        return (
            base.select("token", "token_id")
            .unionByName(merged)
            .groupBy("token")
            .agg(F.min("token_id").alias("token_id"))
            .localCheckpoint(eager=False)
        )

    @staticmethod
    def encode_ids(
        encoded: DataFrame,
        vocab: DataFrame,
        unk_id: int = -1,
    ) -> DataFrame:
        """(doc_id, token_ids, n_tokens) from a ``BPE.encode`` output
        and a vocabulary: positional explode, one keyed join to the
        vocab (auto-broadcast — the vocab is model-sized), reassemble
        in position order. Tokens absent from the vocabulary (unseen
        base characters at inference time) map to ``unk_id``. Rows
        with zero tokens yield empty arrays."""
        pos = encoded.select(
            "doc_id",
            F.posexplode_outer("tokens").alias("pos", "token"),
        )
        mapped = pos.join(F.broadcast(vocab), "token", "left").select(
            "doc_id",
            "pos",
            F.when(F.col("pos").isNull(), None)
            .otherwise(
                F.coalesce(
                    F.col("token_id"), F.lit(int(unk_id)).cast("long")
                )
            )
            .alias("tid"),
        )
        # tid is NULL only on the posexplode_outer placeholder row of a
        # zero-token document — filter it so such docs get [] not [null]
        return mapped.groupBy("doc_id").agg(
            F.filter(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tid"))
                    ),
                    lambda s: s["tid"],
                ),
                lambda x: x.isNotNull(),
            ).alias("token_ids"),
        ).select(
            "doc_id",
            "token_ids",
            F.size("token_ids").cast("long").alias("n_tokens"),
        )


class BPEModel:
    """Persistence for a trained tokenizer: the merge table and the
    id vocabulary written as ordinary parquet — the model artifact a
    pretraining pipeline versions alongside its data recipe. Parquet
    (not a sidecar text format) so the serving job reads it with the
    same partition-pruned scan machinery as everything else."""

    @staticmethod
    def write(path: str, merges: DataFrame, vocab: DataFrame | None = None) -> None:
        # repartition(1) is deliberate: the merge table / vocab are
        # MODEL-sized (bounded by num_merges + charset), and a model
        # artifact should be one file — this is not the
        # single-partition-write smell it would be on a data relation
        merges.repartition(1).write.mode("overwrite").parquet(
            f"{path}/merges.parquet"
        )
        if vocab is not None:
            vocab.repartition(1).write.mode("overwrite").parquet(
                f"{path}/vocab.parquet"
            )

    @staticmethod
    def read_merges(spark, path: str) -> DataFrame:
        return spark.read.parquet(f"{path}/merges.parquet")

    @staticmethod
    def read_vocab(spark, path: str) -> DataFrame:
        return spark.read.parquet(f"{path}/vocab.parquet")


class BPEEval:
    """Tokenizer evaluation: the corpus-level statistics every
    tokenizer choice is judged by (fertility = tokens per word,
    compression = chars per token, single-token word coverage), per
    group (typically language — multilingual tokenizer fairness is
    exactly a per-language fertility comparison)."""

    @staticmethod
    def fertility(
        documents: DataFrame,
        merges: DataFrame,
        group_col: str = "lang",
        text_col: str = "text",
        byte_level: bool = False,
    ) -> DataFrame:
        """(group, n_words, n_tokens, fertility, chars_per_token,
        pct_single_token): encode each DISTINCT word once (the
        Heaps-small model relation — never the corpus) and weight by
        per-group word counts. Plan: one corpus word-count aggregate
        (keyed shuffle), one distinct-word encode (mapInPandas over
        vocab rows), one join + one group aggregate."""
        words = documents.select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.filter(
                    F.split(F.col(text_col), WS_CLASS),
                    lambda t: F.length(t) > 0,
                )
            ).alias("word"),
        ).groupBy("grp", "word").agg(F.count("*").cast("long").alias("n"))
        distinct_words = words.select("word").distinct()
        enc = BPE.encode(
            distinct_words,
            merges,
            text_col="word",
            id_col="word",
            byte_level=byte_level,
        ).select(
            F.col("doc_id").alias("word"),
            F.col("n_tokens").alias("w_tokens"),
        )
        per_word = words.join(enc, "word").select(
            "grp",
            "n",
            "w_tokens",
            F.length("word").cast("long").alias("w_chars"),
        )
        return per_word.groupBy("grp").agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("w_tokens")).cast("long").alias(
                "n_tokens"
            ),
            rnd(
                F.sum(F.col("n") * F.col("w_tokens"))
                / F.sum("n").cast("double"),
                6,
            ).alias("fertility"),
            rnd(
                F.sum(F.col("n") * F.col("w_chars"))
                / F.sum(F.col("n") * F.col("w_tokens")).cast("double"),
                6,
            ).alias("chars_per_token"),
            rnd(
                F.sum(
                    F.when(F.col("w_tokens") == 1, F.col("n")).otherwise(
                        F.lit(0)
                    )
                )
                / F.sum("n").cast("double"),
                6,
            ).alias("pct_single_token"),
        ).withColumnRenamed("grp", group_col)
