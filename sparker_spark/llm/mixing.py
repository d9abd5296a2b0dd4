"""Token-budget corpus mixing — the "data recipe" step of a
pretraining pipeline: given per-source mix weights and a total token
budget, compute per-source sampling rates and draw a deterministic
document sample that realizes the recipe.

Matches how production pretraining mixes are specified (weights over
sources/domains + a token budget, e.g. "books 10%, web 60%, code 30%
of 1T tokens"): the planner turns (weights, budget) into per-source
keep-rates against the AVAILABLE token mass, capped at 1.0 (a source
cannot contribute more than it has — the standard under-supply
behavior; re-normalizing the shortfall onto other sources is a policy
choice left to the caller, who can read the gap off the plan).

Sampling is the engine's deterministic hash-coordinate idiom
(llm/sampling.py): a document is kept iff its [0,1) md5-coordinate is
below its source's rate — a pure function of (seed, doc_id), so the
sample is reproducible by any engine, stable under repartitioning, and
the DuckDB oracle replays it bit-for-bit. Expected sampled tokens per
source = rate · available (binomial concentration makes the
realized/target gap vanish at corpus scale; the plan reports targets,
the sample is exact about membership).

Plan shape: one pass for per-document counts, one hash aggregate for
per-source totals (20-ish rows — auto-broadcast back onto documents),
one filter. No windows, no driver state beyond the weights dict the
caller supplies.

No reference counterpart — extends the engine per the
training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.llm.sampling import Sampling


def _doc_counts(
    docs: DataFrame,
    text_col: str,
    source_col: str,
    id_col: str,
    counts_col: str | None,
) -> DataFrame:
    from sparker_spark.llm.bpe import WS_CLASS

    if counts_col is not None:
        n = F.coalesce(F.col(counts_col).cast("long"), F.lit(0))
    else:
        # explicit whitespace class (WS_CLASS), not \s: Java regex
        # counts \x0B as whitespace, RE2/DuckDB does not — the oracle
        # replays the same class
        n = F.size(
            F.coalesce(
                F.filter(
                    F.split(F.col(text_col), WS_CLASS),
                    lambda t: F.length(t) > 0,
                ),
                F.array().cast("array<string>"),
            )
        ).cast("long")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        n.alias("n"),
    )


def _normalized(weights: dict[str, float]) -> dict[str, float]:
    if not weights:
        raise ValueError("weights must be a non-empty dict")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    total = float(sum(weights[k] for k in sorted(weights)))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    return {k: float(weights[k]) / total for k in sorted(weights)}


class MixPlanner:
    @staticmethod
    def _plan_from_counts(
        counts: DataFrame, weights: dict[str, float], budget: int
    ) -> DataFrame:
        wn = _normalized(weights)
        totals = counts.groupBy("source").agg(
            F.sum("n").cast("long").alias("available_tokens")
        )
        w_expr = F.lit(0.0)
        for s, w in wn.items():
            w_expr = F.when(F.col("source") == s, F.lit(w)).otherwise(w_expr)
        target = F.lit(float(int(budget))) * w_expr
        rate = F.when(
            (F.col("available_tokens") > 0) & (target > 0),
            F.least(F.lit(1.0), target / F.col("available_tokens")),
        ).otherwise(F.lit(0.0))
        return totals.select(
            "source",
            "available_tokens",
            target.alias("target_tokens"),
            rate.alias("rate"),
        )

    @staticmethod
    def _water_fill(
        totals: list[tuple[str, int]],
        wn: dict[str, float],
        budget: int,
    ) -> dict[str, tuple[float, float]]:
        """Closed-form water-filling: spread under-supplied sources'
        unmet budget over the uncapped sources, proportionally to
        weight — the standard renormalization of a token-budget mix.

        The water level theta solves sum_s min(avail_s, theta·w_s) =
        B: sort sources by fill level r_s = avail_s/w_s ascending;
        the capped set is the shortest prefix (possibly empty) whose
        candidate level theta_k = (B - sum_capped avail) /
        (sum_uncapped w) satisfies theta_k <= r of the first uncapped
        source. Cascades (capping one source raises theta and caps
        the next) are exactly what the prefix walk enumerates.

        Returns source -> (renorm_target, renorm_rate); capped
        sources take everything (rate 1.0), zero-weight/zero-avail
        sources take nothing. Weight prefix sums follow the engine's
        cross-engine float rule (round per-term to 12 decimals via
        the floor formula, then sum EXACTLY as integers — float
        accumulation order differs between engines; integer sums are
        order-free), so the SQL oracle reaches bit-identical water
        levels."""
        import math

        rows = sorted(
            (int(avail) / wn[s], s, int(avail))
            for s, avail in totals
            if wn.get(s, 0.0) > 0.0
        )
        budget_f = float(int(budget))
        theta_star = None
        k_star = len(rows)
        # quantized weights (floor(w·1e12 + 0.5), the rnd formula):
        # exclusive integer prefixes in sort order
        wq = {s: math.floor(wn[s] * 1e12 + 0.5) for _r, s, _a in rows}
        a_run, p_run = 0, 0
        prefixes = []
        for r, s, avail in rows:
            prefixes.append((a_run, p_run))
            a_run += avail
            p_run += wq[s]
        w_total = p_run
        for k, (r, s, avail) in enumerate(rows):
            a_prev, p_prev = prefixes[k]
            denom = float(w_total - p_prev) / 1e12
            if denom <= 0.0:
                # the remaining suffix's weights all quantize to 0
                # (< ~5e-13 normalized): the water level is +inf and
                # everything left caps — the SQL oracle's x/0.0 = inf
                # reaches the same all-capped fixed point
                break
            theta = (budget_f - float(a_prev)) / denom
            if theta <= r:
                theta_star, k_star = theta, k
                break
        out: dict[str, tuple[float, float]] = {}
        for s, avail in totals:
            if wn.get(s, 0.0) <= 0.0 or int(avail) <= 0:
                out[s] = (0.0, 0.0)
        for k, (r, s, avail) in enumerate(rows):
            if s in out:
                continue
            if k < k_star:
                out[s] = (float(avail), 1.0)
            else:
                t = theta_star * wn[s]
                out[s] = (t, t / float(avail))
        return out

    @staticmethod
    def budget_plan(
        docs: DataFrame,
        weights: dict[str, float],
        budget: int,
        text_col: str = "text",
        source_col: str = "source",
        id_col: str = "doc_id",
        counts_col: str | None = None,
        renormalize: bool = False,
    ) -> DataFrame:
        """The mix plan: (source, available_tokens, target_tokens,
        rate). ``rate`` = min(1, target/available); sources absent
        from ``weights`` get rate 0 (excluded from the mix), sources
        with zero available tokens get rate 0 (nothing to draw).

        ``renormalize=True`` adds ``renorm_target_tokens`` /
        ``renorm_rate``: under-supplied sources cap at their full
        mass and the shortfall water-fills onto the uncapped sources
        by weight (:meth:`_water_fill`), so the renormalized targets
        SUM to the budget whenever the corpus can supply it. The
        per-source totals collect is bounded by the recipe size (one
        row per source — the same driver-scalar class as the weights
        dict itself)."""
        counts = _doc_counts(docs, text_col, source_col, id_col, counts_col)
        if not renormalize:
            return MixPlanner._plan_from_counts(counts, weights, budget)
        # materialize the per-document counts ONCE (same discipline as
        # sample_to_budget): the totals collect below and the returned
        # plan's own execution would otherwise each re-tokenize the
        # whole corpus
        counts = counts.localCheckpoint(eager=False)
        plan = MixPlanner._plan_from_counts(counts, weights, budget)
        totals = [
            (r["source"], r["available_tokens"])
            for r in plan.select("source", "available_tokens").collect()
        ]
        wf = MixPlanner._water_fill(
            sorted(totals), _normalized(weights), budget
        )
        t_expr = F.lit(0.0)
        r_expr = F.lit(0.0)
        for s in sorted(wf):
            t, rt = wf[s]
            t_expr = F.when(F.col("source") == s, F.lit(t)).otherwise(
                t_expr
            )
            r_expr = F.when(F.col("source") == s, F.lit(rt)).otherwise(
                r_expr
            )
        return plan.select(
            "source",
            "available_tokens",
            "target_tokens",
            "rate",
            t_expr.alias("renorm_target_tokens"),
            r_expr.alias("renorm_rate"),
        )

    @staticmethod
    def sample_to_budget(
        docs: DataFrame,
        weights: dict[str, float],
        budget: int,
        text_col: str = "text",
        source_col: str = "source",
        id_col: str = "doc_id",
        counts_col: str | None = None,
        seed: int = 0,
        renormalize: bool = False,
    ) -> DataFrame:
        """The realized sample: (doc_id, source, n) for every kept
        document — kept iff its deterministic hash coordinate (pure
        function of seed and doc_id) is below its source's plan rate
        (the water-filled ``renorm_rate`` when ``renormalize=True``).
        Semi-join back on doc_id to carry full rows downstream.

        The per-document counts relation is pinned ONCE (a lazy
        localCheckpoint that the result owns) and feeds both the
        plan's totals aggregate and the sample's filter leg — the
        corpus is tokenized exactly once, which is the dominant cost
        of the whole operator."""
        counts = _doc_counts(
            docs, text_col, source_col, id_col, counts_col
        ).localCheckpoint(eager=False)
        plan = MixPlanner._plan_from_counts(counts, weights, budget)
        if renormalize:
            totals = [
                (r["source"], r["available_tokens"])
                for r in plan.select(
                    "source", "available_tokens"
                ).collect()
            ]
            wf = MixPlanner._water_fill(
                sorted(totals), _normalized(weights), budget
            )
            r_expr = F.lit(0.0)
            for s in sorted(wf):
                r_expr = F.when(
                    F.col("source") == s, F.lit(wf[s][1])
                ).otherwise(r_expr)
            plan = plan.select("source", r_expr.alias("rate"))
        else:
            plan = plan.select("source", "rate")
        keyed = counts.join(F.broadcast(plan), "source")
        return keyed.where(
            Sampling.coord("doc_id", seed) < F.col("rate")
        ).select("doc_id", "source", "n")

    @staticmethod
    def sample_with_repeats(
        docs: DataFrame,
        weights: dict[str, float],
        budget: int,
        text_col: str = "text",
        source_col: str = "source",
        id_col: str = "doc_id",
        counts_col: str | None = None,
        seed: int = 0,
        max_repeats: int = 100,
    ) -> DataFrame:
        """(doc_id, source, n, copy): realize a budget that EXCEEDS
        some sources' token mass by REPEATING their documents — the
        epoch-factor data recipe (high-weight sources run more than
        one epoch, e.g. quality-upweighted books corpora). Per-source
        rate r = target / available, UNcapped; every document gets
        ``floor(r)`` full copies plus one more iff its deterministic
        hash coordinate is below ``frac(r)`` — expected sampled tokens
        per source equal the target exactly, and the copy set is a
        pure function of (seed, doc_id), engine-replayable. ``copy``
        is 1-based. A source whose rate exceeds ``max_repeats`` raises
        (runaway budget guard; the rate check is a bounded collect of
        the recipe-sized plan). Plan shape: one count pass, one
        broadcast join, one bounded sequence() explode."""
        counts = _doc_counts(
            docs, text_col, source_col, id_col, counts_col
        ).localCheckpoint(eager=False)
        plan = MixPlanner._plan_from_counts(counts, weights, budget)
        rates = plan.select(
            "source",
            F.when(
                (F.col("available_tokens") > 0)
                & (F.col("target_tokens") > 0),
                F.col("target_tokens") / F.col("available_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("rate"),
        )
        top = rates.agg(F.max("rate").alias("m")).first()["m"]
        if top is not None and top > float(max_repeats):
            raise ValueError(
                f"max per-source rate {top:.1f} exceeds max_repeats="
                f"{max_repeats}; raise it explicitly for epoch factors"
                " this large"
            )
        keyed = counts.join(F.broadcast(rates), "source")
        copies = (
            F.floor(F.col("rate")).cast("long")
            + F.when(
                Sampling.coord("doc_id", seed)
                < F.col("rate") - F.floor(F.col("rate")),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        return (
            keyed.withColumn("_copies", copies)
            .where(F.col("_copies") >= 1)
            .select(
                "doc_id",
                "source",
                "n",
                F.explode(
                    F.expr("sequence(CAST(1 AS BIGINT), _copies)")
                ).alias("copy"),
            )
        )

    @staticmethod
    def realized_mix(sampled: DataFrame) -> DataFrame:
        """Post-sample accounting over a sample_to_budget result:
        (source, sampled_docs, sampled_tokens)."""
        return sampled.groupBy("source").agg(
            F.count("*").cast("long").alias("sampled_docs"),
            F.sum("n").cast("long").alias("sampled_tokens"),
        )
