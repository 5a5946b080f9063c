"""Text drift in the stream: lexical (C13/C14), perplexity (C11) and
topic (C12) per micro-batch vs a FROZEN text profile.

Completes the reference's detector registry in continuous mode
(``detectors/__init__.py:58-86`` runs distribution + embedding +
semantic per cadence): ``drift_stream`` covers distributions,
``embedding_stream`` covers C6-C9, this module covers the token-based
families of ``detectors/semantic.py``:

1. :func:`text_reference_profile` — one-off batch jobs over the
   reference window freeze (a) the vocabulary term counts (A8 — also
   the Laplace unigram LM of C11), (b) the C14 style feature row,
   (c) the reference window's own mean perplexity under its own LM
   (C11's baseline, ``semantic.py:140-148``), and optionally (d) the
   topic distribution (C12, argmax-dim stand-in at the documented
   model seam).  Driver state is O(|window vocab| + #topics) — bounded
   by drift-WINDOW vocabulary under reference semantics
   (``default_config.py:104``), same driver-memory contract as the
   grouped distribution profiles.
2. :func:`stream_text_drift` — per micro-batch, ONE fused Spark action
   computes every lexical/perplexity input: the frozen vocab frame
   full-outer-joins the batch token counts (C13's jaccard + inside-
   the-log JS, side-total normalized, ``semantic.py:396-407``,
   disjoint-vocab bare-jaccard rule included), batch token/sentence
   style stats (C14), and per-doc perplexity under the FROZEN LM
   (unknown tokens at the Laplace floor).  The four 1-row subframes
   crossJoin into a single collected row — four scans of a micro-batch-
   sized input, zero per-row Python.  When topics are frozen, a second
   O(#topics) aggregate feeds C12's JS driver-side.  Scores and
   verdicts mirror the batch detectors exactly:

   - ``lexical_score``  = 0.6*vocab_diff + 0.4*style_diff, drift iff
     > LEXICAL_THRESHOLD (``semantic.py:312-315``)
   - ``ppl_score``      = min(rel_change/0.3, 1), drift iff rel > 0.3
     (``semantic.py:140-148``; unigram-LM stand-in at the GPT-2 seam)
   - ``topic_score``    = min(js/0.4, 1), drift iff js > 0.4
     (``semantic.py:244-271``)

Same sink contract as the other streaming families: one metrics row
per epoch at ``<out>/text_metrics``, written by OVERWRITING the
``epoch=<k>`` partition (idempotent foreachBatch replays), Spark's
streaming checkpoint giving each input file exactly-once processing.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import LEXICAL_THRESHOLD, MIN_SAMPLES
from ..drift.lexical import style_features_frame
from ..drift.semantic import (
    PERPLEXITY_THRESHOLD,
    TOPIC_THRESHOLD,
    assign_topics,
    unigram_perplexities,
)

TEXT_METRICS_SCHEMA = (
    "run_id string, epoch bigint, n bigint, jaccard double, js double, "
    "vocab_diff double, style_diff double, lexical_score double, "
    "lexical_drift boolean, mean_perplexity double, ppl_rel_change double, "
    "ppl_score double, ppl_drift boolean, topic_js double, "
    "topic_score double, topic_drift boolean, drift_detected boolean, "
    "gated boolean"
)
_SINK_ROW_SCHEMA = TEXT_METRICS_SCHEMA.replace("epoch bigint, ", "")


def _tokens(df: DataFrame, col: str) -> DataFrame:
    """(_doc, token): reference tokenization (lower().split(), empties
    dropped) with the doc id assigned BEFORE the explode."""
    return (
        df.where(F.col(col).isNotNull())
        .withColumn("_doc", F.monotonically_increasing_id())
        .select(
            "_doc", F.explode(F.split(F.lower(F.col(col)), r"\s+")).alias("token")
        )
        .where(F.col("token") != "")
    )


def text_reference_profile(
    ref: DataFrame, column: str, topic_column: str | None = None
) -> dict:
    """Frozen text profile: vocab counts + style row + own-LM mean
    perplexity (+ topic distribution when ``topic_column`` is given).

    Raises when the reference window has fewer than MIN_SAMPLES non-null
    docs — a frozen monitor baseline below the detector gate would flag
    nothing forever, which is worse than failing at freeze time.
    """
    base = ref.where(F.col(column).isNotNull())
    n = base.count()
    if n < MIN_SAMPLES:
        raise ValueError(
            f"reference window has {n} non-null {column} docs "
            f"(< MIN_SAMPLES={MIN_SAMPLES}) — refusing to freeze a gated baseline"
        )
    vocab_rows = (
        _tokens(ref, column).groupBy("token").agg(F.count("*").alias("cnt")).collect()
    )
    vocab = {r.token: int(r.cnt) for r in vocab_rows}
    style = style_features_frame(ref, column).collect()[0].asDict()
    ppl_row = (
        unigram_perplexities(ref, ref, column)
        .agg(F.avg("perplexity").alias("m"), F.count("*").alias("c"))
        .collect()[0]
    )
    mean_ppl = float(ppl_row.m or 0.0)
    # docs with zero tokens never enter the perplexity average; the
    # SCORED count is the correct mixing weight for incremental updates
    n_ppl_docs = int(ppl_row.c)
    n_sent = int(
        ref.where(F.col(column).isNotNull())
        .select(F.explode(F.split(F.col(column), r"\.")).alias("s"))
        .where(F.trim("s") != "")
        .count()
    )
    profile = {
        "kind": "text",
        "column": column,
        "n": int(n),
        "vocab": vocab,
        "total_tokens": int(sum(vocab.values())),
        "style": {k: float(v) for k, v in style.items()},
        # sentence COUNT alongside the style row's avg: the pair makes
        # avg_sentence_len exactly mergeable in the incremental update
        "n_sentences": n_sent,
        "ref_mean_perplexity": mean_ppl,
        "n_ppl_docs": n_ppl_docs,
    }
    if topic_column is not None:
        tdf = ref.where(
            F.col(topic_column).isNotNull() & (F.size(F.col(topic_column)) > 0)
        )
        counts = (
            assign_topics(tdf, topic_column)
            .groupBy("topic")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        tot = float(sum(r.cnt for r in counts)) or 1.0
        profile["topic_column"] = topic_column
        # JSON object keys are strings; topic ids stay ints in memory
        profile["topics"] = {str(int(r.topic)): r.cnt / tot for r in counts}
        profile["topics_n"] = int(tot if counts else 0)
    return profile


def update_text_reference_profile(
    profile: dict,
    new_data: DataFrame,
    lm_divergence_threshold: float = 0.1,
) -> dict:
    """Incrementally fold ``new_data`` into a frozen text profile.

    The mergeable components merge EXACTLY (test-asserted against a
    from-scratch rebuild on the concatenated windows):

    - vocab term counts — plain addition (this IS the C11 Laplace LM);
    - style row — avg_word_len / token_count / unique_token_count /
      diversity re-derived from the merged vocab; avg_sentence_len from
      the stored (avg, ``n_sentences``) pair plus one sentence pass
      over the new docs;
    - topic distribution — probs un-normalized via ``topics_n``, new
      counts added, renormalized.

    ``ref_mean_perplexity`` is NOT exactly mergeable: each old doc's
    perplexity depends on every token's count in the window's OWN LM,
    and the old docs are gone — recovering their scores under the
    merged LM would need the per-(doc, token) matrix, i.e. the corpus.
    The update therefore scores the NEW docs under the MERGED LM (one
    broadcast-join pass, the stream's frozen-LM formula) and mixes
    doc-count-weighted with the stored mean, and — mirroring the
    distribution profile's ``needs_rebin`` contract — reports how far
    the LM itself moved: ``ppl_lm_divergence`` (Jensen-Shannon between
    the old and merged unigram distributions, O(|vocab|) driver math)
    with ``needs_ppl_rescore=True`` above ``lm_divergence_threshold``,
    telling the caller the stored component of the mean is stale and a
    full re-freeze is due at the next maintenance window.  When the new
    window matches the old distribution the divergence is ~0 and the
    mix converges to the true value (test-asserted).

    Profiles frozen before this version lack ``n_sentences`` — the
    update refuses them (re-freeze once with the current builder).
    Returns a drop-in :func:`stream_text_drift` profile.
    """
    if "n_sentences" not in profile:
        raise ValueError(
            "profile lacks n_sentences (frozen by an older builder) — "
            "re-freeze once with text_reference_profile to enable "
            "incremental updates"
        )
    column = profile["column"]
    topic_column = profile.get("topic_column")
    base = new_data.where(F.col(column).isNotNull())

    new_vocab_rows = (
        _tokens(new_data, column)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    n_new = base.count()
    if n_new == 0:
        return dict(profile)
    sent = base.select(
        F.explode(F.split(F.col(column), r"\.")).alias("s")
    ).where(F.trim("s") != "")
    srow = sent.agg(
        F.count("*").alias("n_sent"),
        F.coalesce(
            F.sum(
                F.size(F.filter(F.split(F.col("s"), r"\s+"), lambda x: x != ""))
            ),
            F.lit(0),
        ).alias("len_sum"),
    ).collect()[0]

    merged_vocab = dict(profile["vocab"])
    for r in new_vocab_rows:
        merged_vocab[r.token] = merged_vocab.get(r.token, 0) + int(r.cnt)
    total = sum(merged_vocab.values())

    # style: token-side stats are pure functions of the merged vocab
    tc = max(total, 1)
    awl = sum(len(t) * c for t, c in merged_vocab.items()) / tc
    old_sent_sum = (
        profile["style"]["avg_sentence_len"] * profile["n_sentences"]
    )
    n_sent = profile["n_sentences"] + int(srow.n_sent)
    asl = (old_sent_sum + float(srow.len_sum)) / n_sent if n_sent else 0.0
    style = {
        "avg_sentence_len": float(asl),
        "avg_word_len": float(awl),
        "token_count": float(total),
        "unique_token_count": float(len(merged_vocab)),
        "diversity": float(len(merged_vocab) / tc),
    }

    # LM movement: JS between old and merged unigram distributions
    old_total = max(profile["total_tokens"], 1)
    js = 0.0
    for t, mc in merged_vocab.items():
        pr = profile["vocab"].get(t, 0) / old_total
        pm = mc / tc
        m = (pr + pm) / 2
        if pr > 0:
            js += 0.5 * pr * math.log(pr / m + 1e-10)
        if pm > 0:
            js += 0.5 * pm * math.log(pm / m + 1e-10)

    # new docs scored under the MERGED LM (the stream's frozen-LM
    # formula: Laplace floor for unknowns, denom = T + |V|)
    denom = float(total + max(len(merged_vocab), 1))
    frozen = new_data.sparkSession.createDataFrame(
        list(merged_vocab.items()), "token string, cr bigint"
    ).where(F.col("token") != "")
    ppl_row = (
        _tokens(new_data, column)
        .join(F.broadcast(frozen), "token", "left")
        .select(
            "_doc",
            F.log(
                (F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / F.lit(denom)
            ).alias("logp"),
        )
        .groupBy("_doc")
        .agg(F.exp(-F.avg("logp")).alias("ppl"))
        .agg(
            F.coalesce(F.avg("ppl"), F.lit(0.0)).alias("m"),
            F.count("*").alias("c"),
        )
        .collect()[0]
    )
    new_mean_ppl, n_ppl_new = float(ppl_row.m), int(ppl_row.c)
    n_old = profile["n"]
    # mix weighted by SCORED doc counts: a tokenless doc (whitespace-only
    # transcript) never enters either side's average, so weighting by
    # raw doc counts would drag the mean toward the 0.0 placeholder
    n_ppl_old = int(profile.get("n_ppl_docs", n_old))
    n_ppl = n_ppl_old + n_ppl_new
    mean_ppl = (
        (
            n_ppl_old * profile["ref_mean_perplexity"]
            + n_ppl_new * new_mean_ppl
        )
        / n_ppl
        if n_ppl
        else profile["ref_mean_perplexity"]
    )

    merged = {
        **profile,
        "n": int(n_old + n_new),
        "vocab": merged_vocab,
        "total_tokens": int(total),
        "style": style,
        "n_sentences": int(n_sent),
        "ref_mean_perplexity": float(mean_ppl),
        "n_ppl_docs": int(n_ppl),
        "ppl_lm_divergence": float(js),
        "needs_ppl_rescore": bool(js > lm_divergence_threshold),
    }
    if topic_column is not None:
        tdf = base.where(
            F.col(topic_column).isNotNull() & (F.size(F.col(topic_column)) > 0)
        )
        counts = (
            assign_topics(tdf, topic_column)
            .groupBy("topic")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        old_n = profile.get("topics_n", 0)
        acc = {k: p * old_n for k, p in profile["topics"].items()}
        for r in counts:
            k = str(int(r.topic))
            acc[k] = acc.get(k, 0.0) + int(r.cnt)
        tot = sum(acc.values()) or 1.0
        merged["topics"] = {k: v / tot for k, v in acc.items()}
        merged["topics_n"] = int(old_n + sum(int(r.cnt) for r in counts))
    return merged


def _norm_diff(a: float, b: float) -> float:
    mx = max(a, b)
    return abs(a - b) / mx if mx > 0 else 0.0


def _topic_js(ref_p: dict[str, float], cur_counts: dict[int, int]) -> float:
    """C12's JS (epsilon INSIDE the log, ``semantic.py:244-271``) over
    the union of frozen and batch topics — O(#topics) driver math."""
    tot = float(sum(cur_counts.values())) or 1.0
    keys = set(ref_p) | {str(t) for t in cur_counts}
    js = 0.0
    for k in keys:
        pr = ref_p.get(k, 0.0)
        pc = cur_counts.get(int(k), 0) / tot
        m = (pr + pc) / 2
        js += 0.5 * pr * math.log(pr / m + 1e-10) if pr > 0 else 0.0
        js += 0.5 * pc * math.log(pc / m + 1e-10) if pc > 0 else 0.0
    return js


_ZERO = {
    "jaccard": 0.0, "js": 0.0, "vocab_diff": 0.0, "style_diff": 0.0,
    "lexical_score": 0.0, "lexical_drift": False,
    "mean_perplexity": 0.0, "ppl_rel_change": 0.0, "ppl_score": 0.0,
    "ppl_drift": False,
}


def _batch_row(
    spark: SparkSession, batch_df: DataFrame, profile: dict
) -> tuple:
    """The ONE fused action: (vocab metrics ⋈ token stats) × ppl ×
    sentence stats × doc count, collected as a single row."""
    column = profile["column"]
    rt = float(max(profile["total_tokens"], 1))
    denom = float(profile["total_tokens"] + max(len(profile["vocab"]), 1))

    frozen = spark.createDataFrame(
        list(profile["vocab"].items()) or [("", 0)], "token string, cr bigint"
    ).where(F.col("token") != "")
    # The vocab-join and perplexity subframes both consume the exploded
    # token frame; persisting it keeps the tokenize+explode (and the
    # batch-source read feeding it) to ONE execution per micro-batch —
    # the bench recorded numInputRows ~4x the backlog before (guide §5:
    # persist exactly the reused, expensive-to-recompute intermediate).
    # Scope: created and dropped inside this one batch computation.
    toks = _tokens(batch_df, column).persist()
    cur_tc = toks.groupBy("token").agg(F.count("*").alias("cc"))

    # C13 vocab metrics + batch token-level style stats in one subframe:
    # the batch token total enters via a broadcast 1-row crossJoin (the
    # corpus-scale totals shape — no single-partition window)
    ct_tot = cur_tc.agg(
        F.greatest(F.coalesce(F.sum("cc"), F.lit(0)), F.lit(1)).alias("ct")
    )
    j = frozen.join(cur_tc, "token", "full_outer").crossJoin(F.broadcast(ct_tot))
    both = F.col("cr").isNotNull() & F.col("cc").isNotNull()
    p = F.col("cr").cast("double") / F.lit(rt)
    q = F.col("cc").cast("double") / F.col("ct").cast("double")
    m = (p + q) / 2
    vocab_row = j.agg(
        F.count("*").alias("union_n"),
        F.sum(both.cast("bigint")).alias("inter_n"),
        F.coalesce(
            F.sum(
                F.when(
                    both,
                    0.5 * p * F.log(p / m + 1e-10) + 0.5 * q * F.log(q / m + 1e-10),
                )
            ),
            F.lit(0.0),
        ).alias("js"),
        F.sum(F.col("cc").isNotNull().cast("bigint")).alias("cur_vocab"),
        F.coalesce(F.sum("cc"), F.lit(0)).alias("tc_c"),
        F.coalesce(F.sum(F.length("token") * F.col("cc")), F.lit(0)).alias("awl_num"),
    )

    # C11: per-doc perplexity under the FROZEN LM (broadcast join,
    # Laplace floor for unknown tokens — same formula as
    # unigram_perplexities but with frozen counts)
    ppl_row = (
        toks.join(F.broadcast(frozen), "token", "left")
        .select(
            "_doc",
            F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / F.lit(denom)).alias(
                "logp"
            ),
        )
        .groupBy("_doc")
        .agg(F.exp(-F.avg("logp")).alias("ppl"))
        .agg(F.coalesce(F.avg("ppl"), F.lit(0.0)).alias("mean_ppl"))
    )

    base = batch_df.where(F.col(column).isNotNull())
    sent_row = (
        base.select(F.explode(F.split(F.col(column), r"\.")).alias("s"))
        .where(F.trim("s") != "")
        .agg(
            F.coalesce(
                F.avg(
                    F.size(F.filter(F.split(F.col("s"), r"\s+"), lambda x: x != ""))
                ),
                F.lit(0.0),
            ).alias("asl_c")
        )
    )
    n_row = base.agg(F.count("*").alias("n"))
    try:
        return (
            vocab_row.crossJoin(ppl_row).crossJoin(sent_row).crossJoin(n_row).collect()[0]
        )
    finally:
        toks.unpersist()


def _text_metrics(
    row, profile: dict, lexical_threshold: float, ppl_threshold: float
) -> dict:
    """O(1) driver arithmetic from the fused row's aggregates."""
    union_n = max(int(row.union_n), 1)
    jaccard = 1.0 - int(row.inter_n) / union_n
    js = float(row.js)
    # disjoint vocabularies: bare jaccard (semantic.py:396-398)
    vocab_diff = (
        jaccard if int(row.inter_n) == 0 else 0.5 * jaccard + 0.5 * min(js, 1.0)
    )
    st = profile["style"]
    tc_c = max(int(row.tc_c), 1)
    awl_c = float(row.awl_num) / tc_c if int(row.tc_c) else 0.0
    div_c = int(row.cur_vocab) / tc_c if int(row.tc_c) else 0.0
    style_diff = (
        0.4 * _norm_diff(st["avg_sentence_len"], float(row.asl_c))
        + 0.3 * _norm_diff(st["avg_word_len"], awl_c)
        + 0.3 * abs(st["diversity"] - div_c)
    )
    lex = 0.6 * vocab_diff + 0.4 * style_diff
    ref_ppl = profile["ref_mean_perplexity"]
    mean_ppl = float(row.mean_ppl)
    rel = abs(mean_ppl - ref_ppl) / max(ref_ppl, 1e-10)
    return {
        "jaccard": float(jaccard),
        "js": js,
        "vocab_diff": float(vocab_diff),
        "style_diff": float(style_diff),
        "lexical_score": float(lex),
        "lexical_drift": bool(lex > lexical_threshold),
        "mean_perplexity": mean_ppl,
        "ppl_rel_change": float(rel),
        "ppl_score": float(min(rel / ppl_threshold, 1.0)),
        "ppl_drift": bool(rel > ppl_threshold),
    }


def stream_text_drift(
    spark: SparkSession,
    text_dir: str,
    profile: dict,
    out_dir: str,
    schema,
    run_id: str = "drift-stream",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    min_samples: int = MIN_SAMPLES,
    lexical_threshold: float = LEXICAL_THRESHOLD,
    ppl_threshold: float = PERPLEXITY_THRESHOLD,
    topic_threshold: float = TOPIC_THRESHOLD,
):
    """Per-micro-batch lexical + perplexity (+ topic) drift vs a frozen
    text profile.  One metrics row per epoch at ``<out>/text_metrics``
    (``TEXT_METRICS_SCHEMA``); epoch-partition overwrite keeps replays
    idempotent.  Returns the streaming query.
    """
    topic_col = profile.get("topic_column")
    sink = os.path.join(out_dir, "text_metrics")
    checkpoint = os.path.join(out_dir, "_text_stream_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # one source read per micro-batch: the fused row's subframes and
        # the topic pass all come off this cached slice
        batch_df = batch_df.persist()
        try:
            row = _batch_row(spark, batch_df, profile)
        except Exception:
            batch_df.unpersist()
            raise
        n = int(row.n)
        gated = n < min_samples
        m = (
            dict(_ZERO)
            if gated
            else _text_metrics(row, profile, lexical_threshold, ppl_threshold)
        )
        topic_js = topic_score = topic_drift = None
        try:
            if topic_col is not None and not gated:
                counts = (
                    assign_topics(
                        batch_df.where(
                            F.col(topic_col).isNotNull()
                            & (F.size(F.col(topic_col)) > 0)
                        ),
                        topic_col,
                    )
                    .groupBy("topic")
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                )
                tj = _topic_js(profile["topics"], {int(r.topic): int(r.cnt) for r in counts})
                topic_js = float(tj)
                topic_score = float(min(tj / topic_threshold, 1.0))
                topic_drift = bool(tj > topic_threshold)
        finally:
            batch_df.unpersist()
        detected = bool(
            m["lexical_drift"] or m["ppl_drift"] or (topic_drift or False)
        )
        out_row = [
            (
                run_id, n,
                m["jaccard"], m["js"], m["vocab_diff"], m["style_diff"],
                m["lexical_score"], m["lexical_drift"],
                m["mean_perplexity"], m["ppl_rel_change"], m["ppl_score"],
                m["ppl_drift"],
                topic_js, topic_score, topic_drift,
                detected, bool(gated),
            )
        ]
        spark.createDataFrame(out_row, _SINK_ROW_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{sink}/epoch={int(epoch_id)}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(text_dir)
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def _tokens_grouped(df: DataFrame, col: str, keys: list[str]) -> DataFrame:
    """(keys..., _doc, token) — reference tokenization with the group
    keys carried through the explode."""
    return (
        df.withColumn("_doc", F.monotonically_increasing_id())
        .select(
            *keys,
            "_doc",
            F.explode(F.split(F.lower(F.col(col)), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
    )


def text_reference_profile_grouped(
    ref: DataFrame, keys: list[str], column: str, topic_column: str | None = None
) -> dict:
    """Frozen PER-GROUP text profiles (the reference's per-provider
    semantic loop, frozen at stream start).

    A handful of grouped jobs once per stream: per-group vocab counts,
    per-group style aggregates (sentence/token stats), per-group own-LM
    mean perplexity, and optionally per-group topic distributions.
    Driver state is O(Σ per-group |window vocab| + #groups x #topics) —
    bounded by drift-WINDOW vocabulary under reference semantics, same
    contract as the global profile.  Keys canonicalize to string
    SPARK-side and rows with any NULL key are not profiled (the
    distribution/embedding profiles' rules); the stream and the update
    count them as unknown-group rows.

    Unlike the global builder there is no MIN_SAMPLES refusal: gating
    is per (group, batch) at stream time, and a small group's baseline
    should not block freezing every other group's.
    """
    base = ref.where(F.col(column).isNotNull()).select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        column,
        *([topic_column] if topic_column else []),
    ).dropna(subset=list(keys))
    if base.limit(1).count() == 0:
        raise ValueError(f"reference window has no non-null {column} docs")
    n_rows = base.groupBy(*keys).agg(F.count("*").alias("n")).collect()

    toks = _tokens_grouped(base, column, keys)
    vocab_rows = (
        toks.groupBy(*keys, "token").agg(F.count("*").alias("cnt")).collect()
    )
    vocab: dict[tuple, dict[str, int]] = {}
    for r in vocab_rows:
        vocab.setdefault(tuple(r[k] for k in keys), {})[r.token] = int(r.cnt)

    tok_stats = {
        tuple(r[k] for k in keys): r
        for r in toks.groupBy(*keys)
        .agg(
            F.avg(F.length("token")).alias("awl"),
            F.count("*").alias("tc"),
            F.countDistinct("token").alias("utc"),
        )
        .collect()
    }
    sent_stats = {
        tuple(r[k] for k in keys): (float(r.asl), int(r.n_sent))
        for r in base.select(
            *keys, F.explode(F.split(F.col(column), r"\.")).alias("s")
        )
        .where(F.trim("s") != "")
        .groupBy(*keys)
        .agg(
            F.avg(
                F.size(F.filter(F.split(F.col("s"), r"\s+"), lambda x: x != ""))
            ).alias("asl"),
            F.count("*").alias("n_sent"),
        )
        .collect()
    }

    # per-group own-LM mean perplexity: score the reference docs under
    # their OWN group's frozen Laplace LM (C11's baseline, per group)
    groups = sorted(vocab)
    frozen = _frozen_vocab_frame(base.sparkSession, keys, vocab)
    denoms = {
        g: float(sum(v.values()) + max(len(v), 1)) for g, v in vocab.items()
    }
    dframe = base.sparkSession.createDataFrame(
        [(*g, denoms[g]) for g in groups],
        ", ".join(f"{k} string" for k in keys) + ", __denom double",
    )
    ppl_rows = (
        toks.join(F.broadcast(frozen), [*keys, "token"], "left")
        .join(F.broadcast(dframe), keys)
        .select(
            *keys,
            "_doc",
            F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / F.col("__denom")).alias(
                "logp"
            ),
        )
        .groupBy(*keys, "_doc")
        .agg(F.exp(-F.avg("logp")).alias("ppl"))
        .groupBy(*keys)
        .agg(F.avg("ppl").alias("mean_ppl"), F.count("*").alias("n_ppl"))
        .collect()
    )
    mean_ppls = {tuple(r[k] for k in keys): float(r.mean_ppl) for r in ppl_rows}
    n_ppls = {tuple(r[k] for k in keys): int(r.n_ppl) for r in ppl_rows}

    profiles: dict[tuple, dict] = {}
    for r in n_rows:
        g = tuple(r[k] for k in keys)
        v = vocab.get(g, {})
        ts = tok_stats.get(g)
        tc = int(ts.tc) if ts is not None else 0
        asl, n_sent = sent_stats.get(g, (0.0, 0))
        profiles[g] = {
            "n": int(r.n),
            "vocab": v,
            "total_tokens": int(sum(v.values())),
            "style": {
                "avg_sentence_len": asl,
                "avg_word_len": float(ts.awl) if ts is not None else 0.0,
                "token_count": tc,
                "unique_token_count": int(ts.utc) if ts is not None else 0,
                "diversity": (int(ts.utc) / max(tc, 1)) if ts is not None else 0.0,
            },
            "n_sentences": n_sent,
            "ref_mean_perplexity": mean_ppls.get(g, 0.0),
            "n_ppl_docs": n_ppls.get(g, 0),
        }
    if topic_column is not None:
        tcounts = (
            assign_topics(
                base.where(
                    F.col(topic_column).isNotNull()
                    & (F.size(F.col(topic_column)) > 0)
                ),
                topic_column,
            )
            .groupBy(*keys, "topic")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        per_group: dict[tuple, dict[int, int]] = {}
        for r in tcounts:
            per_group.setdefault(tuple(r[k] for k in keys), {})[int(r.topic)] = int(
                r.cnt
            )
        for g, p in profiles.items():
            counts = per_group.get(g, {})
            tot = float(sum(counts.values())) or 1.0
            p["topics"] = {str(t): c / tot for t, c in counts.items()}
            p["topics_n"] = int(sum(counts.values()))
    out = {
        "kind": "text_grouped",
        "column": column,
        "keys": list(keys),
        "profiles": profiles,
    }
    if topic_column is not None:
        out["topic_column"] = topic_column
    return out


def _frozen_vocab_frame(spark, keys: list[str], vocab: dict) -> DataFrame:
    """Tiny (Σ per-group vocab) frame: (keys..., token, cr)."""
    rows = [
        (*g, t, c) for g, toks in vocab.items() for t, c in toks.items()
    ] or [(*([None] * len(keys)), "", 0)]
    ddl = ", ".join(f"{k} string" for k in keys) + ", token string, cr bigint"
    return spark.createDataFrame(rows, ddl).where(F.col("token") != "")


def stream_text_drift_grouped(
    spark: SparkSession,
    text_dir: str,
    profile: dict,
    out_dir: str,
    schema,
    run_id: str = "drift-stream",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    min_samples: int = MIN_SAMPLES,
    lexical_threshold: float = LEXICAL_THRESHOLD,
    ppl_threshold: float = PERPLEXITY_THRESHOLD,
    topic_threshold: float = TOPIC_THRESHOLD,
):
    """Per-GROUP per-micro-batch text drift vs frozen per-group text
    profiles — every group's lexical/perplexity inputs ride ONE
    aggregate tree per batch (the frozen vocab frame broadcast full-
    outer-joins the batch token counts by (group, token); per-doc
    perplexity under each group's OWN frozen LM; per-group sentence
    stats and doc counts; all grouped subframes joined on the keys and
    collected in a single action — never a job per group), then
    O(#groups) driver arithmetic reproduces the batch detectors'
    score/verdict sequence per group.

    Row conventions match :func:`~.drift_stream.stream_drift_grouped`:
    one row per (group, epoch) at ``<out>/text_metrics_grouped``;
    batch rows whose group has no frozen profile (or whose keys are
    NULL) collapse into a NULL-keyed ``gated_reason='unknown_group'``
    row; gated known groups carry ``'min_samples'``; an empty batch
    writes a NULL-keyed ``'empty_batch'`` placeholder; each epoch's
    partition is OVERWRITTEN so foreachBatch replays are idempotent.
    """
    column = profile["column"]
    keys = profile["keys"]
    profiles = profile["profiles"]
    topic_col = profile.get("topic_column")
    sink = os.path.join(out_dir, "text_metrics_grouped")
    checkpoint = os.path.join(out_dir, "_text_stream_grouped_checkpoint")
    out_schema = ", ".join(f"{k} string" for k in keys) + (
        ", " + _SINK_ROW_SCHEMA + ", gated_reason string"
    )

    frozen = _frozen_vocab_frame(
        spark, keys, {g: p["vocab"] for g, p in profiles.items()}
    )
    known = spark.createDataFrame(
        [
            (
                *g,
                float(max(p["total_tokens"], 1)),
                float(p["total_tokens"] + max(len(p["vocab"]), 1)),
            )
            for g, p in profiles.items()
        ],
        ", ".join(f"{k} string" for k in keys) + ", __rt double, __denom double",
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        base = batch_df.where(F.col(column).isNotNull()).select(
            *[F.col(k).cast("string").alias(k) for k in keys],
            column,
            *([topic_col] if topic_col else []),
        )
        # rows whose group has no frozen profile get NULL keys so they
        # collapse into ONE unknown bucket (NULL join keys match
        # nothing downstream, exactly like the distribution variant)
        marked = base.join(F.broadcast(known), keys, "left")
        basek = marked.select(
            *[
                F.when(F.col("__rt").isNotNull(), F.col(k)).alias(k)
                for k in keys
            ],
            column,
            *([topic_col] if topic_col else []),
            "__rt",
            "__denom",
        )
        # one source read + one tokenize per micro-batch (see the global
        # variant): the n/vocab/ppl/sentence/topic subframes all reuse
        # these two cached slices, dropped at the end of the batch
        basek = basek.persist()
        kb = basek.where(F.col("__rt").isNotNull())  # known-group rows

        n_frame = basek.groupBy(*keys).agg(F.count("*").alias("n"))

        toks = _tokens_grouped(kb, column, keys).persist()
        cur_tc = toks.groupBy(*keys, "token").agg(F.count("*").alias("cc"))
        ct_tot = cur_tc.groupBy(*keys).agg(
            F.greatest(F.sum("cc"), F.lit(1)).cast("double").alias("__ct")
        )
        j = (
            F.broadcast(frozen)
            .join(cur_tc, [*keys, "token"], "full_outer")
            .join(F.broadcast(ct_tot), keys, "left")
            .join(F.broadcast(known), keys)
        )
        both = F.col("cr").isNotNull() & F.col("cc").isNotNull()
        p = F.col("cr").cast("double") / F.col("__rt")
        q = F.col("cc").cast("double") / F.coalesce(F.col("__ct"), F.lit(1.0))
        m = (p + q) / 2
        vocab_frame = j.groupBy(*keys).agg(
            F.count("*").alias("union_n"),
            F.sum(both.cast("bigint")).alias("inter_n"),
            F.coalesce(
                F.sum(
                    F.when(
                        both,
                        0.5 * p * F.log(p / m + 1e-10)
                        + 0.5 * q * F.log(q / m + 1e-10),
                    )
                ),
                F.lit(0.0),
            ).alias("js"),
            F.sum(F.col("cc").isNotNull().cast("bigint")).alias("cur_vocab"),
            F.coalesce(F.sum("cc"), F.lit(0)).alias("tc_c"),
            F.coalesce(F.sum(F.length("token") * F.col("cc")), F.lit(0)).alias(
                "awl_num"
            ),
        )

        ppl_frame = (
            toks.join(F.broadcast(frozen), [*keys, "token"], "left")
            .join(F.broadcast(known), keys)
            .select(
                *keys,
                "_doc",
                F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / F.col("__denom")
                ).alias("logp"),
            )
            .groupBy(*keys, "_doc")
            .agg(F.exp(-F.avg("logp")).alias("ppl"))
            .groupBy(*keys)
            .agg(F.avg("ppl").alias("mean_ppl"))
        )

        sent_frame = (
            kb.select(*keys, F.explode(F.split(F.col(column), r"\.")).alias("s"))
            .where(F.trim("s") != "")
            .groupBy(*keys)
            .agg(
                F.avg(
                    F.size(F.filter(F.split(F.col("s"), r"\s+"), lambda x: x != ""))
                ).alias("asl_c")
            )
        )

        try:
            rows = (
                n_frame.join(vocab_frame, keys, "left")
                .join(ppl_frame, keys, "left")
                .join(sent_frame, keys, "left")
                .collect()
            )

            topic_counts: dict[tuple, dict[int, int]] = {}
            if topic_col is not None:
                for r in (
                    assign_topics(
                        kb.where(
                            F.col(topic_col).isNotNull()
                            & (F.size(F.col(topic_col)) > 0)
                        ),
                        topic_col,
                    )
                    .groupBy(*keys, "topic")
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                ):
                    topic_counts.setdefault(tuple(r[k] for k in keys), {})[
                        int(r.topic)
                    ] = int(r.cnt)
        finally:
            toks.unpersist()
            basek.unpersist()

        out_rows = []
        n_unknown = 0
        for r in sorted(rows, key=lambda r: tuple(str(r[k]) for k in keys)):
            g = tuple(r[k] for k in keys)
            if g not in profiles:  # NULL-key collapse bucket
                n_unknown += int(r.n)
                continue
            n = int(r.n)
            gated = n < min_samples
            if gated:
                met = dict(_ZERO)
            else:
                met = _text_metrics(
                    _GroupRow(r), profiles[g], lexical_threshold, ppl_threshold
                )
            topic_js = topic_score = topic_drift = None
            if topic_col is not None and not gated:
                tj = _topic_js(profiles[g]["topics"], topic_counts.get(g, {}))
                topic_js = float(tj)
                topic_score = float(min(tj / topic_threshold, 1.0))
                topic_drift = bool(tj > topic_threshold)
            detected = bool(
                met["lexical_drift"] or met["ppl_drift"] or (topic_drift or False)
            )
            out_rows.append(
                (
                    *g,
                    run_id, n,
                    met["jaccard"], met["js"], met["vocab_diff"],
                    met["style_diff"], met["lexical_score"],
                    met["lexical_drift"], met["mean_perplexity"],
                    met["ppl_rel_change"], met["ppl_score"], met["ppl_drift"],
                    topic_js, topic_score, topic_drift,
                    detected, bool(gated),
                    "min_samples" if gated else None,
                )
            )
        if n_unknown:
            out_rows.append(
                (
                    *([None] * len(keys)),
                    run_id, int(n_unknown),
                    0.0, 0.0, 0.0, 0.0, 0.0, False, 0.0, 0.0, 0.0, False,
                    None, None, None, False, True, "unknown_group",
                )
            )
        if not out_rows:
            out_rows.append(
                (
                    *([None] * len(keys)),
                    run_id, 0,
                    0.0, 0.0, 0.0, 0.0, 0.0, False, 0.0, 0.0, 0.0, False,
                    None, None, None, False, True, "empty_batch",
                )
            )
        spark.createDataFrame(out_rows, out_schema).write.mode(
            "overwrite"
        ).parquet(f"{sink}/epoch={int(epoch_id)}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(text_dir)
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


class _GroupRow:
    """Null-tolerant view over a grouped result Row: a known group with
    no batch tokens (all-whitespace docs) yields NULL aggregates from
    the left joins; default them the way the global path's coalesces
    do."""

    _DEFAULTS = {
        "union_n": 1, "inter_n": 0, "js": 0.0, "cur_vocab": 0,
        "tc_c": 0, "awl_num": 0, "mean_ppl": 0.0, "asl_c": 0.0,
    }

    def __init__(self, row):
        self._row = row

    def __getattr__(self, name):
        v = self._row[name]
        return self._DEFAULTS.get(name, 0) if v is None else v


def update_text_reference_profile_grouped(
    profile: dict,
    new_data: DataFrame,
    lm_divergence_threshold: float = 0.1,
) -> dict:
    """Fold ``new_data`` into EVERY group of a grouped text profile —
    grouped one-pass jobs (per-group vocab counts, sentence sums, doc
    counts, topic counts, and new-doc perplexity under each group's
    MERGED LM via one broadcast join), then
    :func:`update_text_reference_profile`'s per-group arithmetic:
    vocab/style/topics merge EXACTLY; the own-LM mean perplexity mixes
    doc-count-weighted with per-group ``ppl_lm_divergence`` /
    ``needs_ppl_rescore`` staleness flags.  Rows from groups with no
    frozen profile are counted and reported (``unknown_rows``), never
    folded — a new provider is a re-freeze decision.  Profiles frozen
    before ``n_sentences`` was stored are refused (re-freeze once).
    """
    for g, p in profile["profiles"].items():
        if "n_sentences" not in p:
            raise ValueError(
                f"group {g} lacks n_sentences (frozen by an older builder)"
                " — re-freeze once with text_reference_profile_grouped"
            )
    column = profile["column"]
    keys = profile["keys"]
    topic_column = profile.get("topic_column")
    profiles = profile["profiles"]
    spark = new_data.sparkSession
    base = new_data.where(F.col(column).isNotNull()).select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        column,
        *([topic_column] if topic_column else []),
    )

    n_rows = {
        tuple(r[k] for k in keys): int(r.n)
        for r in base.groupBy(*keys).agg(F.count("*").alias("n")).collect()
    }
    unknown_rows = sum(n for g, n in n_rows.items() if g not in profiles)
    if sum(n_rows.values()) == unknown_rows:  # nothing foldable
        return {**profile, "unknown_rows": int(unknown_rows)}

    toks = _tokens_grouped(base, column, keys)
    new_vocab: dict[tuple, dict[str, int]] = {}
    for r in (
        toks.groupBy(*keys, "token").agg(F.count("*").alias("cnt")).collect()
    ):
        g = tuple(r[k] for k in keys)
        if g in profiles:
            new_vocab.setdefault(g, {})[r.token] = int(r.cnt)
    sent_stats = {
        tuple(r[k] for k in keys): (int(r.n_sent), int(r.len_sum))
        for r in base.select(
            *keys, F.explode(F.split(F.col(column), r"\.")).alias("s")
        )
        .where(F.trim("s") != "")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_sent"),
            F.coalesce(
                F.sum(
                    F.size(
                        F.filter(F.split(F.col("s"), r"\s+"), lambda x: x != "")
                    )
                ),
                F.lit(0),
            ).alias("len_sum"),
        )
        .collect()
    }
    topic_counts: dict[tuple, dict[int, int]] = {}
    if topic_column is not None:
        for r in (
            assign_topics(
                base.where(
                    F.col(topic_column).isNotNull()
                    & (F.size(F.col(topic_column)) > 0)
                ),
                topic_column,
            )
            .groupBy(*keys, "topic")
            .agg(F.count("*").alias("cnt"))
            .collect()
        ):
            topic_counts.setdefault(tuple(r[k] for k in keys), {})[
                int(r.topic)
            ] = int(r.cnt)

    # merge vocabularies first: new docs score under the MERGED LMs
    merged_vocab = {
        g: dict(p["vocab"]) for g, p in profiles.items()
    }
    for g, nv in new_vocab.items():
        for t, c in nv.items():
            merged_vocab[g][t] = merged_vocab[g].get(t, 0) + c
    frozen = _frozen_vocab_frame(spark, keys, merged_vocab)
    denoms = {
        g: float(sum(v.values()) + max(len(v), 1))
        for g, v in merged_vocab.items()
    }
    dframe = spark.createDataFrame(
        [(*g, d) for g, d in denoms.items()],
        ", ".join(f"{k} string" for k in keys) + ", __denom double",
    )
    new_ppls: dict[tuple, tuple[float, int]] = {
        tuple(r[k] for k in keys): (float(r.mean_ppl), int(r.n_ppl))
        for r in toks.join(F.broadcast(frozen), [*keys, "token"], "left")
        .join(F.broadcast(dframe), keys)
        .select(
            *keys,
            "_doc",
            F.log(
                (F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / F.col("__denom")
            ).alias("logp"),
        )
        .groupBy(*keys, "_doc")
        .agg(F.exp(-F.avg("logp")).alias("ppl"))
        .groupBy(*keys)
        .agg(F.avg("ppl").alias("mean_ppl"), F.count("*").alias("n_ppl"))
        .collect()
    }

    merged: dict[tuple, dict] = {}
    for g, p in profiles.items():
        n_new = n_rows.get(g, 0)
        if n_new == 0:
            merged[g] = dict(p)
            continue
        mv = merged_vocab[g]
        total = sum(mv.values())
        tc = max(total, 1)
        awl = sum(len(t) * c for t, c in mv.items()) / tc
        n_sent_new, len_sum_new = sent_stats.get(g, (0, 0))
        old_sent_sum = p["style"]["avg_sentence_len"] * p["n_sentences"]
        n_sent = p["n_sentences"] + n_sent_new
        asl = (old_sent_sum + len_sum_new) / n_sent if n_sent else 0.0

        old_total = max(p["total_tokens"], 1)
        js = 0.0
        for t, mc in mv.items():
            pr = p["vocab"].get(t, 0) / old_total
            pm = mc / tc
            m = (pr + pm) / 2
            if pr > 0:
                js += 0.5 * pr * math.log(pr / m + 1e-10)
            if pm > 0:
                js += 0.5 * pm * math.log(pm / m + 1e-10)

        n_old = p["n"]
        # SCORED-doc weights, like the global update: a tokenless doc
        # enters neither side's perplexity average
        new_mean, n_ppl_new = new_ppls.get(g, (0.0, 0))
        n_ppl_old = int(p.get("n_ppl_docs", n_old))
        n_ppl = n_ppl_old + n_ppl_new
        mean_ppl = (
            (n_ppl_old * p["ref_mean_perplexity"] + n_ppl_new * new_mean)
            / n_ppl
            if n_ppl
            else p["ref_mean_perplexity"]
        )
        mp = {
            **p,
            "n": int(n_old + n_new),
            "vocab": mv,
            "total_tokens": int(total),
            "style": {
                "avg_sentence_len": float(asl),
                "avg_word_len": float(awl),
                "token_count": total,
                "unique_token_count": len(mv),
                "diversity": float(len(mv) / tc),
            },
            "n_sentences": int(n_sent),
            "ref_mean_perplexity": float(mean_ppl),
            "n_ppl_docs": int(n_ppl),
            "ppl_lm_divergence": float(js),
            "needs_ppl_rescore": bool(js > lm_divergence_threshold),
        }
        if topic_column is not None:
            old_n = p.get("topics_n", 0)
            acc = {k: pr * old_n for k, pr in p.get("topics", {}).items()}
            for t, c in topic_counts.get(g, {}).items():
                acc[str(t)] = acc.get(str(t), 0.0) + c
            tot = sum(acc.values()) or 1.0
            mp["topics"] = {k: v / tot for k, v in acc.items()}
            mp["topics_n"] = int(
                old_n + sum(topic_counts.get(g, {}).values())
            )
        merged[g] = mp
    return {**profile, "profiles": merged, "unknown_rows": int(unknown_rows)}
