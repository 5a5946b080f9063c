"""Text drift in the stream: lexical (C13/C14), perplexity (C11) and
topic (C12) per micro-batch vs a FROZEN text profile.

Completes the reference's detector registry in continuous mode
(``detectors/__init__.py:58-86`` runs distribution + embedding +
semantic per cadence, once per provider): ``drift_stream`` covers
distributions, ``embedding_stream`` covers C6-C9, this module covers the
token-based families of ``detectors/semantic.py``.  "Global" and "per
provider" are one computation over CELLS (:mod:`.cells`): a cell is one
group-key tuple, a global profile is the zero-key case.  One function per
operation:

1. :func:`text_reference_profile` ``(ref, column, topic_column=None,
   keys=())`` freezes, per cell, (a) the vocabulary term counts (A8 —
   also the Laplace unigram LM of C11), (b) the C14 style row (with the
   sentence count that makes it mergeable), (c) the window's own mean
   perplexity under its own LM (C11's baseline, ``semantic.py:140-148``)
   and optionally (d) the topic distribution (C12, argmax-dim stand-in
   at the documented model seam).  Two actions: one window pass (doc and
   sentence counts, the vocabulary as a per-group token->count map, the
   topic counts) and one perplexity pass.  Driver state is O(Σ per-group
   |window vocab| + #groups x #topics) — bounded by drift-WINDOW
   vocabulary under reference semantics (``default_config.py:104``).
2. :func:`update_text_reference_profile` folds new data into every cell
   with the same two passes (the perplexity pass under the MERGED LM);
   building a profile is folding the window into empty cells.
3. :func:`stream_text_drift` — per micro-batch ONE aggregate tree for
   every cell: the frozen vocab frame full-outer-joins the batch token
   counts on (group, token) (C13's jaccard + inside-the-log JS,
   side-total normalized, ``semantic.py:396-407``, disjoint-vocab
   bare-jaccard rule included), batch token/sentence style stats (C14),
   per-doc perplexity under each group's FROZEN LM (unknown tokens at
   the Laplace floor) and the batch topic counts, joined on the keys and
   collected in a single action — zero per-row Python, never a job per
   group.  O(cells) driver arithmetic then mirrors the batch detectors:

   - ``lexical_score``  = 0.6*vocab_diff + 0.4*style_diff, drift iff
     > LEXICAL_THRESHOLD (``semantic.py:312-315``)
   - ``ppl_score``      = min(rel_change/0.3, 1), drift iff rel > 0.3
     (``semantic.py:140-148``; unigram-LM stand-in at the GPT-2 seam)
   - ``topic_score``    = min(js/0.4, 1), drift iff js > 0.4
     (``semantic.py:244-271``)

A *doc* is a row whose text column is non-NULL; the counts, the style
row, the perplexities and the topic counts all range over docs.  Rows
with any NULL key are never profiled; the stream and the update count
them with the rows of unprofiled groups.  The global builder refuses to
freeze a window of fewer than MIN_SAMPLES docs (a frozen baseline below
the detector gate would flag nothing forever); a keyed one refuses only
a window without docs, since gating is per (group, batch).

Sinks: ``text_metrics`` (one row per epoch) and ``text_metrics_grouped``
(the keyed row rules of :func:`.cells.epoch_rows`), each epoch's
partition OVERWRITTEN so ``foreachBatch`` replays are idempotent.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import LEXICAL_THRESHOLD, MIN_SAMPLES
from ..drift.semantic import PERPLEXITY_THRESHOLD, TOPIC_THRESHOLD, assign_topics
from ..session import local_frame
from .cells import cells, epoch_rows, group_of, join_on, keyed, run_stream, with_cells

TEXT_METRICS_SCHEMA = (
    "run_id string, epoch bigint, n bigint, jaccard double, js double, "
    "vocab_diff double, style_diff double, lexical_score double, "
    "lexical_drift boolean, mean_perplexity double, ppl_rel_change double, "
    "ppl_score double, ppl_drift boolean, topic_js double, "
    "topic_score double, topic_drift boolean, drift_detected boolean, "
    "gated boolean"
)
_SINK_ROW_SCHEMA = TEXT_METRICS_SCHEMA.replace("epoch bigint, ", "")
_ZERO = (
    0.0, 0.0, 0.0, 0.0, 0.0, False, 0.0, 0.0, 0.0, False, None, None, None, False,
)


# ---- the per-group subframes ----------------------------------------------


def _docs(df: DataFrame, keys: list[str], column: str, topic_col) -> DataFrame:
    """Docs (non-null text rows): string keys + text (+ topic) column."""
    return keyed(
        df.where(F.col(column).isNotNull()), keys, column,
        *([topic_col] if topic_col else []),
    )


def _tokens(docs: DataFrame, keys: list[str], column: str) -> DataFrame:
    """(keys..., _doc, token): reference tokenization (lower().split(),
    empties dropped) with the doc id assigned BEFORE the explode."""
    return (
        docs.withColumn("_doc", F.monotonically_increasing_id())
        .select(
            *keys, "_doc",
            F.explode(F.split(F.lower(F.col(column)), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
    )


def _doc_stats(docs: DataFrame, keys: list[str], column: str, topic_col) -> DataFrame:
    """Per group: ``n`` docs, ``n_sent`` / ``len_sum`` (sentence count and
    summed sentence token lengths, C14) and, with a topic column, the
    ``topics`` map topic -> doc count (C12)."""
    out = join_on(
        docs.groupBy(*keys).agg(F.count("*").alias("n")),
        docs.select(*keys, F.explode(F.split(F.col(column), r"\.")).alias("s"))
        .where(F.trim("s") != "")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_sent"),
            F.sum(
                F.size(F.filter(F.split(F.col("s"), r"\s+"), lambda x: x != ""))
            ).alias("len_sum"),
        ),
        keys,
    )
    if topic_col:
        topics = (
            assign_topics(
                docs.where(F.col(topic_col).isNotNull() & (F.size(F.col(topic_col)) > 0)),
                topic_col,
            )
            .groupBy(*keys, "topic")
            .agg(F.count("*").alias("cnt"))
            .groupBy(*keys)
            .agg(F.map_from_entries(F.collect_list(F.struct("topic", "cnt"))).alias("topics"))
        )
        out = join_on(out, topics, keys)
    return out


def _lm_frame(spark: SparkSession, keys: list[str], vocabs: dict) -> DataFrame:
    """Tiny (Σ per-group vocab) frame ``(keys..., token, cr, __rt)``:
    every group's term counts and its token total."""
    rows = [
        (*g, t, c, float(max(sum(v.values()), 1)))
        for g, v in vocabs.items()
        for t, c in v.items()
    ]
    ddl = ", ".join(f"{k} string" for k in keys) + (
        (", " if keys else "") + "token string, cr bigint, __rt double"
    )
    return local_frame(spark, rows, ddl)


def _denom(vocab: dict) -> float:
    """Laplace denominator T + |V| of a unigram LM."""
    return float(sum(vocab.values()) + max(len(vocab), 1))


def _ppl_stats(toks: DataFrame, keys: list[str], lm: DataFrame) -> DataFrame:
    """Per group: ``ippl`` = mean over docs of exp(-avg log(cr + 1)) under
    the group's LM, and ``n_ppl`` scored (token-bearing) docs.  A doc's
    perplexity is exp(-avg log((cr + 1) / denom)) = denom x that term,
    so the mean perplexity is ``_denom(vocab) * ippl`` (unknown tokens
    at the Laplace floor)."""
    return (
        toks.join(F.broadcast(lm.select(*keys, "token", "cr")), [*keys, "token"], "left")
        .groupBy(*keys, "_doc")
        .agg(F.exp(-F.avg(F.log(F.coalesce(F.col("cr"), F.lit(0)) + 1.0))).alias("ippl"))
        .groupBy(*keys)
        .agg(F.avg("ippl").alias("ippl"), F.count("*").alias("n_ppl"))
    )


# ---- profile and update: fold a window into cells ---------------------------


def _window(docs: DataFrame, keys: list[str], column: str, topic_col) -> dict:
    """``{group: {n, n_sent, len_sum, vocab, topics}}`` of a window in ONE
    action (the vocabulary rides as a per-group token -> count map)."""
    vocab = (
        _tokens(docs, keys, column)
        .groupBy(*keys, "token")
        .agg(F.count("*").alias("cnt"))
        .groupBy(*keys)
        .agg(F.map_from_entries(F.collect_list(F.struct("token", "cnt"))).alias("vocab"))
    )
    out = {}
    for r in join_on(_doc_stats(docs, keys, column, topic_col), vocab, keys).collect():
        d = r.asDict()
        out[group_of(r, keys)] = {
            "n": int(d["n"]),
            "n_sent": int(d["n_sent"] or 0),
            "len_sum": int(d["len_sum"] or 0),
            "vocab": d["vocab"] or {},
            "topics": d.get("topics") or {},
        }
    return out


def _window_ppl(docs: DataFrame, keys: list[str], column: str, vocabs: dict) -> dict:
    """``{group: (ippl, n_ppl)}`` of the window's docs under ``vocabs``."""
    lm = _lm_frame(docs.sparkSession, keys, vocabs)
    return {
        group_of(r, keys): (float(r.ippl or 0.0), int(r.n_ppl))
        for r in _ppl_stats(_tokens(docs, keys, column), keys, lm).collect()
    }


def _fold(p: dict, w: dict, ppl: tuple, vocab: dict, topic_col) -> dict:
    """Cell ``p`` with window ``w`` folded in under the merged ``vocab``.

    Vocab counts (= the LM), the style row (token stats from the merged
    vocab, avg_sentence_len from the stored (avg, ``n_sentences``) pair)
    and the topic distribution (un-normalized via ``topics_n``) merge
    EXACTLY.  The mean perplexity mixes the stored mean with the window's
    docs scored under the merged LM, weighted by SCORED doc counts (a
    tokenless doc enters neither side's average)."""
    total = sum(vocab.values())
    tc = max(total, 1)
    n_sent = p["n_sentences"] + w["n_sent"]
    old_len = p["style"]["avg_sentence_len"] * p["n_sentences"]
    ippl, n_ppl_new = ppl
    n_ppl_old = int(p.get("n_ppl_docs", p["n"]))
    n_ppl = n_ppl_old + n_ppl_new
    mean_ppl = (
        (n_ppl_old * p["ref_mean_perplexity"] + n_ppl_new * _denom(vocab) * ippl) / n_ppl
        if n_ppl
        else p["ref_mean_perplexity"]
    )
    out = {
        **p,
        "n": int(p["n"] + w["n"]),
        "vocab": vocab,
        "total_tokens": int(total),
        "style": {
            "avg_sentence_len": float((old_len + w["len_sum"]) / n_sent if n_sent else 0.0),
            "avg_word_len": float(sum(len(t) * c for t, c in vocab.items()) / tc),
            "token_count": float(total),
            "unique_token_count": float(len(vocab)),
            "diversity": float(len(vocab) / tc),
        },
        "n_sentences": int(n_sent),
        "ref_mean_perplexity": float(mean_ppl),
        "n_ppl_docs": int(n_ppl),
    }
    if topic_col:
        old_n = p.get("topics_n", 0)
        acc = {k: q * old_n for k, q in p.get("topics", {}).items()}
        for t, c in w["topics"].items():
            acc[str(t)] = acc.get(str(t), 0.0) + c
        tot = sum(acc.values()) or 1.0
        out["topics"] = {k: v / tot for k, v in acc.items()}
        out["topics_n"] = int(old_n + sum(w["topics"].values()))
    return out


_EMPTY_CELL = {
    "n": 0, "vocab": {}, "total_tokens": 0, "style": {"avg_sentence_len": 0.0},
    "n_sentences": 0, "ref_mean_perplexity": 0.0, "n_ppl_docs": 0,
}


def text_reference_profile(
    ref: DataFrame,
    column: str,
    topic_column: str | None = None,
    keys: list[str] | tuple = (),
) -> dict:
    """Frozen text profile of every cell: vocab counts + style row +
    own-LM mean perplexity (+ topic distribution when ``topic_column``
    is given).  ``keys`` groups it per key tuple (the reference's
    per-provider semantic loop); rows with any NULL key are not profiled.

    Raises when a global window has fewer than MIN_SAMPLES docs — a
    frozen monitor baseline below the detector gate would flag nothing
    forever, which is worse than failing at freeze time — and when a
    keyed window has no docs at all (a small group's baseline must not
    block freezing every other group's).
    """
    keys = list(keys)
    docs = _docs(ref, keys, column, topic_column).dropna(subset=keys)
    w = _window(docs, keys, column, topic_column)
    n = sum(s["n"] for s in w.values())
    if not keys and n < MIN_SAMPLES:
        raise ValueError(
            f"reference window has {n} non-null {column} docs "
            f"(< MIN_SAMPLES={MIN_SAMPLES}) — refusing to freeze a gated baseline"
        )
    if not n:
        raise ValueError(f"reference window has no non-null {column} docs")
    ppl = _window_ppl(docs, keys, column, {g: s["vocab"] for g, s in w.items()})
    empty = {**_EMPTY_CELL, **({"topics": {}, "topics_n": 0} if topic_column else {})}
    header: dict = {"kind": "text" + "_grouped" * bool(keys), "column": column}
    if keys:
        header["keys"] = keys
    if topic_column is not None:
        header["topic_column"] = topic_column
    return with_cells(header, {
        g: _fold(empty, s, ppl.get(g, (0.0, 0)), s["vocab"], topic_column)
        for g, s in w.items()
    })


def _lm_js(old: dict, old_total: int, merged: dict) -> float:
    """Jensen-Shannon between two unigram distributions (old ⊆ merged
    vocabulary) — O(|vocab|) driver math."""
    ot, mt = max(old_total, 1), max(sum(merged.values()), 1)
    js = 0.0
    for t, mc in merged.items():
        pr, pm = old.get(t, 0) / ot, mc / mt
        m = (pr + pm) / 2
        if pr > 0:
            js += 0.5 * pr * math.log(pr / m + 1e-10)
        if pm > 0:
            js += 0.5 * pm * math.log(pm / m + 1e-10)
    return js


def update_text_reference_profile(
    profile: dict,
    new_data: DataFrame,
    lm_divergence_threshold: float = 0.1,
) -> dict:
    """Incrementally fold ``new_data`` into every cell of a frozen text
    profile: the builder's window pass over the new docs, then
    :func:`_fold` per cell.

    The mergeable components merge EXACTLY (test-asserted against a
    from-scratch rebuild on the concatenated windows): vocab term counts
    (this IS the C11 Laplace LM), the style row and the topic
    distribution.

    ``ref_mean_perplexity`` is NOT exactly mergeable: each old doc's
    perplexity depends on every token's count in the window's OWN LM,
    and the old docs are gone — recovering their scores under the
    merged LM would need the per-(doc, token) matrix, i.e. the corpus.
    The update therefore scores the NEW docs under the MERGED LM (one
    broadcast-join pass, the stream's frozen-LM formula) and mixes
    doc-count-weighted with the stored mean, and — mirroring the
    distribution profile's ``needs_rebin`` contract — reports per cell
    how far the LM itself moved: ``ppl_lm_divergence`` (Jensen-Shannon
    between the old and merged unigram distributions) with
    ``needs_ppl_rescore=True`` above ``lm_divergence_threshold``,
    telling the caller the stored component of the mean is stale and a
    full re-freeze is due at the next maintenance window.  When the new
    window matches the old distribution the divergence is ~0 and the
    mix converges to the true value (test-asserted).

    Keyed profiles: rows of groups with no frozen profile (or a NULL
    key) are counted (``unknown_rows``), never folded — a new provider
    is a re-freeze decision.  Profiles frozen before ``n_sentences`` was
    stored are refused (re-freeze once).  Returns a drop-in
    :func:`stream_text_drift` profile.
    """
    old = cells(profile)
    if any("n_sentences" not in p for p in old.values()):
        raise ValueError(
            "profile lacks n_sentences (frozen by an older builder) — "
            "re-freeze once with text_reference_profile to enable "
            "incremental updates"
        )
    keys = list(profile.get("keys") or ())
    column, topic_col = profile["column"], profile.get("topic_column")
    docs = _docs(new_data, keys, column, topic_col)
    w = _window(docs, keys, column, topic_col)
    fold = {g: s for g, s in w.items() if g in old and s["n"]}
    vocabs = {}
    for g, s in fold.items():
        vocabs[g] = dict(old[g]["vocab"])
        for t, c in s["vocab"].items():
            vocabs[g][t] = vocabs[g].get(t, 0) + c
    ppl = _window_ppl(docs, keys, column, vocabs) if fold else {}
    merged = {g: dict(p) for g, p in old.items()}
    for g, s in fold.items():
        js = _lm_js(old[g]["vocab"], old[g]["total_tokens"], vocabs[g])
        merged[g] = {
            **_fold(old[g], s, ppl.get(g, (0.0, 0)), vocabs[g], topic_col),
            "ppl_lm_divergence": float(js),
            "needs_ppl_rescore": bool(js > lm_divergence_threshold),
        }
    out = with_cells(profile, merged)
    if keys:
        out["unknown_rows"] = int(sum(s["n"] for g, s in w.items() if g not in old))
    return out


# ---- the stream ------------------------------------------------------------


def _norm_diff(a: float, b: float) -> float:
    mx = max(a, b)
    return abs(a - b) / mx if mx > 0 else 0.0


def _topic_js(ref_p: dict[str, float], cur_counts: dict[int, int]) -> float:
    """C12's JS (epsilon INSIDE the log, ``semantic.py:244-271``) over
    the union of frozen and batch topics — O(#topics) driver math."""
    tot = float(sum(cur_counts.values())) or 1.0
    js = 0.0
    for k in set(ref_p) | {str(t) for t in cur_counts}:
        pr = ref_p.get(k, 0.0)
        pc = cur_counts.get(int(k), 0) / tot
        m = (pr + pc) / 2
        js += 0.5 * pr * math.log(pr / m + 1e-10) if pr > 0 else 0.0
        js += 0.5 * pc * math.log(pc / m + 1e-10) if pc > 0 else 0.0
    return js


# a known group whose batch docs carry no tokens gets NULL aggregates
# from the left joins; these are the values the global path's empty
# aggregates mean
_ROW_DEFAULTS = {
    "union_n": 1, "inter_n": 0, "js": 0.0, "cur_vocab": 0, "tc_c": 0,
    "awl_num": 0, "ippl": 0.0, "n_sent": 0, "len_sum": 0, "topics": {},
}


def _text_metrics(
    r: dict,
    cell: dict,
    topic_col,
    lexical_threshold: float,
    ppl_threshold: float,
    topic_threshold: float,
) -> tuple:
    """O(1) driver arithmetic (O(#topics) with topics) from one group's
    aggregates: the sink columns between ``n`` and ``gated``."""
    union_n = max(int(r["union_n"]), 1)
    jaccard = 1.0 - int(r["inter_n"]) / union_n
    js = float(r["js"])
    # disjoint vocabularies: bare jaccard (semantic.py:396-398)
    vocab_diff = jaccard if int(r["inter_n"]) == 0 else 0.5 * jaccard + 0.5 * min(js, 1.0)
    st = cell["style"]
    tc = int(r["tc_c"])
    asl = r["len_sum"] / r["n_sent"] if r["n_sent"] else 0.0
    style_diff = (
        0.4 * _norm_diff(st["avg_sentence_len"], float(asl))
        + 0.3 * _norm_diff(st["avg_word_len"], float(r["awl_num"]) / tc if tc else 0.0)
        + 0.3 * abs(st["diversity"] - (int(r["cur_vocab"]) / tc if tc else 0.0))
    )
    lex = 0.6 * vocab_diff + 0.4 * style_diff
    ref_ppl = cell["ref_mean_perplexity"]
    mean_ppl = _denom(cell["vocab"]) * float(r["ippl"])
    rel = abs(mean_ppl - ref_ppl) / max(ref_ppl, 1e-10)
    topic = (None, None, None)
    if topic_col:
        tj = _topic_js(cell["topics"], r["topics"])
        topic = (float(tj), float(min(tj / topic_threshold, 1.0)), bool(tj > topic_threshold))
    return (
        float(jaccard), js, float(vocab_diff), float(style_diff), float(lex),
        bool(lex > lexical_threshold), mean_ppl, float(rel),
        float(min(rel / ppl_threshold, 1.0)), bool(rel > ppl_threshold), *topic,
        bool(lex > lexical_threshold or rel > ppl_threshold or topic[2]),
    )


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
    text profile of either shape; returns the streaming query.

    ONE aggregate tree and one action per batch for every cell (see the
    module docstring).  Rows go to ``<out_dir>/text_metrics`` (global:
    one per epoch, gated ``n=0`` rows included) or
    ``text_metrics_grouped`` (per profiled group, plus the
    ``unknown_group`` / ``empty_batch`` rows), schema
    ``TEXT_METRICS_SCHEMA`` (keyed: keys first, then ``gated_reason``).
    """
    keys = list(profile.get("keys") or ())
    column, topic_col = profile["column"], profile.get("topic_column")
    known = cells(profile)
    # every group's frozen LM, built once per stream
    frozen = _lm_frame(spark, keys, {g: c["vocab"] for g, c in known.items()})

    def batch_rows(batch_df: DataFrame) -> list[tuple]:
        # one source read + one tokenize per micro-batch: every subframe
        # below reuses these two cached slices, dropped with the batch
        docs = _docs(batch_df, keys, column, topic_col).persist()
        toks = _tokens(docs, keys, column).persist()
        try:
            cur = toks.groupBy(*keys, "token").agg(F.count("*").alias("cc"))
            # the batch token totals enter via a broadcast join on the
            # keys (a cross join for a global profile)
            ct = cur.groupBy(*keys).agg(
                F.greatest(F.sum("cc"), F.lit(1)).cast("double").alias("__ct")
            )
            j = join_on(frozen.join(cur, [*keys, "token"], "full_outer"), F.broadcast(ct), keys)
            both = F.col("cr").isNotNull() & F.col("cc").isNotNull()
            p = F.col("cr").cast("double") / F.col("__rt")
            q = F.col("cc").cast("double") / F.col("__ct")
            m = (p + q) / 2
            vocab = j.groupBy(*keys).agg(
                F.count("*").alias("union_n"),
                F.sum(both.cast("bigint")).alias("inter_n"),
                F.sum(
                    F.when(
                        both,
                        0.5 * p * F.log(p / m + 1e-10) + 0.5 * q * F.log(q / m + 1e-10),
                    )
                ).alias("js"),
                F.sum(F.col("cc").isNotNull().cast("bigint")).alias("cur_vocab"),
                F.sum("cc").alias("tc_c"),
                F.sum(F.length("token") * F.col("cc")).alias("awl_num"),
            )
            tree = join_on(
                join_on(_doc_stats(docs, keys, column, topic_col), vocab, keys),
                _ppl_stats(toks, keys, frozen),
                keys,
            )
            rows = {
                group_of(r, keys): {
                    **_ROW_DEFAULTS,
                    **{k: v for k, v in r.asDict().items() if v is not None},
                }
                for r in tree.collect()
            }
        finally:
            toks.unpersist()
            docs.unpersist()
        return epoch_rows(
            keys, known, {g: r["n"] for g, r in rows.items()},
            lambda g: _text_metrics(
                rows[g], known[g], topic_col, lexical_threshold, ppl_threshold,
                topic_threshold,
            ),
            _ZERO, run_id, min_samples,
        )

    return run_stream(
        spark, text_dir, schema, out_dir, "text", keys, _SINK_ROW_SCHEMA,
        batch_rows, available_now, max_files_per_trigger,
    )


# ---- legacy per-shape names: the profile carries the keys ------------------

update_text_reference_profile_grouped = update_text_reference_profile
stream_text_drift_grouped = stream_text_drift


def text_reference_profile_grouped(ref, keys, column, topic_column=None):
    """:func:`text_reference_profile` per group of ``keys``."""
    return text_reference_profile(ref, column, topic_column, keys=keys)
