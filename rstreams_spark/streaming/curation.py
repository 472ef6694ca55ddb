"""Stateless curation operators for ingest-time streams.

``stream_quality_repetition`` applies the Gopher-style repetition
cuts (batch twin: ``queries.textq.quality_repetition``) to a LIVE
document stream. Per-document gram statistics need no cross-row
state, so the operator is a stateless Arrow ``mapInPandas`` —
streaming-safe in append mode with no watermark, shuffle, or state
store, and embarrassingly parallel at any scale (each task scores
its own batch; the 100 TB ingest shape).

The kernel reproduces the batch query's integer algebra exactly —
same normalization (lowercase, non-alnum runs → one space, trim),
same char accounting (count × gram length over normalized length),
same multiplication-only keep thresholds — so the two
implementations cross-check each other (tests assert row-level
equality against the batch/oracle-verified query).

Decontamination gates, both fully JVM-native (no Python per row):

1. ``stream_decontaminate_ngrams_native`` — the DEFAULT. Tokenize +
   n-gram assembly + xxhash64-InSet membership all inside
   whole-stage codegen. Eval shards up to ``EVAL_GRAM_MAX`` distinct
   grams; keeps match the batch oracle
   (``queries.dedupq.decontaminate_ngrams``) up to xxhash64
   collisions.
2. ``stream_decontaminate_ngrams_bloom`` — past the InSet budget:
   k getbit probes against one packed-long array literal, O(1)
   per-trigger planning, ~8M-gram capacity, ~5e-4 FPR (false
   positives over-drop — the safe direction).
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..queries.textq import (
    REP_DUP3_DEN, REP_DUP3_NUM, REP_TOP2_DEN, REP_TOP2_NUM,
)

__all__ = [
    "stream_quality_repetition", "stream_source_mix",
    "stream_budget_sample", "stream_sanitize_measures",
    "eval_gram_hashes",
    "stream_decontaminate_ngrams_native",
    "eval_gram_bloom", "stream_decontaminate_ngrams_bloom",
]

_NORM_RE = re.compile(r"[^a-z0-9]+")

_STATS_SCHEMA = (
    "n_words bigint, dup_word_frac double, "
    "top2gram_char_frac double, dup3gram_char_frac double, keep boolean"
)


def _score(text: str):
    # İ→I before lower: Python's str.lower matches the JVM ('i' +
    # combining dot), so the fold keeps this kernel in lockstep with
    # the batch twin's portable normalizer (text.py::_fold_i)
    toks = _NORM_RE.sub(" ", text.replace("İ", "I").lower()).strip().split()
    if not toks:
        return None
    nc = max(len(" ".join(toks)), 1)  # == normalized text length
    w_total, w_distinct = len(toks), len(set(toks))
    g2 = Counter(zip(toks, toks[1:]))
    g3 = Counter(zip(toks, toks[1:], toks[2:]))
    # gram char length = word lengths + (n-1) separators
    top2 = max(
        (cnt * (len(a) + len(b) + 1) for (a, b), cnt in g2.items()),
        default=0,
    )
    dup3 = sum(
        cnt * (len(a) + len(b) + len(c) + 2)
        for (a, b, c), cnt in g3.items()
        if cnt > 1
    )
    keep = (
        top2 * REP_TOP2_DEN <= nc * REP_TOP2_NUM
        and dup3 * REP_DUP3_DEN <= nc * REP_DUP3_NUM
    )
    return (
        w_total,
        (w_total - w_distinct) / max(w_total, 1),
        top2 / nc,
        dup3 / nc,
        keep,
    )


def stream_quality_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition stats + keep flag over a (possibly
    streaming) DataFrame. Documents with zero tokens are dropped —
    the batch twin's gram explode drops them identically."""
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, {_STATS_SCHEMA}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = _score(text or "")
                if s is not None:
                    rows.append((doc_id, *s))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_words", "dup_word_frac",
                    "top2gram_char_frac", "dup3gram_char_frac", "keep",
                ],
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def stream_source_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Live corpus-mix monitor: running per-source doc and token
    counts over a document stream (update-mode streaming aggregation,
    one row of state per source — the bounded dimension). The batch
    twin ``queries.textq.source_mix`` derives α-temperature weights
    from the same counts; on a stream the counts are the useful
    monitoring surface (weights need the cross-source normalizer,
    which a sink-side query computes from this table's snapshot).
    """
    from pyspark.sql import functions as F

    from ..functions.text import tokens

    return (
        df.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens(F.col(text_col))).cast("long")).alias("n_tokens"),
        )
    )


def stream_budget_sample(
    df: DataFrame,
    budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Live per-source token-budget admission — the streaming
    counterpart of ``queries.textq.budget_sample``: each source
    admits documents while its cumulative admitted token count is
    under ``budget`` (prior-sum semantics: a doc is admitted when
    the running total BEFORE it is < budget, so every source admits
    ≥1 doc and only the last admitted doc can overflow). Once a
    source's budget is exhausted every later doc is dropped — the
    ingest-time mixing gate.

    Arrival order is the admission order (on a live firehose "first
    seen" IS the order — cf. ``stream_span_dedup``); within a
    microbatch rows are processed in global (ts, id) order across
    Arrow chunks (CLAUDE.md invariant 7: chunks concatenate BEFORE
    the sort), so a bounded replay is deterministic. The batch twin
    orders by content hash instead — replaying events in hash order
    reproduces the batch keeper set exactly (parity-tested). State
    is ONE long per source; output mode append.
    """
    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"{source_col} string, {id_col} {id_type}, "
        f"{tokens_col} bigint, cum_before bigint"
    )

    def fn(group_key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        cum = state.get[0] if state.exists else 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        # NULL-robust: a record missing ts sorts FIRST (deterministic,
        # never NaN-last-by-accident), a missing token count consumes
        # no budget but may be admitted — the batch twin computes
        # n_tokens itself and can never see null, so the live gate
        # must not die on a malformed record (pd.isna covers the
        # None→NaN coercion Arrow applies to nullable numerics)
        whole = (
            pd.concat(chunks).sort_values(
                [ts_col, id_col], na_position="first"
            )
            if chunks
            else pd.DataFrame()
        )
        ids, toks, cbs = [], [], []
        if len(whole):
            for i, n in zip(whole[id_col], whole[tokens_col]):
                n = 0 if pd.isna(n) else int(n)
                if cum < budget:
                    ids.append(i)
                    toks.append(n)
                    cbs.append(cum)
                cum += n
        state.update((cum,))
        yield pd.DataFrame(
            {
                source_col: [group_key[0]] * len(ids),
                id_col: ids,
                tokens_col: toks,
                "cum_before": cbs,
            }
        )

    return (
        df.select(source_col, id_col, ts_col, tokens_col)
        .groupBy(source_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType="cum long",
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


MEASURE_DOMAIN = 1e9  # the batch engine's exact micros-sum bound


def stream_sanitize_measures(
    df: DataFrame,
    cols,
    bound: float = MEASURE_DOMAIN,
    mode: str = "drop",
) -> DataFrame:
    """Ingest gate for measure domains: keep rows whose measure
    columns are NULL or finite with ``|x| < bound`` — the exact
    domain the batch engine's micros sums enforce loudly (CLAUDE.md
    invariant 19; queries/tpch.py::_finite_or_raise). Parser junk
    (NaN/±Inf) and overflow garbage (1e15, 1e300) otherwise reach
    stateful window sums as plain doubles, where absorption corrupts
    carried state silently — the streaming twin of the batch
    huge_values/nonfinite probe findings.

    One ``abs(x) < bound`` comparison per column covers NaN, ±Inf
    and magnitude (NaN compares false); pure whole-stage-codegen
    filter — stateless, streaming-safe in append mode, no Python
    per row, pipelines with the source scan at any scale.

    ``mode="drop"`` thins junk out of the stream (curation
    semantics, like the quality/decontamination gates);
    ``mode="fail"`` raises the batch guard's message on the first
    out-of-domain row, for pipelines where a corrupt producer must
    STOP ingest rather than thin it.
    """
    from pyspark.sql import functions as F

    if mode not in ("drop", "fail"):
        raise ValueError(f"mode must be 'drop' or 'fail', got {mode!r}")
    names = [cols] if isinstance(cols, str) else list(cols)
    out = df
    for c in names:
        ok = F.col(c).isNull() | (F.abs(F.col(c)) < F.lit(float(bound)))
        if mode == "drop":
            out = out.where(ok)
        else:
            out = out.where(
                F.when(ok, F.lit(True)).otherwise(
                    F.raise_error(
                        F.format_string(
                            # the column name rides as a %s ARGUMENT,
                            # never f-string-interpolated into the
                            # template — a '%' in a name would corrupt
                            # the format spec
                            "measure outside exact micros-sum domain"
                            f" (finite, |x| < {bound:g} required)"
                            " in column %s: %s",
                            F.lit(c),
                            F.col(c).cast("string"),
                        )
                    )
                )
            )
    return out


EVAL_GRAM_MAX = 500_000  # InSet literal budget. Deliberately modest
# (ADVICE r6): the isin() list crosses py4j as plan literals and —
# under Structured Streaming's per-microbatch re-analysis — that
# marshalling + hash-set rebuild recurs EVERY trigger, so a
# 2M-literal budget taxed latency-sensitive small-batch streams.
# 500k literals keep per-trigger planning in the tens-of-ms band;
# larger eval shards belong on the Bloom gate
# (eval_gram_bloom/stream_decontaminate_ngrams_bloom: one packed
# array literal, O(1) per-trigger planning, ~8M-gram capacity).


def eval_gram_hashes(spark, eval_docs: DataFrame, text_col: str = "text",
                     n: int = 3) -> tuple[int, list[int]]:
    """``(n, sorted xxhash64 list)`` of the eval shard's distinct
    word n-grams — the setup half of the NATIVE ingest gate
    (``stream_decontaminate_ngrams_native``). Hashes are computed by
    Spark's own ``xxhash64`` so the gate's per-gram probe is the
    IDENTICAL function by construction (CLAUDE.md invariant 12:
    equality-only internal keys ride native xxhash64, never the
    portable md5 — no oracle ever reproduces these values). The
    collect is bounded by ``EVAL_GRAM_MAX`` — an eval shard past the
    literal budget should feed a Bloom-filter build instead (same
    call shape, probabilistic drop; this exact set is that variant's
    oracle)."""
    from pyspark.sql import functions as F

    from ..functions.dedup import doc_shingles

    rows = (
        doc_shingles(eval_docs, text_col, n)
        .select(F.xxhash64("shingle").alias("h"))
        .distinct()
        .limit(EVAL_GRAM_MAX + 1)
        .collect()
    )
    if len(rows) > EVAL_GRAM_MAX:
        raise ValueError(
            f"eval_gram_hashes: eval shard exceeds {EVAL_GRAM_MAX} "
            "distinct grams — build a Bloom filter for the gate "
            "instead of an exact InSet"
        )
    return n, sorted(r["h"] for r in rows)


def stream_decontaminate_ngrams_native(
    df: DataFrame,
    eval_gram_set: tuple[int, list[int]],
    text_col: str = "text",
) -> DataFrame:
    """Fully JVM-native live decontamination gate — the streaming
    counterpart of ``queries.dedupq.decontaminate_ngrams`` as an
    INGEST-TIME gate: any document sharing a word n-gram with the
    eval set is dropped before it lands in the corpus. Tokenization,
    n-gram assembly and membership all run inside whole-stage
    codegen. Membership is ``xxhash64(gram) ∈
    InSet(literal longs)`` — Catalyst converts the ``isin`` over a
    static list into a hash-set probe built once per PLAN, so the
    per-gram cost is one native hash + one set lookup, no broadcast
    variable, no shuffle, no state; a stateless projection that
    pipelines with the ingest scan (and, unlike an explode +
    semi-join formulation, never needs the unsupported stream-stream
    anti-join back onto the document stream). Under Structured
    Streaming, incremental planning re-analyzes the expression tree
    each microbatch, so the hash-set rebuild recurs per trigger —
    driver-side cost bounded by ``EVAL_GRAM_MAX`` literals; latency-
    sensitive small-batch streams with very large eval shards should
    size the shard (or move to the documented Bloom variant) with
    that per-trigger planning cost in mind.

    ``eval_gram_set`` is the ``(n, hashes)`` pair exactly as
    ``eval_gram_hashes`` returns it — n rides INSIDE the payload so
    the gate can never probe k-grams against a j-gram hash set (a
    mismatch would silently disable the gate — zero grams match,
    zero docs drop).

    Keep decision parity with the batch oracle is exact up to
    xxhash64 collisions between a document gram and an eval gram
    (P ≈ |doc grams|·|eval|/2⁶⁴ — vanishing; parity-tested on the
    full fixture against the batch oracle).
    NULL/empty text yields an empty gram array (``exists`` → false),
    matching the batch oracle's pass-through of tokenless docs.
    """
    from pyspark.sql import functions as F

    from ..functions.dedup import shingles
    from ..functions.text import tokens

    n, gram_hashes = eval_gram_set
    contaminated = F.exists(
        shingles(tokens(F.col(text_col)), n),
        lambda g: F.xxhash64(g).isin(gram_hashes),
    )
    return df.where(~F.coalesce(contaminated, F.lit(False)))


BLOOM_BITS_PER_GRAM = 16   # m/n ratio; k = ⌊(m/n)·ln2⌋ ≈ 11 → FPR ≈ 5e-4
BLOOM_K = 11
BLOOM_MAX_BITS = 1 << 27   # 16 MB of packed longs per plan literal —
#                            capacity ≈ 8M grams at 16 bits/gram


def eval_gram_bloom(
    spark,
    eval_docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    bits_per_gram: int = BLOOM_BITS_PER_GRAM,
    k: int = BLOOM_K,
) -> tuple[int, int, int, list[int]]:
    """Bloom-filter build for the ingest decontamination gate — the
    scale path past ``eval_gram_hashes``' ``EVAL_GRAM_MAX`` exact
    InSet budget. Returns ``(n, k, m, words)``: gram order ``n``
    rides inside the payload (the same can't-mix-n defense as the
    InSet gate), ``k`` probe hashes, ``m`` filter bits (power of
    two), and ``words`` = m/64 packed longs.

    The build is one distributed Spark job — no gram list ever
    touches the driver: distinct eval shingles fan out to their k
    bit positions (``xxhash64(shingle, i) & (m-1)`` — the IDENTICAL
    native expression the probe side evaluates, so membership parity
    is by construction), positions pack into (word, mask) pairs, and
    a ``bit_or`` aggregation collapses them to at most m/64 word
    rows. Only those bounded words are collected.

    Sizing: m = next power of two ≥ n_grams × bits_per_gram (the
    distinct-gram count is one counting aggregate, not a collect),
    giving FPR = (1 − e^(−kn/m))^k ≈ 5e-4 at the defaults —
    false positives DROP clean documents (the safe direction for
    decontamination); false negatives are impossible. A shard whose
    filter would exceed ``BLOOM_MAX_BITS`` raises instead of
    shipping an unbounded literal (same fail-loud contract as the
    InSet gate's budget).
    """
    from pyspark.sql import functions as F

    from ..functions.dedup import doc_shingles

    # grams feeds the sizing count AND the position aggregation —
    # lazy localCheckpoint materializes the shingle+distinct pipeline
    # once (invariant 9)
    grams = (
        doc_shingles(eval_docs, text_col, n)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_grams = grams.count()
    m = 1024
    while m < n_grams * bits_per_gram:
        m <<= 1
    if m > BLOOM_MAX_BITS:
        raise ValueError(
            f"eval_gram_bloom: {n_grams} grams need {n_grams * bits_per_gram} "
            f"bits > BLOOM_MAX_BITS={BLOOM_MAX_BITS}; shard the eval set or "
            "raise bits-per-gram capacity deliberately"
        )
    pos_cols = [
        F.xxhash64("shingle", F.lit(i)).bitwiseAND(F.lit(m - 1))
        for i in range(k)
    ]
    rows = (
        grams.select(F.explode(F.array(*pos_cols)).alias("p"))
        .select(
            F.shiftright("p", 6).cast("int").alias("w"),
            # variable-amount shift: SQL shiftleft accepts an
            # expression shift count (the Python API wrapper does not)
            F.expr("shiftleft(1L, int(p & 63))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return n, k, m, words


def stream_decontaminate_ngrams_bloom(
    df: DataFrame,
    bloom: tuple[int, int, int, list[int]],
    text_col: str = "text",
) -> DataFrame:
    """Bloom-probed live decontamination gate — same fully-native
    shape as ``stream_decontaminate_ngrams_native`` (tokenize +
    n-gram assembly + membership inside whole-stage codegen, no
    Python per row, no shuffle, no state) but the membership probe
    is k ``getbit`` lookups against ONE packed-long array literal
    instead of an ``EVAL_GRAM_MAX``-literal InSet. That makes the
    per-microbatch incremental-planning cost O(1) — re-analysis
    walks a single Literal node, not millions of In children — and
    lifts the eval-shard capacity to ``BLOOM_MAX_BITS/bits_per_gram``
    (~8M grams at the defaults, ~4× the InSet gate's budget, in a
    16 MB plan literal).

    Semantics vs the InSet gate: every document the InSet gate drops
    is dropped here too (a Bloom filter has no false negatives), and
    clean documents are additionally dropped with probability ≈ the
    filter's FPR per gram (~5e-4 at the defaults) — over-dropping is
    the safe direction for decontamination. The probe positions are
    the same native ``xxhash64(gram, i) & (m-1)`` expressions the
    build evaluated, so build/probe agreement is by construction.
    The k probe indices are let-bound via ``transform`` so each
    position hashes once (invariant 5); NULL/empty text passes
    through exactly like the InSet gate.
    """
    from pyspark.sql import functions as F

    from ..functions.dedup import shingles
    from ..functions.text import tokens

    import numpy as np

    n, k, m, words = bloom
    # ONE true array<bigint> Literal: a plain Python list would (a)
    # expand to a CreateArray of m/64 child literals — re-analyzed
    # per microbatch, defeating this gate's O(1)-planning rationale —
    # and (b) infer array<int> when every word happens to fit int32,
    # making getbit(pos >= 32) throw BIT_POSITION_RANGE at runtime.
    bloom_lit = F.lit(np.array(words, dtype=np.int64))
    k_lits = F.array(*[F.lit(i) for i in range(k)])

    def hit(g):
        positions = F.transform(
            k_lits, lambda i: F.xxhash64(g, i).bitwiseAND(F.lit(m - 1))
        )
        return F.forall(
            positions,
            lambda p: F.getbit(
                F.get(bloom_lit, F.shiftright(p, 6).cast("int")),
                p.bitwiseAND(F.lit(63)),
            )
            == F.lit(1),
        )

    contaminated = F.exists(shingles(tokens(F.col(text_col)), n), hit)
    return df.where(~F.coalesce(contaminated, F.lit(False)))
