"""The entity-resolution core: one formulation, ``er_ids_plan``.

Dataflow (the reference's ``POST /el`` flow, `src/pipeline.py:314-338`,
in Spark terms), each step at the coarsest granularity that preserves its
semantics:

    documents ── explode ──> occurrences(doc_id, span_idx, node, raw_id)
    distinct raw texts ── normalize ──> (raw_id, norm_mention, nm_id)
    kb tables ── prepare_kb ──> aliases(resolved qid, block_key) ⋈ vectors
    block:   distinct norms ⋈ aliases ON block_key  [replaces faiss ANN]
    score:   batched JW + Levenshtein + cosine      [replaces BERT + Qwen]
    assign:  per-signature top-k -> rank-1 winner above threshold
    fan-out: winner -> raws -> occurrences on 64-bit ids -> edges
    cluster: large-star/small-star CC -> cluster ids

``Pin`` is the one materialization policy for the frames several stages
consume (lazy memory, eager checkpoint, or durable snapshot).
``run_pipeline`` is the core under the snapshot policy plus lineage
counters and the span-sequence invariant check; streaming runs the
assignment half (``signature_winners``) per micro-batch.

Python crosses the JVM boundary in two Arrow-batched stages, each once per
DISTINCT text, never per occurrence: KB featurization (the vocab KB's
``derive_vocab_kb_df``, or the datagen KB) and the signature scorer
(``score_pair_sigs``).  Everything else is whole-stage-codegen'd Catalyst
expressions.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, asdict

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from wdel_spark.functions.textnorm import normalize_col, block_key_col
from wdel_spark.functions.scoring import (
    hash_embed,
    seq_cosine_batch,
    pair_score_batch,
    EMBED_DIM,
)
from wdel_spark.operators.topk import top_k_per_group
from wdel_spark.operators.skew import salted_join
from wdel_spark.operators.cc import connected_components
from wdel_spark.sources.snapshot import (
    write_snapshot,
    read_snapshot,
    read_manifest,
    snapshot_is_valid,
)


@dataclass(frozen=True)
class PipelineParams:
    top_k: int = 10            # reference: /root/reference/src/pipeline.py:54
    score_threshold: float = 0.3
    join_strategy: str = "broadcast"   # broadcast | sortmerge | salted
    salt_mod: int = 16
    hot_threshold: int = 100_000
    cc_max_iterations: int = 25
    # 122-bit decimal node/raw/nm ids (see _wide_id) for 10^12-row scale;
    # default narrow longs are faster and collision-safe below ~10^10 nodes
    wide_ids: bool = False

    def digest(self) -> str:
        return hashlib.sha256(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()[:16]


# ------------------------------------------------------ materialization

class Pin:
    """The one materialization hook: ``pin(name, df)`` returns ``df``
    evaluated at most once for its several consumers, and records it under
    ``name``.  Three policies:

      lazy       — MEMORY_ONLY persist, no job of its own: the cache fills
                   on first use.  For small frames consumed inside a few
                   jobs (the testdata paths): an eager pin is a full extra
                   job launch each (r6 A/B at sf1.0: flagship e2e
                   6.52/6.76/7.09 -> 6.15/6.29/6.50 s).
      checkpoint — eager ``localCheckpoint``.  For compute-heavy frames: a
                   MEMORY_ONLY block evicted under memory pressure
                   recomputes the whole upstream chain, Python scorer
                   included (r4 stored corpus at local[8]: 38.6 -> 234 s),
                   while checkpoint blocks spill to disk.
      snapshot   — durable parquet snapshot + manifest at
                   ``workdir/<name>``, skipped on rerun when its manifest
                   carries ``input_hash`` (``resume=True``); CC checkpoints
                   each iteration under ``cc_workdir``.

    ``df`` may also be a zero-argument function that returns the frame:
    the snapshot policy calls it only when the snapshot is missing, so a
    frame whose construction runs jobs (``er_ids_plan`` runs CC) is not
    rebuilt on resume.

    ``row_counts`` gives each pinned frame's rows; under the snapshot
    policy they come from the manifests of every snapshot of this input
    in ``workdir``, so no count job runs."""

    POLICIES = ("lazy", "checkpoint", "snapshot")

    def __init__(self, policy: str = "checkpoint", workdir: str | None = None,
                 input_hash: str = "", resume: bool = True):
        if policy not in self.POLICIES:
            raise ValueError(f"unknown pin policy {policy!r}")
        if (policy == "snapshot") != (workdir is not None):
            raise ValueError("a workdir is needed by, and only by, the "
                             "snapshot policy")
        self.policy = policy
        self.workdir = workdir
        self.input_hash = input_hash
        self.resume = resume
        self.cc_workdir = (os.path.join(workdir, "cc_iters")
                           if workdir is not None else None)
        self.pinned: dict[str, DataFrame] = {}

    def __call__(self, name: str, df) -> DataFrame:
        build = df if callable(df) else lambda: df
        if self.policy == "lazy":
            out = build().persist(StorageLevel.MEMORY_ONLY)
        elif self.policy == "checkpoint":
            out = build().localCheckpoint(eager=True)
        else:
            path = os.path.join(self.workdir, name)
            if not (self.resume
                    and snapshot_is_valid(path, name, self.input_hash)):
                write_snapshot(build(), path, name, self.input_hash)
            out = read_snapshot(SparkSession.active(), path)
        self.pinned[name] = out
        return out

    def row_counts(self) -> dict[str, int]:
        if self.policy == "snapshot":
            manifests = (read_manifest(os.path.join(self.workdir, n))
                         for n in os.listdir(self.workdir))
            return {m["stage"]: m["row_count"] for m in manifests
                    if m and m["input_hash"] == self.input_hash}
        return {n: df.count() for n, df in self.pinned.items()}


def explode_mentions(documents: DataFrame) -> DataFrame:
    """Interleaved documents -> one (doc_id, span_idx, raw) row per mention
    span.  ``posexplode`` keeps the span's array position as ``span_idx``,
    the stable mention key (Spark must never rely on row order, SURVEY.md
    §2 J4); the ``documents`` rows themselves are untouched."""
    return (
        documents.select(
            "doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .where(F.col("span.kind") == "mention")
        .select("doc_id", "span_idx", F.col("span.text").alias("raw"))
    )


# ------------------------------------------------------------------ KB prep

def prepare_kb(
    kb_aliases: DataFrame,
    entity_vectors: DataFrame,
    redirects: DataFrame | None = None,
    wikimedia_filter: DataFrame | None = None,
) -> DataFrame:
    """Alias blocking table with redirect-normalized qids, wikimedia-internal
    entities dropped, entity vector attached.

    Mirrors the reference KB-merge semantics: redirect join
    (`merge_info.py:36-37,104,135` — left join + coalesce, J3), wikimedia
    anti-filter (`merge_info.py:107-109`, P6).  The redirect table is small
    → broadcast; the anti-join probe side too.
    """
    a = kb_aliases
    if redirects is not None:
        a = (
            a.join(F.broadcast(redirects),
                   a["qid"] == redirects["src_qid"], "left")
            .select(
                F.coalesce("dst_qid", "qid").alias("qid"),
                "alias", "norm_alias", "block_key", "lang", "is_label",
            )
        )
    if wikimedia_filter is not None:
        a = a.join(F.broadcast(wikimedia_filter), "qid", "left_anti")
    a = a.dropDuplicates(["qid", "block_key", "norm_alias"])
    return a.join(entity_vectors.withColumnRenamed("vec", "e_vec"), "qid")


# ------------------------------------------ block + score (signatures)

_SIG_SCORE_SCHEMA = "norm_mention string, qid string, score double"


def candidate_signatures(
    mentions: DataFrame,
    kb: DataFrame,
    params: PipelineParams = PipelineParams(),
    assume_unique: bool = False,
) -> DataFrame:
    """Blocking join at SIGNATURE granularity.

    Mention texts repeat massively at web scale (the hot alias owns 30% of
    mentions in the skew fixture), but the score is a pure function of
    (norm_mention, norm_alias, entity vector) — so we block and score each
    distinct signature once and fan results back out to occurrences with a
    cheap join.  Side effect: the hot blocking key collapses to ONE probe
    row, eliminating the join skew at its source (salting remains for the
    occurrence fan-out join when the signature table outgrows broadcast).

    Output: distinct SLIM (norm_mention, norm_alias, qid) — the entity
    vector is deliberately NOT attached here: every downstream shuffle
    (dedupe, compute-repartition before the python scorer) would carry a
    512-byte vector per row for nothing (~10x the shuffle bytes,
    measured); ``score_pair_sigs`` re-attaches vectors AFTER its
    repartition.

    ``assume_unique=True`` is a caller assertion (r6, guide §2.4) that
    (a) the probe side is already one row per norm_mention and (b) the KB
    side is unique per (block_key, norm_alias, qid) — true for
    ``prepare_kb``/``derive_vocab_kb_df`` output, whose final dedup is on
    exactly those columns (block_key is a function of norm_alias).  Under
    both, the equi-join output is structurally duplicate-free, so the
    probe-side ``distinct`` and the output ``dropDuplicates`` — two full
    exchanges of the signature table — are skipped outright.
    """
    sigs = mentions.where(F.col("block_key") != "").select(
        "norm_mention", "block_key")
    if not assume_unique:
        sigs = sigs.distinct()
    k = kb.where(F.col("block_key") != "")
    k_slim = k.select("block_key", "norm_alias", "qid")
    if params.join_strategy == "broadcast":
        joined = sigs.join(F.broadcast(k_slim), "block_key")
    elif params.join_strategy == "salted":
        # explicit hot-key salting (operators/skew.py) — the signature
        # probe side is already distinct per (norm_mention, block_key), so
        # salt by the mention text
        joined = salted_join(
            sigs, k_slim, "block_key",
            salt_mod=params.salt_mod,
            hot_threshold=params.hot_threshold,
            probe_salt_cols=["norm_mention"],
        )
    else:  # sort-merge: spread both sides, let AQE split residual skew
        joined = sigs.repartition("block_key").join(
            k_slim.hint("merge"), "block_key")
    out = joined.select("norm_mention", "norm_alias", "qid")
    if assume_unique:
        return out
    return out.dropDuplicates(["norm_mention", "norm_alias", "qid"])


def score_pair_sigs(pair_sigs: DataFrame, kb: DataFrame) -> DataFrame:
    """Batched scorer over distinct signatures.

    ``pair_sigs``: slim (norm_mention, norm_alias, qid) from
    ``candidate_signatures``; ``kb``: any frame carrying (qid, e_vec).
    The slim sigs are repartitioned for python-compute balance FIRST and
    the 512-byte entity vectors join (broadcast) AFTER — the shuffle
    moves ~60 bytes/row instead of ~600 (measured 10x).

    Embeds each distinct norm_mention once per Arrow batch (further
    deduped in-batch; the gram memo makes repeats cheap), scores against
    the entity vector + alias string, and collapses alias variants to the
    per-(mention, qid) max — the same value the pandas oracle's
    per-occurrence scoring + per-pair max produces.

    Design note (r4): a variant that moved the cosine JVM-side (embed
    per distinct norm in one stage, ``aggregate(zip_with(...))`` dot per
    candidate row) to keep vectors out of Arrow was measured and
    REJECTED on a like-for-like A/B at local[8]/1M docs: interpreted
    higher-order functions allocate a 128-double array per row, and the
    vector re-attach join shuffles 512 B/norm — 528 -> 822 executor
    cpu-s (101 -> 171 s wall).  The Arrow-batched numpy cosine is the
    cheaper path even counting the e_vec transfer; the cosine kernel is
    ``seq_cosine_batch`` (sequential-double fold) shared verbatim with
    the pandas oracle, so score equality stays bit-exact."""

    def scorer(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            norms = pdf["norm_mention"].tolist()
            uniq = sorted(set(norms))
            uvecs = hash_embed(uniq, EMBED_DIM)
            idx = {n: i for i, n in enumerate(uniq)}
            mv = uvecs[[idx[n] for n in norms]]
            ev = np.array([np.asarray(v, dtype=np.float32)
                           for v in pdf["e_vec"]])
            cos = seq_cosine_batch(mv, ev)
            scores = pair_score_batch(
                norms, pdf["norm_alias"], cos, lev=pdf["lev"].to_numpy())
            yield pd.DataFrame({
                "norm_mention": norms,
                "qid": pdf["qid"],
                "score": scores,
            })

    # Levenshtein via the Catalyst builtin (JVM, codegen) — the Arrow
    # batch carries the precomputed distance; Python only does batched
    # numpy (JW + cosine + combine).  Respread before the python stage
    # with an AQE REBALANCE (r6, guide §2): the former fixed
    # ``repartition(2 x parallelism)`` scheduled that many python tasks
    # regardless of input size — ~64 near-empty tasks when the sig table
    # is small — while REBALANCE sizes partitions from the runtime byte
    # count against the session's 8 MB advisory (deliberately small so
    # python-compute-heavy stages still get many waves at scale; see
    # session.py).
    evec = kb.select("qid", "e_vec").dropDuplicates(["qid"])
    with_lev = (
        pair_sigs.hint("rebalance")
        .join(F.broadcast(evec), "qid")
        .withColumn("lev", F.levenshtein("norm_mention", "norm_alias"))
    )
    scored = with_lev.mapInPandas(scorer, schema=_SIG_SCORE_SCHEMA)
    return scored.groupBy("norm_mention", "qid").agg(
        F.max("score").alias("score"))


def rank_signature_scores(
    sig_scores: DataFrame, params: PipelineParams = PipelineParams()
) -> DataFrame:
    """Per-SIGNATURE top-k: (norm_mention, qid, score, rank).

    A mention occurrence's candidate ranking depends only on its
    normalized text — score and tie-break (score desc, qid asc) are pure
    functions of the signature — so ranking BEFORE the occurrence fan-out
    is semantics-identical to ranking after it, while the window shuffles
    |signatures| x k rows instead of |occurrences| x |candidates| (the
    single largest shuffle of the round-2 plan; r2 VERDICT #1c)."""
    return top_k_per_group(
        sig_scores, ["norm_mention"],
        [F.desc("score"), F.asc("qid")], params.top_k)


def signature_winners(
    sig_scores: DataFrame, params: PipelineParams = PipelineParams()
) -> DataFrame:
    """Scored signatures -> each normalized text's rank-1 entity above
    ``params.score_threshold``: (norm_mention, qid, score).  The
    assignment half of the core; ``er_ids_plan`` encodes the winners into
    ids, streaming joins them to each micro-batch's occurrences."""
    return rank_signature_scores(sig_scores, params).where(
        (F.col("rank") == 1) & (F.col("score") >= params.score_threshold)
    ).select("norm_mention", "qid", "score")


def _fanout_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    strategy: str,
    build_rows: int | None,
    broadcast_max_rows: int,
    salt_mod: int,
    hot_threshold: int,
    probe_salt_cols: list[str],
) -> DataFrame:
    """Strategy-aware fan-out join of ``er_ids_plan``'s id-keyed attach
    steps.

      broadcast — force a broadcast hash join (build side known small);
      salted    — shuffle join with explicit hot-key salting
                  (operators/skew.py): occurrences of one hot key
                  otherwise all land in one partition;
      shuffle   — plain shuffle join; AQE converts to broadcast or splits
                  skew at runtime;
      auto      — broadcast when ``build_rows`` is known and small enough;
                  salted when known and larger; unhinted when unknown.

    All strategies are semantics-preserving (tested identical)."""
    if strategy == "auto":
        if build_rows is None:
            strategy = "shuffle"
        elif build_rows <= broadcast_max_rows:
            strategy = "broadcast"
        else:
            strategy = "salted"
    if strategy == "broadcast":
        return probe.join(F.broadcast(build), key)
    if strategy == "salted":
        return salted_join(
            probe, build, key,
            salt_mod=salt_mod,
            hot_threshold=hot_threshold,
            probe_salt_cols=probe_salt_cols,
        )
    if strategy == "shuffle":
        return probe.join(build, key)
    raise ValueError(
        f"unknown attach strategy {strategy!r}; "
        "expected auto|broadcast|salted|shuffle")


# ------------------------------------------------------- node id scheme

_NODE_SPACE = 1 << 61


def _wide_id(seed: str, *cols) -> F.Column:
    """122-bit id as decimal(38,0): two independent 61-bit xxhash64 halves
    composed as ``hi * 2^61 + lo``.

    At 10^12 mentions the 64-bit scheme expects rare birthday collisions
    (~10^24 pairs x 2^-61 ≈ tens of collisions — each one silently merging
    two unrelated clusters); 122 bits pushes the expectation to ~10^-13.
    decimal(38,0) keeps the id a single orderable/groupable/joinable
    column, so every downstream operator (CC's least/greatest/min, the
    fan-out hash joins, salting's xxhash64) works unchanged — values stay
    < 2^123 ≈ 1.06e37, inside decimal(38) range.  Narrow (long) ids remain
    the default: Tungsten compares/hashes longs materially faster than
    128-bit decimals — measured, not asserted: the 1M-doc stored-corpus
    A/B at local[8] (BENCH_WIDEID.json, r5) put the decimal(38) tax at
    6.6x executor CPU / 6.5x wall (1196.8 -> 7881.2 CPU-s), concentrated
    in the id-keyed shuffle/scoring stages plus heavy GC from Decimal
    boxing, so wide ids are a >=10^10-node opt-in, not a default — and
    below ~10^10 nodes the collision risk is negligible."""
    import decimal as _dec

    hi = F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(_NODE_SPACE))
    lo = F.pmod(F.xxhash64(F.lit(seed + "\x01"), *cols), F.lit(_NODE_SPACE))
    d38 = "decimal(38,0)"
    return (
        hi.cast(d38) * F.lit(_dec.Decimal(_NODE_SPACE)).cast(d38)
        + lo.cast(d38)
    ).cast(d38)


def entity_node(qid_col, wide: bool = False) -> F.Column:
    """Entity node id in [0, 2^61) (wide: [0, 2^122)) — always BELOW every
    mention node.

    Domain-aware numbering: with entity ids ordered below mention ids the
    bipartite assignment graph is *already* star-shaped around its
    component minimum, so large-star/small-star converges in one confirm
    pass instead of O(log n) rounds — a pure node-labeling trick, no
    change to the CC operator.  ``wide=True`` (PipelineParams.wide_ids)
    selects the 122-bit decimal composite for 10^12-doc scale."""
    if wide:
        return _wide_id("e", qid_col)
    return F.pmod(F.xxhash64(F.lit("e"), qid_col), F.lit(_NODE_SPACE))


def mention_node(doc_id_col, span_idx_col, wide: bool = False) -> F.Column:
    """Mention node id in [2^61, 2^62) (wide: [2^122, 2^123))."""
    if wide:
        import decimal as _dec

        return (
            _wide_id("m", doc_id_col, span_idx_col)
            + F.lit(_dec.Decimal(1 << 122)).cast("decimal(38,0)")
        ).cast("decimal(38,0)")
    return F.pmod(
        F.xxhash64(F.lit("m"), doc_id_col, span_idx_col), F.lit(_NODE_SPACE)
    ) + F.lit(_NODE_SPACE)


# ------------------------------------------------------------ the core

def er_ids_plan(
    documents: DataFrame | None,
    kb: DataFrame,
    params: PipelineParams = PipelineParams(),
    pin=None,
    mention_spans: DataFrame | None = None,
) -> DataFrame:
    """The ER core: documents + prepared KB -> (doc_id, span_idx,
    cluster_id), one row per mention span.  Every per-occurrence
    computation that is really a function of the mention TEXT runs at the
    coarsest granularity that preserves semantics.

    Round-2's plan normalized and blocking-keyed every occurrence (8.75M
    rows at the 1M-doc bench) and re-scanned + re-exploded the documents
    parquet once per consumer; the SQL-metrics profile showed that single
    fused scan->explode->normalize->block_key->distinct pipeline costing
    ~1,260 of the job's ~2,900 task-seconds.  Granularity ladder here:

      occurrences (8.75M): explode + xxhash64 ids ONLY — pinned once as
          (doc_id, span_idx, node, raw_id);
      distinct raw texts (~1M): normalize (translate + phrase fixups +
          regex folds) runs here, ~9x less text than per-occurrence;
      distinct normalized texts (~0.8M): block_key (split + array_sort)
          and the blocking join run here;
      signatures x candidates: scoring (the python stage) and top-k.

    Everything fans back out through 64-bit-id hash joins; strings never
    enter a per-occurrence shuffle.

    ``pin``: a ``Pin`` (default: the checkpoint policy), or any callable
    ``(name, df) -> df``.  It materializes the multi-consumer frames
    ``raws``, ``occurrences`` (unless ``mention_spans`` is given),
    ``sig_scores`` and ``raw_best``; a ``cc_workdir`` attribute makes CC
    iterations durable too.

    Precondition: ``kb`` is unique per (block_key, norm_alias, qid), as
    ``prepare_kb`` and ``derive_vocab_kb_df`` output is by their final
    dedup (block_key is a function of norm_alias).  The blocking join runs
    with ``assume_unique=True`` and would score a duplicated KB row twice;
    the per-(norm_mention, qid) max in ``score_pair_sigs`` still collapses
    the duplicates, so clusters are unchanged, but the signature table
    grows."""
    if pin is None:
        pin = Pin()
    wide = params.wide_ids
    raw_id = (lambda: _wide_id("raw", "raw")) if wide else (
        lambda: F.xxhash64(F.lit("raw"), "raw"))
    nm_id = (lambda c: _wide_id("nm", c)) if wide else (
        lambda c: F.xxhash64(F.lit("nm"), c))
    # ``mention_spans``: a caller-materialized (doc_id, span_idx, raw)
    # mention table (r6) — skips the spans explode AND the separate occ
    # pin below: projections of an already-pinned slim table are cheaper
    # to recompute per consumer than to persist again.
    pre_extracted = mention_spans is not None
    if pre_extracted:
        spans = mention_spans.select("doc_id", "span_idx", "raw")
    else:
        spans = explode_mentions(documents)
    # normalize at distinct-RAW granularity; key at distinct-NORM.
    # raws pins FIRST, from its own pass over the scan (the distinct
    # collapses to ~1 row per 9 occurrences before anything materializes)
    # so the occurrence pin below never carries the raw TEXT — r4: the
    # occ frame is the job's largest pinned table and every byte in it is
    # re-read by each downstream consumer; dropping the string column
    # cut it ~40%.  Cost: one extra scan+explode of the (columnar,
    # compressed) documents source — cheap next to the reads it saves.
    raws = pin("raws", (
        spans.select("raw").distinct()
        .select(
            raw_id().alias("raw_id"),
            normalize_col(F.col("raw")).alias("norm_mention"),
        )
        .withColumn("nm_id", nm_id(F.col("norm_mention")))
    ))
    occ = spans.select(
        "doc_id", "span_idx",
        mention_node(F.col("doc_id"), F.col("span_idx"), wide).alias("node"),
        raw_id().alias("raw_id"),
    )
    if not pre_extracted:
        occ = pin("occurrences", occ)
    norms = (
        raws.select("norm_mention").distinct()
        .withColumn("block_key", block_key_col(F.col("norm_mention")))
    )
    # norms is distinct-by-construction and the KB side is unique per
    # (block_key, norm_alias, qid) — assume_unique skips two exchanges
    sig_scores = pin("sig_scores", score_pair_sigs(
        candidate_signatures(norms, kb, params, assume_unique=True), kb))
    # The clustering stage consumes ONLY each signature's winning entity
    # (rank 1 above threshold) — so reduce to the winner AND encode its
    # entity node id while still at signature granularity (r4, r3 VERDICT
    # next-round #1: the fan-outs previously shipped all top-k rows with
    # qid STRINGS + score + rank per occurrence — 10x the rows at ~5x the
    # bytes/row; now both fan-out joins move two 8-byte ids per row and
    # qid strings never leave the signature table).
    winners = signature_winners(sig_scores, params)
    n_sigs = sig_scores.count()
    best = winners.select(
        nm_id(F.col("norm_mention")).alias("nm_id"),
        entity_node(F.col("qid"), wide).alias("dst"),
    )
    # compose (nm_id -> winning entity node) with (raw_id -> nm_id), then
    # fan out to occurrences on raw_id — both joins strategy-aware; the
    # compose result is pinned so the occurrence fan-out picks
    # broadcast/salted from an EXACT build-side count (n_sigs upper-bounds
    # the first join's build side)
    raw_best = pin("raw_best", _fanout_join(
        raws.select("raw_id", "nm_id"), best,
        "nm_id", "auto", n_sigs, 10_000_000, 16, 1_000_000,
        probe_salt_cols=["raw_id"],
    ).select("raw_id", "dst"))
    edges = _fanout_join(
        occ.select("node", "raw_id"), raw_best,
        "raw_id", "auto", raw_best.count(), 10_000_000, 16, 1_000_000,
        probe_salt_cols=["node"],
    ).select(F.col("node").alias("src"), "dst")
    # emit_isolated=False: the left join + coalesce below already labels
    # unmatched mentions as singletons, so CC's own isolated-node pass
    # (three shuffles over 2x the edges) is redundant here.
    # edges_unique=True: each occurrence node carries at most ONE edge
    # (raw_best is <=1 row per raw_id — rank==1 — and occ nodes are
    # unique), so CC skips its canonical dedup exchange (r6)
    comps = connected_components(
        edges, params.cc_max_iterations, emit_isolated=False,
        workdir=getattr(pin, "cc_workdir", None), edges_unique=True)
    return (
        occ.select("doc_id", "span_idx", "node")
        .join(comps, "node", "left")
        .select(
            "doc_id", "span_idx",
            F.coalesce("component", "node").alias("cluster_id"),
        )
    )

# ------------------------------------------------------- span invariant

def verify_span_invariant(
    documents_in: DataFrame, documents_out: DataFrame
) -> int:
    """Count docs whose output span sequence (kind, text, media_ref, order)
    differs from the input — must be 0.  Offsets excluded per the driver
    invariant; order = array position."""
    proj = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    a = documents_in.select("doc_id", proj.alias("seq_in"))
    b = documents_out.select("doc_id", proj.alias("seq_out"))
    return (
        a.join(b, "doc_id", "full")
        .where(
            F.col("seq_in").isNull()
            | F.col("seq_out").isNull()
            | (F.col("seq_in") != F.col("seq_out"))
        )
        .count()
    )


# ------------------------------------------------------------------ runner

def _df_identity(df: DataFrame) -> str:
    """Cheap (action-free) identity of a DataFrame's INPUT DATA.

    Always folds the ANALYZED LOGICAL PLAN string (ADVICE r2: a filtered
    read over the same files must not hash equal to the raw read) plus,
    for file-backed plans, the sorted source file list — parquet part
    files are content-addressed-ish (UUID names), so rewriting the input
    changes the identity even when the plan text is stable.  Feeds
    snapshot input_hash so resume skips a stage only when its actual
    inputs are unchanged (ADVICE r1: constant labels silently reused
    stale snapshots across different inputs)."""
    import re as _re

    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    # expression ids (col#123L) are session-assigned — strip them so the
    # same logical construction hashes identically across sessions.
    # Anchored to Spark's exprId syntax (ADVICE r3: a bare `#\d+` also ate
    # string literals containing '#<n>', letting two plans differing only
    # in such a literal hash identically): an exprId follows an identifier
    # char and is not itself followed by more identifier chars.  NB this
    # anchoring changes the identity scheme — pre-r4 workdir snapshots
    # hash-miss once and recompute.
    plan = _re.sub(
        r"(?<=[A-Za-z0-9_)\]])#\d+L?\b",
        "#",
        df._jdf.queryExecution().analyzed().toString(),
    )
    key = json.dumps([files, plan, df.schema.simpleString()])
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    workdir: str | None = None,
    params: PipelineParams = PipelineParams(),
    resume: bool = True,
) -> dict:
    """End-to-end run: ``prepare_kb`` + ``er_ids_plan``, with lineage
    counters and the span-sequence invariant check.

    ``tables``: documents, kb_aliases, entity_vectors [, redirects,
    wikimedia_filter].  With ``workdir``, every pinned frame (the KB, the
    core's pins, the clusters) lands as a snapshot + manifest under it
    (the snapshot ``Pin`` policy) and a rerun skips every snapshot whose
    manifest matches.  All snapshots share one input hash that folds the
    documents identity, the KB identity and ``params.digest()`` — coarser
    than a per-stage chain (any input change recomputes everything), but
    a stale snapshot is never reused.  Without ``workdir``, the
    checkpoint policy.

    Returns ``{"clusters", "counters"}``; counters are the row count of
    every pinned frame plus ``span_invariant_violations`` and, with a
    workdir, land in ``_counters.json``."""
    docs = tables["documents"]
    kb_names = ("kb_aliases", "entity_vectors", "redirects",
                "wikimedia_filter")
    if workdir is None:
        pin = Pin()
    else:
        input_hash = hashlib.sha256(":".join([
            _df_identity(docs),
            *(_df_identity(tables[t]) for t in kb_names
              if tables.get(t) is not None),
            params.digest(),
        ]).encode()).hexdigest()[:16]
        pin = Pin("snapshot", workdir, input_hash, resume)
    kb = pin("kb", prepare_kb(*(tables.get(t) for t in kb_names)))
    clusters = pin("clusters", lambda: er_ids_plan(docs, kb, params, pin=pin))

    # span invariant, against something that can actually violate it
    # (ADVICE r1: comparing the input to itself was vacuous):
    #  - with a workdir: documents round-tripped through the snapshot
    #    write/read path must preserve every span sequence;
    #  - without: every cluster row must reference a real mention span of
    #    the input (doc_id, span_idx) — no orphaned/duplicated outputs.
    if workdir is not None:
        bad = verify_span_invariant(docs, pin("s0_documents", docs))
    else:
        bad = clusters.join(
            explode_mentions(docs), ["doc_id", "span_idx"], "left_anti"
        ).count()
    counters = {**pin.row_counts(), "span_invariant_violations": bad}
    if workdir is not None:
        with open(os.path.join(workdir, "_counters.json"), "w") as f:
            json.dump(counters, f, indent=1)
    return {"clusters": clusters, "counters": counters}
