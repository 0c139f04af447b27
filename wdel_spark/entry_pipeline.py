"""Flagship entry: the ER pipeline over /root/testdata documents.

The driver's flat ``documents(doc_id, text, lang, source, n_chars)`` table
lacks the interleaved ``spans`` column of the pipeline's input hint, so we
*derive* it deterministically (engine-portable md5 partitioning of token
positions into text/mention/media kinds — reproducible in DuckDB SQL for
the oracle check), then run the full blocking → scoring → clustering
pipeline self-supervised: the KB is the corpus's own token vocabulary.
This is the ER-as-deduplication framing: repeated tokens across documents
resolve to the same vocabulary entity, naturally skewed (stopwords are hot
keys) — the same shuffle/skew profile as the synthetic corpus at scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from wdel_spark.functions.textnorm import normalize_text, block_key
from wdel_spark.functions.scoring import hash_embed, EMBED_DIM
from wdel_spark.plans.pipeline import Pin, PipelineParams


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat documents -> one (doc_id, pos, tok, kind) row per token: the
    ``split(' +')`` tokenization and the span-kind rule both derived
    tables share.  Kind comes from the first hex char of
    md5("<doc_id>:<pos>"): 0-2 -> mention (3/16), 3 -> media (1/16), else
    text — identical semantics expressible in DuckDB for the oracle
    checks."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the source is a one-row-group file -> one scan task; spread the
    # explode + md5 across the cluster (one cheap shuffle of compact
    # rows, partitioned on the downstream key)
    npart = spark.sparkContext.defaultParallelism
    toks = d.repartition(npart, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.split("text", " +")).alias("pos", "tok"),
    )
    h = F.substring(
        F.md5(F.concat_ws(":", "doc_id", F.col("pos").cast("string"))), 1, 1
    )
    kind = (
        F.when(h.isin("0", "1", "2"), F.lit("mention"))
        .when(h == "3", F.lit("media"))
        .otherwise(F.lit("text"))
    )
    return toks.withColumn("kind", kind)


def derive_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat documents -> interleaved (doc_id, spans[]) table, one span per
    token (kinds by the ``_tokens`` rule).  Offsets are cumulative char
    positions (token lengths + single spaces).
    """
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    media = F.col("kind") == "media"
    spans = _tokens(spark, sf_dir).select(
        "doc_id",
        "pos",
        "kind",
        F.when(media, F.lit("")).otherwise(F.col("tok")).alias("text"),
        F.when(
            media,
            F.concat_ws("/", F.lit("img:/"), "doc_id",
                        F.col("pos").cast("string")),
        ).otherwise(F.lit("")).alias("media_ref"),
        F.coalesce(
            F.sum(F.length("tok") + 1).over(w), F.lit(0)
        ).cast("int").alias("offset"),
    )
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", "kind", "text", "media_ref", "offset")
                )
            ),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans")
    )


def derive_mention_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat documents -> the MENTION token table (doc_id, span_idx, raw)
    directly, skipping the nested spans array (r6, guide §2.4).

    Identical rows to ``derive_spans_documents`` followed by
    explode+filter(kind=='mention'): the spans array holds one entry per
    token ordered by ``pos``, so the posexplode index over it equals the
    token position — ``span_idx == pos`` — and both filter on the same
    ``_tokens`` kind.  What this skips is everything the ER path never
    reads: the per-token offset window (one sort), the
    collect_list/array_sort re-nest (one full shuffle of every token
    struct), and the downstream re-explode of that array per consumer.
    Media/span-stats queries still use ``derive_spans_documents`` — they
    need the media spans and the nested shape."""
    return _tokens(spark, sf_dir).where(F.col("kind") == "mention").select(
        "doc_id", F.col("pos").alias("span_idx"), F.col("tok").alias("raw"))


_KB_SCHEMA = (
    "qid string, alias string, norm_alias string, block_key string, "
    "lang string, is_label boolean"
)
_KB_VEC_SCHEMA = _KB_SCHEMA + ", e_vec array<float>"


def derive_vocab_kb(spark: SparkSession, docs_spans: DataFrame,
                    decoys: bool = False) -> tuple[DataFrame, DataFrame]:
    """KB = the corpus's own mention vocabulary.

    One entity per distinct normalized mention text; qid = md5-derived.
    Featurization through the same kernels as the real KB (mapInPandas,
    no per-row Python).  Returns (kb_aliases, entity_vectors).

    ``decoys=True`` (r4 VERDICT next-round #4, used by the recall@k
    query) additionally injects, for the deterministic 1/16 of vocab
    entries where md5(norm)[0] == '0', a DECOY entity with the SAME
    alias text but qid 'A'+md5(norm)[:12].  The decoy's alias and
    embedding are byte-identical to gold's, so it ties on score and the
    deterministic tie-break (score desc, qid asc — 'A...' < 'T...')
    ranks it FIRST: gold lands at rank 2 for exactly that subset, making
    the recall@k histogram falsifiable in both directions — the oracle
    derives the expected ranks from this injection rule instead of
    stating recall ≡ 1."""
    combined = derive_vocab_kb_df(spark, docs_spans, decoys=decoys)
    kb_aliases = combined.drop("e_vec")
    entity_vectors = (
        combined.select("qid", F.col("e_vec").alias("vec"))
        .dropDuplicates(["qid"])
    )
    return kb_aliases, entity_vectors


def derive_vocab_kb_df(spark: SparkSession, docs_or_mentions: DataFrame,
                       decoys: bool = False) -> DataFrame:
    """Single-frame vocab KB: (qid, alias, norm_alias, block_key, lang,
    is_label, e_vec) with the embedding computed IN THE SAME Arrow batch
    as the featurization (r6, guide §2.3/§2.4): the former
    two-python-stage + qid-join formulation shuffled the alias table
    twice (dropDuplicates(qid) + the join exchange) and paid a second
    Python stage purely to attach a vector that is a pure function of the
    norm already in hand.  Output rows are identical — ``hash_embed`` is
    the same kernel, and duplicate (qid, norm_alias) rows carry identical
    vectors so the final dedup keeps the same values."""
    if "spans" in docs_or_mentions.columns:
        vocab = (
            docs_or_mentions.select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "mention")
            .select(F.col("s.text").alias("alias"))
            .distinct()
        )
    else:
        vocab = docs_or_mentions.select(
            F.col("raw").alias("alias")).distinct()

    def feat(batches):
        import hashlib

        for pdf in batches:
            norms = [normalize_text(t) for t in pdf["alias"]]
            digs = [hashlib.md5(n.encode()).hexdigest() for n in norms]
            qids = ["T" + d[:12] for d in digs]
            aliases = list(pdf["alias"])
            if decoys:
                for a, n, d in zip(list(pdf["alias"]), norms, digs):
                    if d[0] == "0":
                        qids.append("A" + d[:12])
                        aliases.append(a)
                        norms.append(n)
            vs = hash_embed(norms, EMBED_DIM)
            yield pd.DataFrame({
                "qid": qids,
                "alias": aliases,
                "norm_alias": norms,
                "block_key": [block_key(n) for n in norms],
                "lang": ["en"] * len(qids),
                "is_label": [True] * len(qids),
                "e_vec": [v.tolist() for v in vs],
            })

    return vocab.mapInPandas(feat, schema=_KB_VEC_SCHEMA).dropDuplicates(
        ["qid", "norm_alias"])


def er_ranked_over_testdata(
    spark: SparkSession,
    sf_dir: str,
    params: PipelineParams = PipelineParams(),
    decoys: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Blocking -> scoring -> ranking over the derived corpus, at
    SIGNATURE granularity (r6, guide §8 "decide with small rows"): returns
    ``(norm_counts, ranked_sigs)`` — (norm_mention, n_occ) occurrence
    counts and the per-signature ranking (norm_mention, qid, score, rank),
    the candidate-generation surface the recall@k metric (reference
    `utils/io.py:20-50`, `prediction.py:64-72`) evaluates.

    A mention occurrence's candidate list, scores, ranks and gold qid are
    all pure functions of its normalized text, so any per-occurrence
    aggregate of ranks is a count-weighted aggregate of per-signature
    ranks; the occurrence fan-out join (|occurrences| x k rows) is never
    built."""
    from wdel_spark.functions.textnorm import block_key_col, normalize_col
    from wdel_spark.plans.pipeline import (
        candidate_signatures, score_pair_sigs, rank_signature_scores)

    # consumers act exactly once at the end: lazy pins
    pin = Pin("lazy")
    mt = pin("mention_tokens", derive_mention_tokens(spark, sf_dir))
    kb = pin("kb", derive_vocab_kb_df(spark, mt, decoys=decoys))
    # normalize at distinct-RAW granularity, as in er_ids_plan
    raws = (
        mt.select("raw").distinct()
        .select("raw", normalize_col(F.col("raw")).alias("norm_mention"))
        .withColumn("block_key", block_key_col(F.col("norm_mention")))
    )
    norms = raws.select("norm_mention", "block_key").distinct()
    sig_scores = score_pair_sigs(
        candidate_signatures(norms, kb, params, assume_unique=True), kb)
    norm_counts = (
        mt.groupBy("raw").agg(F.count("*").alias("n_occ"))
        .join(raws.select("raw", "norm_mention"), "raw")
        .groupBy("norm_mention")
        .agg(F.sum("n_occ").alias("n_occ"))
    )
    return norm_counts, rank_signature_scores(sig_scores, params)


def er_over_testdata(
    spark: SparkSession,
    sf_dir: str,
    params: PipelineParams = PipelineParams(),
) -> DataFrame:
    """Full ER pipeline over the derived corpus; returns the cluster table
    (doc_id, span_idx, cluster_id) via ``er_ids_plan`` under the lazy pin
    policy (pinned by the er_cluster_partition oracle)."""
    from wdel_spark.plans.pipeline import er_ids_plan

    pin = Pin("lazy")
    mt = pin("mention_tokens", derive_mention_tokens(spark, sf_dir))
    kb = pin("kb", derive_vocab_kb_df(spark, mt))
    return er_ids_plan(None, kb, params, pin=pin, mention_spans=mt)


def entry_flagship(spark: SparkSession) -> DataFrame:
    return er_over_testdata(spark, "/root/testdata/sf0.001")


def materialize_corpus(
    spark: SparkSession,
    n_docs: int,
    n_entities: int,
    out_dir: str,
    n_partitions: int = 64,
) -> None:
    """Write the synthetic corpus + KB to parquet once (the stand-in for
    the production Iceberg table the pipeline would read).  Idempotent:
    skipped when a matching manifest exists."""
    import json as _json
    import os as _os

    from wdel_spark.datagen import CorpusConfig, gen_corpus_spark

    meta_path = _os.path.join(out_dir, "_corpus.json")
    want = {"n_docs": n_docs, "n_entities": n_entities, "seed": 42}
    if _os.path.exists(meta_path):
        try:
            if _json.load(open(meta_path)) == want:
                return
        except Exception:
            pass
    cfg = CorpusConfig(n_docs=n_docs, n_entities=n_entities)
    t = gen_corpus_spark(spark, cfg, n_partitions=n_partitions)
    for name in ("documents", "kb_aliases", "entity_vectors", "redirects",
                 "wikimedia_filter"):
        t[name].write.mode("overwrite").parquet(
            _os.path.join(out_dir, name))
    with open(meta_path, "w") as f:
        _json.dump(want, f)


def run_er_from_parquet(
    spark: SparkSession,
    corpus_dir: str,
    params: PipelineParams = PipelineParams(),
    workdir: str | None = None,
    resume: bool = True,
) -> DataFrame:
    """The measured pipeline: read the stored interleaved corpus + KB
    (columnar scan, no python) -> ``er_ids_plan``.

    ``workdir`` routes the run through ``run_pipeline``'s snapshot
    policy: every pinned frame lands as a durable parquet snapshot with
    manifest + lineage counters, and a rerun resumes from the snapshots
    already complete (r2 VERDICT #8).  ``workdir=None`` keeps the
    in-memory mode for benches, under the checkpoint policy (see ``Pin``
    for why not the lazy one)."""
    import os as _os

    from wdel_spark.plans.pipeline import prepare_kb, er_ids_plan, run_pipeline

    rd = lambda n: spark.read.parquet(_os.path.join(corpus_dir, n))
    if workdir is not None:
        tables = {n: rd(n) for n in (
            "documents", "kb_aliases", "entity_vectors", "redirects",
            "wikimedia_filter")}
        return run_pipeline(
            spark, tables, workdir=workdir, params=params, resume=resume,
        )["clusters"]
    pin = Pin()
    kb = pin("kb", prepare_kb(rd("kb_aliases"), rd("entity_vectors"),
                              rd("redirects"), rd("wikimedia_filter")))
    return er_ids_plan(rd("documents"), kb, params, pin=pin)
