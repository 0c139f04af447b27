"""End-to-end correctness: Spark pipeline vs pandas oracle + gold labels.

The driver-authoritative gate (BASELINE.json): pairwise F1 >= 0.99 on
labeled mention pairs at the same blocking key vs the reference clusters
(here: the pandas oracle, which reimplements the pipeline independently).
We additionally require *exact* partition agreement with the oracle and
F1 >= 0.99 against the generator's gold entity labels.
"""

import pandas as pd
import pytest

from wdel_spark.datagen import (
    gen_documents_pandas,
    gen_labeled_pairs_pandas,
)
from wdel_spark.oracle import run_oracle, pairwise_f1
from wdel_spark.plans import run_pipeline, PipelineParams


@pytest.fixture(scope="module")
def spark_result(spark, corpus_spark):
    res = run_pipeline(spark, corpus_spark, workdir=None)
    clusters = res["clusters"].toPandas()
    return res, clusters


@pytest.fixture(scope="module")
def oracle_result(small_cfg, kb_pandas):
    docs, gold = gen_documents_pandas(small_cfg)
    return (
        run_oracle(
            docs,
            kb_pandas["kb_aliases"],
            kb_pandas["entity_vectors"],
            kb_pandas["redirects"],
            kb_pandas["wikimedia_filter"],
        ),
        gold,
    )


def _partition_pairs_equal(a: pd.DataFrame, a_col, b: pd.DataFrame, b_col):
    """Exact partition equivalence of two clusterings over the same items."""
    am = {(r.doc_id, r.span_idx): getattr(r, a_col) for r in a.itertuples()}
    bm = {(r.doc_id, r.span_idx): getattr(r, b_col) for r in b.itertuples()}
    assert set(am) == set(bm)
    # group by label on each side; compare the set of frozensets
    def groups(m):
        g = {}
        for k, v in m.items():
            g.setdefault(v, set()).add(k)
        return {frozenset(v) for v in g.values()}

    return groups(am) == groups(bm)


def test_spark_matches_oracle_exactly(spark_result, oracle_result):
    _, clusters = spark_result
    oracle, _ = oracle_result
    assert _partition_pairs_equal(
        clusters, "cluster_id", oracle["clusters"], "cluster_key"
    )


def test_pairwise_f1_vs_oracle_on_labeled_pairs(
    spark_result, oracle_result, small_cfg
):
    _, clusters = spark_result
    oracle, _ = oracle_result
    pairs = gen_labeled_pairs_pandas(small_cfg, max_pairs=3000)
    f1 = pairwise_f1(
        clusters,
        oracle["clusters"],
        pairs.drop(columns=["same"]),
        pred_col="cluster_id",
        gold_col="cluster_key",
    )
    assert f1 >= 0.99, f1


def test_pairwise_f1_vs_gold_labels(spark_result, small_cfg):
    _, clusters = spark_result
    pairs = gen_labeled_pairs_pandas(small_cfg, max_pairs=3000)
    f1 = pairwise_f1(clusters, None, pairs, pred_col="cluster_id")
    assert f1 >= 0.99, f1


def test_counters_present_and_sane(spark_result):
    res, clusters = spark_result
    c = res["counters"]
    assert c["occurrences"] > 0
    assert c["raws"] >= c["raw_best"] > 0
    assert c["sig_scores"] > 0
    assert c["span_invariant_violations"] == 0
    assert len(clusters) == c["occurrences"] == c["clusters"]


@pytest.fixture(scope="module")
def ranked_occurrences(corpus_spark):
    """Every occurrence's top-k candidates (doc_id, span_idx, qid, score,
    rank): signatures ranked by the core's own stages, fanned out to the
    occurrences by normalized text."""
    from pyspark.sql import functions as F
    from wdel_spark.functions.textnorm import block_key_col, normalize_col
    from wdel_spark.plans.pipeline import (
        candidate_signatures, explode_mentions, prepare_kb,
        rank_signature_scores, score_pair_sigs)

    kb = prepare_kb(
        corpus_spark["kb_aliases"], corpus_spark["entity_vectors"],
        corpus_spark["redirects"], corpus_spark["wikimedia_filter"])
    mentions = (
        explode_mentions(corpus_spark["documents"])
        .withColumn("norm_mention", normalize_col(F.col("raw")))
        .withColumn("block_key", block_key_col(F.col("norm_mention")))
    )
    ranked = rank_signature_scores(
        score_pair_sigs(candidate_signatures(mentions, kb), kb))
    return (
        mentions.join(ranked, "norm_mention")
        .select("doc_id", "span_idx", "qid", "score", "rank")
        .toPandas()
    )


def test_assignment_accuracy_vs_gold(ranked_occurrences, oracle_result):
    _, gold = oracle_result
    ranked = ranked_occurrences
    top1 = ranked[(ranked["rank"] == 1) & (ranked["score"] >= 0.3)]
    a = top1.merge(gold, on=["doc_id", "span_idx"])
    assert (a["qid"] == a["gold_qid"]).mean() >= 0.98
    assert len(a) / len(gold) >= 0.97  # coverage


def test_join_strategies_agree(spark, corpus_spark, spark_result):
    """broadcast / sortmerge / salted blocking must be semantically equal."""
    _, base = spark_result
    for strategy in ("sortmerge", "salted"):
        res = run_pipeline(
            spark,
            corpus_spark,
            workdir=None,
            params=PipelineParams(join_strategy=strategy,
                                  hot_threshold=50, salt_mod=4),
        )
        got = res["clusters"].toPandas()
        assert _partition_pairs_equal(got, "cluster_id", base, "cluster_id"), (
            strategy
        )


def test_cg_recall_at_k_vs_gold(ranked_occurrences, oracle_result):
    """CG recall over the ER pipeline's own candidate lists vs gold
    entities (reference eval: prediction.py:64-72 + utils/io.py Stats) —
    the driver-checked analog is rank_of_gold; this is the pipeline-level
    metric."""
    _, gold = oracle_result
    ranked = ranked_occurrences
    m = ranked.merge(gold, on=["doc_id", "span_idx"])
    hit = m[m["qid"] == m["gold_qid"]][["doc_id", "span_idx", "rank"]]
    n_mentions = gold[["doc_id", "span_idx"]].drop_duplicates().shape[0]
    recall = {k: len(hit[hit["rank"] <= k]) / n_mentions for k in (1, 5, 10)}
    assert recall[1] >= 0.95, recall
    assert recall[10] >= recall[5] >= recall[1]
    assert recall[10] >= 0.97, recall


def test_id_slim_runner_matches_string_path(spark, tmp_path):
    """Both modes of the stored-corpus runner — in-memory
    (``workdir=None``) and durable (snapshot policy) — must induce exactly
    the pandas oracle's partition of the stored corpus's mentions."""
    from wdel_spark.datagen import CorpusConfig, gen_kb_pandas
    from wdel_spark.entry_pipeline import (
        materialize_corpus, run_er_from_parquet)

    cd = str(tmp_path / "corpus_ids")
    materialize_corpus(spark, n_docs=150, n_entities=40, out_dir=cd,
                       n_partitions=4)
    cfg = CorpusConfig(n_docs=150, n_entities=40)
    kb = gen_kb_pandas(cfg)
    oracle = run_oracle(
        gen_documents_pandas(cfg)[0], kb["kb_aliases"],
        kb["entity_vectors"], kb["redirects"], kb["wikimedia_filter"],
    )["clusters"]
    mem = run_er_from_parquet(spark, cd).toPandas()
    dur = run_er_from_parquet(
        spark, cd, workdir=str(tmp_path / "wd_ids")).toPandas()
    assert len(mem) == len(oracle) > 0
    assert _partition_pairs_equal(mem, "cluster_id", oracle, "cluster_key")
    assert _partition_pairs_equal(dur, "cluster_id", oracle, "cluster_key")


def test_fanout_join_strategies_agree_on_ids(spark, corpus_spark):
    """The id-keyed fan-out (er_ids_plan's occurrence attach) must be
    semantics-identical under broadcast / salted / shuffle."""
    from wdel_spark.plans.pipeline import (
        _fanout_join, prepare_kb, er_ids_plan)
    import pyspark.sql.functions as F

    kb = prepare_kb(
        corpus_spark["kb_aliases"], corpus_spark["entity_vectors"],
        corpus_spark.get("redirects"), corpus_spark.get("wikimedia_filter"))
    docs = corpus_spark["documents"]
    spans = (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
        .where(F.col("s.kind") == "mention")
        .select("doc_id", F.col("s.text").alias("raw"))
    )
    probe = spans.select(
        F.xxhash64(F.lit("raw"), "raw").alias("raw_id"), "doc_id")
    build = (
        spans.select("raw").distinct()
        .select(F.xxhash64(F.lit("raw"), "raw").alias("raw_id"),
                F.length("raw").alias("payload"))
    )
    outs = {}
    for strategy in ("broadcast", "salted", "shuffle"):
        df = _fanout_join(
            probe, build, "raw_id", strategy, None, 10_000_000, 4, 2,
            probe_salt_cols=["doc_id"])
        outs[strategy] = (
            df.groupBy("raw_id").agg(
                F.count("*").alias("n"), F.max("payload").alias("p"))
            .toPandas().sort_values("raw_id").reset_index(drop=True)
        )
    assert outs["broadcast"].equals(outs["salted"])
    assert outs["broadcast"].equals(outs["shuffle"])


def test_wide_ids_resolve_narrow_collisions(spark, monkeypatch):
    """PipelineParams.wide_ids (r3 VERDICT next-round #5): a collision in
    the truncated narrow id space mis-clusters two distinct entities; the
    122-bit composite resolves it.  The narrow space is shrunk to 8 bits
    to make collisions reachable (the production 61-bit space collides at
    ~10^12 rows for the same structural reason)."""
    import pyspark.sql.functions as F
    import wdel_spark.plans.pipeline as P
    from wdel_spark.operators.cc import connected_components

    monkeypatch.setattr(P, "_NODE_SPACE", 256)
    qids = [f"Q{i}" for i in range(200)]
    df = spark.createDataFrame([(q,) for q in qids], "qid string")
    rows = df.select(
        "qid",
        P.entity_node(F.col("qid")).alias("n"),
        P.entity_node(F.col("qid"), wide=True).alias("w"),
    ).collect()
    narrow = {r["qid"]: r["n"] for r in rows}
    wide = {r["qid"]: r["w"] for r in rows}
    by_id, pair = {}, None
    for q in qids:
        if narrow[q] in by_id and wide[q] != wide[by_id[narrow[q]]]:
            pair = (by_id[narrow[q]], q)
            break
        by_id.setdefault(narrow[q], q)
    assert pair is not None, "fixture: no narrow-only collision found"

    assignments = spark.createDataFrame(
        [("d1", 0, pair[0]), ("d2", 0, pair[1])],
        "doc_id string, span_idx int, qid string")
    for wide_flag, expect_merged in ((False, True), (True, False)):
        nodes = assignments.select(
            "doc_id", "span_idx",
            P.mention_node(F.col("doc_id"), F.col("span_idx"),
                           wide_flag).alias("node"),
            P.entity_node(F.col("qid"), wide_flag).alias("dst"))
        comps = connected_components(
            nodes.select(F.col("node").alias("src"), "dst"))
        out = (
            nodes.join(comps, "node", "left")
            .select("doc_id", "span_idx",
                    F.coalesce("component", "node").alias("cluster_id"))
            .collect()
        )
        cl = {(r["doc_id"], r["span_idx"]): r["cluster_id"] for r in out}
        merged = cl[("d1", 0)] == cl[("d2", 0)]
        assert merged == expect_merged, (wide_flag, cl)


def test_er_ids_plan_wide_ids_same_partition(spark, corpus_spark):
    """The full id-granular plan under wide (decimal) ids must induce the
    SAME cluster partition as the narrow (long) default — every operator
    downstream of the id columns (CC least/greatest/min, fan-out joins,
    salting) is type-agnostic by construction."""
    import pyspark.sql.functions as F
    from wdel_spark.plans.pipeline import (
        PipelineParams, prepare_kb, er_ids_plan)

    kb = prepare_kb(
        corpus_spark["kb_aliases"], corpus_spark["entity_vectors"],
        corpus_spark.get("redirects"), corpus_spark.get("wikimedia_filter"))
    docs = corpus_spark["documents"]

    def partition_of(params):
        cl = er_ids_plan(docs, kb, params)
        member = F.concat_ws(":", "doc_id", F.col("span_idx").cast("string"))
        canon = cl.groupBy("cluster_id").agg(F.min(member).alias("key"))
        return {
            (r["doc_id"], r["span_idx"]): r["key"]
            for r in cl.join(canon, "cluster_id")
            .select("doc_id", "span_idx", "key").collect()
        }

    narrow = partition_of(PipelineParams())
    wide = partition_of(PipelineParams(wide_ids=True))
    assert len(narrow) > 0
    assert narrow == wide
