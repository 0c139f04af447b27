"""The one ER core (er_ids_plan) on degenerate inputs, and the shared
mention-token rule of the derived testdata corpus."""

import pyspark.sql.functions as F
import pytest

from test_driver_contract import SF_DIR
from wdel_spark.plans.pipeline import er_ids_plan, prepare_kb


def _partition(clusters):
    """{(doc_id, span_idx): canonical member of its cluster}."""
    member = F.concat_ws(":", "doc_id", F.col("span_idx").cast("string"))
    canon = clusters.groupBy("cluster_id").agg(F.min(member).alias("key"))
    return {
        (r["doc_id"], r["span_idx"]): r["key"]
        for r in clusters.join(canon, "cluster_id")
        .select("doc_id", "span_idx", "key").collect()
    }


@pytest.fixture(scope="module")
def kb(corpus_spark):
    return prepare_kb(
        corpus_spark["kb_aliases"], corpus_spark["entity_vectors"],
        corpus_spark["redirects"], corpus_spark["wikimedia_filter"])


@pytest.fixture(scope="module")
def base_partition(corpus_spark, kb):
    return _partition(er_ids_plan(corpus_spark["documents"], kb))


def test_duplicate_alias_kb_same_partition(corpus_spark, kb, base_partition):
    """Every alias row twice breaks the KB-uniqueness precondition behind
    assume_unique; the per-(norm_mention, qid) max still collapses the
    duplicate scores, so the partition is unchanged."""
    dup = _partition(er_ids_plan(corpus_spark["documents"],
                                 kb.unionByName(kb)))
    assert len(base_partition) > 0
    assert dup == base_partition


def test_zero_documents_zero_rows(corpus_spark, kb):
    docs = corpus_spark["documents"].where(F.lit(False))
    assert er_ids_plan(docs, kb).count() == 0


def test_empty_kb_all_singletons(corpus_spark, kb, base_partition):
    got = _partition(er_ids_plan(corpus_spark["documents"],
                                 kb.where(F.lit(False))))
    assert set(got) == set(base_partition)
    assert all(v == f"{d}:{i}" for (d, i), v in got.items())


def test_mention_tokens_equal_exploded_spans(spark):
    """derive_mention_tokens skips the spans re-nest; its rows must be
    exactly the mention spans of derive_spans_documents, with span_idx
    the array position."""
    from wdel_spark.entry_pipeline import (
        derive_mention_tokens, derive_spans_documents)

    got = derive_mention_tokens(spark, SF_DIR).collect()
    want = (
        derive_spans_documents(spark, SF_DIR)
        .select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
        .where(F.col("s.kind") == "mention")
        .select("doc_id", "span_idx", F.col("s.text").alias("raw"))
        .collect()
    )
    assert len(got) > 0
    assert len(got) == len({(r[0], r[1]) for r in got})
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
