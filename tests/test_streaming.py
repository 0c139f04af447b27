"""Streaming variant: same assignments as the pandas oracle."""

import numpy as np

from wdel_spark.datagen import gen_documents_pandas
from wdel_spark.oracle import run_oracle
from wdel_spark.plans import prepare_kb
from wdel_spark.streaming import run_streaming_assignments


def test_streaming_matches_batch(spark, corpus_spark, small_cfg, kb_pandas,
                                 tmp_path):
    docs_path = str(tmp_path / "docs_in")
    out_path = str(tmp_path / "assign_out")
    ckpt = str(tmp_path / "ckpt")
    corpus_spark["documents"].write.parquet(docs_path)

    kb = prepare_kb(
        corpus_spark["kb_aliases"],
        corpus_spark["entity_vectors"],
        corpus_spark["redirects"],
        corpus_spark["wikimedia_filter"],
    )
    run_streaming_assignments(spark, docs_path, kb, out_path, ckpt,
                              max_files_per_trigger=2)
    got = spark.read.parquet(out_path).toPandas()
    assert got["_batch_id"].nunique() > 1  # a genuinely multi-batch drain

    want = run_oracle(
        gen_documents_pandas(small_cfg)[0],
        kb_pandas["kb_aliases"],
        kb_pandas["entity_vectors"],
        kb_pandas["redirects"],
        kb_pandas["wikimedia_filter"],
    )["assignments"]
    key = ["doc_id", "span_idx"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s) > 0
    assert (got_s[key] == want_s[key]).all().all()
    assert (got_s["qid"] == want_s["qid"]).all()
    assert np.allclose(got_s["score"], want_s["score"], rtol=1e-12, atol=0)


def test_streaming_query_leaves_no_temp_dir(spark):
    """er_streaming_clusters removes its stream work dir and still
    matches the batch partition oracle."""
    import glob
    import os
    import tempfile

    import duckdb

    from test_driver_contract import SF_DIR
    from tools.verify_contract import frame_hash
    from wdel_spark.queries import (
        ORACLE_ER_CLUSTER_PARTITION, q_er_streaming_clusters)

    pattern = os.path.join(tempfile.gettempdir(), "wdel_stream_query_*")
    before = set(glob.glob(pattern))
    got = q_er_streaming_clusters(spark, SF_DIR).toPandas()
    assert set(glob.glob(pattern)) - before == set()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{SF_DIR}/documents.parquet'")
    want = con.execute(ORACLE_ER_CLUSTER_PARTITION).df()
    assert len(got) > 0
    assert frame_hash(got) == frame_hash(want)


def test_streaming_sink_idempotent_on_batch_replay(spark, corpus_spark,
                                                   tmp_path):
    """A retried micro-batch must replace its own partition, not append
    duplicates (foreachBatch is at-least-once; the sink makes it
    effectively-once via _batch_id dynamic partition overwrite)."""
    docs_path = str(tmp_path / "docs_in2")
    out_path = str(tmp_path / "assign_out2")
    corpus_spark["documents"].write.parquet(docs_path)
    kb = prepare_kb(
        corpus_spark["kb_aliases"],
        corpus_spark["entity_vectors"],
        corpus_spark["redirects"],
        corpus_spark["wikimedia_filter"],
    )
    # run the same stream twice with FRESH checkpoints: the second run
    # replays batch 0 against an output dir that already has it — the
    # harshest at-least-once scenario
    run_streaming_assignments(spark, docs_path, kb, out_path,
                              str(tmp_path / "ckpt_a"))
    n1 = spark.read.parquet(out_path).count()
    run_streaming_assignments(spark, docs_path, kb, out_path,
                              str(tmp_path / "ckpt_b"))
    n2 = spark.read.parquet(out_path).count()
    assert n1 == n2 > 0  # replay replaced, not duplicated
