"""Self-tests of the benchmark's own machinery; no Spark session needed.

    python3 perfbench/selftest.py

- The stored-corpus output check accepts the pandas oracle's own
  partition of a small corpus and rejects each of its perturbations.
- A layer that ``wdel_spark`` no longer defines is reported absent, and
  every wrapped binding is restored afterwards.
- A span's self time subtracts the union of its children's intervals.
- Layer metrics are split by the root span a call ran under.

Each run of ``run.py`` also checks that every output check rejects the
perturbations of that run's real output.
"""

from __future__ import annotations

import sys
import types
from pathlib import Path

sys.path.insert(1, str(Path(__file__).resolve().parent.parent))

import spans  # noqa: E402
from checks import partition_ok, one_row_per_span, self_test  # noqa: E402


def test_checks_reject_perturbations() -> None:
    from wdel_spark.datagen import (CorpusConfig, gen_documents_pandas,
                                    gen_kb_pandas)
    from wdel_spark.oracle import run_oracle

    cfg = CorpusConfig(seed=7, n_docs=40, n_entities=60)
    kb = gen_kb_pandas(cfg)
    docs, _ = gen_documents_pandas(cfg)
    oracle = run_oracle(docs, kb["kb_aliases"], kb["entity_vectors"],
                        kb["redirects"], kb["wikimedia_filter"])["clusters"]
    output = oracle.rename(columns={"cluster_key": "cluster_id"})
    output["cluster_id"] = output["cluster_id"].map(hash)
    keys = set(zip(output["doc_id"], output["span_idx"]))

    def ok(c):
        return one_row_per_span(c, keys) and partition_ok(c, oracle)

    assert ok(output), "check rejects a correct output"
    rejected = self_test(ok, output, seed=3)
    assert all(rejected.values()), rejected


def test_absent_layer_is_reported() -> None:
    import wdel_spark.plans.pipeline as pipeline

    before = dict(vars(pipeline))
    saved = spans.LAYERS
    spans.LAYERS = saved + (("wdel_spark.plans.pipeline", "gone_stage"),
                            ("wdel_spark.gone_module", "gone_fn"))
    try:
        tracer = spans.Tracer(types.SimpleNamespace(sparkContext=None))
        tracer.install()
        assert pipeline.score_pair_sigs is not before["score_pair_sigs"]
        tracer.uninstall()
    finally:
        spans.LAYERS = saved
    assert tracer.absent == ["plans.pipeline.gone_stage",
                             "gone_module.gone_fn"], tracer.absent
    assert "plans.pipeline.score_pair_sigs" in tracer.wrapped
    assert all(vars(pipeline)[k] is v for k, v in before.items())


def test_self_time() -> None:
    parent = spans.Span(0, "p", None, start=0.0, end=10.0)
    kids = [spans.Span(1, "a", 0, 1.0, 4.0), spans.Span(2, "b", 0, 3.0, 5.0),
            spans.Span(3, "c", 0, 8.0, 12.0)]
    assert spans.self_time(parent, kids) == 10.0 - (5.0 - 1.0) - (10.0 - 8.0)


def test_layer_metrics_by_root() -> None:
    tracer = types.SimpleNamespace(spans=[
        spans.Span(0, "workload.e2e", None, 0.0, 10.0),
        spans.Span(1, "plans.pipeline.score_pair_sigs", 0, 1.0, 3.0,
                   {"rows": 8, "rows_in": 4}),
        spans.Span(2, "durable.cold", None, 10.0, 20.0),
        spans.Span(3, "plans.pipeline.run_pipeline", 2, 10.0, 19.0),
        spans.Span(4, "plans.pipeline.score_pair_sigs", 3, 11.0, 12.0),
    ])
    table = spans.span_table(tracer, {})
    assert [r["root"] for r in table] == [
        "workload.e2e", "workload.e2e", "durable.cold", "durable.cold",
        "durable.cold"]
    names = ["plans.pipeline.score_pair_sigs", "plans.pipeline.run_pipeline"]
    rep = spans.layer_metrics(table, names, [], {"workload.e2e"})
    cold = spans.layer_metrics(table, names, [], {"durable.cold"})
    assert rep[names[0]]["calls"] == 1 and rep[names[0]]["s"] == 2.0
    assert rep[names[0]]["rows_per_input"] == 2.0
    assert rep[names[1]]["calls"] == 0
    assert cold[names[0]]["s"] == 1.0
    assert cold[names[1]]["self_s"] == 9.0 - 1.0


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok  {name}")
