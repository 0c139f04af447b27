from wdel_spark.plans.pipeline import (
    prepare_kb,
    candidate_signatures,
    score_pair_sigs,
    rank_signature_scores,
    signature_winners,
    er_ids_plan,
    Pin,
    verify_span_invariant,
    run_pipeline,
    PipelineParams,
)

__all__ = [
    "prepare_kb",
    "candidate_signatures",
    "score_pair_sigs",
    "rank_signature_scores",
    "signature_winners",
    "er_ids_plan",
    "Pin",
    "verify_span_invariant",
    "run_pipeline",
    "PipelineParams",
]
