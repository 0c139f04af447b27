"""Output checks for the benchmark workloads, and the perturbations that
prove each check rejects a wrong output.

Every check takes pandas frames collected outside the timed window and
returns True when the output is correct.
"""

from __future__ import annotations

import random

import pandas as pd

from tools.verify_contract import frame_hash


# ------------------------------------------------------------ flagship

def cluster_summary(clusters: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, span_idx, cluster_id) -> one row per cluster: its
    lexicographically smallest "doc_id:span_idx" member and its size, the
    shape of the ``er_cluster_partition`` oracle SQL."""
    member = clusters["doc_id"].astype(str) + ":" + clusters[
        "span_idx"].astype(str)
    g = member.groupby(clusters["cluster_id"].to_numpy())
    return pd.DataFrame({"canonical_member": g.min().to_numpy(),
                         "n_members": g.size().to_numpy()})


def flagship_ok(clusters: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """The flagship's cluster partition hashes equal to the DuckDB one."""
    return frame_hash(cluster_summary(clusters)) == frame_hash(expected)


# ------------------------------------------------------ stored corpus

def partition(df: pd.DataFrame, col: str = "cluster_id") -> set[frozenset]:
    """The clusters of ``df`` as sets of (doc_id, span_idx) keys."""
    keys = list(zip(df["doc_id"], df["span_idx"]))
    by: dict = {}
    for k, c in zip(keys, df[col]):
        by.setdefault(c, set()).add(k)
    return {frozenset(v) for v in by.values()}


def one_row_per_span(clusters: pd.DataFrame, spans: set) -> bool:
    """Exactly one output row for every mention span, and no other row."""
    keys = list(zip(clusters["doc_id"], clusters["span_idx"]))
    return len(keys) == len(spans) and set(keys) == spans


def partition_ok(clusters: pd.DataFrame, oracle: pd.DataFrame) -> bool:
    """The output partition, restricted to the oracle's mentions, equals
    the oracle's partition.  Exact on a document sample: every mention has
    at most one edge, to its winning entity, so two mentions share a
    cluster iff they share a winner, whatever else the corpus holds."""
    keys = set(zip(oracle["doc_id"], oracle["span_idx"]))
    mask = [k in keys for k in zip(clusters["doc_id"], clusters["span_idx"])]
    mine = clusters[mask]
    if len(mine) != len(keys):
        return False
    return partition(mine) == partition(oracle, "cluster_key")


# -------------------------------------------------------- perturbations

def _multi_member_rows(clusters: pd.DataFrame, within: set | None):
    rows = clusters
    if within is not None:
        rows = clusters[[k in within for k in
                         zip(clusters["doc_id"], clusters["span_idx"])]]
    sizes = rows.groupby("cluster_id")["cluster_id"].transform("size")
    return rows[sizes > 1]


def perturbations(clusters: pd.DataFrame, seed: int,
                  within: set | None = None) -> dict[str, pd.DataFrame]:
    """Three wrong variants of a correct output, each touching only
    mentions in ``within`` (all mentions when None):

    - ``drop_row``: one output row removed;
    - ``merge_clusters``: two clusters relabelled as one;
    - ``flip_id``: one member of a multi-member cluster given a fresh id.
    """
    rng = random.Random(seed)
    multi = _multi_member_rows(clusters, within)
    ids = sorted(multi["cluster_id"].unique())
    a, b = rng.sample(ids, 2)
    victim = multi.index[rng.randrange(len(multi))]

    merged = clusters.copy()
    merged.loc[merged["cluster_id"] == b, "cluster_id"] = a
    flipped = clusters.copy()
    flipped.loc[victim, "cluster_id"] = int(clusters["cluster_id"].min()) - 1
    return {
        "drop_row": clusters.drop(index=victim),
        "merge_clusters": merged,
        "flip_id": flipped,
    }


def self_test(check, clusters: pd.DataFrame, seed: int,
              within: set | None = None) -> dict[str, bool]:
    """For each perturbation: True iff ``check`` rejects it."""
    return {name: not check(bad)
            for name, bad in perturbations(clusters, seed, within).items()}
