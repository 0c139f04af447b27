"""End-to-end benchmark of the wdel_spark entity-resolution pipeline.

    python3 perfbench/run.py --workload flagship_sf0.1 --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  One Python process runs Spark as
``local[<cores of this host>]`` with the session defaults of
``wdel_spark.session.get_spark``.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Workloads (inputs are a function of ``--seed`` alone):

- ``flagship_sf0.1``: ``er_over_testdata`` over the fixed sf0.1 documents
  table in ``perfbench/data`` (50,687 mentions, 31 distinct texts).
- ``stored_5k``: ``run_er_from_parquet`` over a stored corpus and KB made
  from ``CorpusConfig(seed=<seed>, n_docs=5000, n_entities=1250)``
  (~44k mentions, 30% of them on one hot alias).

A run sets up once: it starts the SparkSession (and with it the JVM),
writes the workload's inputs (the stored corpus; the flagship's inputs
are fixed files), and makes one untimed warm-up call.  Reps are then
timed: at least ``MIN_REPS``, and more while the next is predicted to end
within ``--seconds``.  A rep calls the entry point on an empty cache and
is timed until a ``noop`` sink has computed every output column.

End-to-end metrics (``--trace 0``):

- ``e2e_s``: one rep, median over the run's reps;
- ``mentions_per_s``: output mentions per second of ``e2e_s``;
- ``setup_s``: the set-up: session and JVM start, input writing and the
  warm-up call.

``--trace 1`` times one untraced rep (for ``spark.*`` and the tracing
overhead), then makes the traced run (see ``spans.py``):

1. one traced rep of the workload;
2. a durable run, the same on both workloads: ``run_er_from_parquet`` with
   a ``workdir`` over a ``CorpusConfig(seed=<seed>, n_docs=200,
   n_entities=50)`` corpus, cold and then resumed from its snapshots
   (the snapshot layer, ``run_pipeline`` and the iterative CC loop);
3. the 15 headline queries of ``bench.py`` over the sf0.01 tables
   in ``perfbench/data``.

A layer's metrics come from the traced rep; a layer that the rep does not
call (``prepare_kb`` on the flagship, ``derive_*`` on the stored corpus)
is measured on the durable run and the queries instead.  ``run_pipeline``,
``sources.snapshot``, the CC loop (``connected_components.loop_*``) and
the ``entry_pipeline.run_er_from_parquet`` cold and resume times come from
the durable run; ``spark.*`` is one untraced rep.  A layer that
``wdel_spark`` no longer defines reads 0 and is listed as absent.  All
spans (name, start, end, parent, self time, jobs) and every layer are
written to ``.perfbench_runs/traces/<workload>-s<seed>.json``.

Every output is checked outside the timed window: the flagship against
DuckDB, the stored corpus against the pandas oracle on a seeded document
sample, and each check must also reject three perturbed copies of that
output.  The traced run also checks the durable run (cold against the
oracle on its whole corpus, resumed equal to cold, no span invariant
violations) and each query against its DuckDB oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
RUNS = ROOT / ".perfbench_runs"
sys.path.insert(1, str(ROOT))

from spans import (GROUP_PREFIX, Tracer, force,  # noqa: E402
                   group_counters, layer_metrics, span_table)

# one call alone varies by ~14% from run to run; a third rep would add
# 6-8 s to a run that is kept near 50 s on 4 cores
MIN_REPS = 2
STORED_TABLES = ("documents", "kb_aliases", "entity_vectors", "redirects",
                 "wikimedia_filter")
DURABLE_DOCS, DURABLE_ENTITIES = 200, 50
# the headline queries of bench.py, run at sf0.01
QUERIES = (
    "pricing_summary", "topk_orders_per_customer", "revenue_by_nation",
    "minmax_normalize", "softmax_per_user", "exact_dedup",
    "minhash_lsh_neardup", "simhash_neardup", "token_count", "token_window",
    "entity_hydrate_nested", "cosine_topk", "embedding_class_centroids",
    "embedding_neardup_banded", "er_recall_at_k",
)
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings")


# ------------------------------------------------------------- corpora

def write_corpus(spark, out: Path, cfg) -> dict:
    """The stored corpus and KB of ``cfg`` as parquet, one directory per
    table, the layout ``run_er_from_parquet`` reads.  Rows come from
    datagen's pandas generator, whose output ``gen_corpus_spark``
    documents as identical to its own; each table keeps the schema that
    ``gen_corpus_spark`` declares for it (read off its lazy DataFrames, so
    no Spark job runs).  Documents are split over 8 files, so the scan
    reads row groups in parallel.  Returns docs, mentions and seconds."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from wdel_spark.datagen import (gen_corpus_spark, gen_documents_pandas,
                                    gen_kb_pandas)

    t0 = time.perf_counter()
    tables = gen_kb_pandas(cfg)
    tables["documents"] = gen_documents_pandas(cfg)[0]
    declared = gen_corpus_spark(spark, cfg)
    shutil.rmtree(out, ignore_errors=True)
    for name in STORED_TABLES:
        df, d = tables[name], out / name
        schema = to_arrow_schema(declared[name].schema)
        d.mkdir(parents=True)
        files = 8 if name == "documents" else 1
        for i, rows in enumerate(np.array_split(np.arange(len(df)), files)):
            pq.write_table(pa.Table.from_pandas(
                df.iloc[rows], schema=schema, preserve_index=False),
                d / f"part-{i:05d}.parquet")
    docs = tables["documents"]
    return {
        "docs": len(docs),
        "mentions": sum(s["kind"] == "mention"
                        for spans in docs["spans"] for s in spans),
        "s": time.perf_counter() - t0,
    }


def corpus_check(corpus: Path, seed: int, sample_docs: int | None = None):
    """A check of an output of ``run_er_from_parquet`` over ``corpus``:
    one row per mention span, and the partition of the mentions of a
    seeded sample of ``sample_docs`` documents (all when None) equal to
    the pandas oracle's.  Returns the check and the sample's keys."""
    import pyarrow.parquet as pq

    from checks import one_row_per_span, partition_ok
    from wdel_spark.oracle import run_oracle

    def read(table):
        return pq.read_table(str(corpus / table)).to_pandas()

    docs = read("documents")
    docs["spans"] = [list(s) for s in docs["spans"]]
    spans = {(d, j) for d, ss in zip(docs["doc_id"], docs["spans"])
             for j, s in enumerate(ss) if s["kind"] == "mention"}
    if sample_docs is not None:
        ids = random.Random(seed).sample(sorted(docs["doc_id"]),
                                         sample_docs)
        docs = docs[docs["doc_id"].isin(ids)].reset_index(drop=True)
    oracle = run_oracle(docs, read("kb_aliases"), read("entity_vectors"),
                        read("redirects"), read("wikimedia_filter"))[
        "clusters"]

    def ok(c):
        return one_row_per_span(c, spans) and partition_ok(c, oracle)

    return ok, set(zip(oracle["doc_id"], oracle["span_idx"]))


def rejects(results: dict[str, bool], prefix: str = "") -> dict:
    return {f"{prefix}rejects_{k}": v for k, v in results.items()}


# ----------------------------------------------------------- workloads

class Flagship:
    name = "flagship_sf0.1"
    inputs = DATA / "sf0.1"

    def __init__(self, seed: int, work: Path):
        self.seed = seed  # the inputs are fixed testdata

    def set_up(self, spark) -> list[dict]:
        """Nothing to write: the inputs are fixed files."""
        return []

    def call(self, spark):
        from wdel_spark.entry_pipeline import er_over_testdata

        return er_over_testdata(spark, str(self.inputs))

    def check(self, out) -> dict[str, bool]:
        import duckdb

        from checks import flagship_ok, self_test
        from wdel_spark.queries import ORACLE_ER_CLUSTER_PARTITION

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.inputs}/documents.parquet')")
            expected = con.execute(ORACLE_ER_CLUSTER_PARTITION).df()
        finally:
            con.close()
        ok = lambda c: flagship_ok(c, expected)  # noqa: E731
        return {"duckdb_partition": ok(out),
                **rejects(self_test(ok, out, self.seed))}


class Stored:
    name = "stored_5k"
    n_docs, n_entities = 5_000, 1_250
    sample_docs = 150

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.inputs = work / "corpus"

    def set_up(self, spark) -> list[dict]:
        """Write the corpus from the seed."""
        from wdel_spark.datagen import CorpusConfig

        return [write_corpus(spark, self.inputs, CorpusConfig(
            seed=self.seed, n_docs=self.n_docs, n_entities=self.n_entities))]

    def call(self, spark):
        from wdel_spark.entry_pipeline import run_er_from_parquet

        return run_er_from_parquet(spark, str(self.inputs))

    def check(self, out) -> dict[str, bool]:
        from checks import self_test

        ok, sample_keys = corpus_check(self.inputs, self.seed,
                                       self.sample_docs)
        return {"rows_and_oracle_partition": ok(out),
                **rejects(self_test(ok, out, self.seed, sample_keys))}


WORKLOADS = {w.name: w for w in (Flagship, Stored)}


# ------------------------------------------------------------- session

class Session:
    """Owns the SparkSession, its JVM and the run's scratch directory."""

    def __init__(self, work: Path):
        self.spark = None
        for d in ("spark-local", "tmp"):
            (work / d).mkdir(parents=True, exist_ok=True)
        # python workers import wdel_spark from this checkout; Spark, JVM
        # and Python scratch files stay inside the run directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        os.environ["WDEL_SPARK_LOCAL_DIR"] = str(work / "spark-local")
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")

    def start(self):
        from wdel_spark.session import get_spark

        self.spark = get_spark("perfbench",
                               cores=len(os.sched_getaffinity(0)))
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the JVM plus this Python process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + own_kb) / 1024

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


@contextlib.contextmanager
def job_group(spark, group: str):
    spark.sparkContext.setJobGroup(group, group)
    try:
        yield
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def timed_call(wl, spark, scope) -> tuple[float, object]:
    """One rep: the entry point on an empty cache, until the sink returns.
    ``scope`` (a job group or a root span) encloses the timed block."""
    spark.catalog.clearCache()
    with scope:
        t0 = time.perf_counter()
        out = wl.call(spark)
        force(out)
        seconds = time.perf_counter() - t0
    return seconds, out


# ----------------------------------------------------------------- run

def run(workload_cls, seed: int, seconds: float, trace: bool, work: Path):
    session = Session(work)
    wl = workload_cls(seed, work)
    attempted = failed = 0
    reps, checks = [], {}
    info = {"workload": wl.name, "seed": seed}
    try:
        t0 = time.perf_counter()
        spark = session.start()
        info["start_s"] = time.perf_counter() - t0
        info["corpora"] = wl.set_up(spark)
        # the first call of a fresh JVM runs ~3x slower while it compiles.
        # Later reps still speed up by ~10% over the next few calls; a
        # second warm-up call would flatten that, but add 6-8 s to a run
        # that is kept near 50 s on 4 cores
        t1 = time.perf_counter()
        spark.catalog.clearCache()
        force(wl.call(spark))
        info["warmup_s"] = time.perf_counter() - t1
        info["setup_s"] = time.perf_counter() - t0

        # at least MIN_REPS reps, then more while the next one is
        # predicted to end within the measuring time; one before tracing
        min_reps, t_end = (1, 0.0) if trace else (
            MIN_REPS, time.perf_counter() + seconds)
        out = None
        while failed < 3 and (len(reps) < min_reps or time.perf_counter()
                              + statistics.median(reps) <= t_end):
            attempted += 1
            try:
                rep_s, out = timed_call(
                    wl, spark, job_group(spark, f"{GROUP_PREFIX}e2e"))
            except Exception:  # a failed rep is counted, not fatal
                traceback.print_exc()
                failed += 1
                continue
            reps.append(rep_s)
        if not reps:
            raise RuntimeError("every rep failed")
        counters = per_rep_counters(spark, len(reps))
        # the last rep's pins are still in place: collecting its output
        # recomputes little
        collected = out.toPandas()
        checks = wl.check(collected)

        if trace:
            metrics, traced_checks = traced_metrics(
                spark, session, wl, reps, counters, info, work)
            checks.update(traced_checks)
        else:
            e2e = statistics.median(reps)
            metrics = {
                "e2e_s": (e2e, "s"),
                "mentions_per_s": (len(collected) / e2e, "1/s"),
                "setup_s": (info["setup_s"], "s"),
            }
        attempted += len(checks)
        failed += sum(not v for v in checks.values())
    finally:
        session.close()
    print(json.dumps({**info, "reps": reps, "checks": checks}),
          file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def per_rep_counters(spark, n_reps: int) -> dict:
    """Spark totals of the timed reps' job group, per rep."""
    totals = group_counters(spark).get(f"{GROUP_PREFIX}e2e", {})
    return {k: v / n_reps for k, v in totals.items()}


# ---------------------------------------------------------- traced run

# layer -> (metric, layer_metrics key, unit); metric names are
# <module>.<function>.<metric> with the ``wdel_spark.`` prefix dropped
LAYER_METRICS = {
    "entry_pipeline.derive_mention_tokens": (
        ("s", "s", "s"), ("rows", "rows", "count"),
        ("jobs", "jobs", "count")),
    "entry_pipeline.derive_vocab_kb_df": (
        ("s", "s", "s"), ("rows", "rows", "count"),
        ("jobs", "jobs", "count")),
    "plans.pipeline.prepare_kb": (("s", "s", "s"),),
    "plans.pipeline.extract_mentions": (("s", "s", "s"),),
    "plans.pipeline.candidate_signatures": (
        ("s", "s", "s"), ("rows", "rows", "count"),
        ("pairs_per_input", "rows_per_input", "ratio")),
    "plans.pipeline.score_pair_sigs": (
        ("s", "s", "s"), ("rows", "rows", "count"),
        ("task_s", "task_s", "s"), ("jvm_cpu_s", "jvm_cpu_s", "s"),
        ("nonjvm_task_s", "nonjvm_task_s", "s")),
    "plans.pipeline.rank_signature_scores": (
        ("s", "s", "s"), ("winners_per_pair", "rows_per_input", "ratio")),
    "plans.pipeline.attach_sig_scores": (("s", "s", "s"),),
    "plans.pipeline.er_ids_plan": (("self_s", "self_s", "s"),),
    "plans.pipeline.run_pipeline": (("self_s", "self_s", "s"),),
    "operators.cc.connected_components": (
        ("s", "s", "s"), ("jobs", "jobs", "count"),
        ("edges_in", "rows_in", "count"),
        ("components", "components", "count")),
    "sources.snapshot.write_snapshot": (
        ("s", "s", "s"), ("calls", "calls", "count"),
        ("bytes", "bytes", "bytes")),
    "sources.snapshot.read_snapshot": (
        ("s", "s", "s"), ("calls", "calls", "count")),
}
SPARK_METRICS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("task_s", "s"), ("jvm_cpu_s", "s"), ("gc_s", "s"),
                 ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))


def durable_run(spark, tracer, seed: int, work: Path):
    """Cold and resumed ``run_er_from_parquet(workdir=...)`` over a small
    seeded corpus, each in its own root span; returns the corpus stats,
    the two durations and the checks of both outputs."""
    from checks import partition, self_test
    from wdel_spark.datagen import CorpusConfig
    from wdel_spark.entry_pipeline import run_er_from_parquet

    corpus, wd = work / "durable_corpus", work / "durable_workdir"
    stats = write_corpus(spark, corpus, CorpusConfig(
        seed=seed, n_docs=DURABLE_DOCS, n_entities=DURABLE_ENTITIES))
    outs, secs = {}, {}
    for phase in ("cold", "resume"):
        spark.catalog.clearCache()
        with tracer.section(f"durable.{phase}"):
            t0 = time.perf_counter()
            out = run_er_from_parquet(spark, str(corpus), workdir=str(wd))
            force(out)
            secs[phase] = time.perf_counter() - t0
        outs[phase] = out.toPandas()
    counters = json.loads((wd / "_counters.json").read_text())
    ok, _ = corpus_check(corpus, seed)
    cold = partition(outs["cold"])
    same = lambda c: partition(c) == cold  # noqa: E731
    return stats, secs, {
        "durable_cold_oracle_partition": ok(outs["cold"]),
        "durable_resume_equals_cold": same(outs["resume"]),
        "durable_no_span_violations":
            counters.get("span_invariant_violations") == 0,
        **rejects(self_test(same, outs["resume"], seed), "durable_resume_"),
    }


def query_run(spark, tracer):
    """The headline queries over the sf0.01 tables, each in its own root
    span until its output is collected; each output is then compared with
    its DuckDB oracle by value hash.  Returns the checks and absent
    queries."""
    import duckdb

    from tools.verify_contract import frame_hash
    from wdel_spark.queries import REGISTRY

    sf = DATA / "sf0.01"
    con = duckdb.connect()
    checks, absent = {}, []
    try:
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf}/{t}.parquet')")
        for name in QUERIES:
            if name not in REGISTRY:
                absent.append(f"queries.{name}")
                continue
            fn, oracle_sql = REGISTRY[name]
            spark.catalog.clearCache()
            with tracer.section(f"queries.{name}"):
                got = fn(spark, str(sf)).toPandas()
            checks[f"query_{name}"] = frame_hash(got) == frame_hash(
                con.execute(oracle_sql).df())
    finally:
        con.close()
    return checks, absent


def traced_metrics(spark, session, wl, reps, counters, info, work):
    """The traced run; per-layer metrics and the checks of its outputs.
    ``counters`` are the Spark totals of one untraced rep."""
    tracer = Tracer(spark)
    tracer.install()
    try:
        traced_s, _ = timed_call(wl, spark, tracer.section("workload.e2e"))
        corpus, durable_s, checks = durable_run(spark, tracer, wl.seed,
                                                work)
        query_checks, absent_queries = query_run(spark, tracer)
        checks.update(query_checks)
    finally:
        tracer.uninstall()
    spans = span_table(tracer, group_counters(spark))
    roots = {s["root"] for s in spans}
    by_root = {
        "rep": {"workload.e2e"},
        "extra": roots - {"workload.e2e"},
        "cold": {"durable.cold"},
    }
    layers = {k: layer_metrics(spans, tracer.wrapped, tracer.absent, r)
              for k, r in by_root.items()}

    def lay(name, key, where=None):
        """From the traced rep, or the extra runs if the rep never calls
        the layer."""
        if where is None:
            rep = layers["rep"].get(name, {})
            where = "rep" if rep.get("calls") else "extra"
        return layers[where].get(name, {}).get(key, 0)

    corpora = info["corpora"] + [corpus]
    cc = "operators.cc.connected_components"
    m = {
        "session.start_s": (info["start_s"], "s"),
        "session.warmup_s": (info["warmup_s"], "s"),
        "session.peak_rss_mb": (session.peak_rss_mb(), "MB"),
        "datagen.corpus_s": (sum(c["s"] for c in corpora), "s"),
        "datagen.docs": (sum(c["docs"] for c in corpora), "count"),
        "datagen.mentions": (sum(c["mentions"] for c in corpora), "count"),
    }
    for layer, specs in LAYER_METRICS.items():
        for metric, key, unit in specs:
            m[f"{layer}.{metric}"] = (lay(layer, key), unit)
    m[f"{cc}.loop_s"] = (lay(cc, "s", "cold"), "s")
    m[f"{cc}.loop_jobs"] = (lay(cc, "jobs", "cold"), "count")
    m["entry_pipeline.run_er_from_parquet.cold_s"] = (durable_s["cold"], "s")
    m["entry_pipeline.run_er_from_parquet.resume_s"] = (
        durable_s["resume"], "s")
    query_s = {s["name"]: s["end"] - s["start"] for s in spans
               if s["name"].startswith("queries.")}
    for q in QUERIES:
        m[f"queries.{q}.s"] = (query_s.get(f"queries.{q}", 0.0), "s")
    for k, unit in SPARK_METRICS:
        m[f"spark.{k}"] = (counters.get(k, 0), unit)
    untraced_s = statistics.median(reps)
    m["tracing.overhead_s"] = (traced_s - untraced_s, "s")

    out = RUNS / "traces" / f"{wl.name}-s{wl.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({
        **info, "untraced_e2e_s": untraced_s, "traced_e2e_s": traced_s,
        "durable_s": durable_s, "spark_per_untraced_rep": counters,
        "layers": layers, "absent_layers": tracer.absent + absent_queries,
        "checks": checks,
        "metrics": {k: v for k, (v, _u) in m.items()}, "spans": spans,
    }, indent=1))
    info["trace_file"] = str(out)
    return m, checks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import wdel_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import wdel_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = RUNS / f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        result = run(WORKLOADS[args.workload], args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
