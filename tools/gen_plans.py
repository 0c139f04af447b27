"""Generate PLANS.md: formatted physical plans of the headline paths."""
import io, sys
sys.path.insert(0, '/root/repo')
from contextlib import redirect_stdout
from wdel_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("plans", cores=4, shuffle_partitions=8)
sf = "/root/testdata/sf0.001"
out = io.StringIO()

def section(title, df, note=""):
    out.write(f"\n## {title}\n\n")
    if note: out.write(note.strip() + "\n")
    out.write("\n```\n")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # keep the operator tree + first ~40 detail entries, truncate the rest
    lines = txt.splitlines()
    out.write("\n".join(lines[:160]))
    if len(lines) > 160: out.write(f"\n... [{len(lines)-160} detail lines truncated]\n")
    out.write("\n```\n")

out.write("""# PLANS — formatted physical plans of the headline paths

Generated by `python tools/gen_plans.py` (explain-only, sf0.001 inputs;
plans are the INITIAL AQE plans — at runtime AQE re-plans with exact
sizes: broadcast conversion, partition coalescing, skew splitting).

Reading guide — what to check in each plan:
- `PushedFilters` / narrow `ReadSchema` on every parquet scan
  (predicate pushdown + column pruning reached the source);
- `WholeStageCodegen` spans covering the hot expression chains
  (normalize, hashing, aggregation stay JVM-side);
- joins: `BroadcastHashJoin` for dimension/side tables, exchanges only
  on slim id/key columns;
- partial aggregation (`HashAggregate` x2 around each `Exchange`) on
  every distinct/groupBy.
""")

# 1. flagship id plan (no pinning so the whole DAG shows as one tree)
from wdel_spark.entry_pipeline import derive_mention_tokens, derive_vocab_kb_df
from wdel_spark.plans.pipeline import er_ids_plan
mt = derive_mention_tokens(spark, sf)
kb = derive_vocab_kb_df(spark, mt)
clusters = er_ids_plan(None, kb, pin=lambda name, df: df, mention_spans=mt)
section("Flagship ER pipeline (er_ids_plan, un-pinned single DAG)", clusters,
        """Granularity ladder (r6 shape): the mention token table comes straight
off the documents scan (no spans-array re-nest); occurrences carry only
64-bit ids; normalize runs on distinct raw texts; block_key + blocking
join on distinct norms; the python scorer (AQE-rebalanced) on distinct
signatures; CC on slim (src,dst) longs with the star-shaped fast path.
In the executed plan the `pin` points cut this tree into materialized
stages.""")

# 2. simhash neardup
import __spark_entry__ as E
qs = E.queries()
section("simhash_neardup (banded self-join)", qs["simhash_neardup"](spark, sf))
section("minhash_lsh_neardup", qs["minhash_lsh_neardup"](spark, sf))
section("embedding_neardup_banded (band-OR LSH + cap)", qs["embedding_neardup_banded"](spark, sf))
section("cosine_topk (broadcast query vector, TakeOrderedAndProject)", qs["cosine_topk"](spark, sf))

open('/root/repo/PLANS.md', 'w').write(out.getvalue())
print("PLANS.md written,", len(out.getvalue()), "chars")
spark.stop()
