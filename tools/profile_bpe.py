"""Fine-grained breakdown of bpe_encode_fertility's cost.

Usage: python tools/profile_bpe.py [N]

Phases timed separately (min-of-N after a warm-up):
  train_s      — text.bpe_train (6 merge rounds, collect-per-round)
  rules_s      — merges.orderBy(step).collect() on the trainer's output
  seg_build_s  — the fold-chain select over the distinct-word table
                 (parse + analysis of the nested aggregate SQL)
  parse_s      — text build + parse ONLY of the 6-rule nested fold column
  enc_build_s  — remaining encode construction (join + groupBy + select)
  exec_s       — noop run of the final frame
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from feature_store_healthcare_spark import queries as catalog  # noqa: E402
from feature_store_healthcare_spark.operators import text  # noqa: E402
from feature_store_healthcare_spark.session import get_spark  # noqa: E402
from feature_store_healthcare_spark.sources import load_table  # noqa: E402


def best(step, n):
    b = None
    for _ in range(n):
        t0 = time.perf_counter()
        step()
        dt = time.perf_counter() - t0
        b = dt if b is None else min(b, dt)
    return b


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("fshs-profile-bpe")
    load_table(spark, sf_dir, "region").count()
    catalog.ensure_worker_imports(spark)
    docs = load_table(spark, sf_dir, "documents")
    fn = catalog.queries()["bpe_encode_fertility"]
    bench.run_query(fn(spark, sf_dir))  # warm

    train_s = best(lambda: text.bpe_train(docs, "text", n_merges=6), n)
    merges = text.bpe_train(docs, "text", n_merges=6)
    rules_s = best(lambda: merges.orderBy("step").collect(), n)
    rules = [(r.lhs, r.rhs) for r in merges.orderBy("step").collect()]

    parse_s = best(lambda: text._merge_folds("syms", rules), n)

    doc_words = docs.select(
        F.col("doc_id"),
        F.posexplode(
            F.split(text.normalize_text("text"), " ")
        ).alias("pos", "w"),
    ).where(F.length("w") >= 1)
    seg0 = doc_words.select("w").distinct().select(
        "w", text._char_syms("w").alias("syms")
    )
    seg_build_s = best(
        lambda: seg0.select("w", text._merge_folds("syms", rules).alias("syms")), n
    )
    enc_build_s = best(
        lambda: text.bpe_encode(docs, "doc_id", "text", rules), n
    )
    full_enc = text.bpe_encode(docs, "doc_id", "text", rules)
    exec_s = best(lambda: bench.run_query(full_enc), n)
    full_q = best(lambda: bench.run_query(fn(spark, sf_dir)), n)

    print(f"train_s      {train_s:.3f}")
    print(f"rules_s      {rules_s:.3f}")
    print(f"parse_s      {parse_s:.3f}")
    print(f"seg_build_s  {seg_build_s:.3f}")
    print(f"enc_build_s  {enc_build_s:.3f}  (encode construction, rules as list)")
    print(f"exec_s       {exec_s:.3f}  (noop of prebuilt encode frame)")
    print(f"full_query   {full_q:.3f}  (train+encode+noop, bench-equivalent)")
    spark.stop()


if __name__ == "__main__":
    main()
