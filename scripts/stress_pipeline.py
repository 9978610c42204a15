"""Scale stress for the training-data pipeline operators: synthesize a
1M-document corpus IN-PLAN (no files, fully deterministic) and run
repetition stats, decontamination, sequence packing, global shuffle, and
weighted sampling end-to-end at local[32], printing one JSON line of
wall-clocks + sanity counts.

This is the 100×-scale-behavior evidence for operators whose oracle runs
at sf0.01 (500 docs): same plans, 2000× the rows, no driver collects, no
single-task stages (pack/shuffle bucket counts chosen so every stage is
partition-parallel).

Usage: python scripts/stress_pipeline.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from warcbase_spark.session import get_spark  # noqa: E402


def synth_docs(spark, n: int, vocab: int = 50):
    """Deterministic in-plan corpus: ~20-50 tokens/doc. The default 50-word
    vocab is dense enough that trigrams collide across docs (exercising the
    decontamination join and repetition folds realistically); pass a wide
    ``vocab`` for web-like low-collision text (the e2e chain needs a corpus
    where decontamination does NOT wipe out the training side)."""
    d = spark.range(n).withColumnRenamed("id", "doc_id")
    ntok = (20 + F.pmod(F.col("doc_id"), F.lit(30))).cast("int")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), ntok),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(F.col("doc_id") * 1000 + i), F.lit(vocab))
            ),
        ),
    )
    src = F.concat(F.lit("src"), F.pmod(F.col("doc_id"), F.lit(20)))
    return d.select("doc_id", text.alias("text"), src.alias("source"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="stress_pipeline", master=f"local[{cpus}]")

    from warcbase_spark.operators.pipeline import (
        decontaminate,
        global_shuffle,
        pack_sequences,
        repetition_stats,
        weighted_sample,
    )

    docs = synth_docs(spark, n).repartition(cpus * 4)
    # materialize once so each operator's timing excludes corpus synthesis
    docs = docs.localCheckpoint(eager=True)

    out: dict = {"n_docs": n, "cpus": cpus}

    t0 = time.monotonic()
    rep = repetition_stats(docs)
    n_flagged = rep.where("flag_repetitive = 1").count()
    out["repetition_sec"] = round(time.monotonic() - t0, 2)
    out["repetition_flagged"] = n_flagged

    t0 = time.monotonic()
    dc = decontaminate(
        docs.where(F.col("doc_id") % 97 != 0), docs.where(F.col("doc_id") % 97 == 0), n=3
    )
    out["decontam_rows"] = dc.count()
    out["decontam_sec"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    p = pack_sequences(docs, ctx_len=2048)
    agg = p.agg(
        F.count("*").alias("rows"),
        F.max("tok_start").alias("max_start"),
        F.sum("crosses_boundary").alias("crossers"),
        F.max("pack_last").alias("n_packs"),
    ).collect()[0]
    out["pack_sec"] = round(time.monotonic() - t0, 2)
    out["pack_rows"] = agg["rows"]
    out["pack_max_start"] = int(agg["max_start"])
    out["pack_n_packs"] = int(agg["n_packs"]) + 1
    out["pack_crossers"] = int(agg["crossers"])

    t0 = time.monotonic()
    sh = global_shuffle(docs)
    mm = sh.agg(
        F.count("*").alias("rows"),
        F.min("shuffle_pos").alias("lo"),
        F.max("shuffle_pos").alias("hi"),
        F.countDistinct("shuffle_pos").alias("nd"),
    ).collect()[0]
    out["shuffle_sec"] = round(time.monotonic() - t0, 2)
    assert (mm["lo"], mm["hi"], mm["nd"]) == (1, n, n), "not a permutation!"
    out["shuffle_is_permutation"] = True

    t0 = time.monotonic()
    ws = weighted_sample(docs)
    out["sample_sources"] = ws.count()
    out["sample_sec"] = round(time.monotonic() - t0, 2)

    total_tok = p.agg(F.sum("ntok")).collect()[0][0]
    out["total_tokens"] = int(total_tok)
    out["repetition_docs_per_sec"] = int(n / out["repetition_sec"])

    # end-to-end composition: the whole chain (mix → decontam → exact dedup
    # → minhash-CC keep-one → pack → shuffle) as ONE composed plan —
    # proves the operators compose at 2000× the oracle scale
    from warcbase_spark.operators.pipeline import training_pipeline

    # wide-vocab corpus: on the 50-word corpus decontamination correctly
    # flags ~every train doc (total gram collision), which would starve
    # the downstream stages of input — web-like text doesn't collide so
    wide = synth_docs(spark, n, vocab=200_000).repartition(cpus * 4)
    wide = wide.localCheckpoint(eager=True)
    reg = []
    t0 = time.monotonic()
    e2e = training_pipeline(
        wide, eval_mod=97, ctx_len=2048, cache_registry=reg,
        minhash_hash_mode="md5",  # oracle-portable mode, explicit since the engine default is 'fast'
    ).collect()
    out["e2e_sec"] = round(time.monotonic() - t0, 2)
    out["e2e_sources"] = len(e2e)
    out["e2e_docs"] = int(sum(r["n_docs"] for r in e2e))
    out["e2e_tokens"] = int(sum(r["tokens"] for r in e2e))
    # the shuffle checksum over ALL survivors must be N(N+1)/2 — the
    # per-source sums partition a complete 1..N permutation
    n_surv = out["e2e_docs"]
    assert n_surv > 0, "e2e pipeline starved — no surviving documents"
    assert sum(r["shuffle_checksum"] for r in e2e) == n_surv * (n_surv + 1) // 2, (
        "e2e shuffle positions are not a complete permutation"
    )
    out["e2e_shuffle_permutation"] = True

    # same chain with the engine-mode fast minhash kernel (xxhash64): the
    # production configuration; md5 above is the oracle-portable mode
    for df in reg:  # release the md5 run's shingle cache + checkpoints
        df.unpersist()
    reg = []
    t0 = time.monotonic()
    e2e_fast = training_pipeline(
        wide, eval_mod=97, ctx_len=2048,
        minhash_hash_mode="fast", cache_registry=reg,
    ).collect()
    out["e2e_fast_sec"] = round(time.monotonic() - t0, 2)
    out["e2e_fast_matches_md5"] = sorted(map(tuple, e2e_fast)) == sorted(map(tuple, e2e))
    for df in reg:
        df.unpersist()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
