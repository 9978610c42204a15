"""Tests for the training-data pipeline operators (operators/pipeline.py):
repetition stats, decontamination, sequence packing, weighted mixing."""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

from pyspark.sql import functions as F

from warcbase_spark.operators.pipeline import (
    decontaminate,
    pack_sequences,
    repetition_stats,
    weighted_sample,
)
from warcbase_spark.operators.scheduler import add_global_seq


def _rep(spark, text):
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    return repetition_stats(df).collect()[0]


def test_repetition_stats_hand_values(spark):
    # 'a b a b a b c': ntok=7, distinct=3, top bigram 'a b' x3 -> cover 6/7,
    # trigrams: aba,bab,aba,bab,abc -> dup occurrences 4 of 5
    r = _rep(spark, "a b a b a b c")
    assert r.ntok == 7
    assert r.distinct_milli == 3 * 1000 // 7
    assert r.top_bigram_milli == 3 * 2 * 1000 // 7
    assert r.dup_trigram_milli == 4 * 1000 // 5
    assert r.flag_repetitive == 1  # top-bigram 857 > 180

    clean = _rep(spark, "one two three four five six seven eight nine ten")
    assert clean.distinct_milli == 1000
    assert clean.top_bigram_milli == 0  # no bigram repeats -> not repetition
    assert clean.dup_trigram_milli == 0
    assert clean.flag_repetitive == 0


def test_repetition_short_docs_no_grams(spark):
    r1 = _rep(spark, "solo")
    assert (r1.ntok, r1.top_bigram_milli, r1.dup_trigram_milli, r1.flag_repetitive) == (1, 0, 0, 0)
    r2 = _rep(spark, "two words")
    assert r2.top_bigram_milli == 0  # single unrepeated bigram
    assert r2.dup_trigram_milli == 0
    r3 = _rep(spark, "go go")
    assert r3.top_bigram_milli == 0  # 'go go' bigram occurs once
    r4 = _rep(spark, "go go go")
    assert r4.top_bigram_milli == 2 * 2 * 1000 // 3  # 'go go' x2


def test_repetition_plan_is_shuffle_free(spark):
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def _brute_decontam(docs, eval_ids, n=3):
    def grams(text):
        t = text.split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    ev = set()
    for i, txt in docs:
        if i in eval_ids:
            ev |= grams(txt)
    out = {}
    for i, txt in docs:
        if i in eval_ids:
            continue
        g = grams(txt)
        shared = len(g & ev)
        if shared:
            out[i] = (len(g), shared)
    return out


def test_decontaminate_matches_bruteforce(spark):
    rows = [
        (0, "a b c d e f"),
        (1, "a b c x y z"),          # shares 'a b c' with eval doc 0
        (2, "p q r s t u"),          # clean
        (3, "x y z a b c d"),        # shares 'a b c' and ... with 0/1
        (4, "a b c d e f g"),        # heavy overlap with 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    eval_ids = {0}
    got = {
        r.doc_id: (r.n_grams, r.n_shared)
        for r in decontaminate(
            df.where("doc_id != 0"), df.where("doc_id = 0"), n=3
        ).collect()
    }
    assert got == _brute_decontam(rows, eval_ids)


def test_decontaminate_shuffle_fallback_parity(spark):
    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7} w{(i + 3) % 5} t{i % 11}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tr, ev = df.where("doc_id % 5 != 0"), df.where("doc_id % 5 = 0")
    a = sorted(map(tuple, decontaminate(tr, ev, n=2).collect()))
    b = sorted(map(tuple, decontaminate(tr, ev, n=2, broadcast_row_limit=0).collect()))
    assert a == b and len(a) > 0


@contextmanager
def _shuffle_partitions(spark, n):
    """The bucket count of ``add_global_seq`` is the session's
    ``spark.sql.shuffle.partitions``."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_global_running_sum_bucket_independence(spark):
    """The running sum is the single-node one at every bucket count, from
    one bucket to more buckets than rows have distinct sample keys."""
    rows = [(i, (i * 37) % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    expect, acc = {}, 0
    for i, w in rows:
        acc += w
        expect[i] = acc
    for n in (1, 3, 7, 64):
        with _shuffle_partitions(spark, n):
            reg: list = []
            total: list = []
            got = {
                r.doc_id: r.cum
                for r in add_global_seq(
                    df, ["doc_id"], "cum", weight=F.col("w"), total_out=total, cache_registry=reg
                ).collect()
            }
            for d in reg:
                d.unpersist()
        assert got == expect, f"shuffle.partitions={n}"
        assert total == [acc]


def test_pack_sequences_invariants(spark):
    rows = [(i, " ".join(f"t{j}" for j in range((i * 13) % 40 + 1))) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(pack_sequences(df, ctx_len=32).collect(), key=lambda r: r.doc_id)
    # token stream is contiguous: each doc starts where the previous ended
    pos = 0
    for r in out:
        assert r.tok_start == pos
        pos += r.ntok
        assert r.pack_first == r.tok_start // 32
        assert r.pack_last == (r.tok_start + r.ntok - 1) // 32
        assert r.crosses_boundary == int(r.pack_last > r.pack_first)
    # every pack except the last is exactly full: max covered token == total
    assert pos == sum(len(t.split()) for _, t in rows)


def test_weighted_sample_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, f"src{i % 5}", "tok " * (i % 9 + 1)) for i in range(1000)],
        ["doc_id", "source", "text"],
    )
    a = sorted(map(tuple, weighted_sample(df).collect()))
    b = sorted(map(tuple, weighted_sample(df).collect()))
    assert a == b
    rates = {r.source: r.rate_milli for r in weighted_sample(df).collect()}
    # src0 target 1000 => keeps everything; rates decrease with source index
    assert rates["src0"] == 1000
    assert rates["src4"] < rates["src0"]
    for r in weighted_sample(df).collect():
        assert 0 <= r.n_kept <= r.n_total == 200


def test_global_shuffle_is_permutation_and_deterministic(spark):
    from warcbase_spark.operators.pipeline import global_shuffle

    df = spark.createDataFrame([(i, f"t{i}") for i in range(500)], ["doc_id", "text"])
    a = {r.doc_id: r.shuffle_pos for r in global_shuffle(df).collect()}
    b = {r.doc_id: r.shuffle_pos for r in global_shuffle(df).collect()}
    assert a == b  # deterministic
    assert sorted(a.values()) == list(range(1, 501))  # exact permutation
    # matches the single-node definition: rank of md5('shuf0:'||id)
    import hashlib

    expect_order = sorted(range(500), key=lambda i: (hashlib.md5(f"shuf0:{i}".encode()).hexdigest(), i))
    expect = {i: pos + 1 for pos, i in enumerate(expect_order)}
    assert a == expect
    # a different seed yields a different permutation
    c = {r.doc_id: r.shuffle_pos for r in global_shuffle(df, seed="epoch1").collect()}
    assert c != a and sorted(c.values()) == list(range(1, 501))
    # the bucket count never changes the permutation
    for n in (1, 3, 7, 64):
        with _shuffle_partitions(spark, n):
            d = {r.doc_id: r.shuffle_pos for r in global_shuffle(df).collect()}
        assert d == a, f"shuffle.partitions={n}"


def test_pack_manifest_every_pack_full_but_last(spark):
    """Concatenate-and-chunk guarantees every ctx window is exactly full
    except the final one; doc counts per pack cover the whole corpus."""
    from warcbase_spark.operators.pipeline import pack_sequences

    rows = [(i, " ".join(f"t{j}" for j in range((i * 7) % 25 + 1))) for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = pack_sequences(df, ctx_len=32)
    tok_end = F.col("tok_start") + F.col("ntok")
    x = p.select(
        "tok_start", tok_end.alias("tok_end"),
        F.explode(F.sequence("pack_first", "pack_last")).alias("pack_id"),
    )
    in_pack = F.least(F.col("tok_end"), (F.col("pack_id") + 1) * 32) - F.greatest(
        F.col("tok_start"), F.col("pack_id") * 32
    )
    m = sorted(
        x.groupBy("pack_id").agg(F.sum(in_pack).alias("n_tokens")).collect(),
        key=lambda r: r.pack_id,
    )
    total = sum(len(t.split()) for _, t in rows)
    assert [r.pack_id for r in m] == list(range(len(m)))
    assert all(r.n_tokens == 32 for r in m[:-1])
    assert m[-1].n_tokens == total - 32 * (len(m) - 1)
