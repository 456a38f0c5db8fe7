"""Same-session interleaved A/B at sf1 for the three r18 changes the
driver's bench contradicted (VERDICT r18 "Next round" item 1): the HITS
per-direction edge caches, the LSH bucket persists, and the
temporal-reachability edge persist. The SCALING.md r18g method: both
code forms run in ONE session against the same input, alternating
variant order per rep, caches cleared/released between runs, per-variant
MIN reported next to the session's frozen calibration probe.

Usage: python tools/ab_r19.py <sf_dir> <case> [reps]
  case in {hits, temporal, collusion, minhash, lpa_hits_all}
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import (  # noqa: E402
    cache as cache_mod,
    get_spark,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.cache import (  # noqa: E402
    release_caches,
)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.groupBy("l_returnflag").count().write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


class no_bucket_persist:
    """Context manager: make swap_cache a passthrough for the named key
    prefixes — reproducing the pre-4057aff un-persisted form without a
    code fork (the LSH operators resolve swap_cache from cache_mod at
    call time)."""

    def __init__(self, *prefixes: str):
        self.prefixes = prefixes

    def __enter__(self):
        self._orig = cache_mod.swap_cache

        def passthrough(key, df, *a, **kw):
            if any(key.startswith(p) for p in self.prefixes):
                return df
            return self._orig(key, df, *a, **kw)

        cache_mod.swap_cache = passthrough
        return self

    def __exit__(self, *exc):
        cache_mod.swap_cache = self._orig
        return False


# ---------------------------------------------------------------- hits
def hits_old(edges, iters=2, q=10**6, broadcast_scores=False,
             assume_distinct=False):
    """Pre-8406c9a form: ONE localCheckpoint of the distinct edge list,
    both pushes join/aggregate against it (per-push agg exchange)."""
    e = edges.select(F.col("src").alias("_src"), F.col("dst").alias("_dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=True)

    def _normalize(raw):
        m = raw.agg(F.max("raw").alias("_m"))
        return (
            raw.crossJoin(F.broadcast(m))
            .select(
                "node",
                F.expr(f"(raw * {q}L) div _m").cast("long").alias("score_q"),
            )
            .localCheckpoint(eager=True)
        )

    def _push(scores, key, out):
        s = F.broadcast(scores) if broadcast_scores else scores
        return (
            s.join(e, F.col("node") == F.col(key))
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum("score_q").cast("long").alias("raw"))
        )

    hubs = e.select(F.col("_src").alias("node")).distinct().select(
        "node", F.lit(q).cast("long").alias("score_q")
    )
    auths = None
    for _ in range(iters):
        auths = _normalize(_push(hubs, "_src", "_dst"))
        hubs = _normalize(_push(auths, "_dst", "_src"))
    out_h = hubs.select(
        "node", F.lit("hub").alias("kind"), "score_q",
        (F.col("score_q").cast("double") / F.lit(float(q))).alias("score"),
    )
    out_a = auths.select(
        "node", F.lit("authority").alias("kind"), "score_q",
        (F.col("score_q").cast("double") / F.lit(float(q))).alias("score"),
    )
    return out_h.unionByName(out_a)


def _hits_edges(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    ).distinct()


def hits_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        hits_quantized,
    )

    def cur():
        _noop(
            hits_quantized(
                _hits_edges(spark, sf_dir), iters=2,
                broadcast_scores=True, assume_distinct=True,
            )
        )

    def old():
        _noop(
            hits_old(
                _hits_edges(spark, sf_dir), iters=2,
                broadcast_scores=True, assume_distinct=True,
            )
        )

    return {"cur": cur, "old": old}


# ------------------------------------------------------------ temporal
def temporal_old_edges_build(edges, src="src", dst="dst", time_col="t"):
    return (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
            F.col(time_col).cast("long").alias("t"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
    )


def temporal_old(edges, seeds, rounds=4):
    """Pre-22499e8 form: repartition('u') + localCheckpoint (the
    partitioning-forgetting checkpoint)."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators import (
        graph as g,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.session import (
        broadcast_threshold_bytes,
    )

    e = temporal_old_edges_build(edges).localCheckpoint(eager=True)
    nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    arr = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .join(nodes.select(F.col("u").alias("node")), "node", "leftsemi")
        .select("node", F.lit(0).cast("long").alias("arrive_t"))
        .localCheckpoint(eager=True)
    )
    bc_cap = min(broadcast_threshold_bytes(edges.sparkSession), g._FRONTIER_BC_CAP)
    use_broadcast = 0 < nodes.count() * 32 <= bc_cap
    frontier = arr
    for _ in range(rounds):
        fb = F.broadcast(frontier) if use_broadcast else frontier
        cand = (
            e.join(fb.withColumnRenamed("node", "u"), "u")
            .where(F.col("t") >= F.col("arrive_t"))
            .select(F.col("v").alias("node"), F.col("t").alias("na"))
            .groupBy("node")
            .agg(F.min("na").alias("na"))
        )
        merged = (
            arr.join(cand, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce(F.col("arrive_t"), F.lit(2**62)),
                    F.coalesce(F.col("na"), F.lit(2**62)),
                ).alias("arrive_t"),
                (
                    F.col("arrive_t").isNull()
                    | (F.col("na") < F.col("arrive_t"))
                ).alias("_improved"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = merged.where(F.col("_improved")).select("node", "arrive_t")
        arr = merged.select("node", "arrive_t")
        if frontier.isEmpty():
            break
    return arr


def _temporal_inputs(spark, sf_dir):
    from pyspark.sql import Window

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    seq = li.select(
        "l_orderkey",
        F.col("l_partkey"),
        F.lead("l_partkey").over(w).alias("_nxt"),
    )
    e = (
        seq.where(
            F.col("_nxt").isNotNull() & (F.col("_nxt") != F.col("l_partkey"))
        )
        .join(o, seq["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("l_partkey").alias("src"),
            F.col("_nxt").alias("dst"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("t"),
        )
    )
    seeds = (
        spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
        .where(F.col("p_partkey") < 10)
        .select("p_partkey")
    )
    return e, seeds


def temporal_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        temporal_reachability,
    )

    def cur():
        e, seeds = _temporal_inputs(spark, sf_dir)
        _noop(temporal_reachability(e, seeds, rounds=4).orderBy("node"))

    def old():
        e, seeds = _temporal_inputs(spark, sf_dir)
        _noop(temporal_old(e, seeds, rounds=4).orderBy("node"))

    return {"cur": cur, "old": old}


# ----------------------------------------------------------- collusion
def collusion_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
        shared_counterparty_pairs_lsh,
    )

    def _run():
        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
            F.col("o_custkey").alias("entity"),
            F.col("l_suppkey").alias("counterparty"),
        )
        _noop(
            shared_counterparty_pairs_lsh(
                edges, "entity", "counterparty",
                min_shared=2, jaccard_num=1, jaccard_den=2,
            )
        )

    def cur():
        _run()

    def old():
        with no_bucket_persist("cooccur.lsh_buckets"):
            _run()

    return {"cur": cur, "old": old}


# ------------------------------------------------------------- minhash
def minhash_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    def _run():
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        _noop(minhash_near_dup_pairs(d, threshold=0.5))

    def cur():
        _run()

    def old():
        with no_bucket_persist("dedup.minhash_buckets"):
            _run()

    return {"cur": cur, "old": old}


# ------------------------------------------------------------ pagerank
def pagerank_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        pagerank_quantized,
    )

    def _run(eager):
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        fw = li.select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + 1000000).alias("dst"),
        ).distinct()
        edges = fw.union(
            fw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        _noop(
            pagerank_quantized(
                edges, iters=5, broadcast_ranks=True, assume_distinct=True,
                eager_round_checkpoints=eager,
            )
        )

    return {"lazy": lambda: _run(False), "eager": lambda: _run(True)}


# ------------------------------------------------------------ spearman
def spearman_old(df, cols):
    """Pre-r19 form: one full avg_rank2 chain per column."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.stats import (
        avg_rank2,
    )

    keyed = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    withr = keyed
    for c in cols:
        r = avg_rank2(keyed, c).withColumnRenamed("r2", f"_r2_{c}")
        withr = withr.join(r, c)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]

    def _d(name):
        return F.col(name).cast("decimal(13,0)")

    for c in cols:
        aggs.append(F.sum(_d(f"_r2_{c}") * _d(f"_r2_{c}")).alias(f"_s_{c}_{c}"))
    for cx, cy in pairs:
        aggs.append(
            F.sum(_d(f"_r2_{cx}") * _d(f"_r2_{cy}")).alias(f"_s_{cx}_{cy}")
        )
    m = withr.agg(*aggs)
    nd = F.col("n").cast("decimal(13,0)")
    center = nd * (nd + 1) * (nd + 1)
    rows = []
    for cx, cy in pairs:
        cxx = F.col(f"_s_{cx}_{cx}") - center
        cyy = F.col(f"_s_{cy}_{cy}") - center
        cxy = F.col(f"_s_{cx}_{cy}") - center
        rows.append(
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.col("n").alias("n"),
                (
                    cxy.cast("double")
                    / F.sqrt(cxx.cast("double") * cyy.cast("double"))
                ).alias("rho"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("_p")).select(
        "_p.col_x", "_p.col_y", "_p.n", "_p.rho"
    )


SPEARMAN_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def spearman_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.stats import (
        spearman_pairs,
    )

    def _li():
        return spark.read.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        ).select(*SPEARMAN_COLS)

    return {
        "cur": lambda: _noop(spearman_pairs(_li(), SPEARMAN_COLS)),
        "old": lambda: _noop(spearman_old(_li(), SPEARMAN_COLS)),
    }


# ---------------------------------------------------------- betweenness
def betweenness_pp(edges, k_sources=8, max_hops=8, seed=42,
                   sigma_type="decimal(38,0)", layout="persist_v"):
    """r18 'attempted and rejected' variant, re-tested at sf1 per
    VERDICT r18 item 4: `both` persisted pre-partitioned on the join
    key v (hash(v) satisfies every groupBy (s, v) clustering and the
    broadcast joins preserve it, so post-build rounds run
    exchange-light), vs HEAD's checkpoint + per-use union.
    ``sigma_type`` additionally A/Bs the decimal-vs-long σ/δ
    accumulation (same item): 'long' swaps the decimal(38,0) sums for
    BIGINT — ANSI raises loudly on overflow, values identical while in
    range."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        _canonical,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.cache import (
        drop_cache, plan_key, swap_cache,
    )

    e = _canonical(
        edges.select(
            F.col("id_a").cast("long").alias("u"),
            F.col("id_b").cast("long").alias("v"),
        )
    ).localCheckpoint(eager=True)
    if layout == "persist_v":
        both_plan = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition("v")
        both = swap_cache(plan_key("ab.btw.both", both_plan), both_plan)
    else:  # the shipped checkpoint + per-use union layout
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = both.select("u").distinct().localCheckpoint(eager=True)
    dec = sigma_type
    srcs = (
        nodes.select(F.col("u").alias("s"))
        .withColumn("_h", F.xxhash64(F.col("s"), F.lit(seed)))
        .orderBy("_h", "s")
        .limit(k_sources)
        .select("s")
    )
    settled = (
        srcs.select(
            "s", F.col("s").alias("v"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1).cast(dec).alias("sigma"),
        ).localCheckpoint(eager=True)
    )
    frontier = settled
    deepest = 0
    for h in range(1, max_hops + 1):
        fb = F.broadcast(frontier.select("s", "v", "sigma"))
        ex = fb.join(both, "v").select("s", F.col("v"), F.col("u"), "sigma")
        agg = (
            ex.select("s", F.col("u").alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").cast(dec).alias("sigma"))
        )
        new = (
            agg.join(settled.select("s", "v"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(h).cast("long").alias("dist"), "sigma")
        )
        settled = settled.union(new).localCheckpoint(eager=True)
        frontier = settled.where(F.col("dist") == h)
        if frontier.isEmpty():
            break
        deepest = h
    Q = 1e12
    delta_prev = settled.sparkSession.createDataFrame(
        [], f"s long, v long, qd {dec}"
    )
    level_deltas = []
    for h in range(deepest - 1, -1, -1):
        upper = (
            settled.where(F.col("dist") == h + 1)
            .join(delta_prev, ["s", "v"], "left")
            .select(
                "s", F.col("v").alias("w"), F.col("sigma").alias("_sw"),
                F.coalesce(F.col("qd"), F.lit(0).cast(dec)).alias("_qdw"),
            )
        )
        lower = settled.where(F.col("dist") == h).select(
            "s", "v", F.col("sigma").alias("_sv")
        )
        lb, ub = F.broadcast(lower), F.broadcast(upper)
        pairs = lb.join(
            both.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
        ).join(ub, ["s", "w"])
        contrib = (
            F.col("_sv").cast("double") / F.col("_sw").cast("double")
        ) * (F.lit(1.0) + F.col("_qdw").cast("double") / F.lit(Q))
        d_h = (
            pairs.withColumn("_q", F.floor(contrib * F.lit(Q)).cast(dec))
            .groupBy("s", "v")
            .agg(F.sum("_q").cast(dec).alias("qd"))
            .localCheckpoint(eager=True)
        )
        level_deltas.append(d_h)
        delta_prev = d_h
    delta = delta_prev
    for d in level_deltas[:-1]:
        delta = delta.union(d)
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    k_eff = srcs.agg(F.count(F.lit(1)).cast("long").alias("_k"))
    btw = (
        delta.where(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(F.sum("qd").cast(dec).alias("_qsum"))
    )
    out = (
        nodes.select(F.col("u").alias("id"))
        .join(btw.select(F.col("v").alias("id"), "_qsum"), "id", "left")
        .crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(k_eff))
        .select(
            "id",
            (
                F.coalesce(F.col("_qsum").cast("double"), F.lit(0.0))
                / F.lit(Q) / F.lit(2.0)
                * (F.col("_n").cast("double") / F.col("_k").cast("double"))
            ).alias("betweenness"),
        )
        .orderBy("id")
    )
    if layout == "persist_v":
        drop_cache(plan_key("ab.btw.both", both))
    return out


def _co_edges(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.posexplode("ps").alias("i", "id_a"), F.col("ps"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("id_b"),
        )
        .distinct()
    )


def betweenness_variants(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        betweenness_sampled,
    )

    return {
        "cur": lambda: _noop(betweenness_sampled(_co_edges(spark, sf_dir))),
        "cur_long": lambda: _noop(
            betweenness_pp(
                _co_edges(spark, sf_dir), sigma_type="long",
                layout="checkpoint",
            )
        ),
        "pp_long": lambda: _noop(
            betweenness_pp(_co_edges(spark, sf_dir), sigma_type="long")
        ),
    }


CASES = {
    "hits": hits_variants,
    "temporal": temporal_variants,
    "collusion": collusion_variants,
    "minhash": minhash_variants,
    "pagerank": pagerank_variants,
    "spearman": spearman_variants,
    "betweenness": betweenness_variants,
}


def main():
    sf_dir = sys.argv[1]
    case = sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark("ifds-ab-r19")
    spark.range(1000).selectExpr("sum(id)").collect()
    p0 = round(min(probe(spark, sf_dir) for _ in range(5)), 4)
    variants = CASES[case](spark, sf_dir)
    times: dict[str, list[float]] = {v: [] for v in variants}
    # one untimed warm-up of each variant, then interleaved reps
    for name, fn in variants.items():
        spark.catalog.clearCache()
        fn()
        release_caches()
    for r in range(reps):
        order = list(variants) if r % 2 == 0 else list(reversed(variants))
        for name in order:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            variants[name]()
            dt = time.perf_counter() - t0
            release_caches()
            times[name].append(round(dt, 2))
            print(f"rep{r} {name}: {dt:.2f}s", flush=True)
    p1 = round(min(probe(spark, sf_dir) for _ in range(3)), 4)
    print(
        {
            "case": case,
            "sf_dir": sf_dir,
            "probe_open": p0,
            "probe_close": p1,
            "reps": times,
            "min": {n: min(t) for n, t in times.items()},
        }
    )


if __name__ == "__main__":
    main()
