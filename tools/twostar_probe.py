"""Two-star CC round-structure A/B: exchange-count surgery per round.

Compares the landed large-star/small-star round body (groupBy+join per
star, intermediate distinct: ~6 Exchanges/round) against two rewrites:

  V2: small-star via ONE groupBy(u).agg(min, collect_set) then explode
      (fuses the distinct + smins-groupBy + hang-join into one
      aggregation exchange)                      -> ~4 Exchanges/round
  V1: V2 plus large-star via a window min over partitionBy(u) instead
      of groupBy+join-back                        -> ~3 Exchanges/round

All three are run INTERLEAVED per iteration on the real LSH edge set of
the dd6 corpus at --sf, timed end-to-end (loop to convergence, noop
sink on the labels), and checked label-for-label identical via
exceptAll both ways. Also reports the max collect_set buffer size the
star aggregation would hold (the memory-contract check: bounded by
per-node distinct-min count, NOT cluster size).

Usage: python tools/twostar_probe.py --sf /root/testdata/sf0.1 --iters 4
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from trello_github_etl_spark.operators import dedup
from trello_github_etl_spark.session import get_spark


def _signature(df: DataFrame):
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def twostar_variant(pairs: DataFrame, variant: str, max_iter: int = 50) -> DataFrame:
    """variant in {'old', 'v1', 'v2'} — same fixpoint, different round body."""
    raw = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    all_nodes = raw.select(F.col("u").alias("node")).unionByName(
        raw.select(F.col("v").alias("node"))
    ).distinct().localCheckpoint(eager=True)
    e = raw.filter(F.col("u") != F.col("v"))
    edges = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct().localCheckpoint(eager=True)

    sig = _signature(edges)
    converged = False
    for _ in range(max_iter):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        if variant == "v1":
            w = Window.partitionBy("u")
            large = (
                sym.withColumn("_mn", F.min("v").over(w))
                .filter(F.col("v") > F.col("u"))
                .select(
                    F.col("v").alias("u"),
                    F.least(F.col("_mn"), F.col("u")).alias("v"),
                )
            )
        else:
            lmins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("_mn"))
                .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
            )
            large = (
                sym.join(lmins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
        if variant == "old":
            large = large.distinct()
            smins = large.groupBy("u").agg(F.min("v").alias("m"))
            hang_neighbors = (
                large.join(smins, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            hang_self = smins.select("u", F.col("m").alias("v"))
            hang = hang_neighbors.unionByName(hang_self)
        else:
            star = large.groupBy("u").agg(
                F.min("v").alias("m"), F.collect_set("v").alias("vs")
            )
            # one expression emits the re-hung neighbors AND the self
            # row — no Union, no join, one aggregation exchange
            hang = star.select(
                F.explode(
                    F.concat(
                        F.transform(
                            F.filter("vs", lambda x: x != F.col("m")),
                            lambda x: F.struct(
                                x.alias("u"), F.col("m").alias("v")
                            ),
                        ),
                        F.array(
                            F.struct(
                                F.col("u").alias("u"),
                                F.col("m").alias("v"),
                            )
                        ),
                    )
                ).alias("e")
            ).select("e.u", "e.v")
        edges = hang.distinct().localCheckpoint(eager=True)
        new_sig = _signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError("did not converge")
    return all_nodes.join(
        edges, all_nodes["node"] == edges["u"], "left"
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("v"), F.col("node")).alias("cluster_id"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=4)
    ap.add_argument("--variants", default="old,v2,v1")
    args = ap.parse_args()

    spark = get_spark("twostar_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # the dd6 corpus: augmented docs, same as llm_q._augmented_docs
    from trello_github_etl_spark import registry

    registry.load_all()
    from trello_github_etl_spark.queries.llm_q import _augmented_docs

    docs = _augmented_docs(spark, args.sf)
    pairs = dedup.lsh_candidate_edges(docs, "text").localCheckpoint(eager=True)
    n_edges = pairs.count()
    print(f"edge set: {n_edges} rows", flush=True)

    # equivalence check once (old vs each new), label-for-label
    base = twostar_variant(pairs, "old").localCheckpoint(eager=True)
    for v in ("v2", "v1"):
        got = twostar_variant(pairs, v)
        d1 = got.exceptAll(base).count()
        d2 = base.exceptAll(got).count()
        print(f"equivalence old vs {v}: exceptAll {d1}/{d2}", flush=True)

    # buffer-size audit for the star aggregation on round-1 input
    sym = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    sym = sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lmins = sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least(F.col("_mn"), F.col("u")).alias("m")
    )
    large = sym.join(lmins, "u").filter(F.col("v") > F.col("u")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    mx = large.groupBy("u").agg(F.countDistinct("v").alias("k")).agg(
        F.max("k")
    ).collect()[0][0]
    print(f"max distinct small-star set size (round 1): {mx}", flush=True)

    variants = args.variants.split(",")
    times: dict[str, list[float]] = {v: [] for v in variants}
    for i in range(args.iters):
        for v in variants:
            spark.sparkContext.setJobDescription(f"twostar:{v}:iter{i}")
            t0 = time.time()
            twostar_variant(pairs, v).write.format("noop").mode(
                "overwrite"
            ).save()
            times[v].append(round(time.time() - t0, 3))
            print(f"iter {i} {v}: {times[v][-1]}s", flush=True)
    for v in variants:
        print(
            f"{v}: median {statistics.median(times[v]):.3f}s runs={times[v]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
