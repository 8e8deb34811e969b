"""Skew probe: salted vs unsalted execution on a 30%-hot-key corpus.

VERDICT r3 #8: the salted paths (plans/kg.py hot-key-probe surface
aggregation; skew.salted_equi_join for the north rule's "skewed domains
are salted before the link-scoring shuffle") are correctness-tested but
the bench corpus never stresses them. This probe synthesizes a corpus
where ONE key carries 30% of all rows and measures, per variant:

- wall-clock,
- the MAX and MEDIAN task executorRunTime of the heaviest stage (from
  the Spark UI REST API — real task-time distribution, not a proxy),
- an order-insensitive output hash (sum of xxhash64 over all columns),
  proving every variant computes the identical result.

Join variants (the link-scoring shuffle shape; broadcast disabled —
at 10^12 rows neither link side is broadcastable):
  plain_static — ordinary equi-join with AQE fully OFF: the unmitigated
                 baseline (one reducer owns the hot key; on a static
                 1000-executor plan that reducer is the job's critical
                 path).
  plain_aqe    — ordinary equi-join under the production session config
                 (AQE + skew-join split ON): what the optimizer fixes
                 on its own when the skew is a visible SMJ partition.
  salted       — skew.salted_equi_join (AQE off, isolating the salt's
                 own effect): the explicit content-derived salt that
                 also covers shapes AQE cannot split (joins feeding
                 applyInPandas groups, aggregation pipelines).

Aggregation variants (entity_surfaces on the same skew):
  agg_plain / agg_salted — expected to be NEAR PARITY: a count groupBy
  partial-aggregates map-side, so a hot key ships one row per map task
  regardless of skew. The salted form exists for aggregates partial agg
  cannot absorb (applyInPandas grouping, wide collect-style states);
  the probe reports the honest numbers either way.

Usage: python tools/salt_probe.py [n_rows] [cores]   (defaults 2e6, 8)
Prints one JSON line; bench.py embeds it in BENCH.md.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from stage_rest import completed_stages, task_ms  # noqa: E402


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from gliner_spark.operators.linking import entity_surfaces
    from gliner_spark.operators.skew import salted_equi_join
    from gliner_spark.session import build_session

    spark = build_session(
        app_name="salt-probe", cores=cores,
        # enough reduce partitions that static cold tasks are small and
        # the hot reducer stands out (as on a 1000-executor static plan)
        shuffle_partitions=cores * 4,
        extra={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4047",
            # neither side of the 10^12-row link-scoring join is
            # broadcastable; force the shuffle the probe studies
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    # 30%-hot synthetic mentions: surface 'hot corp' owns 30% of rows,
    # the rest spread over 50k surfaces. Deterministic (id-derived).
    n_cold_keys = 50_000
    mentions = (
        spark.range(n_rows, numPartitions=cores * 2)
        .select(
            F.concat(F.lit("d"), (F.col("id") % 9973)).alias("doc_id"),
            (F.col("id") % 1000).cast("int").alias("m_start"),
            F.lit("org").alias("label"),
            F.when(F.col("id") % 10 < 3, F.lit("hot corp"))
            .otherwise(
                F.concat(F.lit("corp "), F.col("id") % n_cold_keys)
            )
            .alias("m_text"),
        )
        .persist()
    )
    mentions.count()  # materialize inputs outside the timed region
    dim = (
        spark.range(n_cold_keys + 1)
        .select(
            F.when(F.col("id") == n_cold_keys, F.lit("hot corp"))
            .otherwise(F.concat(F.lit("corp "), F.col("id")))
            .alias("surface"),
            (F.col("id") % 17).cast("int").alias("dim_payload"),
        )
        .persist()
    )
    dim.count()

    big = mentions.select(
        F.lower(F.col("m_text")).alias("surface"), "doc_id", "m_start"
    )

    def out_hash(df) -> int:
        # order-insensitive: sum of per-row hashes folded to a domain
        # where 2e6 terms cannot overflow int64 under ANSI mode
        cols = [F.col(c) for c in sorted(df.columns)]
        row = df.select(
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007)))
            .alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return hash((row.h, row.n))

    def measure(name: str, make_df, aqe: bool) -> dict:
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        before = set(completed_stages(base, app_id))
        t0 = time.monotonic()
        df = make_df()
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        time.sleep(0.3)  # let the status store settle
        stages = completed_stages(base, app_id)
        # skew manifests on the SHUFFLE-CONSUMER side: among the
        # variant's new stages that read shuffle data, take the one
        # holding the slowest task (map stages are uniform by
        # construction and would mask the reducer distribution)
        mx, med = 0.0, 0.0
        for st, info in stages.items():
            if st in before or not info.get("shuffleReadBytes", 0):
                continue
            m, md = task_ms(base, app_id, st)
            if m > mx:
                mx, med = m, md
        # hash AFTER stage collection so its stages land inside the
        # NEXT variant's `before` set, never in anyone's diff
        h = out_hash(make_df())
        time.sleep(0.2)
        return {
            "name": name,
            "wall_s": round(wall, 3),
            "max_task_ms": round(mx, 1),
            "median_task_ms": round(med, 1),
            "out_hash": h,
        }

    join_variants = [
        measure("plain_static", lambda: big.join(dim, "surface"),
                aqe=False),
        measure("plain_aqe", lambda: big.join(dim, "surface"), aqe=True),
        measure(
            "salted",
            lambda: salted_equi_join(
                big, dim, "surface", n_salts=cores * 2,
                threshold=n_rows // 10,
                salt_cols=["doc_id", "m_start"],
            ),
            aqe=False,
        ),
    ]
    agg_variants = [
        measure("agg_plain", lambda: entity_surfaces(mentions),
                aqe=True),
        measure(
            "agg_salted",
            lambda: entity_surfaces(mentions, salt_buckets=cores * 2),
            aqe=True,
        ),
    ]

    hashes = {v["out_hash"] for v in join_variants}
    agg_hashes = {v["out_hash"] for v in agg_variants}
    result = {
        "n_rows": n_rows,
        "cores": cores,
        "hot_share": 0.3,
        "join": join_variants,
        "agg": agg_variants,
        "join_outputs_identical": len(hashes) == 1,
        "agg_outputs_identical": len(agg_hashes) == 1,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
