"""Broadcast hash-join enrichment stage.

Reference analog: the dims populated from the fact + used as filter
vocabularies (DatabaseManager.java:460-492) and the dim→fact left join
(ParsingController.java:383-387). Per the north rule this becomes an
explicit enrichment: small lookup tables joined to every parsed row.

All dims are a few KB — ``F.broadcast`` pins the plan to
BroadcastHashJoin (no shuffle of the fact side; verify via .explain).
Unseen keys produce nulls → coalesced defaults, exercised by fixture
rows absent from each dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.fixtures import dim_tables


def load_dims(spark: SparkSession) -> dict[str, DataFrame]:
    return {name: spark.createDataFrame(pdf) for name, pdf in dim_tables().items()}


def enrich(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Attach action_family, site/tier, ip_class via broadcast joins."""
    da = dims["dim_action"].select("action", "action_family", "default_status")
    ds = dims["dim_source"].select(F.col("source").alias("src_key"), "site", "tier")
    di = dims["dim_ip_class"].select("ip_prefix", "ip_class")

    out = df.join(F.broadcast(da), on="action", how="left")
    out = out.join(
        F.broadcast(ds), on=out["source"] == ds["src_key"], how="left"
    ).drop("src_key")
    # /16-style prefix: first two octets ("10.3")
    out = out.withColumn(
        "_ip_prefix",
        F.when(
            F.col("ip").isNotNull(),
            F.concat_ws(".", F.split_part(F.col("ip"), F.lit("."), F.lit(1)),
                        F.split_part(F.col("ip"), F.lit("."), F.lit(2))),
        ),
    )
    out = out.join(
        F.broadcast(di), on=out["_ip_prefix"] == di["ip_prefix"], how="left"
    ).drop("ip_prefix", "_ip_prefix")
    return out.withColumn(
        "action_family", F.coalesce(F.col("action_family"), F.lit("OTHER"))
    ).withColumn("ip_class", F.coalesce(F.col("ip_class"), F.lit("external")))

