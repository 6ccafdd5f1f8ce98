"""SURVEY §7 steps 5–6 composites: the shadow-trade cascade
(`adhoc queries/create_shadow_trade.sql`) and the insider
insight-feed scoring layer (`update_etl.py:948-1089`) — the two
remaining end-to-end pipelines after ep3_roi_cascade.

Mapping onto the synthetic tables (same convention as roi_cascade):
  wallet = l_suppkey, collection = l_partkey, event date =
  date(l_shipdate), price = l_extendedprice; 'R'-flag rows are the
  sell leg. The insider dimension = suppliers with s_acctbal > 9000
  (a deterministic small dim, broadcast everywhere it appears).
Determinism: RUN_DATE replaces now() (SURVEY §4 custom-3); decay
base 0.5 (dyadic → pow bit-identical across libm, see f3).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from innercircle_etl_spark.operators.asof import asof_join
from innercircle_etl_spark.operators.percentiles import percentile_disc
from innercircle_etl_spark.operators.window_dedup import latest_per_key
from innercircle_etl_spark.plans.registry import (
    davg,
    dsum,
    duck_davg,
    duck_dsum,
    load,
    pin_concurrently,
    register,
    widen,
)

RUN_DATE = "2002-01-01"
_ENTRY_CUTOFF = "2001-01-01"  # shadow trade: the "3 month" window
_TRX_CUTOFF = "2001-06-01"  # insight feed: the "7 day" window

_INSIDERS_SQL = (
    "SELECT s_suppkey AS wallet FROM supplier WHERE s_acctbal > 9000"
)

_FACT_SQL = """
    SELECT l_suppkey AS wallet, l_partkey AS coll,
           CAST(l_shipdate AS DATE) AS ev_date,
           l_extendedprice AS price, l_returnflag AS flag,
           l_orderkey AS okey
    FROM lineitem
"""


def _fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("wallet"),
        F.col("l_partkey").alias("coll"),
        F.to_date("l_shipdate").alias("ev_date"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").alias("okey"),
    )


def _insiders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_suppkey").alias("wallet"))
    )


# ------------------------------------------------------- shadow trade

_SHADOW_ORACLE = f"""
WITH insiders AS ({_INSIDERS_SQL}),
fact AS ({_FACT_SQL}),
floor_daily AS (
    SELECT coll, ev_date,
           percentile_disc(0.2) WITHIN GROUP (ORDER BY price)
             AS floor_price
    FROM fact GROUP BY coll, ev_date
),
latest_floor AS (
    SELECT coll, floor_price AS latest_price FROM (
        SELECT coll, floor_price,
               row_number() OVER (PARTITION BY coll
                                  ORDER BY ev_date DESC) AS rn
        FROM floor_daily
    ) WHERE rn = 1
),
buys AS (
    SELECT f.wallet, f.coll, f.ev_date AS entry_date,
           MIN(f.price) AS entry_price
    FROM fact f JOIN insiders i ON f.wallet = i.wallet
    WHERE f.flag <> 'R' AND f.price > 0
      AND f.ev_date >= DATE '{_ENTRY_CUTOFF}'
    GROUP BY f.wallet, f.coll, f.ev_date
),
buys_f AS (
    SELECT b.*, fd.floor_price AS entry_floor
    FROM buys b
    LEFT JOIN floor_daily fd
      ON b.coll = fd.coll AND fd.ev_date = b.entry_date
),
sells AS (
    SELECT f.wallet, f.coll, f.ev_date AS exit_date,
           MIN(f.price) AS exit_price,
           CASE WHEN day(f.ev_date) % 7 = 0 THEN 'burn'
                WHEN day(f.ev_date) % 3 = 0 THEN 'transfer'
                ELSE 'trade' END AS action
    FROM fact f JOIN insiders i ON f.wallet = i.wallet
    WHERE f.flag = 'R' AND f.ev_date >= DATE '{_ENTRY_CUTOFF}'
    GROUP BY f.wallet, f.coll, f.ev_date
),
matched AS (
    SELECT wallet, coll, entry_date, entry_price, entry_floor,
           exit_price, action FROM (
        SELECT b.*, s.exit_price, s.action,
               row_number() OVER (
                   PARTITION BY b.wallet, b.coll, b.entry_date
                   ORDER BY s.exit_date ASC NULLS LAST
               ) AS rn
        FROM buys_f b
        LEFT JOIN sells s
          ON b.wallet = s.wallet AND b.coll = s.coll
         AND s.exit_date > b.entry_date
    ) WHERE rn = 1
),
staged AS (
    SELECT m.*, lf.latest_price,
           CASE WHEN m.action IN ('burn', 'transfer') THEN NULL
                WHEN m.action = 'trade'
                  THEN (m.exit_price - m.entry_price) / m.entry_price
                WHEN m.exit_price IS NULL
                  THEN (lf.latest_price - m.entry_floor) / m.entry_floor
           END AS pl
    FROM matched m JOIN latest_floor lf ON m.coll = lf.coll
)
SELECT wallet AS insider, coll,
       MIN(entry_date) AS entry_date,
       {duck_davg('pl')} AS profit_or_loss,
       CAST(COUNT(*) AS BIGINT) AS n_trades
FROM staged
WHERE (action = 'trade' OR action IS NULL)
  AND pl IS NOT NULL AND pl >= -1
GROUP BY wallet, coll
"""


@register("ep5_shadow_trade", oracle=_SHADOW_ORACLE)
def ep5_shadow_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shadow-trade cascade (create_shadow_trade.sql:1-160) as one
    DAG: insider purchases enriched with the entry-day floor price
    (J3 compound-ON left join, create_shadow_trade.sql:34-36),
    STRICT as-of first exit after entry (exit_timestamp >
    entry_timestamp, :93-101), latest-floor fallback (J9, :62-75),
    the burn/transfer/trade P/L CASE (:86-92), and the
    avg-per-position summary (:151-158).

    Shuffle budget: floor percentile shuffles once on (coll, date);
    the as-of shuffles once on (wallet, coll); the insider dim and
    latest-floor broadcast; the summary reuses the (wallet, coll)
    clustering left by the as-of."""
    # Single-pass fact consumption (the round-7 A/B; SCALE.md): ONE
    # scan repartitioned by coll and pinned. The floor percentile
    # ((coll, ev_date)) and the fused-legs groupBy ((wallet, coll,
    # ev_date, leg)) both cluster on supersets of {coll}, so NEITHER
    # adds an exchange on top of the one repartition — see
    # build_cet_roi for the distribution-satisfaction argument.
    # Measured min-of-3 at sf1: fused warm 5.01s / fadvise-cold 4.82s
    # vs a lazy 2-scan form's 7.40 / 7.06 — the fused form wins ~32%
    # even with a warm page cache because it also deletes two
    # exchanges, not just two scans.
    # okey is ep6's column — this cascade never touches it, so keep
    # it out of the repartition exchange and the pinned blocks
    # (guide §2.1: shuffle/persist only the columns the DAG reads).
    # The cascade also only ever tests flag == 'R', so fold the flag
    # STRING to a 1-byte is_sell boolean BEFORE the exchange (round
    # 17, same §2.1 byte cut): NULL flags propagate identically
    # (NULL == 'R' is NULL, which both leg filters drop, exactly as
    # the string compares did).
    fact = _fact(spark, sf_dir).select(
        "wallet",
        "coll",
        "ev_date",
        "price",
        (F.col("flag") == "R").alias("is_sell"),
    )
    fact = fact.repartition(F.col("coll")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    fact.count()
    insiders = _insiders(spark, sf_dir)

    # floor_daily feeds TWO consumers (the entry-floor join and the
    # latest-floor broadcast) — eager localCheckpoint runs the
    # within-group percentile sort exactly once and pins the
    # dimension-sized result; a lazy cache left the two consumers
    # racing to fill it (measured: lazy+ckpt 3.07s vs cache 3.49s
    # min at sf0.1)
    cutoff = F.lit(_ENTRY_CUTOFF).cast("date")
    # buy and sell legs differ only in their flag filter and the
    # price>0 guard, so ONE insider-filtered scan + ONE shuffle on
    # (wallet, coll, ev_date, leg) replaces the two separate
    # scan+groupBy passes (conditional min carries the buys' price>0
    # semantics: a buy group whose every price ≤ 0 aggregates to
    # NULL and is dropped, exactly what the pre-filter did). The
    # fused legs frame feeds both as-of sides — eager localCheckpoint
    # pins it (insider-day-grain, dimension-sized) so the two
    # consumers neither race nor recompute the lineitem pass.
    #
    # floor_daily and legs both derive ONLY from the pinned fact (+
    # the insiders broadcast) and never from each other, so the two
    # pins run as ONE concurrent job group instead of two serial
    # barriers over the same persisted blocks (guide §2.6).
    floor_daily, legs = pin_concurrently(
        percentile_disc(
            fact, ["coll", "ev_date"], "price", 0.2, out_col="floor_price"
        ),
        fact.filter(F.col("ev_date") >= cutoff)
        .join(F.broadcast(insiders), "wallet")
        .groupBy(
            "wallet",
            "coll",
            "ev_date",
            "is_sell",
        )
        .agg(
            F.min(
                F.when(F.col("price") > 0, F.col("price"))
            ).alias("min_pos_price"),
            F.min("price").alias("min_price"),
        ),
    )
    latest_floor = latest_per_key(floor_daily, ["coll"], "ev_date").select(
        "coll", F.col("floor_price").alias("latest_price")
    )
    buys = (
        legs.filter(~F.col("is_sell") & F.col("min_pos_price").isNotNull())
        .select(
            "wallet",
            "coll",
            F.col("ev_date").alias("entry_date"),
            F.col("min_pos_price").alias("entry_price"),
        )
    )
    buys_f = buys.join(
        floor_daily.select(
            "coll",
            F.col("ev_date").alias("entry_date"),
            F.col("floor_price").alias("entry_floor"),
        ),
        ["coll", "entry_date"],
        "left",
    )
    sells = (
        legs.filter(F.col("is_sell"))
        .select(
            "wallet",
            "coll",
            F.col("ev_date").alias("exit_date"),
            F.col("min_price").alias("exit_price"),
        )
        .withColumn(
            "action",
            F.when(F.dayofmonth("exit_date") % 7 == 0, "burn")
            .when(F.dayofmonth("exit_date") % 3 == 0, "transfer")
            .otherwise("trade"),
        )
    )

    # strict as-of: first exit strictly after entry (the >= variant
    # is ep3; the reference uses both shapes)
    matched = asof_join(
        buys_f,
        sells,
        keys=["wallet", "coll"],
        left_on="entry_date",
        right_on="exit_date",
        direction="forward",
        strict=True,
    )

    pl = F.when(
        F.col("r_action").isin("burn", "transfer"), F.lit(None).cast("double")
    ).when(
        F.col("r_action") == "trade",
        (F.col("r_exit_price") - F.col("entry_price")) / F.col("entry_price"),
    ).when(
        F.col("r_exit_price").isNull(),
        (F.col("latest_price") - F.col("entry_floor")) / F.col("entry_floor"),
    )
    staged = matched.join(F.broadcast(latest_floor), "coll").withColumn(
        "pl", pl
    )
    return (
        staged.filter(
            ((F.col("r_action") == "trade") | F.col("r_action").isNull())
            & F.col("pl").isNotNull()
            & (F.col("pl") >= -1)
        )
        .groupBy(F.col("wallet").alias("insider"), "coll")
        .agg(
            F.min("entry_date").alias("entry_date"),
            davg("pl").alias("profit_or_loss"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


# ------------------------------------------------------- insight feed

_INSIGHT_ORACLE = f"""
WITH insiders AS ({_INSIDERS_SQL}),
fact AS ({_FACT_SQL}),
ifact AS (
    SELECT f.* FROM fact f JOIN insiders i ON f.wallet = i.wallet
),
trx AS (
    SELECT wallet, coll, action,
           CAST(COUNT(DISTINCT okey) AS BIGINT) AS num_tokens,
           {duck_dsum('price')} AS total_amount,
           MAX(ev_date) AS last_traded_at
    FROM (
        SELECT wallet, coll, 'buy' AS action, okey, price, ev_date
        FROM ifact WHERE flag <> 'R' AND ev_date >= DATE '{_TRX_CUTOFF}'
        UNION ALL
        SELECT wallet, coll, 'sell' AS action, okey, price, ev_date
        FROM ifact WHERE flag = 'R' AND ev_date >= DATE '{_TRX_CUTOFF}'
    ) GROUP BY wallet, coll, action
),
coll_gain AS (
    SELECT wallet, coll,
           {duck_dsum("CASE WHEN flag = 'R' THEN price ELSE -price END")}
             AS gain
    FROM ifact GROUP BY wallet, coll
),
total_gain AS (
    SELECT wallet, {duck_dsum('gain')} AS total_gain
    FROM coll_gain GROUP BY wallet
),
accuracy AS (
    SELECT wallet,
           COUNT(DISTINCT CASE WHEN gain > 0 THEN coll END) * 1.0
             / COUNT(DISTINCT coll) AS pct_profitable
    FROM coll_gain GROUP BY wallet
),
endorse AS (
    SELECT wallet, coll, MIN(ev_date) AS first_ts
    FROM ifact WHERE flag <> 'R' GROUP BY wallet, coll
),
circle_first AS (
    SELECT coll, MIN(first_ts) AS circle_first_ts
    FROM endorse GROUP BY coll
),
portfolio AS (
    SELECT wallet, coll, CAST(COUNT(DISTINCT okey) AS BIGINT)
             AS num_tokens_owned
    FROM ifact WHERE flag <> 'R' GROUP BY wallet, coll
),
maxamt AS (SELECT MAX(total_amount) AS m FROM trx),
base AS (
    SELECT t.wallet, t.coll, t.action, t.num_tokens, t.total_amount,
           t.last_traded_at,
           coalesce(p.num_tokens_owned, 0) AS num_tokens_owned,
           power(0.5, CAST(datediff('day', t.last_traded_at,
                 DATE '{RUN_DATE}') AS INTEGER) + 1) AS time_decay,
           coalesce(g.total_gain, 0) AS gain,
           coalesce(a.pct_profitable, 0) AS pct_profitable,
           power(0.5, CAST(datediff('day', cf.circle_first_ts,
                 DATE '{RUN_DATE}') AS INTEGER) + 1)
             AS circle_first_decay,
           power(0.5, CAST(datediff('day', e.first_ts,
                 DATE '{RUN_DATE}') AS INTEGER) + 1)
             AS insider_first_decay
    FROM trx t
    LEFT JOIN portfolio p
      ON t.wallet = p.wallet AND t.coll = p.coll
    LEFT JOIN total_gain g ON t.wallet = g.wallet
    LEFT JOIN accuracy a ON t.wallet = a.wallet
    LEFT JOIN circle_first cf ON t.coll = cf.coll
    LEFT JOIN endorse e ON t.coll = e.coll AND t.wallet = e.wallet
)
SELECT wallet, coll, action, num_tokens, total_amount, last_traded_at,
       num_tokens_owned,
       gain / (SELECT m FROM maxamt) * 2
         + pct_profitable * 1.5
         + time_decay * 1.2
         + circle_first_decay
         + insider_first_decay AS feed_score
FROM base
"""


@register("ep6_insight_feed", oracle=_INSIGHT_ORACLE)
def ep6_insight_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insider insight-feed scoring (update_etl.py:948-1089) as one
    DAG: insight_trx buy/sell union rollup (T1 + A1 countDistinct),
    per-collection gain two-phase rollup (A11), profitable-trade
    accuracy ratio (A7, update_etl.py:1018-1023), first-acquisition
    endorsement and circle-first timestamps (W2 as groupBy-min),
    exponential time decays (F3, update_etl.py:1058-1064), the
    max-amount scalar subquery (A4, update_etl.py:1081), and the
    weighted feed_importance_score (update_etl.py:1080-1086) —
    five left joins, all onto broadcast-sized derived dims.

    The decays stay nullable exactly where the reference's left
    joins can produce nulls ("should be inner, left to detect
    issues", update_etl.py:1049)."""
    fact = _fact(spark, sf_dir)
    insiders = _insiders(spark, sf_dir)
    # insider restriction once, reused by every branch (the reference
    # re-filters per CTE; one cached semi-join is the Spark shape).
    # The broadcast join preserves the scan's partitioning, so widen()
    # the cached result past the fixture's near-serial layout.
    ifact = widen(fact.join(F.broadcast(insiders), "wallet")).cache()
    ifact.count()  # eager: lazy consumers race the cache and re-scan

    cutoff = F.lit(_TRX_CUTOFF).cast("date")
    legs = (
        ifact.filter((F.col("flag") != "R") & (F.col("ev_date") >= cutoff))
        .withColumn("action", F.lit("buy"))
        .unionByName(
            ifact.filter(
                (F.col("flag") == "R") & (F.col("ev_date") >= cutoff)
            ).withColumn("action", F.lit("sell"))
        )
    )
    trx = legs.groupBy("wallet", "coll", "action").agg(
        F.countDistinct("okey").alias("num_tokens"),
        dsum("price").alias("total_amount"),
        F.max("ev_date").alias("last_traded_at"),
    )

    coll_gain = ifact.groupBy("wallet", "coll").agg(
        dsum(
            F.when(F.col("flag") == "R", F.col("price")).otherwise(
                -F.col("price")
            )
        ).alias("gain")
    )
    total_gain = coll_gain.groupBy("wallet").agg(
        dsum("gain").alias("total_gain")
    )
    accuracy = coll_gain.groupBy("wallet").agg(
        (
            F.countDistinct(F.when(F.col("gain") > 0, F.col("coll"))) * 1.0
            / F.countDistinct("coll")
        ).alias("pct_profitable")
    )
    endorse = (
        ifact.filter(F.col("flag") != "R")
        .groupBy("wallet", "coll")
        .agg(F.min("ev_date").alias("first_ts"))
    )
    circle_first = endorse.groupBy("coll").agg(
        F.min("first_ts").alias("circle_first_ts")
    )
    portfolio = (
        ifact.filter(F.col("flag") != "R")
        .groupBy("wallet", "coll")
        .agg(F.countDistinct("okey").alias("num_tokens_owned"))
    )
    # A4: scalar aggregate as a broadcast single-row cross join
    maxamt = trx.agg(F.max("total_amount").alias("m"))

    run_date = F.lit(RUN_DATE).cast("date")

    def decay(d):
        return F.pow(
            F.lit(0.5), (F.datediff(run_date, d).cast("int") + 1).cast("double")
        )

    base = (
        trx.join(
            F.broadcast(
                portfolio.select(
                    "wallet", "coll", "num_tokens_owned"
                )
            ),
            ["wallet", "coll"],
            "left",
        )
        .join(F.broadcast(total_gain), "wallet", "left")
        .join(F.broadcast(accuracy), "wallet", "left")
        .join(F.broadcast(circle_first), "coll", "left")
        .join(F.broadcast(endorse), ["wallet", "coll"], "left")
        .crossJoin(F.broadcast(maxamt))
    )
    score = (
        F.coalesce(F.col("total_gain"), F.lit(0)) / F.col("m") * 2
        + F.coalesce(F.col("pct_profitable"), F.lit(0)) * 1.5
        + decay(F.col("last_traded_at")) * 1.2
        + decay(F.col("circle_first_ts"))
        + decay(F.col("first_ts"))
    )
    return base.select(
        "wallet",
        "coll",
        "action",
        "num_tokens",
        "total_amount",
        "last_traded_at",
        F.coalesce(F.col("num_tokens_owned"), F.lit(0)).alias(
            "num_tokens_owned"
        ),
        score.alias("feed_score"),
    )
