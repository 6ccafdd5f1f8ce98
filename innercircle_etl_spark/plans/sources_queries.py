"""Source/sink operators (SURVEY §2.1 S1-S10).

The reference's sources are BigQuery SQL pulls, CSV COPYs, JSON
document globs and a high-watermark checkpoint read. Here: parquet is
the 'warehouse scan' (S1), and we exercise real CSV (S2/S3) and NDJSON
(S6) round-trips through a scratch directory, proving schema-explicit
(never inferred — SURVEY §1.3) load paths. Oracles read the original
parquet: the round-trip must be lossless to pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from innercircle_etl_spark.plans.registry import (
    SCRATCH,
    dsum,
    duck_davg,
    duck_dsum,
    davg,
    load,
    register,
)


@register(
    "s2_s3_csv_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {duck_dsum('l_extendedprice')} AS sum_price,
           {duck_davg('l_discount')} AS avg_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def s2_s3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3: CSV export + bulk load (etl_utls.py:86-97 COPY FROM,
    :177-181 COPY TO). Schema is explicit on read — the reference's
    pandas CSV type-inference fragility (etl_utls.py:121) is exactly
    what we eliminate. Doubles survive because Spark writes
    shortest-round-trip representations."""
    path = f"{SCRATCH}/csv_roundtrip_{os.path.basename(sf_dir)}"
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    li.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_discount").alias("avg_disc"),
    )


@register(
    "s6_json_source",
    oracle=f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {duck_dsum('n_chars')} AS total_chars
    FROM documents GROUP BY lang, source
    """,
)
def s6_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: newline-delimited JSON document source with explicit
    schema (update_etl.py:1290-1319 glob+parse, :1408 NDJSON). The
    reference parses nested JSON field-by-field in Python; Spark does
    schema-on-read and the nested access is a column expression."""
    path = f"{SCRATCH}/json_docs_{os.path.basename(sf_dir)}"
    docs = load(spark, sf_dir, "documents")
    docs.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dsum(F.col("n_chars").cast("double")).alias("total_chars"),
    )


@register(
    "s10_watermark",
    oracle="""
    SELECT MAX(ts) AS watermark, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    """,
)
def s10_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: high-watermark checkpoint read — `select max(ts)`
    (etl_utls.py:328-338), the primitive behind incremental extract
    I1 (update_etl.py:413,435)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.max("ts").alias("watermark"), F.count(F.lit(1)).alias("n_events")
    )


_S11_ORACLE = """
WITH v1 AS (
    SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source
    FROM documents WHERE doc_id % 2 = 0
),
v2 AS (
    SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1
),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(source) AS BIGINT) AS n_with_source
FROM merged GROUP BY lang
"""


@register("s11_schema_evolution", oracle=_S11_ORACLE)
def s11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 (beyond-parity): schema evolution on read — an old writer
    produced (doc_id, lang), a newer one added ``source``; one
    mergeSchema read unions the footers and back-fills the missing
    column with nulls. This is the warehouse reality the reference
    sidesteps with year-sharded tables and manual ALTERs: at 100TB
    you never rewrite old files to add a column. The write half is a
    REAL two-generation parquet write to scratch; the oracle
    recomputes the expectation relationally."""
    import shutil

    base = f"{SCRATCH}/s11_{os.path.basename(sf_dir)}"
    shutil.rmtree(base, ignore_errors=True)
    docs = load(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
        f"{base}/gen=1"
    )
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source"
    ).write.parquet(f"{base}/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen=1", f"{base}/gen=2"
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("source").alias("n_with_source"),
    )


_S12_ORACLE = """
SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 31 <> 0) AS BIGINT)
         AS n_good,
       CAST(COUNT(*) FILTER (WHERE doc_id % 31 = 0) AS BIGINT)
         AS n_corrupt
FROM documents
"""


@register("s12_corrupt_records", oracle=_S12_ORACLE)
def s12_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 (beyond-parity): malformed-record containment — a feed
    with planted broken JSON lines read in PERMISSIVE mode with a
    corrupt-record column: bad lines become quarantine rows instead
    of failing the job or silently vanishing (FAILFAST/DROPMALFORMED
    are both wrong for a 100TB ingest where one bad line among
    billions must neither kill nor disappear). The write half plants
    truncated JSON for every 31st doc; the oracle states the
    expected good/quarantine split relationally."""
    import shutil

    base = f"{SCRATCH}/s12_{os.path.basename(sf_dir)}"
    shutil.rmtree(base, ignore_errors=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    # good lines as real JSON; corrupt lines = truncated prefix
    lines = docs.select(
        F.when(
            F.col("doc_id") % 31 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(base)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("_bad", T.StringType()),
        ]
    )
    # Spark disallows queries whose only referenced column is the
    # corrupt-record column directly over the raw files — the parsed
    # result must be materialized first (documented restriction).
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(base)
        .cache()
    )
    return parsed.agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0)).alias(
            "n_good"
        ),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
    )


_S13_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


@register("s13_compaction", oracle=_S13_ORACLE)
def s13_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 (beyond-parity): small-file compaction — the maintenance
    job every streaming/incremental sink needs: a directory
    fragmented into hundreds of tiny files (each micro-batch/day
    appends a few) rewritten into right-sized files with a single
    coalesce pass, byte-for-byte content-preserving. The fragment
    write plants 64 splinter files; the compacted rewrite targets
    the session's parallelism; the oracle proves the data survived
    both hops exactly. Listing overhead, not data size, is what
    kills 100TB readers of uncompacted sinks."""
    import shutil

    base = f"{SCRATCH}/s13_{os.path.basename(sf_dir)}"
    shutil.rmtree(base, ignore_errors=True)
    frag, compact = f"{base}/frag", f"{base}/compact"

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.repartition(64).write.parquet(frag)  # the splintered sink

    n_before = len(
        [f for f in os.listdir(frag) if f.endswith(".parquet")]
    )
    spark.read.parquet(frag).coalesce(4).write.parquet(compact)
    n_after = len(
        [f for f in os.listdir(compact) if f.endswith(".parquet")]
    )
    assert n_after < n_before, (n_before, n_after)

    return spark.read.parquet(compact).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


@register(
    "s14_orc_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    """,
)
def s14_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 (beyond-parity): ORC as a second columnar wire format —
    write the dim out as ORC, read it back, prove byte-exact
    round-trip against the parquet original. Pushdown/pruning work
    identically (ORC carries its own min/max stripes); a lake that
    standardizes on ORC swaps one literal in the writer. Avro is the
    remaining built-in-but-external module (needs the spark-avro jar,
    absent here) — gated out the same way the codec registry gates
    multimodal decode."""
    path = f"{SCRATCH}/orc_nation_{os.path.basename(sf_dir)}"
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "s8_rest_source",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    """,
)
def s8_rest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: paginated REST API source — the reference's driver-side
    requests loop (etl_utls.py:372-428: per-contract GETs with
    429 retry handling) re-expressed as a DISTRIBUTED paginated
    fetch: the page space is a DataFrame, each executor task pulls
    its pages through an injected transport with per-task
    token-bucket rate limiting and exponential-backoff retries, and
    records land under an explicit schema (sources/rest.py).

    The registered query injects the deterministic parquet-paging
    transport (page p = rows [p*200, p*200+200) of customer.parquet
    — exactly what a REST endpoint over that dataset would serve),
    WRAPPED in the flaky decorator that throws a transient 429 on
    the first attempt of every 7th page — so the oracle check
    proves the retry path delivers every row exactly once. A real
    deployment swaps in http_json_transport; nothing else changes."""
    import pyarrow.parquet as pq

    from innercircle_etl_spark.sources.rest import (
        flaky_transport,
        parquet_page_transport,
        rest_source,
    )

    path = f"{sf_dir}/customer.parquet"
    page_size = 200
    cols = ["c_custkey", "c_name", "c_acctbal"]
    # page count from footer metadata only — no driver data read
    n_rows = pq.read_metadata(path).num_rows
    n_pages = (n_rows + page_size - 1) // page_size
    transport = flaky_transport(
        parquet_page_transport(path, page_size, cols), fail_every=7
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    return rest_source(
        spark,
        transport,
        n_pages,
        schema,
        rate_limit_per_sec=500.0,
        max_retries=3,
    )


@register(
    "s9_rest_sink",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    """,
)
def s9_rest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: batched REST sink — the reference's single driver PUT of
    a whole table (adhoc queries/parsiq_push_address.py:10-14)
    re-expressed as foreachPartition batch posts: executors drain
    their partitions in 100-row JSON payloads through an injected
    post() with rate limiting + retries (sources/rest.py). The
    registered query posts the supplier dim into the NDJSON capture
    transport, then reads the captured payloads back under an
    explicit schema — delivery round-trip proven against the
    DuckDB oracle (same pattern as the S2/S3 CSV round-trip).
    At-least-once semantics documented on rest_sink; the capture
    files are uuid-named so concurrent executor posts never
    collide."""
    import shutil

    from innercircle_etl_spark.sources.rest import (
        ndjson_capture_post,
        rest_sink,
    )

    out = f"{SCRATCH}/rest_sink_{os.path.basename(sf_dir)}"
    shutil.rmtree(out, ignore_errors=True)
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    rest_sink(
        sup,
        ndjson_capture_post(out),
        batch_size=100,
        rate_limit_per_sec=500.0,
    )
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(out)


@register(
    "s15_partitioned_db_pull",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer
    WHERE c_acctbal > 0
    """,
)
def s15_partitioned_db_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 (beyond-parity): partitioned pull from an EXTERNAL
    database — the reference's warehouse reads (etl_utls.py
    query_postgres / BigQuery pulls) are single-connection driver
    fetches; the scale form is spark.read.jdbc's
    partitionColumn/lowerBound/upperBound pattern: split the key
    range into N slices, one connection PER TASK, each issuing a
    range-predicated query so the external engine does the
    filtering (predicate pushdown into the REMOTE system, not just
    the parquet reader).

    Here the external engine is a real second database: a DuckDB
    file built once on the driver, then opened READ-ONLY by every
    executor task, each pulling its own key slice with the row
    filter pushed into the remote SQL text. The key-range split is
    computed from cheap min/max bounds (what read.jdbc requires you
    to supply), so no task depends on driver-side data. Skewed key
    ranges produce skewed slices — same caveat as JDBC, fixed by
    hash-mod predicates (`WHERE key %% N = i`) when ids cluster."""
    import duckdb

    db_path = f"{SCRATCH}/ext_{os.path.basename(sf_dir)}.duckdb"
    # driver-side one-time setup of the "external" database
    if os.path.exists(db_path):
        os.remove(db_path)
    con = duckdb.connect(db_path)
    con.execute(
        "CREATE TABLE customer AS "
        f"SELECT * FROM read_parquet('{sf_dir}/customer.parquet')"
    )
    lo, hi = con.execute(
        "SELECT MIN(c_custkey), MAX(c_custkey) FROM customer"
    ).fetchone()
    con.close()

    n_parts = 8
    step = (hi - lo + n_parts) // n_parts
    bounds = spark.createDataFrame(
        [
            (lo + i * step, min(lo + (i + 1) * step - 1, hi))
            for i in range(n_parts)
        ],
        "b_lo long, b_hi long",
    ).repartition(n_parts)

    def pull(batches):
        import duckdb as dk
        import pandas as pd

        for pdf in batches:
            frames = []
            for b_lo, b_hi in zip(pdf["b_lo"], pdf["b_hi"]):
                c = dk.connect(db_path, read_only=True)
                # the row filter ships INTO the external engine —
                # remote predicate pushdown, the point of the pattern
                frames.append(
                    c.execute(
                        "SELECT c_custkey, c_nationkey, c_acctbal "
                        "FROM customer "
                        f"WHERE c_custkey BETWEEN {int(b_lo)} "
                        f"AND {int(b_hi)} AND c_acctbal > 0"
                    ).df()
                )
                c.close()
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"c_custkey": [], "c_nationkey": [], "c_acctbal": []}
            )

    return bounds.mapInPandas(
        pull, "c_custkey long, c_nationkey int, c_acctbal double"
    )
