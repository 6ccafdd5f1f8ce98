"""Checkpoint resume semantics: a drained stream picks up ONLY files
that arrived after the last drain — no reprocessing (the daemon
contract the reference implements with last_uploaded_timestamp.json).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import types as T

from innercircle_etl_spark.plans.registry import SCRATCH
from innercircle_etl_spark.streaming import (
    run_available_now,
    stream_ndjson_dir,
)

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("wave", T.LongType()),
    ]
)


def test_three_wave_resume_no_reprocessing(spark):
    base = f"{SCRATCH}/resume_test"
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    def drain():
        run_available_now(
            stream_ndjson_dir(spark, src, _SCHEMA), ckpt, sink_path=sink
        )

    def sink_rows():
        try:
            return spark.read.schema(_SCHEMA).parquet(sink).collect()
        except Exception:
            return []

    # wave 1
    spark.range(100).selectExpr("id", "0 AS wave").write.mode(
        "append"
    ).json(src)
    drain()
    assert len(sink_rows()) == 100

    # wave 2: only the new file is processed
    spark.range(100, 150).selectExpr("id", "1 AS wave").write.mode(
        "append"
    ).json(src)
    drain()
    rows = sink_rows()
    assert len(rows) == 150
    assert len({r["id"] for r in rows}) == 150  # no duplicates

    # wave 3: nothing new arrived -> nothing reprocessed
    drain()
    assert len(sink_rows()) == 150


def test_ann_index_stream_update_replay_is_noop(spark, sf_dir):
    """ann_index_stream_update: the merge must be IDEMPOTENT (insert-
    if-absent on vec_id), because a crashed drain replays its files —
    re-applying an already-applied wave through the same merge logic
    must leave the index file row-identical; and an extra drain with
    no new arrivals must leave the manifest unchanged (checkpoint
    exactly-once, i4's property on the index lifecycle)."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.operators.atomic_swap import write_replace
    from innercircle_etl_spark.plans import QUERIES
    from innercircle_etl_spark.plans.similarity_queries import (
        _HN,
        _hn_corpus,
        _index_manifest,
        _inverted_file,
    )

    manifest = {
        r.cid: (r.n_vectors, r.min_vec_id, r.avg_cos)
        for r in QUERIES["ann_index_stream_update"](spark, sf_dir).collect()
    }
    base = f"{SCRATCH}/stream_annidx_{os.path.basename(sf_dir)}"
    apath = f"{base}/idx/assign"
    cent = spark.read.parquet(f"{base}/idx/centroids")
    before = spark.read.parquet(apath).count()

    # replay: re-merge wave 0 (already applied) with the query's own
    # insert-if-absent discipline -> row count unchanged
    e = _hn_corpus(spark, sf_dir)
    wave0 = e.filter(F.col("vec_id") % 20 == 7)
    live = spark.read.parquet(apath)
    fresh = _inverted_file(_HN, wave0, cent).join(
        live.select("vec_id"), "vec_id", "left_anti"
    )
    write_replace(
        live.unionByName(fresh.select(*live.columns)), apath, "replay"
    )
    after = spark.read.parquet(apath)
    assert after.count() == before
    re_manifest = {
        r.cid: (r.n_vectors, r.min_vec_id, r.avg_cos)
        for r in _index_manifest(after, cent).collect()
    }
    assert re_manifest == manifest
    # every corpus row present exactly once
    assert after.select("vec_id").distinct().count() == before == e.count()


def test_ann_index_stream_delete_replay_is_noop(spark, sf_dir):
    """ann_index_stream_delete: deletion is NATURALLY idempotent, and
    the apply skips the swap when a batch's ids are already absent —
    so replaying an applied kill wave through the REAL apply path
    must leave the index files BYTE-identical (names, inodes,
    mtimes), a stronger guarantee than the insert form's
    content-identity. The manifest must also be unchanged."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.plans import QUERIES
    from innercircle_etl_spark.plans.similarity_queries import (
        _DEL_MOD,
        _DEL_REM,
        _hn_corpus,
        _index_manifest,
    )
    from innercircle_etl_spark.plans.streaming_queries import (
        _stream_delete_apply,
    )

    manifest = {
        r.cid: (r.n_vectors, r.min_vec_id, r.avg_cos)
        for r in QUERIES["ann_index_stream_delete"](spark, sf_dir).collect()
    }
    base = f"{SCRATCH}/stream_anndel_{os.path.basename(sf_dir)}"
    apath = f"{base}/idx/assign"
    cent = spark.read.parquet(f"{base}/idx/centroids")

    def snapshot():
        out = []
        for d in sorted(os.listdir(apath)):
            if not d.startswith("cid="):
                continue
            cd = os.path.join(apath, d)
            for f in sorted(os.listdir(cd)):
                st = os.stat(os.path.join(cd, f))
                out.append((d, f, st.st_ino, st.st_mtime_ns, st.st_size))
        return out

    before = snapshot()
    # replay wave A (already applied) through the REAL apply path
    e = _hn_corpus(spark, sf_dir)
    wave_a = e.filter(F.col("vec_id") % (2 * _DEL_MOD) == _DEL_REM)
    assert wave_a.count() > 0
    _stream_delete_apply(apath, cent, wave_a, "replay")
    assert snapshot() == before  # TRUE no-op: files never touched
    re_manifest = {
        r.cid: (r.n_vectors, r.min_vec_id, r.avg_cos)
        for r in _index_manifest(
            spark.read.parquet(apath), cent
        ).collect()
    }
    assert re_manifest == manifest
