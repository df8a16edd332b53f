"""Filesystem-portable store sidecars (VERDICT r11 next #1) and the
rebuild-in-place ledger reset (ADVICE r11 medium).

The deployment-shaped check is the ``file://`` URI store: Spark's
parquet writers accept it but plain ``open()``/``os.path`` treat it as
a relative path with a colon in it — so every sidecar operation on a
scheme-qualified store path only works if it actually routes through
the Hadoop FileSystem API, exactly like it must on s3a:// or hdfs://.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from quality_spark.sources import fsio


def test_fsio_roundtrip_local_and_uri(spark, tmp_path):
    """Every helper works identically on a plain path and on the same
    location as a file:// URI (resolved through the session's Hadoop
    conf)."""
    for base in (str(tmp_path / "plain"), f"file://{tmp_path}/uri"):
        fsio.makedirs(base)
        p = fsio.join(base, "a.json")
        assert not fsio.exists(p)
        fsio.write_json(p, {"x": [1, 2], "s": "é"})
        assert fsio.exists(p)
        assert fsio.read_json(p) == {"x": [1, 2], "s": "é"}
        fsio.write_text(p, '{"x": 9}')  # overwrite
        assert fsio.read_json(p) == {"x": 9}
        q = fsio.join(base, "b.json")
        fsio.replace(p, q)
        assert fsio.exists(q) and not fsio.exists(p)
        fsio.write_text(p, "other")
        fsio.replace(q, p)  # destination exists -> removed first
        assert fsio.read_json(p) == {"x": 9} and not fsio.exists(q)
        fsio.makedirs(fsio.join(base, "sub", "deep"))
        assert sorted(fsio.list_names(base)) == ["a.json", "sub"]
        assert fsio.list_names(fsio.join(base, "nope")) == []
        fsio.rename(fsio.join(base, "sub"), fsio.join(base, "sub2"))
        assert fsio.delete(fsio.join(base, "sub2"), recursive=True)
        assert not fsio.delete(fsio.join(base, "sub2"), recursive=True)
        assert fsio.delete(p)


def test_fsio_no_session_fallback(tmp_path, monkeypatch):
    """Without an active SparkSession, schemeless-local paths use
    python io; scheme-qualified paths fail loudly instead of silently
    landing on a wrong filesystem."""
    monkeypatch.setattr(fsio, "_active_spark", lambda: None)
    p = str(tmp_path / "x.json")
    fsio.write_json(p, {"ok": 1})
    assert fsio.read_json(p) == {"ok": 1}
    assert fsio.exists(p) and fsio.list_names(str(tmp_path)) == ["x.json"]
    with pytest.raises(RuntimeError, match="no active SparkSession"):
        fsio.exists("s3a://bucket/x.json")


def test_pq_store_on_file_uri(spark, sf_dir, tmp_path):
    """A full PQ-store lifecycle (build, refuse-while-pending, append
    with epoch ledger, drift report, compact, indexed query) against a
    file:// URI store path — data and sidecars on the same Hadoop
    filesystem."""
    from quality_spark.llm.pq import (
        append_pq_index,
        compact_pq_index,
        ivf_pq_topk_indexed,
        pq_codebooks_procedural,
        pq_drift_report,
        pq_queries_procedural,
        read_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dims = len(emb.select("embedding").first()["embedding"])
    books = pq_codebooks_procedural(4, 16, dims // 4)
    qs = pq_queries_procedural(3, dims)
    idx = f"file://{tmp_path}/pq_idx"
    full = f"file://{tmp_path}/pq_full"

    write_pq_index(
        emb.filter("vec_id % 2 = 0"), books, idx, record_stats=True
    )
    assert append_pq_index(
        emb.filter("vec_id % 2 = 1"), idx, epoch=0, record_stats=True
    )
    # replay skipped via the ledger ON THE URI PATH
    assert not append_pq_index(emb.limit(0), idx, epoch=0)
    rep = pq_drift_report(idx)
    assert [r["epoch"] for r in rep] == [0] and rep[0]["ratio_vs_build"] > 0
    write_pq_index(emb, books, full)
    got = sorted(
        map(tuple, ivf_pq_topk_indexed(spark, idx, qs, k=3).collect())
    )
    want = sorted(
        map(tuple, ivf_pq_topk_indexed(spark, full, qs, k=3).collect())
    )
    assert got == want and len(got) > 0
    compact_pq_index(spark, idx)
    assert (
        sorted(map(tuple, ivf_pq_topk_indexed(spark, idx, qs, k=3).collect()))
        == got
    )
    # sidecars really live under the URI location
    local = str(tmp_path / "pq_idx")
    assert os.path.exists(f"{local}/meta.json")
    assert os.path.exists(f"{local}/epochs.json")
    assert not os.path.exists(f"{local}/meta.json.pending")
    _codes, meta = read_pq_index(spark, idx)
    assert meta["id_col"] == "vec_id"


def test_bm25_store_on_file_uri(spark, sf_dir, tmp_path):
    """Same lifecycle for the BM25 store on a file:// URI: build,
    epoch-ledgered append, compact, pruned indexed scoring — equal to
    a rebuild over the union."""
    from quality_spark.llm.retrieval import (
        append_bm25_index,
        bm25_scores_indexed,
        compact_bm25_index,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    inc = f"file://{tmp_path}/bm25_inc"
    full = f"file://{tmp_path}/bm25_full"
    qs = [(1, "data quality"), (2, "spark pipeline")]

    write_bm25_index(docs.filter("doc_id % 2 = 0"), inc, buckets=4)
    assert append_bm25_index(docs.filter("doc_id % 2 = 1"), inc, epoch=7)
    assert not append_bm25_index(docs, inc, epoch=7)  # replayed
    write_bm25_index(docs, full, buckets=4)
    got = sorted(map(tuple, bm25_scores_indexed(spark, inc, qs).collect()))
    want = sorted(map(tuple, bm25_scores_indexed(spark, full, qs).collect()))
    assert got == want and len(got) > 0
    compact_bm25_index(spark, inc)
    assert (
        sorted(map(tuple, bm25_scores_indexed(spark, inc, qs).collect()))
        == got
    )
    local = str(tmp_path / "bm25_inc")
    assert json.load(open(f"{local}/epochs.json"))["applied"] == [7]
    assert not os.path.exists(f"{local}/meta.json.pending")


def test_rebuild_in_place_resets_epoch_ledger(spark, sf_dir, tmp_path):
    """ADVICE r11 (medium): rebuilding a store IN PLACE must clear
    epochs.json — a fresh stream over the rebuilt store restarts its
    epoch ids at 0, and a stale ledger would silently skip those
    batches (exactly-once becoming silent data loss). Checked for both
    stores, plus the codes.compact leftover sweep."""
    from quality_spark.llm.pq import (
        append_pq_index,
        pq_codebooks_procedural,
        read_pq_index,
        write_pq_index,
    )
    from quality_spark.llm.retrieval import (
        append_bm25_index,
        write_bm25_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dims = len(emb.select("embedding").first()["embedding"])
    books = pq_codebooks_procedural(4, 16, dims // 4)
    idx = str(tmp_path / "pq")
    write_pq_index(emb.filter("vec_id % 2 = 0"), books, idx)
    assert append_pq_index(emb.filter("vec_id % 2 = 1"), idx, epoch=0)
    assert os.path.exists(f"{idx}/epochs.json")
    # a crashed compaction's leftover staging dir, swept by rebuild
    os.makedirs(f"{idx}/codes.compact", exist_ok=True)

    write_pq_index(emb.filter("vec_id % 2 = 0"), books, idx)  # rebuild
    assert not os.path.exists(f"{idx}/epochs.json")
    assert not os.path.exists(f"{idx}/codes.compact")
    n_before = read_pq_index(spark, idx)[0].count()
    # the fresh stream's epoch 0 must APPLY, not be skipped
    assert append_pq_index(emb.filter("vec_id % 2 = 1"), idx, epoch=0)
    assert read_pq_index(spark, idx)[0].count() > n_before
    assert json.load(open(f"{idx}/epochs.json"))["applied"] == [0]

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bidx = str(tmp_path / "bm25")
    write_bm25_index(docs.filter("doc_id % 2 = 0"), bidx, buckets=4)
    assert append_bm25_index(docs.filter("doc_id % 2 = 1"), bidx, epoch=0)
    os.makedirs(f"{bidx}/postings.old", exist_ok=True)
    write_bm25_index(docs.filter("doc_id % 2 = 0"), bidx, buckets=4)
    assert not os.path.exists(f"{bidx}/epochs.json")
    assert not os.path.exists(f"{bidx}/postings.old")
    assert append_bm25_index(docs.filter("doc_id % 2 = 1"), bidx, epoch=0)
    assert json.load(open(f"{bidx}/epochs.json"))["applied"] == [0]


def test_small_bloom_persist_on_file_uri(spark, tmp_path):
    """save_bloom/load_bloom round-trip through fsio — works on a
    file:// URI (any Hadoop filesystem), values identical."""
    from quality_spark.sources.lookups import bloom_from, load_bloom, save_bloom

    df = spark.createDataFrame([(i,) for i in (1, 5, 99, 12345)], "x long")
    bf = bloom_from(df, "x", expected=4, fpp=0.01)
    loc = f"file://{tmp_path}/bloom"
    save_bloom(bf, loc)
    back = load_bloom(loc)
    assert back.m_bits == bf.m_bits and back.k == bf.k
    assert (back.bits == bf.bits).all()
    assert os.path.exists(f"{tmp_path}/bloom/bits.npy")


def test_big_bloom_refuses_uri_root(spark, sf_dir):
    """The mmap-based bucketed bloom fails loudly at BUILD time on a
    URI root instead of dying inside an executor task later."""
    from quality_spark.sources.bigbloom import big_bloom_from

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="FILESYSTEM\nCONTRACT|FILESYSTEM"):
        big_bloom_from(docs, "doc_id", 1000, "s3a://bucket/blooms")


def test_fsio_resolves_from_fresh_thread(spark, tmp_path):
    """Review r12: getActiveSession is a JVM thread-local — streaming
    foreachBatch callback threads see None. fsio must still resolve
    the process-wide session there (URI path forces the Hadoop
    route)."""
    import threading

    loc = f"file://{tmp_path}/threaded.json"
    errs = []

    def work():
        try:
            fsio.write_json(loc, {"t": 1})
            assert fsio.read_json(loc) == {"t": 1}
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    t = threading.Thread(target=work)
    t.start()
    t.join()
    assert not errs, errs
    assert os.path.exists(f"{tmp_path}/threaded.json")


def test_udf_registrars_resolve_from_fresh_thread(spark):
    """The rule-compile-time UDF registrars find the process-wide
    session on a thread that has no active one (a caller's own pool),
    as fsio does, instead of raising 'needs an active SparkSession'."""
    import threading

    from pyspark.sql import SparkSession

    from quality_spark.functions.pyhash import ensure_python_hashes
    from quality_spark.functions.pyrng import ensure_python_rng
    from quality_spark.functions.yamlenc import ensure_yaml_udfs
    from quality_spark.sources.lookups import MAP_LITERAL_MAX, register_map_lookup

    seen, errs = [], []

    def work():
        seen.append(SparkSession.getActiveSession())
        try:
            ensure_python_hashes()
            ensure_python_rng()
            ensure_yaml_udfs()
            register_map_lookup(
                "fresh_thread_map", {i: i for i in range(MAP_LITERAL_MAX + 1)}
            )
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    t = threading.Thread(target=work)
    t.start()
    t.join()
    assert seen == [None]
    assert not errs, errs


def test_fsio_create_new_is_atomic_primitive(spark, tmp_path):
    """create_new: first caller wins, second reads False — on both a
    plain path and a file:// URI."""
    for base in (str(tmp_path / "a"), f"file://{tmp_path}/b"):
        fsio.makedirs(base)
        p = fsio.join(base, "lock")
        assert fsio.create_new(p) is True
        assert fsio.create_new(p) is False
        fsio.delete(p)
        assert fsio.create_new(p) is True


def test_load_big_bloom_refuses_uri(spark):
    from quality_spark.sources.bigbloom import load_big_bloom

    with pytest.raises(ValueError, match="FILESYSTEM CONTRACT"):
        load_big_bloom("s3a://bucket/blooms")


def _key_dirs(base):
    """version=1 and version=3 committed (marker), version=2 without
    the marker, plus names the listing must skip."""
    for name in ("version=1", "version=2", "version=3", "version=x", "other=4"):
        fsio.makedirs(fsio.join(base, name))
    for name in ("version=1", "version=3", "version=x"):
        fsio.write_text(fsio.join(base, name, "_SUCCESS"), "")
    fsio.write_text(fsio.join(base, "version=10"), "")  # a file child


def test_key_ids_no_session_fallback(tmp_path, monkeypatch):
    monkeypatch.setattr(fsio, "_active_spark", lambda: None)
    base = str(tmp_path / "store")
    _key_dirs(base)
    assert fsio.key_ids(base, "version") == [1, 2, 3, 10]
    assert fsio.key_ids(base, "version", "_SUCCESS") == [1, 3]
    assert fsio.key_ids(base, "other") == [4]
    assert fsio.key_ids(str(tmp_path / "missing"), "version") == []


def test_key_ids_on_file_uri(spark, tmp_path):
    base = f"file://{tmp_path}/store"
    _key_dirs(base)
    assert fsio.key_ids(base, "version") == [1, 2, 3, 10]
    assert fsio.key_ids(base, "version", "_SUCCESS") == [1, 3]
    fsio.makedirs(fsio.join(base, "version=1", "epochs"))
    fsio.write_text(fsio.join(base, "version=1", "epochs", "_SUCCESS"), "")
    assert fsio.key_ids(base, "version", "epochs/_SUCCESS") == [1]
    assert fsio.key_ids(f"file://{tmp_path}/missing", "version") == []


def test_scd2_store_on_file_uri(spark, sf_dir, tmp_path):
    """The SCD2 store on a file:// URI: versions commit and prune
    through fsio, a replayed epoch is skipped, and the store reads back
    the newest committed version."""
    from quality_spark.sources.parquet_compat import read_parquet_compat
    from quality_spark.streaming.recipes import (
        _scd2_versions,
        read_scd2_store,
        scd2_to_store,
    )

    ev = read_parquet_compat(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_id") % 5 == 0
    )
    store = f"file://{tmp_path}/scd2"
    handler = scd2_to_store(
        store, ["user_id"], ["event_type", "value"],
        order_cols=["ts", "event_id"], keep_versions=2,
    )
    for i in range(3):
        handler(ev.filter(F.col("event_id") % 3 == i), i)
    want = sorted(map(tuple, read_scd2_store(spark, store).collect()))
    handler(ev, 2)  # replayed epoch: no-op
    assert _scd2_versions(spark, store) == [1, 2]
    assert sorted(os.listdir(tmp_path / "scd2")) == ["version=1", "version=2"]
    got = read_scd2_store(spark, store)
    assert sorted(map(tuple, got.collect())) == want and len(want) > 0
    assert got.filter("valid_to IS NULL").groupBy("user_id").count().filter(
        "count > 1"
    ).count() == 0


def test_hadoop_filesystem_reached_only_through_fsio():
    """Every store reaches its filesystem through fsio: no other module
    under quality_spark/ names the Hadoop FileSystem API."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "quality_spark",
    )
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            src = open(path, encoding="utf-8").read()
            if "org.apache.hadoop.fs" in src or "getFileSystem" in src:
                hits.append(os.path.relpath(path, pkg))
    assert hits == [os.path.join("sources", "fsio.py")], hits
