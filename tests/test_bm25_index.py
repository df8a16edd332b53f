"""Persisted BM25 inverted index (llm/retrieval.py:write_bm25_index /
bm25_scores_indexed / bm25_topk_indexed): result identity with the
inline path, partition pruning, and the retrieve() composition."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quality_spark.llm.retrieval import (
    bm25_scores,
    bm25_scores_indexed,
    bm25_topk,
    bm25_topk_indexed,
    write_bm25_index,
)

QS = [(1, "data quality"), (2, "spark window shuffle"), (3, "the")]


@pytest.fixture(scope="module")
def bm25_index(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bm25idx"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    write_bm25_index(docs, root, buckets=16)
    return root, docs


def test_indexed_scores_bit_equal_inline(spark, bm25_index):
    root, docs = bm25_index
    inline = sorted(
        map(tuple, bm25_scores(spark, docs, QS).collect())
    )
    indexed = sorted(
        map(tuple, bm25_scores_indexed(spark, root, QS).collect())
    )
    assert len(inline) > 0
    assert inline == indexed  # bit-equal score doubles (shared finisher)


def test_indexed_topk_equal_inline(spark, bm25_index):
    root, docs = bm25_index
    inline = sorted(map(tuple, bm25_topk(spark, docs, QS, k=7).collect()))
    indexed = sorted(
        map(tuple, bm25_topk_indexed(spark, root, QS, k=7).collect())
    )
    assert inline == indexed


def test_indexed_scan_prunes_buckets(spark, bm25_index):
    """Both index scans must prune on the bucket partition column —
    PartitionFilters non-empty and no corpus-table FileScan at all."""
    import re

    root, _ = bm25_index
    plan = bm25_scores_indexed(spark, root, [(1, "data")])._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters, plan[:2000]
    assert all("bucket" in f for f in filters), filters
    # exactly the index's two stores are scanned, nothing else
    assert plan.count("FileScan parquet") == 2, plan[:2000]


def test_indexed_prunes_directories_on_disk(spark, sf_dir, bm25_index):
    """The probe-bucket set for a one-term query is a strict subset of
    the index's buckets — the pruned scan cannot touch every
    directory."""
    root, _ = bm25_index
    dirs = [
        d
        for d in os.listdir(os.path.join(root, "postings"))
        if d.startswith("bucket=")
    ]
    assert len(dirs) > 2
    out = bm25_scores_indexed(spark, root, [(1, "data")])
    # one term -> one bucket: the executed plan's partition count is 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and all("bucket" in f for f in m)


def test_out_of_vocab_and_empty_index_guard(spark, sf_dir, tmp_path):
    root, _docs = None, None
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    write_bm25_index(docs.limit(5), idx, buckets=4)
    assert bm25_scores_indexed(spark, idx, [(9, "zzzqqq")]).count() == 0

    empty = str(tmp_path / "empty")
    write_bm25_index(docs.limit(0), empty, buckets=4)
    with pytest.raises(ValueError):
        bm25_scores_indexed(spark, empty, [(1, "x")])


def test_retrieve_bm25_idx_composition(spark, sf_dir, bm25_index):
    """retrieve(lexical='bm25_idx') equals retrieve(lexical='bm25') —
    the persisted lexical leg is a drop-in."""
    from quality_spark.llm.retrieval import retrieve

    root, docs = bm25_index
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter("vec_id IN (1, 2)")
    qs = [(1, "data quality"), (2, "spark window")]
    a = sorted(
        map(
            tuple,
            retrieve(spark, docs, emb, qs, qv, k=5, depth=20).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            retrieve(
                spark,
                docs,
                emb,
                qs,
                qv,
                k=5,
                depth=20,
                lexical="bm25_idx",
                bm25_index_path=root,
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_append_equals_rebuild(spark, sf_dir, tmp_path):
    """append(b) onto write(a) == write(a ∪ b): scores bit-equal,
    meta stats add exactly."""
    import json

    from quality_spark.llm.retrieval import append_bm25_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_bm25_index(a, inc, buckets=8)
    append_bm25_index(b, inc)
    write_bm25_index(docs, full, buckets=8)
    with open(f"{inc}/meta.json") as fh:
        mi = json.load(fh)
    with open(f"{full}/meta.json") as fh:
        mf = json.load(fh)
    assert (mi["n_docs"], mi["sum_dl"]) == (mf["n_docs"], mf["sum_dl"])
    got = sorted(map(tuple, bm25_scores_indexed(spark, inc, QS).collect()))
    want = sorted(map(tuple, bm25_scores_indexed(spark, full, QS).collect()))
    assert got == want and len(got) > 0


def test_interrupted_append_fails_loud(spark, sf_dir, tmp_path):
    """A meta.json.pending sentinel (crash between the postings append
    and finalize) must make every reader refuse the store — silently
    stale df/N would mis-score without any error."""
    from quality_spark.llm.retrieval import append_bm25_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    write_bm25_index(docs.filter("doc_id % 2 = 0"), idx, buckets=4)
    # simulate the crash window
    with open(f"{idx}/meta.json.pending", "w") as fh:
        fh.write("{}")
    with pytest.raises(ValueError, match="interrupted append"):
        bm25_scores_indexed(spark, idx, [(1, "data")])
    with pytest.raises(ValueError, match="interrupted append"):
        append_bm25_index(docs.filter("doc_id % 2 = 1"), idx)
    # a completed append clears the sentinel and the store reads again
    os.remove(f"{idx}/meta.json.pending")
    append_bm25_index(docs.filter("doc_id % 2 = 1"), idx)
    assert not os.path.exists(f"{idx}/meta.json.pending")
    assert bm25_scores_indexed(spark, idx, QS).count() > 0


def test_interrupted_rebuild_fails_loud(spark, sf_dir, tmp_path):
    """Rebuild-in-place writes the pending sentinel BEFORE the
    postings overwrite (ADVICE r10): a crash mid-rebuild must not
    leave old meta.json + old tokens/ beside new postings/ that
    readers silently accept with stale df/n_docs."""
    import unittest.mock as mock

    idx = str(tmp_path / "idx")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    write_bm25_index(docs.filter("doc_id % 2 = 0"), idx, buckets=4)
    # crash during the second build's postings overwrite: patch the
    # tokens write by making json.dump on meta explode AFTER postings
    # — easiest faithful window is to interrupt right after the
    # pending sentinel is down, i.e. during the postings write.
    with mock.patch(
        "pyspark.sql.readwriter.DataFrameWriter.parquet",
        side_effect=RuntimeError("simulated crash"),
    ):
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_bm25_index(docs, idx, buckets=4)
    # the half-rebuilt store must be refused by every reader
    assert os.path.exists(f"{idx}/meta.json.pending")
    assert not os.path.exists(f"{idx}/meta.json")
    with pytest.raises(ValueError, match="interrupted"):
        bm25_scores_indexed(spark, idx, [(1, "data")])
    # recovery: a COMPLETED rebuild clears the sentinel
    os.remove(f"{idx}/meta.json.pending")
    write_bm25_index(docs, idx, buckets=4)
    assert not os.path.exists(f"{idx}/meta.json.pending")
    assert os.path.exists(f"{idx}/meta.json")
    assert bm25_scores_indexed(spark, idx, QS).count() > 0


def test_bm25_appends_to_store_exactly_once(spark, sf_dir, tmp_path):
    """Streaming BM25 ingest (round 11): handler-driven epoch batches
    equal a bulk rebuild; replayed epochs are no-ops; a crash between
    the ledger write and the meta commit leaves a refused store."""
    import json
    import unittest.mock as mock

    from quality_spark.streaming.recipes import bm25_appends_to_store

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_bm25_index(docs.filter("doc_id % 3 = 0"), inc, buckets=8)
    handler = bm25_appends_to_store(inc)
    handler(docs.filter("doc_id % 3 = 1"), 1)
    handler(docs.filter("doc_id % 3 = 2"), 2)
    write_bm25_index(docs, full, buckets=8)
    got = sorted(map(tuple, bm25_scores_indexed(spark, inc, QS).collect()))
    want = sorted(map(tuple, bm25_scores_indexed(spark, full, QS).collect()))
    assert got == want and len(got) > 0
    # replay with garbage content: no-op
    handler(docs, 2)
    again = sorted(map(tuple, bm25_scores_indexed(spark, inc, QS).collect()))
    assert again == got
    with open(f"{inc}/epochs.json") as fh:
        assert json.load(fh)["applied"] == [1, 2]
    # crash between ledger write and the atomic meta commit: patch
    # os.replace to blow up — sentinel stays down, store refused
    with mock.patch(
        "quality_spark.sources.fsio.replace",
        side_effect=RuntimeError("simulated crash"),
    ):
        with pytest.raises(RuntimeError, match="simulated crash"):
            handler(docs.limit(0), 3)
    assert os.path.exists(f"{inc}/meta.json.pending")
    with pytest.raises(ValueError, match="interrupted"):
        bm25_scores_indexed(spark, inc, QS)
    with pytest.raises(ValueError, match="interrupted"):
        handler(docs.limit(0), 3)  # replay refuses the broken store
