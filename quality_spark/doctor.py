"""Store doctor — structured health checks for the persisted stores.

All five persisted artifacts (IVF-PQ `llm/pq.py`, BM25
`llm/retrieval.py`, streaming near-dup `streaming/recipes.py`, the
bucketed ingest key store `recipes.compact_key_store`, and the
big-bloom bucket layout `sources/bigbloom.py`) carry a crash-window
protocol (pending sentinels, epoch ledgers, append-only commit tables,
compaction staging dirs, staged-swap sentinels). Every state those
protocols can leave behind is DIAGNOSABLE from the store layout alone;
this module turns that into one operational surface:

    >>> from quality_spark.doctor import check_pq_store
    >>> rep = check_pq_store("s3a://bucket/pq_index")
    >>> rep["ok"], [f["code"] for f in rep["findings"]]

Each check returns ``{"ok": bool, "findings": [{"level", "code",
"detail"}...]}`` — ``ok`` is False iff any ERROR-level finding exists.
Levels: ``error`` (readers refuse / data at risk — act), ``warn``
(junk that costs nothing yet: orphaned staging dirs, stale markers),
``info`` (observations).

All I/O goes through `sources.fsio`, the filesystem layer of every
store (any Hadoop filesystem), which also owns the sidecar names and
the ``key=N`` listing the checks read. A check reads only sidecars,
directory listings, and catalog metadata — never data files (the
POSIX-only big-bloom check mmaps npy HEADERS, not bits), so a check on
a 100 TB store is metadata-priced.
"""

from __future__ import annotations

from typing import Dict, List

from .sources import fsio


def _finding(findings: List[dict], level: str, code: str, detail: str):
    findings.append({"level": level, "code": code, "detail": detail})


def _report(findings: List[dict]) -> Dict:
    return {
        "ok": not any(f["level"] == "error" for f in findings),
        "findings": findings,
    }


def _check_ledger(path: str, findings: List[dict]) -> None:
    ledger = fsio.join(path, fsio.LEDGER)
    if not fsio.exists(ledger):
        return
    try:
        led = fsio.read_json(ledger)
        applied = led["applied"]
        if not isinstance(applied, list) or any(
            not isinstance(e, int) for e in applied
        ):
            raise TypeError(f"applied is {applied!r}, not a list of ints")
        disordered = applied != sorted(set(applied))
    except Exception as ex:  # noqa: BLE001 — diagnosis, not control flow
        _finding(
            findings, "error", "ledger_unreadable",
            f"epochs.json exists but cannot be parsed ({ex}) — "
            "exactly-once replay decisions are impossible; restore "
            "the previous snapshot or rebuild",
        )
        return
    if disordered:
        _finding(
            findings, "error", "ledger_disorder",
            f"epochs.json applied list {applied!r} is not "
            "sorted-unique — the ledger was hand-edited or torn",
        )


def _check_index_store(path: str, kind: str, tables: tuple) -> Dict:
    """Shared checks for the PQ / BM25 stores (the index-store
    protocol of `sources.fsio`)."""
    findings: List[dict] = []
    pending = fsio.join(path, fsio.PENDING)
    meta = fsio.join(path, fsio.META)
    if fsio.exists(pending):
        try:
            op = fsio.read_json(pending).get("op", "?")
        except Exception:  # noqa: BLE001
            op = "?"
        _finding(
            findings, "error", "pending_sentinel",
            f"meta.json.pending present (interrupted {op!r}) — every "
            "reader refuses this store; restore the previous snapshot "
            f"or rebuild with write_{kind}_index",
        )
    if not fsio.exists(meta):
        if not fsio.exists(pending):
            _finding(
                findings, "error", "no_meta",
                "meta.json missing and no pending sentinel — not a "
                f"{kind} store (or its commit was lost)",
            )
    else:
        try:
            fsio.read_json(meta)
        except Exception as ex:  # noqa: BLE001
            _finding(
                findings, "error", "meta_unreadable",
                f"meta.json cannot be parsed ({ex})",
            )
    _check_ledger(path, findings)
    for table in tables:
        tdir = fsio.join(path, table)
        if fsio.exists(meta) and not fsio.exists(tdir):
            _finding(
                findings, "error", "missing_table",
                f"{table}/ directory missing beside a committed "
                "meta.json — data was deleted out-of-band",
            )
        for suffix in fsio.LEFTOVERS:
            leftover = tdir + suffix
            if fsio.exists(leftover):
                _finding(
                    findings, "warn", "orphan_compaction_dir",
                    f"{table}{suffix}/ present — a compaction crashed "
                    "after staging; harmless to readers (the sentinel "
                    "protocol decides liveness) and swept by the next "
                    "rebuild, but it is paying storage",
                )
    return _report(findings)


def check_pq_store(path: str) -> Dict:
    """Health-check a `write_pq_index` store (metadata-only)."""
    return _check_index_store(path, "pq", ("codes",))


def check_bm25_store(path: str) -> Dict:
    """Health-check a `write_bm25_index` store (metadata-only)."""
    return _check_index_store(path, "bm25", ("postings", "tokens"))


def check_key_store(spark, store_table: str) -> Dict:
    """Health-check a `dedup_against_bucketed_store` key store
    (VERDICT r12 next #4): classify every on-disk state the
    `compact_key_store` staged-swap protocol can leave behind — the
    same decision table `recover_key_store` acts on, reported instead
    of acted on. Reads catalog metadata + sentinel/dir existence
    probes only."""
    from .streaming.recipes import (
        _compaction_paths,
        _sentinel_paths,
        _store_meta,
    )

    findings: List[dict] = []
    tmp = store_table + "__compacting"
    exists = spark.catalog.tableExists(store_table)
    tmp_exists = spark.catalog.tableExists(tmp)
    if not exists:
        if tmp_exists:
            _finding(
                findings, "error", "interrupted_managed_compaction",
                f"store table {store_table} missing but {tmp} exists — "
                "a managed-store compaction crashed between DROP and "
                "RENAME; the tmp table holds the complete compacted "
                "data (CTAS registers only after its write commits). "
                "recover_key_store renames it into place",
            )
        else:
            _finding(
                findings, "info", "no_store",
                f"{store_table}: not a table in this catalog — new or "
                "never-written store",
            )
        return _report(findings)
    if tmp_exists:
        _finding(
            findings, "warn", "orphan_compacting_table",
            f"{tmp} exists beside a live store table — a managed-store "
            "compaction crashed before its DROP+RENAME; readers see "
            "the (uncompacted) store, recover_key_store drops the tmp",
        )
    meta = _store_meta(spark, store_table)
    loc = meta.get("Location", "")
    if meta.get("Type", "").upper() != "EXTERNAL" or not loc:
        return _report(findings)
    stage_loc, old_loc = _compaction_paths(loc)
    ready_sent, oldok_sent = _sentinel_paths(loc)
    loc_exists = fsio.exists(loc)
    stage_exists = fsio.exists(stage_loc)
    old_exists = fsio.exists(old_loc)
    if fsio.exists(ready_sent):
        if stage_exists:
            _finding(
                findings, "error", "interrupted_compaction_stage_ready",
                "__stage_ready sentinel present — a compaction crashed "
                "after staging its complete copy; the store/old dirs "
                "may be partial rename remnants readers must not "
                "trust. recover_key_store swaps the stage into place",
            )
        else:
            _finding(
                findings, "warn", "stray_stage_sentinel",
                "__stage_ready present with no stage dir (manual "
                "tampering — the protocol never moves the stage while "
                "the sentinel exists); recover_key_store removes it",
            )
    elif fsio.exists(oldok_sent):
        if old_exists:
            _finding(
                findings, "error", "interrupted_compaction_old_complete",
                "__old_complete sentinel present without __stage_ready "
                "— the swap crashed past the stage's point of no "
                "return; stage and store dirs are untrusted, the old "
                "dir is the complete pre-swap copy. recover_key_store "
                "restores it",
            )
        else:
            _finding(
                findings, "warn", "stray_old_sentinel",
                "__old_complete present with no old dir; "
                "recover_key_store removes it",
            )
    else:
        if not loc_exists:
            level, code = (
                ("error", "store_dir_missing_recoverable")
                if (stage_exists or old_exists)
                else ("error", "store_dir_missing")
            )
            _finding(
                findings, level, code,
                f"store location {loc} is gone"
                + (
                    " but a stage/old dir survives — recover_key_store "
                    "restores per its no-sentinel decision table"
                    if (stage_exists or old_exists)
                    else " with no stage/old dir — the keys were "
                    "deleted out-of-band; ingest dedup restarts cold"
                ),
            )
        else:
            if stage_exists:
                _finding(
                    findings, "warn", "orphan_stage_dir",
                    "a __compacting_stage dir sits beside a live store "
                    "(crash before any rename, or legacy protocol "
                    "leftovers) — readers are unaffected; "
                    "recover_key_store sweeps it",
                )
            if old_exists:
                _finding(
                    findings, "warn", "orphan_old_dir",
                    "a __compacting_old dir sits beside a live store "
                    "(crash after the swap completed, before cleanup) "
                    "— readers are unaffected; recover_key_store "
                    "deletes it",
                )
    return _report(findings)


def check_bigbloom_store(path: str) -> Dict:
    """Health-check a `big_bloom_from` bucket layout (VERDICT r12 next
    #4): URI-root misuse (the store is mmap-by-design, POSIX mounts
    only — `sources/bigbloom.py`), meta integrity, and per-bucket file
    presence/shape. Bucket files are probed with mmap'd headers, so
    the check stays metadata-priced at any store size."""
    import os

    findings: List[dict] = []
    if "://" in path:
        _finding(
            findings, "error", "uri_root",
            f"{path!r} is a URI — the big-bloom store is mmap-based "
            "and needs a POSIX path visible to every executor (mount "
            "the object store via FUSE: s3fs/goofys/dbfs); builders "
            "and loaders refuse URI roots at call time",
        )
        return _report(findings)
    meta_p = os.path.join(path, "meta.json")
    if not os.path.exists(meta_p):
        _finding(
            findings, "error", "no_meta",
            "meta.json missing — not a big-bloom store (or its final "
            "metadata write was lost)",
        )
        return _report(findings)
    try:
        import json as _json

        with open(meta_p) as fh:
            meta = _json.load(fh)
        buckets = int(meta["buckets"])
        m_bits = int(meta["m_bits"])
        int(meta["k"])
        float(meta["fpp"])
    except Exception as ex:  # noqa: BLE001 — diagnosis, not control flow
        _finding(
            findings, "error", "meta_unreadable",
            f"meta.json cannot be parsed or lacks required keys ({ex})",
        )
        return _report(findings)
    import numpy as np

    n_bytes = m_bits // 8
    for b in range(buckets):
        bp = os.path.join(path, f"bucket_{b}.npy")
        if not os.path.exists(bp):
            _finding(
                findings, "error", "missing_bucket",
                f"bucket_{b}.npy missing — probes routed to bucket "
                f"{b} would fail (keys hash-route by h1's high bits, "
                "so every bucket is load-bearing)",
            )
            continue
        try:
            arr = np.load(bp, mmap_mode="r")
            if arr.shape != (n_bytes,) or arr.dtype != np.uint8:
                raise ValueError(
                    f"shape {arr.shape} dtype {arr.dtype}, expected "
                    f"({n_bytes},) uint8"
                )
        except Exception as ex:  # noqa: BLE001
            _finding(
                findings, "error", "bucket_corrupt",
                f"bucket_{b}.npy unreadable or mis-shaped ({ex})",
            )
    def _in_range(name: str) -> bool:
        core = name[len("bucket_"):-len(".npy")]
        return core.isdigit() and int(core) < buckets

    extras = sorted(
        n
        for n in os.listdir(path)
        if n.startswith("bucket_") and n.endswith(".npy")
        and not _in_range(n)
    )
    for n in extras:
        _finding(
            findings, "warn", "extra_bucket",
            f"{n} is outside the meta.json bucket range (stale rebuild "
            "leftover?) — never read, but paying storage",
        )
    return _report(findings)


def check_neardup_store(spark, path: str) -> Dict:
    """Health-check a `neardup_to_store` store: committed version
    chain, compaction sentinel/generations, in-flight markers, and
    orphaned epoch dirs. Reads the commit tables (tiny parquet) plus
    directory listings — never idmap/sigs data."""
    from .streaming.recipes import (
        _neardup_committed,
        _neardup_compaction_gens,
        _neardup_live_dirs,
    )

    findings: List[dict] = []
    if fsio.exists(fsio.join(path, "compactions", "_COMPACTING")):
        _finding(
            findings, "error", "compacting_sentinel",
            "compactions/_COMPACTING present — a compaction is "
            "running (do nothing) or crashed (batches are blocked; "
            "delete the sentinel file and re-run the compaction)",
        )
    try:
        eps, ver = _neardup_committed(spark, path)
    except Exception as ex:  # noqa: BLE001
        _finding(
            findings, "error", "commit_chain_unreadable",
            f"the committed alias-version chain cannot be read ({ex})",
        )
        return _report(findings)
    if not eps:
        _finding(
            findings, "info", "empty_store",
            "no committed epochs — new or never-written store",
        )
        return _report(findings)
    live = set(_neardup_live_dirs(spark, path, eps))
    # stale / in-flight markers
    for ep in fsio.key_ids(fsio.join(path, "_inflight"), "epoch"):
        name = f"epoch={ep}"
        if ep in eps:
            _finding(
                findings, "warn", "stale_inflight_marker",
                f"_inflight/{name} names a COMMITTED epoch — a batch "
                "crashed between commit and marker delete; the next "
                "replay of that epoch clears it, or delete the marker",
            )
        else:
            _finding(
                findings, "info", "inflight_marker",
                f"_inflight/{name}: a batch is in flight, or crashed "
                "pre-commit (clears when the epoch replays; "
                "compact_neardup_store(force=True) if the checkpoint "
                "was abandoned)",
            )
    # orphaned physical epoch dirs (crashed batches / compactions)
    for table in ("idmap", "sigs"):
        for d in fsio.key_ids(fsio.join(path, table), "epoch"):
            if d not in live:
                _finding(
                    findings, "warn", "orphan_epoch_dir",
                    f"{table}/epoch={d} is referenced by no committed "
                    "state (crashed batch or superseded compaction) — "
                    "invisible to readers, swept by the next "
                    "compaction",
                )
    # committed epochs whose physical dirs vanished = data loss
    gens = _neardup_compaction_gens(spark, path)
    for table in ("idmap", "sigs"):
        on_disk = set(fsio.key_ids(fsio.join(path, table), "epoch"))
        for d in live:
            if d not in on_disk:
                _finding(
                    findings, "error", "missing_live_dir",
                    f"{table}/epoch={d} is in the committed live set "
                    "but the directory is gone — history rows were "
                    "lost out-of-band; matches against that history "
                    "will silently miss",
                )
    _finding(
        findings, "info", "summary",
        f"{len(eps)} committed epochs, newest alias version {ver}, "
        f"{len(live)} live dirs, {len(gens)} committed compactions",
    )
    return _report(findings)
