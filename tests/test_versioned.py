"""Iceberg-lite versioned tables: manifest-published snapshots, time travel,
snapshot-pinned schema (sources/tables.py)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quadtree_block_compression_spark.sources.tables import (
    read_versioned, table_versions, versioned_diff, write_versioned)


def _df(spark, ids):
    return spark.createDataFrame(
        pd.DataFrame({"k": list(ids), "v": [i * 10 for i in ids]}))


def test_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    assert table_versions(path) == []
    assert write_versioned(_df(spark, [1, 2, 3]), path) == 1
    assert write_versioned(_df(spark, [4, 5]), path, mode="append") == 2
    assert write_versioned(_df(spark, [9]), path, mode="overwrite") == 3
    assert table_versions(path) == [1, 2, 3]
    # latest = the overwrite
    assert sorted(r.k for r in read_versioned(spark, path).collect()) == [9]
    # every past snapshot still reads exactly as committed
    assert sorted(r.k for r in
                  read_versioned(spark, path, 1).collect()) == [1, 2, 3]
    assert sorted(r.k for r in
                  read_versioned(spark, path, 2).collect()) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError):
        read_versioned(spark, path, 7)
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, str(tmp_path / "nope"))
    with pytest.raises(ValueError):
        write_versioned(_df(spark, [1]), path, mode="merge")


def test_unpublished_files_invisible(spark, tmp_path):
    """A data file with no manifest entry (crashed writer, stray copy) is
    never scanned — visibility is decided ONLY by the published manifest."""
    import glob
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2]), path)
    # orphan: a whole unpublished staging directory
    _df(spark, [99]).write.parquet(os.path.join(path, "data", "s999-dead"))
    # stray file inside a PUBLISHED snapshot's dir, added after the commit
    (s1_dir,) = glob.glob(os.path.join(path, "data", "s1-*"))
    _df(spark, [98]).toPandas().to_parquet(
        os.path.join(s1_dir, "stray.parquet"))
    assert sorted(r.k for r in read_versioned(spark, path).collect()) == [1, 2]


def test_crashed_writer_never_blocks_and_orphans_are_reclaimed(spark,
                                                               tmp_path):
    """Staging dirs are unique per write attempt: a crashed writer's
    leftover can never collide with (or be deleted by) the retry, its rows
    never leak, and remove_orphan_files reclaims it — but only past the
    age gate, and never a dir a manifest references."""
    import glob
    from quadtree_block_compression_spark.sources.tables import (
        remove_orphan_files)
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2]), path)
    # simulate a crash: a staged-but-never-published attempt at snapshot 2
    _df(spark, [99, 98]).write.parquet(os.path.join(path, "data", "s2-dead"))
    assert write_versioned(_df(spark, [3]), path, mode="append") == 2
    assert sorted(r.k for r in read_versioned(spark, path).collect()) \
        == [1, 2, 3]
    # age gate: a fresh dir could be a LIVE writer mid-stage — kept
    assert remove_orphan_files(path)["deleted_dirs"] == 0
    out = remove_orphan_files(path, older_than_seconds=0)
    assert out["deleted_dirs"] == 1 and out["deleted_files"] >= 1
    assert glob.glob(os.path.join(path, "data", "s2-dead")) == []
    # manifested dirs untouched; the table still reads
    assert sorted(r.k for r in read_versioned(spark, path).collect()) \
        == [1, 2, 3]


def test_concurrent_commit_loses_cleanly(spark, tmp_path):
    """The publish is compare-and-swap: if another writer published v<n>
    while this one staged, the commit raises instead of silently
    overwriting the winner's manifest; the loser's staged files stay
    invisible and the winner's snapshot is intact."""
    import json
    from quadtree_block_compression_spark.sources import tables as T
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1]), path)
    schema = json.loads(_df(spark, [1]).schema.json())
    # the winner publishes v2 in the interleave window (between the
    # loser's version read and its publish)
    assert T._publish_manifest(path, 2, {
        "snapshot": 2, "manifests": [], "schema": schema,
        "properties": {"winner": "other"}}) == 2
    with pytest.raises(RuntimeError, match="concurrent commit"):
        T._publish_manifest(path, 2, {
            "snapshot": 2, "manifests": ["/nonexistent/loser.json"],
            "schema": schema, "properties": {"winner": "loser"}})
    # winner's manifest untouched — no silent lost update
    assert T.snapshot_properties(path, 2) == {"winner": "other"}
    assert read_versioned(spark, path).count() == 0


def test_schema_pinned_per_snapshot(spark, tmp_path):
    """A later snapshot may add a column; reading the OLD snapshot yields
    the OLD schema (no leakage of future columns), and the new snapshot
    carries the widened one."""
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1]), path)
    widened = _df(spark, [2]).withColumn("extra", F.lit("x"))
    write_versioned(widened, path, mode="overwrite")
    old = read_versioned(spark, path, 1)
    assert old.columns == ["k", "v"]
    assert [r.k for r in old.collect()] == [1]
    new = read_versioned(spark, path, 2)
    assert new.columns == ["k", "v", "extra"]


def test_versioned_diff_is_incremental_read(spark, tmp_path):
    """Diff between two snapshots = exactly the appended rows, computed
    from manifest file lists alone (the pre-diff snapshots' data files are
    never scanned — Iceberg's incremental append scan)."""
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2]), path)
    write_versioned(_df(spark, [3]), path, mode="append")
    write_versioned(_df(spark, [4, 5]), path, mode="append")
    assert sorted(r.k for r in
                  versioned_diff(spark, path, 1, 3).collect()) == [3, 4, 5]
    assert sorted(r.k for r in
                  versioned_diff(spark, path, 2).collect()) == [4, 5]  # to=latest
    # from_version=0 = "before the first commit": the whole snapshot
    assert sorted(r.k for r in
                  versioned_diff(spark, path, 0, 2).collect()) == [1, 2, 3]
    # same-version diff is empty but carries the committed schema
    empty = versioned_diff(spark, path, 2, 2)
    assert empty.columns == ["k", "v"] and empty.count() == 0
    with pytest.raises(ValueError):
        versioned_diff(spark, path, 3, 2)  # backwards
    with pytest.raises(ValueError):
        versioned_diff(spark, path, 1, 9)  # unknown snapshot


def test_versioned_diff_refuses_overwrite_lineage(spark, tmp_path):
    """An overwrite between the two snapshots rewrote history; file-list
    subtraction would silently misreport — must raise instead."""
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2]), path)
    write_versioned(_df(spark, [9]), path, mode="overwrite")
    with pytest.raises(ValueError, match="not an append"):
        versioned_diff(spark, path, 1, 2)
    # but appends AFTER the overwrite diff fine against it
    write_versioned(_df(spark, [10]), path, mode="append")
    assert sorted(r.k for r in
                  versioned_diff(spark, path, 2, 3).collect()) == [10]


def test_versioned_diff_feeds_incremental_dedup(spark, tmp_path):
    """The 100 TB ingest shape end-to-end: corpus lives in a versioned
    table, the dedup index is built ONCE from snapshot 1, a batch is
    appended as snapshot 2, and ONLY `versioned_diff(1, 2)` — the new
    files — is shingled and classified against the index at rest. The
    classification must equal the direct DataFrame form over the same
    logical frames (nothing about the versioned route may leak into the
    semantics)."""
    from pyspark.sql import functions as F

    from quadtree_block_compression_spark.operators.dedup_text import (
        dedup_incremental, dedup_incremental_indexed, dedup_index_write)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id < 30").select("doc_id", "text")
    batch = (docs.where("doc_id < 3")
             .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
             .unionByName(docs.where("doc_id >= 30")
                          .select("doc_id", "text")))
    path = str(tmp_path / "corpus_tbl")
    assert write_versioned(corpus, path) == 1
    idx = str(tmp_path / "dedup_index")
    dedup_index_write(read_versioned(spark, path, 1), idx,
                      n=3, num_perm=8, bands=4)
    assert write_versioned(batch, path, mode="append") == 2

    delta = versioned_diff(spark, path, 1, 2)
    # the diff IS the batch — no old rows rescanned, no new rows lost
    assert delta.exceptAll(batch).isEmpty() and batch.exceptAll(delta).isEmpty()
    got = {r.doc_id: (r.dup_tier, r.dup_of) for r in
           dedup_incremental_indexed(spark, idx, delta, n=3, num_perm=8,
                                     bands=4, threshold=0.5,
                                     max_bucket=100).collect()}
    want = {r.doc_id: (r.dup_tier, r.dup_of) for r in
            dedup_incremental(batch, corpus, n=3, num_perm=8, bands=4,
                              threshold=0.5, max_bucket=100).collect()}
    assert got == want
    assert sum(1 for t, _ in got.values() if t == "exact") == 3


def test_snapshot_properties_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1]), path)  # no properties → {}
    write_versioned(_df(spark, [2]), path, mode="append",
                    properties={"source_snapshot": 7, "who": "ingest"})
    from quadtree_block_compression_spark.sources.tables import (
        snapshot_properties)
    assert snapshot_properties(path, 1) == {}
    assert snapshot_properties(path) == {"source_snapshot": 7, "who": "ingest"}
    with pytest.raises(ValueError):
        snapshot_properties(path, 9)


def test_incremental_image_ingest_snapshot_to_snapshot(spark, tiny_images,
                                                       tmp_path):
    """ingest → append images → ingest again: each run tiles ONLY the
    delta, the blocks table's latest snapshot equals tiling the full image
    snapshot, blocks time travel works, and a caught-up re-run is a no-op."""
    from quadtree_block_compression_spark.operators.tiling import assign_tiles
    from quadtree_block_compression_spark.plans.incremental import (
        ingest_images_incremental)

    imgs = str(tmp_path / "images_tbl")
    blks = str(tmp_path / "blocks_tbl")
    first = tiny_images.where("image_id < 'img_00005'")
    rest = tiny_images.where("image_id >= 'img_00005'")
    assert first.count() + rest.count() == 16

    write_versioned(first, imgs)
    assert ingest_images_incremental(spark, imgs, blks) == 1
    assert ingest_images_incremental(spark, imgs, blks) is None  # caught up

    write_versioned(rest, imgs, mode="append")
    assert ingest_images_incremental(spark, imgs, blks) == 2
    assert ingest_images_incremental(spark, imgs, blks) is None

    key = ["image_id", "tile_id", "block_hash"]
    got = read_versioned(spark, blks).select(*key)
    want = assign_tiles(tiny_images).select(*key)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # time travel on the OUTPUT: blocks v1 = tiles of the first snapshot only
    v1_images = {r.image_id for r in
                 read_versioned(spark, blks, 1).select("image_id")
                 .distinct().collect()}
    assert v1_images == {r.image_id for r in first.select("image_id").collect()}


def test_merge_versioned_upsert(spark, tmp_path):
    """MERGE INTO semantics: updates replace matching keys, new keys
    insert, one atomic overwrite snapshot, prior snapshots untouched;
    schema drift and duplicate update keys fail fast."""
    from quadtree_block_compression_spark.sources.tables import (
        merge_versioned)
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2, 3]), path)
    updates = spark.createDataFrame(
        pd.DataFrame({"k": [2, 9], "v": [777, 999]}))
    assert merge_versioned(spark, path, updates, "k",
                           properties={"op": "merge"}) == 2
    got = {r.k: r.v for r in read_versioned(spark, path).collect()}
    assert got == {1: 10, 2: 777, 3: 30, 9: 999}
    # time travel: the pre-merge snapshot is intact
    assert {r.k: r.v for r in read_versioned(spark, path, 1).collect()} \
        == {1: 10, 2: 20, 3: 30}
    from quadtree_block_compression_spark.sources.tables import (
        snapshot_properties)
    assert snapshot_properties(path, 2) == {"op": "merge"}
    with pytest.raises(ValueError, match="unique"):
        merge_versioned(spark, path,
                        spark.createDataFrame(
                            pd.DataFrame({"k": [5, 5], "v": [1, 2]})), "k")
    with pytest.raises(ValueError, match="schema"):
        merge_versioned(spark, path,
                        _df(spark, [4]).withColumn("extra", F.lit(1)), "k")


def test_cluster_by_zorder_file_layout(spark, tmp_path):
    """cluster_by lays files out along the Z-curve: each file's parquet
    min/max stats bound a tight (x, y) box, so a small range predicate
    overlaps few files — while an unclustered write of the same rows gives
    every file ~the full domain (no skipping possible). This asserts the
    LAYOUT property Iceberg sort orders exist for, straight from the file
    footers, independent of any engine's pruning implementation."""
    import glob
    import json
    import pyarrow.parquet as pq
    from quadtree_block_compression_spark.sources.tables import (
        snapshot_properties)

    grid = pd.DataFrame([(x, y, x * 64 + y)
                         for x in range(64) for y in range(64)],
                        columns=["x", "y", "v"])
    src = spark.createDataFrame(grid).repartition(16)  # scrambled order
    pc, pu = str(tmp_path / "clustered"), str(tmp_path / "plain")
    assert write_versioned(src, pc, cluster_by=["x", "y"],
                           cluster_files=16) == 1
    assert write_versioned(src, pu) == 1

    def bboxes(path):
        from quadtree_block_compression_spark.sources import tables as T
        files = T._manifest_data_files(T._read_manifest(path, 1))
        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            lo = {c: min(md.row_group(g).column(names.index(c)).statistics.min
                         for g in range(md.num_row_groups)) for c in ("x", "y")}
            hi = {c: max(md.row_group(g).column(names.index(c)).statistics.max
                         for g in range(md.num_row_groups)) for c in ("x", "y")}
            out.append((lo["x"], hi["x"], lo["y"], hi["y"]))
        return out

    def overlapping(boxes, x0, x1, y0, y1):
        return sum(1 for (ax0, ax1, ay0, ay1) in boxes
                   if ax0 <= x1 and x0 <= ax1 and ay0 <= y1 and y0 <= ay1)

    cb, ub = bboxes(pc), bboxes(pu)
    # query box = 1/16 of the domain: few clustered files overlap it,
    # every unclustered file does (each spans ~the whole domain)
    assert overlapping(cb, 0, 15, 0, 15) <= len(cb) // 4
    assert overlapping(ub, 0, 15, 0, 15) == len(ub)
    # row order is the ONLY thing that changed: same rows, schema clean of
    # the helper key, and the manifest records the sort order
    got = read_versioned(spark, pc)
    assert got.columns == ["x", "y", "v"]
    assert got.count() == 64 * 64
    assert got.filter("x < 16 and y < 16").count() == 256
    man = json.load(open(os.path.join(pc, "v1.json")))
    assert man["sort_order"] == {"kind": "zorder", "columns": ["x", "y"]}
    assert "sort_order" not in json.load(open(os.path.join(pu, "v1.json")))
    assert snapshot_properties(pc, 1) == {}


def test_rollback_versioned(spark, tmp_path):
    """rollback_to_snapshot: a new manifest repoints latest at the old
    state without rewriting history — the bad snapshot stays readable,
    reads after rollback see the old rows, and the rollback provenance
    rides as a snapshot property."""
    from quadtree_block_compression_spark.sources.tables import (
        rollback_versioned, snapshot_properties)
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2]), path)
    write_versioned(_df(spark, [99]), path, mode="overwrite")  # the bad one
    assert rollback_versioned(path, 1) == 3
    assert sorted(r.k for r in read_versioned(spark, path).collect()) == [1, 2]
    assert [r.k for r in read_versioned(spark, path, 2).collect()] == [99]
    assert snapshot_properties(path, 3) == {"rollback_of": 1}
    with pytest.raises(ValueError):
        rollback_versioned(path, 7)


def test_delete_versioned_predicate(spark, tmp_path):
    """DELETE FROM semantics: rows where the predicate is TRUE are
    dropped; FALSE **and NULL** rows are kept (SQL DELETE never removes a
    NULL-predicate row); prior snapshots intact for rollback."""
    from quadtree_block_compression_spark.sources.tables import (
        delete_versioned)
    path = str(tmp_path / "tbl")
    nullable = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4, 5],
                      "v": [10.0, 20.0, 30.0, 40.0, None]}))
    write_versioned(nullable, path)
    assert delete_versioned(spark, path, "v >= 30") == 2
    assert sorted(r.k for r in read_versioned(spark, path).collect()) \
        == [1, 2, 5]  # k=5 has v NULL → predicate NULL → KEPT
    assert read_versioned(spark, path, 1).count() == 5


def test_compact_versioned_folds_files(spark, tmp_path):
    """rewrite_data_files semantics: N append commits accumulate N file
    sets; compaction folds the latest snapshot into target_files files
    with identical rows, old snapshots untouched; optional cluster_by
    rides through to the rewrite."""
    import json
    from quadtree_block_compression_spark.sources.tables import (
        compact_versioned)
    path = str(tmp_path / "tbl")
    for i in range(5):
        write_versioned(_df(spark, [i * 2, i * 2 + 1]).repartition(4),
                        path, mode="append")
    from quadtree_block_compression_spark.sources import tables as T
    files_before = T._manifest_data_files(T._read_manifest(path, 5))
    assert compact_versioned(spark, path, target_files=2,
                             properties={"op": "compact"}) == 6
    files_after = T._manifest_data_files(T._read_manifest(path, 6))
    assert len(files_after) <= 2 < len(files_before)
    assert sorted(r.k for r in read_versioned(spark, path).collect()) \
        == list(range(10))
    # pre-compaction snapshots still read their original files
    assert sorted(r.k for r in read_versioned(spark, path, 2).collect()) \
        == [0, 1, 2, 3]
    # clustered compaction: same rows, sort order recorded
    assert compact_versioned(spark, path, target_files=2,
                             cluster_by=["k"]) == 7
    man = json.load(open(os.path.join(path, "v7.json")))
    assert man["sort_order"] == {"kind": "zorder", "columns": ["k"]}
    assert sorted(r.k for r in read_versioned(spark, path).collect()) \
        == list(range(10))


def test_expire_snapshots_retention(spark, tmp_path):
    """Expire drops old manifests and ONLY data files no survivor
    references: append-lineage files shared with kept snapshots survive,
    overwritten-away files are deleted, kept snapshots read unchanged."""
    from quadtree_block_compression_spark.sources.tables import (
        expire_snapshots)
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark, [1, 2]), path)                  # v1
    write_versioned(_df(spark, [3]), path, mode="append")      # v2 (shares v1 files)
    write_versioned(_df(spark, [9]), path, mode="overwrite")   # v3 (fresh files)
    write_versioned(_df(spark, [10]), path, mode="append")     # v4

    out = expire_snapshots(path, keep_last=2)
    assert out["expired_versions"] == [1, 2]
    assert out["deleted_files"] > 0                            # v1/v2's files orphaned
    assert table_versions(path) == [3, 4]
    assert sorted(r.k for r in read_versioned(spark, path, 3).collect()) == [9]
    assert sorted(r.k for r in read_versioned(spark, path).collect()) == [9, 10]
    with pytest.raises(ValueError):
        read_versioned(spark, path, 1)                         # expired
    with pytest.raises(ValueError):
        expire_snapshots(path, keep_last=0)

    # shared-file safety: expire v3 while keeping v4 (append of v3) must
    # NOT delete v3's files — v4 still references them
    out2 = expire_snapshots(path, keep_last=1)
    assert out2 == {"expired_versions": [3], "deleted_files": 0}
    assert sorted(r.k for r in read_versioned(spark, path).collect()) == [9, 10]


def test_empty_snapshot_reads_with_schema(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(spark.createDataFrame([], "k long, v long"), path)
    out = read_versioned(spark, path)
    assert out.columns == ["k", "v"] and out.count() == 0


def test_append_commit_cost_is_o_delta_not_o_total(spark, tmp_path):
    """r6 (VERDICT r5 #2): the manifest-list layout makes an append commit
    write O(delta files + #manifests) metadata bytes, not O(total files).
    The NEW bytes of commit N (its v<N>.json manifest list + its one delta
    manifest) must not grow with the accumulated data-file count — under
    the pre-r6 inline layout each v<N>.json re-embedded every prior file
    and grew linearly."""
    import json
    import os
    from quadtree_block_compression_spark.sources import tables as T
    path = str(tmp_path / "tbl")
    delta_sizes = []
    n_commits = 12
    for i in range(n_commits):
        n = write_versioned(_df(spark, [i]).coalesce(1), path, mode="append")
        man = T._read_manifest(path, n)
        assert "files" not in man  # manifest list, not an inline file list
        delta = os.path.getsize(os.path.join(path, f"v{n}.json"))
        # the snapshot's own delta manifest (one per commit)
        delta += os.path.getsize(T._manifest_refs(man)[-1])
        delta_sizes.append(delta)
    # file count grew 12x; new-metadata-per-commit must stay ~flat. The
    # manifest LIST adds one ~60-byte path per commit (Iceberg's shape —
    # O(#manifests), not O(#files)); assert the slope is that of the list,
    # far below one data-file entry (~100 bytes) per accumulated file.
    per_commit_growth = (delta_sizes[-1] - delta_sizes[2]) / (n_commits - 3)
    assert per_commit_growth < 120, (delta_sizes, per_commit_growth)
    # and the table still reads correctly end to end
    assert sorted(r.k for r in read_versioned(spark, path).collect()) \
        == list(range(n_commits))
    # incremental diff reads ONLY the delta manifests
    got = sorted(r.k for r in versioned_diff(spark, path, 3).collect())
    assert got == list(range(3, n_commits))


def test_manifest_committer_seam(spark, tmp_path):
    """r6 (VERDICT r5 #3): the snapshot CAS primitive is a pluggable
    committer — an object-store deployment swaps conditional-put in for
    POSIX link without touching staging/manifest logic. A fake committer
    sees exactly one publish call per commit with the full manifest dict,
    and its 'already exists' signal surfaces as the concurrent-commit
    error."""
    import json
    import os
    from quadtree_block_compression_spark.sources import tables as T
    path = str(tmp_path / "tbl")
    calls = []

    def fake_committer(p, n, manifest):
        calls.append((p, n))
        if any(c == (p, n) for c in calls[:-1]):
            raise RuntimeError("concurrent commit: snapshot exists")
        with open(os.path.join(p, f"v{n}.json"), "w") as fh:
            json.dump(manifest, fh)
        return n

    T.set_manifest_committer(fake_committer)
    try:
        assert write_versioned(_df(spark, [1, 2]), path) == 1
        assert write_versioned(_df(spark, [3]), path, mode="append") == 2
        assert calls == [(path, 1), (path, 2)]
        assert sorted(r.k for r in read_versioned(spark, path).collect()) \
            == [1, 2, 3]
        # a replayed publish of the same snapshot number fails loudly
        man = T._read_manifest(path, 2)
        with pytest.raises(RuntimeError, match="concurrent commit"):
            T._publish_manifest(path, 2, man)
    finally:
        T.set_manifest_committer(None)
    # default committer restored: normal commits work again
    assert write_versioned(_df(spark, [4]), path, mode="append") == 3


def test_ingest_resume_survives_compaction_and_expire_raises(
        spark, tiny_images, tmp_path):
    """r6 (ADVICE r5): (1) resume state is the MAX source_snapshot across
    ALL blocks snapshots — a compact_versioned commit (which doesn't carry
    properties forward) must not reset it to 0 and silently re-append the
    whole corpus; (2) when the consumed images snapshot has been expired,
    ingest raises an explicit error naming the interaction instead of
    failing deep inside versioned_diff (or duplicating rows)."""
    from quadtree_block_compression_spark.plans.incremental import (
        ingest_images_incremental)
    from quadtree_block_compression_spark.sources.tables import (
        compact_versioned, expire_snapshots)

    imgs = str(tmp_path / "images_tbl")
    blks = str(tmp_path / "blocks_tbl")
    first = tiny_images.where("image_id < 'img_00005'")
    rest = tiny_images.where("image_id >= 'img_00005'")
    write_versioned(first, imgs)
    assert ingest_images_incremental(spark, imgs, blks) == 1
    n_blocks = read_versioned(spark, blks).count()

    # a compaction commit has no source_snapshot property; pre-fix the next
    # ingest read done=0 and re-tiled everything as duplicates
    compact_versioned(spark, blks, target_files=2)
    assert ingest_images_incremental(spark, imgs, blks) is None  # caught up
    assert read_versioned(spark, blks).count() == n_blocks  # no duplicates

    # new images arrive; ingest still resumes from snapshot 1, not 0
    write_versioned(rest, imgs, mode="append")
    assert ingest_images_incremental(spark, imgs, blks) is not None
    key = ["image_id", "tile_id", "block_hash"]
    assert read_versioned(spark, blks).select(*key).distinct().count() \
        == read_versioned(spark, blks).select(*key).count()

    # expire the consumed snapshot out from under the resume pointer:
    # ingest must fail with the explicit expire-interaction error
    write_versioned(tiny_images.limit(2), imgs, mode="append")  # v3
    write_versioned(tiny_images.limit(1), imgs, mode="append")  # v4
    expire_snapshots(imgs, keep_last=1)  # drops v1..v3 incl. consumed v2
    with pytest.raises(RuntimeError, match="expired"):
        ingest_images_incremental(spark, imgs, blks)


def test_zorder_nan_clusters_at_origin(spark, tmp_path):
    """r6 (ADVICE r5): a NaN cluster value follows the NULL path (key 0 —
    origin) instead of throwing on the ANSI double->long cast and failing
    the commit, and a single NaN row must not poison the min/max span for
    every other row."""
    import math
    path = str(tmp_path / "tbl")
    # tuples + explicit schema: pandas would silently turn NaN into NULL,
    # which never exercised the NaN path at all
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.0, 100.0),
         (3, float("nan"), 25.0), (4, 50.0, float("nan"))],
        "k int, x double, y double")
    assert write_versioned(df, path, cluster_by=["x", "y"],
                           cluster_files=2) == 1
    got = {r.k: (r.x, r.y) for r in read_versioned(spark, path).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert math.isnan(got[3][0]) and math.isnan(got[4][1])
