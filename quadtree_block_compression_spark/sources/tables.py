"""Table sources.

The driver provides TPC-H-ish parquet at ``/root/testdata/sf*`` (TESTDATA.md)
plus ``documents``/``embeddings``; the engine's own ``images``/``geometries``
fixtures are generated (``fixtures``). At production scale these would be
Iceberg tables — the reader keeps format dispatch in one place so swapping
``parquet`` → ``iceberg`` is a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

def load_images_binary_files(spark: SparkSession, glob_path: str) -> DataFrame:
    """Loose image files → the images-table shape (reference S1: the codec's
    file-path input, ``pkg/utils/ioUtils.go:16-24``). Uses Spark's
    ``binaryFile`` source; width/height/fmt are decoded in one Arrow pass,
    captions default empty (loose files carry none)."""
    from pyspark.sql import functions as F

    raw = (spark.read.format("binaryFile").load(glob_path)
           .select(F.col("path"), F.col("content").alias("bytes")))

    def meta(batches):
        import pandas as pd
        from ..kernels.codecs import decode_image, PNG_SIG, QJX_SIG, RAW_SIG
        from ..kernels.phash import phash64
        for pdf in batches:
            out = []
            for path, data in zip(pdf["path"], pdf["bytes"]):
                data = bytes(data)
                img = decode_image(data)
                fmt = ("png" if data[:8] == PNG_SIG else
                       "jpeg" if data[:4] == QJX_SIG else
                       "raw" if data[:4] == RAW_SIG else "unknown")
                out.append((path.rsplit("/", 1)[-1], data, img.shape[1],
                            img.shape[0], fmt, "", int(phash64(img))))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h",
                                             "fmt", "caption", "phash"])

    return raw.mapInPandas(meta, "image_id string, bytes binary, w int, h int, "
                                 "fmt string, caption string, phash long")


# ------------------------------------------------------- versioned tables --
# Iceberg-lite: the three snapshot semantics the north rule's "Iceberg
# tables" imply — manifest-published commits (readers never see unpublished
# data files), time travel (read any past snapshot), and snapshot-pinned
# schema — over plain parquet + JSON manifests. Swapping to real Iceberg
# replaces these three functions with `df.writeTo(...)` / `VERSION AS OF`;
# every caller keeps its shape.

def table_versions(path: str) -> list[int]:
    """Published snapshot numbers of a versioned table (ascending)."""
    import os, re
    if not os.path.isdir(path):
        return []
    return sorted(int(m.group(1)) for f in os.listdir(path)
                  if (m := re.fullmatch(r"v(\d+)\.json", f)))


def _resolve_version(path: str, version: int | None) -> tuple[int, list[int]]:
    """``version`` (the latest when None), checked against the published
    snapshots, and the snapshot list itself."""
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no published snapshots at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"snapshot {version} not in {versions}")
    return version, versions


# Pluggable snapshot committer (the object-store seam, VERDICT r5 #3).
# The default uses POSIX ``os.link`` as the atomic fail-if-exists
# primitive; object stores without atomic link/rename swap in a committer
# built on their conditional-put (S3 If-None-Match, GCS
# x-goog-if-generation-match:0, an Iceberg/Hive/REST catalog's CAS, or a
# DynamoDB-style lock table). Contract: ``committer(path, n, manifest)``
# durably publishes snapshot ``n`` exactly once and raises RuntimeError if
# snapshot ``n`` already exists — everything above this seam (staging,
# manifest-list layout, retries) is store-agnostic.
_MANIFEST_COMMITTER = None


def set_manifest_committer(fn) -> None:
    """Install a custom snapshot committer (None restores the POSIX link
    default). See the comment above for the contract; pytest injects a
    fake here to pin the seam."""
    global _MANIFEST_COMMITTER
    _MANIFEST_COMMITTER = fn


def _publish_manifest(path: str, n: int, manifest: dict) -> int:
    """Atomically publish ``v<n>.json`` via write-tmp-then-LINK (or the
    installed committer — ``set_manifest_committer``).
    ``link()`` is atomic fail-if-exists (POSIX) where ``rename`` would
    silently OVERWRITE a racing writer's already-published manifest — a
    lost update. On a lost race the caller's staged data files stay
    unmanifested (invisible; ``remove_orphan_files`` reclaims them) and
    the write is retried against the new latest."""
    import json
    import os
    import uuid
    if _MANIFEST_COMMITTER is not None:
        return _MANIFEST_COMMITTER(path, n, manifest)
    # per-ATTEMPT unique tmp: pid alone is shared by threads of one
    # driver, and two in-process committers truncating each other's tmp
    # would publish a half-written manifest through the link below
    tmp = os.path.join(path, f".v{n}.json.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, os.path.join(path, f"v{n}.json"))
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(
            f"concurrent commit: snapshot {n} was published by another "
            "writer while this one staged; retry against the new latest"
        ) from None
    os.remove(tmp)
    return n


def _read_manifest(path: str, version: int) -> dict:
    import json
    import os
    with open(os.path.join(path, f"v{version}.json")) as fh:
        return json.load(fh)


def _manifest_refs(manifest: dict) -> list[str]:
    """The snapshot's manifest-FILE paths."""
    return list(manifest["manifests"])


def _manifest_data_files(manifest: dict) -> list[str]:
    """Resolve a snapshot manifest to its data-file list.

    ``v<n>.json`` carries a manifest LIST — per-commit delta manifest files
    under ``<path>/manifests/`` each holding only that commit's data files —
    so an append commit writes O(delta) bytes and read-side planning opens
    O(manifests) small JSONs instead of every commit rewriting (and every
    read parsing) the FULL file list (Iceberg's manifest-list/manifest
    shape; VERDICT r5 #2)."""
    import json
    files: list[str] = []
    for m in manifest["manifests"]:
        with open(m) as fh:
            files.extend(json.load(fh)["files"])
    return files


def _write_delta_manifest(path: str, n: int, files: list[str]) -> str:
    """Write one immutable per-commit manifest file (unique name per
    attempt — a lost-race commit's manifest is an orphan, reclaimed by
    ``remove_orphan_files``). Returns its absolute path."""
    import json
    import os
    import uuid
    man_dir = os.path.join(path, "manifests")
    os.makedirs(man_dir, exist_ok=True)
    mfile = os.path.join(man_dir, f"m{n}-{uuid.uuid4().hex[:8]}.json")
    with open(mfile, "w") as fh:
        json.dump({"files": files}, fh)
    return mfile


def write_versioned(df: DataFrame, path: str, mode: str = "append",
                    properties: dict | None = None,
                    cluster_by: list[str] | None = None,
                    cluster_files: int = 8) -> int:
    """Commit ``df`` as a new snapshot of the versioned table at ``path``.

    Data files land in a UNIQUE staging dir ``path/data/s<n>-<token>/``
    first; the snapshot only becomes visible when ``v<n>.json`` (file list
    + schema) is published via write-tmp-then-atomic-link — a reader can
    never observe a half-written snapshot, a crashed or race-losing
    writer's staging dir is invisible (``remove_orphan_files`` reclaims
    it), and two racing writers cannot lose an update: the second publish
    of the same snapshot number fails loudly (compare-and-swap) instead of
    overwriting the first. ``mode="append"`` carries the previous snapshot's
    files forward; ``mode="overwrite"`` starts the file list fresh (old
    snapshots stay readable — nothing is deleted). ``properties`` is an
    optional JSON dict pinned to the snapshot (Iceberg's snapshot summary
    — e.g. which SOURCE snapshot an incremental ingest consumed, making
    resume decisions part of the same atomic commit). Returns the new
    snapshot number.

    ``cluster_by`` (Iceberg sort orders / ``OPTIMIZE ZORDER BY``): lay the
    snapshot's data files out along the Z-order curve of the named numeric
    columns — range-partition by interleaved-bit key into ``cluster_files``
    files, sorted within each. Every file's parquet min/max stats then
    bound a tight box in the clustered dimensions instead of spanning the
    whole domain, so multi-dimensional range predicates skip whole
    files/row-groups at scan time — the table-layer generalization of the
    blocks table's Morton layout (``tiling.write_blocks``). The sort order
    is recorded in the manifest like Iceberg's sort-order metadata. The
    helper key never lands in the data; only the row order changes, so
    readers and oracles are unaffected."""
    import glob as _glob
    import json
    import os
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    if cluster_by:
        df = _cluster_zorder(df, list(cluster_by), cluster_files)
    import uuid
    versions = table_versions(path)
    n = (versions[-1] if versions else 0) + 1
    # unique staging dir per write ATTEMPT (Iceberg's layout): a crashed
    # or concurrently-racing writer can never collide with, block, or
    # delete another attempt's files — its leftovers are simply never
    # manifested (invisible) until remove_orphan_files reclaims them
    data_dir = os.path.join(path, "data", f"s{n}-{uuid.uuid4().hex[:8]}")
    df.write.mode("errorifexists").parquet(data_dir)
    new_files = sorted(_glob.glob(os.path.join(data_dir, "*.parquet")))
    # manifest-list layout: this commit writes ONE delta manifest holding
    # only its own files; the snapshot's v<n>.json carries the manifest
    # list (previous manifests + the new one for append, just the new one
    # for overwrite). Commit cost is O(delta + #manifests) instead of
    # O(total files).
    manifests = [_write_delta_manifest(path, n, new_files)]
    if mode == "append" and versions:
        manifests = _manifest_refs(_read_manifest(path, versions[-1])) + manifests
    manifest = {"snapshot": n, "manifests": manifests,
                "schema": json.loads(df.schema.json()),
                "properties": dict(properties or {})}
    if cluster_by:
        manifest["sort_order"] = {"kind": "zorder",
                                  "columns": list(cluster_by)}
    return _publish_manifest(path, n, manifest)


_ZBITS = 16  # bits per dimension; 16×2 dims (or 10×3) stays inside a long


def _cluster_zorder(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Order ``df`` along the Z-order curve of ``cols`` (numeric), split
    into ``n_files`` range partitions. Each column is min-max scaled to
    ``_ZBITS`` bits (one driver-side aggregate of 2·k scalars — the same
    contractually-tiny read as the IVF centroids), then bit-interleaved
    JVM-side: the whole key is one codegen'd expression, no Python. NULLs
    in a cluster column would make the key NULL and ANSI would reject the
    double→long cast; they're rare in layout keys, so they get key 0
    (cluster together at the curve origin) rather than failing the write.
    """
    from pyspark.sql import functions as F
    from ..functions.cache import persist_tracked
    if _ZBITS * len(cols) > 62:
        raise ValueError(f"too many cluster columns ({len(cols)}) for "
                         f"{_ZBITS}-bit interleave")
    # three consumers of the input plan (min/max aggregate, range-boundary
    # sampling, the write itself) — persist once or an expensive upstream
    # plan executes three times per commit
    df = persist_tracked(df)
    # nanvl on the min/max inputs: Spark orders NaN above every double, so
    # a single NaN row would otherwise surface as mx=NaN and poison the
    # span for EVERY row (ADVICE r5)
    lims = df.agg(*[F.min(F.nanvl(F.col(c).cast("double"), F.lit(None).cast("double")))
                    .alias(f"mn_{c}") for c in cols],
                  *[F.max(F.nanvl(F.col(c).cast("double"), F.lit(None).cast("double")))
                    .alias(f"mx_{c}") for c in cols]).collect()[0]
    scaled = []
    top = (1 << _ZBITS) - 1
    for c in cols:
        mn, mx = lims[f"mn_{c}"], lims[f"mx_{c}"]
        span = float(mx - mn) if mx is not None and mx > mn else 1.0
        # nanvl before the ANSI double→long cast: a NaN cluster value takes
        # the same key-0 origin path as NULL (documented missing-value
        # semantics) instead of failing the whole commit (ADVICE r5)
        raw = ((F.nanvl(F.col(c).cast("double"), F.lit(None).cast("double"))
                - float(mn if mn is not None else 0))
               / span * top)
        s = F.coalesce(raw.cast("long"), F.lit(0))
        scaled.append(F.greatest(F.lit(0), F.least(F.lit(top), s)))
    z = F.lit(0).cast("long")
    for b in range(_ZBITS):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)),
                b * len(scaled) + i))
    return (df.withColumn("_zkey", z)
            .repartitionByRange(n_files, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey"))


def read_versioned(spark: SparkSession, path: str,
                   version: int | None = None) -> DataFrame:
    """Read a snapshot of a versioned table (latest when ``version`` is
    None). Only manifested files are scanned, with the schema PINNED from
    the manifest — rows and columns committed after the snapshot are
    invisible, matching Iceberg ``VERSION AS OF``. An empty snapshot reads
    as an empty DataFrame with the committed schema."""
    from pyspark.sql.types import StructType
    manifest = _read_manifest(path, _resolve_version(path, version)[0])
    schema = StructType.fromJson(manifest["schema"])
    files = _manifest_data_files(manifest)
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def merge_versioned(spark: SparkSession, path: str, updates: DataFrame,
                    key: str | list[str],
                    properties: dict | None = None) -> int:
    """Row-level upsert (Iceberg ``MERGE INTO``, copy-on-write): rows of
    the latest snapshot whose ``key`` appears in ``updates`` are replaced,
    new keys are inserted, and the result is published as one atomic
    overwrite snapshot — prior snapshots stay readable (a bad merge is
    rolled back by reading the previous version).

    The merge plan is one anti-join (current minus updated keys) + union —
    no driver-side rows; at scale the anti-join shuffles on the key like
    any equi-join. ``updates`` must match the table schema (snapshot-pinned
    — widen with an explicit overwrite commit instead) and be unique on
    ``key`` (duplicate update keys would make the result nondeterministic;
    checked with one cheap aggregate)."""
    keys = [key] if isinstance(key, str) else list(key)
    cur = read_versioned(spark, path)
    shape = lambda df: [(f.name, f.dataType) for f in df.schema.fields]  # noqa: E731
    if shape(updates) != shape(cur):
        raise ValueError(
            f"updates schema {shape(updates)} != table schema {shape(cur)} "
            "— merge is snapshot-pinned; commit a schema change explicitly")
    if updates.groupBy(*keys).count().where("count > 1").limit(1).count():
        raise ValueError(f"updates are not unique on {keys}")
    merged = (cur.join(updates.select(*keys), keys, "left_anti")
              .unionByName(updates))
    return write_versioned(merged, path, mode="overwrite",
                           properties=properties)


def rollback_versioned(path: str, to_version: int,
                       properties: dict | None = None) -> int:
    """Roll the table back to ``to_version`` (Iceberg
    ``rollback_to_snapshot``): publish a NEW snapshot whose file list and
    schema are the old snapshot's — history is never rewritten (the bad
    snapshots stay readable for audit), the table's latest just points at
    the good state again. Pure manifest copy: no data movement, no Spark
    job."""
    versions = table_versions(path)
    if to_version not in versions:
        raise ValueError(f"snapshot {to_version} not in {versions}")
    old = _read_manifest(path, to_version)
    n = versions[-1] + 1
    # carry the old snapshot's manifest list forward verbatim
    manifest = {"snapshot": n, "manifests": old["manifests"],
                "schema": old["schema"],
                "properties": {**dict(properties or {}),
                               "rollback_of": to_version}}
    if "sort_order" in old:
        manifest["sort_order"] = old["sort_order"]
    return _publish_manifest(path, n, manifest)


def delete_versioned(spark: SparkSession, path: str, predicate: str,
                     properties: dict | None = None) -> int:
    """Row-level delete (Iceberg ``DELETE FROM``, copy-on-write): rows of
    the latest snapshot matching ``predicate`` (a SQL boolean expression)
    are dropped and the remainder is published as one atomic overwrite
    snapshot — prior snapshots stay readable, so a bad delete is rolled
    back by reading the previous version. One filtered scan + write; the
    predicate pushes down to the parquet scan like any filter."""
    # DELETE removes rows where the predicate is TRUE; a NULL predicate
    # (e.g. a null column in a comparison) must KEEP the row — a bare
    # NOT(p) filter would silently drop it
    kept = read_versioned(spark, path).where(
        f"NOT coalesce(({predicate}), false)")
    return write_versioned(kept, path, mode="overwrite",
                           properties=properties)


def compact_versioned(spark: SparkSession, path: str, target_files: int = 8,
                      cluster_by: list[str] | None = None,
                      properties: dict | None = None) -> int:
    """Small-file compaction (Iceberg ``rewrite_data_files``): rewrite the
    latest snapshot into ``target_files`` files — optionally Z-order
    clustered — as one atomic overwrite snapshot. Append-heavy ingest
    accumulates one file set per commit; at scale the scan's task count
    (and the driver's file listing) grows with commit COUNT, not data
    size, until a compaction folds history into right-sized files. Old
    snapshots keep reading their original files; pair with
    ``expire_snapshots`` to reclaim them."""
    cur = read_versioned(spark, path)
    if not cluster_by:
        cur = cur.repartition(target_files)
    return write_versioned(cur, path, mode="overwrite",
                           properties=properties, cluster_by=cluster_by,
                           cluster_files=target_files)


def remove_orphan_files(path: str, older_than_seconds: float = 86400.0) -> dict:
    """Iceberg's ``remove_orphan_files``: delete staging directories no
    manifest references — the leftovers of crashed or race-losing writers.

    Works at DIRECTORY granularity because staging dirs are per-commit and
    immutable: a dir containing even one manifested parquet file serves a
    snapshot and is skipped (``expire_snapshots`` handles file-level
    retention). The age gate (newest mtime in the dir must be older than
    ``older_than_seconds``) keeps an IN-PROGRESS writer's staging dir safe
    — the same reason Iceberg's procedure defaults to 3 days. Returns
    ``{"deleted_dirs": n, "deleted_files": m}``."""
    import glob as _glob
    import os
    import shutil
    import time
    refs: set[str] = set()
    man_refs: set[str] = set()
    for v in table_versions(path):
        manifest = _read_manifest(path, v)
        refs.update(os.path.realpath(f)
                    for f in _manifest_data_files(manifest))
        man_refs.update(os.path.realpath(m)
                        for m in _manifest_refs(manifest))
    cutoff = time.time() - older_than_seconds
    deleted_dirs = deleted_files = 0
    # orphaned delta-manifest files (a lost-race commit wrote its manifest
    # before the snapshot CAS failed) — same age gate as staging dirs
    for m in sorted(_glob.glob(os.path.join(path, "manifests", "*.json"))):
        if (os.path.realpath(m) not in man_refs
                and os.path.getmtime(m) < cutoff):
            os.remove(m)
            deleted_files += 1
    for d in sorted(_glob.glob(os.path.join(path, "data", "*"))):
        if not os.path.isdir(d):
            continue
        names, mtimes = [], [os.path.getmtime(d)]
        for dp, ds, fs in os.walk(d):
            mtimes.extend(os.path.getmtime(os.path.join(dp, x))
                          for x in ds)
            for f in fs:
                fp = os.path.join(dp, f)
                names.append(fp)
                mtimes.append(os.path.getmtime(fp))
        if any(os.path.realpath(f) in refs for f in names):
            continue
        # age-gate on DIRECTORY mtimes too: a live writer's staging dir
        # exists before its first file does, and an empty dir must not be
        # vacuously "old"
        if any(m > cutoff for m in mtimes):
            continue  # possibly a live writer still staging
        shutil.rmtree(d)
        deleted_dirs += 1
        deleted_files += len(names)
    return {"deleted_dirs": deleted_dirs, "deleted_files": deleted_files}


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Iceberg's ``expire_snapshots``: drop all but the newest ``keep_last``
    manifests and delete data files no surviving snapshot references.

    Readers of surviving snapshots are unaffected (their file lists are
    untouched); expired version numbers simply stop resolving. Deletion
    order is manifests first, then orphaned data files — a crash mid-way
    leaves only unreferenced files (invisible by construction), never a
    published manifest with missing data. Returns
    ``{"expired_versions": [...], "deleted_files": n}``."""
    import os
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (a table keeps a snapshot)")
    _, versions = _resolve_version(path, None)
    expired, kept = versions[:-keep_last], versions[-keep_last:]
    keep_files: set[str] = set()
    keep_manifests: set[str] = set()
    for v in kept:
        m = _read_manifest(path, v)
        keep_files.update(_manifest_data_files(m))
        keep_manifests.update(_manifest_refs(m))
    drop_files: set[str] = set()
    drop_manifests: set[str] = set()
    for v in expired:
        m = _read_manifest(path, v)
        drop_files.update(_manifest_data_files(m))
        drop_manifests.update(_manifest_refs(m))
        os.remove(os.path.join(path, f"v{v}.json"))
    deleted = 0
    for f in sorted(drop_files - keep_files):
        if os.path.exists(f):
            os.remove(f)
            deleted += 1
    # delta manifests referenced only by expired snapshots go with them
    for mf in sorted(drop_manifests - keep_manifests):
        if os.path.exists(mf):
            os.remove(mf)
    return {"expired_versions": expired, "deleted_files": deleted}


def snapshot_properties(path: str, version: int | None = None) -> dict:
    """The properties dict pinned at commit time (latest snapshot when
    ``version`` is None; {} for snapshots committed without properties)."""
    manifest = _read_manifest(path, _resolve_version(path, version)[0])
    return manifest.get("properties", {})


def versioned_diff(spark: SparkSession, path: str, from_version: int,
                   to_version: int | None = None) -> DataFrame:
    """Incremental read: the rows appended between two snapshots, as pure
    manifest arithmetic — ONLY the data files published after
    ``from_version`` are scanned (Iceberg's incremental append scan). At
    100 TB this is the difference between reprocessing the corpus per batch
    and touching just the new files; :mod:`..operators.dedup_text`'s
    index-at-rest classifier takes this frame directly as ``new_docs``.

    ``from_version=0`` means "before the first commit" (the diff is the
    whole ``to`` snapshot). Raises ``ValueError`` when ``to_version``'s
    lineage is not an append of ``from_version`` (an overwrite in between
    rewrote history — file-list subtraction would be a lie), mirroring
    Iceberg's refusal to incremental-scan across a replace snapshot.
    Schema is pinned from the ``to`` manifest."""
    from pyspark.sql.types import StructType
    to_version, versions = _resolve_version(path, to_version)
    if from_version != 0 and from_version not in versions:
        raise ValueError(f"snapshot {from_version} not in {versions}")
    if from_version > to_version:
        raise ValueError(f"from_version {from_version} is after "
                         f"to_version {to_version}")
    to_manifest = _read_manifest(path, to_version)
    to_refs = _manifest_refs(to_manifest)
    from_set = (set(_manifest_refs(_read_manifest(path, from_version)))
                if from_version != 0 else set())
    # manifest-level diff: an append keeps the previous snapshot's delta
    # manifests verbatim and adds its own, so the new rows are exactly the
    # manifests in `to` but not `from` — O(delta) manifest reads, the full
    # file lists are never materialized.
    if not from_set <= set(to_refs):
        raise ValueError(
            f"snapshot {to_version} is not an append of {from_version} "
            "(an overwrite rewrote the file list in between) — read the "
            "full snapshot instead of an incremental diff")
    new_files = _manifest_data_files(
        {"manifests": [m for m in to_refs if m not in from_set]})
    schema = StructType.fromJson(to_manifest["schema"])
    if not new_files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*new_files)
