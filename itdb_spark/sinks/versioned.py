"""Versioned parquet table with an atomic manifest pointer — the
minimal table-format kernel (the idea Iceberg/Delta build on) that
closes compact.py's documented crash window FOR REAL.

compact_parquet's rename-swap protocol has an unavoidable instant with
no directory at the table path (documented there; recovery makes it
survivable, not invisible). The versioned layout removes the window
entirely by never mutating data in place:

    table_root/
      v1/  v2/  ...          # immutable version directories
      MANIFEST                # one line: the current version name

* Writers stage a COMPLETE new version directory, then publish it with
  a single ``os.replace`` of the one-line manifest — atomic on POSIX,
  so every reader observes either the old version or the new one,
  never a half-state. A crash mid-write leaves an orphan v{N} dir and
  an untouched manifest: the table is still fully live.
* Readers resolve the manifest, then read the immutable version dir —
  a long-running job keeps reading ITS version even if a writer
  publishes meanwhile (snapshot isolation for free, the property the
  rename-swap can never give: it deletes the old data under readers).
* Compaction = write_version(read_current(), ...) with the same parity
  gates as compact_parquet; old versions remain until vacuum(keep=N)
  — retention is an explicit policy, not a side effect of the swap.

At 100 TB the same protocol holds on any store with atomic single-key
replace (POSIX rename, HDFS rename, S3 PUT-overwrite of the manifest
key); only the manifest is ever overwritten, and it is one line.

Round 12 adds the kernel's APPEND half: ``append_version`` publishes a
delta directory (new rows + a ``_PARENT`` marker) behind the same
manifest swap, ``read_current_chain`` unions the immutable ancestry,
and ``vacuum`` treats published ancestors as load-bearing. Write cost
becomes the delta, never the table — the refresh shape an incremental
index needs. Compaction of a long chain is just
``write_version(read_current_chain(...), root)``: the replace version
has no parent, terminating the chain, after which vacuum may sweep the
old links.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from itdb_spark.sinks.compact import _content_checksum, content_checksum_aggs

# vacuum's default retention floor (seconds): a superseded version dir
# younger than this is never swept, whatever ``keep`` says — it may
# still back a pinned reader's in-flight scan (isolation keeps it
# ANSWERING; only retention keeps its files). Must exceed the longest
# expected probe; 15 min covers every measured probe in SCALE.md by
# >25x (the sf10 stream-contain-live trigger, fold included, is 33 s).
DEFAULT_VACUUM_MIN_AGE_S = 15 * 60.0

_MANIFEST = "MANIFEST"


def _manifest_path(root: str) -> str:
    return os.path.join(root, _MANIFEST)


def current_version(root: str) -> str | None:
    """The published version name, or None for an empty table root."""
    try:
        with open(_manifest_path(root)) as fh:
            v = fh.read().strip()
            return v or None
    except FileNotFoundError:
        return None


def _publish(root: str, version: str) -> None:
    """Atomically point the manifest at ``version`` (single os.replace
    of a one-line file — readers see old or new, never half)."""
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".manifest_")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(version + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, _manifest_path(root))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


_TAGS = "_TAGS"  # underscore prefix: invisible to Spark's file lister


def _write_tags(path: str, tags) -> None:
    """Stage idempotency tags (one per line) INSIDE an unpublished
    version dir — written before the manifest swap, so a tag becomes
    visible atomically WITH its version (the property foreachBatch
    at-least-once replay protection needs: a marker written after the
    publish would leave a crash window where the data is live but the
    replay guard is not)."""
    with open(os.path.join(path, _TAGS), "w") as fh:
        for t in sorted(tags):
            fh.write(t + "\n")
        fh.flush()
        os.fsync(fh.fileno())


def chain_tags(root: str) -> set[str]:
    """Every idempotency tag visible on the published chain (appends
    carry their own; compact_chain folds ancestors' tags forward).
    Empty set for an unpublished root."""
    out: set[str] = set()
    if current_version(root) is None:
        return out
    for v in chain_versions(root):
        p = os.path.join(root, v, _TAGS)
        if os.path.exists(p):
            with open(p) as fh:
                out.update(line.strip() for line in fh if line.strip())
    return out


def write_version(
    df: DataFrame,
    root: str,
    n_files: int | None = None,
    enforce_schema: bool = True,
    partition_by: list[str] | None = None,
    tags=None,
    writer_options: dict[str, str] | None = None,
) -> str:
    """Write ``df`` as the table's next immutable version and publish it.
    Returns the version name. The data write happens entirely inside
    the unpublished v{N} directory; the publish is one atomic manifest
    replace — there is NO crash window in which the table is absent or
    partial (a crash before publish leaves an orphan dir for vacuum).

    ``enforce_schema`` (default on) is the table-format compatibility
    gate: a new version may ADD columns (pinned-schema readers see the
    additions as invisible, mergeSchema readers as NULL-backfilled
    history — the SCALE.md evolution postures), but dropping or
    retyping an existing column is refused BEFORE any data is written
    — the mistake that silently breaks every downstream pinned reader
    must be an explicit ``enforce_schema=False`` decision.

    ``partition_by`` lays the version directory out hive-partitioned on
    those columns (each version is still one immutable dir; the atomic
    manifest publish is unchanged) — the index-table shape where readers
    prune on the partition key (e.g. the LSH band index partitioned by
    band). Parquet round-trips the partition column through the
    directory name, so the schema gate sees it as an ordinary column.

    ``writer_options`` passes parquet writer knobs verbatim (e.g.
    ``{"parquet.block.size": str(1 << 23)}`` — smaller row groups on a
    point-lookup index table, so a pushed-down key filter's row-group
    min/max pruning has granularity to work with; the SCALE.md §r13
    switch-point made selectable)."""
    os.makedirs(root, exist_ok=True)
    cur = current_version(root)
    if enforce_schema and cur is not None:
        # gate against the CHAIN's schema, not the head dir alone: the
        # head may be a DATA-LESS delta (an append that contributed no
        # rows writes no parquet files), which schema inference cannot
        # read; a chain with no data anywhere has nothing to be
        # compatible with
        try:
            old_schema = read_current_chain(df.sparkSession, root).schema
        except FileNotFoundError:
            old_schema = None
        old_fields = {
            f.name: f.dataType for f in (old_schema.fields if old_schema else [])
        }
        new_fields = {f.name: f.dataType for f in df.schema.fields}
        dropped = sorted(set(old_fields) - set(new_fields))
        retyped = sorted(
            n for n, t in old_fields.items()
            if n in new_fields and new_fields[n] != t
        )
        if dropped or retyped:
            raise ValueError(
                "incompatible schema for new version "
                f"(dropped={dropped}, retyped={retyped}); additions are "
                "fine — pass enforce_schema=False to force a break"
            )
    n = int(cur[1:]) + 1 if cur else 1
    version = f"v{n}"
    path = os.path.join(root, version)
    while os.path.exists(path):  # orphan from a crashed writer
        n += 1
        version = f"v{n}"
        path = os.path.join(root, version)
    out = df.repartition(n_files) if n_files else df
    writer = out.write.mode("errorifexists")
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if tags:
        _write_tags(path, tags)
    _publish(root, version)
    return version


def read_current(spark: SparkSession, root: str) -> DataFrame:
    """DataFrame over the currently-published version. The returned
    frame is pinned to ITS version directory (immutable), so a
    concurrent publish never changes or breaks this reader."""
    v = current_version(root)
    if v is None:
        raise FileNotFoundError(f"no published version at {root!r}")
    # pinned-schema read (r14): version dirs are immutable, so the
    # per-process schema memo skips footer inference on every read
    # after the first — ~0.1 s of driver wall per reader init.
    from itdb_spark.plans.library import read_parquet_pinned

    return read_parquet_pinned(spark, os.path.join(root, v))


_PARENT = "_PARENT"  # underscore prefix: invisible to Spark's file lister


def append_version(
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
    tag: str | None = None,
    writer_options: dict[str, str] | None = None,
) -> str:
    """Publish a DELTA version: the new v{N} directory holds ONLY
    ``df``'s rows plus a ``_PARENT`` marker naming the version it
    extends; the publish is the same single atomic manifest replace.
    This is the second half of the table-format kernel (round 12):
    ``write_version`` gives atomic REPLACE, ``append_version`` gives
    atomic APPEND — a refresh whose write cost is the DELTA, not the
    table (rewriting a 100 TB index to add a 0.1% batch is the cost
    shape this exists to kill). Readers use ``read_current_chain``,
    which unions the parent chain — every directory in the chain is
    immutable, so snapshot isolation is unchanged (a pinned reader's
    chain can never mutate under it), and ``vacuum`` refuses to delete
    any ancestor of the published chain. The schema gate matches
    write_version's: additions fine, drops/retypes refused."""
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(
            f"no published version at {root!r} to append to — "
            "write_version the base first"
        )
    # gate against the CHAIN's schema (read_current_chain skips empty
    # deltas — the head itself may be one)
    old_fields = {
        f.name: f.dataType
        for f in read_current_chain(df.sparkSession, root).schema.fields
    }
    new_fields = {f.name: f.dataType for f in df.schema.fields}
    dropped = sorted(set(old_fields) - set(new_fields))
    retyped = sorted(
        n for n, t in old_fields.items()
        if n in new_fields and new_fields[n] != t
    )
    if dropped or retyped:
        raise ValueError(
            "incompatible schema for appended version "
            f"(dropped={dropped}, retyped={retyped})"
        )
    n = int(cur[1:]) + 1
    version = f"v{n}"
    path = os.path.join(root, version)
    while os.path.exists(path):  # orphan from a crashed writer
        n += 1
        version = f"v{n}"
        path = os.path.join(root, version)
    writer = df.write.mode("errorifexists")
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    with open(os.path.join(path, _PARENT), "w") as fh:
        fh.write(cur + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    if tag:
        # ``tag`` publishes atomically with the delta (chain_tags):
        # an at-least-once caller keys its append on the batch id and
        # skips replays whose tag is already visible — exactly-once
        # acceptance without any side channel.
        _write_tags(path, [tag])
    _publish(root, version)
    return version


def _has_data(root: str, version: str) -> bool:
    """True when the version dir holds at least one parquet data file
    (an empty delta holds only markers)."""
    for _, _, files in os.walk(os.path.join(root, version)):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def chain_versions(root: str, version: str | None = None) -> list[str]:
    """The version's ancestry, newest first: [version, parent, ...] —
    a write_version dir has no ``_PARENT`` and terminates the chain.
    Defaults to the published version."""
    v = version or current_version(root)
    if v is None:
        raise FileNotFoundError(f"no published version at {root!r}")
    out = []
    while v is not None:
        out.append(v)
        marker = os.path.join(root, v, _PARENT)
        if os.path.exists(marker):
            with open(marker) as fh:
                v = fh.read().strip() or None
        else:
            v = None
    return out


def read_current_chain(spark: SparkSession, root: str) -> DataFrame:
    """DataFrame over the published version AND its append ancestry —
    the reader for tables maintained with ``append_version``. For a
    table that has only ever been replaced (chain length 1) this is
    exactly ``read_current``. Pinned like read_current: every chain dir
    is immutable and vacuum never removes a published ancestor.
    EMPTY deltas (an append whose frame had zero rows writes no parquet
    files — e.g. a re-crawl batch contributing no novel keys) are valid
    chain links for ancestry but carry no data: skipped here, or the
    file-less dir would fail schema inference."""
    from itdb_spark.plans.library import read_parquet_pinned

    dirs = [d for d in chain_versions(root) if _has_data(root, d)]
    if not dirs:
        raise FileNotFoundError(
            f"published chain at {root!r} holds no data files"
        )
    # pinned-schema reads (r14): chain dirs are immutable, so each
    # dir's schema is memoized per process — a probe against a K-link
    # chain paid K reader inits (~0.1 s each) per call before this.
    # The memo is per DIR, so mixed-schema chains (legacy links) keep
    # their exact per-link schema for the allowMissingColumns union.
    out = read_parquet_pinned(spark, os.path.join(root, dirs[0]))
    for d in dirs[1:]:
        out = out.unionByName(
            read_parquet_pinned(spark, os.path.join(root, d)),
            allowMissingColumns=True,
        )
    return out


def _tree_parquet_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) over ALL parquet parts under ``path``,
    recursively — the versioned-table form of ``parquet_file_stats``
    (which is deliberately flat-only for compact_parquet): version
    dirs may be hive-partitioned, and their compaction must measure
    the whole tree."""
    n, b = 0, 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, f))
    return n, b


def _detect_partition_cols(root: str, version: str) -> list[str]:
    """Partition columns of a version dir, read off the hive layout
    (``col=value`` path segments between the version dir and its
    parquet files, in nesting order). Compaction defaults to
    PRESERVING this layout (ADVICE r12): folding a band- or
    kind-partitioned index through a plain rewrite silently demoted
    the partition key to an ordinary column and lost the file-level
    pruning every probe path relies on."""
    base = os.path.join(root, version)
    for dirpath, dirnames, filenames in os.walk(base):
        if any(f.endswith(".parquet") for f in filenames):
            rel = os.path.relpath(dirpath, base)
            if rel == ".":
                return []
            cols = []
            for seg in rel.split(os.sep):
                if "=" not in seg:
                    return []  # not a hive layout
                cols.append(seg.split("=", 1)[0])
            return cols
        dirnames.sort()  # deterministic walk
    return []


def compact_version(
    spark: SparkSession, root: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Compaction, versioned-table form: rewrite the current version
    size-aware into a new version, publish only after the SAME parity
    gates compact_parquet uses (row count + full content checksum) —
    but with zero crash window and no reader disruption, because
    nothing is renamed or deleted. Returns the compact_parquet-shaped
    stats dict plus the new version name.

    Only for a table whose published version has no append ancestry:
    the rewrite reads the head dir alone, so on an append chain it
    would publish the newest delta as the whole table. Chains are
    refused with a ValueError; fold them with ``compact_chain``."""
    v = current_version(root)
    if v is None:
        raise FileNotFoundError(f"no published version at {root!r}")
    links = chain_versions(root)
    if len(links) > 1:
        raise ValueError(
            f"compact_version rewrites only the head dir, but {root!r} is "
            f"an append chain of {len(links)} links {links}; use "
            "compact_chain to fold it"
        )
    src_path = os.path.join(root, v)
    files_before, bytes_before = _tree_parquet_stats(src_path)
    n_out = max(1, math.ceil(bytes_before / target_bytes))
    rows_before, ck_before = _content_checksum(spark, src_path)
    part_cols = _detect_partition_cols(root, v)
    src = spark.read.parquet(src_path)
    if part_cols:
        # keep the index layout: cluster by the partition key so the
        # rewrite emits ~one file per partition value, not n_out each
        src = src.repartition(n_out, *part_cols)
        new_v = write_version(src, root, partition_by=part_cols)
    else:
        new_v = write_version(src, root, n_files=n_out)
    new_path = os.path.join(root, new_v)
    rows_after, ck_after = _content_checksum(spark, new_path)
    if (rows_after, ck_after) != (rows_before, ck_before):
        # roll the pointer back and drop the bad version — the old
        # version was never touched, so this is a pure metadata undo
        _publish(root, v)
        shutil.rmtree(new_path)
        raise RuntimeError(
            "compaction parity mismatch: "
            f"rows {rows_before} -> {rows_after}, "
            f"checksum {ck_before} -> {ck_after}"
        )
    files_after, _ = _tree_parquet_stats(new_path)
    return {
        "files_before": files_before,
        "bytes_before": bytes_before,
        "files_after": files_after,
        "rows": rows_before,
        "version": new_v,
    }


def maybe_compact_chain(
    spark: SparkSession,
    root: str,
    max_links: int = 8,
    target_bytes: int = 128 * 1024 * 1024,
    vacuum_keep: int | None = None,
    writer_options: dict[str, str] | None = None,
    vacuum_min_age_s: float | None = None,
) -> dict | None:
    """The append story's COMPACTION POLICY (r12 VERDICT #3): fold the
    chain iff it has grown past ``max_links`` links, else do nothing.
    Every probe unions the whole ancestry (read_current_chain) — K
    appends mean K delta dirs per probe and progressively weaker
    file-level min/max pruning, so read amplification grows with K
    while each fold costs one corpus-scale rewrite: the knee is a
    policy knob, not a constant (the measured sf1.0 curve lives in
    SCALE.md §r13 — near-flat to ~4 links, and the default 8 keeps
    probe overhead under ~20% there while amortizing the fold over 8
    batch ingests). Partition layout and idempotency tags fold forward
    (compact_chain). Returns compact_chain's stats, or None when under
    threshold.

    The threshold counts EVERY chain link, data-less deltas included:
    a re-crawl workload appends one EMPTY keys delta per batch (zero
    novel keys — stream-minhash-ingest-live's exact shape), and each
    link still costs every reader a marker walk; counting only
    data-bearing links would let that chain grow unboundedly without
    ever folding. Folding an almost-empty chain is nearly free (the
    rewrite reads only the data links) and resets the walk.

    ``vacuum_keep`` (optional) sweeps superseded versions after a
    SUCCESSFUL fold (vacuum(keep=N)) — a long-running ingest loop
    otherwise accretes every folded-away link on disk forever. Only
    set it where the caller is the table's sole writer AND no reader
    is pinned to an old chain (vacuum's maintenance-window contract;
    a foreachBatch loop that owns its index satisfies both). None
    (default) leaves retention to an explicit vacuum call.
    ``vacuum_min_age_s`` threads through to vacuum's retention floor
    (r13 VERDICT #5): None keeps vacuum's protective default; a
    sole-owner loop whose readers are per-trigger (never pinned across
    a fold) passes 0 for immediate reclamation."""
    if len(chain_versions(root)) <= max_links:
        return None
    stats = compact_chain(
        spark, root, target_bytes=target_bytes,
        writer_options=writer_options,
    )
    if vacuum_keep is not None:
        stats["vacuumed"] = vacuum(
            root,
            keep=vacuum_keep,
            min_age_s=DEFAULT_VACUUM_MIN_AGE_S
            if vacuum_min_age_s is None
            else vacuum_min_age_s,
        )
    return stats


def vacuum(
    root: str,
    keep: int = 2,
    min_age_s: float = DEFAULT_VACUUM_MIN_AGE_S,
) -> list[str]:
    """Delete all but the newest ``keep`` PUBLISHED-lineage version
    directories, never the published one (retention as an explicit
    policy). Version dirs numerically NEWER than the published pointer
    are orphans by definition — a writer that crashed after the data
    write but before the pointer swap — and are always swept (round-9
    ADVICE: the old [:-keep] slice could never reach them, so a crashed
    writer's dir survived every vacuum). Maintenance-window call: a
    LIVE writer between data write and pointer swap is indistinguishable
    from a crashed one, so run vacuum only with no publish in flight.
    A MISSING/EMPTY manifest alongside existing version dirs is refused
    outright (round-10 ADVICE: cur_n=-1 would classify every version as
    a crashed-writer orphan and delete ALL data regardless of ``keep`` —
    a lost pointer is corruption to surface, not retention to enforce).
    Returns the removed names.

    ``min_age_s`` is the retention FLOOR (r13 VERDICT #5 — the Delta
    VACUUM footgun): snapshot isolation guarantees a reader pinned to
    an old chain keeps ANSWERING from it (proven by the snap-isolation
    grade), but only retention guarantees its files still exist — a
    vacuum that sweeps a superseded dir younger than the longest
    in-flight probe deletes that reader's files mid-scan. Dirs whose
    mtime is younger than the floor are retained regardless of
    ``keep`` (orphans too: a LIVE writer's not-yet-published dir is
    younger than any sane floor, so the floor also closes the
    crashed-vs-live ambiguity above). The default (15 min) must exceed
    the longest expected probe; a sole-owner maintenance window whose
    readers are known dead passes ``min_age_s=0`` for immediate
    reclamation."""
    cur = current_version(root)
    cur_n = int(cur[1:]) if cur else -1
    versions = sorted(
        (d for d in os.listdir(root)
         if d.startswith("v") and d[1:].isdigit()
         and os.path.isdir(os.path.join(root, d))),
        key=lambda d: int(d[1:]),
    )
    if cur is None and versions:
        raise RuntimeError(
            f"no published version at {root!r} but {len(versions)} version "
            "dir(s) exist — manifest lost or corrupted; refusing to vacuum "
            "(every dir would be classified as an orphan and deleted)"
        )
    published = [v for v in versions if int(v[1:]) <= cur_n]
    orphans = [v for v in versions if int(v[1:]) > cur_n]
    # the published version's append ANCESTRY is load-bearing data for
    # read_current_chain — never retention-eligible while reachable
    live_chain = set(chain_versions(root)) if cur else set()
    now = time.time()

    def _aged(v: str) -> bool:
        return (
            min_age_s <= 0
            or now - os.path.getmtime(os.path.join(root, v)) >= min_age_s
        )

    doomed = [
        v for v in published[:-keep] if v != cur and v not in live_chain
    ] if keep else [
        v for v in published if v != cur and v not in live_chain
    ]
    doomed = [v for v in doomed + orphans if _aged(v)]
    for v in doomed:
        shutil.rmtree(os.path.join(root, v))
    return doomed


def compact_chain(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    writer_options: dict[str, str] | None = None,
) -> dict:
    """Fold an append chain into ONE replace version — the maintenance
    half of the append story (a chain grows one dir per accepted batch;
    compaction resets read amplification and makes the old links
    vacuum-eligible, since the replace version has no parent). Publishes
    only after the SAME parity gates compact_version uses (row count +
    order-insensitive content checksum), computed in ONE grouped
    aggregate over the chain and the rewritten dir (_chain_fold_parity)
    — the fold's job count does not grow with the chain's length. On
    mismatch the pointer is rolled back and the bad dir dropped — the
    chain was never touched. Returns the compact_version-shaped stats
    dict plus the folded chain.

    ``partition_by`` defaults to the NEWEST data dir's detected hive
    layout (ADVICE r12: a plain rewrite of a band-/kind-partitioned
    index silently dropped the layout and with it the file-level
    partition pruning the probe paths rely on). ``writer_options``
    passes parquet writer knobs to the folded version's write — the
    same hazard class: a fold of an index written at 4 MB row groups
    (dedup.py::_INDEX_BLOCK_BYTES) would otherwise rewrite at the
    128 MB default and silently discard the point-lookup granularity
    the append's pushed-key pruning relies on."""
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no published version at {root!r}")
    dirs = [d for d in chain_versions(root) if _has_data(root, d)]
    if partition_by is None and dirs:
        partition_by = _detect_partition_cols(root, dirs[0]) or None
    files_before, bytes_before = 0, 0
    for d in dirs:
        f, b = _tree_parquet_stats(os.path.join(root, d))
        files_before += f
        bytes_before += b
    n_out = max(1, math.ceil(bytes_before / target_bytes))
    chain = read_current_chain(spark, root)
    # fold the chain's idempotency tags forward — compaction must not
    # reopen the at-least-once replay window for already-accepted
    # batches (their data survives in the folded version; so must the
    # markers that say so)
    folded_tags = chain_tags(root)
    if partition_by:
        new_v = write_version(
            chain.repartition(n_out, *partition_by), root,
            partition_by=partition_by, tags=folded_tags,
            writer_options=writer_options,
        )
    else:
        new_v = write_version(
            chain, root, n_files=n_out, tags=folded_tags,
            writer_options=writer_options,
        )
    new_path = os.path.join(root, new_v)
    (rows_before, ck_before), (rows_after, ck_after) = _chain_fold_parity(
        chain, spark.read.schema(chain.schema).parquet(new_path)
    )
    if (rows_after, ck_after) != (rows_before, ck_before):
        _publish(root, cur)
        shutil.rmtree(new_path)
        raise RuntimeError(
            "chain compaction parity mismatch: "
            f"rows {rows_before} -> {rows_after}, "
            f"checksum {ck_before} -> {ck_after}"
        )
    files_after, _ = _tree_parquet_stats(new_path)
    return {
        "files_before": files_before,
        "bytes_before": bytes_before,
        "files_after": files_after,
        "rows": rows_before,
        "version": new_v,
        "folded_chain": dirs,
    }


def _chain_fold_parity(
    chain: DataFrame, folded: DataFrame
) -> tuple[tuple[int, int], tuple[int, int]]:
    """(rows, checksum) of the old chain and of its folded rewrite, from
    ONE grouped aggregate over their union — the _content_checksum
    checksum, with both sides hashed in the chain's column order.
    ``folded`` must be read under ``chain.schema`` so no footer
    inference runs; a side with no rows reports (0, 0)."""
    cols = chain.columns
    both = chain.withColumn("_side", F.lit(0)).unionByName(
        folded.select(*cols).withColumn("_side", F.lit(1))
    )
    got = {
        r["_side"]: (int(r["n"]), int(r["ck"] or 0))
        for r in both.groupBy("_side").agg(*content_checksum_aggs(cols)).collect()
    }
    return got.get(0, (0, 0)), got.get(1, (0, 0))
