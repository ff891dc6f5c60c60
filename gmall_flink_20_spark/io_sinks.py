"""Sinks and the persisted-index storage layer (SURVEY §2.12 noted the
reference has none beyond print/Redis; these are the production-shaped
equivalents).

- batch: partitioned/bucketed parquet writers (the physical layout knobs
  that make 100 TB re-reads cheap: partition pruning + co-located joins)
- streaming: a foreachBatch fan-out that routes a discriminated union
  (side-output column, SURVEY §2.9) to multiple destinations in one pass
- index storage, shared by every persisted-index family (IVF, IVF-PQ,
  OPQ, LSH, phash): each family declares its LAYOUT once — a dict from
  frame name to that frame's hive partition column, None for an
  unpartitioned frame — and this module owns everything else. Appends
  are atomic, token-idempotent segments (``append_segment``); readers
  fold the live segments in and restore a crashed swap on the way
  (``read_with_segments``); one full compaction (``compact_index``)
  and one incremental compaction (``compact_index_incremental``) serve
  every layout, fenced by the single-writer maintenance lease.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

__all__ = [
    "run_concurrently",
    "write_partitioned",
    "write_bucketed",
    "write_zordered",
    "compact_small_files",
    "heal_missing_src",
    "heal_compaction_site",
    "maintenance_lease",
    "acquire_maintenance_lease",
    "release_maintenance_lease",
    "MaintenanceLeaseHeld",
    "side_output_fanout",
    "stage_segment_dir",
    "commit_segment",
    "token_seen",
    "append_segment",
    "absorbed_tokens",
    "committed_segments",
    "read_with_segments",
    "read_segments_pinned",
    "merge_segment_frames",
    "superseded_tokens",
    "purge_stale_stage_dirs",
    "cell_fragment_counts",
    "compact_cells_incremental",
    "heal_missing_cells",
    "compact_index",
    "compact_index_incremental",
]

# Compaction-swap naming convention of the full compactor
# (compact_index): the rewrite lands in <src>_compacting, then
# swap_compacted renames <src> -> <src>_pre_compact and
# <src>_compacting -> <src> back-to-back.
_PRE_SUFFIX = "_pre_compact"
_TMP_SUFFIX = "_compacting"


def run_concurrently(*thunks):
    """Run independent Spark actions from a small driver thread pool
    (optimization guide §2.6 "overlap independent jobs"): Spark's
    scheduler happily runs several jobs at once inside one application —
    actions are only sequential because driver code calls them
    sequentially. The index-lifecycle entries are sequences of small
    independent jobs (per-batch segment appends, per-frame rewrites)
    whose cost is dominated by the per-job scheduling/commit floor, so
    overlapping them converts N job floors into ~1. Each thunk must be
    independent (separate output dirs / no ordering contract). Returns
    the thunks' results in order; the first exception propagates after
    all threads finish (no half-submitted state left behind)."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from py4j.clientserver import ClientServer
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    # inheritable_thread_target propagates the driver thread's JVM-local
    # properties (job description/group/tags) into pool threads — the
    # documented PySpark idiom for concurrent driver-side job submission.
    # It only wraps in pinned-thread mode (a ClientServer gateway); with
    # PYSPARK_PIN_THREAD=false it returns its argument unchanged, so
    # wrapping the session would hand back the session, not a decorator.
    session = SparkSession.getActiveSession()
    if not isinstance(SparkContext._gateway, ClientServer):
        def wrap(t):
            return t
    elif session is not None:
        wrap = inheritable_thread_target(session)
    else:
        wrap = inheritable_thread_target
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futs]


def swap_compacted(src: str, fail_between_renames: bool = False) -> None:
    """Commit a compacted rewrite: swap ``<src>_compacting`` into place.

    Two renames with NO work between them keep the src-absent window as
    narrow as the OS allows; both crash states the window leaves behind
    are self-healing (``heal_missing_src`` / ``heal_compaction_site``),
    so the documented manual recovery of VERDICT r9 is now code.
    ``fail_between_renames`` is the FAULT-INJECTION hook the recovery
    entries/tests use: it raises after the first rename, producing
    exactly the half-swapped layout a real crash would.
    """
    import os
    import shutil

    old = src + _PRE_SUFFIX
    tmp = src + _TMP_SUFFIX
    os.rename(src, old)
    if fail_between_renames:
        raise InterruptedCompaction(src)
    os.rename(tmp, src)
    shutil.rmtree(old)


class InterruptedCompaction(RuntimeError):
    """Raised by the fault-injection hook to simulate a crash between
    the two swap renames (the layout is left half-swapped on purpose)."""


def heal_missing_src(src: str) -> bool:
    """READER-side crash recovery, restore-only: if ``src`` is absent
    but ``<src>_pre_compact`` exists, a compactor died between its two
    renames — rename the intact original back and return True.

    Deliberately does NOT delete ``<src>_compacting`` or a stale
    ``_pre_compact`` next to a live ``src``: a reader cannot tell a
    crashed compactor from a RUNNING one, and deleting its work dir
    would race it. Destructive cleanup belongs to the single writer
    (``heal_compaction_site``, called by the compactors themselves).
    """
    import os

    pre = src + _PRE_SUFFIX
    if not os.path.exists(src) and os.path.isdir(pre):
        os.rename(pre, src)
        return True
    return False


def heal_compaction_site(src: str) -> None:
    """WRITER-side crash recovery, run by a compactor before it starts
    (single-writer contract — no other compactor can be live):

    - src absent + ``_pre_compact`` present → crash between renames:
      restore the original;
    - src present + ``_pre_compact`` present → crash after the swap,
      before cleanup: the compacted copy is committed, drop the stale
      original;
    - any leftover ``_compacting`` → an uncommitted rewrite from a
      crashed run: drop it (this compactor is about to redo it).
    """
    import os
    import shutil

    heal_missing_src(src)
    pre = src + _PRE_SUFFIX
    tmp = src + _TMP_SUFFIX
    if os.path.exists(src) and os.path.isdir(pre):
        shutil.rmtree(pre)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)


# ------------------------------------------------------- writer fencing
#
# The single-writer MAINTENANCE contract (compactor-vs-compactor,
# compactor-vs-purge) was documentation until round 13 (VERDICT r12
# item 5); this lease makes it mechanical. One O_CREAT|O_EXCL file at
# the index root is the mutual exclusion: atomic on POSIX (and on any
# DFS exposing create-if-absent — on a real cluster the same epoch
# record would live in the metastore/ZK/DynamoDB, the Delta/Iceberg
# commit-service shape). The lease carries (host, pid, epoch, op);
# a second maintenance writer fails FAST with the holder named instead
# of racing the two-rename swap. Crash liveness: a lease whose holder
# pid is dead ON THE SAME HOST is reclaimed automatically (the epoch
# increments, so a zombie of the old writer that wakes later can
# detect it lost the fence); a foreign-host lease is never reclaimed
# automatically — that decision needs an operator (``force=True``).
# Appends do NOT take the lease: concurrent appends are proven
# collision-free (unique tokens) and only maintenance requires
# exclusivity.

_LEASE_NAME = "_maintenance_lease"
_EPOCH_NAME = "_maintenance_epoch"


class MaintenanceLeaseHeld(RuntimeError):
    """A maintenance writer is already fenced in at this index root."""


def _lease_path(root: str) -> str:
    import os

    return os.path.join(root, _LEASE_NAME)


def _read_epoch(root: str) -> int:
    import os

    try:
        with open(os.path.join(root, _EPOCH_NAME)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


def _write_epoch(root: str, epoch: int) -> None:
    import os

    tmp = os.path.join(root, f".{_EPOCH_NAME}.tmp")
    with open(tmp, "w") as f:
        f.write(f"{epoch}\n")
    os.rename(tmp, os.path.join(root, _EPOCH_NAME))


def _read_lease(path: str) -> dict:
    try:
        with open(path) as f:
            parts = f.read().strip().split("\t")
        return {"host": parts[0], "pid": int(parts[1]), "epoch": int(parts[2]),
                "op": parts[3] if len(parts) > 3 else "?"}
    except (OSError, IndexError, ValueError):
        return {"host": "?", "pid": -1, "epoch": 0, "op": "?"}


def _pid_alive(pid: int) -> bool:
    import os

    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def acquire_maintenance_lease(root: str, op: str = "maintenance", force: bool = False) -> int:
    """Fence in as THE maintenance writer for ``root``. Returns the new
    lease epoch. Raises :class:`MaintenanceLeaseHeld` (naming the
    holder) if a live writer holds the lease. A same-host lease whose
    pid is dead is reclaimed automatically; ``force=True`` additionally
    breaks foreign-host or live leases (operator override)."""
    import os
    import socket

    path = _lease_path(root)
    os.makedirs(root, exist_ok=True)
    host = socket.gethostname()
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            cur = _read_lease(path)
            stale = cur["host"] == host and not _pid_alive(cur["pid"])
            if not (stale or force):
                raise MaintenanceLeaseHeld(
                    f"maintenance lease at {root} held by "
                    f"{cur['host']}:{cur['pid']} (op={cur['op']}, "
                    f"epoch={cur['epoch']}); a second maintenance writer "
                    "must not race the swap — wait, or force=True after "
                    "confirming the holder is dead"
                )
            # the reclaimed holder's epoch survives into the durable
            # counter so the next epoch strictly exceeds it (a zombie of
            # the old writer can detect it lost the fence)
            if cur["epoch"] > _read_epoch(root):
                _write_epoch(root, cur["epoch"])
            os.unlink(path)
            continue
        epoch = _read_epoch(root) + 1
        with os.fdopen(fd, "w") as f:
            f.write(f"{host}\t{os.getpid()}\t{epoch}\t{op}\n")
        # durable monotonic counter — survives release/unlink
        _write_epoch(root, epoch)
        return epoch
    raise MaintenanceLeaseHeld(f"lease at {root} contended while reclaiming")


def release_maintenance_lease(root: str) -> None:
    """Release the fence. Only the holder should call this; releasing an
    already-released lease is a no-op (idempotent cleanup paths)."""
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.unlink(_lease_path(root))


class maintenance_lease:
    """Context manager: ``with maintenance_lease(root, 'compact'):`` —
    the compactors/purgers wrap their whole read-rewrite-swap span in
    this so a concurrent maintenance writer fails fast at entry."""

    def __init__(self, root: str, op: str = "maintenance", force: bool = False):
        self.root, self.op, self.force = root, op, force
        self.epoch: int | None = None

    def __enter__(self) -> "maintenance_lease":
        self.epoch = acquire_maintenance_lease(self.root, self.op, self.force)
        return self

    def __exit__(self, *exc) -> None:
        release_maintenance_lease(self.root)


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet: downstream filters on ``partition_by`` become
    directory pruning instead of data scans."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table: joins/aggregations on the bucket key skip their
    shuffle entirely when both sides share the bucketing."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet (the Delta/Iceberg ``OPTIMIZE ZORDER BY``
    write, here as a first-class sink): Morton-interleave the two key
    columns, ``repartitionByRange`` on the z-value so each output file
    owns a contiguous z-range — a small bounding box in BOTH dimensions
    — then sort within each file so row groups are tight too. Parquet
    footer min/max stats on either column then prune a two-predicate
    scan without any manual partitioning.

    The range partitioner samples the z distribution, so the sort is
    distributed (no global single-task sort); the z column itself is
    dropped from the output — it's a layout key, not data.
    """
    from .operators.layout import zvalue
    from pyspark.sql import functions as F

    z = zvalue(F.col(x_col), F.col(y_col), bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
    n_files: int | None = None,
    df: DataFrame | None = None,
) -> int:
    """Small-file compaction — the maintenance pass every long-running
    ingest needs: streaming/micro-batch writers leave thousands of tiny
    files whose per-file open/footer overhead dominates rescans and
    whose listing stalls the driver. Reads the source directory, sizes
    the output file count from the ACTUAL on-disk bytes (not row counts,
    which mispredict after compression), and rewrites coalesced.

    Returns the output file count. Uses ``coalesce`` (narrow — no
    shuffle: input splits are concatenated into fewer write tasks);
    callers that also want clustering should use ``write_zordered``
    instead, which pays the shuffle for layout. On a filesystem where
    the size probe isn't local (object stores), pass ``n_files``
    explicitly — sizing policy belongs to the caller there.
    """
    import os

    # callers may hand a pre-built frame (e.g. a segment-aware union
    # whose inputs extend past src_path); sizing still reads the actual
    # on-disk bytes of whatever the frame scans
    if df is None:
        df = spark.read.parquet(src_path)
    if n_files is None:
        # on-disk bytes via the file index Spark already built for the scan
        total = 0
        for f in df.inputFiles():
            local = f[len("file:"):] if f.startswith("file:") else f
            if not os.path.exists(local):
                raise ValueError(
                    "compact_small_files: non-local input; pass n_files explicitly"
                )
            total += os.path.getsize(local)
        n_files = max(1, -(-total // int(target_file_bytes)))  # ceil div
    # coalesce can only REDUCE partition count: clamp so the returned
    # count matches what is actually written when the source has fewer
    # splits than the sizing formula asks for
    n_files = min(n_files, max(1, df.rdd.getNumPartitions()))
    df.coalesce(n_files).write.mode(mode).parquet(dst_path)
    return n_files


def side_output_fanout(
    stream: DataFrame,
    discriminator: str,
    routes: dict[str, Callable[[DataFrame, int], None]],
) -> DataStreamWriter:
    """Route a discriminated-union stream (side-output column, e.g.
    blacklist_stream's ``out_type``) to one handler per tag in a single
    pass per micro-batch — the Spark shape of Flink's OutputTag fan-out
    (AdClickApp.java:70-71)."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            for tag, fn in routes.items():
                fn(batch.filter(batch[discriminator] == tag), epoch_id)
        finally:
            batch.unpersist()

    return stream.writeStream.foreachBatch(handle)


# ---------------------------------------------------------------- segments
#
# The ONE append protocol of every persisted index (IVF, IVF-PQ, OPQ,
# LSH, phash): a plain parquet append publishes its files over a
# multi-file job commit, so a reader listing the directory mid-append
# could see a TORN view (some cells' new files, not others). Segments
# close that window with the Lucene/Iceberg move: the appender writes
# its whole delta under a hidden staging dir (`<root>/.stage_<token>` —
# dot-prefixed, invisible to readers), then publishes it with ONE
# os.rename to `<root>/seg_<token>`. POSIX rename is atomic, so at any
# instant a reader sees each segment fully or not at all — pre- or
# post-append, never torn.
#
# The token is also the append's identity (append_segment): one token
# per batch per writer, and re-running a token the index has already
# seen is a no-op that launches no Spark job. A foreachBatch that
# appends under its micro-batch id is therefore idempotent on retry by
# construction — there is never a duplicate row to collapse at read
# time.
#
# Readers fold committed segments in per FRAME (`postings`, `bands`,
# `shingles`, `hashes`, `codes`) via read_with_segments; each frame
# loads with its own basePath, so partition pruning on hive keys
# (list_id=, band_id=) survives the union. Compactors ABSORB segments:
# the compacted rewrite carries an `_absorbed` marker (underscore files
# are invisible to Spark's lister) naming the tokens it folded in —
# plus every token the frame had absorbed before, so a token stays seen
# after its segment is purged — and the marker rides the existing
# two-rename swap: a crash between the swap and the segment deletion
# leaves absorbed segments on disk but readers skip them (no double
# counting at any crash point), and the next maintenance pass purges
# them.

_SEG_PREFIX = "seg_"
_STAGE_PREFIX = ".stage_"
_ABSORBED = "_absorbed"


def stage_segment_dir(root: str, token: str) -> str:
    """Staging location for an in-flight append — invisible to readers
    (dot-prefixed; Spark's file lister also skips dot/underscore
    paths). The appender writes its frames UNDER this dir."""
    return f"{root}/{_STAGE_PREFIX}{token}"


def commit_segment(root: str, token: str) -> str:
    """Publish a staged append with one atomic rename. After this
    returns, every new reader listing sees the whole segment."""
    import os

    dst = f"{root}/{_SEG_PREFIX}{token}"
    os.rename(stage_segment_dir(root, token), dst)
    return dst


def absorbed_tokens(frame_dir: str) -> set[str]:
    """Tokens a full compaction folded into this live frame (its
    frame-level ``_absorbed`` marker)."""
    import os

    p = os.path.join(frame_dir, _ABSORBED)
    if not os.path.isfile(p):
        return set()
    with open(p) as f:
        return {line.strip() for line in f if line.strip()}


def token_seen(root: str, token: str, frames) -> bool:
    """Has the index at ``root`` already taken the append made under
    ``token``? True when its segment is committed, or a frame's
    ``_absorbed`` marker or a merged segment's ``_supersedes`` list
    names it (the segment was folded into the base and purged, or
    tier-merged away). Directory listings and marker reads only."""
    import os

    if os.path.isdir(f"{root}/{_SEG_PREFIX}{token}"):
        return True
    return any(
        token in absorbed_tokens(os.path.join(root, fr))
        or token in superseded_tokens(root, fr)
        for fr in frames
    )


def append_segment(
    root: str,
    token: str,
    frames: tuple[str, ...],
    stage: Callable[[str], None],
    commit: bool = True,
) -> bool:
    """Token-idempotent atomic append, shared by every index family.

    If the index has already seen ``token`` (:func:`token_seen` over
    ``frames``) this returns False before ``stage`` runs — no Spark
    job, no file touched. Otherwise ``stage(staging_dir)`` writes the
    family's frames under ``.stage_<token>`` (any leftover of a crashed
    attempt under the same token is dropped first) and one
    ``commit_segment`` rename publishes them; returns True.
    ``commit=False`` leaves the segment staged — invisible to readers —
    until ``commit_segment(root, token)`` publishes it (the two-phase /
    fault-injection hook)."""
    import shutil

    if token_seen(root, token, frames):
        return False
    dst = stage_segment_dir(root, token)
    shutil.rmtree(dst, ignore_errors=True)
    stage(dst)
    if commit:
        commit_segment(root, token)
    return True


_SUPERSEDES = "_supersedes"


def superseded_tokens(root: str, frame: str) -> set[str]:
    """Tokens whose copy of ``frame`` was tier-merged into a MERGED
    segment (``merge_segment_frames``): each merged segment's frame dir
    carries a ``_supersedes`` file naming its sources. Read from EVERY
    committed segment — including superseded or absorbed ones — so a
    merge-of-merges keeps the whole closure dead (dropping a superseded
    merged segment from the live set must not resurrect ITS sources)."""
    import os

    out: set[str] = set()
    try:
        names = os.listdir(root)
    except OSError:
        return out
    for name in names:
        if not name.startswith(_SEG_PREFIX):
            continue
        p = os.path.join(root, name, frame, _SUPERSEDES)
        if not os.path.isfile(p):
            continue
        with open(p) as f:
            out.update(line.strip() for line in f if line.strip())
    return out


def committed_segments(root: str, frame: str) -> list[tuple[str, str]]:
    """(token, frame_subdir) for every committed segment carrying this
    frame, excluding tokens the live frame has already absorbed and
    tokens a merged segment supersedes for this frame."""
    import os

    absorbed = absorbed_tokens(os.path.join(root, frame))
    dead = absorbed | superseded_tokens(root, frame)
    out: list[tuple[str, str]] = []
    try:
        names = sorted(os.listdir(root))
    except OSError:
        return out
    for name in names:
        if not name.startswith(_SEG_PREFIX):
            continue
        token = name[len(_SEG_PREFIX):]
        if token in dead:
            continue
        sub = os.path.join(root, name, frame)
        if os.path.isdir(sub):
            out.append((token, sub))
    return out


def _cell_absorbed_map(frame_dir: str) -> dict[str, set[str]]:
    """token -> set of live-frame CELL dirnames (``col=value``) whose
    copy of that token's rows the incremental compactor already folded
    into the base (cell-level ``_absorbed`` markers, written inside the
    rewritten cell dirs by ``compact_cells_incremental``). Readers must
    exclude these (token, cell) pairs from the segment branches or the
    folded rows would double-count."""
    import os

    out: dict[str, set[str]] = {}
    try:
        names = os.listdir(frame_dir)
    except OSError:
        return out
    for name in names:
        if "=" not in name or name.startswith((".", "_")):
            continue
        marker = os.path.join(frame_dir, name, _ABSORBED)
        if not os.path.isfile(marker):
            continue
        with open(marker) as f:
            for line in f:
                tok = line.strip()
                if tok:
                    out.setdefault(tok, set()).add(name)
    return out


def _cell_values(cells: set[str]) -> tuple[str, list]:
    """(partition_col, typed values) from hive cell dirnames. All cells
    of one frame share a single partition column by construction."""
    cols = {c.split("=", 1)[0] for c in cells}
    # data-integrity check: a mixed cell set would build a wrong
    # exclusion filter (double-count or drop rows) — must survive
    # python -O, so not an assert (ADVICE r12)
    if len(cols) != 1:
        raise ValueError(f"mixed partition columns in cell set: {cells}")
    col = next(iter(cols))
    vals = [c.split("=", 1)[1] for c in cells]
    try:
        return col, [int(v) for v in vals]
    except ValueError:
        return col, vals


def _has_data_files(d: str) -> bool:
    """Does ``d`` hold any parquet data file? A batch with no rows stages
    a partitioned frame as an empty dir, which Spark cannot read."""
    import os

    return any(
        f.endswith(".parquet") for _, _, files in os.walk(d) for f in files
    )


def _segment_branches(spark, root: str, frame: str, pairs) -> list[DataFrame]:
    """One frame per given (token, frame_subdir) segment branch, with
    the base frame's cell-level absorbed exclusions applied per branch;
    branches without data files (empty batches) are skipped."""
    from pyspark.sql import functions as F

    cell_abs = _cell_absorbed_map(f"{root}/{frame}")
    out = []
    for token, sub in pairs:
        if not _has_data_files(sub):
            continue
        seg = spark.read.parquet(sub)
        cells = cell_abs.get(token)
        if cells:
            # exclusion on the PARTITION column: still prunes per branch
            col, vals = _cell_values(cells)
            seg = seg.filter(~F.col(col).isin(vals))
        out.append(seg)
    return out


def _read_segments(spark, root: str, frame: str, pairs) -> DataFrame:
    """Base frame unioned with the given segment branches."""
    df = spark.read.parquet(f"{root}/{frame}")
    for seg in _segment_branches(spark, root, frame, pairs):
        df = df.unionByName(seg)
    return df


def read_with_segments(spark, root: str, frame: str) -> DataFrame:
    """The segment-aware reader: the base frame unioned with every
    committed, not-yet-absorbed segment's copy of it. Each load keeps
    its own FileIndex, so hive partition filters prune per branch; with
    no segments this is exactly the plain read plus a few listdirs.
    Cells the incremental compactor already folded into the base are
    excluded from their segment branches (cell-level markers), so no
    row is ever visible twice at any crash point.

    Reader-side crash recovery, restore-only, runs first: a compactor
    that died between the two renames of a frame swap or of a cell swap
    left the intact original under its parked name, and this reader
    renames it back (``heal_missing_src``, ``heal_missing_cells``).
    Destructive cleanup stays with the single-writer compactors."""
    frame_dir = f"{root}/{frame}"
    heal_missing_src(frame_dir)
    heal_missing_cells(frame_dir)
    return _read_segments(spark, root, frame, committed_segments(root, frame))


def read_segments_pinned(spark, root: str, frame: str, tokens: list[str]) -> DataFrame:
    """Segment-aware read over a PINNED token set — the compactor's
    input (ADVICE r11): the base frame unioned with EXACTLY these
    tokens' copies of the frame. The full compactors capture the token
    list once and both read and absorb precisely it, so a segment
    committed between the capture and the rewrite job is NEITHER folded
    in NOR marked absorbed — it simply stays a live segment for the
    next pass (no double count, no loss). NOTE: appends may run
    concurrently with each other and with readers, but compaction
    requires the appenders quiesced (single-writer maintenance)."""
    import os

    pairs = []
    for t in tokens:
        sub = os.path.join(root, f"{_SEG_PREFIX}{t}", frame)
        if os.path.isdir(sub):
            pairs.append((t, sub))
    return _read_segments(spark, root, frame, pairs)


def merge_segment_frames(
    spark, root: str, frame: str, min_segments: int = 2, target_files: int = 1
) -> str | None:
    """Lucene MINOR merge for a segment frame (VERDICT r12 item 8, built
    for the unpartitioned LSH shingles store): tier-merge the LIVE
    segment copies of ``frame`` into ONE merged segment — the base
    frame is never read or rewritten, so the pass is proportional to
    the DELTA (the segment bytes), not the corpus. The merged segment's
    frame dir carries a ``_supersedes`` file naming its sources; the
    single ``commit_segment`` rename publishes data + supersedes
    atomically, so at no crash point is a row visible twice (before the
    rename readers see the sources; after it, only the merge). Space
    reclaim of the superseded dirs rides the next FULL compact, whose
    absorbed marker closes over them (``superseded_tokens``). Cells a
    prior incremental pass already folded into the base are excluded
    per source branch, exactly as the segment-aware reader excludes
    them. No-op (returns None) below ``min_segments`` live segments.
    Caller must hold the maintenance lease — this is a maintenance
    writer like the compactors."""
    import hashlib
    import os

    from functools import reduce

    live = committed_segments(root, frame)
    if len(live) < min_segments:
        return None
    tokens = sorted(t for t, _ in live)
    # frame participates in the token: merging two frames over the same
    # source set must yield distinct segment names
    token = "m" + hashlib.sha1("|".join([frame, *tokens]).encode()).hexdigest()[:12]
    dst_frame = os.path.join(stage_segment_dir(root, token), frame)
    parts = _segment_branches(spark, root, frame, live)
    if parts:
        merged = reduce(lambda a, b: a.unionByName(b), parts)
        merged.coalesce(target_files).write.mode("overwrite").parquet(dst_frame)
    else:
        os.makedirs(dst_frame, exist_ok=True)
    with open(os.path.join(dst_frame, _SUPERSEDES), "w") as f:
        f.write("\n".join(tokens) + "\n")
    commit_segment(root, token)
    return token


def write_absorbed_marker(tmp_frame_dir: str, tokens: list[str]) -> None:
    """Record, INSIDE the compacted rewrite before it swaps live, which
    segment tokens it folded in — the marker and the data commit in the
    same rename."""
    import os

    if not tokens:
        return
    os.makedirs(tmp_frame_dir, exist_ok=True)
    with open(os.path.join(tmp_frame_dir, _ABSORBED), "w") as f:
        f.write("\n".join(sorted(tokens)) + "\n")


def purge_absorbed_segments(root: str, frames: list[str]) -> int:
    """Single-writer maintenance: delete segment dirs whose token is
    absorbed by EVERY frame listed (a multi-frame index absorbs bands
    and shingles in separate swaps; a segment may be deleted only once
    no frame still needs it). Returns the number purged."""
    import os
    import shutil

    absorbed_all: set[str] | None = None
    for frame in frames:
        toks = absorbed_tokens(os.path.join(root, frame))
        absorbed_all = toks if absorbed_all is None else (absorbed_all & toks)
    n = 0
    for token in sorted(absorbed_all or ()):
        seg = f"{root}/{_SEG_PREFIX}{token}"
        if os.path.isdir(seg):
            shutil.rmtree(seg)
            n += 1
    return n


def purge_stale_stage_dirs(root: str) -> int:
    """Single-writer maintenance (ADVICE r11): delete orphaned
    ``.stage_*`` dirs — a crash between the staged write and
    commit_segment, or a ``commit=False`` caller that never commits,
    leaves them forever (purge_absorbed_segments only removes ``seg_*``
    dirs). Deletion is unconditional because the contract serializes
    compaction/purge against appenders: concurrent APPENDS are allowed
    among themselves (unique tokens make their commits collision-free),
    but a maintenance pass requires the appenders quiesced — so any
    ``.stage_*`` visible here is crashed or abandoned, never in-flight.
    Returns the number purged."""
    import os
    import shutil

    n = 0
    try:
        names = sorted(os.listdir(root))
    except OSError:
        return 0
    for name in names:
        if name.startswith(_STAGE_PREFIX):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            n += 1
    return n


# ------------------------------------------------- incremental compaction
#
# Fragmented-cells-only compaction (VERDICT r11 item 2 — the Lucene
# move: merge fragmented segments, don't rewrite the index): the full
# compactors rewrite EVERY cell every pass, which at 100 TB turns a
# maintenance job into a full-index rewrite. The incremental pass
# counts data files per hive cell across the base frame and the
# unabsorbed segment branches, rewrites ONLY cells whose count exceeds
# the threshold, and leaves every other cell's files byte-identical
# (inode/mtime unchanged — tested). Absorption bookkeeping moves to
# CELL granularity: the rewritten cell dir carries an ``_absorbed``
# marker naming the tokens whose copy of THAT cell it folded in
# (underscore files are invisible to Spark's lister, so the marker
# rides inside the data dir and commits with the same rename). Readers
# exclude (token, cell) pairs named by these markers (see
# _read_segments), so at no crash point is a row visible twice. The
# per-cell swap reuses the two-rename shape of swap_compacted with
# dot-prefixed (Spark-invisible) pre/tmp names, and both crash states
# self-heal (heal_missing_cells reader-side restore; heal_cell_sites
# writer-side cleanup). Partially-absorbed segments stay on disk until
# a FULL compaction absorbs their remainder (frame-level marker
# supersedes cell-level ones because the rewrite replaces every cell
# dir) — space reclaim is the full pass's job, read-amplification
# control is this pass's.

_CELL_TMP = ".cellcompact_tmp"
_CELL_PRE_PREFIX = "."
_CELL_PRE_SUFFIX = ".pre"


def _is_cell_dir(name: str) -> bool:
    return "=" in name and not name.startswith((".", "_"))


def heal_missing_cells(frame_dir: str) -> int:
    """READER-side per-cell crash recovery, restore-only (the cell
    analog of heal_missing_src): an incremental compactor that died
    between its two renames for a cell leaves ``<frame>/.<cell>.pre``
    with the live cell dir absent — rename the intact original back.
    Never deletes anything (a reader cannot tell a crashed compactor
    from a running one). Returns the number restored."""
    import os

    n = 0
    try:
        names = os.listdir(frame_dir)
    except OSError:
        return 0
    for name in names:
        if not (name.startswith(_CELL_PRE_PREFIX) and name.endswith(_CELL_PRE_SUFFIX)):
            continue
        cell = name[len(_CELL_PRE_PREFIX):-len(_CELL_PRE_SUFFIX)]
        if not _is_cell_dir(cell):
            continue
        live = os.path.join(frame_dir, cell)
        if not os.path.exists(live):
            os.rename(os.path.join(frame_dir, name), live)
            n += 1
    return n


def heal_cell_sites(frame_dir: str) -> None:
    """WRITER-side per-cell crash recovery, run by the incremental
    compactor before it starts (single-writer contract): restore any
    half-swapped cell, then drop stale ``.<cell>.pre`` leftovers and an
    uncommitted ``.cellcompact_tmp`` from a crashed run."""
    import os
    import shutil

    heal_missing_cells(frame_dir)
    try:
        names = os.listdir(frame_dir)
    except OSError:
        return
    for name in names:
        p = os.path.join(frame_dir, name)
        if name == _CELL_TMP and os.path.isdir(p):
            shutil.rmtree(p)
        elif name.startswith(_CELL_PRE_PREFIX) and name.endswith(_CELL_PRE_SUFFIX):
            cell = name[len(_CELL_PRE_PREFIX):-len(_CELL_PRE_SUFFIX)]
            if _is_cell_dir(cell) and os.path.exists(os.path.join(frame_dir, cell)):
                shutil.rmtree(p)


def _cell_file_count(d: str) -> int:
    import os

    try:
        return sum(1 for fn in os.listdir(d) if fn.endswith(".parquet"))
    except OSError:
        return 0


def _cell_census(
    root: str, frame: str, pairs
) -> tuple[dict[str, int], dict[str, set[str]]]:
    """One walk over the base frame and the given segment branches:
    (data-file count per hive cell, segment tokens per cell), leaving
    out the (token, cell) pairs the cell-level markers say are already
    folded in. Directory listings only, never data."""
    import os

    base_dir = f"{root}/{frame}"
    cell_abs = _cell_absorbed_map(base_dir)
    counts: dict[str, int] = {}
    tokens: dict[str, set[str]] = {}

    def add(name: str, d: str) -> None:
        n = _cell_file_count(d)
        if n:
            counts[name] = counts.get(name, 0) + n

    try:
        for name in os.listdir(base_dir):
            if _is_cell_dir(name):
                add(name, os.path.join(base_dir, name))
    except OSError:
        pass
    for token, sub in pairs:
        try:
            names = os.listdir(sub)
        except OSError:
            continue
        for name in names:
            if not _is_cell_dir(name) or name in cell_abs.get(token, ()):
                continue
            tokens.setdefault(name, set()).add(token)
            add(name, os.path.join(sub, name))
    return counts, tokens


def cell_fragment_counts(root: str, frame: str) -> dict[str, int]:
    """Data-file count per hive cell (``col=value`` dirname) across the
    base frame and every committed, unabsorbed segment branch —
    excluding (token, cell) pairs the cell-level markers say are
    already folded in. This is the fragment census the incremental
    compactor sizes its victim set from; it reads directory listings
    only, never data."""
    return _cell_census(root, frame, committed_segments(root, frame))[0]


def compact_cells_incremental(
    spark,
    root: str,
    frame: str,
    max_fragments: int = 1,
    fail_after_first_rename_of: str | None = None,
) -> list[str]:
    """Rewrite ONLY the cells of ``<root>/<frame>`` whose fragment count
    exceeds ``max_fragments`` (base files + unabsorbed segment files),
    folding each victim cell's segment copies into the base under a
    cell-level absorbed marker; every non-victim cell's files are left
    byte-identical. Returns the victim cell dirnames (empty = nothing
    to do). ONE Spark job rewrites all victims (partition-pruned read,
    one shuffle on the partition key), then V two-rename swaps commit
    them cell-by-cell. ``fail_after_first_rename_of`` is the
    fault-injection hook: crash after renaming that cell's live dir
    away (the reader/writer heal paths cover it). Heals this frame's
    cell sites first; the root's stale ``.stage_*`` purge belongs to
    the caller (``compact_index_incremental``)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    base_dir = f"{root}/{frame}"
    heal_cell_sites(base_dir)
    # pin the token set ONCE (ADVICE r11): the census, the rewrite input
    # and the marker contents — a segment committed after this point
    # stays a live segment untouched by this pass
    pairs = committed_segments(root, frame)
    counts, tokens_by_cell = _cell_census(root, frame, pairs)
    victims = sorted(name for name, n in counts.items() if n > max_fragments)
    if not victims:
        return []
    col, vals = _cell_values(set(victims))

    df = _read_segments(spark, root, frame, pairs).filter(F.col(col).isin(vals))
    stage = os.path.join(base_dir, _CELL_TMP)
    if os.path.isdir(stage):
        shutil.rmtree(stage)
    write_partitioned(df.repartition(col), stage, [col])
    for cell in victims:
        staged_cell = os.path.join(stage, cell)
        # a victim whose visible rows are all-empty files still swaps
        # (to an empty cell dir) so its fragments actually collapse
        os.makedirs(staged_cell, exist_ok=True)
        live = os.path.join(base_dir, cell)
        # the new marker must PRESERVE tokens the old cell had already
        # absorbed: their segment copies may still be on disk, and
        # dropping them would re-include those rows
        old_absorbed = absorbed_tokens(live) if os.path.isdir(live) else set()
        write_absorbed_marker(
            staged_cell, sorted(tokens_by_cell.get(cell, set()) | old_absorbed)
        )
        pre = os.path.join(
            base_dir, f"{_CELL_PRE_PREFIX}{cell}{_CELL_PRE_SUFFIX}"
        )
        if os.path.isdir(live):
            os.rename(live, pre)
        if fail_after_first_rename_of == cell:
            raise InterruptedCompaction(live)
        os.rename(staged_cell, live)
        if os.path.isdir(pre):
            shutil.rmtree(pre)
    shutil.rmtree(stage, ignore_errors=True)
    return victims


# ------------------------------------------------------- maintenance core
#
# Every index family hands its layout — {frame: partition column or
# None} — to these two passes; no family carries maintenance code of
# its own. A PARTITIONED frame is rewritten as one file per hive cell
# (key shuffle + partitioned write); an UNPARTITIONED frame has no cells
# to be selective over, so the full pass size-compacts it
# (compact_small_files) and the incremental pass tier-merges its live
# segment copies (merge_segment_frames). compact_small_files and
# merge_segment_frames are called through this module's globals, so a
# test that swaps either one reaches the core.


def compact_index(
    spark, root: str, frames: dict, fail_between_renames: bool = False
) -> int:
    """Full compaction of the index at ``root`` — the maintenance pass a
    daily-ingest deployment schedules like a table OPTIMIZE: every
    append adds one segment with one file per touched cell, so a
    long-lived index accumulates appends×cells small files whose
    open/footer overhead comes to dominate scans. Folds every committed
    segment into each frame of ``frames`` and returns the final
    data-file count over all frames. Query results are INVARIANT (row
    sets unchanged; doubles round-trip parquet exactly) and the hive
    layout is preserved, so partition pruning is untouched.

    Under the maintenance lease (a second maintenance writer raises
    MaintenanceLeaseHeld instead of racing the swap):

    1. heal every frame's swap site (``heal_compaction_site``) and the
       cell sites of partitioned frames (``heal_cell_sites``), then
       purge segments a crashed earlier pass absorbed and orphaned
       ``.stage_*`` dirs (appenders are quiesced during maintenance, so
       nothing there is in flight);
    2. pin each frame's live tokens ONCE: each rewrite reads exactly its
       pinned set, so a segment committed after the pin is neither
       folded in nor marked absorbed — it stays live for the next pass;
    3. rewrite the frames concurrently into ``<frame>_compacting``;
    4. one by one in layout order, write the ``_absorbed`` marker into
       the rewrite and swap it live (``swap_compacted``) — the marker
       commits with its data in the same rename, so no reader ever
       counts an absorbed segment twice, and between two frame swaps
       each frame's view is still complete on its own; then purge the
       segments every frame has absorbed.

    The marker names the live tokens, the tokens merged segments
    supersede and the tokens earlier passes absorbed, over all frames,
    so an append re-running a purged segment's token stays a no-op.
    Every crash state the swaps can leave — half-swapped (frame absent,
    the intact original under ``<frame>_pre_compact``),
    swapped-but-uncleaned, or an uncommitted ``<frame>_compacting`` —
    is healed by the next compaction or, for the frame-absent state, by
    the next reader (``read_with_segments``); no data-loss window at
    any point. ``fail_between_renames`` injects a crash between the
    first frame's two swap renames (recovery entries and tests)."""
    from pathlib import Path

    with maintenance_lease(root, "compact"):
        for frame, col in frames.items():
            heal_compaction_site(f"{root}/{frame}")
            if col:
                heal_cell_sites(f"{root}/{frame}")
        purge_absorbed_segments(root, list(frames))
        purge_stale_stage_dirs(root)
        pinned = {fr: [t for t, _ in committed_segments(root, fr)] for fr in frames}
        absorb = set().union(*pinned.values())
        for fr in frames:
            absorb |= superseded_tokens(root, fr) | absorbed_tokens(f"{root}/{fr}")

        def rewrite(frame: str, col: str | None) -> None:
            src = f"{root}/{frame}"
            df = read_segments_pinned(spark, root, frame, pinned[frame])
            if col:
                write_partitioned(df.repartition(col), src + _TMP_SUFFIX, [col])
            else:
                compact_small_files(spark, src, src + _TMP_SUFFIX, df=df)

        run_concurrently(
            *(lambda fr=fr, col=col: rewrite(fr, col) for fr, col in frames.items())
        )
        for i, frame in enumerate(frames):
            src = f"{root}/{frame}"
            write_absorbed_marker(src + _TMP_SUFFIX, absorb)
            swap_compacted(src, fail_between_renames and i == 0)
        purge_absorbed_segments(root, list(frames))
        return sum(
            1 for fr in frames for _ in Path(f"{root}/{fr}").rglob("*.parquet")
        )


def compact_index_incremental(
    spark,
    root: str,
    frames: dict,
    max_fragments: int = 1,
    fail_after_first_rename_of: str | None = None,
) -> list[str]:
    """Delta-proportional maintenance of the index at ``root`` (the
    Lucene move: merge fragments, don't rewrite the index). Each
    partitioned frame rewrites ONLY the cells whose data-file count
    across base + unabsorbed segments exceeds ``max_fragments``
    (``compact_cells_incremental``); every other cell's files stay
    byte-identical. Each unpartitioned frame tier-merges its live
    segment copies into one merged segment once there are more than
    ``max_fragments`` of them (``merge_segment_frames``); its base is
    never read or rewritten. Space reclaim and base defragmentation stay
    with ``compact_index``. Query results are invariant at every crash
    point (markers and supersedes lists commit with their renames).

    Under the maintenance lease, the stale ``.stage_*`` purge runs once
    up front, then the per-frame passes — which touch disjoint frames —
    run concurrently, so no purge races a merge's in-flight staging
    dir. ``fail_after_first_rename_of`` names a cell whose swap crashes
    after its first rename (recovery entries and tests). Returns the
    rewritten cell dirnames of the partitioned frames."""
    with maintenance_lease(root, "compact_incremental"):
        purge_stale_stage_dirs(root)

        def compact(frame: str, col: str | None) -> list[str]:
            if col:
                return compact_cells_incremental(
                    spark, root, frame, max_fragments, fail_after_first_rename_of
                )
            merge_segment_frames(spark, root, frame, min_segments=max_fragments + 1)
            return []

        per_frame = run_concurrently(
            *(lambda fr=fr, col=col: compact(fr, col) for fr, col in frames.items())
        )
        return [cell for cells in per_frame for cell in cells]
