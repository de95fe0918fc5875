"""Table catalog — the single swap point between the manifest-committed
parquet layout used in this sandbox and a real Iceberg catalog.

Every index artifact goes through these functions; nothing else in the
engine touches storage paths. With an Iceberg runtime on the cluster,
``write_table``/``read_table`` become ``df.writeTo(name).append()`` /
``spark.table(name)`` and commits are Iceberg snapshot commits; the
layout contract (partition column, atomic per-partition visibility) is
identical.

Atomicity model (the stand-in's Iceberg-manifest analog):

* every write lands in a fresh generation directory
  ``<table>/gen-<id>/`` — data files are INVISIBLE until published;
* publication is ONE atomic ``os.rename`` of the manifest file
  (``_manifest.json``), which maps each live partition (or the live
  dir list, for unpartitioned tables) to its generation;
* readers resolve the manifest and read only listed paths, so a torn
  write (crash after data files, before the rename) is simply never
  seen — proven by tests/test_resume.py::test_torn_write_invisible;
* partition deletion (``delete_partitions``) publishes a manifest
  without the dropped entries — no physical delete on the commit path,
  orphan generations are GC'd out-of-band, exactly Iceberg's
  delete-files model.

Per-partition replacement stays idempotent: rewriting bucket b points
its manifest entry at the new generation; content is a pure function of
the input, so re-running a wave republishes byte-identical data.
"""

from __future__ import annotations

import contextlib
import errno
import json
import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"
LOCKFILE = "_manifest.lock"

# A lock older than this is presumed abandoned (crashed writer) and is
# broken; commits hold the lock for milliseconds, so 60 s is far above
# any live commit window.
_LOCK_STALE_S = 60.0
_LOCK_TIMEOUT_S = 30.0


@contextlib.contextmanager
def _writer_lock(root: str, name: str):
    """Single-writer-per-table exclusion for the manifest
    read-modify-publish. Without it, two concurrent writers (e.g.
    stream_index_ingest plus a manual build) both read the old manifest
    and the second publish silently drops the first's repoints — the
    atomic rename protects READERS only. O_CREAT|O_EXCL is atomic on a
    local/POSIX FS; the Iceberg swap point replaces this with the
    catalog's optimistic snapshot CAS (commit fails and retries on
    conflicting snapshot), same contract."""
    tp = table_path(root, name)
    os.makedirs(tp, exist_ok=True)
    lock = os.path.join(tp, LOCKFILE)
    deadline = time.monotonic() + _LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            break
        except OSError as e:
            if e.errno != errno.EEXIST:
                raise
            try:
                stale = time.time() - os.path.getmtime(lock) > _LOCK_STALE_S
            except OSError:
                continue  # holder released between create-fail and stat
            if stale:
                _break_stale_lock(lock)
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"writer lock on table {name} held past "
                    f"{_LOCK_TIMEOUT_S}s — concurrent writer stuck?"
                ) from None
            time.sleep(0.05)
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.remove(lock)


def _break_stale_lock(lock: str) -> None:
    """Break an abandoned lock under a breaker mutex. A bare
    stat-then-remove is racy: between a waiter's staleness check and
    its remove, another waiter can break the same stale lock AND
    acquire a fresh one — the first waiter would then delete the LIVE
    lock and two writers enter the critical section. The breaker file
    (O_CREAT|O_EXCL) serializes breakers, and the staleness re-check
    under it sees any freshly-acquired lock as young and leaves it
    alone. A breaker abandoned by a crash is itself stale-broken the
    same way."""
    breaker = lock + ".breaker"
    try:
        fd = os.open(breaker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except OSError as e:
        if e.errno == errno.EEXIST:
            with contextlib.suppress(OSError):
                if time.time() - os.path.getmtime(breaker) > _LOCK_STALE_S:
                    os.remove(breaker)
            return  # another breaker is (or was) at work; caller retries
        raise
    try:
        os.close(fd)
        with contextlib.suppress(OSError):
            if time.time() - os.path.getmtime(lock) > _LOCK_STALE_S:
                os.remove(lock)
    finally:
        with contextlib.suppress(OSError):
            os.remove(breaker)


def table_path(root: str, name: str) -> str:
    return os.path.join(root, name)


def _manifest_path(root: str, name: str) -> str:
    return os.path.join(table_path(root, name), MANIFEST)


def _read_manifest(root: str, name: str) -> dict | None:
    p = _manifest_path(root, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


SNAPSHOT_DIR = "_snapshots"


def _snap_dir(tp: str) -> str:
    return os.path.join(tp, SNAPSHOT_DIR)


def _snap_seqs(tp: str) -> list[int]:
    sd = _snap_dir(tp)
    if not os.path.isdir(sd):
        return []
    out = []
    for f in os.listdir(sd):
        if f.startswith("manifest-") and f.endswith(".json"):
            out.append(int(f[len("manifest-"):-len(".json")]))
    return sorted(out)


def _publish(root: str, name: str, manifest: dict) -> None:
    """The one atomic step: manifest tmp-write + rename. Every publish
    also archives an immutable numbered copy under ``_snapshots/`` —
    the Iceberg snapshot log — enabling ``read_table(as_of=seq)`` time
    travel until ``vacuum`` prunes it. Archive lands BEFORE the
    pointer swap: a crash between the two leaves an orphan archive
    (harmless, superseded by the next publish's seq) — never a current
    manifest missing its snapshot. Callers hold the writer lock, so
    seq assignment is race-free."""
    tp = table_path(root, name)
    sd = _snap_dir(tp)
    os.makedirs(sd, exist_ok=True)
    seq = (max(_snap_seqs(tp), default=0)) + 1
    manifest = dict(manifest, seq=seq, ts=time.time())
    blob = json.dumps(manifest)
    snap_tmp = os.path.join(sd, f".tmp-{uuid.uuid4().hex}")
    with open(snap_tmp, "w") as f:
        f.write(blob)
    os.replace(snap_tmp, os.path.join(sd, f"manifest-{seq:08d}.json"))
    p = _manifest_path(root, name)
    tmp = p + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(blob)
    os.replace(tmp, p)


def snapshots(root: str, name: str) -> list[dict]:
    """Snapshot log, oldest first: [{seq, ts, kind}] — Iceberg's
    table-history listing."""
    tp = table_path(root, name)
    out = []
    for seq in _snap_seqs(tp):
        m = _read_snapshot(root, name, seq)
        if m is not None:
            out.append(
                {
                    "seq": seq,
                    "ts": m.get("ts"),
                    "kind": "partitioned" if "partitions" in m else "dirs",
                }
            )
    return out


def snapshot_as_of_ts(root: str, name: str, ts: float) -> int | None:
    """Largest snapshot seq published at or before wall-clock ``ts`` —
    Iceberg's timestamp time travel. Cross-table consistency note: a
    reader picking ONE ts and resolving several tables with it sees
    each table as it stood at that instant; the index build commits
    stats after the last postings wave, so any ts between builds
    resolves a matching (postings, stats) pair."""
    best = None
    for s in snapshots(root, name):
        if s["ts"] is not None and s["ts"] <= ts:
            best = s["seq"]
    return best


def _read_snapshot(root: str, name: str, seq: int) -> dict | None:
    p = os.path.join(_snap_dir(table_path(root, name)), f"manifest-{seq:08d}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_table(
    df: DataFrame,
    root: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    claim_partitions: list | None = None,
    meta: dict | None = None,
) -> None:
    """Write df into a fresh generation dir, then atomically publish.

    mode='overwrite' + partition_by: dynamic-partition semantics — only
    partitions present in df are repointed, others keep their old
    generation. mode='overwrite' without partition_by: the whole table
    repoints to the new generation. mode='append': the new generation
    joins the live dir list (unpartitioned tables only).

    claim_partitions (partitioned overwrite only): partition values
    this write is RESPONSIBLE for. Claimed values the data write did
    not produce (e.g. a bucket whose docs now all tokenize empty — zero
    posting rows, no bucket= dir) are dropped from the manifest in the
    SAME atomic publish, so a rebuild-to-empty can never leave a stale
    old-generation partition being served. Iceberg analog: the
    overwrite's delete-files covering the claimed predicate.

    The manifest read-modify-publish runs under the per-table writer
    lock — concurrent writers serialize instead of silently dropping
    each other's repoints.

    meta: small JSON facts published with this write's manifest and
    read back by table_meta, e.g. the snapshot of another table that a
    derived artifact was computed from (whole-table overwrites)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"catalog supports overwrite/append, not {mode!r}")
    if partition_by and mode == "append":
        raise ValueError("append to a partitioned table is not supported")
    tp = table_path(root, name)
    os.makedirs(tp, exist_ok=True)
    gen = f"gen-{time.time_ns():x}-{uuid.uuid4().hex[:8]}"
    gen_path = os.path.join(tp, gen)
    w = df.write.mode("overwrite")
    if partition_by:
        if len(partition_by) != 1:
            raise ValueError("catalog supports a single partition column")
        w = w.partitionBy(*partition_by)
    w.parquet(gen_path)

    with _writer_lock(root, name):
        old = _read_manifest(root, name)
        if partition_by:
            pcol = partition_by[0]
            new_parts = {}
            for d in os.listdir(gen_path):
                if d.startswith(f"{pcol}="):
                    new_parts[d.split("=", 1)[1]] = f"{gen}/{d}"
            parts = dict((old or {}).get("partitions", {}))
            if claim_partitions is not None:
                for v in claim_partitions:
                    if str(v) not in new_parts:
                        parts.pop(str(v), None)
            parts.update(new_parts)
            _publish(root, name, {"partition_col": pcol, "partitions": parts})
        else:
            if mode == "append":
                if old is not None:
                    dirs = list(old.get("dirs", [])) + [gen]
                elif _legacy_files(tp):
                    # adopt a pre-manifest corpus in the same commit:
                    # hardlink its data files into an adoption
                    # generation, publish it alongside the new one. A
                    # crash mid-adoption leaves the manifest unpublished
                    # and the links invisible — readers keep the legacy
                    # view; after publish, reads resolve the manifest
                    # only (root files become shadowed duplicates of the
                    # same inodes, zero extra space, swept by no one by
                    # design).
                    dirs = [_adopt_legacy(tp), gen]
                else:
                    dirs = [gen]
            else:
                dirs = [gen]
            _publish(
                root, name, {"dirs": dirs, **({"meta": meta} if meta else {})}
            )


def _adopt_legacy(tp: str) -> str:
    """Hardlink a legacy (pre-manifest) table's plain data files into a
    fresh generation dir and return its name — the migration half of
    appending to a corpus the previous release wrote directly."""
    if os.path.isfile(tp):
        raise ValueError(
            f"{tp} is a single parquet FILE — a file cannot become a"
            " manifest table dir; copy it into a directory first"
        )
    adopt = f"gen-{time.time_ns():x}-adopt"
    adopt_path = os.path.join(tp, adopt)
    os.makedirs(adopt_path, exist_ok=True)
    for f in os.listdir(tp):
        if f.startswith(("gen-", "_", ".")):
            continue
        src = os.path.join(tp, f)
        if os.path.isfile(src):
            with contextlib.suppress(FileExistsError):
                os.link(src, os.path.join(adopt_path, f))
    return adopt


def _legacy_files(tp: str) -> bool:
    """True iff the path holds plain parquet written OUTSIDE the
    manifest protocol (pre-manifest layout): either a bare parquet file
    (driver testdata ships single-file tables) or a directory of part
    files. Unpublished ``gen-*`` dirs do NOT count — a torn first write
    must stay invisible."""
    if os.path.isfile(tp):
        return True
    if not os.path.isdir(tp):
        return False
    return any(
        not f.startswith(("gen-", "_", ".")) for f in os.listdir(tp)
    )


def read_table(
    spark: SparkSession, root: str, name: str, as_of: int | None = None
) -> DataFrame:
    """Read the table's current published state, or — with ``as_of`` —
    the immutable state as of snapshot ``seq`` (see :func:`snapshots`):
    Iceberg's snapshot-id time travel. A time-travel read whose
    snapshot has been vacuumed away raises FileNotFoundError cleanly
    (the archive file is pruned together with its generations)."""
    if as_of is not None:
        m = _read_snapshot(root, name, as_of)
        if m is None:
            raise FileNotFoundError(
                f"table {name} has no snapshot seq={as_of}"
                " (never published or vacuumed away)"
            )
    else:
        m = _read_manifest(root, name)
    tp = table_path(root, name)
    if m is None:
        if _legacy_files(tp):
            # legacy/no-manifest directory: plain parquet read
            return spark.read.parquet(tp)
        raise FileNotFoundError(
            f"table {name} has no published manifest (a torn first write"
            " is invisible by design)"
        )
    if "partitions" in m:
        # group live partitions by generation so each read keeps its
        # basePath (partition column inferred from the dir name)
        by_gen: dict[str, list[str]] = {}
        for rel in m["partitions"].values():
            gen, part = rel.split("/", 1)
            by_gen.setdefault(gen, []).append(part)
        frames = [
            spark.read.option("basePath", os.path.join(tp, gen)).parquet(
                *[os.path.join(tp, gen, p) for p in sorted(parts)]
            )
            for gen, parts in sorted(by_gen.items())
        ]
    else:
        # ONE multi-path relation, not a unionByName chain: an appending
        # stream adds a generation per micro-batch, and a chain of N
        # parquet relations makes every later read plan O(N) relations
        # (O(N^2) planning across a run) — a single read scales as one
        # file listing
        if not m["dirs"]:
            raise FileNotFoundError(f"table {name} has no live data")
        return spark.read.parquet(*[os.path.join(tp, d) for d in m["dirs"]])
    if not frames:
        raise FileNotFoundError(f"table {name} has no live data")
    # allowMissingColumns = add-column schema evolution (Iceberg's
    # compatible evolution): a generation written after a column was
    # added unions with older generations, which read NULL for it
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def compact_table(
    spark: SparkSession, root: str, name: str, min_dirs: int = 2
) -> bool:
    """Rewrite an unpartitioned table's live generation dirs into ONE
    fresh generation and publish it — the maintenance half of
    streaming append (one generation lands per micro-batch; compaction
    bounds the file listing a reader pays). No-op below ``min_dirs``.
    Readers are never torn: the rewrite lands invisible, the publish is
    the usual atomic manifest swap, and superseded generations go to
    ``vacuum``. Iceberg analog: rewrite_data_files + snapshot commit.

    Runs the data rewrite under the writer lock (unlike write_table,
    which only locks the manifest step) — compaction must not race an
    append or it would publish a manifest missing the appended
    generation."""
    with _writer_lock(root, name):
        m = _read_manifest(root, name)
        if m is None or "dirs" not in m or len(m["dirs"]) < min_dirs:
            return False
        tp = table_path(root, name)
        df = spark.read.parquet(*[os.path.join(tp, d) for d in m["dirs"]])
        gen = f"gen-{time.time_ns():x}-compact"
        df.write.mode("overwrite").parquet(os.path.join(tp, gen))
        _publish(root, name, {"dirs": [gen]})
    return True


def delete_partitions(root: str, name: str, values: list) -> None:
    """Publish a manifest without the given partition values — the
    atomic delete-files commit; data files are left for out-of-band GC."""
    with _writer_lock(root, name):
        m = _read_manifest(root, name)
        if m is None or "partitions" not in m:
            return
        drop = {str(v) for v in values}
        m["partitions"] = {
            k: v for k, v in m["partitions"].items() if k not in drop
        }
        _publish(root, name, m)


def vacuum(
    root: str,
    name: str,
    min_age_s: float = 3600.0,
    keep_snapshots: int = 0,
) -> list[str]:
    """Out-of-band GC: delete generation dirs (and stale manifest
    tmp files) no longer referenced by the published manifest.

    Safe for READERS at any time (they resolve the manifest first, and
    a once-referenced generation can never become referenced again) —
    but an IN-FLIGHT write_table has an unreferenced generation between
    its data write and its manifest publish, so vacuum skips anything
    younger than ``min_age_s`` (default 1h, far above any commit
    window). Run with min_age_s=0 only under external writer exclusion.
    Returns the removed dir names.

    ``keep_snapshots``: how many archived snapshots (beyond the current
    manifest) stay time-travelable — their referenced generations are
    protected, Iceberg's expire-snapshots retention. Archives falling
    off the retention window are pruned in the same pass, so a
    time-travel read can never resolve a vacuumed snapshot (it raises
    cleanly instead of reading deleted data)."""
    import shutil
    import time as _time

    cutoff = _time.time() - min_age_s

    def _old(p: str) -> bool:
        try:
            return os.path.getmtime(p) < cutoff
        except OSError:
            return False

    m = _read_manifest(root, name)
    tp = table_path(root, name)
    if m is None or not os.path.isdir(tp):
        return []
    # retention set: the current manifest + the newest keep_snapshots
    # archived manifests contribute protected partition/dir refs
    kept_seqs = set()
    all_seqs = _snap_seqs(tp)
    if "seq" in m:
        kept_seqs.add(m["seq"])
    # the newest archive IS the current manifest, so retaining N
    # historical snapshots means keeping the N+1 newest archives
    kept_seqs.update(all_seqs[-(keep_snapshots + 1):]
                     if keep_snapshots > 0 else [])
    live_rel, live_dirs = set(), set()
    for prot in [m] + [
        s for q in sorted(kept_seqs)
        if (s := _read_snapshot(root, name, q)) is not None
    ]:
        if "partitions" in prot:
            live_rel.update(prot["partitions"].values())
        else:
            live_dirs.update(prot.get("dirs", []))
    removed = []
    if "partitions" in m:
        # partition-level GC: a generation usually stays half-live
        # after an incremental rebuild (only the rebuilt buckets
        # repointed) — collect its superseded partition dirs, then the
        # generation itself once empty
        pcol = m["partition_col"]
        for d in list(os.listdir(tp)):
            if not d.startswith("gen-"):
                continue
            gen_full = os.path.join(tp, d)
            if not _old(gen_full):
                continue
            for sub in list(os.listdir(gen_full)):
                if sub.startswith(f"{pcol}=") and f"{d}/{sub}" not in live_rel:
                    shutil.rmtree(os.path.join(gen_full, sub), ignore_errors=True)
                    removed.append(f"{d}/{sub}")
            if not any(
                s.startswith(f"{pcol}=") for s in os.listdir(gen_full)
            ):
                shutil.rmtree(gen_full, ignore_errors=True)
                removed.append(d)
    else:
        for d in list(os.listdir(tp)):
            if d.startswith("gen-") and d not in live_dirs:
                full = os.path.join(tp, d)
                if not _old(full):
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed.append(d)
    for d in list(os.listdir(tp)):
        if d.startswith(MANIFEST + ".tmp-"):
            full = os.path.join(tp, d)
            if _old(full):
                os.remove(full)
                removed.append(d)
    # expire snapshot archives outside the retention window (their
    # generations are no longer protected above)
    for seq in all_seqs:
        if seq in kept_seqs:
            continue
        p = os.path.join(_snap_dir(tp), f"manifest-{seq:08d}.json")
        if _old(p):
            os.remove(p)
            removed.append(f"{SNAPSHOT_DIR}/manifest-{seq:08d}.json")
    return removed


def partition_file_stats(root: str, name: str) -> tuple[int, int, int, int]:
    """(max data files in any live partition, max single file bytes,
    total file count, total bytes) for a partitioned table — the layout
    invariant check behind shuffle-free serving: when every partition is
    ONE file no larger than the scan's effective split size, a scan can
    never split a partition's rows across tasks. The totals feed
    Spark's split-size formula (split = min(maxPartitionBytes,
    max(openCostInBytes, totalScanBytes/minPartitionNum))), which can
    sit far BELOW maxPartitionBytes on a many-core session. Raises if
    the table is not manifest-partitioned."""
    m = _read_manifest(root, name)
    if m is None or "partitions" not in m:
        raise FileNotFoundError(f"table {name} is not manifest-partitioned")
    tp = table_path(root, name)
    max_files, max_bytes, n_files, total_bytes = 0, 0, 0, 0
    for rel in m["partitions"].values():
        full = os.path.join(tp, rel)
        files = [
            f for f in os.listdir(full)
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
        ]
        max_files = max(max_files, len(files))
        n_files += len(files)
        for f in files:
            sz = os.path.getsize(os.path.join(full, f))
            max_bytes = max(max_bytes, sz)
            total_bytes += sz
    return max_files, max_bytes, n_files, total_bytes


def current_seq(root: str, name: str) -> int | None:
    """Snapshot seq of the table's current manifest (None for a
    legacy or never-published table)."""
    m = _read_manifest(root, name)
    return None if m is None else m.get("seq")


def table_meta(root: str, name: str) -> dict:
    """The ``meta`` its last whole-table write published (write_table),
    {} when none."""
    m = _read_manifest(root, name)
    return dict((m or {}).get("meta") or {})


def table_exists(root: str, name: str) -> bool:
    if os.path.exists(_manifest_path(root, name)):
        return True
    return _legacy_files(table_path(root, name))
