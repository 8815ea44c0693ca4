"""[EXT] Versioned parquet tables: a minimal Delta/Iceberg-style commit log
giving plain parquet directories ACID-ish snapshots, time travel, rollback,
and vacuum — the missing piece between this engine's lakehouse writers
(partitioned/bucketed/z-ordered parquet, compaction) and how production
tables actually evolve: concurrent appenders, bad-deploy rollbacks,
reproducible "train on the table AS OF version N" reads.

The reference (one-shot spark-shell scripts over a single CSV) has no
notion of table versions; this module is pure [EXT] scale surface.

Layout::

    table_dir/
      data/  {a,c,d,m,u,w,g,p}{tag}-{i}-part-....parquet  immutable once committed
      _log/  v00000001.json …            one manifest per version
      dv/    v{tag}/*.parquet            deletion-vector sidecars
                                         ((file_name, row_index) position
                                         lists for merge-on-read DML)

Each manifest holds the COMPLETE file list of its snapshot (Iceberg-style
full manifests, not Delta-style deltas): a reader resolves any version
from exactly one small JSON file — no log replay, no tombstone
reconciliation. The cost is O(files) bytes per commit; at the file counts
where that matters (millions), the list itself belongs in a parquet
manifest — same protocol, bigger page — documented, not implemented.

Commit protocol (optimistic concurrency, the Delta approach):

1. write the new data files under ``data/`` with version-unique names
   (a failed job leaves only unreferenced files — vacuum debris, never
   corruption, because nothing references a file until its manifest
   lands);
2. create ``_log/v{N}.json`` with create-if-absent. Two writers racing
   for version N: one wins, the loser re-reads the new head and retries
   on N+1 (its data files are already safely named uniquely).
   Create-if-absent is atomic on HDFS; on S3 you'd back this one
   operation with a conditional PUT or a DynamoDB-style lock — the
   standard object-store caveat, isolated to this single call.

Every version-creating function commits through ``_commit``, the one
retry loop. Before each attempt it refuses (removing the commit's staged
files and deletion-vector sidecar) if a file the commit removes or
vectors is no longer live, or no longer carries the deletion-vector
count it had when the op probed it.

Carry rule — what a new version takes from its parent: the file list,
``stats``, ``rows`` and ``blooms`` are the parent's minus the files the
commit removes, plus its new files; ``dvs`` and ``dv_files`` carry (minus
removed files), plus the commit's new sidecar; the table-state keys of
``_TABLE_STATE`` (schema, constraints, partition spec and its history,
bucket layout, column mapping, dropped physical names) carry verbatim.
Every other key is per-commit (accounting, condition, idempotency key,
``dv_added``…) and is written only by the commit that owns it. An op's
deliberate exceptions are explicit overrides at its call site: overwrite
resets the lineage, rollback takes its state from the target version,
and commits that write or drop data files outside the bucketed writer
(copy-on-write DML, merge-on-read reinserts, optimize, materialize) or
rename/drop columns drop ``bucket_by``: one file without bucket naming
breaks the all-files-bucketed property ``read_snapshot_bucketed`` relies
on, so it refuses until an overwrite re-buckets. Merge-on-read deletes
and constraint/spec commits touch no file and keep it.

DML is one match step and two write strategies (the Delta / Iceberg v2
split). ``_match`` finds the live rows of the candidate files, with
their ``(__file, __pos)`` position, through each op's selection: a
condition filter (delete, update), a semi-join (``delete_keys_mor``) or
the null-safe key join (merge). Copy-on-write (``delete_where`` and
``delete_range``, ``update_where``, ``merge_into``) rewrites the files
the match hits; merge-on-read (``delete_where_mor``, ``delete_keys_mor``,
``update_where_mor``, ``merge_into_mor``) writes the matched positions
as one deletion-vector sidecar and appends the reinserted rows.

Local-filesystem caveat (found by the concurrent-writer stress test,
tests/test_snapshots.py): Hadoop's ChecksumFileSystem implements
``create(path, overwrite=False)`` as check-then-create — NOT atomic —
so two writers racing a commit could both "win" a version and silently
lose one. ``_create_manifest`` therefore layers two claims: a
process-wide lock serializes same-process threads (the ``local[*]``
reality, Structured Streaming's one-driver reality), and for ``file://``
paths a PID+mtime lock file (``vN.json.claim``, created with POSIX-atomic
``O_CREAT|O_EXCL``) extends the claim across PROCESSES on one machine —
a second driver process rebases onto the next version instead of
silently overwriting the winner (two-process stress test in
tests/test_snapshots_hardening.py). Claims from writers that died
mid-commit are broken by pid-liveness/age (``_claim_version``). On HDFS
or conditional-PUT object stores the create itself is atomic and both
claims are uncontended overhead; NFS-shared "local" paths are NOT
covered (pid checks and O_EXCL don't cross machines) — Delta's
``file://`` stance applies there. Readers have their own small race —
``create`` then ``write`` is two steps, so a reader listing ``_log/``
can catch a created-but-unwritten manifest — handled by a bounded
read-retry in ``_read_manifest``.

All filesystem access goes through the Hadoop FileSystem API (driver-side
metadata ops only — file counts, renames, one small JSON per commit), so
the same code runs on local disk, HDFS, or object stores.

Every data read hands Spark an explicit schema, so no read samples a
parquet footer (schema inference costs one Spark job per read):
committed files are read with the manifest's recorded ``schema`` in
physical column names (``_scan``), a commit's staged files with the
schema of the frame it just wrote, deletion-vector sidecars with the
fixed ``_DV_SCHEMA``. The recorded schema is the union over additive
evolution, so files that predate a column read it as typed NULLs.
Only manifests written before schema tracking (no ``schema`` key) fall
back to inference.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import math
import os
import re as _re_mod
import threading
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = "_log"
_DATA = "data"
_DV = "dv"  # deletion-vector sidecar dirs (merge-on-read deletes)
_BUCKETVIEW = "_bucketview"  # per-version hardlink views for bucketed reads
_BLOOM_WIDTH = 2048  # bits per probe stripe
_BLOOM_DEPTH = 4  # probes per key
_DV_SCHEMA = "__file STRING, __pos LONG"  # deletion-vector sidecar rows
# table-level manifest keys every commit carries (module docstring)
_TABLE_STATE = (
    "schema", "constraints", "partition_spec", "spec_history",
    "bucket_by", "column_mapping", "dropped_physical",
)


class _Staged(NamedTuple):
    """A commit's new data files (relative paths) and their manifest
    entries, as ``_move_staged`` leaves them under ``data/``."""

    files: list
    stats: dict
    blooms: dict
    rows: dict


_NO_FILES = _Staged([], {}, {}, {})


def _plain(v):
    """JSON-safe manifest value: primitives pass through, everything else
    (dates/timestamps/decimals) round-trips as its string form."""
    return v if isinstance(v, (int, float, str, bool)) or v is None else str(v)


def _is_num_bound(v) -> bool:
    return isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)


def _num(v):
    """Exact numeric form of a manifest-stored stat or caller bound, or
    None when it doesn't parse (Decimal avoids float rounding at the
    prune boundary — '9.5' vs '10.00' must compare numerically exact)."""
    try:
        return decimal.Decimal(str(v))
    except (decimal.InvalidOperation, ValueError):
        return None


def _stats_vs_bounds(mn, mx, lo, hi) -> tuple[bool, bool]:
    """Compare a file's stored [mn, mx] stats against caller bounds
    [lo, hi] in the right domain, returning ``(disjoint, covered)``:
    disjoint → the file provably holds no row in [lo, hi]; covered →
    every row provably falls inside. DecimalType stats are stored as
    strings (``_plain``), where lexicographic order is NOT numeric order
    ('9.5' > '10.00'), so whenever the CALLER's bound is numeric
    (int/float/Decimal) both sides are parsed as exact Decimals; every
    other type compares in the manifest storage domain (dates/timestamps
    as ISO strings — lexicographic == chronological). Missing or
    unparseable stats return (False, False): never prune on a guess."""
    if mn is None or mx is None:
        return (False, False)
    if _is_num_bound(lo) or _is_num_bound(hi):
        mn, mx = _num(mn), _num(mx)
        lo = _num(lo) if lo is not None else None
        hi = _num(hi) if hi is not None else None
        if mn is None or mx is None:
            return (False, False)
    else:
        lo, hi = _plain(lo), _plain(hi)
    disjoint = (lo is not None and mx < lo) or (hi is not None and mn > hi)
    covered = (lo is None or mn >= lo) and (hi is None or mx <= hi)
    return (disjoint, covered)


def _data_path(table_dir: str, rel: str) -> str:
    """Absolute-aware file resolution: manifests normally hold paths
    relative to their own table_dir; a shallow clone's manifest holds the
    SOURCE table's files as absolute paths (leading '/' or a URI scheme),
    which pass through untouched."""
    if rel.startswith("/") or "://" in rel:
        return rel
    return f"{table_dir}/{rel}"


def _scan(
    spark: SparkSession, table_dir: str, manifest: dict, rels, merge_schema=False
) -> DataFrame:
    """Parquet scan of ``manifest``'s data files ``rels`` with the schema
    the manifest records, in the PHYSICAL names the files carry (see
    ``_apply_mapping`` for the logical side). Spark samples no footer,
    and files missing a later-added column read it as typed NULLs.
    Manifests without a recorded schema fall back to inference
    (unioning every file's schema when ``merge_schema``)."""
    reader = spark.read
    schema = manifest.get("schema")
    if schema:
        m = _mapping(manifest) or {}
        reader = reader.schema(
            T.StructType.fromJson(
                dict(
                    schema,
                    fields=[
                        dict(f, name=m.get(f["name"], f["name"]))
                        for f in schema["fields"]
                    ],
                )
            )
        )
    elif merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*(_data_path(table_dir, rel) for rel in rels))


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _manifest_path(jvm, table_dir: str, version: int):
    return jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{_LOG}/v{version:08d}.json")


# tombstone a published-but-kept branch carries (see branches.fast_forward
# retire=False): its manifests reference data files that were RENAMED into
# main during the publish, so reading it as a table would fail at scan
# time (or silently read main's files under stale stats) — refuse at
# resolution time instead (VERDICT r7 #5).
_PUBLISHED_MARKER = "_published.json"


# Open pinned_group memberships (sources/transactions.pinned_group —
# VERDICT r8 #9): CANONICAL table_dir (see _pin_key) -> group label.
# While a table is registered here, a raw HEAD read_snapshot of it
# refuses: inside a consistency context, mixing the group's pinned
# frames with an ambient head read is precisely the bug the context
# exists to prevent. Explicitly version-pinned reads stay allowed
# (deliberate time travel). Mutations go through _PINNED_GROUP_LOCK
# (concurrent driver threads registering/cleaning groups — ADVICE r9);
# the read_snapshot lookup is a single dict.get and needs no lock.
_PINNED_GROUP_GUARD: dict[str, str] = {}
_PINNED_GROUP_LOCK = threading.Lock()


def _pin_key(spark: SparkSession, table_dir: str) -> str:
    """Canonical guard key for *table_dir*: qualified through the same
    Hadoop Path resolution every snapshot read uses, so equivalent
    spellings (``file://`` scheme vs bare path, redundant separators,
    relative vs absolute) collapse to ONE key and cannot bypass the
    pinned_group refusal (ADVICE r9). Symlinked paths are still
    distinct — Hadoop Path does not resolve local symlinks, and neither
    does any read in this layer, so the guard matches the reads it
    protects."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(table_dir.rstrip("/") or "/")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return str(fs.makeQualified(p).toUri().toString()).rstrip("/")


def _refuse_if_retired(fs, jvm, table_dir: str) -> None:
    if "/_branches/" not in table_dir:
        return  # only branch handles can be retired; skip the fs hit
    p = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{_PUBLISHED_MARKER}")
    if fs.exists(p):
        raise ValueError(
            f"{table_dir} was published via fast_forward and retired — its "
            "manifests reference files that moved into main; re-branch "
            "instead of reading it"
        )


_COMMIT_LOCK = threading.Lock()  # see module docstring: local-FS create
# is check-then-create, so in-process writers must serialize the claim

_CLAIM_STALE_S = 300.0  # a claim this old with no manifest = dead writer


def _claim_version(local_manifest_path: str) -> bool:
    """Cross-PROCESS linearization for local filesystems: atomically claim
    version N by ``O_CREAT|O_EXCL``-creating ``vN.json.claim`` next to the
    manifest (POSIX-atomic across processes — Hadoop's ChecksumFileSystem
    ``create(path, False)`` is check-then-create and is NOT). The claim
    records ``pid mtime``; a claim whose pid is dead (same machine — the
    only domain file:// multi-process makes sense in) or whose age exceeds
    ``_CLAIM_STALE_S`` with the manifest still absent is a writer that died
    mid-commit: it is broken by an atomic rename (only one breaker wins).
    Returns True if this process holds the claim."""
    claim = local_manifest_path + ".claim"
    os.makedirs(os.path.dirname(claim), exist_ok=True)
    for _ in range(2):  # second pass after breaking a stale claim
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()} {time.time()}".encode())
            os.close(fd)
            return True
        except FileExistsError:
            try:
                st = os.stat(claim)
                # a racing writer may have created the claim but not yet
                # written "pid mtime" — an empty read means the holder is
                # mid-write, i.e. very much alive: treat unparseable as
                # live and fall through to the age check only
                parts = open(claim).read().split()
                pid_s = parts[0] if parts else ""
                holder_alive = True
                if pid_s.isdigit():
                    try:
                        os.kill(int(pid_s), 0)
                    except ProcessLookupError:
                        holder_alive = False
                    except PermissionError:
                        pass  # alive, other user
                stale = (not holder_alive) or (
                    time.time() - st.st_mtime > _CLAIM_STALE_S
                )
            except OSError:
                return False  # claim vanished mid-inspection: holder won
            if stale and not os.path.exists(local_manifest_path):
                try:  # atomic: exactly one breaker succeeds
                    os.rename(claim, f"{claim}.broken-{uuid.uuid4().hex[:8]}")
                except OSError:
                    return False
                continue
            # live foreign writer mid-commit: give it a beat to land its
            # manifest so the caller's rebase loop doesn't spin dry
            time.sleep(0.02)
            return False
    return False


def _release_claim(local_manifest_path: str) -> None:
    """Release OUR claim only: if this writer stalled past
    ``_CLAIM_STALE_S``, a second writer may have broken the claim and
    re-created it with its own pid — unlinking unconditionally here would
    delete the live writer's claim and reopen the cross-process race for
    a third writer. Re-read and delete only if the recorded pid is ours
    (an empty/unparseable claim is never ours: our write is atomic with
    the O_EXCL create under the same fd)."""
    claim = local_manifest_path + ".claim"
    try:
        parts = open(claim).read().split()
        if parts and parts[0] == str(os.getpid()):
            os.unlink(claim)
    except OSError:
        pass


def _create_manifest(fs, mp, manifest: dict) -> bool:
    """The commit protocol's single linearization point: claim version N
    by creating its manifest if absent. Returns False on a lost race
    (caller re-reads the head and rebases). The process-wide lock makes
    the exists+create+write sequence atomic for same-process writers —
    required on local filesystems where Hadoop ``create(path, False)``
    is check-then-create; on HDFS the create itself is atomic and the
    lock is just uncontended overhead. For local (file://) paths a
    PID+mtime claim file extends the same atomicity across PROCESSES on
    one machine (see ``_claim_version``) — a second driver process
    rebases instead of silently overwriting the winner's manifest."""
    with _COMMIT_LOCK:
        if fs.exists(mp):
            return False
        uri = mp.toUri()
        local = uri.getScheme() in (None, "file")
        lpath = uri.getPath() if local else None
        if local and not _claim_version(lpath):
            return False
        try:
            try:
                stream = fs.create(mp, False)
            except Exception:  # noqa: BLE001 — racing external writer
                return False
            try:
                stream.write(bytearray(json.dumps(manifest).encode("utf-8")))
            finally:
                stream.close()
            return True
        finally:
            if local:
                _release_claim(lpath)


def _read_manifest(fs, jvm, table_dir: str, version: int) -> dict:
    p = _manifest_path(jvm, table_dir, version)
    if not fs.exists(p):
        raise FileNotFoundError(
            f"no snapshot v{version} at {table_dir} (vacuumed or never written)"
        )
    # bounded retry: a reader can list _log/ between a writer's create
    # and write (or before the checksum sidecar lands) and catch a
    # partial manifest — it becomes complete within the writer's close,
    # so retry instead of surfacing a transient EOF/parse error
    err: Exception | None = None
    for _attempt in range(50):
        try:
            stream = fs.open(p)
            try:
                # py4j passes byte[] buffers by copy, so a read(buf) loop
                # can't see Java-side mutations — drain the stream JVM-side
                text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            finally:
                stream.close()
            if text.strip():
                return json.loads(text)
            err = IOError("empty manifest")
        except Exception as e:  # noqa: BLE001 — partial write in flight
            err = e
        time.sleep(0.02)
    raise IOError(
        f"manifest v{version} at {table_dir} unreadable after retries "
        f"(a writer died mid-commit? repair by removing the file): {err}"
    )


def current_version(spark: SparkSession, table_dir: str) -> int:
    """Highest committed version, or 0 if the table has no snapshots yet.
    One directory listing of ``_log/`` — O(versions) names, no file reads."""
    fs, _, jvm = _fs(spark, table_dir)
    _refuse_if_retired(fs, jvm, table_dir)
    return current_version_from_fs(fs, jvm, table_dir)


def current_version_from_fs(fs, jvm, table_dir: str) -> int:
    """`current_version` without re-resolving the FileSystem (loop helper)."""
    log_path = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{_LOG}")
    if not fs.exists(log_path):
        return 0
    best = 0
    for st in fs.listStatus(log_path):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                best = max(best, int(name[1:-5]))
            except ValueError:
                continue
    return best


def snapshot_info(spark: SparkSession, table_dir: str, version: int) -> dict:
    """The manifest of one version: action, parent, file list (relative)."""
    fs, _, jvm = _fs(spark, table_dir)
    return _read_manifest(fs, jvm, table_dir, version)


def _find_idempotent(fs, jvm, table_dir: str, key: str, head: int) -> int | None:
    """Newest retained version committed under ``key``, or None. O(versions)
    small-JSON reads, newest-first — redelivered micro-batches are almost
    always the head, so this terminates in one read in practice."""
    for v in range(head, 0, -1):
        try:
            if _read_manifest(fs, jvm, table_dir, v).get("idempotency_key") == key:
                return v
        except FileNotFoundError:
            continue
    return None


def _head(
    spark: SparkSession,
    table_dir: str,
    op: str | None = None,
    version: int | None = None,
    key: str | None = None,
):
    """``(fs, jvm, version, manifest)`` of ``version`` (default: head)
    for every op that reads one version; refuses a retired branch, a
    table with no snapshots and, for a DML ``op``, a column-mapped one.
    An idempotency ``key`` already committed returns ``(fs, jvm, prior,
    None)``: the caller replays that commit."""
    fs, _, jvm = _fs(spark, table_dir)
    _refuse_if_retired(fs, jvm, table_dir)
    if version is None:
        version = current_version_from_fs(fs, jvm, table_dir)
    if version == 0:
        raise FileNotFoundError(f"{table_dir} has no committed snapshots")
    if key is not None:
        prior = _find_idempotent(fs, jvm, table_dir, key, version)
        if prior is not None:
            return fs, jvm, prior, None
    manifest = _read_manifest(fs, jvm, table_dir, version)
    if op is not None:
        _refuse_mapping(manifest, op)
    return fs, jvm, version, manifest


def _schema_fields(schema_json: dict) -> dict:
    """name → type-json map for order-insensitive schema comparison."""
    return {f["name"]: f["type"] for f in schema_json.get("fields", [])}


# carried keys a manifest omits when empty ({} is a meaningful mapping)
_OMIT_EMPTY = {"stats", "blooms", "rows", "dvs", "dv_files", *_TABLE_STATE} - {
    "column_mapping"
}


def _commit(
    fs,
    jvm,
    table_dir: str,
    build=None,
    *,
    probe: tuple[int, dict] | None = None,
    new: _Staged = _NO_FILES,
    removed=None,
    vectored: dict | None = None,
    sidecar: str | None = None,
    conflict: str = "",
    validated: dict | None = None,
    redo: str = "commit",
    key: str | None = None,
    **fields,
) -> tuple[int, bool]:
    """The optimistic commit loop every new version goes through (module
    docstring: commit protocol and carry rule). Each attempt re-reads the
    head — reusing ``probe``'s ``(version, manifest)`` while the head has
    not moved — and builds the next manifest from it:

    - ``new`` files join the file list with their stats/blooms/rows;
      ``removed`` files leave it (recorded as ``removed`` unless None);
      ``vectored`` (``{file: rows deleted}``) adds to those files'
      deletion-vector counts, whose positions the ``sidecar`` dir holds;
    - ``fields`` are the commit's own keys (``action``, accounting);
    - ``build(parent, head)`` returns overrides (None drops a key) and
      may raise to refuse.

    Refusals (``RuntimeError``): a removed or vectored file gone from the
    head, or whose deletion-vector count moved since ``probe`` (message:
    the ``conflict`` template, formatted with ``table_dir``, ``cur`` and
    ``rel``); a constraint set no longer equal to ``validated``. Those
    and anything ``build`` raises first delete the staged files and the
    sidecar. An idempotency ``key`` committed since the probe runs the
    same clean-up and replays the prior version. Without a ``probe`` the
    table must already exist (``FileNotFoundError``).

    Returns ``(version, True)`` for a new commit, ``(prior, False)`` for
    a replay."""
    head0, probed = probe or (None, {})
    gone = set(removed or ())
    vectored = vectored or {}

    def unstage():
        _drop_paths(fs, jvm, table_dir, *new.files, sidecar)

    # bounded: losing the create race 100 times in a row means the
    # "conflict" is really a persistent error — permissions, bad path —
    # and must surface, not spin
    for _attempt in range(100):
        _refuse_if_retired(fs, jvm, table_dir)
        cur = current_version_from_fs(fs, jvm, table_dir)
        if cur == 0 and probe is None:
            raise FileNotFoundError(f"{table_dir} has no committed snapshots")
        if key is not None and cur != head0:
            prior = _find_idempotent(fs, jvm, table_dir, key, cur)
            if prior is not None:
                unstage()
                return prior, False
        if cur == head0:
            parent = probed
        else:
            parent = _read_manifest(fs, jvm, table_dir, cur) if cur else {}
        dvs = parent.get("dvs", {})
        try:
            live = set(parent.get("files", ()))
            for rel in [*gone, *vectored]:
                if rel not in live or dvs.get(rel) != probed.get("dvs", {}).get(rel):
                    raise RuntimeError(
                        conflict.format(table_dir=table_dir, cur=cur, rel=rel)
                    )
            if validated is not None and parent.get("constraints", {}) != validated:
                raise RuntimeError(
                    f"constraint set changed concurrently on {table_dir} "
                    f"(validated against v{head0}, head is v{cur}); re-run the {redo}"
                )
            overrides = build(parent, cur) if build else {}
        except BaseException:
            unstage()
            raise
        dvs = {f: n for f, n in dvs.items() if f not in gone}
        dvs.update({f: int(dvs.get(f, 0)) + n for f, n in vectored.items()})
        manifest = {
            "version": cur + 1,
            "parent": cur,
            **fields,
            "files": [f for f in parent.get("files", []) if f not in gone]
            + new.files,
            "added": new.files,
        }
        if removed is not None:
            manifest["removed"] = sorted(gone)
        for k in ("stats", "blooms", "rows"):
            manifest[k] = {
                **{f: e for f, e in parent.get(k, {}).items() if f not in gone},
                **getattr(new, k),
            }
        manifest["dvs"] = dvs
        if dvs:
            manifest["dv_files"] = parent.get("dv_files", []) + (
                [sidecar] if sidecar else []
            )
        if sidecar:
            manifest["dv_added"] = [sidecar]
        manifest.update({k: parent.get(k) for k in _TABLE_STATE})
        manifest.update(overrides)
        if key is not None:
            manifest["idempotency_key"] = key
        manifest = {
            k: v
            for k, v in manifest.items()
            if v is not None and (v or k not in _OMIT_EMPTY)
        }
        mp = _manifest_path(jvm, table_dir, cur + 1)
        fs.mkdirs(mp.getParent())
        if _create_manifest(fs, mp, manifest):
            return cur + 1, True
    raise IOError(
        f"could not commit {fields.get('action')} to {table_dir} after 100 "
        "attempts — manifest create keeps failing (permissions/path problem, "
        "not contention)"
    )


def _unbucketed(parent: dict, head: int) -> dict:
    """``_commit`` override of commits that write or drop data files
    outside the bucketed writer: the bucket layout no longer holds."""
    return {"bucket_by": None}


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    idempotency_key: str | None = None,
    stats_cols: list[str] | tuple[str, ...] = (),
    allow_schema_evolution: bool = False,
    bloom_cols: list[str] | tuple[str, ...] = (),
    bloom_width: int = _BLOOM_WIDTH,
    bloom_depth: int = _BLOOM_DEPTH,
    partition_by: list[str] | tuple[str, ...] = (),
    bucket_by: tuple[str, int] | None = None,
    _rewrite_of: int | None = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``partition_by`` declares a PARTITION SPEC (Iceberg-style identity
    partitioning, metadata-tracked): the commit's data files are split so
    each holds exactly one value combination of the named columns, the
    spec is recorded in the manifest, and the partition columns join
    ``stats_cols`` automatically — a single-valued file's min==max stats
    make ``read_snapshot``'s ``prune`` and ``delete_range``'s zero-I/O
    drop tier EXACT on partition predicates (directory-pruning economics
    without directory layout: the file list stays flat, every raw-read
    commit path keeps working, and partition values live in the files
    themselves, not in paths). Appends to a partitioned table inherit the
    head's spec automatically and refuse a conflicting one; overwrite
    resets the spec like it resets the schema. DML rewrites (COW
    delete/update/merge) may produce files straddling partition values —
    correctness holds via ordinary min/max stats, pruning just coarsens
    until ``optimize_snapshot`` (which regroups by the spec) restores the
    split.

    ``mode='append'`` adds the new files to the parent snapshot's set;
    ``mode='overwrite'`` makes them the whole snapshot. Either way the
    parent's files are untouched — old versions stay readable until
    ``vacuum``. The data files are written ONCE (staging + per-file
    rename, a metadata op); only the manifest create participates in the
    optimistic-retry loop, so a lost race costs one re-read of the head
    manifest, never a data rewrite.

    ``idempotency_key`` makes the commit exactly-once under re-delivery:
    if any retained manifest already carries the key, the call is a no-op
    returning that version. This is what lets a Structured Streaming
    ``foreachBatch`` (which re-runs a micro-batch after a failure, with
    the same batch id) target this log without double-appending — see
    ``snapshot_sink``.

    ``stats_cols`` records per-file min/max for the named columns in the
    manifest (Iceberg manifest-stats style), computed DISTRIBUTED — one
    grouped aggregate over the staged files keyed by
    ``input_file_name()``, never a driver-side footer walk — enabling
    ``read_snapshot``'s file skipping: a range predicate prunes
    non-overlapping files from the scan list before Spark ever opens
    them. Most valuable when commits are range-clustered (sorted /
    z-ordered writers upstream), exactly like Delta data skipping.

    Every commit also records per-file ROW COUNTS (manifest ``rows``
    map). The collection is a zero-data-column grouped count over the
    just-staged files (parquet answers it from row-group metadata — no
    value pages are read), and it is what lets ``metadata_agg`` answer
    ``COUNT(*)`` (and, with ``stats_cols``, ``MIN``/``MAX``) from the
    manifest alone — zero file I/O at query time, the Iceberg/Delta
    metadata-only-query shape that matters when the table is 100 TB and
    the question is one number.

    ``_rewrite_of`` (internal, used by ``optimize_snapshot``'s full-
    rewrite paths) declares this overwrite a REWRITE of version N's file
    set: the commit loop refuses (RuntimeError) if the head's files or
    deletion vectors no longer match version N's — otherwise a concurrent
    append/delete landing between the rewrite's read and its overwrite
    commit would be silently discarded (lost update).

    ``bloom_cols`` additionally records a per-file BLOOM FILTER for the
    named columns (Iceberg-Puffin-style point-lookup index): min/max
    stats skip nothing on a column the data is not clustered by, but a
    Bloom probe still prunes every file that provably lacks the key —
    ``read_snapshot(point={"col": v})`` opens ~1 file instead of all of
    them on a hash-distributed key. Built distributed (see
    ``_staged_meta``); never a false negative (files that lose
    their bloom through compaction/COW-rewrite are simply kept).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    fs, _, jvm = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path

    head0 = current_version(spark, table_dir)
    if idempotency_key is not None:
        prior = _find_idempotent(fs, jvm, table_dir, idempotency_key, head0)
        if prior is not None:
            return prior
    head0_manifest = _read_manifest(fs, jvm, table_dir, head0) if head0 else {}
    # CHECK-constraint validation (Delta semantics: a row violates when
    # the expression is FALSE; NULL passes). Validated against the head's
    # constraint set BEFORE any file lands in data/ — a violating commit
    # is refused atomically with the staging dir removed. The commit loop
    # re-checks that the constraint set hasn't changed underneath us.
    validated = head0_manifest.get("constraints", {})

    # partition-spec resolution: appends inherit the table's spec (and
    # refuse a conflicting one); overwrite resets it like the schema
    spec = [str(c) for c in partition_by]
    parent_spec = head0_manifest.get("partition_spec")
    if mode == "append" and parent_spec:
        if not spec:
            spec = list(parent_spec)
        elif spec != list(parent_spec):
            raise ValueError(
                f"append partition spec {spec} conflicts with the table's "
                f"{list(parent_spec)} — evolve_partition_spec() changes the "
                "spec without rewriting (old files keep their old layout), "
                "or overwrite to re-partition everything"
            )
    elif mode == "append" and head0 > 0 and spec:
        raise ValueError(
            f"cannot introduce partition spec {spec} by appending to an "
            "unpartitioned table — evolve_partition_spec() first, or "
            "overwrite to re-partition"
        )
    if spec:
        missing = [c for c in spec if _spec_source_col(c) not in df.columns]
        if missing:
            raise ValueError(f"partition_by columns not in data: {missing}")
        # spec entries join the stats under their LABEL (identity: the
        # column name; derived: e.g. "days(ts)") — one-valued per file,
        # so min==max stats make pruning/DROP PARTITION exact either way
        stats_cols = sorted(set(map(str, stats_cols)) | set(spec))

    # bucket-layout resolution (Spark-native bucketing for shuffle-free
    # joins via read_snapshot_bucketed): appends inherit the table's
    # layout and refuse a conflicting one, like the partition spec
    bb = {"col": str(bucket_by[0]), "n": int(bucket_by[1])} if bucket_by else None
    parent_bb = head0_manifest.get("bucket_by")
    if mode == "append" and parent_bb:
        if bb is None:
            bb = dict(parent_bb)
        elif bb != {"col": parent_bb["col"], "n": parent_bb["n"]}:
            raise ValueError(
                f"append bucket layout {bb} conflicts with the table's "
                f"{parent_bb} — overwrite to re-bucket"
            )
    elif mode == "append" and head0 > 0 and bb:
        raise ValueError(
            f"cannot introduce bucket layout {bb} by appending to an "
            "unbucketed table — overwrite to re-bucket"
        )
    if bb:
        if spec:
            raise ValueError(
                "bucket_by and partition_by are mutually exclusive — "
                "use partition_by=('bucket(N, col)',) for the stats-pruned "
                "form, bucket_by for the Spark-native shuffle-free-join form"
            )
        if bb["col"] not in df.columns:
            raise ValueError(f"bucket_by column {bb['col']!r} not in data")

    # 1. write data files to a staging dir, then move under data/ with
    #    commit-unique names (uuid, not version: a racing writer may end
    #    up committing these files at a later version than it aimed for)
    tag = uuid.uuid4().hex[:12]
    # staging dir name is NOT dot-prefixed: Spark reads a hidden-named
    # root only via ambiguous base-path fallback (and WARNs "All paths
    # were ignored"); nothing ever lists the table root, so visibility
    # costs nothing and the stats read is on defined behavior
    staging = f"{table_dir}/staging-{tag}"
    # column mapping (renamed columns): the caller's frame speaks LOGICAL
    # names, but data files must stay uniform in PHYSICAL names so one
    # read resolves them all — translate before staging; stats/bloom
    # collection and the hive partition split follow the physical names
    parent_mapping = head0_manifest.get("column_mapping")
    stage_frame, stage_spec = df, spec
    if mode == "append" and parent_mapping:
        for lg, ph in parent_mapping.items():
            if lg != ph and lg in stage_frame.columns:
                stage_frame = stage_frame.withColumnRenamed(lg, ph)
        stage_spec = _to_physical(head0_manifest, spec)
        stats_cols = _to_physical(head0_manifest, stats_cols)
        bloom_cols = _to_physical(head0_manifest, bloom_cols)
    if bb:
        _stage_df_bucketed(stage_frame, staging, bb)
    else:
        _stage_df(stage_frame, staging, stage_spec)

    # Schema-on-write enforcement (Delta semantics): an append must match
    # the table schema recorded in the head manifest — a renamed column
    # or a changed type is refused atomically BEFORE any file lands.
    # ``allow_schema_evolution=True`` permits ADDITIVE drift only (new
    # columns; old files read as NULL under merge_schema=True) and the
    # manifest records the union schema. Overwrite resets the schema.
    # Pre-schema-tracking manifests (no "schema" key) skip enforcement.
    staged_schema = df.schema.jsonValue()
    committed_schema = staged_schema
    parent_schema = head0_manifest.get("schema")
    if mode == "append" and parent_schema is not None:
        have, want = _schema_fields(staged_schema), _schema_fields(parent_schema)
        changed = {n for n in have.keys() & want.keys() if have[n] != want[n]}
        missing = want.keys() - have.keys()
        extra = have.keys() - want.keys()
        problems = []
        if changed:
            problems.append(f"type changed: {sorted(changed)}")
        if missing:
            problems.append(f"missing columns: {sorted(missing)}")
        if extra and not allow_schema_evolution:
            problems.append(
                f"new columns: {sorted(extra)} (pass allow_schema_evolution=True)"
            )
        elif extra and head0_manifest.get("column_mapping") is not None:
            problems.append(
                f"new columns {sorted(extra)} on a column-mapped table "
                "(renamed/dropped columns) — materialize the mapping first"
            )
        if problems:
            fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
            raise ValueError(
                f"schema mismatch vs {table_dir} v{head0}: "
                + "; ".join(problems) + " — commit refused, nothing written"
            )
        if extra:  # additive evolution: manifest records the union schema
            committed_schema = dict(
                parent_schema,
                fields=parent_schema["fields"]
                + [f for f in staged_schema["fields"] if f["name"] in extra],
            )
        else:
            committed_schema = parent_schema

    _check_constraints(
        spark, staging, stage_frame.schema, validated,
        "staged row(s) — commit refused", lambda: fs.delete(Path(staging), True),
        mapping=parent_mapping if mode == "append" else None,
    )

    staged = _move_staged(
        fs, jvm, table_dir, staging, f"c{tag}",
        _staged_meta(
            spark, staging, stage_frame.schema, list(stats_cols),
            {c: (bloom_width, bloom_depth) for c in bloom_cols},
        ),
    )

    # 2. optimistic manifest commit; a lost race re-reads the head and
    # retries at head+1 without rewriting any data
    def build(parent: dict, head: int) -> dict:
        schema = committed_schema
        loop_schema = parent.get("schema") if mode == "append" else None
        # a concurrent commit may have EVOLVED the schema after our
        # validation — refuse like a constraint change (our staged files
        # were validated against the old shape)
        if mode == "append" and head != head0:
            now = _schema_fields(loop_schema) if loop_schema else None
            then = _schema_fields(parent_schema) if parent_schema else None
            staged_fields = _schema_fields(staged_schema)
            if now != then and now != staged_fields:
                raise RuntimeError(
                    f"table schema changed concurrently on {table_dir} "
                    f"(validated against v{head0}, head is v{head}); re-run"
                )
            if now == staged_fields and loop_schema is not None:
                # the head evolved to exactly our staged shape (e.g. two
                # writers bootstrapping an empty table with the same
                # schema): our files are valid against it — adopt the
                # head's recorded schema instead of refusing
                schema = loop_schema
        if _rewrite_of is not None and head != _rewrite_of:
            # this overwrite rewrites version N's rows; if any commit since
            # changed the file set or the deletion vectors, overwriting
            # would silently discard it — no serial order of {that commit,
            # this rewrite} produces the overwritten state
            base = _read_manifest(fs, jvm, table_dir, _rewrite_of)
            if parent.get("files") != base.get("files") or parent.get(
                "dvs", {}
            ) != base.get("dvs", {}):
                raise RuntimeError(
                    f"concurrent commit changed {table_dir} since this "
                    f"rewrite read v{_rewrite_of} (head is v{head}); rerun "
                    "the optimize against the new head"
                )
        if mode == "overwrite":
            # the new files are the whole table: schema, partition spec
            # and bucket layout are the caller's, the lineage (spec
            # history, column mapping, deletion vectors) resets
            return {
                "files": staged.files, "stats": staged.stats,
                "blooms": staged.blooms, "rows": staged.rows,
                "dvs": None, "dv_files": None, "schema": schema,
                "partition_spec": spec or None, "spec_history": None,
                "bucket_by": bb, "column_mapping": None,
                "dropped_physical": None,
            }
        # an append's files were STAGED under `bb` (the head0 layout, or
        # the caller's on a first write): a differing head layout means a
        # concurrent commit changed it and our files would silently mix
        # layouts — refuse, both directions (bucket_by: module docstring)
        if head > 0 and parent.get("bucket_by") != bb:
            raise RuntimeError(
                f"bucket layout changed concurrently on {table_dir} "
                f"(staged under {bb}, head has "
                f"{parent.get('bucket_by')}); re-run"
            )
        out = {"schema": schema, "bucket_by": bb}
        if head == 0:  # first write records the caller's spec
            out["partition_spec"] = spec or None
        return out

    return _commit(
        fs, jvm, table_dir, build, probe=(head0, head0_manifest), new=staged,
        validated=validated, key=idempotency_key, action=mode,
    )[0]


def _overlaps(stats: dict | None, prune: dict) -> bool:
    """File-skipping predicate: keep the file unless SOME pruned column's
    [min,max] provably misses [lo,hi]. Missing/NULL stats keep the file —
    skipping must never be able to drop a matching row."""
    if not stats:
        return True
    for col, (lo, hi) in prune.items():
        rng = stats.get(col)
        if not rng or rng[0] is None or rng[1] is None:
            continue
        mn, mx = rng[0], rng[1]  # rng may carry a 3rd non-null-count slot
        # _stats_vs_bounds picks the comparison domain: numeric caller
        # bounds force exact-Decimal compares (decimal stats are stored
        # as strings, where lexicographic order is wrong); everything
        # else compares in the manifest's string/primitive storage
        # domain (dates/timestamps as ISO — lexicographic ==
        # chronological). Callers pass RAW typed bounds; pre-_plain'ing
        # them here would destroy the type signal.
        disjoint, _ = _stats_vs_bounds(mn, mx, lo, hi)
        if disjoint:
            return False
    return True


def version_as_of(spark: SparkSession, table_dir: str, ts: float) -> int:
    """Newest version whose manifest was committed at-or-before epoch
    seconds ``ts`` (Delta ``AS OF TIMESTAMP`` resolution: commit time is
    the manifest file's modification time — the atomic create that IS
    the commit). Raises if the table didn't exist yet at ``ts`` or the
    matching versions were vacuumed. O(versions) name+mtime stats."""
    fs, _, jvm = _fs(spark, table_dir)
    head = current_version(spark, table_dir)
    best = 0
    for v in range(1, head + 1):
        mp = _manifest_path(jvm, table_dir, v)
        if not fs.exists(mp):
            continue  # vacuumed prefix
        if fs.getFileStatus(mp).getModificationTime() / 1000.0 <= ts:
            best = v
    if best == 0:
        raise FileNotFoundError(
            f"{table_dir} has no retained snapshot at or before ts={ts}"
        )
    return best


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    prune: dict | None = None,
    merge_schema: bool = False,
    as_of_ts: float | None = None,
    point: dict | None = None,
) -> DataFrame:
    """The table AS OF ``version`` (default: latest). Resolves one
    manifest, then hands Spark the explicit file list — normal parquet
    scan from there (column pruning / filter pushdown all intact).

    ``prune={"col": (lo, hi)}`` drops files whose manifest min/max (see
    ``write_snapshot(stats_cols=…)``) provably miss the range BEFORE
    Spark opens them — manifest-level data skipping, O(files) driver
    work, zero I/O for skipped files. It only shrinks the scan: the
    caller still applies the actual row filter (and should — skipping is
    file-granular). ``None`` bounds are open-ended.

    The scan takes its schema from the manifest (no footer is sampled):
    after additive schema evolution every read returns the recorded
    union schema, and older files yield typed NULLs for later-added
    columns. ``merge_schema=True`` matters only for manifests that
    record no schema (written before schema tracking): it makes Spark
    union the file schemas instead of sampling one footer. It is still
    refused on a table with deletion vectors.

    ``as_of_ts`` (epoch seconds; mutually exclusive with ``version``)
    resolves the version by commit time via ``version_as_of`` — the
    "what did the training job actually see at 03:00" read.

    ``point={"col": value}`` is EQUALITY file skipping: a file survives
    only if its min/max stats admit the value AND its per-file Bloom
    index (``write_snapshot(bloom_cols=…)``) might contain it. On a
    hash-distributed key this opens ~1 file where range stats open all
    of them — the needle-in-100-TB lookup. Probe hashes come from one
    1-row Spark job cast to the manifest schema's column type, so they
    are bit-identical to the build side; files without a bloom entry
    (pre-index commits, compaction rewrites) are always kept, so a
    matching row can never be skipped. The caller still applies the row
    filter — skipping is file-granular.
    """
    if version is None and as_of_ts is None and _PINNED_GROUP_GUARD:
        pin = _PINNED_GROUP_GUARD.get(_pin_key(spark, table_dir))
        if pin is not None:
            raise ValueError(
                f"{table_dir} is a member of an open pinned_group ({pin}): a "
                "raw HEAD read here would silently mix versions with the "
                "group's pinned frames — use the frame the group yielded, or "
                "pass an explicit version=/as_of_ts= for a deliberate "
                "time-travel read"
            )
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass either version or as_of_ts, not both")
        version = version_as_of(spark, table_dir, as_of_ts)
    _, _, version, manifest = _head(spark, table_dir, version=version)
    rels = manifest["files"]
    # column mapping: callers speak LOGICAL names; stats/bloom manifest
    # entries are keyed by the PHYSICAL names the files carry
    cmap = _mapping(manifest)
    if cmap:
        if prune:
            prune = {cmap.get(c, c): b for c, b in prune.items()}
        if point:
            point = {cmap.get(c, c): v for c, v in point.items()}
    kept = _pruned(manifest, rels, prune)
    if point:
        stats = manifest.get("stats", {})
        blooms = manifest.get("blooms", {})
        types = {
            (cmap or {}).get(f["name"], f["name"]): f["type"]
            for f in manifest.get("schema", {}).get("fields", [])
        }
        for c in point:
            t = types.get(c)
            if t is not None and not isinstance(t, str):
                raise ValueError(
                    f"point lookup on non-atomic column {c!r} (type {t!r}) "
                    "unsupported — no literal form to probe with"
                )
        depth = max(
            (e[c]["d"] for e in blooms.values() for c in point if c in e),
            default=0,
        )
        hashes = _point_hashes(spark, point, types, depth) if depth else {}
        eq = {c: (v, v) for c, v in point.items()}
        kept = [
            rel
            for rel in kept
            if _overlaps(stats.get(rel), eq)
            and _bloom_keeps(blooms.get(rel), point, hashes)
        ]
        # transform-aware pruning: a point on a derived transform's SOURCE
        # column also prunes by the computed partition value — on a
        # bucket(N, key)-partitioned table a key lookup opens ~1/N of the
        # files with no Bloom index at all (the Iceberg bucket-pruning
        # shape). The transform of the literal is computed BY SPARK in a
        # 1-row job cast to the column's manifest type, so it is
        # bit-identical to the staged values.
        # historical specs prune too (spec evolution): files written
        # under an OLD spec carry stats under the old labels, and a
        # label encodes its transform fully, so applying every retained
        # spec's transforms is sound — files lacking a label's stats are
        # kept. Skipped on column-mapped tables, where a historical
        # label's source name may no longer mean the same column.
        spec_entries = list(manifest.get("partition_spec") or [])
        if manifest.get("column_mapping") is None:
            for h in manifest.get("spec_history") or []:
                for e in h.get("spec", []):
                    if e not in spec_entries:
                        spec_entries.append(e)
        derived = [
            e
            for e in spec_entries
            if _spec_source_col(e) != e and _spec_source_col(e) in point
        ]
        for e in derived:
            src = _spec_source_col(e)
            t = types.get(src)
            lit = F.lit(point[src]) if t is None else F.lit(point[src]).cast(t)
            val = _plain(
                spark.range(1)
                .select(lit.alias(src))
                .selectExpr(_spec_sql(e))
                .first()[0]
            )
            eqp = {e: (val, val)}
            kept = [rel for rel in kept if _overlaps(stats.get(rel), eqp)]
    if not kept:  # everything skipped: empty frame, real schema
        return _apply_mapping(
            _scan(spark, table_dir, manifest, rels[:1] or [_DATA], merge_schema)
            .limit(0),
            manifest,
        )
    if manifest.get("dvs"):
        if merge_schema:
            raise ValueError(
                "read_snapshot(merge_schema=True) on a table with deletion "
                "vectors is unsupported — run materialize_dvs() first"
            )
        # merge-on-read: anti-join the deletion vectors at scan time
        # (files without a DV entry scan plain; fully-deleted files are
        # never opened — see _match)
        return _apply_mapping(
            _read_with_dvs(spark, table_dir, manifest, kept), manifest
        )
    return _apply_mapping(
        _scan(spark, table_dir, manifest, kept, merge_schema), manifest
    )


def read_snapshot_bucketed(
    spark: SparkSession,
    table_dir: str,
    name: str,
    version: int | None = None,
) -> DataFrame:
    """The table AS OF ``version`` as a Spark BUCKETED catalog table —
    the shuffle-free-join read path for snapshot tables written with
    ``write_snapshot(bucket_by=(col, N))`` (VERDICT r5 #5): two snapshot
    tables bucketed by the same key and N join with ZERO Exchange below
    the join (Spark's bucketed scan reports HashPartitioning, so the
    SortMergeJoin's distribution requirement is already satisfied by
    storage layout).

    Mechanics: the version's exact file set is exposed to the catalog as
    an EXTERNAL bucketed table over a per-version view directory of
    HARDLINKS (the files carry Spark's native ``_NNNNN`` bucket-id
    naming from the bucketed staging writer, which survives the
    commit rename as a basename suffix). Hardlinks pin the version: a
    later vacuum unlinks the data/ name but the inode lives until the
    view is removed. Local filesystems only — at object-store scale
    this read path is a DSv2 storage-partitioned-join (Iceberg SPJ)
    concern, not a hardlink trick; the manifest layout is ready for it
    (``bucket_by`` key + per-file bucket naming).

    Refuses: a table whose head (or requested version) lacks the
    ``bucket_by`` key — which commits drop it is the carry rule in the
    module docstring. The cure is an overwrite with the same
    ``bucket_by``.
    """
    uri = _fs(spark, table_dir)[1].toUri()
    if uri.getScheme() not in (None, "file"):
        raise ValueError(
            "read_snapshot_bucketed needs a local (file://) table — on "
            "HDFS/object stores use a DSv2 storage-partitioned join"
        )
    _, _, head, man = _head(spark, table_dir, version=version)
    bb = man.get("bucket_by")
    if not bb:
        raise ValueError(
            f"{table_dir} v{head} has no bucket layout — write it with "
            "write_snapshot(bucket_by=(col, N)); note DML/OPTIMIZE/"
            "rename-drop commits drop the layout (a rewritten file breaks "
            "the co-partitioning contract) — overwrite to re-bucket"
        )
    if man.get("dvs"):
        # MOR deletes keep every file bucket-named (sidecar only), so
        # bucket_by legitimately survives them — but this read path hands
        # Spark the RAW files with no deletion-vector anti-join, which
        # would resurrect the deleted rows (r6 fix). materialize first.
        raise ValueError(
            f"{table_dir} v{head} carries merge-on-read deletion vectors "
            "— the bucketed catalog read scans raw files and would "
            "resurrect deleted rows; run materialize_dvs() then "
            "re-bucket via an overwrite (materialize rewrites the "
            "DV'd files without bucket naming)"
        )
    local_root = uri.getPath()
    view = os.path.join(local_root, _BUCKETVIEW, f"v{head:08d}")
    os.makedirs(view, exist_ok=True)
    want = {rel.rsplit("/", 1)[-1]: rel for rel in man["files"]}
    have = set(os.listdir(view))
    for base in have - set(want):
        os.unlink(os.path.join(view, base))
    for base, rel in want.items():
        dst = os.path.join(view, base)
        if not os.path.exists(dst):
            try:
                os.link(os.path.join(local_root, rel), dst)
            except FileExistsError:
                pass  # concurrent reader linked the same version: identical

    schema = man.get("schema")
    if not schema:
        raise ValueError(f"{table_dir} v{head} has no tracked schema")
    struct = T.StructType.fromJson(schema)
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in struct.fields
    )
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    spark.sql(
        f"CREATE TABLE `{name}` ({ddl}) USING PARQUET "
        f"CLUSTERED BY (`{bb['col']}`) INTO {int(bb['n'])} BUCKETS "
        f"LOCATION '{view}'"
    )
    return spark.table(name)


def read_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows ADDED by commits in ``(from_version, to_version]`` — the batch
    incremental-consumption read (Delta CDF's insert stream): a downstream
    job remembers the last version it processed and reads only the delta,
    never rescanning the table. Each row carries ``_commit_version`` so
    consumers can window or checkpoint mid-range.

    Scans ONLY the named versions' ``added`` files (an append commit's
    parent files are untouched). Overwrite/rollback commits likewise
    contribute just their added files — removals are not emitted as
    delete rows; for full diff semantics pair snapshots with
    ``operators/scd.scd2_change_feed``. Raises if part of the range was
    vacuumed away (silent gaps would corrupt downstream state).
    """
    fs, _, jvm = _fs(spark, table_dir)
    to_version = current_version(spark, table_dir) if to_version is None else to_version
    frames = []
    for v in range(from_version + 1, to_version + 1):
        man = _read_manifest(fs, jvm, table_dir, v)
        if man["added"]:
            frames.append(
                _apply_mapping(
                    _scan(spark, table_dir, man, man["added"]),
                    man,  # each version resolves its OWN logical names
                ).withColumn("_commit_version", F.lit(v).cast("long"))
            )
    if not frames:  # an explicit head version: no table still refuses
        head = current_version(spark, table_dir)
        return read_snapshot(spark, table_dir, version=head).limit(0).withColumn(
            "_commit_version", F.lit(0).cast("long")
        )
    return functools.reduce(DataFrame.unionByName, frames)


def rollback(spark: SparkSession, table_dir: str, to_version: int) -> int:
    """Commit a NEW version whose file set is ``to_version``'s — history
    moves forward only (the bad versions stay inspectable until vacuum),
    exactly Delta's RESTORE semantics. Returns the new version."""
    fs, _, jvm = _fs(spark, table_dir)
    target = _read_manifest(fs, jvm, table_dir, to_version)
    # the restored FILES bring their own stats, deletion vectors (the
    # sidecars persist until vacuum), schema, partition and bucket layout
    # and column mapping — the head's would misdescribe them. Table
    # metadata (constraints) stays at the head's set, Delta-style: the
    # restored rows predate any constraint added after to_version and
    # were never validated against it — same caveat as Delta RESTORE.
    restored = {
        k: target.get(k)
        for k in ("files", "stats", "blooms", "rows", "dvs", "dv_files",
                  *_TABLE_STATE)
        if k != "constraints"
    }
    return _commit(
        fs, jvm, table_dir, lambda parent, head: restored,
        action="rollback", restored=to_version,
    )[0]


def snapshot_sink(table_dir: str, mode: str = "append"):
    """Structured Streaming sink: ``.writeStream.foreachBatch(
    snapshot_sink(dir))`` commits each micro-batch as a table version.

    Exactly-once: Spark re-runs a failed micro-batch with the SAME batch
    id, so the batch id becomes the commit's idempotency key — the retry
    finds the key already in the log and no-ops (its staged files are
    cleaned up), never double-appending. This is the same
    batchId-dedup contract Delta's streaming sink implements, and it
    completes the streaming-maintenance family (SCD2 / quantile-store /
    CMS-store sinks) with a versioned-table member: every micro-batch
    yields a time-travelable snapshot, so a consumer can pin "the table
    as of batch N" for reproducible training runs.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_snapshot(
            batch_df, table_dir, mode=mode, idempotency_key=f"stream-{batch_id}"
        )

    return _write


_TRANSFORM_RE = _re_mod.compile(r"^(years|months|days|hours)\((\w+)\)$")
_BUCKET_RE = _re_mod.compile(r"^bucket\((\d+),\s*(\w+)\)$")
_TRANSFORM_SQL = {
    "years": "year({c})",
    "months": "date_format({c}, 'yyyy-MM')",
    "days": "to_date({c})",
    "hours": "date_format({c}, 'yyyy-MM-dd HH')",
}


def _spec_source_col(entry: str) -> str:
    """The data column a partition-spec entry derives from (identity
    entries are their own source)."""
    m = _TRANSFORM_RE.match(entry)
    if m:
        return m.group(2)
    b = _BUCKET_RE.match(entry)
    return b.group(2) if b else entry


def _spec_sql(entry: str) -> str:
    """Spark-SQL expression computing a spec entry's partition value —
    Iceberg-style derived transforms (``years/months/days/hours(col)``)
    map to engine-agnostic date functions whose string/int forms order
    lexicographically == chronologically, so the stored per-file
    min==max values prune with plain comparisons; ``bucket(N, col)``
    hash-buckets a high-cardinality key into N groups (pmod of
    xxhash64 — the same hash family the Bloom index probes with, JVM
    codegen); identity entries pass through as the column itself."""
    m = _TRANSFORM_RE.match(entry)
    if m:
        return _TRANSFORM_SQL[m.group(1)].format(c=m.group(2))
    b = _BUCKET_RE.match(entry)
    if b:
        return f"pmod(xxhash64({b.group(2)}), {b.group(1)}L)"
    return entry


def _stats_expr(c: str):
    """Column expression for a stats entry: a derived-transform label
    computes its transform; a plain column name is itself."""
    s = _spec_sql(c)
    return F.expr(s) if s != c else F.col(c)


def _staged_key(uri: str, staging: str) -> str:
    """Key a staged file by its path RELATIVE to the staging root. For the
    flat staging dirs every commit path writes, this is just the file name;
    for a hive-partitioned staging tree (``write_snapshot(partition_by=…)``)
    it keeps the ``__p_c=v/`` segments, because Spark reuses part numbers
    across partition directories and bare names collide."""
    marker = staging.rstrip("/").rsplit("/", 1)[-1] + "/"
    return uri.split(marker, 1)[1] if marker in uri else uri.rsplit("/", 1)[-1]


def _stage_df(df: DataFrame, staging: str, spec) -> None:
    """Write ``df`` to a staging dir — flat, or hive-split by the partition
    spec. The split uses ``__p_*`` COPIES of the partition columns so the
    real columns stay in the file contents (every raw-read commit path —
    merge probes, DV reads, CDF — keeps working untouched); the copies live
    only in the staging directory names and die at the rename."""
    if spec:
        out = df
        for i, c in enumerate(spec):
            # positional names: a derived label like days(ts) is not a
            # valid hive directory column name
            out = out.withColumn(f"__p_{i}", _stats_expr(c))
        out.write.partitionBy(*[f"__p_{i}" for i in range(len(spec))]).parquet(
            staging
        )
    else:
        df.write.parquet(staging)


def _stage_df_bucketed(df: DataFrame, staging: str, bb: dict) -> None:
    """Stage ``df`` through Spark's NATIVE bucketed writer (Murmur3 bucket
    hash + ``_NNNNN`` bucket-id file naming — the only layout Spark's
    bucketed scan understands), via a throwaway EXTERNAL table whose
    LOCATION is the staging dir: dropping the table drops only catalog
    metadata, the bucket-named files stay for the rename-commit. The
    pre-repartition on the bucket column uses the same HashPartitioning
    as the bucket spec, so each bucket lands in one task → one file per
    bucket per commit."""
    spark = df.sparkSession
    tmp = f"__snap_bucket_stage_{uuid.uuid4().hex[:8]}"
    (
        df.repartition(int(bb["n"]), F.col(bb["col"]))
        .write.format("parquet")
        .bucketBy(int(bb["n"]), bb["col"])
        .option("path", staging)
        .mode("overwrite")
        .saveAsTable(tmp)
    )
    spark.sql(f"DROP TABLE `{tmp}`")  # external: metadata only, files stay


def _walk_staged(fs, jvm, staging: str):
    """All .parquet file statuses under a staging dir (recursive — a
    partitioned staging tree nests them), sorted by path for deterministic
    rename order."""
    Path = jvm.org.apache.hadoop.fs.Path
    it = fs.listFiles(Path(staging), True)
    out = []
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            out.append(st)
    return sorted(out, key=lambda s: s.getPath().toString())


def _staged_meta(
    spark, staging: str, schema, stats_cols, bloom_specs: dict
) -> tuple[dict, dict, dict]:
    """Per-file metadata of a staging dir from ONE grouped aggregate
    keyed by ``input_file_name()``, read with the ``schema`` of the frame
    the caller just wrote there (no footer sampled). Returns
    ``(stats, rows, blooms)`` keyed by ``_staged_key``:

    - ``rows``: row count per file (always; a 0-row file forms no group
      and is absent — it has zero rows). With no stats or bloom columns
      the scan touches zero data columns, so parquet answers it from
      row-group metadata.
    - ``stats``: ``[min, max, nonnull]`` per stats column (derived
      transform labels compute via ``_stats_expr``); the non-null count
      is what makes stats-only COUNT-WHERE exact for contained files.
    - ``blooms``: a Bloom filter per column of ``bloom_specs``
      (``{col: (width, depth)}``) — an Iceberg-Puffin-style secondary
      index for point lookups on columns the data is NOT clustered by,
      where min/max stats span everything and skip nothing. Partitioned
      layout: probe i owns its own ``width``-bit stripe, the exact layout
      of ``operators/sketches.bloom_might_contain``. The aggregate
      collects each probe's distinct bit positions per file (at most
      ``width`` each, so the collect is files × ≤ depth·width longs —
      metadata scale, whatever the row count), which are ORed into
      words here and stored SPARSE (``{word_index: int64}``) so a
      low-cardinality file costs bytes, not the full bitmap."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stats_cols:
        e = _stats_expr(c)
        aggs += [
            F.min(e).alias(f"min__{c}"),
            F.max(e).alias(f"max__{c}"),
            F.count(e).alias(f"nn__{c}"),
        ]
    for c, (w, d) in bloom_specs.items():
        aggs += [
            F.collect_set(
                F.pmod(F.xxhash64(F.col(c), F.lit(i)), F.lit(w).cast("long"))
            ).alias(f"bl{i}__{c}")
            for i in range(d)
        ]
    stats: dict[str, dict] = {}
    rows: dict[str, int] = {}
    blooms: dict[str, dict] = {}
    for r in (
        spark.read.schema(schema)
        .parquet(staging)
        .groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()
    ):
        name = _staged_key(r["__file"], staging)
        rows[name] = int(r["__rows"])
        if stats_cols:
            stats[name] = {
                c: [_plain(r[f"min__{c}"]), _plain(r[f"max__{c}"]), int(r[f"nn__{c}"])]
                for c in stats_cols
            }
        for c, (w, d) in bloom_specs.items():
            words: dict[int, int] = {}
            for i in range(d):
                for h in r[f"bl{i}__{c}"]:
                    pos = i * w + h
                    words[pos // 64] = words.get(pos // 64, 0) | 1 << pos % 64
            blooms.setdefault(name, {})[c] = {
                "w": w,
                "d": d,
                # stored as signed int64, like Spark's bit_or of longs
                "words": {
                    str(k): v - (1 << 64) if v >> 63 else v
                    for k, v in sorted(words.items())
                },
            }
    return stats, rows, blooms


def _move_staged(fs, jvm, table_dir: str, staging: str, prefix: str, meta):
    """Commit step 1 shared by every writing path: rename each staged
    parquet file under ``data/`` as ``{prefix}-{i}-{name}`` and remove
    the staging dir. ``meta`` is ``_staged_meta``'s result; returns the
    ``_Staged`` files and entries keyed by the committed relative paths.
    The walk is recursive: a partitioned staging tree nests files one
    hive level per spec column, and names flatten into data/ (part
    numbers can repeat across partition dirs, the i-counter
    disambiguates)."""
    Path = jvm.org.apache.hadoop.fs.Path
    staged_stats, staged_rows, staged_blooms = meta
    fs.mkdirs(Path(f"{table_dir}/{_DATA}"))
    new_files: list[str] = []
    new_stats: dict[str, dict] = {}
    new_blooms: dict[str, dict] = {}
    new_rows: dict[str, int] = {}
    for i, st in enumerate(_walk_staged(fs, jvm, staging)):
        name = _staged_key(st.getPath().toString(), staging)
        rel = f"{_DATA}/{prefix}-{i}-{name.rsplit('/', 1)[-1]}"
        if not fs.rename(st.getPath(), Path(f"{table_dir}/{rel}")):
            raise IOError(f"rename failed for {name} -> {rel}")
        new_files.append(rel)
        if name in staged_stats:
            new_stats[rel] = staged_stats[name]
        if name in staged_blooms:
            new_blooms[rel] = staged_blooms[name]
        new_rows[rel] = staged_rows.get(name, 0)
    fs.delete(Path(staging), True)
    return _Staged(new_files, new_stats, new_blooms, new_rows)


def _check_constraints(
    spark, staging: str, schema, constraints: dict, what: str, undo, mapping=None
) -> None:
    """CHECK validation of the rows staged under ``staging`` (written
    with ``schema``) — Delta semantics: a row violates when the
    expression is FALSE; NULL passes. Every constraint is counted in one
    aggregate, and a table without constraints reads nothing. On a
    violation ``undo()`` removes what the caller staged and the first
    violated constraint (by name) raises. ``mapping`` (logical →
    physical) aliases a column-mapped table's physical staged columns
    back to the LOGICAL names constraint expressions speak."""
    if not constraints:
        return
    staged = spark.read.schema(schema).parquet(staging)
    for lg, ph in (mapping or {}).items():
        if lg != ph and ph in staged.columns:
            staged = staged.withColumnRenamed(ph, lg)
    names = sorted(constraints)
    counts = staged.agg(
        *[
            F.count(F.when(~F.coalesce(F.expr(constraints[n]), F.lit(True)), 1))
            for n in names
        ]
    ).first()
    for n, bad in zip(names, counts):
        if bad:
            undo()
            raise ValueError(
                f"CHECK constraint {n!r} ({constraints[n]}) violated by "
                f"{bad} {what}, nothing written"
            )


def _stats_cols(manifest: dict) -> list[str]:
    """Every column some file of ``manifest`` carries min/max stats for —
    what a rewrite recomputes for its replacement files."""
    return sorted({c for s in manifest.get("stats", {}).values() for c in s})


def _bloom_specs(manifest: dict) -> dict[str, tuple[int, int]]:
    """Bloom dial (width, depth) per indexed column, recovered from the
    parent manifest — what rewrite paths (COW delete/merge, compaction)
    use to rebuild the index for replacement files at the same dial."""
    specs: dict[str, tuple[int, int]] = {}
    for e in manifest.get("blooms", {}).values():
        for c, ent in e.items():
            specs.setdefault(c, (ent["w"], ent["d"]))
    return specs


def _point_hashes(
    spark, point: dict, types: dict, depth: int
) -> dict[str, list[int]]:
    """Bloom probe hashes for a point lookup, computed BY SPARK in one
    1-row job so they are bit-identical to the build side: ``xxhash64``
    hashes the physical type (an int literal and a bigint column hash
    differently), so every probe literal is cast to the column's
    manifest-recorded type before hashing. Atomic types only — a point
    lookup on a struct/array column has no literal form here
    (``read_snapshot`` refuses one before probing)."""
    sel = []
    for c, v in point.items():
        t = types.get(c)
        lit = F.lit(v) if t is None else F.lit(v).cast(t)
        for i in range(depth):
            sel.append(F.xxhash64(lit, F.lit(i)).alias(f"{c}__{i}"))
    row = spark.range(1).select(*sel).first()
    return {c: [row[f"{c}__{i}"] for i in range(depth)] for c in point}


def _bloom_keeps(file_blooms: dict | None, point: dict, hashes: dict) -> bool:
    """True unless SOME probed column's per-file Bloom provably lacks
    the key. A file without an index entry for the column is kept — a
    rewritten/compacted file that lost its bloom can never yield a
    false negative, only a lost skip."""
    if not file_blooms:
        return True
    for c in point:
        entry = file_blooms.get(c)
        if not entry:
            continue
        w, words = entry["w"], entry["words"]
        for i in range(entry["d"]):
            pos = i * w + hashes[c][i] % w
            if not (words.get(str(pos // 64), 0) >> (pos % 64)) & 1:
                return False
    return True


def optimize_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_mb: float = 128,
    cluster_by: tuple[str, ...] | list[str] = (),
    min_file_mb: float | None = None,
    zorder_by: tuple[str, ...] | list[str] = (),
    hilbert_by: tuple[str, ...] | list[str] = (),
) -> int:
    """OPTIMIZE: rewrite the CURRENT snapshot's files into ~target-sized
    ones and commit the rewrite as a new version — same rows, fewer
    files (the small-file debt a streaming `snapshot_sink` accrues one
    commit per micro-batch). Readers never block: until the commit lands
    they resolve the old manifest; after it they see identical data. The
    replaced files stay on disk for time travel until `vacuum`.

    Default rewrite is `coalesce` (shuffle-free concatenation of input
    splits, same as `maintenance.compact_parquet`). ``cluster_by`` makes
    the rewrite a range-cluster instead (Delta ``OPTIMIZE ... ZORDER BY``
    shape): one range shuffle + in-partition sort on the named columns,
    so each output file covers a narrow key range and the recomputed
    manifest min/max stats become maximally tight — file skipping on
    those columns goes from "whatever the ingest order left" to
    near-perfect. Worth the shuffle exactly when reads prune on the
    clustered columns.

    Per-file min/max for the columns the parent manifest tracked are
    RECOMPUTED (not dropped — a compaction that loses its table's data-
    skipping stats un-optimizes every future read), and per-file row
    counts are refreshed as on any commit. Returns the new version.

    ``min_file_mb`` switches to SELECTIVE compaction (Delta's actual
    OPTIMIZE behavior): only files smaller than the threshold are
    rewritten; already-right-sized files are carried into the new
    version verbatim with their stats — on a 100 TB table where a
    streaming sink drips small files next to compacted history, this is
    the difference between rewriting gigabytes and rewriting everything
    (write amplification ∝ small-file debt, not table size). Ignored
    when ``cluster_by`` is set (clustering is global by nature). A
    no-op (0 or 1 small file) returns the current head without
    committing.

    ``zorder_by=(colA, colB, …)`` rewrites in Morton (Z-order) layout
    instead — Delta ``OPTIMIZE … ZORDER BY`` for k-dimensional locality
    (k ≥ 2; real layouts cluster 3–4 columns, e.g. date × key ×
    category): each column min-max-scales to ``min(16, 63//k)`` bits,
    rows range-cluster on the interleaved key (``writers.zorder_key_n``,
    pure shift/and/or — codegen, no UDF), and the recomputed manifest
    stats give every file a compact HYPER-RECTANGLE in the clustered
    space, so ``read_snapshot``'s ``prune`` skips files for predicates
    on ANY clustered column — the property ``cluster_by``'s linear sort
    gives only its leading column. Stats for every clustered column are
    recorded even if the parent tracked none. Mutually exclusive with
    ``cluster_by``.

    Deletion vectors: the full rewrite, ``cluster_by``, and
    ``zorder_by`` paths read through ``read_snapshot`` — DV-aware — so
    on a vectored table they double as a MATERIALIZING optimize
    (vectors folded in, dvs cleared by the overwrite), Delta's
    OPTIMIZE-purges-DVs behavior. The selective path compacts only
    CLEAN small files: DV-carrying files keep their vectors and are
    carried verbatim (use ``materialize_dvs`` to fold them; compacting
    a vectored file raw would resurrect its deleted rows).
    """
    if sum(map(bool, (cluster_by, zorder_by, hilbert_by))) > 1:
        raise ValueError(
            "pass at most one of cluster_by / zorder_by / hilbert_by"
        )
    fs, jvm, head, manifest = _head(spark, table_dir, "optimize_snapshot")
    Path = jvm.org.apache.hadoop.fs.Path
    stats_cols = _stats_cols(manifest)
    sizes = {
        rel: fs.getFileStatus(Path(_data_path(table_dir, rel))).getLen()
        for rel in manifest["files"]
    }

    if min_file_mb is not None and not cluster_by and not zorder_by and not hilbert_by:
        dv_set = set(manifest.get("dvs", {}))
        small = [
            r
            for r in manifest["files"]
            if sizes[r] < min_file_mb * 1024 * 1024 and r not in dv_set
        ]
        if len(small) <= 1:
            return head  # nothing worth compacting
        n = max(1, math.ceil(sum(sizes[r] for r in small) / (target_mb * 1024 * 1024)))
        # a partitioned table's compaction regroups by the spec (the hive
        # split in staging restores one-value-per-file, so the recomputed
        # min==max stats keep partition pruning exact)
        staged = _stage(
            fs, jvm, table_dir, manifest,
            _scan(spark, table_dir, manifest, small).coalesce(n), "o",
            spec=manifest.get("partition_spec") or (),
        )
        # untouched files keep their stats, index and vectors verbatim;
        # compacted replacements get a FRESH bloom at the parent's dial. A
        # removed input file, or one a concurrent MOR delete vectored
        # (staging read it raw — committing would resurrect its deleted
        # rows), refuses
        return _commit(
            fs, jvm, table_dir, _unbucketed,
            probe=(head, manifest), new=staged, removed=small,
            conflict="concurrent commit touched files this OPTIMIZE rewrote "
            "({table_dir} v{cur}); rerun",
            action="optimize",
        )[0]

    n = max(1, math.ceil(sum(sizes.values()) / (target_mb * 1024 * 1024)))
    # read with the manifest's union schema, so an additively evolved
    # table keeps its later-added columns through the rewrite
    current = read_snapshot(spark, table_dir, version=head)
    if cluster_by:
        current = current.repartitionByRange(n, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    elif zorder_by or hilbert_by:
        from jobanalytics_bigdataproject_spark.sources.writers import (
            hilbert_scaled_key,
            zorder_scaled_key,
        )

        curve_cols = zorder_by or hilbert_by
        key_fn = zorder_scaled_key if zorder_by else hilbert_scaled_key
        keyed, _ = key_fn(current, curve_cols)
        current = (
            keyed.repartitionByRange(n, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
        stats_cols = sorted(set(stats_cols) | set(map(str, curve_cols)))
    else:
        current = current.coalesce(n)
    # _rewrite_of: refuse if a concurrent commit (append, MOR delete, …)
    # lands between the read above and the overwrite commit — otherwise
    # its rows would be silently dropped by the rewrite (lost update),
    # unlike the selective path which verifies its inputs in the loop.
    # partition_by re-applies the table's spec (overwrite would otherwise
    # reset it, and DML-straddled files get re-split here).
    return write_snapshot(
        current, table_dir, mode="overwrite", stats_cols=stats_cols,
        partition_by=manifest.get("partition_spec") or (),
        _rewrite_of=head,
    )


_VACUUM_GRACE_S = 600.0  # wall-clock safety margin for in-flight commits


def vacuum(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 2,
    grace_seconds: float = _VACUUM_GRACE_S,
) -> int:
    """Delete data files referenced ONLY by versions older than the last
    ``keep_last`` — those versions stop being time-travelable (their
    manifests are removed too, so a stale read fails loudly instead of
    listing missing files). Returns the number of data files deleted.

    In-flight-commit safety (Delta's retention-window idea): a concurrent
    writer renames its staged files into ``data/`` BEFORE creating its
    manifest, so an unreferenced file is not necessarily debris — it may
    be a commit about to land. Vacuum therefore only deletes unreferenced
    files whose mtime STRICTLY PREDATES the oldest retained manifest:
    every file a real version references was renamed before that
    version's manifest was created, so genuine debris always qualifies,
    while an in-flight commit's files (renamed after the retained history
    was written) never do. The manifest-mtime test alone is commit-count
    based, though: on a busy table, ``keep_last`` commits can land within
    seconds — inside the window between a slow writer's rename and its
    commit (rename preserves mtime, so a data file's mtime is its
    STAGING-write time, which precedes stats collection + constraint
    validation + the commit loop). ``grace_seconds`` closes that hole the
    way Delta's ``deletedFileRetentionDuration`` does: a candidate must
    ALSO be older than ``now - grace_seconds`` wall-clock (default 10
    min) to be reaped, so only a writer stalled longer than the grace
    between rename and commit can lose files. Pass ``grace_seconds=0``
    only in tests or when no writers can be live.

    Driver-side metadata work is O(retained manifests + data files) name
    operations; at object-store scale you'd batch the deletes, but the
    set arithmetic is the same.
    """
    head = current_version(spark, table_dir)
    if head == 0:
        return 0
    keep_from = max(1, head - keep_last + 1)
    res = _reap_before(spark, table_dir, keep_from, head, grace_seconds, False)
    return len(res["data_files"]) + len(res["dv_files"])


def _reap_before(
    spark: SparkSession,
    table_dir: str,
    keep_from: int,
    head: int,
    grace_seconds: float,
    dry_run: bool,
) -> dict:
    """Shared retention machinery for ``vacuum`` (count-based) and
    ``expire_snapshots`` (time-based): retain versions ``keep_from..head``,
    remove every older manifest, and delete data/DV files referenced by NO
    retained version — subject to BOTH in-flight-commit guards (mtime
    strictly before the oldest retained manifest AND older than
    ``grace_seconds`` wall-clock). ``dry_run=True`` mutates nothing and
    returns exactly what a real run would remove."""
    fs, _, jvm = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    referenced: set[str] = set()
    referenced_dv: set[str] = set()
    cutoff: int | None = None  # oldest retained manifest's mtime (ms)
    for v in range(keep_from, head + 1):
        try:
            man = _read_manifest(fs, jvm, table_dir, v)
        except FileNotFoundError:
            continue
        if cutoff is None:
            cutoff = fs.getFileStatus(
                _manifest_path(jvm, table_dir, v)
            ).getModificationTime()
        referenced.update(man["files"])
        referenced_dv.update(man.get("dv_files", []))
    # Branch/tag protection (sources/branches.py lifecycle): a version
    # pinned by a TAG keeps its manifest and file references however old
    # it is, and a file referenced by ANY live branch's manifests is not
    # reapable — branches reference main's files by absolute path, so
    # relativize refs that point into this table's own data/dv dirs.
    tagged: set[int] = set()
    tags_path = Path(f"{table_dir}/{_LOG}/tags")
    if fs.exists(tags_path):
        for st in fs.listStatus(tags_path):
            if not st.getPath().getName().endswith(".json"):
                continue
            stream = fs.open(st.getPath())
            try:
                text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            finally:
                stream.close()
            try:
                tagged.add(int(json.loads(text)["version"]))
            except (ValueError, KeyError, json.JSONDecodeError):
                continue  # malformed tag: never a reason to widen reaping
    for v in sorted(tagged):
        if keep_from <= v <= head:
            continue  # already counted as retained
        try:
            man = _read_manifest(fs, jvm, table_dir, v)
        except FileNotFoundError:
            continue  # tag of an already-vacuumed version (pre-existing)
        referenced.update(man["files"])
        referenced_dv.update(man.get("dv_files", []))
    branches_root = Path(f"{table_dir}/_branches")
    if fs.exists(branches_root):
        main_prefix = f"{table_dir}/"
        for bst in fs.listStatus(branches_root):
            if not bst.isDirectory():
                continue
            blog = Path(f"{bst.getPath().toString()}/{_LOG}")
            if not fs.exists(blog):
                continue
            bdir = bst.getPath().toString()
            for mst in fs.listStatus(blog):
                nm = mst.getPath().getName()
                if not (nm.startswith("v") and nm.endswith(".json")):
                    continue
                try:
                    bman = _read_manifest(fs, jvm, bdir, int(nm[1:-5]))
                except (FileNotFoundError, ValueError, IOError):
                    continue
                for ref in bman.get("files", []):
                    if ref.startswith(main_prefix):
                        referenced.add(ref[len(main_prefix):])
                for ref in bman.get("dv_files", []):
                    if ref.startswith(main_prefix):
                        referenced_dv.add(ref[len(main_prefix):])
                # dvs map file-ref -> deleted-count; its KEYS may cite
                # main files whose dv sidecars live in dv_files already,
                # but the data-file keys themselves must stay alive too
                for ref in bman.get("dvs", {}):
                    if ref.startswith(main_prefix):
                        referenced.add(ref[len(main_prefix):])
    out: dict = {"data_files": [], "dv_files": [], "manifests": []}
    # wall-clock grace: reap only files old enough that any writer which
    # staged them has had grace_seconds to finish its commit (ms clock)
    wall_cutoff = (time.time() - grace_seconds) * 1000.0
    # data files and deletion-vector sidecars only dropped versions cite
    for sub, kept, key in (
        (_DATA, referenced, "data_files"), (_DV, referenced_dv, "dv_files")
    ):
        root = Path(f"{table_dir}/{sub}")
        for st in fs.listStatus(root) if fs.exists(root) else ():
            rel, mtime = f"{sub}/{st.getPath().getName()}", st.getModificationTime()
            if rel not in kept and (cutoff is None or mtime < cutoff) and (
                mtime < wall_cutoff
            ):
                out[key].append(rel)
                if not dry_run:
                    fs.delete(st.getPath(), True)
    for v in range(1, keep_from):
        if v in tagged:
            continue  # a tag pins its version's manifest forever
        mp = _manifest_path(jvm, table_dir, v)
        if fs.exists(mp):
            out["manifests"].append(f"{_LOG}/v{v:08d}.json")
            if not dry_run:
                fs.delete(mp, False)
    # bucketed-read hardlink views of expired versions go too: the view's
    # links keep the data inodes alive past the data/ unlink, which is
    # exactly right for RETAINED versions and a disk leak for expired ones
    bv_path = Path(f"{table_dir}/{_BUCKETVIEW}")
    if fs.exists(bv_path):
        for st in fs.listStatus(bv_path):
            name = st.getPath().getName()
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < keep_from:
                out.setdefault("bucket_views", []).append(f"{_BUCKETVIEW}/{name}")
                if not dry_run:
                    fs.delete(st.getPath(), True)
    return out


def expire_snapshots(
    spark: SparkSession,
    table_dir: str,
    older_than_ts: float,
    keep_last: int = 1,
    grace_seconds: float = _VACUUM_GRACE_S,
    dry_run: bool = False,
) -> dict:
    """Time-based retention (Iceberg ``expireSnapshots(olderThan=…)``):
    stop retaining every version whose COMMIT time (the manifest file's
    mtime — the same clock ``version_as_of`` resolves against) is
    strictly before epoch-seconds ``older_than_ts``, then reap data/DV
    files no retained version references, under the same
    in-flight-commit protections as ``vacuum`` (oldest-retained-manifest
    mtime guard + ``grace_seconds`` wall-clock guard).

    ``keep_last`` (min 1) versions are ALWAYS retained regardless of
    age — the table head can never expire. Retention is a contiguous
    suffix: the expiry boundary is the newest version committed before
    ``older_than_ts``; every earlier version goes, every later version
    stays (manifests are totally ordered by commit time, so there is no
    interleaving to worry about).

    ``dry_run=True`` lists exactly what a real run would remove and
    mutates NOTHING. Returns ``{"expired_versions": [...], "data_files":
    [...], "dv_files": [...], "manifests": [...], "dry_run": bool}``.
    """
    head = current_version(spark, table_dir)
    empty = {
        "expired_versions": [], "data_files": [], "dv_files": [],
        "manifests": [], "dry_run": dry_run,
    }
    if head == 0:
        return empty
    fs, _, jvm = _fs(spark, table_dir)
    keep_floor = max(1, head - max(1, keep_last) + 1)
    keep_from = 1
    for v in range(1, keep_floor + 1):
        mp = _manifest_path(jvm, table_dir, v)
        if not fs.exists(mp):
            keep_from = v + 1  # already expired/vacuumed earlier
            continue
        if fs.getFileStatus(mp).getModificationTime() / 1000.0 < older_than_ts:
            keep_from = v + 1
        else:
            break  # commit times are monotone: nothing newer can qualify
    keep_from = min(keep_from, keep_floor)
    if keep_from <= 1:
        return empty
    res = _reap_before(spark, table_dir, keep_from, head, grace_seconds, dry_run)
    res["expired_versions"] = [
        v for v in range(1, keep_from)
        if f"{_LOG}/v{v:08d}.json" in set(res["manifests"])
    ]
    res["dry_run"] = dry_run
    return res


def _pruned(manifest: dict, rels, prune: dict | None) -> list[str]:
    """``rels`` minus the files whose manifest stats provably miss
    ``prune`` (``read_snapshot``'s contract)."""
    stats = manifest.get("stats", {})
    return [rel for rel in rels if not prune or _overlaps(stats.get(rel), prune)]


def _match(
    spark: SparkSession, table_dir: str, manifest: dict, rels, select=None
) -> DataFrame:
    """The DML match step (module docstring), also the deletion-vector
    read: the live rows of ``rels`` with ``__file`` (file name) and
    ``__pos`` (parquet row index, stable per file) attached, narrowed by
    ``select(live)``; Catalyst prunes the scan to the columns used.
    Fully-deleted files (DV count == row count) are never opened; files
    carrying a DV are anti-joined against the sidecars, the rest take
    the plain scan. No broadcast hint on the anti-join: at a high delete
    rate the DV side is corpus-scale and would OOM the driver; AQE still
    broadcasts it when it is actually small."""
    dvs, rows = manifest.get("dvs", {}), manifest.get("rows", {})
    live = [rel for rel in rels if rel not in dvs or rows.get(rel) is None
            or int(dvs[rel]) < int(rows[rel])]

    def scan(part):
        return _scan(spark, table_dir, manifest, part).select(
            "*",
            F.col("_metadata.file_name").alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    vectored = [rel for rel in live if rel in dvs]
    plain = [rel for rel in live if rel not in dvs]
    parts = [scan(plain)] if plain else []
    if vectored:
        dv = _dv_frame(spark, table_dir, manifest)
        parts.insert(0, scan(vectored).join(dv, ["__file", "__pos"], "left_anti"))
    if not parts:
        parts = [scan(rels[:1] or manifest["files"][:1]).limit(0)]
    out = functools.reduce(DataFrame.unionByName, parts)
    return select(out) if select else out


def _hits(match: DataFrame, rels, *aggs) -> dict:
    """``{rel: row}`` for the files of ``rels`` a match hits, in ``rels``
    order, from one grouped collect (metadata-scale): ``row["n"]``
    counts the matched rows, ``aggs`` add columns."""
    per_file = match.groupBy("__file").agg(F.count(F.lit(1)).alias("n"), *aggs)
    got = {r["__file"]: r for r in per_file.collect()}
    names = {rel: rel.rsplit("/", 1)[-1] for rel in rels}
    return {rel: got[name] for rel, name in names.items() if name in got}


def _vector(fs, jvm, table_dir: str, match: DataFrame, rels):
    """The MOR write step: the match's positions as ONE sidecar under
    ``dv/``, counted per file of ``rels``. Returns ``(sidecar, {rel:
    rows})``, or ``(None, {})`` and no sidecar when nothing matched."""
    sidecar = f"{_DV}/v{uuid.uuid4().hex[:12]}"
    path = f"{table_dir}/{sidecar}"
    match.select("__file", "__pos").write.parquet(path)
    written = match.sparkSession.read.schema(_DV_SCHEMA).parquet(path)
    counts = {rel: r["n"] for rel, r in _hits(written, rels).items()}
    if not counts:
        _drop_paths(fs, jvm, table_dir, sidecar)
        return None, {}
    return sidecar, counts


def _drop_paths(fs, jvm, table_dir: str, *rels) -> None:
    """Delete staged paths (relative to ``table_dir``; None skipped)."""
    for rel in rels:
        if rel:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{rel}"), True)


def _stage(
    fs, jvm, table_dir: str, manifest: dict, df: DataFrame, prefix: str,
    what: str | None = None, sidecar: str | None = None, spec=(),
) -> _Staged:
    """Stage ``df`` (hive-split by ``spec``), CHECK-validate it when
    ``what`` names the refusal (removing the staging dir and the op's
    ``sidecar`` first), collect stats/blooms at the head's columns and
    dials, and move it under ``data/`` as ``{prefix}{tag}-…``."""
    spark = df.sparkSession
    tag = uuid.uuid4().hex[:12]
    staging = f"{table_dir}/staging-{tag}"
    _stage_df(df, staging, spec)
    if what:
        _check_constraints(
            spark, staging, df.schema, manifest.get("constraints", {}), what,
            lambda: _drop_paths(fs, jvm, table_dir, f"staging-{tag}", sidecar),
        )
    return _move_staged(
        fs, jvm, table_dir, staging, f"{prefix}{tag}",
        _staged_meta(
            spark, staging, df.schema, _stats_cols(manifest), _bloom_specs(manifest)
        ),
    )


def _set_projection(manifest: dict, table_dir: str, assignments: dict[str, str]):
    """UPDATE's SET, checked against the manifest schema before any scan.
    Returns ``project(df, cond=None)``: ``df``'s data columns with each
    target replaced by its expression over the OLD row, cast to the
    column's type (where ``cond`` holds, when given)."""
    if not assignments:
        raise ValueError("UPDATE requires at least one SET assignment")

    def check(cols):
        unknown = sorted(set(assignments) - set(cols))
        if unknown:
            raise ValueError(
                f"UPDATE SET targets {unknown} do not exist in {table_dir} — "
                "UPDATE never adds columns (append with schema evolution instead)"
            )

    if manifest.get("schema"):
        check(_schema_fields(manifest["schema"]))

    def project(df: DataFrame, cond=None) -> DataFrame:
        data = [f for f in df.schema.fields if f.name not in ("__file", "__pos")]
        check(f.name for f in data)  # also covers schema-less manifests

        def value(f):
            new = F.expr(assignments[f.name]).cast(f.dataType)
            return new if cond is None else F.when(cond, new).otherwise(F.col(f.name))

        return df.select(
            *[value(f).alias(f.name) if f.name in assignments else F.col(f.name)
              for f in data]
        )

    return project


def _merge_source(
    spark: SparkSession, table_dir: str, manifest: dict, source: DataFrame,
    keys: list[str], delete_condition: str | None, op: str,
):
    """MERGE's source side, checked before the target is touched: without
    a ``delete_condition`` the source must match the table schema
    exactly, with one it may carry extra columns (condition fuel only).
    NULL merge keys refuse (Delta's stance): the match and rewrite joins
    are null-safe ``<=>`` while the NOT-MATCHED anti-join uses plain
    equality, so a NULL-key source row against a NULL-key target row
    would update the target IN PLACE and insert a duplicate. A key held
    by >1 source row has no well-defined update and refuses as
    ambiguous.

    Returns ``(join, inserts, merged)``. ``join(target, how)`` joins
    target rows ``t`` to the source ``s`` on null-safe key equality; the
    source carries its ``__del`` flag (``delete_condition`` true, NULL is
    not deleted). ``inserts`` are the NOT-MATCHED source rows (a
    delete-flagged one never inserts: absent-key delete is a no-op).
    ``merged(joined)`` is what a join writes: matched rows take every
    source column (a NULL source value still wins, MERGE's UPDATE SET
    t.c=s.c), delete-flagged matches drop, unmatched rows stay."""
    tcols = [f["name"] for f in manifest.get("schema", {}).get("fields", [])]
    if tcols and delete_condition is None and source.columns != tcols:
        missing = set(tcols) ^ set(source.columns)
        raise ValueError(
            f"{op} requires the source to match the table schema "
            f"{tcols}; differ on {sorted(missing) or 'column order'}"
        )
    if tcols and not set(tcols) <= set(source.columns):
        raise ValueError(
            f"{op} source is missing table columns "
            f"{sorted(set(tcols) - set(source.columns))}"
        )
    out_cols = tcols or list(source.columns)
    src = source.withColumn(
        "__del",
        F.coalesce(F.expr(delete_condition), F.lit(False))
        if delete_condition is not None
        else F.lit(False),
    )
    null_key = functools.reduce(lambda a, b: a | b, (F.col(k).isNull() for k in keys))
    if source.filter(null_key).limit(1).collect():  # key-pruned limit-1 scans
        raise ValueError(
            f"{op} source has NULL value(s) in merge key column(s) {keys} — "
            "NULL merge keys are refused (they never equi-match, so the row "
            "could both update a NULL-key target row and insert a duplicate); "
            "filter or impute the key column first"
        )
    dup = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{op} source has multiple rows for key "
            f"{tuple(dup[0][k] for k in keys)} — ambiguous MERGE refused"
        )
    live = _match(spark, table_dir, manifest, manifest["files"])
    inserts = src.filter(~F.col("__del")).join(
        live.select(*keys), on=keys, how="left_anti"
    ).select(*out_cols)

    def join(target: DataFrame, how: str = "inner") -> DataFrame:
        on = F.expr(" AND ".join(f"t.{k} <=> s.{k}" for k in keys))
        return target.alias("t").join(src.alias("s"), on=on, how=how)

    def merged(joined: DataFrame) -> DataFrame:
        hit = F.col(f"s.{keys[0]}").isNotNull()  # source keys are non-NULL
        return joined.filter(~(hit & F.col("s.__del"))).select(
            *[F.col(f"t.{k}").alias(k) for k in keys],
            *[
                F.when(hit, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                for c in out_cols
                if c not in keys
            ],
        ).select(*out_cols)

    return join, inserts, merged


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    prune: dict | None = None,
    _drop: list[str] | None = None,
) -> dict:
    """Copy-on-write DELETE (Delta ``DELETE FROM`` semantics) — the
    right-to-be-forgotten propagation primitive: remove every row where
    ``condition`` is TRUE by rewriting ONLY the files that actually
    contain matching rows; every other file is carried into the new
    version untouched (no copy, no I/O). Rows where the condition is
    NULL are kept, matching SQL DELETE.

    Two pruning tiers before any rewrite:

    1. ``prune={"col": (lo, hi)}`` — manifest-stats file skipping (same
       contract as ``read_snapshot``): files provably outside the range
       are not even SCANNED for matches.
    2. a distributed match probe — one filtered aggregate per data
       file over the candidate files (``_match``) — finds which files
       truly contain matches; scan-only candidates are kept as-is.

    The rewrite reads only the hit files and writes survivors; per-file
    min/max stats are recomputed for the columns the parent manifest
    tracked. Untouched files keep their stats verbatim (deletion only
    ever SHRINKS a file's value range, so inherited stats stay
    correct for skipping — just possibly less tight).

    Concurrency: the manifest commit uses the same optimistic
    create-if-absent loop as ``write_snapshot``; on a lost race the head
    is re-read and the delete REBASES onto it if every hit file is still
    present (a concurrent append commutes with this delete). If a hit
    file vanished from the head (concurrent OPTIMIZE/overwrite/delete
    touched the same data), the staged files are removed and a
    ``RuntimeError`` surfaces — serializable behavior, never a lost
    delete or a resurrect.

    ``_drop`` (internal — ``delete_range``'s fast tier) names files whose
    EVERY row provably matches the condition: they are removed from the
    manifest without being read, rewritten, or probed — zero I/O.

    Returns ``{"version", "rows_deleted", "files_rewritten",
    "files_dropped", "files_untouched", "files_skipped_by_stats"}``; a
    no-match call commits nothing and returns the current version with
    zero counts.
    """
    fs, jvm, head, manifest = _head(spark, table_dir, "delete_where")
    all_files = manifest["files"]
    dropped = set(_drop or ()) & set(all_files)
    drop = [rel for rel in all_files if rel in dropped]
    candidates = _pruned(
        manifest, [rel for rel in all_files if rel not in dropped], prune
    )
    _refuse_dvs(manifest, candidates + drop, "delete_where")
    cond = F.expr(condition)
    hits = _hits(
        _match(spark, table_dir, manifest, candidates, lambda t: t.filter(cond)),
        candidates,
    ) if candidates else {}
    version, rows_deleted = head, 0
    if hits or drop:
        rows_deleted = sum(r["n"] for r in hits.values()) + sum(
            int(manifest.get("rows", {}).get(rel, 0)) for rel in drop
        )
        # COW: rewrite the hit files' survivors (NULL-condition rows
        # kept) with the manifest's union schema, so hit files older than
        # an additive evolution rewrite with typed NULLs. Survivors
        # already satisfied every CHECK: no re-validation. Hit files are
        # DV-free (_refuse_dvs), and the commit refuses one vectored since
        # (the staged survivors would resurrect its deleted rows)
        staged = _stage(
            fs, jvm, table_dir, manifest,
            _scan(spark, table_dir, manifest, list(hits), merge_schema=True)
            .filter(~cond | cond.isNull()), "d",
        ) if hits else _NO_FILES
        version = _commit(
            fs, jvm, table_dir, _unbucketed, probe=(head, manifest), new=staged,
            removed=list(hits) + drop,
            conflict="concurrent commit touched files this DELETE rewrote "
            "({table_dir} v{cur}); rerun the delete against the new head",
            action="delete", condition=condition, rows_deleted=rows_deleted,
        )[0]
    return {
        "version": version, "rows_deleted": rows_deleted,
        "files_rewritten": len(hits), "files_dropped": len(drop),
        "files_untouched": len(all_files) - len(hits) - len(drop),
        "files_skipped_by_stats": len(all_files) - len(candidates) - len(drop),
    }


def _sql_lit(v) -> str:
    """SQL literal for a Python range bound (int/float/str/date/ts)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        # CAST from the string form: exact, and immune to the
        # scientific-notation forms Spark would parse as DOUBLE
        return f"CAST('{v}' AS DECIMAL(38,18))"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise TypeError(f"unsupported range bound {v!r} ({type(v).__name__})")


def delete_range(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
) -> dict:
    """Retention-expiry DELETE: remove every row with ``col BETWEEN lo
    AND hi`` using the same 3-tier file classification as
    ``count_where`` —

      - files provably DISJOINT from [lo, hi] → untouched, never read;
      - files provably CONTAINED in [lo, hi] with zero NULLs in ``col``
        (manifest non-null count == row count — NULL is not BETWEEN
        anything, so a file with NULLs has survivors) → dropped from the
        manifest with ZERO I/O, the DROP PARTITION fast path;
      - boundary-straddling files → the normal copy-on-write rewrite.

    On a table clustered by ``col`` (``optimize_snapshot(cluster_by=…)``
    or ``repartitionByRange`` at write), expiring an old time range
    drops whole files and rewrites O(1) boundary files — at 100 TB this
    is the difference between a retention job that finishes in seconds
    (manifest arithmetic + two file rewrites) and one that rewrites a
    third of the table. Files without stats on ``col`` fall to the scan
    tier — degraded cost, never a wrong answer. Bounds may be
    int/float/str/date/datetime; date-typed stats compare as ISO strings
    (lexicographic == chronological).

    Same commit semantics as ``delete_where`` (one atomic version,
    optimistic rebase over concurrent appends, refusal if a concurrent
    commit touched a hit or dropped file). Returns ``delete_where``'s
    dict — ``files_dropped`` counts the zero-I/O tier.
    """
    _, _, _, manifest = _head(spark, table_dir, "delete_range")
    rows, stats = manifest.get("rows", {}), manifest.get("stats", {})
    drop = []
    for rel in manifest["files"]:
        rng, n = stats.get(rel, {}).get(col), rows.get(rel)
        if rng and n and len(rng) > 2 and int(rng[2]) == int(n) and (
            _stats_vs_bounds(rng[0], rng[1], lo, hi)[1]  # covered
        ):
            drop.append(rel)
    return delete_where(
        spark,
        table_dir,
        # a derived-transform label (days(ts), …) translates to its SQL
        # for the straddler rewrite; identity columns pass through
        f"{_spec_sql(col)} BETWEEN {_sql_lit(lo)} AND {_sql_lit(hi)}",
        prune={col: (lo, hi)},  # RAW bounds: _overlaps picks the domain
        _drop=drop,
    )


def update_where(
    spark: SparkSession,
    table_dir: str,
    assignments: dict[str, str],
    condition: str,
    prune: dict | None = None,
) -> dict:
    """Copy-on-write UPDATE (Delta ``UPDATE … SET`` semantics),
    completing the DML triad with ``delete_where`` and ``merge_into``:
    every row where ``condition`` is TRUE gets each SET column replaced
    by its expression; rows where the condition is FALSE **or NULL** are
    carried byte-identical, matching SQL UPDATE.

    ``assignments`` maps existing column names to SQL expression strings
    evaluated against the OLD row — all assignments are simultaneous
    (``{"a": "b", "b": "a"}`` swaps), exactly like SQL SET. Each result
    is cast to the column's current type: UPDATE never changes the
    schema (new columns are schema evolution — ``write_snapshot``'s
    job, refused here).

    Cost shape (the 100 TB contract): manifest-stats pruning
    (``prune={"col": (lo, hi)}``) drops provably-unmatching files
    unread, a distributed per-file match probe finds which
    remaining files truly contain matches, and ONLY those are rewritten
    — every other file is carried into the new version with zero I/O.
    Rewritten files get fresh min/max/non-null stats and Bloom entries
    (an update can GROW a value range or change point-lookup keys, so
    unlike DELETE nothing is inherited); untouched files keep theirs
    verbatim.

    Staged rows are validated against the table's CHECK constraints
    before any file lands in ``data/`` (an UPDATE can violate just as an
    insert can) — a violation removes the staging atomically and raises,
    nothing committed. A cardinality tripwire asserts the rewrite
    preserved row counts (an UPDATE must never add or lose rows).

    Concurrency follows ``delete_where``: optimistic manifest commit,
    rebase over concurrent appends, loud ``RuntimeError`` if a
    concurrent commit removed a rewritten file or changed the constraint
    set. ``read_changes_cdf`` of the commit shows exactly the changed
    rows as delete(old)+insert(new) pairs — unchanged survivors cancel
    in the multiset diff.

    Returns ``{"version", "rows_updated", "files_rewritten",
    "files_untouched", "files_skipped_by_stats"}``; a no-match call
    commits nothing and returns the current version with zero counts.
    """
    fs, jvm, head, manifest = _head(spark, table_dir, "update_where")
    project = _set_projection(manifest, table_dir, assignments)
    all_files = manifest["files"]
    candidates = _pruned(manifest, all_files, prune)
    _refuse_dvs(manifest, candidates, "update_where")
    cond = F.expr(condition)
    hits = _hits(
        _match(spark, table_dir, manifest, candidates, lambda t: t.filter(cond)),
        candidates,
    ) if candidates else {}
    version, rows_updated = head, sum(r["n"] for r in hits.values())
    if hits:
        # COW: rewrite ONLY the hit files, with the manifest's union
        # schema (delete_where's schema-evolution hazard); FALSE and
        # NULL-condition rows pass through unchanged
        staged = _stage(
            fs, jvm, table_dir, manifest,
            project(
                _scan(spark, table_dir, manifest, list(hits), merge_schema=True),
                cond,
            ),
            "u", "updated row(s) — UPDATE refused",
        )
        staged_total = sum(staged.rows.values())
        hit_rows_before = sum(
            int(manifest.get("rows", {}).get(rel, 0)) for rel in hits
        )
        if manifest.get("rows") and staged_total != hit_rows_before:
            _drop_paths(fs, jvm, table_dir, *staged.files)
            raise RuntimeError(
                f"UPDATE cardinality tripwire: rewrote {staged_total} "
                f"rows from {hit_rows_before} — an assignment expression changed "
                "row counts, refusing to commit"
            )
        # hit files are DV-free (_refuse_dvs at probe time); the commit
        # refuses one vectored since (the staged rewrite would resurrect it)
        version = _commit(
            fs, jvm, table_dir, _unbucketed, probe=(head, manifest), new=staged,
            removed=list(hits),
            conflict="concurrent commit touched files this UPDATE rewrote "
            "({table_dir} v{cur}); rerun the update against the new head",
            validated=manifest.get("constraints", {}), redo="update",
            action="update", condition=condition,
            set=dict(sorted(assignments.items())), rows_updated=rows_updated,
        )[0]
    return {
        "version": version, "rows_updated": rows_updated,
        "files_rewritten": len(hits), "files_untouched": len(all_files) - len(hits),
        "files_skipped_by_stats": len(all_files) - len(candidates),
    }


def _dv_frame(spark: SparkSession, table_dir: str, manifest: dict):
    """The manifest's ACTIVE deletion-vector frame — the union of its
    ``dv_files`` sidecars, columns ``_DV_SCHEMA`` —
    or ``None`` when the version carries no deletion vectors. Sidecar
    rows for data files no longer live are harmless: file names are
    uuid-tagged and never reused, so a stale position can never match a
    live row."""
    dv_files = manifest.get("dv_files", [])
    if not dv_files:
        return None
    return spark.read.schema(_DV_SCHEMA).parquet(
        *(_data_path(table_dir, rel) for rel in dv_files)
    )


def _read_with_dvs(spark: SparkSession, table_dir: str, manifest: dict, rels):
    """Scan ``rels`` with the manifest's deletion vectors applied: the
    live rows ``_match`` finds, without their positions."""
    return _match(spark, table_dir, manifest, rels).drop("__file", "__pos")


def _refuse_dvs(manifest: dict, rels, op: str) -> None:
    """Copy-on-write paths read data files RAW — on a file carrying a
    deletion vector that would resurrect deleted rows. Refuse loudly and
    name the cure."""
    dv_hits = sorted(set(rels) & set(manifest.get("dvs", {})))
    if dv_hits:
        raise ValueError(
            f"{op} would read {len(dv_hits)} file(s) carrying deletion "
            f"vectors (e.g. {dv_hits[0]!r}) — run materialize_dvs() first "
            "to fold the merge-on-read deletes into the data files"
        )


def _mapping(manifest: dict) -> dict | None:
    """The manifest's logical→physical column mapping, or None when the
    table has never been renamed/dropped (identity; zero read overhead)."""
    return manifest.get("column_mapping")


def _to_physical(manifest: dict, cols) -> list[str]:
    m = _mapping(manifest) or {}
    return [m.get(str(c), str(c)) for c in cols]


def _apply_mapping(df: DataFrame, manifest: dict) -> DataFrame:
    """Resolve PHYSICAL file columns to the manifest schema's LOGICAL
    names (Iceberg-style column mapping): select exactly the schema's
    fields, aliasing each from its mapped physical name. ``_scan`` read
    the files with that schema, so every field is present (typed NULLs
    where a file lacks it) and dropped columns are never read (their
    physical data stays in the files for older versions' reads).
    Identity tables pass through untouched."""
    m = _mapping(manifest)
    if m is None:
        return df
    return df.select(
        *[
            F.col(m.get(f["name"], f["name"])).alias(f["name"])
            for f in manifest["schema"]["fields"]
        ]
    )


def _refuse_mapping(manifest: dict, op: str) -> None:
    """DML/maintenance paths take SQL condition strings and write staged
    files keyed by manifest stats — both are defined over physical names,
    which diverge from the user's logical names once a rename/drop
    landed. Refuse loudly and name the cure (a full-rewrite overwrite
    materializes the mapping: files rewritten with logical names, the
    mapping reset)."""
    if _mapping(manifest) is not None:
        raise ValueError(
            f"{op} on a column-mapped table (renamed/dropped columns) is "
            "unsupported — materialize the mapping first: "
            "write_snapshot(read_snapshot(...), mode='overwrite')"
        )


def delete_where_mor(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    prune: dict | None = None,
) -> dict:
    """Merge-on-read DELETE via deletion vectors (Delta DV / Iceberg v2
    position-delete shape): instead of rewriting every file containing a
    match (``delete_where``'s copy-on-write), the commit writes ONE small
    sidecar of (file_name, row_index) positions and flips manifest
    metadata — no data file is rewritten, however many are touched.
    ``read_snapshot`` applies the vectors with an anti-join at scan time;
    fully-deleted files are never even opened.

    This is the 100 TB trade: a delete touching one row in each of
    10,000 files costs one position-list write instead of 10,000 file
    rewrites; the read side pays one (file, pos) anti-join until
    ``materialize_dvs`` (or any OPTIMIZE-style rewrite) folds the
    vectors in. Write-cheap, read-taxed — the opposite corner from
    ``delete_where``, both correct.

    Positions come from the parquet reader's ``_metadata.row_index`` —
    stable per file by construction — and already-deleted rows are
    excluded from the probe, so repeated MOR deletes never double-count
    and per-file counts in the manifest stay exact (``metadata_agg``'s
    COUNT law subtracts them). Rows where ``condition`` is NULL are
    kept, matching SQL DELETE. ``prune`` skips provably-unmatching files
    before the probe scan, same contract as ``delete_where``.

    Manifest bookkeeping: ``dvs`` maps each affected data file to its
    deleted-row count; ``dv_files`` lists the active sidecars. File
    min/max stats are NOT recomputed (deletion only shrinks a range, so
    stale bounds stay safe for *skipping*) — which is exactly why
    ``metadata_agg`` refuses MIN/MAX over DV-carrying files.

    Concurrency: optimistic commit; rebases over concurrent appends and
    over MOR deletes of OTHER files; refuses (``RuntimeError``) if a
    concurrent commit removed a hit file or changed a hit file's DV
    entry (overlapping position sets would double-count).

    Returns ``{"version", "rows_deleted", "files_with_dvs",
    "files_rewritten" (always 0), "files_skipped_by_stats"}``.
    """
    return _mor_delete(
        spark, table_dir, lambda live: live.filter(F.expr(condition)),
        condition, prune, "delete_where_mor",
    )


def _mor_delete(
    spark: SparkSession,
    table_dir: str,
    select,
    condition_desc: str,
    prune: dict | None,
    op: str,
) -> dict:
    """``delete_where_mor``'s contract; ``select(live)`` picks the rows."""
    fs, jvm, head, manifest = _head(spark, table_dir, op)
    all_files = manifest["files"]
    candidates = _pruned(manifest, all_files, prune)
    version, counts = head, {}
    if candidates:
        sidecar, counts = _vector(
            fs, jvm, table_dir,
            _match(spark, table_dir, manifest, candidates, select), candidates,
        )
    rows_deleted = sum(counts.values())
    if counts:
        version = _commit(
            fs, jvm, table_dir, probe=(head, manifest), removed=(),
            vectored=counts, sidecar=sidecar,
            conflict="concurrent commit touched {rel} after this MOR delete "
            "probed it ({table_dir} v{cur}); rerun against the new head",
            action="mor_delete", condition=condition_desc,
            rows_deleted=rows_deleted,
        )[0]
    return {
        "version": version, "rows_deleted": rows_deleted,
        "files_with_dvs": len(counts), "files_rewritten": 0,
        "files_skipped_by_stats": len(all_files) - len(candidates),
    }


def delete_keys_mor(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key_col: str,
    prune: dict | None = None,
) -> dict:
    """Merge-on-read DELETE by KEY SET: vector out every live row whose
    ``key_col`` appears in the ``keys`` frame — the bulk-erasure shape a
    SQL condition can't express at scale (a GDPR user-id list, a dedup
    pass's loser set, a contamination blocklist of document ids). One
    semi-join against the key frame finds the positions; the commit is
    the same single-sidecar, zero-rewrite ``delete_where_mor`` contract.

    This is the corpus-hygiene primitive: near-dup detection emits
    millions of loser doc_ids, and folding them into a 100 TB documents
    table costs one position-sidecar write instead of rewriting every
    file that holds a duplicate. The key frame may be arbitrarily large
    — it shuffles in the semi-join, never collects; AQE broadcasts it
    when it is actually small. Keys absent from the table are no-ops;
    NULL keys never match (semi-join equality), matching SQL
    ``IN``-list semantics; duplicate keys in the frame are harmless
    (semi-join, not multiset).

    Same concurrency, bookkeeping, and result dict as
    ``delete_where_mor``; the manifest records the delete as
    ``key IN <key_col list>``.
    """
    keyed = keys.select(F.col(key_col)).where(F.col(key_col).isNotNull())
    return _mor_delete(
        spark,
        table_dir,
        lambda live: live.join(keyed, on=key_col, how="left_semi"),
        f"{key_col} IN (<keys frame>)",
        prune,
        "delete_keys_mor",
    )


def update_where_mor(
    spark: SparkSession,
    table_dir: str,
    assignments: dict[str, str],
    condition: str,
    prune: dict | None = None,
) -> dict:
    """Merge-on-read UPDATE — deletion vector + reinsert, how Delta
    executes UPDATE when deletion vectors are enabled: ONE commit marks
    every matched position deleted in a sidecar AND appends new file(s)
    holding just the updated rows. No existing data file is rewritten;
    cost scales with the MATCHED rows, not with how many files they are
    spread across — the sparse-update dual of ``update_where``'s
    copy-on-write (which rewrites every hit file in full and stays the
    right call when updates are dense).

    Same SET semantics as ``update_where``: simultaneous assignments
    over the OLD row, cast to the column's existing type, new columns
    refused, FALSE/NULL-condition rows untouched (they are simply never
    vectored). Updated rows are CHECK-validated before anything lands; a
    cardinality tripwire asserts reinserted == vectored. Appended files
    get fresh stats/Bloom entries; untouched files keep theirs.

    ``read_changes_cdf`` of the commit shows exactly delete(old) — from
    the vector delta — plus insert(new) — from the appended files.
    ``metadata_agg`` COUNT is unchanged by construction (n added == n
    vectored). Unlike the COW paths this works fine on a table already
    carrying deletion vectors: the probe excludes vectored rows, so
    updates never resurrect or double-apply.

    Concurrency follows ``delete_where_mor``: optimistic commit,
    rebases over appends and over commits touching OTHER files, refuses
    if a concurrent commit removed or re-vectored a hit file, or
    changed the constraint set. Returns ``{"version", "rows_updated",
    "files_with_dvs", "files_added", "files_rewritten" (always 0),
    "files_skipped_by_stats"}``.
    """
    fs, jvm, head, manifest = _head(spark, table_dir, "update_where_mor")
    project = _set_projection(manifest, table_dir, assignments)
    all_files = manifest["files"]
    candidates = _pruned(manifest, all_files, prune)
    version, counts, staged = head, {}, _NO_FILES
    if candidates:
        cond = F.expr(condition)
        matched = _match(
            spark, table_dir, manifest, candidates, lambda t: t.filter(cond)
        ).persist()
        try:
            updated = project(matched)
            sidecar, counts = _vector(fs, jvm, table_dir, matched, candidates)
            if counts:
                staged = _stage(
                    fs, jvm, table_dir, manifest, updated, "w",
                    "updated row(s) — UPDATE refused", sidecar,
                )
        finally:
            matched.unpersist()
    rows_updated = sum(counts.values())
    if counts:
        staged_total = sum(staged.rows.values())
        if staged_total != rows_updated:
            _drop_paths(fs, jvm, table_dir, *staged.files, sidecar)
            raise RuntimeError(
                f"UPDATE cardinality tripwire: reinserted "
                f"{staged_total} rows for {rows_updated} vectored — "
                "an assignment expression changed row counts, refusing to commit"
            )
        version = _commit(
            fs, jvm, table_dir, _unbucketed, probe=(head, manifest), new=staged,
            removed=(), vectored=counts, sidecar=sidecar,
            conflict="concurrent commit touched {rel} after this MOR update "
            "probed it ({table_dir} v{cur}); rerun against the new head",
            validated=manifest.get("constraints", {}), redo="update",
            action="mor_update", condition=condition,
            set=dict(sorted(assignments.items())), rows_updated=rows_updated,
        )[0]
    return {
        "version": version, "rows_updated": rows_updated,
        "files_with_dvs": len(counts), "files_added": len(staged.files),
        "files_rewritten": 0,
        "files_skipped_by_stats": len(all_files) - len(candidates),
    }


def merge_into_mor(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    delete_condition: str | None = None,
    idempotency_key: str | None = None,
) -> dict:
    """Merge-on-read MERGE INTO — vector + append, how Delta executes
    MERGE with deletion vectors enabled: ONE commit marks every matched
    target row deleted in a position sidecar and appends new file(s)
    holding the updated rows plus the NOT-MATCHED inserts. No existing
    file is rewritten: cost scales with |matched| + |source|, however
    many files the matched keys are scattered across — the sparse-upsert
    dual of ``merge_into``'s copy-on-write (dense upserts still favor
    COW, which leaves no read-side anti-join behind).

    Semantics mirror ``merge_into`` exactly: WHEN MATCHED every non-key
    column takes the source value (a NULL source value still wins), a
    duplicated target key keeps its multiplicity (each copy updates),
    WHEN NOT MATCHED the source row inserts, a key matching >1 source
    row refuses as ambiguous, a NULL source merge key refuses (as in
    ``merge_into``), ``delete_condition`` drops matched rows
    whose source row satisfies it (absent-key delete is a no-op, extra
    source columns are condition fuel only), staged rows are
    CHECK-validated atomically, and ``idempotency_key`` replays a
    retried commit as a no-op. Unlike the COW paths this composes with
    existing deletion vectors: the probe excludes already-vectored rows.

    ``read_changes_cdf`` of the commit shows delete(old) for every
    matched row + insert(new/inserted) from the appended files.
    Concurrency follows ``update_where_mor``: refuses if a concurrent
    commit removed or re-vectored a matched file, or changed the
    constraint set.

    Returns ``{"version", "rows_updated", "rows_deleted",
    "rows_inserted", "files_with_dvs", "files_added",
    "files_rewritten" (always 0)}``.
    """
    fs, jvm, head, manifest = _head(
        spark, table_dir, "merge_into_mor", key=idempotency_key
    )

    def _result(version, updated, deleted, inserted, hit, added):
        return {
            "version": version, "rows_updated": updated, "rows_deleted": deleted,
            "rows_inserted": inserted, "files_with_dvs": hit,
            "files_added": added, "files_rewritten": 0,
        }

    def _replayed(prior: int) -> dict:
        man = _read_manifest(fs, jvm, table_dir, prior)
        return _result(
            prior, man.get("rows_updated", 0), man.get("rows_deleted", 0),
            man.get("rows_inserted", 0), man.get("mor_files_with_dvs", 0),
            len(man.get("added", [])),
        )

    if manifest is None:
        return _replayed(head)
    files = manifest["files"]
    join, inserts, merged = _merge_source(
        spark, table_dir, manifest, source, list(key_cols), delete_condition,
        "merge_into_mor",
    )
    joined = _match(spark, table_dir, manifest, files, join).persist()
    try:
        sidecar, counts = _vector(fs, jvm, table_dir, joined, files)
        rows_deleted = joined.filter(F.col("s.__del")).count() if counts else 0
        rows_updated = sum(counts.values()) - rows_deleted
        # MOR: the matched copies re-append with source values
        # (multiplicity kept), plus the NOT-MATCHED inserts
        staged = _stage(
            fs, jvm, table_dir, manifest, merged(joined).unionByName(inserts),
            "g", "merged row(s) — MERGE refused", sidecar,
        )
    finally:
        joined.unpersist()
    rows_inserted = sum(staged.rows.values()) - rows_updated
    if not counts and rows_inserted == 0:
        _drop_paths(fs, jvm, table_dir, *staged.files)  # all-miss empty source
        return _result(head, 0, 0, 0, 0, 0)
    version, fresh = _commit(
        fs, jvm, table_dir, _unbucketed, probe=(head, manifest), new=staged,
        removed=(), vectored=counts, sidecar=sidecar,
        conflict="concurrent commit touched {rel} after this MOR merge "
        "probed it ({table_dir} v{cur}); rerun against the new head",
        validated=manifest.get("constraints", {}), redo="merge",
        key=idempotency_key, action="mor_merge", rows_updated=rows_updated,
        rows_deleted=rows_deleted, rows_inserted=rows_inserted,
        mor_files_with_dvs=len(counts),
    )
    if not fresh:
        return _replayed(version)
    return _result(
        version, rows_updated, rows_deleted, rows_inserted, len(counts),
        len(staged.files),
    )


def materialize_dvs(spark: SparkSession, table_dir: str) -> dict:
    """Fold deletion vectors into the data (Delta's REORG … PURGE): every
    file carrying a DV is rewritten without its deleted rows — with fresh
    min/max/non-null stats and Bloom entries, since materialization is
    when stale-but-safe bounds get tightened — and the manifest drops its
    ``dvs``/``dv_files``; every clean file is carried verbatim. After
    this, copy-on-write DML and metadata MIN/MAX work again. Old
    sidecars stay on disk for time travel until ``vacuum``.

    One atomic commit; refuses (``RuntimeError``) if a concurrent commit
    removed or re-vectored a file being materialized. No-op (current
    version, zero counts) when the table has no DVs. Returns
    ``{"version", "files_rewritten", "rows_removed"}``.
    """
    fs, jvm, head, manifest = _head(spark, table_dir, "materialize_dvs")
    dvs = manifest.get("dvs", {})
    if not dvs:
        return {"version": head, "files_rewritten": 0, "rows_removed": 0}
    hit_files = sorted(dvs)
    rows_removed = sum(int(n) for n in dvs.values())
    staged = _stage(
        fs, jvm, table_dir, manifest,
        _read_with_dvs(spark, table_dir, manifest, hit_files), "p",
    )
    # vectors that landed on other files while we staged carry
    version = _commit(
        fs, jvm, table_dir, _unbucketed, probe=(head, manifest), new=staged,
        removed=hit_files,
        conflict="concurrent commit touched DV'd files during materialize "
        "({table_dir} v{cur}); rerun against the new head",
        action="materialize_dv", rows_removed=rows_removed,
    )[0]
    return {
        "version": version,
        "files_rewritten": len(hit_files),
        "rows_removed": rows_removed,
    }


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    delete_condition: str | None = None,
    idempotency_key: str | None = None,
) -> dict:
    """Transactional copy-on-write MERGE INTO (Delta upsert semantics):
    WHEN MATCHED update every non-key column from the source, WHEN NOT
    MATCHED insert the source row — rewriting ONLY the target files that
    actually contain a matched key. Every other file is carried into the
    new version untouched, which is the property that makes MERGE usable
    on a 100 TB table: cost scales with the touched files + the source
    batch, not the table. (The declarative twin,
    ``operators/scd.merge_upsert``, materializes a whole new table —
    right for oracle checks and one-shot jobs, wrong for a mutable
    store.)

    Scan budget: two column-pruned key scans of the target (the matched-
    file probe and the NOT-MATCHED anti-join read only ``key_cols``) +
    one full-width scan of just the hit files. The probe and anti-join
    shuffle on the keys; AQE broadcasts the (typically small) source
    side at runtime.

    Like Delta MERGE: raises if any key matches MULTIPLE source rows
    (ambiguous update) or if any source merge key is NULL (NULL keys
    never equi-match, so one semantics cannot hold — see
    ``_refuse_null_merge_keys``; NULL-key TARGET rows are fine: they are
    simply never matched); staged rows (updates AND inserts) are validated
    against the table's CHECK constraints and the commit refuses
    atomically on violation; per-file min/max stats and Bloom indexes
    are rebuilt for the rewritten/inserted files at the parent's dial.
    Concurrency follows ``delete_where``: the optimistic commit rebases
    over concurrent appends, but refuses (RuntimeError) if a concurrent
    commit removed a hit file or changed the constraint set. A
    concurrent append may insert a key this merge also inserts — the
    same write-serializable (not full-serializable) caveat as Delta.

    ``delete_condition`` adds Delta's WHEN MATCHED AND <cond> THEN
    DELETE clause: a SQL boolean over the SOURCE row — matched target
    rows whose source row satisfies it are dropped instead of updated
    (NULL condition = not deleted), and such source rows never insert
    (a delete for an absent key is a no-op, the CDC convention). With a
    condition the source may carry EXTRA columns beyond the table schema
    (e.g. an ``_op`` flag) — condition fuel only, never written; without
    one the source must match the table schema exactly (the stricter
    rule catches column typos).

    ``idempotency_key`` gives the same exactly-once-under-redelivery
    contract as ``write_snapshot``: a retry whose key is already in the
    log no-ops and returns the PRIOR commit's result (reconstructed from
    its manifest) — this is what makes a ``foreachBatch`` CDC-apply loop
    safe when Spark re-runs a failed micro-batch.

    Returns ``{"version", "rows_updated", "rows_deleted",
    "rows_inserted", "files_rewritten", "files_untouched"}``; an
    all-miss empty source commits nothing.
    """
    fs, jvm, head, manifest = _head(spark, table_dir, "merge_into", key=idempotency_key)

    def _replayed(prior: int) -> dict:
        man = _read_manifest(fs, jvm, table_dir, prior)
        return {
            "version": prior,
            "rows_updated": man.get("rows_updated", 0),
            "rows_deleted": man.get("rows_deleted", 0),
            "rows_inserted": man.get("rows_inserted", 0),
            "files_rewritten": len(man.get("removed", [])),
            "files_untouched": len(man["files"]) - len(man.get("added", [])),
        }

    if manifest is None:
        return _replayed(head)
    all_files = manifest["files"]
    _refuse_dvs(manifest, all_files, "merge_into")
    join, inserts, merged = _merge_source(
        spark, table_dir, manifest, source, list(key_cols), delete_condition,
        "merge_into",
    )
    # the match probe reads only the target's keys
    hits = _hits(
        _match(spark, table_dir, manifest, all_files, join), all_files,
        F.sum(F.col("s.__del").cast("int")).alias("nd"),
    )
    hit_files = list(hits)
    rows_deleted = int(sum(r["nd"] for r in hits.values()))
    rows_updated = sum(r["n"] for r in hits.values()) - rows_deleted
    # COW: rewrite the hit files; the left join keeps their unmatched
    # rows byte-identical
    staged_df = inserts
    if hit_files:
        staged_df = merged(
            join(_scan(spark, table_dir, manifest, hit_files), "left")
        ).unionByName(inserts)
    staged = _stage(
        fs, jvm, table_dir, manifest, staged_df, "m", "merged row(s) — MERGE refused"
    )
    hit_rows_before = sum(manifest.get("rows", {}).get(rel, 0) for rel in hit_files)
    rows_inserted = sum(staged.rows.values()) - hit_rows_before + rows_deleted
    version = head
    if hit_files or rows_inserted:
        conflict = (
            "concurrent commit touched files this MERGE rewrote "
            "({table_dir} v{cur}); rerun the merge against the new head"
        )

        def build(parent: dict, cur: int) -> dict:
            # a concurrent MOR delete anywhere, even on a file this merge
            # did not hit: the raw-read staging and insert anti-join would
            # resurrect vectored rows, and committing would drop the vectors
            if parent.get("dvs"):
                raise RuntimeError(conflict.format(table_dir=table_dir, cur=cur))
            return _unbucketed(parent, cur)

        version, fresh = _commit(
            fs, jvm, table_dir, build, probe=(head, manifest), new=staged,
            removed=hit_files, conflict=conflict,
            validated=manifest.get("constraints", {}), redo="merge",
            key=idempotency_key, action="merge", rows_updated=rows_updated,
            rows_deleted=rows_deleted, rows_inserted=rows_inserted,
        )
        if not fresh:
            return _replayed(version)
    else:  # nothing matched, nothing to insert: commit nothing
        _drop_paths(fs, jvm, table_dir, *staged.files)
    return {
        "version": version, "rows_updated": rows_updated,
        "rows_deleted": rows_deleted, "rows_inserted": rows_inserted,
        "files_rewritten": len(hit_files),
        "files_untouched": len(all_files) - len(hit_files),
    }


def apply_changes(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    seq_col: str,
    op_col: str = "_op",
    idempotency_key: str | None = None,
    mode: str = "cow",
) -> dict:
    """CDC apply (the DLT ``APPLY CHANGES INTO … SEQUENCE BY`` shape):
    ``changes`` carries the table's columns plus an ``op_col`` in
    {'I','U','D'} and a ``seq_col`` ordering column. Per key, only the
    LATEST change by ``seq_col`` is applied — an upsert for I/U, a
    delete for D (absent-key delete is a no-op). One window over the
    change batch (batch-sized, never table-sized), then one
    ``merge_into`` whose COW rewrite touches only the hit files.

    ``mode="mor"`` routes the merge through ``merge_into_mor`` instead:
    matched rows are vectored + reinserted and nothing is rewritten, so
    a steady CDC trickle whose keys scatter across the whole table
    costs O(batch) per apply instead of O(files hit) rewrites — the
    100 TB streaming-CDC shape. The read side pays the DV anti-join
    until ``materialize_dvs``/OPTIMIZE folds; same applied semantics
    either way (equivalence-tested).

    Equal-seq ties break toward the DELETE (the conservative read of an
    ill-sequenced feed), then by op descending — deterministic, but a
    producer should make ``seq_col`` unique per key. Cross-batch
    ordering is the producer's contract: batches must be applied in
    sequence order (this function keeps no high-watermark per key; a
    later batch carrying an older seq for a key will overwrite).
    Re-applying the same already-applied batch is content-idempotent
    even without a key (updates rewrite equal values, inserts match and
    no-op, deletes miss); pass ``idempotency_key`` to also skip the
    rewrite entirely on foreachBatch retries.
    """
    from pyspark.sql.window import Window

    ops = ("I", "U", "D")
    # NULL ops must fail validation too: ~isin evaluates to NULL for a
    # NULL op, which the filter would silently drop — treating a
    # malformed feed row as an upsert instead of raising (r6 fix)
    bad = changes.filter(
        (~F.col(op_col).isin(*ops)) | F.col(op_col).isNull()
    ).limit(1).collect()
    if bad:
        raise ValueError(
            f"apply_changes: op column {op_col!r} must be one of {ops}, "
            f"got {bad[0][op_col]!r}"
        )
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        (F.col(op_col) == "D").desc(),
        F.col(op_col).desc(),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if mode not in ("cow", "mor"):
        raise ValueError(f"apply_changes mode must be 'cow' or 'mor', got {mode!r}")
    merge = merge_into if mode == "cow" else merge_into_mor
    return merge(
        spark,
        table_dir,
        latest,
        key_cols,
        delete_condition=f"{op_col} = 'D'",
        idempotency_key=idempotency_key,
    )


def cdc_sink(
    table_dir: str,
    key_cols: list[str] | tuple[str, ...],
    seq_col: str,
    op_col: str = "_op",
    mode: str = "cow",
):
    """Structured Streaming CDC-apply sink:
    ``changeStream.writeStream.foreachBatch(cdc_sink(dir, keys, seq))``
    merges each micro-batch of {'I','U','D'} changes into the versioned
    table via ``apply_changes``. Exactly-once under micro-batch retry:
    the batch id is the merge's idempotency key (same contract as
    ``snapshot_sink``), so a re-run batch finds its commit in the log
    and no-ops. Every applied batch is a time-travelable version whose
    CDF (``read_changes_cdf``) replays the net row-level effect —
    streaming in, streaming out. ``mode="mor"`` applies each batch as a
    deletion-vector merge (``merge_into_mor``): per-batch cost stays
    O(batch) however widely the keys scatter, the shape a long-running
    CDC stream needs — schedule ``materialize_dvs``/OPTIMIZE as the
    compaction half of the pair."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(
            batch_df.sparkSession,
            table_dir,
            batch_df,
            key_cols,
            seq_col,
            op_col=op_col,
            idempotency_key=f"cdc-{batch_id}",
            mode=mode,
        )

    return _apply


def metadata_agg(
    spark: SparkSession,
    table_dir: str,
    cols: tuple[str, ...] | list[str] = (),
    version: int | None = None,
) -> dict:
    """Answer ``COUNT(*)`` — and ``MIN``/``MAX`` of ``cols`` — from the
    manifest ALONE: zero data files opened, O(files) driver arithmetic
    over the per-file row counts and min/max stats every commit records.
    This is the Iceberg/Delta metadata-only query shape: on a 100 TB
    table, "how many rows?" and "what's the value range?" must not cost
    a scan.

    Exactness, not estimation: per-file counts sum to the exact table
    count (every commit path — write/append/delete/optimize — maintains
    them), and min-of-mins / max-of-maxes over ALL files equals the true
    column min/max (file stats are exact per file; unlike range
    *skipping*, which stays safe with stale bounds, aggregation is only
    valid because rewrites recompute stats for every live file).

    Loudly refuses (``ValueError``) when the manifest lacks counts or a
    requested column's stats for any live file — a silent fall-back scan
    would defeat the contract, and a silent partial answer would be
    wrong. NULL handling: file-level min/max ignore NULLs (both parquet
    and the collection agg), matching SQL MIN/MAX; an all-NULL file
    records [None, None] and is skipped, again matching SQL.

    Returns ``{"n_rows": int, "n_files": int, "min": {col: v},
    "max": {col: v}}`` (min/max keys only for requested ``cols``).
    """
    _, _, version, manifest = _head(spark, table_dir, version=version)
    files = manifest["files"]
    rows = manifest.get("rows", {})
    missing = [rel for rel in files if rel not in rows]
    if missing:
        raise ValueError(
            f"manifest v{version} lacks row counts for {len(missing)} file(s) "
            "(written before row-count tracking?) — metadata COUNT would be wrong"
        )
    dvs = manifest.get("dvs", {})
    out = {
        # merge-on-read deletes subtract exactly (delete_where_mor keeps
        # per-file DV counts disjoint-by-construction)
        "n_rows": sum(int(rows[rel]) - int(dvs.get(rel, 0)) for rel in files),
        "n_files": len(files),
        "min": {},
        "max": {},
    }
    stats = manifest.get("stats", {})
    if cols and dvs:
        # a deletion vector may have removed the extreme row, so stored
        # min/max are only SKIPPING-safe bounds, not exact aggregates
        raise ValueError(
            "metadata MIN/MAX on a table with deletion vectors would be "
            "wrong if a deleted row held the extreme — run "
            "materialize_dvs() first (COUNT stays exact)"
        )
    cmap = _mapping(manifest) or {}
    for c in cols:
        ph = cmap.get(c, c)  # stats are keyed by PHYSICAL column names
        mins, maxs = [], []
        for rel in files:
            if int(rows[rel]) == 0:
                continue  # empty file: no stats needed, contributes nothing
            rng = stats.get(rel, {}).get(ph)
            if rng is None:
                raise ValueError(
                    f"manifest v{version} lacks {c!r} stats for {rel} — "
                    "metadata MIN/MAX would be wrong (commit with stats_cols)"
                )
            if rng[0] is not None:
                mins.append(rng[0])
            if rng[1] is not None:
                maxs.append(rng[1])
        out["min"][c] = min(mins) if mins else None
        out["max"][c] = max(maxs) if maxs else None
    return out


def count_where(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> dict:
    """Exact ``COUNT(*) WHERE col BETWEEN lo AND hi`` with a stats-hybrid
    scan (the Iceberg/Delta metadata-count optimization taken one step
    further than ``metadata_agg``): every file is classified by its
    manifest min/max —

      - disjoint from [lo, hi]      → contributes 0, never opened;
      - fully contained in [lo, hi] → contributes its NON-NULL count
                                      straight from the manifest (SQL
                                      BETWEEN is false for NULL, so the
                                      row count alone would overcount —
                                      this is why commits record per-file
                                      non-null counts), never opened;
      - straddling a boundary       → scanned with the predicate pushed
                                      down (the only I/O).

    On a range-clustered table (``optimize_snapshot(cluster_by=…)``) the
    straddling set is O(1) files per boundary, so a 100 TB range count
    opens two files. Files lacking stats (or pre-non-null-count stats)
    fall into the scan tier — degraded cost, never a wrong answer.

    Returns ``{"n_rows", "files_skipped", "files_from_stats",
    "files_scanned"}``.
    """
    _, _, version, manifest = _head(spark, table_dir, version=version)
    rows = manifest.get("rows", {})
    stats = manifest.get("stats", {})
    dvs = manifest.get("dvs", {})
    skipped, from_stats, to_scan = 0, 0, []
    total = 0
    # _stats_vs_bounds handles the comparison domain for the stats tier
    # (ISO strings for dates/timestamps, exact Decimals for numeric
    # bounds vs string-stored decimal stats). The scan-tier filter below
    # keeps the RAW lo/hi: F.lit gets the typed literal so the
    # pushed-down predicate compares natively.
    # a renamed column: the caller's logical name → the physical name the
    # stats entries and the raw file scan both speak
    col = (_mapping(manifest) or {}).get(col, col)
    for rel in manifest["files"]:
        if int(rows.get(rel, 1)) - int(dvs.get(rel, 0)) <= 0:
            skipped += 1
            continue
        rng = stats.get(rel, {}).get(col)
        mn, mx = (rng[0], rng[1]) if rng else (None, None)
        nn = rng[2] if rng is not None and len(rng) > 2 else None
        disjoint, covered = _stats_vs_bounds(mn, mx, lo, hi)
        if disjoint:
            skipped += 1  # DV-safe: deletion only shrinks a file's range
        elif (
            covered
            and nn is not None
            and rel not in dvs  # a DV'd file's manifest counts include
            # deleted rows — it must fall to the scan tier
        ):
            total += int(nn)
            from_stats += 1
        else:
            to_scan.append(rel)
    if to_scan:
        scanned = (
            _read_with_dvs(spark, table_dir, manifest, to_scan)
            .filter(_stats_expr(col).between(F.lit(lo), F.lit(hi)))
            .count()
        )
        total += int(scanned)
    return {
        "n_rows": total,
        "files_skipped": skipped,
        "files_from_stats": from_stats,
        "files_scanned": len(to_scan),
    }


def add_constraint(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> int:
    """Register a table-level CHECK constraint (Delta ``ALTER TABLE … ADD
    CONSTRAINT`` semantics): the CURRENT snapshot is validated first (one
    filtered count — a constraint the existing data violates is refused),
    then a metadata-only version records it. Every later commit validates
    its STAGED rows against the set and refuses atomically on violation
    (NULL passes, FALSE violates — SQL CHECK semantics); copy-on-write
    DELETE carries the set without re-validation (survivors are a subset
    of already-valid rows). Concurrent data commits that validated
    against the old set are refused by the committer's own re-check —
    serializable, never a silently unvalidated row.

    Scale: validation is one predicate-pushdown count over the current
    snapshot at ADD time and over each commit's NEW files only afterward
    — never a revalidation of the table per commit.
    """
    fs, _, jvm = _fs(spark, table_dir)
    bad = (
        read_snapshot(spark, table_dir)
        .filter(~F.coalesce(F.expr(expr), F.lit(True)))
        .count()
    )
    if bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({expr}): {bad} existing "
            "row(s) violate it"
        )

    def build(parent: dict, head: int) -> dict:
        return {"constraints": {**parent.get("constraints", {}), name: expr}}

    return _commit(fs, jvm, table_dir, build, action="set_constraint")[0]


def _constraint_mentions(constraints: dict, col: str) -> list[str]:
    pat = _re_mod.compile(rf"\b{_re_mod.escape(col)}\b")
    return sorted(n for n, e in constraints.items() if pat.search(e))


def rename_column(spark: SparkSession, table_dir: str, old: str, new: str) -> int:
    """RENAME COLUMN as a METADATA-ONLY commit (Iceberg-style column
    mapping, VERDICT r4 #5): no data file is rewritten — the manifest
    schema renames the field and records ``column_mapping[new] ->
    physical``, where physical is the name the bytes actually carry
    (the original name, or an earlier mapping's target). Reads resolve
    physical→logical per version, so time travel to a pre-rename version
    still shows the old name over the SAME files. Appends translate
    their logical columns back to physical before staging, keeping every
    data file uniform. Stats/bloom manifest entries stay keyed physical;
    ``read_snapshot``'s prune/point and ``metadata_agg``/``count_where``
    translate. Refuses: unknown column, name collision, or a column
    referenced by a CHECK constraint (its expression text can't be
    rewritten reliably). DML on a mapped table refuses until a
    full-rewrite overwrite materializes the mapping."""
    fs, _, jvm = _fs(spark, table_dir)

    def build(parent: dict, head: int) -> dict:
        fields = parent.get("schema", {}).get("fields")
        if not fields:
            raise ValueError(f"{table_dir} has no tracked schema to rename in")
        names = [f["name"] for f in fields]
        if old not in names:
            raise ValueError(f"no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        hit = _constraint_mentions(parent.get("constraints", {}), old)
        if hit:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) {hit} "
                "— drop them first (their expressions cannot be rewritten)"
            )
        spec = parent.get("partition_spec") or []
        if any(c != old and _spec_source_col(c) == old for c in spec):
            raise ValueError(
                f"column {old!r} is the source of a derived partition "
                f"transform in {list(spec)} — the transform label "
                "cannot be rewritten; re-partition via overwrite first"
            )
        mapping = dict(parent.get("column_mapping", {}))
        mapping[new] = mapping.pop(old, old)
        return {
            "column_mapping": mapping,
            "schema": dict(
                parent["schema"],
                fields=[
                    dict(f, name=new) if f["name"] == old else f for f in fields
                ],
            ),
            "partition_spec": [new if c == old else c for c in spec] or None,
            "bucket_by": None,  # see the carry rule (module docstring)
        }

    return _commit(
        fs, jvm, table_dir, build, action="rename_column",
        renamed={"from": old, "to": new},
    )[0]


def drop_column(spark: SparkSession, table_dir: str, name: str) -> int:
    """DROP COLUMN as a METADATA-ONLY commit: the field leaves the
    manifest schema and reads project it away; the bytes stay in the
    files (old versions still read them — time travel shows the column).
    The physical name is remembered in ``dropped_physical`` so a future
    re-add can never silently resurrect old values. Refuses: unknown or
    last column, a partition-spec column, or one referenced by a CHECK
    constraint."""
    fs, _, jvm = _fs(spark, table_dir)

    def build(parent: dict, head: int) -> dict:
        fields = parent.get("schema", {}).get("fields")
        if not fields:
            raise ValueError(f"{table_dir} has no tracked schema to drop from")
        names = [f["name"] for f in fields]
        if name not in names:
            raise ValueError(f"no column {name!r} in {names}")
        if len(fields) == 1:
            raise ValueError("cannot drop the table's last column")
        if any(
            _spec_source_col(c) == name
            for c in (parent.get("partition_spec") or [])
        ):
            raise ValueError(f"column {name!r} is in the partition spec")
        hit = _constraint_mentions(parent.get("constraints", {}), name)
        if hit:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint(s) {hit}"
            )
        mapping = dict(parent.get("column_mapping", {}))
        physical = mapping.pop(name, name)
        return {
            # mapping key present (even if empty) = schema-projected reads
            "column_mapping": mapping,
            "dropped_physical": sorted(
                set(parent.get("dropped_physical", [])) | {physical}
            ),
            "schema": dict(
                parent["schema"],
                fields=[f for f in fields if f["name"] != name],
            ),
            "bucket_by": None,  # see the carry rule (module docstring)
        }

    return _commit(fs, jvm, table_dir, build, action="drop_column", dropped=name)[0]


def evolve_partition_spec(
    spark: SparkSession,
    table_dir: str,
    new_spec: list[str] | tuple[str, ...],
) -> int:
    """PARTITION-SPEC EVOLUTION as a metadata-only commit (Iceberg v2
    semantics, VERDICT r5 #2): change a live table's partition spec —
    identity columns and/or derived transforms (``days(ts)``,
    ``bucket(N, col)``, …) — WITHOUT rewriting a single data file.

    What changes and what doesn't:

    - Files written so far keep their old layout AND their old pruning:
      their manifest stats are keyed by the OLD spec's labels, and
      ``read_snapshot``'s transform-aware point pruning consults the
      retained ``spec_history`` alongside the current spec, so a point
      lookup on an old transform's source column still skips old files
      (files lacking a label's stats are always kept — pruning can
      coarsen, never lose rows).
    - Future appends split and stat by the NEW spec automatically (the
      spec is inherited from the head like before).
    - ``optimize_snapshot`` / ``maintain()`` regroup to the CURRENT spec
      lazily: a full rewrite re-partitions everything under the new
      layout and resets the history (no old-layout files remain).
    - ``delete_range``'s zero-I/O DROP-PARTITION tier is stats-based
      (full containment + non-null counts), so it keeps working across
      the boundary regardless of which spec wrote each file.

    ``new_spec=()`` evolves to unpartitioned (future appends stop
    splitting). Refuses: a no-op spec (same as current), an unknown
    source column, or a column-mapped table (renamed/dropped columns —
    historical labels would dangle; materialize the mapping first).

    Returns the new version. Reference shape: Iceberg
    ``Table.updateSpec().addField/removeField().commit()``.
    """
    fs, _, jvm = _fs(spark, table_dir)
    spec = [str(c) for c in new_spec]

    def build(parent: dict, head: int) -> dict:
        _refuse_mapping(parent, "evolve_partition_spec")
        if parent.get("bucket_by"):
            raise ValueError(
                "evolve_partition_spec on a bucket-layout table is "
                "unsupported (bucket_by and partition_by are mutually "
                "exclusive) — overwrite to re-lay-out"
            )
        old = list(parent.get("partition_spec") or [])
        if spec == old:
            raise ValueError(
                f"evolve_partition_spec: {spec} is already the spec of "
                f"{table_dir}"
            )
        fields = parent.get("schema", {}).get("fields")
        if fields:
            names = {f["name"] for f in fields}
            missing = [c for c in spec if _spec_source_col(c) not in names]
            if missing:
                raise ValueError(
                    f"partition spec sources not in table schema: {missing}"
                )
        hist = list(parent.get("spec_history", []))
        if old:
            hist = hist + [{"spec": old, "until_version": head + 1}]
        return {
            "spec_from": old,
            "spec_to": spec,
            "partition_spec": spec or None,
            "spec_history": hist or None,
        }

    return _commit(fs, jvm, table_dir, build, action="evolve_spec")[0]


def drop_constraint(spark: SparkSession, table_dir: str, name: str) -> int:
    """Remove a CHECK constraint in a metadata-only commit (unknown names
    raise — a typo must not silently 'succeed')."""
    fs, jvm, _, manifest = _head(spark, table_dir)
    if name not in manifest.get("constraints", {}):
        raise KeyError(f"no CHECK constraint {name!r} on {table_dir}")

    def build(parent: dict, head: int) -> dict:
        cons = dict(parent.get("constraints", {}))
        cons.pop(name, None)
        return {"constraints": cons or None}

    return _commit(fs, jvm, table_dir, build, action="drop_constraint")[0]


def describe_detail(spark: SparkSession, table_dir: str) -> dict:
    """DESCRIBE DETAIL: one metadata-only dict snapshotting the table's
    operational health — the numbers an OPTIMIZE/materialize scheduler
    reads to decide what maintenance is due. Zero data files opened:
    sizes come from file status, everything else from the head manifest.

    Returns ``{"version", "n_files", "size_bytes", "avg_file_mb",
    "n_rows" (logical, DV-subtracted; None without row counts),
    "n_dv_files" (files carrying deletion vectors), "dv_rows" (rows
    awaiting materialize), "stats_cols", "bloom_cols", "constraints",
    "schema_fields"}``.
    """
    fs, jvm, head, man = _head(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    files = man["files"]
    rows = man.get("rows")
    dvs = man.get("dvs", {})
    sizes = [
        fs.getFileStatus(Path(_data_path(table_dir, rel))).getLen()
        for rel in files
    ]
    stats_cols = _stats_cols(man)
    bloom_cols = sorted({c for e in man.get("blooms", {}).values() for c in e})
    return {
        "version": head,
        "n_files": len(files),
        "size_bytes": int(sum(sizes)),
        "avg_file_mb": round(sum(sizes) / len(sizes) / 1048576, 3) if sizes else 0.0,
        "n_rows": (
            sum(int(rows[rel]) - int(dvs.get(rel, 0)) for rel in files)
            if rows is not None and all(rel in rows for rel in files)
            else None
        ),
        "n_dv_files": len(dvs),
        "dv_rows": int(sum(dvs.values())),
        "stats_cols": stats_cols,
        "bloom_cols": bloom_cols,
        "partition_spec": list(man.get("partition_spec", [])),
        "spec_history": [
            {"spec": list(h.get("spec", [])),
             "until_version": h.get("until_version")}
            for h in man.get("spec_history", [])
        ],
        "constraints": sorted(man.get("constraints", {})),
        "schema_fields": [
            f["name"] for f in man.get("schema", {}).get("fields", [])
        ],
    }


def table_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained version, newest first —
    action, lineage, file/row deltas, and the metadata each commit kind
    records (restored version, DELETE condition, constraint names,
    idempotency key). Pure manifest reads (O(versions) small JSONs);
    vacuumed versions are simply absent. ``commit_ts`` is the manifest
    mtime — the same clock ``version_as_of`` resolves against."""
    fs, _, jvm = _fs(spark, table_dir)
    head = current_version(spark, table_dir)
    rows = []
    for v in range(head, 0, -1):
        try:
            man = _read_manifest(fs, jvm, table_dir, v)
        except FileNotFoundError:
            continue  # vacuumed
        rcounts = man.get("rows")
        if rcounts:
            # logical rows: merge-on-read deletion vectors subtract
            dvs = man.get("dvs", {})
            files_set = set(man.get("files", []))
            n_rows = sum(
                int(n) - int(dvs.get(rel, 0)) for rel, n in rcounts.items()
                if rel in files_set
            )
        else:
            n_rows = None
        rows.append((
            v,
            man.get("parent"),
            man.get("action"),
            float(
                fs.getFileStatus(_manifest_path(jvm, table_dir, v))
                .getModificationTime()
            ) / 1000.0,
            len(man.get("files", [])),
            len(man.get("added", [])),
            len(man.get("removed", [])),
            n_rows,
            man.get("restored"),
            man.get("condition"),
            sorted(man.get("constraints", {})) or None,
            man.get("idempotency_key"),
        ))
    return spark.createDataFrame(
        rows,
        "version int, parent int, action string, commit_ts double, "
        "n_files int, n_added int, n_removed int, n_rows bigint, "
        "restored int, condition string, constraints array<string>, "
        "idempotency_key string",
    )


def shallow_clone(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    version: int | None = None,
) -> int:
    """Zero-copy table fork (Delta SHALLOW CLONE): the clone's v1
    manifest references the SOURCE's data files by absolute path — no
    bytes move, however large the table. From then on the clone is an
    independent table: appends land in its own ``data/``, copy-on-write
    DELETE rewrites only into its own ``data/`` (source files are never
    touched), constraints/schema/stats/row-counts are carried so
    metadata-only queries and CHECK enforcement work immediately.

    The experimentation workflow this exists for: clone the 100 TB
    production table, mutate/filter/relabel the clone, run the candidate
    pipeline — for the metadata cost of one manifest.

    Caveats (identical to Delta's): ``vacuum`` on the SOURCE can delete
    files a clone still references (the source doesn't know about
    clones) — a stale clone read then fails loudly at scan time; and the
    clone's own ``vacuum`` never touches source files (it only lists its
    own ``data/``). ``src_dir`` must be an absolute path/URI so the
    references stay valid from anywhere.

    ``dst_dir`` must have no snapshots yet. Returns the clone's version
    (always 1).
    """
    if not (src_dir.startswith("/") or "://" in src_dir):
        raise ValueError(f"src_dir must be absolute, got {src_dir!r}")
    fs, _, jvm = _fs(spark, dst_dir)
    if current_version(spark, dst_dir) > 0:
        raise FileExistsError(f"{dst_dir} already has snapshots — clone refused")
    if version is None:
        version = current_version(spark, src_dir)
    src = _read_manifest(fs, jvm, src_dir, version)

    def _abs(rel: str) -> str:
        return _data_path(src_dir, rel)

    # table state carries verbatim (the clone references the source's
    # bucket-named files as they are)
    state = {k: src.get(k) for k in _TABLE_STATE}
    state["files"] = [_abs(rel) for rel in src["files"]]
    for key in ("stats", "rows", "blooms", "dvs"):
        state[key] = {_abs(rel): v for rel, v in src.get(key, {}).items()}
    if src.get("dvs"):
        # the clone keeps seeing the source's merge-on-read deletes;
        # its own materialize_dvs rewrites into its OWN data/
        state["dv_files"] = [_abs(rel) for rel in src.get("dv_files", [])]

    def build(parent: dict, head: int) -> dict:
        if head:  # a racing clone into dst won
            raise FileExistsError(f"{dst_dir} v1 manifest already exists")
        return state

    return _commit(
        fs, jvm, dst_dir, build, probe=(0, {}), action="clone",
        source={"table_dir": src_dir, "version": version},
    )[0]


def read_changes_cdf(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change-data-feed for ``(from_version, to_version]``
    (Delta CDF semantics, computed, not stored): for each commit, the
    LOGICAL row diff vs its parent — ``_change_type`` 'insert' for rows
    the commit added, 'delete' for rows it removed, plus
    ``_commit_version``. Unlike ``read_changes`` (physical added-files
    stream), this cancels rewrite survivors: a copy-on-write DELETE
    yields exactly the deleted rows as 'delete'; OPTIMIZE yields nothing
    (same rows, new files); a rollback yields the restored-minus-dropped
    diff.

    Multiset-exact: the diff is a per-distinct-row COUNT difference
    between each commit's added and removed files (full-outer on all
    columns), re-expanded with ``sequence`` — duplicate rows diff by
    copy count, which a plain anti-join would get wrong.

    Scale: per commit, only the files that CHANGED hands (added ∪
    removed) are read — unchanged files cancel by construction without
    being opened; the one shuffle per commit is the group-by over that
    delta, never the table. Raises on vacuumed gaps like
    ``read_changes``.
    """
    fs, _, jvm = _fs(spark, table_dir)
    to_version = current_version(spark, table_dir) if to_version is None else to_version
    frames = []
    for v in range(from_version + 1, to_version + 1):
        man = _read_manifest(fs, jvm, table_dir, v)
        # CDF unions raw file reads across versions whose logical names
        # may differ (a rename mid-range) — refuse rather than emit a
        # frankenschema; materializing the mapping re-enables CDF
        _refuse_mapping(man, "read_changes_cdf")
        par_m = (
            _read_manifest(fs, jvm, table_dir, man["parent"])
            if man.get("parent")
            else {"files": []}
        )
        parent_files = set(par_m["files"])
        cur_files = set(man["files"])
        added = sorted(cur_files - parent_files)
        removed = sorted(parent_files - cur_files)
        # merge-on-read commits move no files — their row diff lives in
        # the deletion-vector delta over files present in BOTH manifests
        # (MOR delete grows coverage → deletes; rollback past a MOR
        # delete shrinks it → the resurrected rows are inserts)
        par_dvs, cur_dvs = par_m.get("dvs", {}), man.get("dvs", {})
        dv_diff = sorted(
            rel
            for rel in parent_files & cur_files
            if par_dvs.get(rel) != cur_dvs.get(rel)
        )
        if not added and not removed and not dv_diff:
            continue  # metadata-only commit (constraints, clone)

        # a row the commit vectored is live in the parent at a position
        # the commit's sidecars hold; a resurrected row the reverse
        for live_in, pos_in, ctype in ((par_m, man, "delete"), (man, par_m, "insert")):
            pos = _dv_frame(spark, table_dir, pos_in) if dv_diff else None
            if pos is not None:
                frames.append(
                    _match(spark, table_dir, live_in, dv_diff,
                           lambda t: t.join(pos, ["__file", "__pos"], "left_semi"))
                    .drop("__file", "__pos")
                    .withColumn("_change_type", F.lit(ctype))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
        if not added and not removed:
            continue

        def _load(rels, m):
            if not rels:
                return None
            # apply the owning manifest's deletion vectors so the diff
            # compares LOGICAL row sets: materializing a DV (file swap,
            # same live rows) yields nothing — those deletes were
            # already reported when the vector was written
            return _read_with_dvs(spark, table_dir, m, rels)

        a_df, r_df = _load(added, man), _load(removed, par_m)
        base = a_df if a_df is not None else r_df
        cols = base.columns
        def _counted(df, alias):
            if df is None:
                return None
            return df.groupBy(*cols).agg(F.count(F.lit(1)).alias(alias))
        a_c, r_c = _counted(a_df, "__a"), _counted(r_df, "__r")
        if a_c is None:
            joined = r_c.withColumn("__a", F.lit(0))
        elif r_c is None:
            joined = a_c.withColumn("__r", F.lit(0))
        else:
            # null-SAFE equality (r6 fix): a name-list join uses EqualTo,
            # under which a row containing any NULL never matches itself
            # across the added/removed sides — an OPTIMIZE rewrite of a
            # NULL-carrying row would emit a spurious insert+delete pair,
            # breaking the multiset-exact CDF contract
            al, rl = a_c, r_c
            cond = None
            for c in cols:
                e = al[c].eqNullSafe(rl[c])
                cond = e if cond is None else cond & e
            joined = al.join(rl, cond, "full_outer").select(
                *[F.coalesce(al[c], rl[c]).alias(c) for c in cols],
                F.coalesce(al["__a"], F.lit(0)).alias("__a"),
                F.coalesce(rl["__r"], F.lit(0)).alias("__r"),
            )
        diff = joined.withColumn("__d", F.col("__a") - F.col("__r")).filter(
            F.col("__d") != 0
        )
        expanded = diff.select(
            *cols,
            F.when(F.col("__d") > 0, F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("_change_type"),
            F.explode(F.sequence(F.lit(1), F.abs(F.col("__d")))).alias("__i"),
        ).drop("__i").withColumn("_commit_version", F.lit(v).cast("long"))
        frames.append(expanded)
    if not frames:  # an explicit head version: no table still refuses
        return (
            read_snapshot(spark, table_dir, version=current_version(spark, table_dir))
            .limit(0)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0).cast("long"))
        )
    return functools.reduce(DataFrame.unionByName, frames)


def verify_constraints(spark: SparkSession, table_dir: str) -> DataFrame:
    """Audit the CURRENT snapshot against its registered CHECK
    constraints — one filtered count per constraint, all computed in a
    single pass (one aggregate over the table scan). Needed because two
    sanctioned paths can legally surface rows that predate a constraint:
    ``rollback`` (RESTORE restores data, the head's constraints stay)
    and ``shallow_clone`` of an older version. Commit-time enforcement
    covers every other path, so a non-empty report here always traces to
    one of those two — or to data corruption, which is the other reason
    to run it.

    Returns (constraint, expr, violations) — empty means clean."""
    fs, _, jvm = _fs(spark, table_dir)
    head = current_version(spark, table_dir)
    cons = _read_manifest(fs, jvm, table_dir, head).get("constraints", {}) if head else {}
    if not cons:
        return spark.createDataFrame(
            [], "constraint string, expr string, violations bigint"
        )
    df = read_snapshot(spark, table_dir)
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
        ).cast("long").alias(n)
        for n, e in sorted(cons.items())
    ]
    counts = df.agg(*aggs).first()
    return spark.createDataFrame(
        [(n, cons[n], int(counts[n] or 0)) for n in sorted(cons)],
        "constraint string, expr string, violations bigint",
    ).filter(F.col("violations") > 0)
