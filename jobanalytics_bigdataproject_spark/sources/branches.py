"""[EXT] Snapshot branches, tags, and write-audit-publish for the
versioned-parquet layer (``sources/snapshots.py``) — the Iceberg
branch/tag semantics that turn the snapshot log into a staging
primitive (VERDICT r6 #2):

    b = create_branch(spark, tbl, "audit-2026-08")   # zero-copy fork
    snapshots.delete_where(spark, b, "quality < 0.2") # any DML, isolated
    ...verify_constraints / dq report on the branch...
    fast_forward(spark, tbl, "audit-2026-08")         # atomic publish

**Branch = nested zero-copy table.** ``create_branch`` shallow-clones
the table into ``table_dir/_branches/<name>/`` — the branch's v1
manifest references main's data files by absolute path, no bytes move.
Every existing operation (read_snapshot, delete/update/merge, MOR DML,
optimize, constraints, CDF…) works on the branch handle UNCHANGED,
because the branch IS a table; isolation is free because branch commits
land in the branch's own ``_log`` and its new data files in the
branch's own ``data/``. This is the design the module's one-small-JSON
manifest model wants: no new commit paths, no new manifest keys (what a
commit carries is the carry rule in the ``snapshots`` module
docstring), and the refusal matrix is inherited from
``shallow_clone``'s tested semantics.

**Publish = fast-forward.** ``fast_forward`` adopts the branch head's
complete state as one atomic commit on main, strictly when main has not
advanced past the branch base (Iceberg's fast-forward precondition —
anything else is a merge, which is refused, not guessed). The branch's
own new data files are RENAMED into main's ``data/`` first (same-FS
metadata ops; file names are commit-uuid-tagged so collisions are
impossible), and renamed BACK if the commit loses a race — the branch
is never left referencing moved files on failure. On success the
branch is retired (write-audit-publish consumes it); main's manifest
records ``{"action": "fast_forward", "source": {...}}`` lineage.

**Tags = immutable named versions.** ``create_tag`` creates
``_log/tags/<name>.json`` with create-if-absent (the same atomicity the
commit protocol rests on); a tag pins its version against ``vacuum`` /
``expire_snapshots`` (see ``snapshots._reap_before`` — tagged versions'
manifests and files are not reapable, and files referenced by any live
branch are likewise protected, VERDICT r6 #8).

No counterpart in the reference (spark-shell scripts have no table
versions at all, let alone branches); the semantics follow the public
Iceberg branching model re-expressed over this module's manifest log.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from jobanalytics_bigdataproject_spark.sources import snapshots as sn
from jobanalytics_bigdataproject_spark.sources.snapshots import (
    _DATA,
    _DV,
    _LOG,
    _TABLE_STATE,
    _commit,
    _create_manifest,
    _data_path,
    _fs,
    _manifest_path,
    _read_manifest,
    current_version,
    read_snapshot,
    shallow_clone,
)

_BRANCHES = "_branches"
_TAGS = "tags"  # subdir of _log (ignored by current_version's v*.json filter)

def _check_name(name: str) -> str:
    if not name or not all(c.isalnum() or c in "-_." for c in name):
        raise ValueError(f"invalid branch/tag name {name!r}")
    return name


def branch_dir(table_dir: str, name: str) -> str:
    """The branch's table handle — pass it to ANY snapshots.* operation."""
    return f"{table_dir}/{_BRANCHES}/{_check_name(name)}"


def create_branch(
    spark: SparkSession,
    table_dir: str,
    name: str,
    from_version: int | None = None,
) -> str:
    """Fork ``table_dir`` at ``from_version`` (default: head) into a
    zero-copy branch; returns the branch handle (a table_dir usable with
    every snapshots.* call). Refuses if the branch already exists."""
    if not (table_dir.startswith("/") or "://" in table_dir):
        raise ValueError(f"table_dir must be absolute, got {table_dir!r}")
    bdir = branch_dir(table_dir, name)
    shallow_clone(spark, table_dir, bdir, version=from_version)
    return bdir


def list_branches(spark: SparkSession, table_dir: str) -> list[dict]:
    """Live branches: ``[{"name", "head", "base_version"}]`` (base is the
    main version the branch forked from, from its v1 clone manifest)."""
    fs, _, jvm = _fs(spark, table_dir)
    root = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{_BRANCHES}")
    out: list[dict] = []
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        bdir = f"{table_dir}/{_BRANCHES}/{name}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{bdir}/{sn._PUBLISHED_MARKER}")):
            continue  # published + kept for forensics — not a live branch
        head = current_version(spark, bdir)
        if head == 0:
            continue  # debris dir, no committed fork
        base = None
        try:
            v1 = _read_manifest(fs, jvm, bdir, 1)
            base = (v1.get("source") or {}).get("version")
        except FileNotFoundError:
            pass
        out.append({"name": name, "head": head, "base_version": base})
    return sorted(out, key=lambda d: d["name"])


def drop_branch(spark: SparkSession, table_dir: str, name: str) -> bool:
    """Delete a branch and everything only it owns (its log and its own
    data files; main's files are referenced absolutely and untouched)."""
    fs, _, jvm = _fs(spark, table_dir)
    p = jvm.org.apache.hadoop.fs.Path(branch_dir(table_dir, name))
    return bool(fs.exists(p) and fs.delete(p, True))


def drop_retired_branches(
    spark: SparkSession, table_dir: str, older_than: float | None = None
) -> list[str]:
    """Sweep tombstoned branch dirs (published with ``retire=False``) —
    the forensics window closes eventually and the dirs are unreadable by
    design (``_published.json`` makes every resolve refuse). ``older_than``
    (epoch seconds, default: sweep all) compares against the tombstone's
    creation time, mirroring ``expire_transactions``' horizon semantics.
    Live branches are never touched. Returns the swept branch names."""
    fs, _, jvm = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(f"{table_dir}/{_BRANCHES}")
    swept: list[str] = []
    if not fs.exists(root):
        return swept
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        marker = Path(f"{table_dir}/{_BRANCHES}/{name}/{sn._PUBLISHED_MARKER}")
        if not fs.exists(marker):
            continue  # live branch
        if older_than is not None:
            if fs.getFileStatus(marker).getModificationTime() / 1000.0 >= older_than:
                continue
        if fs.delete(st.getPath(), True):
            swept.append(name)
    return sorted(swept)


def _branch_base(fs, jvm, bdir: str) -> int:
    try:
        v1 = _read_manifest(fs, jvm, bdir, 1)
    except FileNotFoundError:
        raise ValueError(
            f"{bdir} has no v1 clone manifest (vacuumed?) — cannot verify "
            "the fast-forward precondition; publish refused"
        )
    src = v1.get("source") or {}
    if v1.get("action") != "clone" or src.get("version") is None:
        raise ValueError(f"{bdir} v1 is not a branch fork manifest")
    return int(src["version"])


def _remap_ref(ref: str, table_dir: str, bdir: str, renames: list) -> str:
    """A branch-manifest file ref → its post-publish form on main.

    - absolute into main's own data/dv → relativized (main speaks
      relative refs for its own files);
    - relative (the branch's OWN file, lives under bdir) → renamed into
      main's matching dir, same basename (uuid-tagged, collision-free);
    - absolute elsewhere (branch of a clone) → passes through.
    """
    main_prefix = f"{table_dir}/"
    if ref.startswith("/") or "://" in ref:
        if ref.startswith(main_prefix):
            rel = ref[len(main_prefix):]
            # only data/ and dv/ refs are expected; anything else passes
            if rel.startswith((f"{_DATA}/", f"{_DV}/")):
                return rel
        return ref
    renames.append((f"{bdir}/{ref}", f"{table_dir}/{ref}"))
    return ref


def fast_forward(
    spark: SparkSession,
    table_dir: str,
    name: str,
    retire: bool = True,
) -> int:
    """Publish a branch: fast-forward main to the branch head, as ONE
    atomic commit on main's log. Returns the new main version.

    Preconditions (each refused loudly, nothing mutated on refusal):
    the branch exists and has commits; main's head still equals the
    branch's base version (main advanced → this is a merge, not a
    fast-forward — rebase by re-branching); the branch's v1 fork
    manifest is still retained (it carries the base pointer).

    The branch's own data/DV files are renamed into main's directories
    before the commit and renamed back if the commit loses its race —
    a lost race therefore leaves both main and the branch exactly as
    they were. On success the branch is retired: dropped by default, or
    with ``retire=False`` kept on disk for forensics with a
    ``_published.json`` tombstone — its manifests reference moved files,
    so ``read_snapshot`` / ``current_version`` REFUSE on it from then on
    (VERDICT r7 #5) and ``list_branches`` omits it.
    """
    fs, _, jvm = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    bdir = branch_dir(table_dir, name)
    bhead = current_version(spark, bdir)  # raises if already published+kept
    if bhead == 0:
        raise FileNotFoundError(f"branch {name!r} does not exist on {table_dir}")
    base = _branch_base(fs, jvm, bdir)
    bman = _read_manifest(fs, jvm, bdir, bhead)

    renames: list[tuple[str, str]] = []
    files = [_remap_ref(r, table_dir, bdir, renames) for r in bman["files"]]
    dv_files = [
        _remap_ref(r, table_dir, bdir, renames)
        for r in bman.get("dv_files", [])
    ]
    remap = {
        old: new
        for old, new in zip(
            bman["files"] + bman.get("dv_files", []), files + dv_files
        )
    }

    # main adopts the branch head's whole table state — and none of the
    # per-commit keys of the branch's last commit (carry rule, snapshots
    # module docstring)
    adopted = {k: bman.get(k) for k in _TABLE_STATE}
    for key in ("stats", "rows", "blooms", "dvs"):
        adopted[key] = {remap.get(k, k): v for k, v in bman.get(key, {}).items()}
    adopted.update(files=files, dv_files=dv_files)

    done: list[tuple[str, str]] = []
    for src, dst in renames:
        sp, dp = Path(src), Path(dst)
        fs.mkdirs(dp.getParent())
        if not fs.rename(sp, dp):
            for s2, d2 in reversed(done):  # undo, branch stays intact
                fs.rename(Path(d2), Path(s2))
            raise IOError(f"could not adopt {src} into main — publish aborted")
        done.append((src, dst))

    def build(parent: dict, head: int) -> dict:
        if head != base:
            raise ValueError(
                f"main advanced to v{head} past branch base "
                f"v{base} — not a fast-forward; re-branch and replay"
            )
        return adopted

    try:
        new_version = _commit(
            fs, jvm, table_dir, build, action="fast_forward",
            source={"branch": name, "branch_head": bhead, "base": base},
        )[0]
    except BaseException:
        for src, dst in reversed(done):
            fs.rename(Path(dst), Path(src))
        raise
    if retire:
        drop_branch(spark, table_dir, name)
    else:
        # tombstone the kept branch dir: every later read/resolve refuses
        # (the refuse-loudly form of the old "must not be read" docstring)
        _create_manifest(
            fs,
            Path(f"{bdir}/{sn._PUBLISHED_MARKER}"),
            {
                "branch": name,
                "published_version": new_version,
                "branch_head": bhead,
            },
        )
    return new_version


def rebase_branch(spark: SparkSession, table_dir: str, name: str) -> int:
    """Re-point a branch onto main's CURRENT head when main advanced past
    the branch base — the non-fast-forward publish path (VERDICT r7 #2: a
    week-long audit branch's first wall; ``fast_forward`` refuses with
    "re-branch and replay", this automates the replay).

    The replay is a file-level three-way merge against the fork-point
    manifest (git-rebase semantics over the manifest log):

    - a file REMOVED (deleted or copy-on-write rewritten) by only one
      side stays removed; files ADDED by either side are kept;
    - a base file both sides removed/rewrote, or whose deletion vectors
      both sides changed, is a TRUE conflict → refused loudly with the
      file and both versions named, nothing mutated (a row-level merge
      would be a guess — re-branch and redo the conflicting DML);
    - structural state (schema, constraints, partition spec, bucketing,
      column mapping) merges when at most one side changed it vs base;
      divergent structural changes are refused.

    On success the branch's log is REWRITTEN (rebase rewrites history,
    exactly like git): v1 = a fresh fork manifest of main@head, v2 = one
    ``rebase`` commit with the merged file set. The branch's own data
    files never move — they stay under the branch dir as relative refs —
    so the rewrite is a metadata-only staging-dir swap with rename-back
    on failure. Afterwards ``fast_forward`` publishes normally.

    Returns the new branch head (always 2). No-op (returns the current
    head) when main never advanced. Scale: driver-side set algebra over
    O(files) manifest entries — no data I/O, no Spark jobs.
    """
    fs, _, jvm = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    bdir = branch_dir(table_dir, name)
    bhead = current_version(spark, bdir)  # raises if published+kept
    if bhead == 0:
        raise FileNotFoundError(f"branch {name!r} does not exist on {table_dir}")
    base = _branch_base(fs, jvm, bdir)
    main_head = current_version(spark, table_dir)
    if main_head == base:
        return bhead  # still fast-forwardable; nothing to replay
    if main_head < base:
        raise ValueError(
            f"main at v{main_head} is BEHIND the branch base v{base} "
            "(rolled back / vacuumed?) — rebase refused"
        )
    base_m = _read_manifest(fs, jvm, table_dir, base)
    main_m = _read_manifest(fs, jvm, table_dir, main_head)
    bh_m = _read_manifest(fs, jvm, bdir, bhead)

    main_prefix = f"{table_dir}/"

    def b2main(ref: str) -> str | None:
        """Branch-notation ref → main-notation key; None = branch-own."""
        if ref.startswith("/") or "://" in ref:
            return ref[len(main_prefix):] if ref.startswith(main_prefix) else ref
        return None

    def to_branch(ref: str) -> str:
        """Main-notation ref → branch notation (absolute into main)."""
        return ref if (ref.startswith("/") or "://" in ref) else f"{main_prefix}{ref}"

    base_files = set(base_m["files"])
    main_files = set(main_m["files"])
    b_retained = {m for r in bh_m["files"] if (m := b2main(r)) is not None}
    b_own = [r for r in bh_m["files"] if b2main(r) is None]

    branch_removed = base_files - b_retained
    main_removed = base_files - main_files

    # deletion-vector changes count as touching the file: a new/changed
    # DV is a row-level modification of that file's visible contents
    base_dvs = base_m.get("dvs") or {}
    main_dvs = main_m.get("dvs") or {}
    branch_dvs = {}  # main-notation key -> dv value, branch's view
    branch_own_dvs = {}
    for r, v in (bh_m.get("dvs") or {}).items():
        m = b2main(r)
        if m is None:
            branch_own_dvs[r] = v
        else:
            branch_dvs[m] = v
    main_dv_changed = {
        f for f in main_dvs.keys() | base_dvs.keys()
        if main_dvs.get(f) != base_dvs.get(f)
    }
    branch_dv_changed = {
        f for f in branch_dvs.keys() | base_dvs.keys()
        if branch_dvs.get(f) != base_dvs.get(f) and f not in branch_removed
    }
    touched_main = main_removed | main_dv_changed
    touched_branch = branch_removed | branch_dv_changed
    conflicts = sorted(touched_main & touched_branch)
    if conflicts:
        raise ValueError(
            f"rebase of branch {name!r} refused — {len(conflicts)} base "
            f"file(s) modified by BOTH main (v{base}→v{main_head}) and the "
            f"branch (fork@v{base}→head v{bhead}): {conflicts[:5]} — "
            "re-branch from the new head and redo the conflicting DML"
        )

    # table state: at most one side may have changed each key
    merged_struct = {}
    for key in _TABLE_STATE:
        b_val, m_val, base_val = bh_m.get(key), main_m.get(key), base_m.get(key)
        if b_val != base_val and m_val != base_val and b_val != m_val:
            raise ValueError(
                f"rebase of branch {name!r} refused — {key!r} diverged: "
                f"branch has {b_val!r}, main has {m_val!r} (base {base_val!r})"
            )
        val = b_val if b_val != base_val else m_val
        if val is not None:
            merged_struct[key] = val

    # merged file set (branch notation): main's survivors + branch's own
    merged_files = [
        to_branch(f) for f in main_m["files"] if f not in branch_removed
    ] + b_own

    def _merge_keyed(key: str) -> dict:
        out = {}
        for f, v in (main_m.get(key) or {}).items():
            if f not in branch_removed:
                out[to_branch(f)] = v
        for r, v in (bh_m.get(key) or {}).items():
            if b2main(r) is None:
                out[r] = v
        return out

    merged_state = dict(merged_struct)
    for key in ("stats", "rows", "blooms"):
        merged = _merge_keyed(key)
        if merged:
            merged_state[key] = merged
    merged_dvs = {
        to_branch(f): v for f, v in main_dvs.items() if f not in branch_removed
    }
    for f in branch_dv_changed:  # branch's DV wins where main didn't touch
        merged_dvs[to_branch(f)] = branch_dvs[f]
    merged_dvs.update(branch_own_dvs)
    merged_dvs = {k: v for k, v in merged_dvs.items() if v}
    if merged_dvs:
        merged_state["dvs"] = merged_dvs
    merged_dv_files = list(dict.fromkeys(
        [to_branch(f) for f in main_m.get("dv_files", [])]
        + [r for r in bh_m.get("dv_files", []) if b2main(r) is None]
    ))
    if merged_dv_files:
        merged_state["dv_files"] = merged_dv_files

    # v1: a fresh fork manifest of main@head (shallow_clone's exact shape)
    v1 = {
        "version": 1,
        "parent": 0,
        "action": "clone",
        "source": {"table_dir": table_dir, "version": main_head},
        "files": [to_branch(f) for f in main_m["files"]],
        "added": [],
    }
    for key in ("stats", "rows", "blooms", "dvs"):
        if main_m.get(key):
            v1[key] = {to_branch(f): v for f, v in main_m[key].items()}
    if main_m.get("dv_files"):
        v1["dv_files"] = [to_branch(f) for f in main_m["dv_files"]]
    for key in _TABLE_STATE:
        if main_m.get(key) is not None:
            v1[key] = main_m[key]
    v2 = {
        "version": 2,
        "parent": 1,
        "action": "rebase",
        "source": {
            "branch": name, "base": base,
            "onto": main_head, "replayed_head": bhead,
        },
        "files": merged_files,
        "added": [],
    }
    v2.update(merged_state)

    # atomic history rewrite: stage the new log, swap with renames,
    # rename back if the swap loses (same adopt/undo pattern as publish)
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:12]
    stage = Path(f"{bdir}/{_LOG}.rebase-{tag}")
    fs.mkdirs(stage)
    for man in (v1, v2):
        out = fs.create(Path(f"{stage}/v{man['version']:08d}.json"), False)
        try:
            out.write(bytearray(json.dumps(man).encode("utf-8")))
        finally:
            out.close()
    live = Path(f"{bdir}/{_LOG}")
    retired = Path(f"{bdir}/{_LOG}.pre-rebase-{tag}")
    if not fs.rename(live, retired):
        fs.delete(stage, True)
        raise IOError(f"could not stage rebase of branch {name!r}")
    if not fs.rename(stage, live):
        fs.rename(retired, live)  # restore — branch unchanged
        fs.delete(stage, True)
        raise IOError(f"could not adopt rebased log for branch {name!r}")
    fs.delete(retired, True)
    return 2


def read_branch(
    spark: SparkSession,
    table_dir: str,
    name: str,
    **kwargs,
) -> DataFrame:
    """``read_snapshot`` over a branch head (sugar; the branch handle
    works with read_snapshot directly for version/prune/point reads)."""
    return read_snapshot(spark, branch_dir(table_dir, name), **kwargs)


# ---------------------------------------------------------------- tags


def _tag_path(jvm, table_dir: str, name: str):
    return jvm.org.apache.hadoop.fs.Path(
        f"{table_dir}/{_LOG}/{_TAGS}/{_check_name(name)}.json"
    )


def create_tag(
    spark: SparkSession,
    table_dir: str,
    name: str,
    version: int | None = None,
) -> int:
    """Pin ``version`` (default: head) under an immutable name. Tags are
    created with create-if-absent — re-tagging an existing name is
    refused (drop first), exactly Iceberg's tag immutability. A tagged
    version's manifest and files survive vacuum/expire_snapshots."""
    fs, _, jvm = _fs(spark, table_dir)
    if version is None:
        version = current_version(spark, table_dir)
    if version == 0:
        raise FileNotFoundError(f"{table_dir} has no committed snapshots")
    # the version must still be retained — a tag of a vacuumed version
    # would dangle from birth
    _read_manifest(fs, jvm, table_dir, version)
    tp = _tag_path(jvm, table_dir, name)
    fs.mkdirs(tp.getParent())
    if not _create_manifest(fs, tp, {"name": name, "version": int(version)}):
        raise FileExistsError(f"tag {name!r} already exists on {table_dir}")
    return int(version)


def resolve_tag(spark: SparkSession, table_dir: str, name: str) -> int:
    fs, _, jvm = _fs(spark, table_dir)
    tp = _tag_path(jvm, table_dir, name)
    if not fs.exists(tp):
        raise FileNotFoundError(f"tag {name!r} does not exist on {table_dir}")
    stream = fs.open(tp)
    try:
        # same JVM-side drain _read_manifest uses (py4j copies buffers)
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(json.loads(text)["version"])


def list_tags(spark: SparkSession, table_dir: str) -> dict[str, int]:
    fs, _, jvm = _fs(spark, table_dir)
    root = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{_LOG}/{_TAGS}")
    out: dict[str, int] = {}
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        n = st.getPath().getName()
        if n.endswith(".json"):
            out[n[:-5]] = resolve_tag(spark, table_dir, n[:-5])
    return out


def drop_tag(spark: SparkSession, table_dir: str, name: str) -> bool:
    fs, _, jvm = _fs(spark, table_dir)
    tp = _tag_path(jvm, table_dir, name)
    return bool(fs.exists(tp) and fs.delete(tp, False))


def read_tag(spark: SparkSession, table_dir: str, name: str, **kwargs) -> DataFrame:
    return read_snapshot(
        spark, table_dir, version=resolve_tag(spark, table_dir, name), **kwargs
    )
