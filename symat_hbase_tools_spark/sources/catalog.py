"""Logical ``ns:table`` name resolution — the namespace layer the reference
carries in MRUtil.

The reference tools take HBase table names, including namespace-qualified
ones (``CorruptRowsMR.java:191`` documents ``--table <ns:table>``;
``CopyRow.java:107`` resolves via ``TableName.valueOf``), and
``MRUtil.java:36-40`` exists *solely* to make non-default namespaces work
in the MapReduce input path (the stock ``TableMapReduceUtil`` broke on
them). This module is the engine's twin: a logical-name catalog that maps
``ns:table`` (or bare ``table`` = the ``default`` namespace) to storage
paths, so a user can drive the CLI with the reference's exact table
arguments instead of raw parquet paths.

Resolution order:

1. A string that is an existing path, an absolute path, or a URI is used
   verbatim (backward-compatible: every pre-round-5 invocation passed
   paths).
2. ``SYMAT_TABLE_CATALOG`` (JSON file of ``{"ns:table": "/path", ...}``)
   — the explicit catalog, analogous to an HMS/HBase meta lookup.
3. Convention fallback: ``$SYMAT_WAREHOUSE/<ns>/<table>`` (warehouse
   default ``./spark-warehouse``) — the colon maps to a directory level,
   so non-default namespaces land in their own subtree, never mangled
   into a filename (the MRUtil bug class).
"""

from __future__ import annotations

import json
import os

from symat_hbase_tools_spark.sources.bloom import with_row_bloom

#: env var naming a JSON catalog file mapping logical names to paths
CATALOG_ENV = "SYMAT_TABLE_CATALOG"
#: age gate for deleting .inflight-/.replaced- siblings whose owner pid
#: cannot be liveness-checked (non-local filesystems): generous because
#: an .inflight- dir legitimately lives for a full table write (hours at
#: warehouse scale) — a crashed run's leftovers are cleaned on the first
#: overwrite a day later, which is cheap; deleting a live writer's
#: in-flight state is data loss
STALE_SIBLING_AGE_MS = 24 * 3600 * 1000


def _pid_alive(pid: int) -> bool:
    """Is ``pid`` a running process on THIS host? (signal-0 probe; a
    permission error means it exists, just not ours)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True
    return True
#: env var naming the warehouse root for convention-resolved tables
WAREHOUSE_ENV = "SYMAT_WAREHOUSE"
DEFAULT_NAMESPACE = "default"


def split_table_name(name: str) -> tuple[str, str]:
    """``"ns:table" -> ("ns", "table")``; bare names get the default
    namespace — exactly ``TableName.valueOf``'s contract."""
    ns, sep, tbl = name.partition(":")
    if not sep:
        return DEFAULT_NAMESPACE, name
    if not ns or not tbl:
        raise ValueError(f"malformed table name {name!r} (want ns:table)")
    return ns, tbl


def resolve_table(name: str) -> str:
    """Resolve a CLI table argument (path or logical ``ns:table``) to a
    storage path."""
    looks_like_path = (
        os.path.exists(name)
        or os.path.isabs(name)
        or "://" in name
        or name.startswith(("./", "../", "~"))
    )
    if looks_like_path:
        return name
    catalog_file = os.environ.get(CATALOG_ENV)
    if catalog_file:
        with open(catalog_file) as f:
            catalog = json.load(f)
        if name in catalog:
            return catalog[name]
    ns, tbl = split_table_name(name)
    root = os.environ.get(WAREHOUSE_ENV, "spark-warehouse")
    return os.path.join(root, ns, tbl)


def _in_place_siblings(spark, path: str):
    """(fs, path constructor, ``.inflight-`` path, ``.replaced-`` path) for
    an in-place rewrite of ``path``, after clearing stale siblings of
    earlier runs."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _jp(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    dest = _jp(path)
    fs = dest.getFileSystem(hconf)
    tmp = _jp(f"{path}.inflight-{os.getpid()}")
    old = _jp(f"{path}.replaced-{os.getpid()}")
    # clear STALE siblings from a previous hard-killed run first — a
    # crashed run would otherwise strand its .replaced- copy of the whole
    # table forever (doubling storage per crash), and a stale dir under a
    # recycled pid would make Hadoop's rename-into-existing-dir NEST the
    # table inside it. But "stale" must mean PROVABLY not another live
    # writer's state: the round-7 any-pid glob-delete could remove a
    # concurrent overwrite's in-flight temp mid-write, or its .replaced-
    # backup before its failure-restore rename — data loss. A sibling is
    # deleted only when
    #   * its pid suffix is our own pid (no other live process shares it;
    #     concurrent same-table writes within one process are out of
    #     contract — they would collide on the same temp path anyway), or
    #   * the destination is on the LOCAL filesystem and the pid is not a
    #     running process on this host (liveness is PROOF either way:
    #     a live local pid is never deleted, however old its dir — a
    #     parquet write stages under _temporary/ so the top-level mtime
    #     stays at job start for the whole multi-hour write), or
    #   * liveness CANNOT be proven (remote filesystem, or an
    #     unparseable suffix) and the dir is older than
    #     STALE_SIBLING_AGE_MS (a live writer's dirs are minutes old,
    #     not a day).
    import time

    def _newest_mtime_ms(jpath, top_ms: int) -> int:
        # The age gate must key on the NEWEST mtime anywhere in the
        # sibling tree, not the top-level directory's: a parquet write
        # stages files under _temporary/ and the sibling's top-level
        # mtime stays at job start, so a legitimate multi-hour write
        # that began >age ago would look stale by the top-level clock
        # while its leaf files are seconds old (round-9 advisory — the
        # same data-loss class the liveness fix targets, longer fuse).
        # Cost is one recursive listing, only on the unprovable-liveness
        # path, and only for dirs already past the top-level age gate —
        # cheap next to deleting a whole table copy wrongly.
        #
        # listStatus walk, NOT fs.listFiles(recursive): listFiles
        # enumerates only FILES, so a writer that has so far created
        # only staging directories (task attempt dirs under _temporary/,
        # no leaf files yet) would keep newest == top_ms and still be
        # wrongly deleted past the age gate (round-10 advisory — same
        # data-loss class, narrower window). Directory mtimes update on
        # child creation, so folding them into the bound covers the
        # directories-only phase of a live write.
        newest = top_ms
        stack = [jpath]
        try:
            while stack:
                for st in fs.listStatus(stack.pop()):
                    newest = max(newest, st.getModificationTime())
                    if st.isDirectory():
                        stack.append(st.getPath())
        except Exception:
            # listing race with a concurrent cleanup/rename: keep the
            # best bound we have (worst case we KEEP a dir, never a
            # wrong delete)
            pass
        return newest

    now_ms = int(time.time() * 1000)
    local_fs = str(fs.getUri().getScheme() or "file") == "file"
    for pattern in (f"{path}.inflight-*", f"{path}.replaced-*"):
        for st in fs.globStatus(_jp(pattern)) or []:
            name = st.getPath().getName()
            try:
                owner_pid: int | None = int(name.rsplit("-", 1)[1])
            except (IndexError, ValueError):
                owner_pid = None
            liveness_provable = local_fs and owner_pid is not None
            stale = owner_pid == os.getpid() or (
                liveness_provable and not _pid_alive(owner_pid)
            )
            if not stale and not liveness_provable:
                # age gate, two stages: cheap top-level mtime first; only
                # if that says stale, pay the recursive listing to see
                # whether anything INSIDE is fresh (an active writer)
                top_ms = st.getModificationTime()
                stale = (
                    now_ms - top_ms > STALE_SIBLING_AGE_MS
                    and now_ms - _newest_mtime_ms(st.getPath(), top_ms)
                    > STALE_SIBLING_AGE_MS
                )
            if stale:
                fs.delete(st.getPath(), True)
    return fs, _jp, tmp, old


def overwrite_table_in_place(df, path: str) -> None:
    """Overwrite a cells table directory that may also be an INPUT of
    ``df`` (written with the row-key bloom, the HFile analog).

    Spark cannot ``mode("overwrite")`` a path it is concurrently reading
    (the scan would see its own truncation), and the reference's CopyRow
    writes into the destination TABLE it just read from
    (``CopyRow.java:118-131``). Twin semantics: materialize to a sibling
    temp dir, then swap directories via the Hadoop FileSystem API — so
    ``hdfs://`` / ``s3a://`` tables work, not just local paths (driver-local
    ``os.rename`` would crash AFTER Spark had already written the temp dir).

    Failure posture: the destination is renamed aside and the new data
    renamed in; if the second rename fails, the original is restored in a
    ``try/except`` so the destination directory is never left absent.  A
    hard process kill between the two renames can still strand the
    ``.replaced-`` sibling (directory swap has no atomic primitive on HDFS
    or object stores); the predictable suffix makes recovery obvious.
    """
    fs, _jp, tmp, old = _in_place_siblings(df.sparkSession, path)
    with_row_bloom(df.write.mode("overwrite")).parquet(tmp.toString())
    try:
        _swap(fs, _jp(path), old, tmp, _jp(path))
    finally:
        fs.delete(tmp, True)  # don't leak the inflight dir
    fs.delete(old, True)


def _swap(fs, current, aside, new, dest) -> None:
    """Move ``current`` (if it exists) to ``aside``, then ``new`` to
    ``dest``; if the second move fails, put ``current`` back, so the
    destination is never left absent."""
    existed = fs.exists(current)
    if existed and not fs.rename(current, aside):
        raise IOError(f"could not move {current} aside for in-place overwrite")
    try:
        if not fs.rename(new, dest):
            raise IOError(f"could not move new data into place at {dest}")
    except BaseException:
        if existed and not fs.exists(current):
            fs.rename(aside, current)
        raise


def replace_file_in_place(df, path: str, name: str) -> str:
    """Swap the data file ``name`` of the table at ``path`` for the one
    file ``df`` writes (one partition), under ``overwrite_table_in_place``'s
    failure posture: the new file is written to the ``.inflight-`` sibling,
    the old one is moved aside into the ``.replaced-`` sibling and the new
    one moved in; if that fails the old file is put back. Returns the new
    file's name (Spark's, so it differs from every older one)."""
    fs, _jp, tmp, old = _in_place_siblings(df.sparkSession, path)
    with_row_bloom(df.write.mode("overwrite")).parquet(tmp.toString())
    (written,) = [st.getPath() for st in fs.globStatus(_jp(f"{tmp}/*.parquet"))]
    fs.mkdirs(old)
    try:
        _swap(
            fs,
            _jp(f"{path}/{name}"),
            _jp(f"{old}/{name}"),
            written,
            _jp(f"{path}/{written.getName()}"),
        )
    finally:
        fs.delete(tmp, True)
    fs.delete(old, True)
    return written.getName()
