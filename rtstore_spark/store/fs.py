"""Swappable filesystem interface for the storage plane.

The storage plane has two kinds of file traffic:

- **Spark jobs** — collection, log and catalog reads, compaction, batch
  applies and every other set-wise write. Spark speaks every
  Hadoop-supported scheme (``file:``, ``hdfs:``, ``s3a:``, …) itself;
  nothing here touches them.
- **driver file ops** — pointer files, directory listings, sizes, cleanup,
  and the online write path's appends: each append of rows ``DocStore``
  holds on the driver (a SendMutation's doc, log and catalog rows, a
  block's wire envelopes) is one parquet object per partition, serialised
  on the driver and put in place with ``write_bytes_atomic``, with no
  Spark job. These go through this interface: ``LocalFS`` for a local
  root, ``HadoopFS`` for any URI the Spark session's Hadoop configuration
  can reach (public `org.apache.hadoop.fs.FileSystem` API via the JVM
  gateway — the same client Spark's own reads use).

``write_bytes_atomic`` publishes a whole object or nothing: it writes a
``.``-prefixed temp object next to the target and renames it into place.
Readers (``DocStore``'s listings) and Spark's file index skip names that
start with ``.`` or ``_``, so a reader never sees a torn file, and a crash
before the rename leaves only an invisible temp.

Crucially the interface has **no directory-rename requirement**. Snapshot
swaps (compaction, log GC) are *manifest-pointer flips*: the replacement
snapshot is written to a fresh generation directory and a tiny ``_current``
file naming the live generation is overwritten last. Overwriting one small
object is atomic-enough everywhere — POSIX ``rename(2)`` (LocalFS writes a
temp file and ``os.replace``\\ s it), HDFS ``create(overwrite=true)``, S3
single-object PUT (readers see the old body or the new body, never a
torn one). Directory renames — which object stores cannot do atomically —
never happen. Mirrors the single-node swap in the reference's store
(doc_store.rs:45-90) without inheriting its single-machine assumption.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid


class LocalFS:
    """Driver-local POSIX filesystem — the default for ``/path`` roots."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        """Child names (not paths) of a directory; [] if it doesn't exist."""
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def list_files_recursive(self, path: str) -> list[str]:
        """Full paths of every regular file under ``path`` (any depth)."""
        out = []
        for dirpath, _dirnames, filenames in os.walk(path):
            for f in filenames:
                out.append(os.path.join(dirpath, f))
        return sorted(out)

    def read_text(self, path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return None

    def read_binary(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except OSError:
            return None

    def write_text_atomic(self, path: str, text: str) -> None:
        self.write_bytes_atomic(path, text.encode("utf-8"))

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        """Publish ``data`` at ``path`` whole: a ``.``-prefixed temp file
        in the target directory, then ``os.replace``."""
        directory = os.path.dirname(path)
        os.makedirs(directory, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=directory, prefix=".")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            self.delete(tmp)
            raise

    def delete(self, path: str, recursive: bool = False) -> None:
        """Best-effort delete; missing paths are fine."""
        try:
            if os.path.isdir(path):
                if recursive:
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.rmdir(path)
            else:
                os.remove(path)
        except OSError:
            pass

    def du(self, path: str) -> int:
        """Total bytes of all files under ``path`` (0 if missing)."""
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for f in self.list_files_recursive(path):
            try:
                total += os.path.getsize(f)
            except OSError:
                pass
        return total


class HadoopFS:
    """Control-plane ops through Hadoop ``FileSystem`` via the JVM gateway.

    Works against any scheme the session's Hadoop configuration can reach
    (``file:``, ``hdfs:``, ``s3a:``, ``gs:``, ``abfs:``…) — the identical
    client Spark's own parquet reads resolve, so a root that Spark can scan
    is a root this class can manage. ``write_text_atomic`` is a
    ``create(overwrite=true)`` — one small-object PUT, which is the pointer
    flip's only atomicity requirement (see module docstring).
    """

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._jpath(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._jpath(path))

    def makedirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._jpath(path))

    def listdir(self, path: str) -> list[str]:
        fs, jp = self._fs(path), self._jpath(path)
        if not fs.exists(jp):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(jp))

    def list_files_recursive(self, path: str) -> list[str]:
        """Full paths of every file under ``path``. Results keep the
        scheme-qualified URI form Hadoop returns (``s3a://bucket/…``) —
        stripping to the bare URI path would lose the bucket/authority and
        point readers at the wrong filesystem. For a plain local root the
        ``file:`` prefix is normalized away so results mirror LocalFS."""
        fs, jp = self._fs(path), self._jpath(path)
        if not fs.exists(jp):
            return []
        out = []
        it = fs.listFiles(jp, True)
        while it.hasNext():
            out.append(it.next().getPath().toString())
        if "://" not in path:
            out = [f.removeprefix("file:") for f in out]
        return sorted(out)

    def read_text(self, path: str) -> str | None:
        fs, jp = self._fs(path), self._jpath(path)
        if not fs.exists(jp):
            return None
        stream = fs.open(jp)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def read_binary(self, path: str) -> bytes | None:
        fs, jp = self._fs(path), self._jpath(path)
        if not fs.exists(jp):
            return None
        stream = fs.open(jp)
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        fs = self._fs(path)
        out = fs.create(self._jpath(path), True)  # overwrite: one PUT
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        """Publish ``data`` at the fresh path ``path`` whole: a
        ``.``-prefixed temp object in the target directory, then
        ``rename`` (Hadoop's rename does not replace an existing
        target)."""
        fs, jp = self._fs(path), self._jpath(path)
        tmp = self._jpath(os.path.join(
            os.path.dirname(path),
            f".{os.path.basename(path)}.{uuid.uuid4().hex[:8]}.tmp",
        ))
        try:
            out = fs.create(tmp, False)
            try:
                out.write(bytearray(data))
            finally:
                out.close()
            if not fs.rename(tmp, jp):
                raise OSError(f"rename to {path} failed")
        except BaseException:
            self.delete(tmp.toString())
            raise

    def delete(self, path: str, recursive: bool = False) -> None:
        fs, jp = self._fs(path), self._jpath(path)
        try:
            if fs.exists(jp):
                fs.delete(jp, recursive)
        except Exception:  # noqa: BLE001 — best-effort, like LocalFS
            pass

    def du(self, path: str) -> int:
        fs, jp = self._fs(path), self._jpath(path)
        if not fs.exists(jp):
            return 0
        return fs.getContentSummary(jp).getLength()


def fs_for(root: str, spark=None):
    """Pick the FS implementation for a storage root: URIs with a scheme
    go through Hadoop, plain paths stay local."""
    if "://" in root and spark is not None:
        return HadoopFS(spark)
    return LocalFS()


def read_parquet_or_empty(spark, path: str, schema):
    """Read a parquet directory, or return an empty typed DataFrame when it
    does not exist / holds no data yet — the shared fallback every
    streaming surface's ``table()`` needs (a bare ``spark.read.parquet``
    raises UNABLE_TO_INFER_SCHEMA before the first write lands).
    ``schema`` must match what the reader will infer once data exists,
    including partition-column types, or callers see a dtype flip between
    the empty and non-empty cases."""
    from pyspark.errors.exceptions.captured import AnalysisException

    if not fs_for(path, spark).exists(path):
        return spark.createDataFrame([], schema=schema)
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema=schema)


def begin_generation(fs, path: str) -> tuple[int, str | None, str]:
    """Open a generation-pointer commit (the manifest protocol shared by
    ``pipeline.save_seen_filter`` and ``store/increments.py``, whose
    rebuild and compact commits back both maintained indexes —
    ``write_/compact_bm25_index`` and ``write_/compact_pq_index``):
    read the current pointer and mint a uniquely-suffixed next-generation
    directory name. Returns ``(prev_gen, prev_name, new_gen_name)``. The
    caller writes its whole payload under ``<path>/<new_gen_name>`` and
    then calls ``commit_generation`` — a crash anywhere in between leaves
    an orphan directory no reader resolves (swept by the next successful
    commit). The unique suffix means two racing writers that pick the
    same generation number still write to DISTINCT directories; only the
    pointer (plus commit_generation's re-read) decides the winner."""
    import uuid

    cur = fs.read_text(f"{path}/_current")
    prev_gen, prev_name = parse_gen_pointer(cur)
    return prev_gen, prev_name, f"gen-{prev_gen + 1}-{uuid.uuid4().hex[:8]}"


def commit_generation(
    fs, path: str, prev_gen: int, gen_name: str, *, op: str,
    keep: tuple[str | None, ...] = (),
) -> None:
    """Close a generation-pointer commit: re-read-and-refuse (the
    single-writer backstop — if another writer advanced the pointer
    while this one wrote, flipping now would discard that writer's
    committed generation), atomically flip ``_current`` to ``gen_name``,
    then sweep every other ``gen-*`` directory except those in ``keep``.
    Retention is GRACE-OF-ONE by convention: pass the predecessor's name
    in ``keep`` so a reader holding lazy plans against it keeps its
    files for one more commit; crash orphans from failed attempts sweep
    with everything else."""
    cur2 = fs.read_text(f"{path}/_current")
    if parse_gen_pointer(cur2)[0] != prev_gen:
        raise RuntimeError(
            f"{op}: concurrent writer advanced {path} to "
            f"{cur2.strip() if cur2 else 0} during this write — "
            "manifest pointers have a single-writer contract; re-run "
            "against the new committed state"
        )
    fs.write_text_atomic(f"{path}/_current", gen_name)
    retain = {gen_name, *(k for k in keep if k)}
    for d in fs.listdir(path):
        if d.startswith("gen-") and d not in retain:
            fs.delete(f"{path}/{d}", recursive=True)


def retained_generations(
    fs, path: str, keep: int, exclude: str,
) -> tuple[str, ...]:
    """The newest ``keep`` PREDECESSOR generation dir names (by
    generation number, ``exclude`` being the in-flight new generation)
    — the retention set a frequent compactor passes to
    ``commit_generation``. ``keep=1`` is the classic grace-of-one; a
    frequently-folding streaming sink keeps more so a concurrent
    reader's lazy plan survives several folds. Callers should ALSO add
    the live predecessor's name explicitly: a crash orphan with a
    higher generation number must never displace it from the set."""
    gens = sorted(
        (
            d for d in fs.listdir(path)
            if d.startswith("gen-") and d != exclude
        ),
        key=lambda n: int(n.split("-")[1]),
    )
    return tuple(gens[-max(1, keep):])


# Default maintenance-lease TTL. Size it ABOVE the longest expected
# single maintenance operation (append/compact/rebuild) on the store:
# a lease older than this is presumed to belong to a crashed process
# and is taken over. A still-RUNNING operation that outlives the TTL
# can therefore lose its lease to a takeover — the generation-pointer
# re-checks every writer already performs remain the backstop that
# turns that (now doubly-contract-violating) overlap into a loud error.
LEASE_TTL_SECONDS = 900.0


def acquire_maintenance_lease(
    fs, path: str, *, op: str, ttl_seconds: float = LEASE_TTL_SECONDS,
) -> str:
    """Acquire the single-writer maintenance lease of a manifest store.

    The index writers (append/compact/rebuild, both BM25 and PQ) have
    always had a single-writer CONTRACT, enforced after the fact by
    pointer re-checks — which close every race window except the
    instant between the final re-read and the pointer flip (two small
    files cannot be CAS'd together). The lease turns a contract
    violation into a LOUD error at operation START instead: a writer
    that finds a live lease raises immediately, naming the holder,
    before doing any work — so the undetectable last-instant window is
    only reachable by a process that already bypassed a loud error.

    Mechanics — one small file ``<path>/_lease`` holding
    ``{holder, op, acquired_unix, ttl}``:

    - free or STALE (older than its ttl — the holder crashed without
      releasing): overwrite with our record, then READ BACK. Two racers
      that both passed the free/stale check write distinct holder ids;
      the last single-object PUT wins and the loser sees the winner's
      id on read-back and raises. Not a true CAS — two writers landing
      between each other's write and read-back can both believe they
      won — but that needs sub-millisecond symmetry AND a prior loud
      error ignored; the pointer re-checks remain the backstop.
    - live and someone else's: raise, naming the holder and its age,
      so an operator knows WHICH process to wait for (or that it died
      and the lease goes stale after ttl).

    Returns the holder token to pass to ``release_maintenance_lease``.
    Cost: two small control-plane writes per maintenance operation."""
    import json as _json
    import os as _os
    import time
    import uuid

    holder = f"{op}:{_os.getpid()}:{uuid.uuid4().hex[:8]}"
    now = time.time()
    lease_path = f"{path}/_lease"
    cur = fs.read_text(lease_path)
    if cur:
        try:
            rec = _json.loads(cur)
        except ValueError:
            rec = None  # torn/corrupt lease: treat as stale, take over
        if rec:
            age = now - float(rec.get("acquired_unix", 0.0))
            if age <= float(rec.get("ttl", LEASE_TTL_SECONDS)):
                raise RuntimeError(
                    f"{op}: maintenance lease on {path} is held by "
                    f"{rec.get('holder')} (acquired {age:.0f}s ago, ttl "
                    f"{rec.get('ttl')}s) — indexes have a single-writer "
                    "contract; wait for that operation to finish, or if "
                    "its process died the lease goes stale after the ttl "
                    "and the next writer takes over"
                )
    fs.write_text_atomic(
        lease_path,
        _json.dumps(
            {"holder": holder, "op": op, "acquired_unix": now,
             "ttl": float(ttl_seconds)}
        ),
    )
    cur2 = fs.read_text(lease_path)
    try:
        rec2 = _json.loads(cur2) if cur2 else None
    except ValueError:
        rec2 = None
    if not rec2 or rec2.get("holder") != holder:
        raise RuntimeError(
            f"{op}: lost the maintenance-lease race on {path} to "
            f"{rec2.get('holder') if rec2 else '<unreadable>'} — "
            "another writer acquired between this one's write and "
            "read-back; re-run after it finishes"
        )
    return holder


def release_maintenance_lease(fs, path: str, holder: str) -> None:
    """Release a lease IF still ours — a takeover (we went stale
    mid-operation) must not have its fresh lease deleted by the old
    holder's cleanup."""
    import json as _json

    cur = fs.read_text(f"{path}/_lease")
    try:
        rec = _json.loads(cur) if cur else None
    except ValueError:
        rec = None
    if rec and rec.get("holder") == holder:
        fs.delete(f"{path}/_lease")


class maintenance_lease:
    """``with maintenance_lease(fs, path, op="compact_pq_index"):`` —
    acquire on enter, release on exit (including on error: a FAILED
    operation must not hold the store hostage for a full ttl)."""

    def __init__(
        self, fs, path: str, *, op: str,
        ttl_seconds: float = LEASE_TTL_SECONDS,
    ):
        self._fs, self._path, self._op, self._ttl = fs, path, op, ttl_seconds

    def __enter__(self) -> str:
        self._holder = acquire_maintenance_lease(
            self._fs, self._path, op=self._op, ttl_seconds=self._ttl
        )
        return self._holder

    def __exit__(self, *exc) -> None:
        release_maintenance_lease(self._fs, self._path, self._holder)


def safe_batch_tag(tag) -> str:
    """Filesystem-safe idempotence token for a streaming batch tag.

    Digit-only tags — the ``foreachBatch`` batch-id convention every
    ``*_index_sink`` uses — pass through verbatim, so tokens already
    committed into manifests by earlier appends keep matching their
    replays. Anything else HASHES (sha1, ``h``-prefixed): the previous
    sanitizer stripped non-alphanumerics, which collapsed distinct raw
    tags like ``'1-2'`` and ``'12'`` into one token and silently
    dropped the second append as a replay. A digit token can never
    equal an ``h``-prefixed one, and two distinct raw tags collide only
    on a sha1 collision.

    Compatibility: digit tags (the only tags any in-repo producer
    emits) keep their historical tokens. NON-digit tags committed under
    the old sanitizer do NOT match their new hashed tokens — a replay
    of such a tag would re-append. Deliberate: a dual-match against the
    legacy stripped token would reintroduce the aliasing bug (legacy
    strip('1-2') == '12' collides with the digit tag '12'). An index
    carrying pre-hash non-digit tags should be rebuilt/compacted before
    further tagged appends."""
    import hashlib

    s = str(tag)
    if s.isascii() and s.isdigit():
        return s
    return "h" + hashlib.sha1(s.encode()).hexdigest()[:20]


def is_current_tag_token(body: str) -> bool:
    """True when a committed tag token (the part after the ``t``
    prefix) is in ``safe_batch_tag``'s CURRENT vocabulary: all-digits
    (the foreachBatch batch-id convention) or ``h`` + 20 hex chars (a
    hashed non-digit tag). A token in NEITHER form was committed by the
    retired strip-to-alnum sanitizer — its raw tag can no longer be
    recomputed, so replay detection is broken for it: a replay of that
    batch would re-append (duplicate docs, double-counted dfs) with no
    warning. The appenders check committed tokens with this and refuse
    tagged appends onto such an index, advising a rebuild (which
    re-derives every tag) — loud beats silently-duplicated."""
    if body.isascii() and body.isdigit():
        return True
    if len(body) == 21 and body.startswith("h"):
        tail = body[1:]
        return all(c in "0123456789abcdef" for c in tail)
    return False


def parse_gen_pointer(cur: str | None) -> tuple[int, str | None]:
    """(generation number, directory name) from a manifest ``_current``
    pointer whose target is a ``gen-<N>[-<nonce>]`` directory — the
    shared format of ``save_seen_filter`` and the maintained indexes'
    root pointers (``store/increments.py``, used by the BM25 and IVF-PQ
    indexes). Legacy
    pointers hold the bare number (directory ``gen-<N>``); current
    pointers hold the full uniquely-suffixed directory name, so two
    racing writers that pick the same generation number still write to
    distinct directories and only the pointer decides the winner."""
    if cur is None:
        return 0, None
    name = cur.strip()
    if name.isdigit():
        return int(name), f"gen-{name}"
    return int(name.split("-")[1]), name
