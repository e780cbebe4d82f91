"""Maintained-index increments: the one append / rebuild / compact /
streaming-sink protocol behind both persisted search indexes.

The BM25 inverted index (``operators/retrieval.py``) and the IVF-PQ
index (``operators/similarity.py``) are maintained the way the
reference's index node tails new blocks instead of re-indexing
(indexer_impl.rs:147-196): new rows land as an INCREMENT next to the
live base generation, readers union base + committed increments, and a
compaction folds the increments into a fresh base without the corpus.
Both offer Structured Streaming's exactly-once ``foreachBatch`` contract
(a replayed micro-batch is a no-op). This module owns that protocol
once; each index supplies only its own build (``write``), ``fold`` and
read code.

Layout under an index root ``<path>`` — base generations through
``store.fs.begin_generation``/``commit_generation``:

- ``<path>/_current`` — root pointer naming the live generation;
- ``<path>/<gen>/`` — the index's base payload;
- ``<path>/<gen>/inc/gen-N-<t-token|nonce>/`` — one committed increment
  (uniquely suffixed, so two racing appends never share a directory);
- ``<path>/<gen>/inc/_current`` — the increment MANIFEST.

The manifest is one small file, so names, tags and watermark commit in
one atomic write::

    v2
    gen-1-t0          committed increment names, commit order
    gen-2-3f9a1c2e    (an untagged append's hex nonce)
    w41               at most one folded-batch watermark
    t0                one token per tagged append still listed
    th<20 hex>        a hashed non-digit tag

A manifest-less base has no increments and an empty ledger. The legacy
count form — a bare ``N`` on line 1 naming ``gen-1..gen-N``, tag lines
after — still parses; the next append rewrites it as ``v2``.

Ledger rules:

- a tag is ``t`` + ``store.fs.safe_batch_tag(raw)``: digit tags (the
  sinks' batch ids) verbatim, anything else hashed;
- compaction and ledger-carrying rebuilds FOLD the ledger: every digit
  tag collapses into one ``w<max>`` watermark (batch ids are monotone
  under ``foreachBatch``), so a sink's ledger stays O(1) however many
  folds chain; hashed tags carry individually;
- a replay is a token already listed, or a digit token at or below the
  watermark. That makes digit tags a single-monotone-stream contract:
  ONE sink per index; hand-tagged appends should use non-digit tags;
- a token in neither current form was committed by the retired
  strip-to-alnum sanitizer and can never match its replay: tagged
  appends onto such an index refuse loudly, and a ``carry_ledger``
  rebuild (the advised repair) drops it.

Every operation runs under the index's maintenance lease
(``store.fs.maintenance_lease``): a concurrent writer fails fast,
naming the holder. Past the lease, pointer re-checks are the backstop
that turns a race into a loud error; only the instant between the last
re-read and the flip stays uncheckable (two small files cannot be CAS'd
together).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from rtstore_spark.store.fs import (
    begin_generation,
    commit_generation,
    fs_for,
    is_current_tag_token,
    maintenance_lease,
    parse_gen_pointer,
    retained_generations,
    safe_batch_tag,
)

MANIFEST = "inc/_current"


@dataclass(frozen=True)
class Manifest:
    """One parsed increment manifest (see the module docstring)."""

    names: tuple[str, ...] = ()
    tags: tuple[str, ...] = ()
    watermark: int | None = None

    def contains(self, token: str) -> bool:
        """True when ``token`` (``t``-prefixed) is already committed."""
        body = token[1:]
        return token in self.tags or (
            self.watermark is not None and body.isdigit()
            and int(body) <= self.watermark
        )

    def ledger(self) -> list[str]:
        """The committed-tag set as folded ledger lines: digit tags in
        one ``w<max>`` watermark, hashed tags individually, sorted."""
        wm, toks = self.watermark, set()
        for t in self.tags:
            if t[1:].isdigit():
                wm = max(wm if wm is not None else 0, int(t[1:]))
            else:
                toks.add(t)
        return ([f"w{wm}"] if wm is not None else []) + sorted(toks)

    def text(self) -> str:
        wm = [] if self.watermark is None else [f"w{self.watermark}"]
        return "\n".join(["v2", *self.names, *wm, *self.tags]) + "\n"


def parse_manifest(text: str | None) -> Manifest:
    lines = [ln.strip() for ln in (text or "").splitlines() if ln.strip()]
    if not lines:
        return Manifest()
    if lines[0] != "v2":  # legacy count form
        n = int(lines[0])
        return Manifest(
            tuple(f"gen-{i}" for i in range(1, n + 1)), tuple(lines[1:])
        )
    body = lines[1:]
    wms = [int(ln[1:]) for ln in body if ln[0] == "w" and ln[1:].isdigit()]
    return Manifest(
        tuple(ln for ln in body if ln.startswith("gen-")),
        tuple(ln for ln in body if ln[0] == "t"),
        max(wms) if wms else None,
    )


def read_manifest(fs, base: str) -> Manifest:
    return parse_manifest(fs.read_text(f"{base}/{MANIFEST}"))


def increment_dirs(fs, base: str) -> list[str]:
    """Directories of ``base``'s committed increments, commit order. A
    ``gen-*`` directory the manifest does not list is a crashed
    append's orphan: never read, swept by the next commit."""
    return [f"{base}/inc/{n}" for n in read_manifest(fs, base).names]


def live_base(spark, path: str) -> str | None:
    """``<path>/<gen>`` named by the root pointer, or None when there is
    no pointer (no generation committed yet)."""
    cur = fs_for(path, spark).read_text(f"{path}/_current")
    _, live = parse_gen_pointer(cur)
    return None if live is None else f"{path}/{live}"


def _write_ledger(fs, out: str, lines: list[str]) -> None:
    if lines:
        fs.write_text_atomic(
            f"{out}/{MANIFEST}", "\n".join(["v2", *lines]) + "\n"
        )


def append(
    spark, path: str, *, op: str, batch_tag, resolve_base, write,
) -> None:
    """Commit one increment: lease → live base (``resolve_base(spark,
    path)``) → replay no-op → unique ``gen-N-<tag|nonce>`` directory →
    ``write(base, out_dir)``, which returns False when it wrote nothing
    (an empty batch) → re-check both pointers → one manifest write →
    orphan sweep. A crash before the manifest write leaves an orphan
    directory no reader resolves."""
    fs = fs_for(path, spark)
    with maintenance_lease(fs, path, op=op):
        base = resolve_base(spark, path)
        cur0 = fs.read_text(f"{base}/{MANIFEST}")
        m0 = parse_manifest(cur0)
        token = None
        if batch_tag is not None:
            legacy = [
                t[1:] for t in m0.tags if not is_current_tag_token(t[1:])
            ]
            if legacy:
                raise RuntimeError(
                    f"{op}: {path} carries batch tag token(s) committed "
                    f"under the retired strip-to-alnum sanitizer (e.g. "
                    f"{legacy[0]!r}) — replay detection cannot match them, "
                    "so a replayed pre-upgrade batch would silently "
                    "re-append. Rebuild the index ("
                    f"{op.replace('append_', 'write_', 1)}; carry_ledger "
                    "drops the unmatchable tokens) before further tagged "
                    "appends"
                )
            token = f"t{safe_batch_tag(batch_tag)}"
            if m0.contains(token):
                return  # replayed micro-batch: already committed
        name = f"gen-{len(m0.names) + 1}-{token or uuid.uuid4().hex[:8]}"
        if not write(base, f"{base}/inc/{name}"):
            return
        if resolve_base(spark, path) != base:
            raise RuntimeError(
                f"{op}: a rebuild advanced {path} during this append — the "
                "increment targets a retired generation; re-run against "
                "the new one"
            )
        if fs.read_text(f"{base}/{MANIFEST}") != cur0:
            raise RuntimeError(
                f"{op}: concurrent append detected on {path} — indexes "
                "have a single-writer contract; re-run the append"
            )
        m1 = Manifest(
            (*m0.names, name), m0.tags + ((token,) if token else ()),
            m0.watermark,
        )
        fs.write_text_atomic(f"{base}/{MANIFEST}", m1.text())
        for d in fs.listdir(f"{base}/inc"):
            if d.startswith("gen-") and d not in m1.names:
                fs.delete(f"{base}/inc/{d}", recursive=True)


def rebuild(spark, path: str, *, op: str, carry_ledger: bool, write) -> None:
    """Replace the live generation with ``write(out_dir)``'s fresh build
    behind the root pointer flip, keeping the predecessor for one more
    commit (grace-of-one). A crash before the flip leaves the previous
    generation — base, increments and ledger — fully live.

    By default the new generation starts with an empty ledger, so a
    sink feeding the index needs a checkpoint reset. ``carry_ledger``
    carries the live generation's folded ledger (minus retired-sanitizer
    tokens) into it instead: a mid-flight sink's replays still no-op and
    the stream never restarts. Its contract: the rebuild corpus contains
    every committed batch."""
    fs = fs_for(path, spark)
    fs.makedirs(path)
    with maintenance_lease(fs, path, op=op):
        prev_gen, prev_name, gen_name = begin_generation(fs, path)
        ledger = []
        if carry_ledger and prev_name is not None:
            ledger = [
                ln for ln in read_manifest(fs, f"{path}/{prev_name}").ledger()
                if ln[0] == "w" or is_current_tag_token(ln[1:])
            ]
        out = f"{path}/{gen_name}"
        write(out)
        _write_ledger(fs, out, ledger)
        commit_generation(
            fs, path, prev_gen, gen_name, op=op, keep=(prev_name,)
        )


def compact(spark, path: str, *, op: str, keep: int, resolve_base, fold):
    """Fold the live generation's committed increments into a fresh one
    without the corpus: one manifest snapshot → ``fold(base, inc_dirs,
    out_dir)`` → the folded ledger carried forward (replays of folded
    batches still no-op) → manifest re-check → pointer flip, retaining
    the newest ``keep`` predecessors plus the live one, so a reader's
    lazy plan survives ``keep`` folds. No-op when there is nothing to
    fold."""
    fs = fs_for(path, spark)
    with maintenance_lease(fs, path, op=op):
        prev_gen, prev_name, gen_name = begin_generation(fs, path)
        base = resolve_base(spark, path)
        if prev_name is not None and base != f"{path}/{prev_name}":
            raise RuntimeError(
                f"{op}: a rebuild advanced {path} during this compaction — "
                "re-run against the new generation"
            )
        cur0 = fs.read_text(f"{base}/{MANIFEST}")
        m0 = parse_manifest(cur0)
        if not m0.names:
            return
        out = f"{path}/{gen_name}"
        fold(base, [f"{base}/inc/{n}" for n in m0.names], out)
        _write_ledger(fs, out, m0.ledger())
        if fs.read_text(f"{base}/{MANIFEST}") != cur0:
            raise RuntimeError(
                f"{op}: a concurrent append committed on {path} during this "
                "compaction — its increment is not in the folded "
                "generation; re-run the compaction"
            )
        commit_generation(
            fs, path, prev_gen, gen_name, op=op,
            keep=(*retained_generations(fs, path, keep, exclude=gen_name),
                  prev_name),
        )


def sink(
    path: str, *, resolve_base, append_batch, compact_index, compact_every,
    compact_keep,
):
    """A ``foreachBatch`` body: ``append_batch(batch_df, str(batch_id))``
    (the batch id is the exactly-once tag), then — when
    ``compact_every`` is set and the live generation
    (``resolve_base(spark, path)``) lists that many increments —
    ``compact_index(spark, path, keep=compact_keep)``. A
    compaction that dies before its flip leaves the stacked generation
    live and retries on a later batch."""
    def apply(batch_df, batch_id: int) -> None:
        append_batch(batch_df, str(batch_id))
        if compact_every is not None:
            spark = batch_df.sparkSession
            fs = fs_for(path, spark)
            names = read_manifest(fs, resolve_base(spark, path)).names
            if len(names) >= compact_every:
                compact_index(spark, path, keep=compact_keep)

    return apply
