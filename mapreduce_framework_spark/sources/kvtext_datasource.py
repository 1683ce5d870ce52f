"""`key:value` text as a FIRST-CLASS Spark format via the Python
DataSource API (Spark 4).

The reference's only on-disk interchange format is the `key:value`
line sink its reducers write (workerimpl.cc:256-261,319-333) and its
chained jobs re-read (design.md:74).  `compat.read_kv_text` already
parses it with the JVM text reader + regexp — that remains the FAST
lane (whole-stage codegen, zero Python in the scan).  This module
makes the same format a registered source — ``spark.read.format
("kvtext").load(path)`` — through ``pyspark.sql.datasource``, the
extension point a Spark-native engine offers where the reference
hard-codes its format into the worker binary.

What the DataSource does that a manual parse cannot:

- **Partition planning**: one ``InputPartition`` per sink file, so a
  1000-file sink from a 1000-reducer job scans 1000-way parallel with
  per-file locality — the unit of parallelism IS the reference's
  reducer shard.
- **Filter pushdown** (``pushFilters``, Spark 4.1): ``EqualTo``/
  ``IsNotNull`` on ``key`` are accepted and applied INSIDE the reader
  while streaming lines, so a point lookup ships one key's rows to
  the JVM instead of the whole sink.  Every other filter is returned
  to Spark for post-scan evaluation (the contract: returned filters
  are evaluated twice-safe AND-terms).
- **Two-phase-commit writes** (``df.write.format("kvtext")``): tasks
  stage ``.tmp`` files, the driver's ``commit`` renames the complete
  set into place (and clears the old generation under overwrite) —
  readers never see a truncated shard, the failure the reference's
  in-place reducer writes could leak into chained jobs.
- **Incremental reads** (``spark.readStream.format("kvtext")``): a
  growing sink dir as a micro-batch source with consumed-shard set
  offsets, a loud mutation guard, and deterministic by-name replay —
  the chained-job poll loop (client.sh waits for R output blobs) as a
  real stream.

Scale posture: rows cross Python→JVM as Arrow RecordBatches (~4096
rows per IPC transfer, not a pickled tuple per row); per-file readers
never materialize a whole file (line-streamed).  For a scan-heavy
100 TB pipeline the JVM lane stays preferred — this source exists for
the extension-point parity and for sinks where pushdown beats raw
scan speed (selective key lookups over many shards).

Everything here is cloudpickle-shipped by value to Python workers;
imports stay inside methods for the same reason as
functions/tokenize.py.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

KV_SCHEMA = "key string, value long"

MANIFEST_NAME = "_manifest"

# Overwrite generations are epoch-tagged: shards renamed under an
# overwrite commit are named part-e{epoch:06d}-..., and the _manifest
# flip is the SINGLE atomic operation that makes the new epoch live.
# \d{6,} (not exactly 6): the writer formats {epoch:06d}, which emits
# SEVEN digits once epoch reaches 10**6 — an exact-width pattern would
# return None for the just-published live generation and make the
# whole dataset invisible to every reader after that flip.  The
# trailing '-' keeps parsing unambiguous at any width.
_EPOCH_RE = r"\Apart-e(\d{6,})-"


def shard_epoch(name: str) -> int | None:
    """Epoch tag of a shard name, or None for untagged names (legacy
    append shards ``part-{i}-{run}``, stream-writer shards
    ``part-b{batch}-{i}``)."""
    import re

    m = re.match(_EPOCH_RE, name)
    return int(m.group(1)) if m else None


def read_manifest(root: str) -> dict | None:
    """The sink's generation manifest, or None for manifest-less dirs
    (append-only sinks, stream-writer sinks, pre-manifest legacy dirs).
    A torn/unreadable manifest raises: silently falling back to a flat
    listing would resurrect the torn-generation window the manifest
    exists to close."""
    import json
    import os

    path = os.path.join(root, MANIFEST_NAME)
    try:
        with open(path, encoding="utf-8") as f:
            raw = f.read()
    except FileNotFoundError:
        return None
    man = json.loads(raw)
    if not isinstance(man.get("epoch"), int):
        raise ValueError(f"kvtext: malformed manifest at {path!r}")
    return man


def live_generation(root: str) -> tuple[int, list[str]]:
    """THE reader-side generation resolution — ``(epoch, shard
    names)`` of the live generation, shared by the batch reader, the
    stream reader, and the JVM lane (compat.read_kv_text) so every
    lane agrees on which shards are live.  Epoch ``-1`` means the dir
    has never been overwrite-manifested.

    Manifest-less dir: every committed UNTAGGED ``part-*`` file (the
    append-only and stream-writer contract — per-shard-atomic renames
    ARE the publish).  Epoch-TAGGED shards in a manifest-less dir are
    an in-flight or crashed FIRST overwrite's pre-flip generation and
    must stay invisible until its manifest flip publishes them —
    returning them would let a reader racing the first overwrite of an
    append-only sink observe a torn mixture of old untagged shards plus
    partially-renamed new epoch shards.

    Manifested dir: only shards of the manifest's epoch — shards of
    other epochs are either the superseded generation awaiting
    post-flip GC or a crashed overwrite's never-published generation,
    and BOTH must stay invisible, which is exactly what makes the
    overwrite flip atomic: until the one manifest rename, readers
    resolve the old epoch; after it, the new — never a mixture.

    The manifest is re-read AFTER the listing and the pair retried
    until stable: a flip landing between the manifest read and the
    listing could otherwise pair the old epoch with a post-GC listing
    (a partial old generation) — torn in a way neither single
    snapshot is."""
    import os

    for _ in range(16):
        man_before = read_manifest(root)
        try:
            names = os.listdir(root)
        except FileNotFoundError:
            names = []
        parts = [
            n for n in names if n.startswith("part-") and not n.endswith(".tmp")
        ]
        man_after = read_manifest(root)
        before = -1 if man_before is None else man_before["epoch"]
        after = -1 if man_after is None else man_after["epoch"]
        if before != after:
            continue  # flip raced the listing — take a fresh pair
        if after == -1:
            return -1, sorted(n for n in parts if shard_epoch(n) is None)
        return after, sorted(n for n in parts if shard_epoch(n) == after)
    raise RuntimeError(
        f"kvtext: generation flipping continuously under reader at {root!r}"
    )


def live_shard_names(root: str) -> list[str]:
    """Shard names of the live generation (see :func:`live_generation`)."""
    return live_generation(root)[1]


# Age past which a FOREIGN run's staged file counts as dead debris.
_STALE_STAGE_AGE_S = 3600.0


def sweep_stale_stage(root: str, keep_run: str) -> None:
    """Age-guarded reclamation of FOREIGN-run ``.part-*.tmp`` stage
    files: run-id-scoped sweeps cannot touch a dead run's stragglers
    (its run id is gone forever), so commit/abort additionally reap tmp
    files of OTHER runs once they sit untouched past the 1 h guard —
    old enough that no live writer is mid-commit on them (a live run's
    stage is minutes old at most; the guard matches
    io.reap_superseded's cross-session posture).  Never raises."""
    import os
    import time

    own = f".part-{keep_run}-"
    now = time.time()
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        if (
            not name.startswith(".part-")
            or not name.endswith(".tmp")
            or name.startswith(own)
        ):
            continue
        path = os.path.join(root, name)
        try:
            if now - os.path.getmtime(path) > _STALE_STAGE_AGE_S:
                os.remove(path)
        except OSError:
            continue


def parse_kv_lines(path: str, want: set | None = None):
    """The ONE kv-line grammar, shared by the batch reader and the
    stream reader (a fix applied to one lane must not leave the other
    disagreeing on the same file).  Accepts exactly the JVM lane's
    ``^(.*):(-?\\d+)$`` — last-colon split, ASCII-digit value, no
    sign variants/whitespace/underscores/unicode digits (``int()``
    alone is laxer than the Java regex and would make the two lanes
    diverge on lenient foreign sinks).  Non-conforming lines are
    skipped — and the JVM lane (compat.read_kv_text) filters the SAME
    grammar with RLIKE, so both lanes skip identically on dirty/foreign
    sinks (pinned by
    tests/test_kvtext_source.py::test_lanes_skip_malformed_identically);
    a grammar-valid value outside int64 raises loudly rather than
    silently dropping data the schema cannot carry."""
    import re

    digits = re.compile(r"\A-?[0-9]+\Z")
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            key, sep, val = line.rstrip("\n").rpartition(":")
            if not sep or not digits.match(val):
                continue
            if want is not None and key not in want:
                continue
            v = int(val)
            if not (-(2**63) <= v < 2**63):
                raise ValueError(
                    f"kvtext: value out of int64 range in {path!r}: {val[:40]}"
                )
            yield key, v


class KvTextPartition(InputPartition):
    """One reducer-shard file of the sink."""

    def __init__(self, path: str) -> None:
        self.path = path


def arrow_batches(path: str, want: set | None = None):
    """Stream one shard file as pyarrow RecordBatches (~4096 rows per
    IPC transfer instead of a pickled tuple per row) — the ONE
    executor-side read lane, shared by the batch reader and the stream
    reader so both scan a shard identically."""
    import pyarrow as pa

    keys: list[str] = []
    vals: list[int] = []
    for key, v in parse_kv_lines(path, want):
        keys.append(key)
        vals.append(v)
        if len(keys) >= 4096:
            yield pa.record_batch(
                [pa.array(keys, pa.string()), pa.array(vals, pa.int64())],
                names=["key", "value"],
            )
            keys, vals = [], []
    if keys:
        yield pa.record_batch(
            [pa.array(keys, pa.string()), pa.array(vals, pa.int64())],
            names=["key", "value"],
        )


class KvTextReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self._root = options.get("path")
        if not self._root:
            raise ValueError("kvtext: .load(path) is required")
        self._eq_keys: list[str] | None = None  # None = no pushed filter

    def pushFilters(self, filters: list[Filter]):
        """Accept equality on `key` (the reference sink's natural point
        probe); IsNotNull(key) is free (parsed keys are never null).
        Everything else goes back to Spark.  Multiple EqualTo("key")
        terms AND to an impossible predicate — the reader then yields
        nothing, which is exactly the AND semantics."""
        from pyspark.sql.datasource import IsNotNull

        remaining = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("key",):
                self._eq_keys = (self._eq_keys or []) + [f.value]
            elif isinstance(f, IsNotNull) and f.attribute == ("key",):
                pass  # guaranteed by the parse; nothing to evaluate
            else:
                remaining.append(f)
        return remaining

    def partitions(self) -> list[KvTextPartition]:
        import os

        # Generation-aware listing (live_shard_names): in a manifested
        # dir only the live epoch's shards are scanned, so a scan
        # racing an overwrite commit reads old-or-new, never torn.
        # Manifest-less dirs keep the permissive legacy listing (any
        # non-hidden file — foreign sinks need not follow our part-*
        # naming) EXCEPT epoch-tagged shards, which are an in-flight or
        # crashed FIRST overwrite's unpublished generation and must
        # stay invisible until its manifest flip (same filter as
        # live_generation's manifest-less branch).
        epoch, live = live_generation(self._root)
        if epoch != -1:
            files = [os.path.join(self._root, n) for n in live]
        else:
            try:
                names = os.listdir(self._root)
            except FileNotFoundError:
                names = []
            files = sorted(
                os.path.join(self._root, f)
                for f in names
                if not f.startswith((".", "_"))
                and not f.endswith((".crc", ".tmp"))
                and shard_epoch(f) is None
            )
        # Zero-file sinks still need one (empty) partition: Spark
        # requires at least one.
        return [KvTextPartition(p) for p in files] or [KvTextPartition("")]

    def read(self, partition: KvTextPartition):
        """Yields pyarrow RecordBatches (the DataSourceReader fast lane,
        see :func:`arrow_batches`)."""
        if not partition.path:
            return
        want = set(self._eq_keys) if self._eq_keys is not None else None
        if want is not None and len(want) > 1:
            return  # key = a AND key = b: unsatisfiable
        yield from arrow_batches(partition.path, want)


class KvTextCommit(WriterCommitMessage):
    """One task's staged file (picklable; crosses executor → driver)."""

    def __init__(self, tmp_path: str) -> None:
        self.tmp_path = tmp_path


class _StagedWriter:
    """The staging half shared by the batch and the stream writer: each
    task stages one ``.part-{run}-*.tmp`` file, and ``abort`` plus the
    post-commit sweep reclaim the stage; only ``commit`` differs."""

    def __init__(self, options: dict, overwrite: bool = False) -> None:
        import uuid

        self._root = options.get("path")
        if not self._root:
            raise ValueError("kvtext: a sink path is required")
        self._overwrite = overwrite
        # Writer-instance run id, minted on the DRIVER and shipped
        # inside the pickled writer to every task: staged names carry
        # it, so sweeps can tell THIS job's stragglers from a concurrent
        # writer's live stage (a global .tmp sweep would break the
        # concurrent appends the unique shard names are designed for).
        self._run = uuid.uuid4().hex[:8]

    def write(self, iterator) -> KvTextCommit:
        import os
        import uuid

        os.makedirs(self._root, exist_ok=True)
        tmp = os.path.join(
            self._root, f".part-{self._run}-{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                key, value = row[0], row[1]
                # Nulls have no representation in the line format: an
                # f-string would mint the literal string 'None', which
                # the readers then drop or mis-key — corrupting the
                # roundtrip silently.  Refuse loudly instead.
                if key is None or value is None:
                    raise ValueError(
                        "kvtext: null key/value is not representable "
                        f"in the line format (got key={key!r} value={value!r})"
                    )
                f.write(f"{key}:{value}\n")
        return KvTextCommit(tmp)

    def _sweep_stage(self) -> None:
        # Every remaining `.part-{run}-*.tmp` of THIS run (retried or
        # lost speculative attempts, tasks that died mid-write — none
        # reached ``messages``), then dead FOREIGN runs' stragglers.
        import os

        prefix = f".part-{self._run}-"
        try:
            for name in os.listdir(self._root):
                if name.startswith(prefix) and name.endswith(".tmp"):
                    try:
                        os.remove(os.path.join(self._root, name))
                    except OSError:
                        pass
        except FileNotFoundError:
            pass
        sweep_stale_stage(self._root, self._run)

    def abort(self, messages, *_batch_id) -> None:
        # The stream writer's batchId is not needed: the stage is
        # run-scoped.
        import os

        for msg in messages:
            if msg is not None:
                try:
                    os.remove(msg.tmp_path)
                except OSError:
                    pass
        self._sweep_stage()


class KvTextWriter(_StagedWriter, DataSourceWriter):
    """``df.write.format("kvtext").save(path)`` with the two-phase
    commit the format never had in the reference (workers wrote sink
    files in place; a dead reducer left a truncated shard for the
    chained job to mis-read).  Tasks stage ``.part-*.tmp`` files;
    ``commit`` (driver, runs once, only after EVERY task succeeded)
    renames them all to uniquely-suffixed ``part-*`` shards; under
    OVERWRITE the new shards land under a fresh epoch tag and one
    atomic ``_manifest`` replace flips the live generation (see
    ``commit``); ``abort`` deletes the stage.  Readers therefore only
    ever see complete shards of one complete generation.
    Rename-as-commit assumes the sink dir is on a rename-atomic FS
    (local disk/HDFS; on S3-like stores use a manifest commit instead —
    the sink_snapshot_time_travel pattern).
    """

    def commit(self, messages) -> None:
        """Publish the staged set.  Atomicity contract (generation-atomic
        overwrite):

        **Append** (per-shard atomic): each rename publishes one
        complete file under a run-id-unique name; the old generation is
        never touched, concurrent appenders cannot clobber each other,
        and readers may race freely.  In a manifested dir appends tag
        their shards with the LIVE epoch so generation resolution keeps
        seeing them.

        **Overwrite** (per-GENERATION atomic): the new shards are
        renamed in under a FRESH epoch tag — invisible to every reader,
        because :func:`live_shard_names` only resolves the manifest's
        epoch (or, in a never-manifested dir, untagged names) — and the
        single ``os.replace`` of ``_manifest`` is the publish: a reader
        racing the commit observes the old generation before that
        rename and the complete new generation after it, never a
        mixture.  A crash before the flip leaves the old generation
        live and the new epoch as invisible debris; a crash after the
        flip leaves the new generation live and the old epoch as
        invisible debris; either way the NEXT overwrite commit's
        post-flip GC (delete every shard of a non-live epoch) reclaims
        it — self-healing, never torn.  The one remaining caveat is an
        APPEND racing an overwrite: its shard can land tagged with the
        epoch the overwrite is superseding and be swept — but that is
        the overwrite semantic (replace the dataset), and the same
        single-overwriter posture the delete-then-rename scheme
        required; concurrent appends among THEMSELVES stay safe.
        Rename-as-commit still assumes a rename-atomic FS (local
        disk/HDFS; on S3-like stores use a manifest-per-commit sink —
        queries/scans.py's sink_snapshot_time_travel pattern)."""
        import json
        import os

        os.makedirs(self._root, exist_ok=True)  # zero-task jobs
        man = read_manifest(self._root)
        live = [m for m in messages if m is not None]
        if self._overwrite:
            # Fresh epoch strictly above EVERYTHING ever seen in the
            # dir — manifest epoch alone is not enough, because a
            # crashed overwrite's unpublished epoch may exceed it and
            # colliding with that debris would mix two generations.
            seen = [man["epoch"]] if man else []
            seen += [
                e
                for e in (shard_epoch(n) for n in os.listdir(self._root))
                if e is not None
            ]
            epoch = (max(seen) if seen else -1) + 1
            finals = []
            for i, msg in enumerate(live):
                final = f"part-e{epoch:06d}-{i:05d}-{self._run}"
                os.rename(msg.tmp_path, os.path.join(self._root, final))
                finals.append(final)
            # THE generation flip: one atomic manifest replace.
            tmp = os.path.join(self._root, f".{MANIFEST_NAME}.{self._run}.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(json.dumps({"epoch": epoch, "names": finals}))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self._root, MANIFEST_NAME))
            # Post-flip GC: every shard of a non-live epoch (the
            # superseded generation, or a crashed overwrite's debris)
            # is already invisible to readers — reclaim it.  POSIX
            # open-handle semantics keep a mid-scan reader of the old
            # generation safe.
            for name in os.listdir(self._root):
                if (
                    name.startswith("part-")
                    and not name.endswith(".tmp")
                    and shard_epoch(name) != epoch
                ):
                    try:
                        os.remove(os.path.join(self._root, name))
                    except OSError:
                        pass
        else:
            # Shard names carry the run id: naming by count-of-existing
            # alone lets a concurrent append (or a dir with
            # deleted-shard gaps) rename onto a LIVE shard — os.rename
            # clobbers silently and one committed job's data would
            # vanish.  In a manifested dir, tag with the live epoch so
            # generation resolution includes the appended shards.
            tag = f"e{man['epoch']:06d}-" if man else ""
            for i, msg in enumerate(live):
                final = os.path.join(
                    self._root, f"part-{tag}{i:05d}-{self._run}"
                )
                os.rename(msg.tmp_path, final)
        # Failed-then-retried (or lost speculative) task attempts staged
        # .tmp files that never made it into ``messages``; a job that
        # SUCCEEDED after task retries must not leave them as debris in
        # the live sink dir.  The committed set was renamed away above,
        # so every remaining `.part-{run}-*` is one of our stragglers.
        self._sweep_stage()


class KvTextStreamWriter(_StagedWriter, DataSourceStreamWriter):
    """``df.writeStream.format("kvtext")`` — the streaming half of the
    sink, completing the format matrix (batch read/write + stream
    read/write): the reference's reducer sink as an EXACTLY-ONCE
    micro-batch destination.

    Per batch: tasks stage ``.part-*.tmp`` exactly like the batch
    writer; the driver's ``commit(messages, batchId)`` publishes them
    as ``part-b{batchId:06d}-{i:05d}`` shards (``part-e{epoch:06d}-
    b{batchId:06d}-{i:05d}`` when the sink dir is manifested, so the
    shards stay visible to generation-aware readers) — and FIRST
    removes any existing shards of the SAME batchId at any epoch tag,
    which is what makes the sink exactly-once under structured
    streaming's recovery contract: a
    batch replayed after a crash between sink-commit and checkpoint-
    commit re-commits the same batchId, and the stale generation of
    that batch is replaced instead of doubled.  Batch-scoped names also
    keep the stream-reader lane consistent: shards are immutable once
    their batch's commit returns, and a replay swaps the whole batch
    generation (readers of a LIVE streaming sink consume through the
    kvtext stream reader, whose set-offsets only ever see committed
    names).  TRUNCATE mode (``overwrite=True`` — what Spark hands the
    sink under ``outputMode("complete")``): each commit first clears
    EVERY previous ``part-*`` shard, so the sink always holds exactly
    the latest batch's full result instead of silently accumulating
    stale generations as if it were append.  ``abort`` removes the
    failed batch's stage; straggler .tmp sweeping is scoped to this
    writer's run id, exactly like the batch writer, so even an
    unsupported second writer's in-flight stage is never swept."""

    def commit(self, messages, batchId: int) -> None:
        import os
        import re

        # In a manifested dir (the sink has been batch-OVERWRITTEN at
        # some point) stream shards must carry the live epoch tag,
        # exactly like the batch APPEND path (KvTextWriter.commit's
        # else-branch): an untagged shard in a manifested dir is
        # invisible to every reader (generation resolution filters by
        # epoch) and the next overwrite's post-flip GC deletes it —
        # silent data loss.
        man = read_manifest(self._root)
        tag = f"e{man['epoch']:06d}-" if man else ""
        prefix = f"part-{tag}b{batchId:06d}-"
        # Truncate (complete-mode) semantics: the new batch REPLACES
        # the whole sink, not just its own earlier generation.  Append
        # semantics: idempotent re-commit — a replayed batch replaces
        # only ITS earlier generation (crash between sink commit and
        # checkpoint write), never doubles it — matched at ANY epoch
        # tag, so a replay that straddles a batch overwrite of the
        # sink still replaces rather than doubles its own batch.
        batch_re = re.compile(
            r"\Apart-(?:e\d{6,}-)?" + ("" if self._overwrite else f"b{batchId:06d}-")
        )
        for name in os.listdir(self._root):
            if batch_re.match(name):
                os.remove(os.path.join(self._root, name))
        for i, msg in enumerate(m for m in messages if m is not None):
            final = os.path.join(self._root, f"{prefix}{i:05d}")
            os.rename(msg.tmp_path, final)
        self._sweep_stage()


class KvTextStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("kvtext")`` over a GROWING sink dir —
    the reference's chained-job poll loop (client.sh:226-233 waits for
    R output blobs) as a real incremental source, DATA-PLANE shaped: a
    partition-planning
    ``DataSourceStreamReader``, not the driver-side Simple variant.
    Per micro-batch the driver only LISTS the directory
    (``latestOffset``) and plans one ``InputPartition`` per new shard
    (``partitions``); the shard bytes are read EXECUTOR-side as Arrow
    RecordBatches through the same :func:`arrow_batches` lane the
    batch reader scans with — a 1000-shard generation from a
    1000-reducer job lands as 1000 parallel tasks, never as a driver
    materialization.

    The offset is the SET OF SHARD NAMES already consumed
    (``{"names": [...]}``, sorted for a stable encoding,
    membership-compared), not a bare count and not a sorted prefix: a
    count offset silently skips the new generation after an overwrite
    commit while replay re-reads the WRONG files under the same
    indices, and a prefix comparison assumes new shards SORT AFTER
    consumed ones — false under the writer's uniquely-suffixed names
    (``part-00000-<uuid>`` sorts either side of its predecessor; it
    showed as a 50/50 in-suite flake).  Named set-offsets
    make every failure mode loud: planning raises when any consumed
    shard vanished from the directory (the overwrite signature —
    restart from a fresh checkpoint), new shards are whatever names
    are not yet in the set regardless of sort position, and both
    first-reads and checkpoint replays open files by NAME through the
    planned partitions, so a deleted shard is a FileNotFoundError on
    the executor, never wrong data.  Append-committed shards are
    immutable (the writer's 2PC renames complete files), so set
    membership is exact on the supported (append-only) path.

    Offset encoding & size bound (epoch-compact offsets on the
    overwrite machinery): an offset is
    ``{"epoch": E, "names": [...]}`` where E is the sink's live
    manifest epoch (``-1`` for never-manifested dirs) and ``names`` is
    the consumed-shard set WITHIN that generation.  The manifest epoch
    is the ordering-safe generation id that shard NAMES lack (the
    sort-prefix flake above): epochs are minted strictly
    increasing under the single-overwriter contract, so comparing
    epochs — unlike comparing name sort positions — is always valid.
    Consequences:

    - **Offset JSON is bounded by the LIVE generation's shard count**
      (~40 bytes/name), not by total shards ever consumed: at each
      epoch flip the names set RESETS.  Within one generation shards
      only accrete (appends), so the in-generation set is exact and
      the by-name properties above are unchanged.
    - **An overwrite between batches is now a SUPPORTED transition**,
      not a forced checkpoint restart: ``end.epoch > start.epoch``
      means the dataset was atomically replaced, and the next batch
      delivers the ENTIRE new generation (the overwrite-as-new-data
      semantics of Delta's ``ignoreChanges=false`` overwrite handling,
      made exact by the atomic flip — there is never a torn mixture to
      deliver).
    - **The mutation guard stays loud** for the failure it was built
      for: a consumed name vanishing WITHOUT an epoch flip is an
      in-place rewrite outside the commit protocol (manual deletion,
      foreign compaction) and still raises at planning time.  A
      replayed batch whose generation was since superseded fails
      executor-side as FileNotFoundError on the GC'd shard — loud,
      never wrong data.

    Epoch-less checkpoints (``{"names": [...]}``) are
    read as epoch ``-1``: on a still-manifest-less sink that is
    exactly the old semantics; on a sink manifested since the
    checkpoint was written, the epoch mismatch delivers the live
    generation in full — the same answer a fresh checkpoint would
    reach."""

    def __init__(self, options: dict) -> None:
        self._root = options.get("path")
        if not self._root:
            raise ValueError("kvtext: .load(path) is required")

    def _generation(self) -> tuple[int, list[str]]:
        # Generation-aware (live_generation): only the live epoch's
        # shards are offered, under a flip-stable manifest/listing
        # pair, so an overwrite commit racing latestOffset never
        # exposes a half-renamed generation — the flip is observed as
        # the OLD (epoch, names) until the manifest rename, then the
        # complete NEW pair.
        return live_generation(self._root)

    def initialOffset(self) -> dict:
        return {"epoch": -1, "names": []}

    def latestOffset(self) -> dict:
        epoch, names = self._generation()
        return {"epoch": epoch, "names": names}

    def partitions(self, start: dict, end: dict) -> list[KvTextPartition]:
        """One InputPartition per newly-committed shard of the end
        offset's generation.  Epoch transition (end.epoch > start.epoch)
        = the sink was atomically overwritten between batches: the
        consumed set resets and the whole new generation is this
        batch's input.  Within a generation, the mutation guard lives
        here (planning time, driver-side): every shard the checkpoint
        says was consumed must still be present — a consumed name
        missing from ``end`` means the sink was rewritten in place
        OUTSIDE the commit protocol."""
        import os

        start_epoch = start.get("epoch", -1)
        end_epoch = end.get("epoch", -1)
        if end_epoch < start_epoch:
            raise RuntimeError(
                "kvtext stream: sink generation went BACKWARD "
                f"(epoch {start_epoch} -> {end_epoch}) — the sink dir was "
                "replaced wholesale; restart from a fresh checkpoint"
            )
        seen = set(start["names"]) if end_epoch == start_epoch else set()
        if end_epoch == start_epoch:
            missing = seen - set(end["names"])
            if missing:
                raise RuntimeError(
                    "kvtext stream: sink was rewritten under the stream "
                    "outside the commit protocol — consumed shards "
                    f"{sorted(missing)[:3]} vanished from the directory "
                    "without a generation flip; restart from a fresh "
                    "checkpoint"
                )
        return [
            KvTextPartition(os.path.join(self._root, n))
            for n in end["names"]
            if n not in seen
        ]

    def read(self, partition: KvTextPartition):
        # Executor-side, by NAME: a vanished shard is a loud
        # FileNotFoundError, never silently-substituted data.
        yield from arrow_batches(partition.path)

    def commit(self, end: dict) -> None:
        pass  # shard files are immutable; nothing to clean up


class KvTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kvtext"

    def schema(self) -> str | StructType:
        return KV_SCHEMA

    def reader(self, schema: StructType) -> KvTextReader:
        return KvTextReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> KvTextWriter:
        return KvTextWriter(self.options, overwrite)

    def streamReader(self, schema: StructType) -> KvTextStreamReader:
        return KvTextStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> KvTextStreamWriter:
        return KvTextStreamWriter(self.options, overwrite)


def register_kvtext(spark) -> None:
    """Idempotent registration: repeated calls replace the prior
    registration (registry-key functions may run many times in one
    session — bench min-of-3, sweeps).  Also enables Python-source
    filter pushdown: with ``pushFilters`` implemented, Spark REFUSES
    to plan a filtered scan while ``spark.sql.python.filterPushdown.
    enabled`` is false (fail-fast upstream guard), and the conf is
    read at plan time — i.e. at the driver's collect on our lazy
    frames — so it must be set-and-left, not set-and-restored.

    By-VALUE pickling is registered explicitly: cloudpickle ships
    classes that live in an importable module by REFERENCE, so a
    Python worker whose interpreter lacks this repo on sys.path (an
    external driver running from its own cwd — the exact standalone
    contract __spark_entry__ promises) would die with
    ModuleNotFoundError at DataSource instantiation.  Registering the
    module for by-value pickling makes the source self-contained on
    the wire, which the module docstring always intended."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[register_kvtext.__module__])
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KvTextDataSource)
