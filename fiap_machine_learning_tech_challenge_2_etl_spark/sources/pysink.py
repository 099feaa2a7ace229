"""Custom Python Data Source WRITER: a manifest-committed directory sink
with a VERSIONED commit log (snapshot isolation + time travel), periodic
CHECKPOINT rollups (O(1)-ish resolve at any depth), stream-log
COMPACTION (makes streamed history expirable), and a retention-gated
VACUUM.

Round 14 adds the row-level-change tier real table formats ship:

- REPLACE commits (``removed_files``) — one commit swaps a named subset
  of files, the copy-on-write primitive under
  :func:`merge_into_manifest_sink` (MERGE INTO / upsert) and
  :func:`delete_from_manifest_sink` (DELETE WHERE), both scoped by
  manifest-level stats pruning so an upsert of one key rewrites one
  file, not the snapshot.
- Commit TIMESTAMPS + ``TIMESTAMP AS OF`` (:func:`version_at_timestamp`,
  ``read_manifest_sink(..., timestamp=...)``) with Delta's monotone
  clamp rule for clock skew.
- Optimistic concurrency for read-modify-write commits:
  ``option("expectedVersion", k+1)`` claims exactly that version and
  raises :class:`ConcurrentManifestWriteError` on a lost race (merge /
  delete / optimize all pin their base snapshot); blind appends keep the
  probe-upward claim (isolation level documented at the claim loop).
- NULL-count skipping stats (``is_null`` / ``is_not_null`` predicates)
  and JSON-safe tagged encoding for date/timestamp/decimal bounds.
- Arrow RecordBatch reads in the ``manifestlog`` streaming source,
  plus ``startingTimestamp`` alongside ``startingVersion``.
- RESTORE (:func:`restore_manifest_sink` — one metadata-only overwrite
  re-listing an old snapshot) and CHANGE DATA FEED
  (:func:`manifest_changes` — inserts/deletes as a file-set diff
  between two resolved snapshots).
- Parquet CHECKPOINTS (``_CHECKPOINT.v<n>.parquet``) with column-pruned
  loads — no-prune resolves skip the stats column entirely.
- MERGE's WHEN MATCHED DELETE arm (``delete_condition=``), keyed
  row-level CDC (``manifest_changes(keys=...)`` —
  update_preimage/update_postimage with carried rows cancelled), and a
  STREAMING change feed (``manifestlog`` ``readChangeFeed=true`` —
  replaces flow as delete+insert rows with
  ``_change_type``/``_commit_version``/``_commit_timestamp``).
- Zero-copy CLONE (:func:`clone_manifest_sink` — shallow: one metadata
  commit referencing source files absolutely; deep: copies; tables
  diverge independently) and VACUUM ``dry_run``.
- BLOOM-filter file skipping (``bloomFilterColumns``) — point lookups
  on non-clustered columns prune files whose [min, max] admits the key
  but whose bloom proves it was never stored.

The writer half of the Spark 4 Python DataSource API
(``pyspark.sql.datasource.DataSourceWriter``), demonstrating the
exactly-once commit protocol every serious sink implements (the same
two-phase shape as Hadoop's FileOutputCommitter and table formats'
snapshot commit):

1. Each TASK stages its partition to a uniquely-named parquet file
   (``part-<partition>-<write token><attempt uuid>.parquet``) and returns
   the file name in its ``WriterCommitMessage`` — executor-side, no
   coordination. A task that fails MID-write removes its own
   in-progress file before re-raising, so task-level failure leaves no
   staging garbage even though no commit message is ever produced for
   it.
2. The DRIVER's ``commit(messages)`` publishes ONE immutable manifest
   ``_MANIFEST.v<n>`` listing exactly the staged files of SUCCESSFUL
   tasks. The version number is CLAIMED atomically (``os.link`` of a
   fully-written temp file onto the versioned name — fails with
   ``FileExistsError`` if another job got there first, in which case the
   next number is tried). The claim reads FILENAMES only — no manifest
   is ever opened on the commit path, so commit cost stays flat as the
   log deepens. No commit ever reads or rewrites another commit's
   manifest, so concurrent append jobs cannot lose each other's updates:
   the log linearizes them. ``mode("append")`` publishes a delta commit;
   ``mode("overwrite")`` publishes a BASE commit that readers resolve
   from, superseding (but not deleting) older versions.
3. ``abort(messages)`` deletes whatever was staged — a failed job leaves
   no manifest and no garbage the next attempt could double-read.

Readers resolve the directory THROUGH the log: collect versions ``<= k``
(``version=k`` time travel; default latest), start at the newest BASE
commit in range, union the deltas after it. A half-written job is
invisible — no manifest, no data — and an in-flight concurrent job is
invisible at ANY pinned version because its version didn't exist when k
was claimed. Old versions stay readable until explicitly expired
(``expire_manifest_versions``), after which ``vacuum_manifest_sink``
reclaims data files no surviving manifest references — exactly the
retention/VACUUM split table formats use.

CHECKPOINTS (the Delta ``_last_checkpoint`` idea): every
``checkpointInterval`` commits (default 16) the committing job also
publishes ``_CHECKPOINT.v<n>`` — the fully-RESOLVED file list (and
schema metadata) as of commit n. Resolution then opens one checkpoint
plus only the commits after it, so a 2000-commit log resolves by
reading ~interval small JSON files instead of 2000. Checkpoints are
pure caches: resolution with and without them is byte-identical, they
are published with the same exclusive claim (a lost race means another
job wrote the identical rollup), and they expire alongside the commits
they summarize.

SCHEMA is pinned, not inferred: every commit records the writer's full
Spark schema (``schema_json``); readers build the read schema from the
RESOLVED commits' manifests. ADDITIVE evolution is legal (a commit may
add columns; older files project them as NULL — the union schema in
first-appearance order), while real drift — the same field recorded
with two types — fails the read loudly instead of silently
schema-merging.

Streaming (``ManifestStreamSinkWriter``) publishes one manifest PER
MICRO-BATCH (``_MANIFEST-<batchId>``, last-publication-wins so a
retried batch replaces itself). A stream log is all deltas — there is
no base to expire down to — so raw streamed history can never be
expired. ``compact_stream_manifests(path, upto_batch)`` fixes that:
it rewrites the manifests for batches <= upto_batch into ONE BASE
manifest at ``_MANIFEST-<upto_batch>`` (metadata only — no data file is
touched), after which expire + vacuum are legal on the stream directory
too. Compaction refuses to touch the NEWEST batch: Spark may replay the
last committed batch after a restart, and that replay must land on a
delta it owns, never on a base it would clobber.

One writer FAMILY per directory: the batch commit log and the stream's
per-batch manifests are two independent version spaces with no global
order, so each commit path checks the directory's existing family FIRST
and refuses to publish into the other's log (the check is name-level —
nothing is opened — and runs before anything becomes visible).
Two retired on-disk generations are not read: the schema-less pre-v2
one (a single bare ``_MANIFEST`` file, or versioned commits that hold
files but record no ``schema_json``) and the JSONL-staged one (commits
recording ``"format": "jsonl"``). The bare file fails the name scan; a
no-schema or JSONL commit fails the schema pin, which every reader,
copy-on-write operation and append runs before anything is staged or
published.

Speculative/retried tasks fall out of the same protocol: each attempt
stages under a fresh uuid, but only the attempts whose commit messages
reach ``commit()`` enter the manifest — orphaned attempt files are inert
(and swept by vacuum). ``vacuum_manifest_sink`` only reclaims
unreferenced files OLDER than a grace period (default 10 minutes):
a concurrently-running job's staged-but-not-yet-committed files look
exactly like orphans, and deleting them would let its commit publish a
manifest pointing at nothing — the same reason real table formats gate
VACUUM behind a retention threshold. Pass ``grace_seconds=0`` only when
you know no writer is in flight.

Why this is first-class at 100 TB: object stores have no atomic
multi-file rename, so "the job either happened or it didn't" must be
manufactured exactly this way — stage under unique names, publish one
small immutable pointer per commit, roll pointers up so resolve never
reads O(history). Staged files are parquet written executor-side by
pyarrow, so their footers carry the recorded types; the commit protocol
itself never opens a data file.

Deployment assumption, stated plainly: tasks ``open()`` paths under the
sink directory, so driver and executors must SHARE that filesystem —
true in local mode and on any cluster with a shared mount (NFS, Fuse
over an object store). A cloud deployment swaps the two ``open()`` call
sites for an object-store client PUT and the ``os.link`` claim for a
conditional PUT (If-None-Match) of the manifest key; the
commit/abort/message protocol — the part Spark drives — is unchanged.

Usage::

    spark.dataSource.register(ManifestSinkDataSource)
    df.write.format("manifestsink").option("path", d).mode("append").save()
    rows = read_manifest_sink(spark, d)             # latest snapshot
    old  = read_manifest_sink(spark, d, version=2)  # time travel
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from fiap_machine_learning_tech_challenge_2_etl_spark.util import (
    local_relation_df,
)

MANIFEST = "_MANIFEST"
_V_PREFIX = MANIFEST + ".v"  # batch commit log: _MANIFEST.v00000001
_B_PREFIX = MANIFEST + "-"  # streaming per-batch: _MANIFEST-<batchId>
_CKPT_PREFIX = "_CHECKPOINT.v"  # resolved-state rollup: _CHECKPOINT.v00000016
_HINT = "_LAST_CHECKPOINT"  # Delta-style pointer: latest version + checkpoint
#: presence marker for column mapping (r15): written (never removed) by the
#: first RENAME/DROP COLUMN on a table, so plain appends only pay a log
#: resolve on tables that ever had one — the marker is advisory, the
#: authoritative mapping lives in the commit log's metadata commits
_COLMAP_MARKER = "_COLUMN_MAPPING"
DEFAULT_CHECKPOINT_INTERVAL = 16
VACUUM_GRACE_SECONDS = 600.0

# stats-column types the min/max skipping layer supports: every one of
# these has a JSON round-trip (below) whose decoded ordering equals the
# column's real ordering, which is what the superset contract rests on.
# Anything else (binary, arrays, structs) is refused at writer init —
# AFTER the job ran would be the worst possible place to find out
# (ADVICE r13: json.dump raised TypeError on date stats at commit()).
_STATS_OK_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "decimal", "string", "boolean", "date", "timestamp",
)


class ConcurrentManifestWriteError(RuntimeError):
    """A commit that pinned its base snapshot (``expectedVersion``) lost
    the claim race: another writer published that version first. The
    caller must re-read the new snapshot and retry its read-modify-write
    — blindly taking the next version would silently supersede (merge,
    delete, optimize) or resurrect (optimize racing an append) the
    concurrent commit's rows."""


def _enc_stat(v):
    """JSON-safe encoding for a stats bound. Plain JSON scalars pass
    through; date/timestamp/Decimal get a tagged wrapper whose decode
    restores the original type so pruning compares like with like
    (ISO strings would compare correctly for dates, but the predicate
    side arrives as Python objects — decode keeps one ordering)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    raise TypeError(
        f"unsupported stats value type {type(v).__name__}: statsColumns "
        "accepts numeric/string/boolean/date/timestamp/decimal columns"
    )


def _dec_stat(v):
    if not isinstance(v, dict):
        return v
    import datetime
    import decimal

    t, raw = v.get("t"), v.get("v")
    if t == "ts":
        return datetime.datetime.fromisoformat(raw)
    if t == "date":
        return datetime.date.fromisoformat(raw)
    if t == "dec":
        return decimal.Decimal(raw)
    return raw


#: bloom-filter skipping knobs: classic 10 bits/key + 7 probes gives a
#: ~0.8% false-keep rate (a false positive only costs a wasted scan —
#: the superset contract absorbs it); files with more distinct values
#: than the cap record NO bloom (never pruned by it — still a superset)
_BLOOM_BITS_PER_KEY = 10
_BLOOM_K = 7
_BLOOM_MAX_DISTINCT = 65536


def _bloom_key_variants(v) -> list[bytes]:
    """All on-disk encodings a stored-equal value may have been hashed
    under: the canonical key plus the legacy ``b:`` bool tag (pre-r15
    blooms over boolean columns used it; r15 canonicalized bool into the
    int encoding). Probing every variant can only KEEP extra files —
    the superset contract absorbs it — while probing only the new form
    would silently false-negative-prune files written by older code."""
    k = _bloom_key(v)
    if k is None:
        return []
    out = [k]
    if (isinstance(v, bool) or (isinstance(v, int) and v in (0, 1))):
        out.append(b"b:1" if v else b"b:0")
    return out


def _bloom_key(v) -> bytes | None:
    """Canonical hash input for a bloom value — the write side and the
    predicate side must agree byte-for-byte, so only types with one
    obvious canonical form participate (int family, string, bool);
    anything else returns None and the caller keeps the file.

    bool canonicalizes to the int encoding: Spark SQL equality coerces
    the two (``col = 1`` matches TRUE), so a distinct ``b:`` tag would
    let a point predicate of the "wrong" Python type pass the min/max
    tier yet miss the bloom — a silent false-negative prune."""
    if isinstance(v, bool):
        return b"i:1" if v else b"i:0"
    if isinstance(v, int):
        return b"i:%d" % v
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    return None


def _bloom_hashes(key: bytes, m: int):
    """k bit positions via double hashing over one sha1 (the standard
    Kirsch–Mitzenmacher construction: h1 + j*h2 mod m)."""
    import hashlib

    d = hashlib.sha1(key).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return ((h1 + j * h2) % m for j in range(_BLOOM_K))


def _bloom_build(values) -> dict:
    import base64

    m = max(64, ((len(values) * _BLOOM_BITS_PER_KEY + 7) // 8) * 8)
    bits = bytearray(m // 8)
    for v in values:
        key = _bloom_key(v)
        for idx in _bloom_hashes(key, m):
            bits[idx >> 3] |= 1 << (idx & 7)
    return {"m": m, "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_maybe_contains(bloom: dict, key: bytes) -> bool:
    import base64

    m = int(bloom["m"])
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[idx >> 3] & (1 << (idx & 7)) for idx in _bloom_hashes(key, m)
    )


def _stat_bounds(entry) -> tuple:
    """Normalize a per-file per-column stats entry to ``(min, max,
    nulls, rows)`` with None for anything the entry doesn't record.
    Three on-disk generations: the legacy ``[min, max]`` list (raw JSON
    values, no null counts), the r14 dict ``{"min", "max", "nulls",
    "rows"}`` with tagged encoding and null/row counts, and the r15
    PARTITION-VALUE form ``{"pv": v, "rows": n}`` — the writer proved
    every row of the file holds exactly the one non-null value ``v``
    (Hive-style partition column), which normalizes to the EXACT bounds
    ``(v, v, 0, rows)``: every consumer (range pruning, bloom-free
    point pruning, retention full-drop proofs, merge conflict checks)
    then prunes on an exact fact, not a min/max estimate."""
    if isinstance(entry, list):
        return _dec_stat(entry[0]), _dec_stat(entry[1]), None, None
    if isinstance(entry, dict):
        if "pv" in entry:
            v = _dec_stat(entry["pv"])
            return v, v, 0, entry.get("rows")
        return (
            _dec_stat(entry.get("min")),
            _dec_stat(entry.get("max")),
            entry.get("nulls"),
            entry.get("rows"),
        )
    return None, None, None, None


class _StagedFile(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int, stats: dict | None = None):
        self.filename = filename
        self.n_rows = n_rows
        # per-column {"min", "max", "nulls", "rows"} over this file —
        # the manifest-level data-skipping stats (None when not tracked)
        self.stats = stats


def _publish(path: str, name: str, write, place) -> None:
    """Publish ``name`` complete-on-arrival: ``write(tmp)`` fills a
    uniquely-named dot temp file, then ``place(tmp, target)`` puts it
    in place — ``os.link`` (fails with FileExistsError if the name is
    taken: an exclusive claim) or ``os.replace`` (last publication
    wins). The temp file is removed whatever happens, so a failed
    write (a full disk, an unserializable value) leaves no ``.tmp``
    behind — vacuum never sweeps dot-files."""
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        write(tmp)
        place(tmp, os.path.join(path, name))
    finally:
        if os.path.lexists(tmp):
            os.remove(tmp)


def _json_to(manifest: dict):
    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            json.dump(manifest, f)

    return write


def _publish_exclusive(path: str, name: str, manifest: dict) -> None:
    """Atomically publish an IMMUTABLE manifest (``os.link`` claim):
    readers can never observe a partial manifest. Raises
    FileExistsError for the caller to retry with the next version
    number."""
    _publish(path, name, _json_to(manifest), os.link)


def _claim_version(path: str, v: int, manifest: dict, doing: str) -> None:
    """Publish ``manifest`` as EXACTLY batch version ``v`` — the CAS claim
    of every commit pinned to a version it read. A lost claim raises
    :class:`ConcurrentManifestWriteError`; ``doing`` ends its message."""
    try:
        _publish_exclusive(path, f"{_V_PREFIX}{v:08d}", manifest)
    except FileExistsError:
        raise ConcurrentManifestWriteError(
            f"version {v} in {path} was claimed by a concurrent writer {doing}"
        ) from None


def _publish_last_wins(path: str, name: str, manifest: dict) -> None:
    """Atomically publish a manifest where the LAST publication wins
    (``os.replace``) — the idempotent variant a retried streaming batch
    needs: re-running batch k republishes ``_MANIFEST-k`` and readers
    still see exactly one pointer for that batch."""
    _publish(path, name, _json_to(manifest), os.replace)


def _read_hint(path: str) -> dict | None:
    """The ``_LAST_CHECKPOINT`` pointer (Delta's idea, literally): a tiny
    last-wins file recording the log's kind, the latest known version,
    and the newest checkpoint version. PURELY an accelerator — it lets
    commit skip the directory listing (probe from version+1) and resolve
    jump straight to its checkpoint; a stale or missing hint only costs
    a fallback to the name scan, never correctness (the exclusive claim
    and the dense version space stay authoritative)."""
    try:
        with open(os.path.join(path, _HINT)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError, json.JSONDecodeError):
        return None


def _write_hint(path: str, kind: str, version: int, checkpoint: int | None) -> None:
    try:
        _publish_last_wins(
            path, _HINT, {"kind": kind, "version": version, "checkpoint": checkpoint}
        )
    except OSError:
        # best-effort by contract: the commit this hint describes already
        # published; a missing/stale hint costs the next reader a name
        # scan, never correctness
        pass


def _scan_names(path: str) -> tuple[str | None, list, list]:
    """NAME-LEVEL view of the directory's log — nothing is opened, so
    this is safe (and cheap) on every commit. Returns ``(kind, commits,
    checkpoints)`` where kind is 'batch' / 'stream' / None (empty),
    commits is ``[(version, filename)]`` sorted, checkpoints likewise.
    A single bare ``_MANIFEST`` (the schema-less pre-v2 generation) is
    refused, and so is a directory holding BOTH families — their
    version spaces have no global order."""
    batch: list[tuple[int, str]] = []
    stream: list[tuple[int, str]] = []
    ckpts: list[tuple[int, str]] = []
    if os.path.isdir(path):
        for f in os.listdir(path):
            if f.endswith(".tmp"):
                continue
            if f.startswith(_V_PREFIX):
                batch.append((int(f[len(_V_PREFIX):]), f))
            elif f.startswith(_B_PREFIX):
                stream.append((int(f[len(_B_PREFIX):]), f))
            elif f == MANIFEST:
                raise ValueError(
                    f"{path} holds a bare {MANIFEST} written by the "
                    "schema-less pre-v2 manifest-log generation, which is "
                    "no longer read; re-write the table with the current "
                    "sink (read its files with spark.read.json, overwrite)"
                )
            elif f.startswith(_CKPT_PREFIX):
                # two on-disk checkpoint formats: bare JSON
                # (_CHECKPOINT.v00000016, pre-r14) and parquet
                # (_CHECKPOINT.v00000016.parquet) — same logical content
                core = f[len(_CKPT_PREFIX):]
                if core.endswith(".parquet"):
                    core = core[: -len(".parquet")]
                ckpts.append((int(core), f))
    if (batch or ckpts) and stream:
        raise ValueError(
            f"{path} holds both a batch commit log and streaming per-batch "
            "manifests; their version spaces have no global order — use one "
            "writer family per directory"
        )
    kind = "batch" if (batch or ckpts) else ("stream" if stream else None)
    return kind, sorted(batch or stream), sorted(ckpts)


def _log_head(path: str) -> tuple[str | None, int, int | None]:
    """``(kind, latest version, newest checkpoint)`` — from the hint in
    one tiny read; only a hint-less directory pays the name scan. The
    commit paths' family check and version claim start here."""
    hint = _read_hint(path)
    if hint is not None:
        return hint.get("kind"), int(hint.get("version", 0)), hint.get("checkpoint")
    kind, commits, ckpts = _scan_names(path)
    newest_ckpt = ckpts[-1][0] if ckpts else None
    return kind, (commits[-1][0] if commits else 0), newest_ckpt


def _load(path: str, name: str) -> dict:
    with open(os.path.join(path, name)) as f:
        return json.load(f)


def _load_checkpoint(path: str, name: str, with_stats: bool = True) -> dict:
    """Load a checkpoint in either on-disk format into the same logical
    dict {"version", "files", "metas", "file_stats"}. The parquet form
    (r14) is one row per snapshot file (filename + its stats as a JSON
    cell) with version/metas in the schema metadata. The point of the
    parquet form — the reason Delta made the same JSON->parquet move —
    is COLUMN PRUNING on the checkpoint itself: a resolve that doesn't
    need skipping stats (``with_stats=False``) reads only the filename
    column, measured 4.8x faster than the full-JSON parse at a
    500k-file snapshot (BENCH_NOTES r14); decoding the stats column is
    where the per-file cost lives, so only stats consumers pay it.
    ``with_stats=False`` returns ``file_stats={}`` for the checkpointed
    prefix — callers must not prune from such a state. Bare-JSON
    checkpoints are only ever READ: pre-r14 logs hold them. An absent
    name raises FileNotFoundError in either format. ``metas`` are the
    rolled-up commits' recorded identities, staged format included, so
    the schema pin refuses a checkpoint of a JSONL-staged table exactly
    as it refuses the commits themselves."""
    if not name.endswith(".parquet"):
        return _load(path, name)
    import pyarrow.parquet as pq

    cols = None if with_stats else ["filename"]
    table = pq.read_table(os.path.join(path, name), columns=cols)
    md = {
        k.decode(): v.decode()
        for k, v in (table.schema.metadata or {}).items()
    }
    head = json.loads(md["manifest_checkpoint"])
    files = table.column("filename").to_pylist()
    fstats: dict[str, dict] = {}
    if with_stats:
        for fname, sj in zip(files, table.column("stats_json").to_pylist()):
            if sj is not None:
                fstats[fname] = json.loads(sj)
    return {
        "version": head["version"],
        "files": files,
        "metas": head["metas"],
        "file_stats": fstats,
        "mapping": head.get("mapping"),
    }


def _load_checkpoint_by_version(path: str, v: int, with_stats: bool = True) -> dict:
    """Resolve-by-version used on the hint fast path: the hint records a
    checkpoint VERSION, not a name, so probe the parquet name first
    (current writers), then the bare JSON name (pre-r14 logs). Raises
    FileNotFoundError when neither exists (expired under a stale hint)."""
    try:
        return _load_checkpoint(path, f"{_CKPT_PREFIX}{v:08d}.parquet", with_stats)
    except FileNotFoundError:
        return _load_checkpoint(path, f"{_CKPT_PREFIX}{v:08d}", with_stats)


def _publish_checkpoint(path: str, v: int, ck: dict) -> None:
    """Publish a parquet checkpoint rollup with the SAME exclusive-claim
    contract as commits (temp file + os.link): checkpoint content is a
    pure function of the log prefix <= v, so losing the claim race is a
    no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fstats = ck.get("file_stats", {})
    table = pa.table(
        {
            "filename": pa.array(ck["files"], type=pa.string()),
            "stats_json": pa.array(
                [
                    json.dumps(fstats[f]) if f in fstats else None
                    for f in ck["files"]
                ],
                type=pa.string(),
            ),
        }
    ).replace_schema_metadata(
        {
            "manifest_checkpoint": json.dumps(
                {"version": ck["version"], "metas": ck["metas"],
                 "mapping": ck.get("mapping")}
            )
        }
    )
    _publish(
        path, f"{_CKPT_PREFIX}{v:08d}.parquet",
        lambda tmp: pq.write_table(table, tmp), os.link,
    )


def _meta_of(man: dict) -> dict:
    """The schema/format identity a commit contributes to a resolved
    snapshot, as the commit recorded it. A pre-v2 commit records neither
    ``schema_json`` nor ``format``, a JSONL-staged one ``"jsonl"``;
    :func:`_pin_read_schema` refuses both."""
    return {
        "fields": man.get("fields"),
        "schema_json": man.get("schema_json"),
        "format": man.get("format"),
    }


def _list_commits(path: str) -> list[tuple[int, str, dict]]:
    """The FULL commit log, ordered by version: ``(version, kind,
    manifest)``. Opens every manifest — used only by maintenance ops
    (expire/vacuum/compaction audits); the commit and resolve hot paths
    go through :func:`_scan_names` / checkpoints instead."""
    kind, commits, _ck = _scan_names(path)
    return [(v, kind, _load(path, name)) for v, name in commits]


def _apply_commit(
    man: dict, files: list, metas: list, fstats: dict, mapping: dict | None
) -> tuple[list, list, dict, dict | None]:
    """Fold ONE commit into the running resolved state. Four modes:
    ``append`` extends, ``overwrite`` is a BASE that resets the running
    state (including the column mapping — unless the base itself
    carries one, as a CLONE/RESTORE of a mapped table does),
    ``replace`` (r14) is the copy-on-write delta — it first drops
    exactly the files named in ``removed_files`` (and their skipping
    stats), then adds its own staged files — and ``metadata`` (r15) is
    a zero-file column-mapping commit (RENAME/DROP COLUMN): it swaps
    the running mapping wholesale and touches nothing else. Removal is
    by name against the RUNNING state, so a replace naming an
    already-removed file is a no-op, and a replace never reaches files
    behind a later base. Returns ``(files, metas, fstats, mapping)``."""
    mode = man.get("mode", "append")
    if mode == "metadata":
        return files, metas, fstats, man.get("column_mapping")
    if mode == "overwrite":
        files, metas, fstats = [], [], {}
        mapping = man.get("column_mapping")
    elif mode == "replace":
        removed = set(man.get("removed_files", []))
        if removed:
            files = [f for f in files if f not in removed]
            fstats = {k: v for k, v in fstats.items() if k not in removed}
    files.extend(man["files"])
    fstats.update(man.get("file_stats", {}))
    # a zero-file commit still contributes its RECORDED schema (a delete
    # that removed every row / an overwrite truncate must leave the
    # snapshot readable as a schema-true empty frame)
    if man["files"] or man.get("schema_json"):
        m = _meta_of(man)
        if m not in metas:
            metas.append(m)
    return files, metas, fstats, mapping


def _resolve_state(
    path: str, version: int | None = None, with_stats: bool = True
) -> dict:
    """Resolve the log to ``{"files": [...], "metas": [...]}`` visible
    at ``version`` (inclusive; default latest): start from the newest
    usable CHECKPOINT (if any), replay only the commits after it; a BASE
    (overwrite) commit resets the running state. ``metas`` carries the
    distinct schema/format identities of the commits that contributed
    files — exactly what the reader needs to pin its schema.

    Fast path (no directory listing): when the ``_LAST_CHECKPOINT`` hint
    names a checkpoint at or below the requested version, load it and
    PROBE forward by constructed name — batch versions are DENSE above
    any surviving checkpoint (the exclusive claim allocates them
    consecutively, and expire only ever removes a prefix, taking its
    checkpoints with it), so the first missing name is the end of the
    log. A stale/missing hint or a pin below the hinted checkpoint falls
    back to the full name scan (newest checkpoint at or below the pin,
    then the commits after it by name). Both ways only pick the start
    and the commit sequence; one replay over :func:`_apply_commit`
    folds it."""
    hint = _read_hint(path)
    ck = None
    if (
        hint
        and hint.get("kind") == "batch"
        and hint.get("checkpoint") is not None
        and (version is None or version >= int(hint["checkpoint"]))
    ):
        start = int(hint["checkpoint"])
        try:
            ck = _load_checkpoint_by_version(path, start, with_stats)
        except FileNotFoundError:
            pass  # checkpoint expired under a stale hint — name scan
    if ck is not None:
        kind, tail = "batch", _probe_commits(path, start + 1, version)
    else:
        kind, commits, ckpts = _scan_names(path)
        usable = [c for c in ckpts if version is None or c[0] <= version]
        start = usable[-1][0] if kind == "batch" and usable else -1
        if start >= 0:
            ck = _load_checkpoint(path, usable[-1][1], with_stats)
        tail = (
            (v, _load(path, name)) for v, name in commits
            if start < v and (version is None or v <= version)
        )
    files, metas, fstats, mapping = (
        (list(ck["files"]), list(ck.get("metas", [])),
         dict(ck.get("file_stats", {})), ck.get("mapping"))
        if ck is not None else ([], [], {}, None)
    )
    last = start
    for last, man in tail:
        files, metas, fstats, mapping = _apply_commit(
            man, files, metas, fstats, mapping
        )
    # an empty log reports version 0 ("nothing committed yet" — real
    # versions start at 1), so a CAS writer's base+1 claim on a fresh
    # directory is v1
    return {"kind": kind, "files": files, "metas": metas,
            "file_stats": fstats, "version": max(last, 0),
            "mapping": mapping}


def _probe_commits(path: str, v: int, version: int | None):
    """``(version, manifest)`` from batch version ``v`` upward by
    constructed name, up to ``version``: the first missing name is the
    end of the dense log."""
    while version is None or v <= version:
        try:
            man = _load(path, f"{_V_PREFIX}{v:08d}")
        except FileNotFoundError:
            return
        yield v, man
        v += 1


def _arrow_py(scalar):
    """``Scalar.as_py()`` normalized to the values the row wire used to
    deliver: Arrow ships timestamps tz-aware (session tz = UTC) where
    pickled rows carried naive-UTC datetimes — stats encodings and
    partition-value equality must keep ONE ordering, so strip the tz
    after converting to UTC. Every other type round-trips identically."""
    v = scalar.as_py()
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _partition_error(c: str, *two) -> ValueError:
    """The refusal of a staged file whose ``partitionColumns`` column
    ``c`` holds more than one value: ``two`` of them, or NULL beside
    non-NULL rows."""
    what = (
        f"holds two values ({two[0]!r}, {two[1]!r})" if two
        else "mixes NULL and non-NULL rows"
    )
    return ValueError(
        f"partitionColumns column {c!r} {what} in one staged file — "
        "repartition by the partition columns so each file holds one value"
    )


class _BatchStatsObserver:
    """Vectorized per-batch twin of the old per-row observer: min/max and
    null counts via ``pyarrow.compute``, bloom inputs via ``unique``,
    partition-value proofs via per-batch uniqueness plus cross-batch
    carry. Same recorded stats, same error texts, no per-row Python."""

    def __init__(self, fields, stats_columns, bloom_columns, partition_columns):
        self.stats_columns = stats_columns
        self.bloom_columns = bloom_columns
        self.partition_columns = partition_columns
        self.idx = {c: fields.index(c) for c in
                    (*stats_columns, *bloom_columns, *partition_columns)}
        self.minmax: dict[str, list] = {}
        self.nulls: dict[str, int] = {c: 0 for c in stats_columns}
        self.bl_vals: dict[str, set] = {c: set() for c in bloom_columns}
        self.bl_over: set[str] = set()
        self.pvals: dict[str, object] = {}
        self.pnulls: dict[str, int] = {c: 0 for c in partition_columns}

    def observe(self, batch) -> None:
        import pyarrow.compute as pc

        if not batch.num_rows:
            return
        for c in self.partition_columns:
            col = batch.column(self.idx[c])
            n_null = col.null_count
            if n_null == len(col) and c not in self.pvals:  # all-null batch
                self.pnulls[c] += n_null
                continue
            if n_null or self.pnulls[c]:
                raise _partition_error(c)
            u = pc.unique(col)
            if len(u) > 1:
                raise _partition_error(c, _arrow_py(u[0]), _arrow_py(u[1]))
            v = _arrow_py(u[0])
            if c in self.pvals and self.pvals[c] != v:
                raise _partition_error(c, self.pvals[c], v)
            self.pvals[c] = v
        for c in self.stats_columns:
            col = batch.column(self.idx[c])
            self.nulls[c] += col.null_count
            if col.null_count < len(col):
                mm = pc.min_max(col)
                lo, hi = _arrow_py(mm["min"]), _arrow_py(mm["max"])
                s = self.minmax.get(c)
                if s is None:
                    self.minmax[c] = [lo, hi]
                else:
                    if lo < s[0]:
                        s[0] = lo
                    if hi > s[1]:
                        s[1] = hi
        for c in self.bloom_columns:
            if c in self.bl_over:
                continue
            col = batch.column(self.idx[c])
            vs = self.bl_vals[c]
            vs.update(col.drop_null().unique().to_pylist())
            if len(vs) > _BLOOM_MAX_DISTINCT:
                # too many distinct values for a useful bloom: record
                # none (the file is simply never bloom-pruned — superset
                # contract)
                self.bl_over.add(c)
                vs.clear()

    def finish(self, n: int) -> dict[str, dict] | None:
        stats: dict[str, dict] | None = None
        if self.stats_columns:
            # r14 form: tagged-encoded min/max (date/timestamp/decimal are
            # legal) plus null/row counts so IS [NOT] NULL predicates can
            # prune. All-null columns record counts but no bounds.
            stats = {}
            for c in self.stats_columns:
                entry: dict = {"nulls": self.nulls[c], "rows": n}
                mm = self.minmax.get(c)
                if mm is not None:
                    entry["min"] = _enc_stat(mm[0])
                    entry["max"] = _enc_stat(mm[1])
                stats[c] = entry
        for c in self.bloom_columns:
            if c in self.bl_over or not self.bl_vals[c]:
                continue
            stats = stats if stats is not None else {}
            stats.setdefault(c, {})["bloom"] = _bloom_build(self.bl_vals[c])
        for c in self.partition_columns:
            stats = stats if stats is not None else {}
            if c in self.pvals:
                # proven single non-null value: the EXACT tier ("pv"
                # wins over any min/max recorded for the same column)
                stats[c] = {"pv": _enc_stat(self.pvals[c]), "rows": n}
            else:
                # all rows null: Hive's default partition — the all-null
                # stats form, prunable by IS [NOT] NULL
                stats[c] = {"nulls": self.pnulls[c], "rows": n}
        return stats


class ManifestSinkWriter(DataSourceArrowWriter):
    """Batch writer. Subclassing :class:`DataSourceArrowWriter` switches
    the executor wire format from pickled row tuples to Arrow
    RecordBatches (Spark 4.0+): stats/bloom/partition-value observation
    runs vectorized through ``pyarrow.compute`` and staging writes whole
    batches to parquet, removing the per-row Python loop that
    dominated every manifest write task (optimization guide §4.1-4.2 —
    same staged bytes, same commit protocol, ~5-10x less Python time
    per staged row).

    Two routes drive the same ``write`` and ``commit``: a user's
    ``df.write.format("manifestsink")`` (and the streaming sink) go
    through :class:`ManifestSinkDataSource`, where Spark builds the
    writer and commits it in Python planner processes; the
    copy-on-write commits (MERGE, DELETE, range DELETE) and OPTIMIZE
    build it in the driver and run it through :func:`_stage_and_commit`
    — the same staging, stats, blooms, claim and checkpoints, without a
    fresh Python process per save. Only that route publishes a REPLACE
    commit: it sets ``replaced_files`` on the writer it built (no
    option does).

    Every writer stages parquet. ``option("format")`` is still read:
    ``"parquet"`` is accepted, any other value raises here, before any
    task runs (JSONL staging is a retired generation)."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        opts = {str(k).lower(): v for k, v in dict(options).items()}
        path = opts.get("path")
        if not path:
            raise ValueError("manifestsink requires .option('path', ...)")
        self.path = path
        self.schema = schema
        self.fields = schema.fieldNames()
        self.overwrite = overwrite
        # one token per write job, in every name its tasks stage: a
        # failed job's staged files are found by it (the task attempt's
        # own uuid half keeps names unique)
        self._token = uuid.uuid4().hex[:16]
        # r15 column mapping: when the table carries one (presence
        # marker, authoritative state from the log), APPEND-family
        # writes arrive with LOGICAL column names and stage under the
        # immutable PHYSICAL names — an overwrite instead RESETS the
        # mapping (its columns become fresh physical names), which is
        # also how OPTIMIZE materializes renames/drops into data
        self.mapping: dict | None = None
        if not overwrite and os.path.exists(os.path.join(path, _COLMAP_MARKER)):
            self.mapping = _resolve_state(path, with_stats=False).get("mapping")
            if self.mapping:
                self.schema = _to_physical_schema(schema, self.mapping)
                self.fields = self.schema.fieldNames()
        fmt = str(opts.get("format", "parquet")).lower()
        if fmt != "parquet":
            raise ValueError(
                f"manifestsink stages parquet only, got format {fmt!r} "
                "(JSONL staging is retired)"
            )
        self.checkpoint_interval = int(
            opts.get("checkpointinterval", DEFAULT_CHECKPOINT_INTERVAL)
        )
        # manifest-level data-skipping stats: per-file [min, max] of the
        # named columns, computed DURING staging (one compare per row per
        # column — zero cost unless opted in) and published in the commit
        # manifest, so readers can prune whole files from metadata alone
        self.stats_columns = self._tier_columns(
            opts, "statsColumns", lambda t: t.startswith(_STATS_OK_PREFIXES),
            "min/max skipping supports numeric/string/boolean/date/"
            "timestamp/decimal columns only",
        )
        # bloom-filter skipping (the Delta/Parquet bloom idea at MANIFEST
        # level): per-file blooms over the named columns let point
        # predicates prune files whose [min, max] admits the key but
        # which provably never stored it — the clustered-range tier
        # (statsColumns) prunes ranges, this tier prunes point lookups
        # on columns the table is NOT clustered by. Equality-only, int/
        # string/boolean columns; files above the distinct-count cap
        # record no bloom (superset contract, stated at prune).
        self.bloom_columns = self._tier_columns(
            opts, "bloomFilterColumns",
            lambda t: t in ("bigint", "int", "smallint", "tinyint", "string", "boolean"),
            "bloom skipping supports integer/string/boolean columns "
            "(equality point lookups) only",
        )
        # r15 partition-values tier (Hive-style partition columns in
        # the MANIFEST): .option("partitionColumns", "a,b") records, per
        # staged file, the single EXACT value each named column holds —
        # the writer PROVES the one-value-per-file layout during staging
        # (a second distinct value raises: repartition by the partition
        # columns first). Readers prune on an exact fact where min/max
        # on data columns may be arbitrarily wide; an all-null column
        # records the all-null form (Hive's default partition), prunable
        # by IS [NOT] NULL.
        self.partition_columns = self._tier_columns(
            opts, "partitionColumns", lambda t: t.startswith(_STATS_OK_PREFIXES),
            "partition values support numeric/string/boolean/date/"
            "timestamp/decimal columns only",
        )
        # r14 copy-on-write: the snapshot entries a REPLACE commit removes
        # before adding the staged files — set only by the driver-side
        # _stage_and_commit of MERGE/DELETE (None: append or overwrite)
        self.replaced_files: list[str] | None = None
        # r14 optimistic concurrency: .option("expectedVersion", k+1) claims
        # EXACTLY that version and raises ConcurrentManifestWriteError if it
        # is taken — the compare-and-swap a read-modify-write commit (merge/
        # delete/optimize) needs. Without it the claim loop probes upward:
        # blind appends linearize in arrival order (write-serializable for
        # appends; see the isolation note at the claim loop).
        self.expected_version: int | None = (
            int(opts["expectedversion"]) if "expectedversion" in opts else None
        )
        if self.expected_version is not None and self.expected_version < 1:
            raise ValueError(
                f"expectedVersion must be >= 1 (got {self.expected_version}): "
                "commit versions start at 1"
            )

    def _tier_columns(self, opts: dict, option: str, type_ok, supports: str) -> list:
        """Parse one skipping tier's column option. Entries are keyed by
        PHYSICAL name (immutable across renames — pruning stays
        correct), so logical names translate through the mapping. Names
        and types are validated UP FRONT (init runs before any task
        stages anything): a value json.dump can't carry would otherwise
        fail the job at commit(), after all the work ran."""
        cols = [c.strip() for c in str(opts.get(option.lower(), "")).split(",")]
        cols = [c for c in cols if c]
        if self.mapping:
            renamed = self.mapping.get("cols", {})
            cols = [renamed.get(c, c) for c in cols]
        unknown = [c for c in cols if c not in self.fields]
        if unknown:
            raise ValueError(f"{option} {unknown} not in the write schema {self.fields}")
        for f in self.schema.fields:
            t = f.dataType.simpleString()
            if f.name in cols and not type_ok(t):
                raise ValueError(f"{option} column {f.name!r} has type {t}: {supports}")
        return cols

    # -- executor side ------------------------------------------------
    def write(self, iterator) -> _StagedFile:
        """Consume the task's Arrow RecordBatches (the
        :class:`DataSourceArrowWriter` wire format), observing stats /
        blooms / partition values vectorized per batch and staging
        them into one parquet file. Memory stays O(batch)."""
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}-{self._token}{uuid.uuid4().hex[:16]}.parquet"
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(self.path, name)
        obs = (
            _BatchStatsObserver(
                self.fields,
                self.stats_columns,
                self.bloom_columns,
                self.partition_columns,
            )
            if self.stats_columns or self.bloom_columns or self.partition_columns
            else None
        )
        try:
            n = self._stage(staged, iterator, obs)
        except BaseException:
            # a task that dies mid-write never returns a commit message,
            # so abort() can't see its file — clean up our own staging
            # before re-raising (job-level abort sweeps the rest)
            try:
                os.remove(staged)
            except FileNotFoundError:
                pass
            raise
        if n == 0:
            # an empty partition stages NOTHING: zero-row files carry no
            # data and no schema the manifest doesn't already record, but
            # they accumulate — a merge whose rewrite unioned a 32-partition
            # frame would otherwise publish ~30 empty files per commit
            # (measured: 1892 live files after 60 merges before this fix)
            os.remove(staged)
            return _StagedFile(None, 0, None)
        return _StagedFile(name, n, obs.finish(n) if obs is not None else None)

    def _arrow_schema(self):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.schema)

    def _shape_batch(self, batch, aschema):
        """Rename the incoming batch's columns to the writer's field
        names (LOGICAL -> PHYSICAL under a column mapping; identity
        otherwise — the wire order always matches the write schema) and
        cast to the schema the staged footer must carry (a no-op when
        the JVM already shipped exactly that schema)."""
        if batch.schema.names != self.fields:
            batch = batch.rename_columns(self.fields)
        if batch.schema != aschema:
            batch = batch.cast(aschema)
        return batch

    def _stage(self, staged: str, iterator, obs) -> int:
        """Stream the task's batches into one staged parquet file,
        memory O(batch) regardless of partition size and Python cost
        O(batches), not O(rows). The Arrow schema is derived from the
        WRITER's Spark schema, so the staged footer carries real types —
        what lets readers pin the schema instead of inferring it."""
        import pyarrow.parquet as pq

        aschema = self._arrow_schema()
        n = 0
        with pq.ParquetWriter(staged, aschema) as out:
            for batch in iterator:
                batch = self._shape_batch(batch, aschema)
                if obs is not None:
                    obs.observe(batch)
                if batch.num_rows:
                    out.write_batch(batch)
                n += batch.num_rows
        return n

    # -- driver side --------------------------------------------------
    def _manifest(self, messages, **extra) -> dict:
        """The commit manifest both writer families publish: the staged
        files of the SUCCESSFUL tasks, the writer's schema and format,
        ``extra`` (the mode, the stream's ``batch_id``, a replace's
        ``removed_files``), the wall-clock commit
        time and the per-file skipping stats. Mode semantics live in how
        readers resolve the log: an append commit is a delta; an
        overwrite commit is a BASE readers start from (older versions
        stay time-travelable until expired, then vacuum reclaims their
        files); a replace commit is a copy-on-write delta that swaps a
        named subset. The commit time is what TIMESTAMP AS OF resolves
        on: clock skew between writers is tolerated at READ time (the
        resolver clamps timestamps to be monotone in version order,
        Delta's rule), so the manifest stays a plain fact log."""
        files = sorted(
            (m.filename, m.n_rows)
            for m in messages
            if m is not None and m.filename
        )
        manifest = {
            "files": [f for f, _ in files],
            "n_rows": sum(n for _, n in files),
            "fields": self.fields,
            "schema_json": self.schema.json(),
            "format": "parquet",
            **extra,
            "ts": time.time(),
        }
        file_stats = {
            m.filename: m.stats
            for m in messages
            if m is not None and getattr(m, "stats", None)
        }
        if file_stats:
            manifest["file_stats"] = file_stats
        return manifest

    def commit(self, messages) -> None:
        if self.overwrite:
            manifest = self._manifest(messages, mode="overwrite")
        elif self.replaced_files is None:
            manifest = self._manifest(messages, mode="append")
        else:
            manifest = self._manifest(
                messages, mode="replace",
                removed_files=sorted(set(self.replaced_files)),
            )
        os.makedirs(self.path, exist_ok=True)
        # column-mapping re-check at COMMIT time: a RENAME/DROP landing
        # between write planning (where the mapping was applied to the
        # staged names) and this commit would make the staged names
        # stale — refuse while the job is invisible (abort() sweeps the
        # staging; the caller re-runs the write against the new
        # mapping). Marker-gated: tables that never had a mapping pay
        # one os.path.exists, nothing more.
        if not self.overwrite and os.path.exists(
            os.path.join(self.path, _COLMAP_MARKER)
        ):
            cur = _resolve_state(self.path, with_stats=False).get("mapping")
            if _mapping_parts(cur) != _mapping_parts(self.mapping):
                raise ConcurrentManifestWriteError(
                    f"column mapping of {self.path} changed between write "
                    "planning and commit (a concurrent RENAME/DROP COLUMN) "
                    "— re-run the write against the new schema"
                )
        # family check FIRST, before anything is published: a batch
        # commit into a stream-written directory would create two
        # unordered version spaces — refuse while the job is still
        # invisible (Spark then calls abort(), sweeping the staging).
        kind, head, ckpt_v = _log_head(self.path)
        if kind == "stream":
            raise ValueError(
                f"{self.path} already holds a STREAM log "
                f"(_MANIFEST-<batchId> manifests); refusing to publish a "
                "batch commit into it — one writer family per directory"
            )
        v = head + 1
        # claim the next log position by EXCLUSIVE publication (no
        # manifest is opened, no read-modify-write of any other commit's
        # manifest): concurrent jobs serialize on the os.link claim
        # instead of last-publish-wins clobbering each other's file
        # lists; a stale hint just means a few extra probes.
        #
        # ISOLATION LEVEL, stated plainly: without expectedVersion the
        # probe-upward loop gives snapshot-isolated, write-serializable
        # APPENDS — concurrent appends linearize in claim order and none
        # is lost. It does NOT detect write-write conflicts: an append
        # racing an overwrite may land on either side of the base
        # (both serializations are legal — the append's rows survive iff
        # it claims the later version), and a read-modify-write commit
        # (merge/delete/optimize) that probes upward could silently
        # supersede a commit it never read. RMW paths therefore pin
        # expectedVersion = resolved_version + 1; a lost claim is then
        # RE-VALIDATED logically (_replace_conflict_reason — Delta's
        # commit-conflict rule at WriteSerializable): winners whose
        # change sets are provably disjoint from this rewrite's
        # removed/read files let the SAME staged rewrite re-claim
        # head+1 transparently (bounded retries); a winner base, an
        # overlapping rewrite, or — for key-matched MERGEs — an added
        # file whose stats cannot prove it misses every merge key is a
        # TRUE conflict and surfaces as ConcurrentManifestWriteError
        # for the caller to re-read + redo. OPTIMIZE stays abort-only:
        # its overwrite re-lists the whole snapshot, so every
        # concurrent commit genuinely conflicts.
        if self.expected_version is not None:
            # density guard: versions above any survivor are consecutive
            # (resolution probes forward name-by-name), so a claim that
            # would leave a hole must be refused — the commit would be
            # invisible to every fast-path resolve after it
            pv = self.expected_version - 1
            if pv >= 1 and not os.path.exists(
                os.path.join(self.path, f"{_V_PREFIX}{pv:08d}")
            ):
                raise ValueError(
                    f"expectedVersion={self.expected_version} would leave a "
                    f"gap: version {pv} does not exist in {self.path}"
                )
            v = self.expected_version
            _claim_version(
                self.path, v, manifest,
                "after this commit's base snapshot was read; re-read the "
                "snapshot and retry",
            )
        else:
            while True:
                try:
                    _publish_exclusive(self.path, f"{_V_PREFIX}{v:08d}", manifest)
                    break
                except FileExistsError:
                    v += 1
        ckpt_v = self._maybe_checkpoint(v, ckpt_v)
        _write_hint(self.path, "batch", v, ckpt_v)

    def _maybe_checkpoint(self, v: int, prev_ckpt: int | None) -> int | None:
        """Every ``checkpointInterval`` commits, roll the RESOLVED state
        up into ``_CHECKPOINT.v<n>`` so later resolves replay only the
        tail. Best-effort and race-safe: the content is a pure function
        of the log prefix <= v, so losing the exclusive claim means
        another job already published the identical rollup; a crash
        before publishing costs nothing but speed. Returns the newest
        checkpoint version for the hint."""
        if self.checkpoint_interval <= 0 or v % self.checkpoint_interval:
            return prev_ckpt
        try:
            state = _resolve_state(self.path, version=v)
            ck = {
                "version": v,
                "files": state["files"],
                "metas": state["metas"],
                "file_stats": state["file_stats"],
                "mapping": state.get("mapping"),
            }
            _publish_checkpoint(self.path, v, ck)
        except FileExistsError:
            pass  # a concurrent job already published the identical rollup
        except Exception:
            # STRICTLY best-effort: the commit itself already published.
            # Raising here would make the job report failure for data
            # that is durably live (e.g. a concurrent expire unlinking a
            # manifest mid-rollup). A missing checkpoint costs the next
            # resolve speed, never correctness.
            return prev_ckpt
        return v

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class ManifestStreamSinkWriter(DataSourceStreamArrowWriter):
    """Streaming twin of :class:`ManifestSinkWriter`: one manifest PER
    MICRO-BATCH (``_MANIFEST-<batchId>``), published atomically after the
    batch's tasks all staged. Exactly-once falls out of IDEMPOTENT
    publication keyed on batchId: if the driver dies between staging and
    commit, the restarted batch re-runs with fresh uuids and
    ``os.replace`` keeps exactly one pointer for that batch — readers see
    each batch's rows exactly once because they resolve only
    manifest-listed files, never the directory listing. (This is why the
    stream path does NOT use the exclusive-claim log: a retried batch
    must REPLACE its own manifest, not claim a new version and
    double-count.) The batchId doubles as the commit version, so
    ``read_manifest_sink(..., version=k)`` is "the first k+1 batches" —
    snapshot-isolated time travel over the stream's history."""

    def __init__(self, options, schema: StructType):
        inner = dict(options)
        self._delegate = ManifestSinkWriter(inner, schema, overwrite=False)
        self.path = self._delegate.path

    def write(self, iterator) -> _StagedFile:
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        # family check FIRST (nothing published yet): a stream manifest
        # next to a batch commit log would wedge the directory for every
        # future reader and writer
        if _log_head(self.path)[0] == "batch":
            raise ValueError(
                f"{self.path} already holds a BATCH commit log "
                f"(_MANIFEST.v* manifests); refusing to publish a stream "
                "batch manifest into it — one writer family per directory"
            )
        manifest = self._delegate._manifest(
            messages, batch_id=batchId, mode="append"
        )
        os.makedirs(self.path, exist_ok=True)
        _publish_last_wins(self.path, f"{_B_PREFIX}{batchId}", manifest)
        _write_hint(self.path, "stream", batchId, None)

    def abort(self, messages, batchId: int) -> None:
        self._delegate.abort(messages)


class ManifestSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifestsink"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        writer = ManifestSinkWriter(self.options, schema, overwrite)
        if not overwrite:
            # an overwrite is how a retired generation is rewritten, so
            # only an append checks the snapshot it extends
            _check_append_target(writer.path)
        return writer

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        if overwrite:
            # outputMode('complete') would republish the FULL result every
            # batch; per-batch delta manifests would then double-count every
            # row present in more than one batch. Refuse loudly rather than
            # corrupt — append/update modes are the supported contract.
            raise ValueError(
                "manifestsink streaming supports append/update output modes "
                "only: complete mode republishes cumulative results each "
                "batch, which per-batch delta manifests would double-count"
            )
        writer = ManifestStreamSinkWriter(self.options, schema)
        _check_append_target(writer.path)
        return writer


class _CommittedFilesPartition(InputPartition):
    def __init__(
        self,
        path: str,
        filename: str,
        change: str | None = None,
        version: int | None = None,
        ts: float | None = None,
    ):
        self.path, self.filename = path, filename
        # readChangeFeed extras: what this file's rows ARE in the feed
        # (insert/delete), which commit produced the change, and when
        self.change, self.version, self.ts = change, version, ts


#: reserved CDF column names (Delta's), appended by readChangeFeed=true
_CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


class ManifestLogStreamReader(DataSourceStreamReader):
    """The manifest log as a STREAMING SOURCE (Delta's streaming-table
    idea re-expressed for this log): the offset IS the commit version,
    each micro-batch reads exactly the data files the commits in
    ``(start, end]`` published, so a query tails the table incrementally
    with exactly-once falling out of Spark's offset log. Works on both
    writer families — a batch commit log (``_MANIFEST.v*``, offsets from
    0) and a streamed directory (``_MANIFEST-<batchId>``, offsets from
    -1 so batch 0 is consumed).

    Append-only contract, stated plainly: an OVERWRITE commit inside the
    consumed range RAISES by default — a base rewrites history, and a
    reader that already consumed part of that history would double-read
    (a fresh reader would silently skip the superseded rows it never
    saw). That is Delta's streaming behavior without ignoreChanges.
    ``option("skipBases", "true")`` opts into skipping such commits
    (consume deltas only); ``option("startingVersion", v)`` starts a
    fresh reader above compacted/rewritten history. Consequence for
    maintenance: run ``compact_stream_manifests`` / overwrites only
    BELOW every active reader's committed offset, exactly like vacuum's
    grace contract."""

    def __init__(self, options, schema: StructType):
        opts = {str(k).lower(): v for k, v in dict(options).items()}
        path = opts.get("path")
        if not path:
            raise ValueError("manifestlog requires .option('path', ...)")
        self.path = path
        self.schema = schema
        self.fields = schema.fieldNames()
        # column mapping, PINNED for the stream's lifetime: files carry
        # immutable physical names; every read projects physical ->
        # logical through this map (identity for unmapped columns, so
        # unmapped tables and explicit .schema(...) readers cost nothing)
        _m = _resolve_state(path, with_stats=False).get("mapping")
        self.phys_of: dict[str, str] = {}
        if _m:
            self.phys_of = dict(_mapping_parts(_m)[0])
        self.skip_bases = str(opts.get("skipbases", "false")).lower() == "true"
        self.starting_version = (
            int(opts["startingversion"]) if "startingversion" in opts else None
        )
        # startingTimestamp (unix seconds): consume commits whose EFFECTIVE
        # time (monotone-clamped, see version_at_timestamp) is at or after
        # it — Delta's startingTimestamp semantics
        self.starting_timestamp = (
            float(opts["startingtimestamp"])
            if "startingtimestamp" in opts
            else None
        )
        if self.starting_version is not None and self.starting_timestamp is not None:
            raise ValueError("pass startingVersion or startingTimestamp, not both")
        # readChangeFeed=true (Delta's streaming CDF): emit the FEED of
        # changes instead of the appended rows — REPLACE commits become
        # legal mid-stream (their removed files' rows flow as 'delete',
        # their staged files' rows as 'insert' — the same file-diff
        # semantics as batch manifest_changes without keys), and three
        # reserved columns ride along: _change_type, _commit_version,
        # _commit_timestamp (unix seconds; NULL for pre-timestamp
        # commits). Overwrite bases still raise (their change set is the
        # whole prior snapshot — consume them batch-side) unless
        # skipBases opts out.
        self.cdf = str(opts.get("readchangefeed", "false")).lower() == "true"
        self.data_fields = [f for f in self.fields if f not in _CDF_COLS]
        if self.cdf and len(self.data_fields) == len(self.fields):
            raise ValueError(
                "readChangeFeed=true needs the CDF columns in the read "
                f"schema ({', '.join(_CDF_COLS)}) — omit .schema(...) to "
                "get them appended automatically"
            )

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            return {"v": self.starting_version - 1}
        if self.starting_timestamp is not None:
            kind, commits, _ck = _scan_names(self.path)
            if kind is None:
                raise ValueError(
                    f"no manifest log under {self.path}: the log must exist "
                    "before a stream can tail it"
                )
            # first commit whose effective (clamped-monotone) time is at or
            # after the timestamp; a timestamp PAST the newest commit's
            # effective time raises, mirroring Delta's startingTimestamp
            # (and version_at_timestamp's predates-first-commit error) —
            # a typo'd far-future timestamp must be a diagnostic, not an
            # empty forever-waiting stream (ADVICE r14)
            eff = 0.0
            for v, eff in _effective_times(self.path, commits):
                if eff >= self.starting_timestamp:
                    return {"v": v - 1}
            raise ValueError(
                f"startingTimestamp {self.starting_timestamp} is after the "
                f"newest commit's effective time ({eff}) in {self.path} — "
                "pass a timestamp at or before the head (Delta raises here "
                "too); to tail only future commits use startingVersion="
                f"{(commits[-1][0] if commits else 0) + 1}"
            )
        kind, commits, _ck = _scan_names(self.path)
        if kind is None:
            raise ValueError(
                f"no manifest log under {self.path}: the log must exist "
                "before a stream can tail it (the schema is read from it)"
            )
        # batch versions start at 1, stream batchIds at 0 — the initial
        # offset is one below the first consumable version
        return {"v": 0 if kind == "batch" else -1}

    def latestOffset(self) -> dict:
        _kind, commits, _ck = _scan_names(self.path)
        return {"v": commits[-1][0]} if commits else self.initialOffset()

    def partitions(self, start: dict, end: dict):
        s, e = start["v"], end["v"]
        _kind, commits, _ck = _scan_names(self.path)
        parts: list[_CommittedFilesPartition] = []
        # planning opens only the in-range commits — O(range) at any log
        # depth; each one that adds or removes files is checked against
        # the retired generations, so explicit-.schema(...) readers (which
        # skip the schema pin) are refused too
        for v, name in commits:
            if not s < v <= e:
                continue
            man = _load(self.path, name)
            if man["files"] or man.get("removed_files"):
                _check_generation(man)
            mode = man.get("mode", "append")
            if mode == "replace" and self.cdf:
                ts = man.get("ts")
                parts.extend(
                    _CommittedFilesPartition(
                        self.path, f, change="delete", version=v, ts=ts
                    )
                    for f in man.get("removed_files", [])
                )
                parts.extend(
                    _CommittedFilesPartition(
                        self.path, f, change="insert", version=v, ts=ts
                    )
                    for f in man["files"]
                )
                continue
            if mode == "overwrite" and v == 1 and s <= 0:
                # a base as the very FIRST commit (a table created with
                # mode=overwrite, or a CLONE's single base commit)
                # rewrites no history this reader could have consumed —
                # it is just the initial rows; fall through
                mode = "append"
            if mode in ("overwrite", "replace"):
                # a replace gets the SAME treatment as a base: it rewrites
                # files whose rows this reader already emitted, so reading
                # its added files would double-count the carried-over rows
                # (Delta raises on updates/deletes without ignoreChanges);
                # an overwrite's change set is the ENTIRE prior snapshot —
                # even the CDF reader refuses it (batch manifest_changes
                # handles bases exactly; a stream cannot afford O(table))
                if self.skip_bases:
                    continue
                raise ValueError(
                    f"commit {v} in {self.path} is a {mode.upper()} inside "
                    "the streamed range: it rewrites history this reader may "
                    "have partially consumed. Compact/rewrite only below "
                    "active readers' offsets, start fresh readers above it "
                    "(startingVersion), opt into skipBases=true, or consume "
                    "replaces as a feed with readChangeFeed=true"
                )
            parts.extend(
                _CommittedFilesPartition(
                    self.path, f,
                    change="insert" if self.cdf else None,
                    version=v, ts=man.get("ts"),
                )
                for f in man["files"]
            )
        if not parts:
            # explicit zero-row batch; an empty partition list is
            # Spark-version dependent (same contract as SynthDocsStreamReader)
            parts = [_CommittedFilesPartition(self.path, "")]
        return parts

    def read(self, partition: _CommittedFilesPartition):
        """Ship one staged file as Arrow RecordBatches (columnar into
        Spark's vectorized reader — the per-row Python->JVM tuple
        conversion is the dominant cost of a Python source). The file is
        opened once: its footer names the columns it holds, and the same
        handle reads them."""
        if not partition.filename:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        aschema = to_arrow_schema(self.schema)
        phys_of = self.phys_of
        want = [(f, phys_of.get(f, f)) for f in self.data_fields]
        pf = pq.ParquetFile(os.path.join(partition.path, partition.filename))
        avail = set(pf.schema_arrow.names)
        table = pf.read(columns=[p for _f, p in want if p in avail])
        # project to the LOGICAL field list: rename mapped physicals,
        # null-fill columns this file predates (additive evolution — an
        # old file simply lacks a later column)
        table = pa.table(
            {
                f: (
                    table.column(p)
                    if p in avail
                    else pa.nulls(table.num_rows, type=aschema.field(f).type)
                )
                for f, p in want
            }
        )
        if self.cdf:
            # the feed columns are per-PARTITION constants — append them
            # columnar-side, then restore the schema's order
            cdf_vals = {
                "_change_type": partition.change,
                "_commit_version": partition.version,
                "_commit_timestamp": partition.ts,
            }
            for c in self.fields:
                if c in _CDF_COLS:
                    table = table.append_column(
                        c, pa.nulls(table.num_rows)
                        if cdf_vals[c] is None
                        else pa.array([cdf_vals[c]] * table.num_rows)
                    )
            table = table.select(self.fields)
        # cast to the Arrow schema Spark derives from the read schema
        # (zero-copy when already equal — the staged footer was written
        # from the same Spark schema)
        yield from table.cast(aschema).to_batches()

    def commit(self, end: dict) -> None:
        pass  # retention is expire/vacuum's job; the offset log is truth


class ManifestLogDataSource(DataSource):
    """Read-side twin of :class:`ManifestSinkDataSource`: registers the
    ``manifestlog`` STREAMING source over a manifest-committed directory.
    The schema comes from what the log's commits RECORDED (same
    pinned-schema rules as :func:`read_manifest_sink` — never inference),
    so ``spark.readStream.format("manifestlog").option("path", d)`` is
    fully self-describing."""

    @classmethod
    def name(cls) -> str:
        return "manifestlog"

    def schema(self) -> StructType:
        opts = {str(k).lower(): v for k, v in dict(self.options).items()}
        path = opts.get("path")
        if not path:
            raise ValueError("manifestlog requires .option('path', ...)")
        state = _resolve_state(path, with_stats=False)
        # column-mapped tables stream under their LOGICAL schema: the
        # mapping is PINNED at stream construction and physical names
        # are immutable, so a mid-stream RENAME cannot shift what any
        # file read returns while the query runs. A RESTART re-pins at
        # the then-current view — the offset log stores positions, not
        # schemas (Delta likewise applies mapping changes at restart
        # boundaries via schemaTrackingLocation)
        schema = _snapshot_logical_schema(state["metas"], state.get("mapping"))
        if str(opts.get("readchangefeed", "false")).lower() == "true":
            from pyspark.sql.types import (
                DoubleType,
                LongType,
                StringType,
                StructField,
            )

            for name, typ in (
                ("_change_type", StringType()),
                ("_commit_version", LongType()),
                ("_commit_timestamp", DoubleType()),
            ):
                if name not in schema.fieldNames():
                    schema = schema.add(StructField(name, typ))
        return schema

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return ManifestLogStreamReader(self.options, schema)


def resolve_manifest_files(path: str, version: int | None = None) -> list[str]:
    """Resolve the directory's commit log to the data-file list visible
    at ``version`` (inclusive; default latest): take commits with
    version <= k, start at the newest BASE (overwrite) commit in range,
    union the delta commits after it — replaying from the newest usable
    checkpoint rather than the log's origin. Duplicates are impossible —
    every commit lists only its own uniquely-named staged files."""
    state = _resolve_state(path, version, with_stats=False)
    return [os.path.join(path, name) for name in state["files"]]


def _check_generation(meta: dict) -> None:
    """Refuse a commit (or a commit's schema/format identity) of a
    retired on-disk generation: the schema-less pre-v2 one (holds files
    but records no ``schema_json``, so nothing pins its files' types) and
    the JSONL-staged one (records ``"format": "jsonl"``). Both refusals
    name the rewrite: read the files with ``spark.read.json``, then
    overwrite through the sink."""
    if not meta.get("schema_json"):
        raise ValueError(
            "a resolved commit records no schema_json: it was written by the "
            "schema-less pre-v2 manifest-log generation, which is no longer "
            "read; re-write the table with the current sink (read its files "
            "with spark.read.json, overwrite)"
        )
    if meta.get("format") != "parquet":
        raise ValueError(
            f"a resolved commit records format {meta.get('format')!r}: JSONL "
            "staging is a retired manifest-log generation, which is no longer "
            "read; re-write the table with the current sink (read its files "
            "with spark.read.json(files, schema) under the commit's "
            "schema_json, overwrite)"
        )


def _check_append_target(path: str) -> None:
    """Refuse an append into a table of a retired generation on the
    driver, before any task stages: the appended commit would otherwise
    land in a log no reader accepts."""
    for m in _resolve_state(path, with_stats=False)["metas"]:
        _check_generation(m)


def _pin_read_schema(metas: list[dict]) -> StructType:
    """Derive the read schema of a resolved snapshot from the schemas
    its commits RECORDED at write time — never by inference: every
    commit identity in ``metas`` must be of the current generation (see
    :func:`_check_generation`), and a snapshot with no commit identity
    at all (nothing committed at or below the pinned version) has
    nothing to pin, so both raise. ADDITIVE evolution is legal — the
    table-format contract: a commit may add new columns, and older files
    project them as NULL, so the snapshot schema is the commits' field
    UNION in first-appearance order (every field read nullable —
    pre-evolution files genuinely lack the new columns). What
    stays a LOUD failure is real drift: the same field name recorded
    with two different types can't be projected, only mis-coerced — so
    it raises instead of silently type-drifting."""
    from pyspark.sql.types import StructField

    if not metas:
        raise ValueError(
            "nothing is committed in the resolved snapshot: no manifest log "
            "at that path, or no commit at or below the pinned version"
        )
    for m in metas:
        _check_generation(m)
    merged: dict[str, StructField] = {}
    seen_json = set()
    for m in metas:  # commit order: evolution appends, never reorders
        if m["schema_json"] in seen_json:
            continue
        seen_json.add(m["schema_json"])
        for f in StructType.fromJson(json.loads(m["schema_json"])).fields:
            have = merged.get(f.name)
            if have is None:
                merged[f.name] = StructField(f.name, f.dataType, nullable=True)
            elif have.dataType != f.dataType:
                raise ValueError(
                    f"schema drift across resolved commits: field {f.name!r} "
                    f"recorded as {have.dataType.simpleString()} and "
                    f"{f.dataType.simpleString()} — additive evolution is "
                    "legal, a type change is not; overwrite with a single "
                    "schema or pin a version before the drift"
                )
    return StructType(list(merged.values()))


def _entry_proves_miss(entry, ranges) -> bool:
    """True iff ONE column's recorded stats PROVE no row of the file can
    satisfy ANY of the ``(lo, hi)`` ranges. Min/max tier first (with the
    provably-all-null case), then the bloom tier when every disjunct is
    an exact point. Shared by :func:`prune_manifest_files` and the RMW
    logical-conflict check — both rely on the same only-prove-then-act
    contract (a false "no miss" only costs a kept file / an aborted
    retry, never rows)."""
    mn, mx, nulls, rows = _stat_bounds(entry)
    if mn is None or mx is None:
        # no recorded bounds: either stats-less (cannot prove by range;
        # a bloom-only entry still gets the point tier below) or
        # provably all-null (no non-null value can match any range)
        miss = (
            nulls is not None
            and rows is not None
            and rows > 0
            and nulls == rows
        )
    else:
        miss = all(
            (hi is not None and mn > hi) or (lo is not None and mx < lo)
            for lo, hi in ranges
        )
    # bloom tier: when EVERY disjunct is an exact point and the file
    # recorded a bloom for this column, a file the ranges admit can
    # still be proven keyless (false positives only fail to prove)
    if not miss and isinstance(entry, dict):
        bloom = entry.get("bloom")
        if bloom is not None:
            key_sets = [
                _bloom_key_variants(lo)
                for lo, hi in ranges
                if lo is not None and lo == hi
            ]
            if len(key_sets) == len(ranges) and all(key_sets):
                # a point is maybe-present if ANY of its on-disk key
                # variants hits (legacy b: blooms included)
                miss = not any(
                    _bloom_maybe_contains(bloom, k)
                    for ks in key_sets
                    for k in ks
                )
    return miss


def prune_manifest_files(
    path: str, predicates: dict, version: int | None = None
) -> tuple[list[str], int]:
    """MANIFEST-LEVEL data skipping (the Iceberg/Delta min-max idea):
    given ``predicates = {col: (lo, hi)}`` (either bound may be None),
    return ``(kept_files, n_total)`` where a file is dropped ONLY when
    its commit-recorded [min, max] PROVES no row can satisfy the range —
    a pure metadata decision, no file opened. Files without recorded
    stats for a predicate column are always kept, so the result is a
    SUPERSET of the matching rows' files (same contract as parquet
    row-group skipping): callers still apply the real filter; pruning
    only removes scan work, never rows. Stats are recorded by the writer
    when ``option("statsColumns", "a,b")`` is set — one min/max compare
    per row per column during staging.

    r14 predicate forms, all with the same only-prove-then-prune rule:

    - ``{col: (lo, hi)}`` — range; prunes when [min, max] misses it, or
      when the null/row counts prove the file holds NO non-null value.
    - ``{col: [(lo, hi), ...]}`` — a DISJUNCTION of ranges: the file is
      kept if ANY range admits it. This is the point-lookup shape — a
      merge of k exact keys prunes with k single-point ranges instead of
      one global [min(keys), max(keys)] span, which a single outlying
      key (a fresh insert id) would otherwise stretch over the whole
      table (measured: candidate fraction 1.00 -> ~file-exact in the
      merge-loop stress).
    - ``{col: "is_null"}`` — prunes when the recorded null count is 0.
    - ``{col: "is_not_null"}`` — prunes when every row is null
      (``nulls == rows``).

    Legacy ``[min, max]`` stats carry no null counts, so the null
    predicates never prune those files — superset contract intact.

    BLOOM tier (``option("bloomFilterColumns", "a,b")`` at write time):
    when every disjunct of a predicate is an exact point and the file
    recorded a bloom for that column, the bloom can prune a file whose
    [min, max] admits the key but which provably never stored it — the
    point-lookup complement to range clustering (10 bits/key, 7 probes,
    ~0.8% false-KEEP rate; a false positive only wastes scan work).
    Files above the distinct cap record no bloom and are never
    bloom-pruned; non-point predicates ignore blooms entirely."""
    state = _resolve_state(path, version)
    return _prune_state(path, state, predicates), len(state["files"])


def _prune_state(path: str, state: dict, predicates: dict) -> list[str]:
    """:func:`prune_manifest_files` over a state the caller already
    resolved WITH stats: the kept files' full paths. Reads, MERGE and
    DELETE prune the snapshot they pinned, so one operation sees one
    snapshot."""
    if state.get("mapping"):
        # predicates arrive with LOGICAL names; stats are keyed by the
        # immutable PHYSICAL names — translate (pruning is unaffected
        # by any number of renames)
        _cm, _ = _mapping_parts(state["mapping"])
        predicates = {_cm.get(c, c): p for c, p in predicates.items()}
    fstats = state.get("file_stats", {})
    kept = []
    for name in state["files"]:
        st = fstats.get(name)
        drop = False
        if st:
            for col, pred in predicates.items():
                entry = st.get(col)
                if entry is None:
                    continue
                mn, mx, nulls, rows = _stat_bounds(entry)
                if isinstance(pred, str):
                    p = pred.lower()
                    if p == "is_null":
                        drop = nulls == 0 and rows is not None and rows > 0
                    elif p == "is_not_null":
                        drop = (
                            nulls is not None
                            and rows is not None
                            and nulls == rows
                        )
                    else:
                        raise ValueError(
                            f"unknown stats predicate {pred!r} for {col!r}: "
                            "use a (lo, hi) range, 'is_null', or 'is_not_null'"
                        )
                else:
                    ranges = pred if isinstance(pred, list) else [pred]
                    drop = _entry_proves_miss(entry, ranges)
                if drop:
                    break
        if not drop:
            kept.append(os.path.join(path, name))
    return kept


def _effective_times(path: str, commits: list):
    """``(version, effective time)`` in version order: the running
    MAXIMUM of the recorded wall-clock times (Delta's clamp rule — see
    :func:`version_at_timestamp`); a commit without one inherits its
    predecessor's time, 0.0 before any."""
    eff = 0.0
    for v, name in commits:
        raw = _load(path, name).get("ts")
        if raw is not None:
            eff = max(eff, float(raw))
        yield v, eff


def version_at_timestamp(path: str, timestamp) -> int:
    """Resolve ``TIMESTAMP AS OF``: the newest commit version whose
    EFFECTIVE commit time is at or before ``timestamp`` (unix seconds or
    a ``datetime``). Effective time is the running MAXIMUM of recorded
    wall-clock times in version order — Delta's clamp rule: a
    clock-skewed later commit with an earlier raw timestamp inherits its
    predecessor's time, so the version→time mapping is monotone and a
    binary search over it is well-defined. Commits that predate recorded
    timestamps (pre-r14 logs) get effective time 0.0 — always reachable,
    honestly "older than anything". Raises when the timestamp predates
    the first surviving commit. Opens each surviving commit manifest
    once (metadata-class, maintenance-path bound — same as DESCRIBE
    HISTORY)."""
    import datetime

    if isinstance(timestamp, datetime.datetime):
        timestamp = timestamp.timestamp()
    ts = float(timestamp)
    _kind, commits, _ck = _scan_names(path)
    if not commits:
        raise ValueError(f"no manifest log under {path}")
    best = None
    for v, eff in _effective_times(path, commits):
        if eff > ts:
            break  # effective times are monotone — nothing later qualifies
        best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first surviving commit in {path} "
            "(older history may have been expired)"
        )
    return best


def read_manifest_sink(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: dict | None = None,
    timestamp=None,
) -> DataFrame:
    """Read a manifest-committed directory THROUGH its commit log: only
    the files the resolved manifests list (staged-but-uncommitted and
    orphaned-attempt files are invisible — that is the protocol's whole
    guarantee). ``version=k`` time-travels to the snapshot as of commit
    k — for a streamed directory, the first k+1 micro-batches; for a
    batch log, everything up to the k-th job — and a concurrent IN-FLIGHT
    job is invisible at any pinned version (its commit, if it lands,
    gets a version number > k). The read schema is PINNED to what the
    resolved commits recorded at write time (never inferred), and the
    read is distributed — Spark's parquet reader over the explicit file
    list. ``prune={col: (lo, hi)}`` additionally drops
    files whose commit-recorded min/max PROVE they hold no matching row
    (see :func:`prune_manifest_files`) — a superset guarantee, so pair
    it with the real ``.filter``.
    ``timestamp=`` (unix seconds or datetime) is TIMESTAMP AS OF — it
    resolves to a version via :func:`version_at_timestamp` (monotone
    clamp rule documented there); passing both pins is an error."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version= or timestamp=, not both")
        version = version_at_timestamp(path, timestamp)
    # ONE resolve serves the schema pin and the pruning, so a commit
    # landing mid-read cannot mix two snapshots; stats are only loaded
    # when pruning consumes them (checkpoint loads skip the column)
    state = _resolve_state(path, version, with_stats=bool(prune))
    mapping = state.get("mapping")
    schema = _pin_read_schema(state["metas"])
    if prune:
        files = _prune_state(path, state, prune)
    else:
        files = [os.path.join(path, name) for name in state["files"]]
    if not files:
        # an EMPTY snapshot is legal state, not an error (a delete that
        # removed every row, an overwrite truncate), and so is a
        # provably-empty pruned read: return the schema-true empty frame
        # (logical view when a column mapping exists)
        return local_relation_df(
            spark, [], _snapshot_logical_schema(state["metas"], mapping)
        )
    # the immutable physical names project to the CURRENT (or
    # as-of-version) logical view: renames surface, drops vanish — a pure
    # projection, column-pruned at the scan by Catalyst
    return _project_logical_df(
        _read_file_list(spark, files, schema), schema, mapping
    )


def _batch_state(
    path: str,
    needs: str,
    version: int | None = None,
    with_stats: bool = True,
    holds: str | None = None,
) -> dict:
    """Resolve ``path`` (at ``version``) and refuse anything but a batch
    commit log — the family check of every batch-only op. ``needs``
    opens the error (``"clone_manifest_sink expects"``); ``holds``
    replaces its account of what the directory holds."""
    state = _resolve_state(path, version, with_stats)
    if state["kind"] != "batch":
        kind = "a stream log" if state["kind"] == "stream" else "no log"
        raise ValueError(
            f"{needs} a batch commit log; {path} holds {holds or kind}"
        )
    return state


def optimize_manifest_sink(
    spark: SparkSession,
    path: str,
    target_files: int = 4,
    cluster_by: list[str] | None = None,
) -> None:
    """OPTIMIZE for the batch commit log: small-file compaction of the
    DATA through the log itself — read the current snapshot, rewrite it
    as ``target_files`` staged files, publish ONE overwrite commit. The
    rewrite is just another commit, so readers never observe a partial
    state, pre-optimize versions stay time-travelable until expired, and
    expire + vacuum then reclaim the superseded small files — the
    OPTIMIZE / retention / VACUUM triad table formats ship. Stream
    directories have the metadata-level counterpart
    (:func:`compact_stream_manifests`) instead: their family guard
    correctly refuses a batch overwrite, and their small-file story is
    per-batch manifests, not per-task files. Caveat shared with every
    table format: the overwrite commit is a history rewrite, so run it
    below active streaming readers' offsets (the ``manifestlog`` source
    raises on it by default).

    Concurrency (r14, ADVICE fix): OPTIMIZE is a read-modify-write, so
    it PINS the snapshot it read (``version=k``) and claims EXACTLY
    ``k+1`` — a concurrent commit landing in between surfaces as
    :class:`ConcurrentManifestWriteError` instead of being silently
    superseded (its rows would have vanished from the latest snapshot).
    Callers retry by re-running optimize on the new snapshot. Skipping
    stats survive: the rewrite re-records the snapshot's min/max and
    bloom tiers (:func:`_rewrite_tiers`).

    ``cluster_by`` (r14) is OPTIMIZE's clustered variant (Delta's
    ``ZORDER BY`` role for the 1-D/lexicographic case): the rewrite
    range-partitions + sorts on those columns, so each rewritten file
    holds a DISJOINT key range and the re-recorded manifest min/max
    stats become tight — a range predicate then prunes to the few files
    that can hold it, where a round-robin rewrite (the default) leaves
    every file spanning the whole domain and prunes nothing. Clustered
    columns are added to the re-recorded ``statsColumns``."""
    from pyspark.sql import functions as F

    state = _batch_state(
        path, "optimize_manifest_sink expects",
        holds="a stream log — use compact_stream_manifests there",
    )
    base_version = state["version"]
    _pin_read_schema(state["metas"])
    # OPTIMIZE materializes the mapping: it reads the LOGICAL view and
    # overwrites (which resets the mapping), so the rewrite's tiers are
    # the logical names of the surviving physical keys
    inv = {pn: ln for ln, pn in _mapping_parts(state.get("mapping"))[0].items()}
    stats_cols, bloom_cols = (
        sorted(inv.get(c, c) for c in tier) for tier in _rewrite_tiers(state)
    )
    snapshot = read_manifest_sink(spark, path, version=base_version)
    if cluster_by:
        missing = [c for c in cluster_by if c not in snapshot.columns]
        if missing:
            raise ValueError(f"cluster_by columns {missing} not in the table")
        cols = [F.col(c) for c in cluster_by]
        shaped = snapshot.repartitionByRange(target_files, *cols)
        shaped = shaped.sortWithinPartitions(*cols)
        stats_cols = sorted(set(stats_cols) | set(cluster_by))
    else:
        shaped = snapshot.repartition(target_files)
    _stage_and_commit(
        shaped,
        _rewrite_options(path, base_version + 1, (stats_cols, bloom_cols)),
        overwrite=True,
    )


def _basename_of_uri(uri: str) -> str:
    # input_file_name() yields file:///abs/path/name.parquet (URL-encoded)
    from urllib.parse import unquote, urlparse

    return os.path.basename(unquote(urlparse(uri).path))


def _read_file_list(spark: SparkSession, files: list[str], schema):
    return spark.read.schema(schema).parquet(*files)


def _project_logical_df(df, physical_schema, mapping):
    """Project a physically-named DataFrame to the logical view (no-op
    without a mapping)."""
    if not mapping:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.col(p).alias(l)
            for l, p, _t in _logical_projection(physical_schema, mapping)
        ]
    )


def _snapshot_for_rmw(
    path: str,
) -> tuple[dict, StructType, StructType, tuple[list[str], list[str]]]:
    """Pin step of the copy-on-write skeleton (:func:`_copy_on_write`):
    pin the snapshot, pin the recorded schema (a rewrite re-stages
    EXACTLY the recorded types), derive the skipping tiers to
    re-record. Returns ``(state, physical_schema, logical_schema,
    tiers)``; the logical schema is the column-mapped view the ops work
    in, ``tiers`` is :func:`_rewrite_tiers` of the snapshot."""
    state = _batch_state(path, "copy-on-write commits need")
    schema = _pin_read_schema(state["metas"])
    lschema = _snapshot_logical_schema(state["metas"], state.get("mapping"))
    return state, schema, lschema, _rewrite_tiers(state)


def _rewrite_tiers(state: dict) -> tuple[list[str], list[str]]:
    """The skipping tiers a rewrite of ``state``'s files re-records, as
    the snapshot keys them: ``(statsColumns, bloomFilterColumns)``. A key
    whose entries carry min/max, null counts or a partition value joins
    the first (a partition value comes back as min/max: a rewrite keeps
    no one-value-per-file layout); a key whose entries carry a bloom
    joins the second, so a bloom-only column stays bloom-only. A DROPPED
    column's physical keys linger in old files' entries; re-recording
    them would name a column the rewrite's physical schema no longer
    carries (writer init would refuse), so they fall away."""
    dropped = set(_mapping_parts(state.get("mapping"))[1])
    stats: set[str] = set()
    blooms: set[str] = set()
    for st in state["file_stats"].values():
        for c, entry in st.items():
            if c in dropped:
                continue
            if not isinstance(entry, dict) or entry.keys() & {
                "min", "max", "nulls", "pv"
            }:
                stats.add(c)
            if isinstance(entry, dict) and "bloom" in entry:
                blooms.add(c)
    return sorted(stats), sorted(blooms)


def _rewrite_options(
    path: str, expected_version: int, tiers: tuple[list[str], list[str]]
) -> dict:
    """The writer options a read-modify-write commit stages under: it
    claims EXACTLY ``expected_version`` and re-records ``tiers``."""
    return {
        "path": path,
        "expectedVersion": str(expected_version),
        "statsColumns": ",".join(tiers[0]),
        "bloomFilterColumns": ",".join(tiers[1]),
    }


def _stage_and_commit(
    df: DataFrame, options: dict, overwrite: bool, removed: list[str] | None = None
) -> None:
    """Run one :class:`ManifestSinkWriter` job from the driver process
    (a REPLACE commit when ``removed`` lists the entries it swaps out):
    each task stages its partition with ``writer.write`` inside
    ``mapInArrow`` and returns its pickled :class:`_StagedFile`; the
    driver collects them and calls ``writer.commit``. Spark's own
    DataSource write is this same ``mapInArrow``, but it also starts two
    fresh, non-reused Python planner processes per save only to build
    the writer and to call ``commit()`` — the copy-on-write commits skip
    both. The abort contract is the DataSource one: a commit that raises
    (a lost claim included) aborts its staged files before re-raising,
    and a failed staging job sweeps what its successful tasks staged,
    found by the write token every staged name of this job carries."""
    import pickle

    import pyarrow as pa

    writer = ManifestSinkWriter(options, df.schema, overwrite)
    writer.replaced_files = removed

    def stage(batches):
        msg = pickle.dumps(writer.write(batches))
        yield pa.RecordBatch.from_arrays([pa.array([msg], pa.binary())], ["m"])

    try:
        rows = df.mapInArrow(stage, "m binary").collect()
    except BaseException:
        # a failed job returns no messages: its successful tasks' files
        # are the ones carrying this write's token
        for name in os.listdir(writer.path) if os.path.isdir(writer.path) else ():
            if name.startswith("part-") and writer._token in name:
                try:
                    os.remove(os.path.join(writer.path, name))
                except FileNotFoundError:
                    pass
        raise
    messages = [pickle.loads(r.m) for r in rows]
    try:
        writer.commit(messages)
    except BaseException:
        writer.abort(messages)
        raise


def _publish_replace(
    df: DataFrame,
    path: str,
    removed: list[str],
    expected_version: int,
    tiers: tuple[list[str], list[str]],
) -> None:
    _stage_and_commit(
        df, _rewrite_options(path, expected_version, tiers), False, removed
    )


def _replace_conflict_reason(
    path: str,
    base_version: int,
    head: int,
    my_removed: set[str],
    key_preds: dict | None,
) -> str | None:
    """Delta's logical commit-conflict re-validation: given that this
    rewrite pinned ``base_version`` but versions ``base_version+1..head``
    were won by other writers, decide whether the winners' change sets
    actually invalidate this rewrite. Returns ``None`` when provably
    disjoint (safe to re-claim the same staged rewrite at ``head+1``),
    else a human-readable reason (TRUE conflict — the caller must
    re-read and redo its read-modify-write).

    Rules (isolation level: WriteSerializable, Delta's default):

    - a winner OVERWRITE (base) reset the snapshot — always a conflict;
    - a winner REPLACE that removed any file this rewrite also removes
      rewrote the same rows — write-write conflict;
    - winner-ADDED files conflict only for key-matched ops (MERGE):
      an added file may hold rows matching this merge's keys (the merge
      read the whole key domain to decide update-vs-insert), unless the
      file's staged skipping stats PROVE every key misses —
      ``key_preds`` carries the merge's point/range predicates, ``{}``
      means unprovable (always conflict), ``None`` means additions are
      serialization-reorderable for this op (DELETE/retention: an
      appended row is simply "inserted after the delete") and never
      conflict."""
    for v in range(base_version + 1, head + 1):
        try:
            man = _load(path, f"{_V_PREFIX}{v:08d}")
        except FileNotFoundError:
            return f"commit {v} vanished mid-check (concurrent expire?)"
        mode = man.get("mode", "append")
        if mode == "overwrite":
            return (
                f"commit {v} is an OVERWRITE base — it reset the snapshot "
                "this rewrite was computed from"
            )
        if mode == "replace":
            overlap = my_removed & set(man.get("removed_files", []))
            if overlap:
                return (
                    f"commit {v} rewrote file(s) this commit also rewrites: "
                    f"{sorted(overlap)[:3]}"
                )
        if key_preds is not None and man.get("files"):
            fstats = man.get("file_stats", {})
            for f in man["files"]:
                st = fstats.get(f)
                disjoint = bool(key_preds) and st is not None and any(
                    col in st
                    and _entry_proves_miss(
                        st[col], pred if isinstance(pred, list) else [pred]
                    )
                    for col, pred in key_preds.items()
                )
                if not disjoint:
                    return (
                        f"commit {v} added file {f} whose stats cannot prove "
                        "it holds no row matching this operation's keys"
                    )
    return None


def _copy_on_write(
    spark: SparkSession,
    path: str,
    snap: tuple,
    op_name: str,
    candidates: list[str],
    match,
    added: DataFrame | None = None,
    dropped: list[str] = (),
    key_preds: dict | None = None,
) -> dict:
    """The copy-on-write skeleton MERGE, DELETE and retention DELETE
    share, over the snapshot ``snap`` from :func:`_snapshot_for_rmw`
    (version k). The op supplies its ``candidates`` (full paths of the
    files that may hold a matching row), its ``match`` — a filter Column,
    or a key DataFrame whose columns are the join keys (merge's join
    mode) — the rows it ``added`` and the entries it ``dropped`` without
    scanning.

    1. TOUCHED set: scan only the candidates with ``input_file_name()``;
       a file is rewritten iff it truly holds a matching row (pruning is
       a superset; this scan is the truth).
    2. Rewrite = touched rows minus the matched rows, plus ``added``,
       one output file per touched input file.
    3. Publish ONE ``replace`` commit removing the dropped and touched
       files, claiming EXACTLY k+1. A lost claim is re-validated against
       the winners' change sets (:func:`_replace_conflict_reason`,
       Delta's logical conflict rule): when provably disjoint the SAME
       staged rewrite re-claims head+1 (the frame recomputes from the
       pinned files, which survive until vacuum; content is identical by
       construction); a true conflict, or a fifth lost claim in a row
       (livelock guard), raises :class:`ConcurrentManifestWriteError`.
       ``key_preds`` (logical names) is what a winner's added file must
       provably miss; ``None`` means additions are
       serialization-reorderable for this op (DELETE).

    With nothing touched, dropped or added (a DELETE matching no row)
    no commit is published. Returns ``{"version", "base_version",
    "rewritten_files", "candidate_files", "total_files"}``."""
    from pyspark.sql import functions as F

    state, schema, lschema, tiers = snap
    base_version, mapping = state["version"], state.get("mapping")

    def scan(files: list[str]) -> DataFrame:
        return _project_logical_df(
            _read_file_list(spark, files, schema), schema, mapping
        )

    keys = match.columns if isinstance(match, DataFrame) else None
    # snapshot entries may be dst-local basenames OR absolute references
    # (a shallow CLONE); input_file_name gives a URI, so map its basename
    # back to the manifest's entry name (staged names are uuid-unique)
    by_base = {os.path.basename(f): f for f in state["files"]}
    touched: list[str] = []
    if candidates:
        # a filter goes BEFORE input_file_name(): the nondeterministic
        # projection blocks predicate pushdown, so the filter must sit
        # under it to reach the scan (PushedFilters: In(...) — parquet
        # row-group skipping inside the candidate files). A key frame
        # instead needs __src attached FIRST: input_file_name() is
        # single-source only, so it must bind below the semi join.
        if keys is None:
            hits = scan(candidates).filter(match)
            hits = hits.withColumn("__src", F.input_file_name())
        else:
            hits = scan(candidates).withColumn("__src", F.input_file_name())
            hits = hits.join(match, keys, "left_semi")
        touched = sorted(
            by_base[_basename_of_uri(r["__src"])]
            for r in hits.select("__src").distinct().collect()
        )
    result = {
        "version": base_version,
        "base_version": base_version,
        "rewritten_files": touched,
        "candidate_files": len(candidates),
        "total_files": len(state["files"]),
    }
    if not (touched or dropped) and added is None:
        return result
    if touched:
        kept = scan([os.path.join(path, f) for f in touched])
        if keys is None:
            # anti-join semantics with a literal predicate: a row whose
            # match is NULL (a NULL key, a NULL condition) is KEPT
            kept = kept.filter(~F.coalesce(match, F.lit(False)))
        else:
            kept = kept.join(match, keys, "left_anti")
        new_data = kept.select(*lschema.fieldNames())
        if added is not None:
            new_data = new_data.unionByName(added)
        # one output file per rewritten input file: the rewrite's volume is
        # the touched files' volume, so this keeps file sizes stable across
        # merge generations (zero-row partitions stage nothing regardless)
        new_data = new_data.coalesce(len(touched))
    elif added is not None:
        new_data = added
    else:
        new_data = local_relation_df(spark, [], lschema)
    removed = sorted(dropped) + touched
    if mapping and key_preds:
        # winners' staged stats are keyed by PHYSICAL name
        renamed = _mapping_parts(mapping)[0]
        key_preds = {renamed.get(c, c): v for c, v in key_preds.items()}
    expected, attempt = base_version + 1, 0
    while True:
        try:
            _publish_replace(new_data, path, removed, expected, tiers)
            return {**result, "version": expected}
        except ConcurrentManifestWriteError:
            head = _resolve_state(path, with_stats=False)["version"]
            reason = _replace_conflict_reason(
                path, base_version, head, set(removed), key_preds
            )
            if reason is not None:
                raise ConcurrentManifestWriteError(
                    f"{op_name} on {path} lost the claim for version "
                    f"{expected} and a winning commit truly conflicts: "
                    f"{reason} — re-read the snapshot and retry the "
                    f"{op_name}"
                ) from None
            attempt += 1
            if attempt > 4:
                raise ConcurrentManifestWriteError(
                    f"{op_name} on {path} lost {attempt} consecutive claims "
                    "to non-conflicting writers (livelock guard) — retry "
                    "under lower contention"
                ) from None
            expected = head + 1


def merge_into_manifest_sink(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    delete_condition: str | None = None,
) -> dict:
    """Copy-on-write MERGE (upsert) through the commit log — the Delta
    ``MERGE INTO`` shape: rows in ``updates`` REPLACE table rows with the
    same key, keys not present anywhere INSERT. One ``replace`` commit
    swaps exactly the files that actually hold a matching key; every
    other file is untouched metadata — at 100 TB an upsert of one key
    rewrites one file, not the snapshot.

    Mechanics, in scan order from cheapest to priciest:

    1. PIN the snapshot (version k) and the recorded schema; ``updates``
       must carry exactly the table's columns (full-row upsert).
    2. Stats-prune the CANDIDATE files: for a single-key merge the
       update keys' [min, max] (one tiny aggregate) runs through
       :func:`prune_manifest_files` — files whose recorded range provably
       misses every update key are never opened.
    3. Exact TOUCHED set: scan only candidates with
       ``input_file_name()``, semi-join on the keys — a file is rewritten
       iff it truly holds a matching key (pruning is a superset; this
       join is the truth).
    4. Rewrite = touched rows anti-joined on the keys, unioned with
       ``updates``; publish ONE replace commit removing the touched
       files, claiming EXACTLY k+1. A lost claim is re-validated
       against the winners' change sets (Delta's logical conflict
       rule): two merges on provably-disjoint keys BOTH land — the
       loser transparently re-claims head+1 with the same staged
       rewrite — while a winner that rewrote an overlapping file,
       published a base, or added a file that may hold a merge key
       surfaces as :class:`ConcurrentManifestWriteError` (re-read,
       redo), never as silently-superseded rows.

    Steps 3 and 4 are the :func:`_copy_on_write` skeleton DELETE shares.

    ``delete_condition`` is the WHEN MATCHED ... THEN DELETE clause
    (Delta's merge-delete): a SQL predicate over the UPDATE row's
    columns; source rows where it is TRUE delete their matched table
    row instead of replacing it (their files still count as touched),
    and — standard WHEN NOT MATCHED semantics — insert nothing when the
    key doesn't exist. NULL/false-condition rows upsert as usual.

    Duplicate keys in ``updates`` are refused (the merge would be
    ambiguous — Delta's rule), as are NULL keys (SQL equality never
    matches them). Time travel across the merge is intact: version k
    still shows the pre-merge rows until expired, and vacuum reclaims
    the swapped-out files only after an expire passes them. Returns
    ``{"version", "base_version", "rewritten_files", "candidate_files",
    "total_files"}`` — the scale test pins ``rewritten_files`` ⊆
    ``candidate_files`` ⊂ ``total_files`` on a stats-pruned log."""
    from pyspark.sql import functions as F

    snap = _snapshot_for_rmw(path)
    state, lschema = snap[0], snap[2]
    # column mapping (r15): the table's files carry immutable PHYSICAL
    # names; the merge operates entirely in the LOGICAL view (updates
    # arrive logical, scans are projected, the staged rewrite maps back
    # at write time), and stats/conflict predicates translate at the
    # boundaries
    cols = lschema.fieldNames()
    missing = [c for c in cols if c not in updates.columns]
    extra = [c for c in updates.columns if c not in cols]
    if missing or (extra and delete_condition is None):
        raise ValueError(
            f"merge updates must carry exactly the table columns {cols}: "
            f"missing {missing}, unexpected {extra} (non-table columns are "
            "only legal as inputs to delete_condition)"
        )
    bad_keys = [k for k in keys if k not in cols]
    if not keys or bad_keys:
        raise ValueError(f"merge keys {bad_keys or keys} not in table columns")
    # WHEN MATCHED DELETE: evaluate the predicate while the condition's
    # (possibly non-table) columns are still present — the projection
    # below strips them, so the verdict is carried as one boolean
    mdel = "__manifest_merge_delete__"
    flag_cols = []
    if delete_condition is not None:
        updates = updates.withColumn(
            mdel, F.coalesce(F.expr(delete_condition), F.lit(False))
        )
        flag_cols = [F.col(mdel)]
    # cast to the table's EXACT recorded types: a silently-widened update
    # column (int vs long) would otherwise stage a drifted schema_json and
    # fail every later read's drift check
    updates = updates.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in lschema.fields],
        *flag_cols,
    )
    # ONE probe job serves four needs: the point/join MODE decision, the
    # duplicate-key check, the NULL check, and the pruning predicates —
    # and in point mode it returns the UPDATE ROWS THEMSELVES.
    # ``limit(MAX_POINT_KEYS + 1).collect()`` is a CollectLimit: no
    # shuffle (the old probe ran a full groupBy().count() — an exchange
    # plus a second AQE job — before deciding), and it short-circuits, so
    # a huge CDC batch pays one cheap partial scan to discover it is not
    # point-shaped. <= MAX_POINT_KEYS rows means the COMPLETE update set
    # is in the driver's hand (success in the old point mode already
    # implied rows == distinct keys <= 128 — any surplus row was a
    # duplicate key and raised): the audit runs in Python, the key
    # predicates compile to literals, and ``surviving`` is rebuilt as a
    # literal relation below, so the rewrite job never re-runs the
    # updates' lineage (r16 job profile: the rewrite's single coalesced
    # task serially re-ran the entire update lineage — micro-batch scan,
    # unions, Python local relations — inside the staged write).
    orderable = [
        f.name
        for f in lschema.fields
        if f.name in keys
        and f.dataType.simpleString().startswith(_STATS_OK_PREFIXES)
    ]
    MAX_POINT_KEYS = 128
    head = updates.limit(MAX_POINT_KEYS + 1).collect()
    # conflict_preds drive the lost-CAS logical-conflict check (what a
    # WINNING commit's added files must provably miss for this merge to
    # re-claim transparently) — built even when the TABLE has no stats,
    # because it is the winner's STAGED stats that get consulted; {}
    # means "unprovable" (any concurrent addition is a true conflict).
    # When the table has stats they also prune the candidate files.
    if len(head) <= MAX_POINT_KEYS:
        seen: set = set()
        for r in head:
            kv = tuple(r[k] for k in keys)
            if any(v is None for v in kv) or kv in seen:
                raise ValueError(
                    "merge updates contain duplicate or NULL keys — the "
                    f"merge would be ambiguous (first offender: {r})"
                )
            seen.add(kv)
        conflict_preds = {
            k: [(v, v) for v in sorted({r[k] for r in head})] for k in orderable
        }
        # the matched-key test drives both the touched-set probe and the
        # rewrite's row drop. The probe already COLLECTED the distinct
        # keys (<= 128 rows), so compile them into a literal membership
        # predicate instead of a join: a single-key merge becomes
        # ``col IN (...)`` — pushed into the parquet scan as an In filter
        # (row-group skipping at any scale) — and the touched and rewrite
        # jobs never re-run the updates' lineage for the key side (a
        # streamed CDC merge used to recompute its micro-batch twice per
        # commit)
        if not head:
            # EMPTY updates (e.g. an empty CDC micro-batch in a
            # foreachBatch merge): no key can match — the probe and the
            # rewrite degenerate to no-ops and the commit publishes an
            # empty replace (r15 regression: reduce() over zero sample
            # rows raised TypeError on the compound-key path)
            match = F.lit(False)
        elif len(keys) == 1:
            match = F.col(keys[0]).isin([r[keys[0]] for r in head])
        else:
            # compound key: ONE struct-IN node — struct(keys) IN
            # (struct(v...), ...) — instead of a 128-term OR-chain of
            # conjunctions; the literal list hangs off a single In
            # expression, so Catalyst's analysis cost stays flat at
            # merge depth (NULL semantics identical: a NULL key field
            # yields NULL/false, never a match)
            match = F.struct(*[F.col(k) for k in keys]).isin(
                [
                    F.struct(
                        *[
                            F.lit(r[k])
                            .cast(lschema[k].dataType)
                            .alias(k)
                            for k in keys
                        ]
                    )
                    for r in head
                ]
            )
        # WHEN MATCHED DELETE: the match above covers ALL update rows (a
        # delete-intent key must count as matched so its file is
        # rewritten), but only the non-delete rows re-enter the table; a
        # delete-intent row whose key never matched inserts nothing (WHEN
        # NOT MATCHED has no DELETE arm) because it simply isn't in
        # `surviving`. The rows the probe collected become a literal
        # LocalRelation (util.local_relation_df), so the staged rewrite's
        # lineage is just touched-file scan + literals: the update
        # pipeline never re-runs inside the write job, and a
        # nondeterministic update source stages exactly the audited rows.
        surviving = local_relation_df(
            spark,
            [
                tuple(r[c] for c in cols)
                for r in head
                if delete_condition is None or not r[mdel]
            ],
            lschema,
        )
    else:
        # join mode (> MAX_POINT_KEYS rows): materialize the update set
        # ONCE (Delta's materialize-source move). The audit aggregate,
        # the touched semi-join, the rewrite anti-join and the staged
        # write all reference ``updates``, and DataFrame plans have no
        # subtree reuse — a wide CDC batch's lineage used to recompute
        # per job. O(batch) storage, reclaimed by the ContextCleaner
        # after the merge returns (merges are short-lived; an explicit
        # free would race the publish retry, which re-stages from the
        # same blocks).
        updates = updates.localCheckpoint(eager=True)
        key_counts = updates.select(*keys).groupBy(*keys).count()
        aggs = [F.max("count").alias("__max_dup")]
        aggs += [
            F.sum(F.when(F.col(k).isNull(), 1).otherwise(0)).alias(f"__nulls_{k}")
            for k in keys
        ]
        for k in orderable:
            aggs += [F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}")]
        b = key_counts.agg(*aggs).collect()[0]
        if (b["__max_dup"] or 0) > 1 or any(b[f"__nulls_{k}"] for k in keys):
            raise ValueError(
                "merge updates contain duplicate or NULL keys — the merge "
                "would be ambiguous"
            )
        conflict_preds = {
            k: (b[f"__lo_{k}"], b[f"__hi_{k}"])
            for k in orderable
            if b[f"__lo_{k}"] is not None
        }
        # beyond 128 keys the semi/anti join over the distinct key frame
        # is the right tool
        match = updates.select(*keys).distinct()
        surviving = updates
        if delete_condition is not None:
            surviving = updates.filter(~F.col(mdel)).select(*cols)
    candidates = [os.path.join(path, f) for f in state["files"]]
    if state["file_stats"] and conflict_preds:
        candidates = _prune_state(path, state, conflict_preds)
    return _copy_on_write(
        spark, path, snap, "MERGE", candidates, match, surviving,
        key_preds=conflict_preds,
    )


def delete_from_manifest_sink(
    spark: SparkSession, path: str, condition: str, prune: dict | None = None
) -> dict:
    """Copy-on-write DELETE through the commit log: remove the rows
    matching a SQL ``condition`` by rewriting ONLY the files that hold
    at least one matching row, published as one ``replace`` commit
    claiming exactly base+1 (same conflict rule as merge). ``prune=``
    takes the same predicates as :func:`prune_manifest_files` to skip
    opening provably-unaffected files — pass the condition's range when
    you have one (the scan is still exact; pruning is scan-work only).
    SQL three-valued logic is honored: rows where the condition is NULL
    are KEPT, exactly like ``DELETE WHERE``. A delete matching nothing
    publishes NO commit (returns the unchanged version). Files whose
    rows are all deleted simply drop out; time travel and vacuum behave
    as for merge."""
    from pyspark.sql import functions as F

    snap = _snapshot_for_rmw(path)
    state = snap[0]
    candidates = [os.path.join(path, f) for f in state["files"]]
    if prune:
        candidates = _prune_state(path, state, prune)
    # additions are serialization-reorderable for a DELETE
    # (WriteSerializable: an appended row simply lands "after" the
    # delete), so key_preds=None — only overlapping rewrites/bases
    # are true conflicts
    return _copy_on_write(
        spark, path, snap, "DELETE", candidates, F.expr(condition)
    )


def delete_range_from_manifest_sink(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
) -> dict:
    """RETENTION DELETE: remove rows with ``lo <= col <= hi`` (either
    bound may be None; NULLs never match, SQL semantics) with files the
    stats PROVE fully covered dropped METADATA-ONLY — never opened,
    never rewritten. This is the 100 TB operation behind "drop
    everything older than X": on a time/range-clustered table almost
    every affected file is entirely inside the range, so the delete
    costs one JSON commit plus O(straddling files) rewrites instead of
    O(deleted data). The proof obligations, stated plainly:

    - FULL drop needs recorded bounds inside [lo, hi] AND a recorded
      zero null count (a NULL row never matches a range, so a file with
      any nulls must be rewritten, not dropped) — this is why the
      general :func:`delete_from_manifest_sink` cannot do it: its
      ``prune=`` hint is advisory (condition implies range, never the
      converse), while HERE the condition IS the range.
    - Provably-disjoint and provably-all-null files are untouched.
    - Everything else (no stats, straddling) is scanned exactly and
      rewritten if it truly holds a matching row.

    Publishes ONE replace commit claiming exactly base+1 (same CAS
    conflict rule as merge). A range matching nothing publishes NO
    commit. Returns ``{"version", "base_version", "dropped_files",
    "rewritten_files", "scanned_files", "total_files"}``."""
    from pyspark.sql import functions as F

    if lo is None and hi is None:
        raise ValueError("pass at least one bound (lo/hi); an unbounded "
                         "range delete is a truncate — use mode('overwrite')")
    snap = _snapshot_for_rmw(path)
    state, cols = snap[0], snap[2].fieldNames()
    if col not in cols:
        raise ValueError(f"range column {col!r} not in table columns {cols}")
    # skipping stats are keyed by PHYSICAL name
    pcol = _mapping_parts(state.get("mapping"))[0].get(col, col)
    fstats = state.get("file_stats", {})
    dropped: list[str] = []
    scan: list[str] = []
    for f in state["files"]:
        entry = (fstats.get(f) or {}).get(pcol)
        if entry is not None and _entry_proves_miss(entry, [(lo, hi)]):
            continue  # provably disjoint or all-null: untouched
        mn, mx, nulls, _rows = _stat_bounds(entry)
        if (
            nulls == 0 and mn is not None and mx is not None
            and (lo is None or mn >= lo)
            and (hi is None or mx <= hi)
        ):
            dropped.append(f)  # provably fully covered: never opened
        else:
            scan.append(f)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    res = _copy_on_write(
        spark, path, snap, "retention DELETE",
        [os.path.join(path, f) for f in scan], cond, dropped=dropped,
    )
    res["scanned_files"] = res.pop("candidate_files")
    return {**res, "dropped_files": sorted(dropped)}


def _mapping_parts(mapping: dict | None) -> tuple[dict, list]:
    """Normalize a column mapping to ``(cols, dropped)`` — ``cols`` maps
    LOGICAL name -> PHYSICAL name for renamed columns only; ``dropped``
    lists PHYSICAL names of dropped columns. ``None`` (no mapping ever)
    and an empty mapping behave identically."""
    if not mapping:
        return {}, []
    return dict(mapping.get("cols", {})), list(mapping.get("dropped", []))


def _logical_projection(
    physical_schema: StructType, mapping: dict | None
) -> list[tuple[str, str, object]]:
    """The snapshot's LOGICAL view of its PHYSICAL schema:
    ``[(logical_name, physical_name, dataType)]`` in physical
    first-appearance order — renamed columns surface under their
    logical name, dropped physicals disappear, unmapped physicals keep
    their own name (including columns appended after the mapping was
    created). Raises on the one inconsistency a lost write-planning
    race could stage: a physical field whose name collides with a
    DIFFERENT column's logical name (see the race note at
    :func:`rename_column_manifest_sink`)."""
    cols, dropped = _mapping_parts(mapping)
    inv = {p: l for l, p in cols.items()}
    out: list[tuple[str, str, object]] = []
    for f in physical_schema.fields:
        if f.name in dropped:
            continue
        logical = inv.get(f.name, f.name)
        if f.name not in inv and (f.name in cols):
            raise ValueError(
                f"column-mapping inconsistency: physical column {f.name!r} "
                f"collides with the logical name of a renamed column "
                f"(mapped to {cols[f.name]!r}) — a write raced a rename; "
                "repair by OPTIMIZE (materializes the mapping) or RESTORE "
                "to a version before the race"
            )
        out.append((logical, f.name, f.dataType))
    seen: set[str] = set()
    for logical, _p, _t in out:
        if logical in seen:
            raise ValueError(
                f"column-mapping inconsistency: logical name {logical!r} "
                "resolves from two physical columns — a write raced a "
                "rename; repair by OPTIMIZE or RESTORE"
            )
        seen.add(logical)
    return out


def _to_physical_schema(schema: StructType, mapping: dict | None) -> StructType:
    """Translate a WRITE schema (logical names) into the physical names
    staged files must carry — Delta's column-mapping write rule:
    physical names are immutable, so a renamed column keeps writing
    under its original physical name. New columns use their own name as
    physical, REFUSED when that name is already claimed by a different
    column's physical or was dropped (physical names are never reused;
    pick a fresh name)."""
    from pyspark.sql.types import StructField

    cols, dropped = _mapping_parts(mapping)
    claimed = set(cols.values())
    fields = []
    for f in schema.fields:
        pn = cols.get(f.name)
        if pn is None:
            if f.name in dropped:
                raise ValueError(
                    f"cannot write column {f.name!r}: that physical name "
                    "was DROPPED and physical names are never reused — "
                    "add the column under a fresh name"
                )
            if f.name in claimed:
                raise ValueError(
                    f"cannot write column {f.name!r}: that physical name "
                    "belongs to a renamed column — use the logical name "
                    f"({ {l for l, p in cols.items() if p == f.name}.pop()!r})"
                )
            pn = f.name
        fields.append(StructField(pn, f.dataType, f.nullable))
    return StructType(fields)


def _snapshot_logical_schema(metas: list[dict], mapping: dict | None):
    """The logical schema of a resolved snapshot — the physical pin from
    :func:`_pin_read_schema` (same refusals) projected through the
    mapping."""
    from pyspark.sql.types import StructField

    phys = _pin_read_schema(metas)
    if not mapping:
        return phys
    proj = _logical_projection(phys, mapping)
    return StructType(
        [StructField(l, t, nullable=True) for l, _p, t in proj]
    )


def _metadata_commit(path: str, new_mapping: dict, operation: str) -> int:
    """Publish a zero-file ``metadata`` commit carrying the FULL new
    column mapping (metadata commits replace the mapping wholesale).
    CAS against the resolved head — a racing commit surfaces as
    :class:`ConcurrentManifestWriteError` (re-read, retry): the
    rename/drop was composed from a snapshot that is no longer head.

    The presence marker is written BEFORE the claim so writers planning
    a concurrent append re-check the log at commit time. One narrow
    window remains (marker-check passes before the marker lands AND the
    append's claim lands after this commit, a few ms): a file staged
    with now-stale names. The read side detects that signature loudly
    (:func:`_logical_projection` raises) instead of mis-projecting —
    same repair path as Delta: don't run renames under concurrent
    writes, or OPTIMIZE after."""
    with open(os.path.join(path, _COLMAP_MARKER), "w") as f:
        f.write("1")
    target = _resolve_state(path, with_stats=False)["version"] + 1
    man = {
        "files": [],
        "mode": "metadata",
        "column_mapping": new_mapping,
        "operation": operation,
        "ts": time.time(),
    }
    _claim_version(
        path, target, man, f"while committing {operation!r}; re-read and retry"
    )
    _write_hint(path, "batch", target, (_read_hint(path) or {}).get("checkpoint"))
    return target


def _mapping_target(
    path: str, op: str, name: str
) -> tuple[StructType, list[str], dict, list, str]:
    """The preamble RENAME and DROP COLUMN share: resolve the batch log,
    pin its recorded physical schema and check ``name`` is a current
    logical column. Returns ``(physical_schema, logical_names, cols,
    dropped, physical_name)``, ``cols``/``dropped`` as
    :func:`_mapping_parts` gives them."""
    state = _batch_state(
        path, f"{op.lower().replace(' ', '_')} expects", with_stats=False
    )
    phys = _pin_read_schema(state["metas"])
    proj = _logical_projection(phys, state.get("mapping"))
    names = [l for l, _p, _t in proj]
    if name not in names:
        raise ValueError(
            f"{op}: {name!r} is not a column of {path} (columns: {names})"
        )
    cols, dropped = _mapping_parts(state.get("mapping"))
    return phys, names, cols, dropped, next(p for l, p, _t in proj if l == name)


def rename_column_manifest_sink(path: str, old: str, new: str) -> int:
    """``ALTER TABLE ... RENAME COLUMN`` through the log (Delta's column
    mapping, name mode): ONE metadata-only commit — no data file is
    read or rewritten at any table size. Physical names are immutable
    (the name a column was first written under); the mapping records
    logical->physical, staged files keep physical names forever, reads
    project physical->logical, and skipping stats/blooms stay keyed by
    physical name so pruning is unaffected by any number of renames.
    Time travel is mapping-aware: a snapshot pinned before this commit
    shows the old name. The new name must be globally fresh — not a
    current logical name, and not any physical name ever used
    (including dropped ones); physical names are never reused, exactly
    so that old files can never be mis-projected. Returns the committed
    version."""
    phys, names, cols, dropped, physical_old = _mapping_target(
        path, "RENAME COLUMN", old
    )
    if new in names:
        raise ValueError(f"RENAME COLUMN: {new!r} already exists in {path}")
    if new in {f.name for f in phys.fields} | set(dropped) | set(cols.values()):
        raise ValueError(
            f"RENAME COLUMN: {new!r} collides with a physical column name "
            "already used by this table's files; physical names are never "
            "reused — pick a fresh name"
        )
    cols.pop(old, None)
    cols[new] = physical_old
    return _metadata_commit(
        path, {"cols": cols, "dropped": dropped},
        f"RENAME COLUMN {old} TO {new}",
    )


def drop_column_manifest_sink(path: str, name: str) -> int:
    """``ALTER TABLE ... DROP COLUMN`` through the log: ONE
    metadata-only commit — the physical column stays in existing files
    (and in their recorded stats) but disappears from every read at or
    after this version; time travel before it still shows the column.
    The physical name is retired forever (re-adding a column with the
    dropped name is refused — old files would leak its values back).
    Storage is reclaimed lazily: OPTIMIZE rewrites the snapshot without
    the column (it materializes the logical view), after which expire +
    vacuum drop the old files. Returns the committed version."""
    _phys, names, cols, dropped, physical = _mapping_target(
        path, "DROP COLUMN", name
    )
    if len(names) == 1:
        raise ValueError("DROP COLUMN: cannot drop a table's only column")
    cols.pop(name, None)
    dropped.append(physical)
    return _metadata_commit(
        path, {"cols": cols, "dropped": dropped}, f"DROP COLUMN {name}"
    )


def _base_manifest(
    state: dict, files: list[str], file_stats: dict, **provenance
) -> dict:
    """The base (overwrite) commit RESTORE and CLONE publish: it lists
    ``files`` of the resolved snapshot ``state`` under that snapshot's
    recorded schema and column mapping (an overwrite otherwise RESETS
    the mapping), with ``file_stats`` keyed by those entries. No data
    file is read or written."""
    schema = _pin_read_schema(state["metas"])
    manifest = {
        "files": files,
        "n_rows": None,  # not tracked per file outside stats; readers never use it
        "fields": schema.fieldNames(),
        "schema_json": schema.json(),
        "format": "parquet",
        "mode": "overwrite",
        "ts": time.time(),
        **provenance,
    }
    if file_stats:
        manifest["file_stats"] = file_stats
    if state.get("mapping"):
        manifest["column_mapping"] = state["mapping"]
    return manifest


def restore_manifest_sink(path: str, version: int) -> int:
    """RESTORE (Delta's ``RESTORE TABLE ... TO VERSION AS OF`` idea,
    re-expressed from the log alone): publish ONE metadata-only commit
    that makes the CURRENT snapshot equal the snapshot at ``version`` —
    an overwrite (base) commit re-listing that snapshot's files. No data
    file is read, copied, or moved; the commits being rolled back stay
    time-travelable until expired, exactly like any superseded history
    (RESTORE undoes state, never history). The claim is CAS — exactly
    latest+1 — so a racing commit surfaces as
    :class:`ConcurrentManifestWriteError` instead of being silently
    discarded by the rollback. Returns the published version. Skipping
    stats ride along (the restored files' stats were recorded by their
    original commits), and the restore is itself a legal retention
    floor (mode=overwrite)."""
    state = _batch_state(path, "restore_manifest_sink expects", version)
    latest = _resolve_state(path, with_stats=False)["version"]
    if version > latest:
        raise ValueError(
            f"cannot restore {path} to version {version}: the log only "
            f"reaches {latest}"
        )
    # skipping stats ride along: the restored files' stats were recorded
    # by their original commits
    manifest = _base_manifest(
        state, list(state["files"]), state["file_stats"], restored_from=version
    )
    target = latest + 1
    _claim_version(
        path, target, manifest, "while restoring; re-read the log and retry"
    )
    _write_hint(path, "batch", target, (_read_hint(path) or {}).get("checkpoint"))
    return target


def clone_manifest_sink(
    src: str,
    dst: str,
    version: int | None = None,
    timestamp=None,
    deep: bool = False,
    relative: bool = False,
) -> dict:
    """CLONE (Delta's ``CREATE TABLE ... CLONE`` re-expressed from the
    log alone): publish a NEW one-commit log at ``dst`` whose base
    commit lists the source snapshot's files — at ``version``,
    at ``timestamp`` (resolved through :func:`version_at_timestamp`'s
    clamped-monotone rule), or latest. SHALLOW (default) references the
    source's data files by ABSOLUTE path and copies zero bytes — at
    100 TB a clone is one JSON write, and every join in the read path
    (``os.path.join`` keeps an absolute member as-is) resolves the
    reference transparently; the clone then evolves INDEPENDENTLY:
    appends/merges/deletes publish into ``dst``'s own log, a
    copy-on-write rewrite replaces absolute references with dst-local
    staged files, and the source never sees any of it. Skipping stats
    ride along, so merges against the clone still prune.

    The shallow contract, stated plainly (Delta's own caveat): VACUUM or
    expire on the SOURCE can reclaim files a shallow clone still
    references — the source does not know its dependents. Run source
    vacuum only below every clone's referenced snapshot, or pass
    ``deep=True`` to copy the files into ``dst`` (O(data), driver-side
    file copies) for a fully independent table.

    ``relative=True`` (r15, shallow only) stores the references
    RELATIVE to the clone directory (``../src/part-...``) instead of
    absolute — moving any common ancestor of source and clone (a
    relocated data root, a renamed mount) keeps the clone readable,
    where absolute refs dangle. The trade: the clone must keep its
    position relative to the source; moving ONLY one of the two breaks
    the refs either way.

    Refuses to clone into a directory that already holds a log (a clone
    CREATES a table), and refuses source snapshots the schema pin
    refuses (same rule as every reader). Returns ``{"version",
    "source_version", "files", "deep"}``."""
    if timestamp is not None and version is not None:
        raise ValueError("pass version or timestamp, not both")
    if timestamp is not None:
        version = version_at_timestamp(src, timestamp)
    state = _batch_state(src, "clone_manifest_sink expects", version)
    kind, _c, _k = _scan_names(dst) if os.path.isdir(dst) else (None, [], [])
    if kind is not None:
        raise ValueError(
            f"{dst} already holds a manifest log; clone creates a NEW "
            "table — point it at an empty directory"
        )
    if relative and deep:
        raise ValueError("relative=True is a shallow-clone option; a deep "
                         "clone copies files and has no external references")
    src_abs = os.path.abspath(src)
    dst_abs = os.path.abspath(dst)
    # each source entry's name in the clone; skipping stats are re-keyed
    # the same way, so merges against the clone still prune
    if deep:
        entry_of = os.path.basename
    elif relative:
        # r15: store refs RELATIVE to the clone directory ("../src/f"),
        # resolved by the same os.path.join every read already does —
        # moving any common ancestor of src and dst (a relocated data
        # root, a renamed mount) keeps the clone alive, where absolute
        # refs break. Source entries that are themselves absolute (a
        # clone of a clone) re-relativize against THIS dst.
        entry_of = lambda f: os.path.relpath(  # noqa: E731
            f if os.path.isabs(f) else os.path.join(src_abs, f), dst_abs
        )
    else:
        entry_of = lambda f: os.path.join(src_abs, f)  # noqa: E731
    entries = [entry_of(f) for f in state["files"]]
    old = state["file_stats"]
    manifest = _base_manifest(
        state, entries,
        {entry_of(f): old[f] for f in state["files"] if f in old},
        cloned_from={"path": src_abs, "version": state["version"],
                     "deep": deep, "relative": relative},
    )
    os.makedirs(dst, exist_ok=True)
    if deep:
        import shutil

        for f in state["files"]:
            shutil.copy2(
                os.path.join(src_abs, f), os.path.join(dst, os.path.basename(f))
            )
    if state.get("mapping"):
        with open(os.path.join(dst, _COLMAP_MARKER), "w") as f:
            f.write("1")
    try:
        _claim_version(
            dst, 1, manifest, "while cloning; clone into a fresh directory"
        )
    except ConcurrentManifestWriteError:
        if state.get("mapping") and _resolve_state(dst).get("mapping") is None:
            # lost the creation race to a winner WITHOUT a mapping: our
            # advisory marker would tax every future append with a log
            # resolve for nothing — clean it up (the marker is purely
            # advisory, so removing it from an unmapped table is safe)
            try:
                os.remove(os.path.join(dst, _COLMAP_MARKER))
            except FileNotFoundError:
                pass
        raise
    _write_hint(dst, "batch", 1, None)
    return {
        "version": 1,
        "source_version": state["version"],
        "files": len(entries),
        "deep": deep,
    }


def manifest_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """CHANGE DATA FEED between two snapshots (Delta's ``table_changes``
    re-expressed from the log alone, no per-row tracking needed): diff
    the two RESOLVED file sets — a file only in the newer snapshot
    contributes its rows as ``_change_type='insert'``, a file only in
    the older one as ``'delete'``; files in both are untouched by
    definition (staged files are immutable and uniquely named — a row
    can only change by its file being replaced). Works across append,
    replace, overwrite, and restore commits uniformly because it reads
    STATE diffs, not commit kinds. The scan is scoped to exactly the
    changed files — at 100 TB a CDC consumer reads O(changed data),
    never the table.

    Without ``keys`` an update appears as delete(old) + insert(new),
    and rows merely CARRIED by a rewritten file appear as an identical
    delete+insert pair — the raw file-diff truth. With ``keys`` the feed
    becomes row-level CDC (Delta's update_preimage/update_postimage):
    identical rows on both sides cancel first (null-safe equality over
    every shared column — a carried row is not a change), then a
    removed-side row whose key also appears among the changed added rows
    is ``update_preimage``, its counterpart ``update_postimage``;
    unpaired rows stay ``delete`` / ``insert``. Keyed rows are assumed
    unique per side (what merge enforces); duplicate identical rows
    cancel as a group."""
    old = _resolve_state(path, from_version, with_stats=False)
    new = _resolve_state(path, to_version, with_stats=False)
    old_set, new_set = set(old["files"]), set(new["files"])
    added = [f for f in new["files"] if f not in old_set]
    removed = [f for f in old["files"] if f not in new_set]
    from pyspark.sql import functions as F

    def _side(files: list[str], metas: list[dict]) -> DataFrame | None:
        if not files:
            return None
        schema = _pin_read_schema(metas)
        df = _read_file_list(spark, [os.path.join(path, f) for f in files], schema)
        # both sides share immutable PHYSICAL names; the feed reads at
        # the END version's logical view (Delta CDF's rule under column
        # mapping): renames surface uniformly, dropped columns vanish
        return _project_logical_df(df, schema, new.get("mapping"))

    ins = _side(added, new["metas"])
    dels = _side(removed, old["metas"])
    if keys and ins is not None and dels is not None:
        import functools as _ft

        shared = [c for c in ins.columns if c in dels.columns]
        bad = [k for k in keys if k not in shared]
        if bad:
            raise ValueError(f"change keys {bad} not in both snapshots' columns")

        def _anti_identical(a: DataFrame, b: DataFrame) -> DataFrame:
            l, r = a.alias("l"), b.alias("r")
            cond = _ft.reduce(
                lambda x, y: x & y,
                [F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in shared],
            )
            return l.join(r, cond, "left_anti").select("l.*")

        # materialize the two changed-row frames ONCE: each is referenced
        # by two of the four classification branches below, and DataFrame
        # plans have no subtree reuse — without the checkpoint the union
        # re-runs every anti-join (changed-file read + shuffle) four
        # times. The frames are O(changed rows) by construction, the
        # same bound the feed already guarantees its consumer.
        chg_ins = _anti_identical(ins, dels).localCheckpoint()
        chg_dels = _anti_identical(dels, ins).localCheckpoint()
        pre = chg_dels.join(chg_ins.select(*keys).distinct(), keys, "left_semi")
        del_ = chg_dels.join(chg_ins.select(*keys).distinct(), keys, "left_anti")
        post = chg_ins.join(chg_dels.select(*keys).distinct(), keys, "left_semi")
        ins_ = chg_ins.join(chg_dels.select(*keys).distinct(), keys, "left_anti")
        return (
            pre.withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                post.withColumn("_change_type", F.lit("update_postimage")),
                allowMissingColumns=True,
            )
            .unionByName(
                del_.withColumn("_change_type", F.lit("delete")),
                allowMissingColumns=True,
            )
            .unionByName(
                ins_.withColumn("_change_type", F.lit("insert")),
                allowMissingColumns=True,
            )
        )
    if ins is not None:
        ins = ins.withColumn("_change_type", F.lit("insert"))
    if dels is not None:
        dels = dels.withColumn("_change_type", F.lit("delete"))
    if ins is not None and dels is not None:
        return ins.unionByName(dels, allowMissingColumns=True)
    if ins is not None:
        return ins
    if dels is not None:
        return dels
    # no change between the snapshots: empty frame, schema-true
    schema = _pin_read_schema(new["metas"] or old["metas"])
    from pyspark.sql.types import StringType, StructField

    return local_relation_df(
        spark, [], schema.add(StructField("_change_type", StringType()))
    )


def describe_manifest_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL for the manifest log (Delta's one-row table
    summary, rounding out the maintenance console next to DESCRIBE
    HISTORY): resolve the CURRENT snapshot and report — version,
    format, file count, total rows (summed from per-file stats row
    counts; NULL when any live file predates row counts — honest,
    never a partial sum), total size in bytes (os.stat over the live
    files — metadata-class, no file opened), the logical column list,
    which columns carry min/max stats / blooms / exact partition
    values, the newest surviving checkpoint version (NULL if none), the
    column-mapping state (renamed/dropped counts), and the count of
    surviving commits. One driver pass over the resolved state plus one
    stat() per live file; nothing is scanned."""
    state = _resolve_state(path)
    if state["kind"] is None:
        raise ValueError(f"no manifest log under {path}")
    mapping = state.get("mapping")
    lschema = _snapshot_logical_schema(state["metas"], mapping)
    cols_csv = ",".join(lschema.fieldNames())
    fstats = state.get("file_stats", {})
    # physical->logical for reporting which LOGICAL columns are covered
    inv = {}
    if mapping:
        inv = {p: l for l, p in _mapping_parts(mapping)[0].items()}
    stats_cols: set[str] = set()
    bloom_cols: set[str] = set()
    pv_cols: set[str] = set()
    n_rows_total: int | None = 0
    for f in state["files"]:
        st = fstats.get(f) or {}
        rows_here = None
        for c, entry in st.items():
            logical = inv.get(c, c)
            if isinstance(entry, dict):
                if "pv" in entry:
                    pv_cols.add(logical)
                if "min" in entry or "max" in entry:
                    stats_cols.add(logical)
                if "bloom" in entry:
                    bloom_cols.add(logical)
                if entry.get("rows") is not None:
                    rows_here = entry["rows"]
            elif isinstance(entry, list):
                stats_cols.add(logical)
        if n_rows_total is not None:
            n_rows_total = (
                n_rows_total + rows_here if rows_here is not None else None
            )
    size = 0
    for f in state["files"]:
        try:
            size += os.stat(os.path.join(path, f)).st_size
        except FileNotFoundError:
            pass  # a reclaimed shallow-clone ref: size is best-effort
    _kind, commits, ckpts = _scan_names(path)
    renamed = len(_mapping_parts(mapping)[0]) if mapping else 0
    dropped = len(_mapping_parts(mapping)[1]) if mapping else 0
    row = (
        os.path.abspath(path),
        int(state["version"]),
        "parquet",
        len(state["files"]),
        n_rows_total,
        int(size),
        cols_csv,
        ",".join(sorted(stats_cols)) or None,
        ",".join(sorted(bloom_cols)) or None,
        ",".join(sorted(pv_cols)) or None,
        (max(v for v, _n in ckpts) if ckpts else None),
        renamed,
        dropped,
        len(commits),
    )
    return local_relation_df(
        spark,
        [row],
        (
            "location string, version long, format string, n_files int, "
            "n_rows long, size_bytes long, columns_csv string, "
            "stats_columns_csv string, bloom_columns_csv string, "
            "partition_columns_csv string, checkpoint_version long, "
            "n_renamed_columns int, n_dropped_columns int, n_commits int"
        ),
    )


def manifest_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY for the manifest log (Delta's operation-audit
    idea): one row per surviving commit — version, writer family, mode
    (append delta / overwrite base), rows and files it published, its
    recorded field list, and whether it is a stream compaction. Driver
    reads only the small manifest JSONs (metadata-class, same bound as
    the catalog ops) and hands Spark the rows, so the report is
    queryable like any DataFrame. Expired versions don't appear — the
    history is exactly what time travel can still reach. ``commit_ts``
    is the commit's recorded wall-clock time (unix seconds; NULL for
    pre-r14 commits), ``n_removed`` the file count a replace commit
    swapped out, and ``operation`` names WHAT published the commit
    (Delta's operation column): WRITE / OVERWRITE / REPLACE / RESTORE /
    CLONE / STREAM_COMPACTION."""
    rows = []
    for v, kind, man in _list_commits(path):
        ts = man.get("ts")
        # operation column (Delta's): WHAT published the commit, from
        # the commit's own recorded facts, never inferred from data
        if man.get("mode") == "metadata":
            # RENAME COLUMN x TO y / DROP COLUMN x, as recorded
            op = str(man.get("operation", "METADATA"))
        elif "cloned_from" in man:
            op = "CLONE"
        elif "restored_from" in man:
            op = "RESTORE"
        elif "compacted_through" in man:
            op = "STREAM_COMPACTION"
        elif man.get("mode") == "replace":
            op = "REPLACE"
        elif man.get("mode") == "overwrite":
            op = "OVERWRITE"
        else:
            op = "WRITE"
        rows.append(
            (
                v,
                kind,
                man.get("mode", "append"),
                op,
                man.get("n_rows"),
                len(man.get("files", [])),
                len(man.get("removed_files", [])),
                ",".join(man.get("fields") or []),
                man.get("format"),
                "compacted_through" in man,
                float(ts) if ts is not None else None,
            )
        )
    return local_relation_df(
        spark,
        rows,
        (
            "version long, kind string, mode string, operation string, "
            "n_rows long, n_files int, n_removed int, fields_csv string, "
            "format string, is_compaction boolean, commit_ts double"
        ),
    )


def compact_stream_manifests(path: str, upto_batch: int) -> str:
    """Rewrite a STREAM directory's per-batch manifests for batches
    ``<= upto_batch`` into ONE BASE manifest at ``_MANIFEST-<upto_batch>``
    — metadata only, no data file is read or moved; the surviving files
    keep their skipping stats, so pruning is unchanged. A raw stream log is
    all deltas, so it can never be expired (there is no base to floor
    on); after compaction the log's head is a base, making
    :func:`expire_manifest_versions` + :func:`vacuum_manifest_sink`
    legal on streamed history too — the missing half of stream
    retention.

    Refuses to compact the NEWEST batch: after a restart Spark may
    replay the last committed micro-batch, and that replay republishes
    ``_MANIFEST-<batchId>`` last-wins — landing on a delta it owns is
    idempotent, landing on a compacted base would clobber every older
    batch. Compacting strictly below the newest batch is safe because
    the engine never replays batches before the last committed one.

    Crash-safe and idempotent: the base is published FIRST (resolution
    is already correct with the covered deltas still present — the base
    resets them), then the covered deltas are unlinked; a re-run folds
    the existing base into an identical one. Returns the published
    manifest name."""
    kind, commits, _ck = _scan_names(path)
    if kind != "stream":
        raise ValueError(
            f"compact_stream_manifests expects a stream-written directory; "
            f"{path} holds {'a batch commit log' if kind == 'batch' else 'no log'}"
        )
    newest = commits[-1][0]
    if upto_batch >= newest:
        raise ValueError(
            f"can only compact strictly below the newest batch ({newest}): "
            "Spark may replay the last committed batch after a restart, and "
            "the replay's last-wins republish would clobber a base there"
        )
    covered = [(v, name) for v, name in commits if v <= upto_batch]
    if not covered:
        raise ValueError(f"no stream manifests at or below batch {upto_batch}")
    files, metas, fstats, n_rows = [], [], {}, 0
    for _v, name in covered:
        man = _load(path, name)
        # an earlier compaction's base resets the count with the files
        n_rows = man["n_rows"] + (0 if man.get("mode") == "overwrite" else n_rows)
        files, metas, fstats, _m = _apply_commit(man, files, metas, fstats, None)
    # the compacted base must present ONE coherent schema — reuse the
    # reader's drift rules so compaction can't paper over a drifted log
    schema = _pin_read_schema(metas)
    manifest = {
        "files": files,
        "n_rows": n_rows,
        "fields": schema.fieldNames(),
        "schema_json": schema.json(),
        "format": "parquet",
        "mode": "overwrite",
        "batch_id": upto_batch,
        "compacted_through": upto_batch,
        "ts": time.time(),
    }
    if fstats:  # the covered files keep their skipping stats
        manifest["file_stats"] = fstats
    published = f"{_B_PREFIX}{upto_batch}"
    _publish_last_wins(path, published, manifest)
    for _v, name in covered:
        if name != published:
            os.remove(os.path.join(path, name))
    return published


def expire_manifest_versions(path: str, min_version: int) -> list[str]:
    """Retention boundary for time travel: drop commit manifests with
    version < ``min_version`` from the log (their data files become
    unreferenced unless a surviving manifest also lists them — run
    :func:`vacuum_manifest_sink` afterwards to reclaim). Refuses to
    expire past the newest BASE commit at or below ``min_version``'s
    snapshot — expiring a base a surviving delta still builds on would
    corrupt every later snapshot, so the floor is validated, not
    trusted. Consequence, stated plainly: a RAW stream directory
    (per-batch delta manifests, no base commits ever) can never be
    expired — there retention would DELETE rows from the current
    snapshot, not clean up superseded history, which is a different,
    deliberately-destructive operation (a TTL sweep) this function
    refuses to impersonate. Run :func:`compact_stream_manifests` first
    to give streamed history a base. Checkpoints summarizing only
    expired prefixes are dropped alongside their commits. Returns the
    removed manifest/checkpoint names."""
    kind, commits, ckpts = _scan_names(path)
    keep = [c for c in commits if c[0] >= min_version]
    if not keep:
        raise ValueError(
            f"expiring everything below {min_version} would leave an empty "
            f"log under {path}"
        )
    # every surviving delta must resolve from a surviving base (or be
    # base-less deltas from version 1 — only valid if NOTHING is dropped
    # before them)
    dropped = [c for c in commits if c[0] < min_version]
    first_keep_man = _load(path, keep[0][1])
    if dropped and first_keep_man.get("mode", "append") != "overwrite":
        raise ValueError(
            f"cannot expire below version {min_version}: commit "
            f"{keep[0][0]} is a delta that builds on expired history — "
            "choose a BASE (overwrite) commit as the retention floor"
        )
    removed = []
    for _v, name in dropped:
        os.remove(os.path.join(path, name))
        removed.append(name)
    surviving_ckpts = []
    for v, name in ckpts:
        if v < min_version:
            os.remove(os.path.join(path, name))
            removed.append(name)
        else:
            surviving_ckpts.append(v)
    # repair the hint if its checkpoint was just expired (stale hints are
    # only a perf matter — the resolve fallback is correct — but cheap to fix)
    hint = _read_hint(path)
    if hint and hint.get("checkpoint") is not None and int(hint["checkpoint"]) < min_version:
        _write_hint(
            path,
            hint.get("kind", "batch"),
            int(hint.get("version", keep[-1][0])),
            surviving_ckpts[-1] if surviving_ckpts else None,
        )
    return removed


def vacuum_manifest_sink(
    path: str,
    grace_seconds: float = VACUUM_GRACE_SECONDS,
    dry_run: bool = False,
) -> list[str]:
    """Sweep data files no SURVIVING manifest references — the residue of
    aborted jobs, failed speculative attempts, batch retries that staged
    under a fresh uuid before republishing, and generations dropped by
    :func:`expire_manifest_versions`. A file becomes visible only by
    appearing in a manifest, and manifests are only ever published after
    their files are fully staged — but a CONCURRENT job's
    staged-not-yet-committed files are indistinguishable from orphans,
    so only files older than ``grace_seconds`` (default 10 minutes) are
    reclaimed: any in-flight job's staging is younger than that, exactly
    the retention gate real table formats put in front of VACUUM. Pass
    ``grace_seconds=0`` only when no writer is in flight. Time-traveled
    snapshots remain intact until their manifests are expired — vacuum
    consults EVERY manifest still in the log (and every checkpoint,
    defensively), not just the latest snapshot. Returns the removed file
    names; driver-side listing only — the directory's file count is the
    same metadata-class bound as the catalog ops. ``dry_run=True``
    (Delta's ``VACUUM ... DRY RUN``) returns the same list without
    deleting anything — the operator's preview before an irreversible
    sweep."""
    kind, commits, ckpts = _scan_names(path)
    referenced: set[str] = set()
    for _v, name in commits:
        referenced.update(_load(path, name)["files"])
    for _v, name in ckpts:
        referenced.update(_load_checkpoint(path, name)["files"])
    cutoff = time.time() - grace_seconds
    removed = []
    for name in sorted(os.listdir(path)):
        # log files all start with "_" (manifests, checkpoints — including
        # the r14 parquet checkpoints, which a bare *.parquet sweep would
        # otherwise eat — and the hint); only staged DATA files are swept,
        # ``.jsonl`` ones too: a JSONL-generation table leaves them behind
        # once it is rewritten through the sink and its old versions expire
        if name.startswith(("_", ".")):
            continue
        if not name.endswith((".jsonl", ".parquet")) or name in referenced:
            continue
        full = os.path.join(path, name)
        if os.path.getmtime(full) > cutoff:
            continue  # could be a concurrent job's staging — too young
        if not dry_run:
            os.remove(full)
        removed.append(name)
    return removed
