"""LakeTable — snapshot-versioned parquet table with bucket-pruned
copy-on-write MERGE, time travel, additive schema evolution, and
exactly-once batch bookkeeping.

This is the engine's sink, replacing the reference pipeline's
drop-and-rebuild ``neo4j-admin import`` (workflow/Snakefile:156-163,
workflow/scripts/graph_build/create_master_import.py:69-88) with
incremental MERGE commits. The design mirrors Iceberg's public layout
(metadata pointer + manifests referencing immutable data files); the
iceberg-spark-runtime jar is not available in this sandbox, so the same
semantics are implemented directly over parquet. The public API is kept
Iceberg-shaped (merge / snapshot / time travel / evolve) so a real Iceberg
catalog can be bound later without changing callers.

Layout::

    <root>/
      _meta/VERSION          # text: current version int (atomic rename commit)
      _meta/v{N:08d}.json    # manifest: schema, per-bucket file lists,
                             # applied batch ids, watermark, commit metrics
      data/snap-{N:08d}-{uuid8}/_bucket=K/part-*.parquet
                             # (uuid8 keeps concurrent writers' attempt
                             # dirs disjoint; manifests reference files
                             # by explicit path, never by dir pattern)

Scale design (what holds at 100 TB / 1000 executors):

- **Hash-on-key bucketing**: every data file holds rows of exactly one
  bucket ``pmod(hash(url), n_buckets)`` (Spark's murmur3, so bucket b is
  partition b of ``repartition(n_buckets, url)``). A MERGE batch touches only
  the buckets its keys hash into; untouched buckets' files are *referenced*
  from the parent snapshot (zero copy). The rewrite cost per commit is
  O(touched data), not O(table).
- **LWW dedup via partial aggregation** (``max_by`` over a (warc_ts,
  event_seq) struct): map-side combine collapses hot keys before the
  shuffle, so Zipf-skewed domains don't create straggler reducers
  (see operators/lww.py; window variant kept for parity).
- **Exactly-once**: a batch id recorded in the manifest makes re-applied
  micro-batches no-ops, and per-row ``(_ts, _seq)`` guards make replayed
  *events* no-ops — both levels are idempotent (north_rule).
- **Delete tombstones are retained** (``_deleted`` flag, filtered from
  reads): a late stale update arriving after a delete must stay dead, and
  a genuinely newer insert must revive the key. ``compact(drop_tombstones=
  True)`` drops only tombstones older than the lateness horizon (event-time
  watermark minus ``lateness_horizon_s``): a late event inside the horizon
  still meets its tombstone and stays dead.

Reference parity notes: the unique-key constraint the reference enforces at
QC time (utils/qc.py:74-84) is structural here (MERGE key); the reference's
first-load fast path (``neo4j-admin import`` vs ``LOAD CSV``, README.md:10)
maps to ``overwrite()`` vs ``merge()``.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import merge_schemas

SYS_COLS = ["_seq", "_ts", "_deleted"]
_META = "_meta"
_DATA = "data"

#: optimistic-concurrency bounds: rebasing writers (MOR appends,
#: incremental compaction) rebase-and-retry this many times on a lost
#: commit race before surfacing ConcurrentWriteError
_COMMIT_RETRIES = 4
#: a manifest file for version v with the table pointer still at v's
#: parent and older than this is an ABANDONED half-commit (writer
#: stalled or died between manifest create and pointer swap). Sized WELL
#: above plausible driver pauses (GC, slow NFS metadata op) — a healthy
#: writer's create→swap gap is two metadata ops, so 15 minutes of stall
#: means the writer is gone for practical purposes; and even a writer
#: that DOES wake after the grace is safe, because recovery rolls its
#: manifest FORWARD (never replaces it) and the pointer swap is
#: token-verified + monotonic (see _commit / _advance_pointer).
_ABANDONED_COMMIT_GRACE_S = 900.0
#: pointer-swap critical section lock: held for two metadata ops; a lock
#: file older than this is a crashed locker and gets broken
_POINTER_LOCK_STALE_S = 10.0


def _batch_watermark(watermark_seq: int | None, deferred_watermark,
                     batch_max_seq) -> int:
    """A change batch's log position: the caller's ``watermark_seq``, else
    its ``deferred_watermark()``, else ``batch_max_seq()``, the max
    event_seq in the (deduped) batch — LWW by (warc_ts, seq) may have
    dropped the max-seq event, so the explicit forms are the accurate ones
    (replay.py passes them)."""
    if watermark_seq is None and deferred_watermark is not None:
        watermark_seq = deferred_watermark()
    if watermark_seq is None:
        watermark_seq = batch_max_seq()
    return -1 if watermark_seq is None else watermark_seq


def _rebase_backoff(attempt: int) -> None:
    """Jittered exponential backoff before a commit-rebase attempt.

    Without it the loser's manifest() re-read can land inside the
    winner's manifest-create → pointer-swap window: it rebuilds the SAME
    version, hits EEXIST again, and exhausts every retry in microseconds
    — spuriously failing the exact race the retry loop exists to absorb.
    A few-ms randomized wait is invisible at micro-batch cadence and lets
    the winner's pointer swap (two metadata ops) complete."""
    import random
    import time as _time

    _time.sleep(random.uniform(0.001, 0.02 * (2 ** min(attempt, 6))))


def _ord():
    """Packed (_ts, _seq) resolution order: unix_micros(_ts) * 10^18 +
    _seq. Lexicographic (ts, seq) order is preserved for any seq in
    (-10^18, 10^18) (covers 10^10-event logs and the base-load _seq = -1);
    max micros ~1.7e15 keeps the product < 10^34 (decimal cap is 10^38). A
    single packed decimal is the one sort key of the resolution window."""
    return (
        F.unix_micros(F.col("_ts")).cast("decimal(38,0)")
        * F.lit(1_000_000_000_000_000_000)
        + F.col("_seq")
    )


def _conformed_cols(df: DataFrame, schema: T.StructType) -> list:
    """``df``'s columns projected onto ``schema`` (an additive evolution of
    the table schema): columns ``df`` lacks are null-filled, columns of
    another type are cast — e.g. an all-null column arriving as NullType
    from pandas inference or a delete-only batch. Callers select these in
    ONE projection, not a withColumn chain: every stacked withColumn
    re-runs analysis over the growing plan — at micro-batch cadence the
    per-commit Catalyst time is a driver-side serial term that caps
    scaling (it does not shrink with executor count)."""
    src_types = {f.name: f.dataType for f in df.schema.fields}
    out = []
    for f in schema.fields:
        c = f.name
        if c not in src_types:
            out.append(F.lit(None).cast(f.dataType).alias(c))
        elif src_types[c] != f.dataType:
            out.append(F.col(c).cast(f.dataType).alias(c))
        else:
            out.append(F.col(c))
    return out


# Exactly-once ledger: bounded list of recently applied batch ids kept
# verbatim in the manifest (backstop for unstructured ids); structured
# "ns:seq" ids are tracked by a per-namespace high-watermark instead, so
# the manifest stays O(namespaces), not O(batches ever applied).
LEDGER_RECENT_MAX = 64


def _spark_murmur3(data: bytes, seed: int = 42) -> int:
    """Spark-compatible Murmur3 x86_32 over raw bytes (seed 42 = Spark's
    ``F.hash`` default). Bit-identical to Catalyst's Murmur3Hash on a
    string column: 4-byte little-endian words, then remaining bytes mixed
    one SIGNED byte at a time (Spark's hashUnsafeBytes tail — not the
    standard murmur3 tail). Lets the driver compute a key's bucket with
    zero Spark jobs (point lookups, pruned reads)."""
    M = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & M

    def mix_k1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & M
        return (rotl(k1, 15) * 0x1B873593) & M

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        return (rotl(h1, 13) * 5 + 0xE6546B64) & M

    h1 = seed & M
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 = mix_h1(h1, mix_k1(int.from_bytes(data[i:i + 4], "little")))
    for i in range(aligned, n):
        b = data[i]
        if b >= 0x80:
            b -= 0x100  # sign-extended byte, as Java reads it
        h1 = mix_h1(h1, mix_k1(b & M))
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


class ConcurrentWriteError(RuntimeError):
    """A second writer committed between this writer's read and commit.
    Retryable: a rebase (MOR) or re-prepare (COW/spec-change) against the
    fresh snapshot resolves it."""


class CommitInFlightError(ConcurrentWriteError):
    """A half-commit for the target version exists but is within the
    abandoned-commit grace — its writer may still be finishing its pointer
    swap. NOT immediately retryable: either that writer completes (the
    retry then rebases normally) or the grace expires (recovery rolls it
    forward / quarantines it); until then re-preparing just spins."""


@contextmanager
def _scoped_conf(spark, key: str, value: str):
    """Set a session conf for the duration of the block, then restore it."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _static_plan(spark):
    """Scope-disable AQE for an engine write action. The engine's write
    plans are fully determined — explicit bucket repartition counts on
    the table key, one bucket-aligned resolution exchange — so AQE's
    re-planning at every exchange buys nothing and costs a scheduler
    barrier per stage: measured ~20% of an 8-core micro-batch MOR commit.
    User-facing reads keep AQE (skew-join handling, coalescing) — only
    the commit path under the single writer runs with it off."""
    return _scoped_conf(spark, "spark.sql.adaptive.enabled", "false")


# --------------------------------------------------------------------------
# Exactly-once batch ledger (bounded — north_rule resumability at 10^5+
# batches without the manifest growing with replay length).
#
# Structured batch ids follow the convention "{namespace}:{seq}" (seq a
# decimal integer). The engine's own writers apply batches in
# non-decreasing seq order per namespace (replay: ascending event-seq
# ranges; tailer: Spark's monotonically increasing micro-batch ids), so
# "seq <= high-watermark" is exactly "already applied". Unstructured ids
# are tracked verbatim in a bounded recent-set; if one ages out and is
# re-applied, the per-row (_ts,_seq) stale guards and the MOR tie-dedup
# make the re-apply a state-level no-op — the ledger is the fast path and
# the accounting layer, not the only correctness layer.
# --------------------------------------------------------------------------

#: lateness horizon (seconds) for late-event accounting; override per
#: table via properties={"lateness_horizon_s": ...} at create()
DEFAULT_LATENESS_HORIZON_S = 3600


def _late_threshold_micros(m: dict) -> int:
    """Events with warc_ts below this are 'late' relative to the table's
    event-time watermark. MERGE semantics make lateness harmless for
    correctness (LWW decides per row — SURVEY §2.11 St3); this powers the
    *accounting* a production tailer alarms on, and bounds when
    compact(drop_tombstones=True) is safe."""
    wm = m.get("watermark_ts")
    if wm is None:
        return -(1 << 62)  # no watermark yet: nothing is late
    horizon_s = m.get("properties", {}).get(
        "lateness_horizon_s", DEFAULT_LATENESS_HORIZON_S)
    return wm - int(horizon_s) * 1_000_000


#: namespaces whose "{ns}:{seq}" batch ids carry high-watermark semantics
#: ("seq <= hwm" == "every event at log position <= seq is applied"). Only
#: the engine's own writers are listed — each guarantees per-namespace
#: monotone, gap-free seq coverage (replay: contiguous ascending event-seq
#: ranges keyed by range END; tailer: Spark's monotonically increasing
#: micro-batch ids; feed: ascending replica source versions). A
#: caller-supplied id like "backfill:20240817" must NOT be hwm-matched —
#: date-stamped or out-of-order numeric suffixes would silently no-op later
#: batches — so unreserved ids are tracked verbatim in the bounded recent
#: set only (aging out is safe: a re-applied batch is a per-row stale
#: no-op, never a skip).
_HWM_NAMESPACES = frozenset({"replay", "feed"})
_HWM_NS_PREFIXES = ("stream-",)


def _parse_batch_id(batch_id: str) -> tuple[str, int] | None:
    ns, sep, tail = batch_id.rpartition(":")
    if sep and tail.isdigit() and (
        ns in _HWM_NAMESPACES or ns.startswith(_HWM_NS_PREFIXES)
    ):
        return ns, int(tail)
    return None


def _batch_seen(m: dict, batch_id: str) -> bool:
    led = m["ledger"]
    parsed = _parse_batch_id(batch_id)
    if parsed is not None:
        ns, seq = parsed
        if seq <= led["hwm"].get(ns, -1):
            return True
    return batch_id in led["recent"]


def _ledger_add(m: dict, batch_id: str | None) -> dict:
    """New ledger dict with ``batch_id`` recorded (manifest stays bounded:
    O(namespaces) + O(LEDGER_RECENT_MAX))."""
    led = m["ledger"]
    if batch_id is None:
        return led
    hwm = dict(led["hwm"])
    parsed = _parse_batch_id(batch_id)
    if parsed is not None:
        ns, seq = parsed
        hwm[ns] = max(hwm.get(ns, -1), seq)
    recent = (list(led["recent"]) + [batch_id])[-LEDGER_RECENT_MAX:]
    return {"hwm": hwm, "recent": recent,
            "applied_count": led["applied_count"] + 1}


@dataclass
class MergeResult:
    version: int
    inserted: int
    updated: int
    deleted: int
    stale_skipped: int
    touched_buckets: int
    noop: bool = False

    def as_dict(self) -> dict:
        return dict(self.__dict__)


class LakeTable:
    """Single-writer snapshot table. Not thread-safe across writers (the
    streaming tailer is the single writer, like a binlog applier)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ------------------------------------------------------------------ meta
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.path, _META)

    def current_version(self) -> int:
        with open(os.path.join(self._meta_dir, "VERSION")) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._meta_dir, f"v{v:08d}.json")) as f:
            m = json.load(f)
        layout = m.get("bucket_hash")
        if layout != "murmur3":
            # writing murmur3 placement into another layout would split
            # keys across buckets — refuse to read or write the table
            raise ValueError(
                f"table {self.path} v{v} uses bucket layout {layout!r}; only "
                f"'murmur3' (pmod(hash(key), n)) is supported — legacy "
                f"xxhash64 tables must be re-created")
        return m

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.manifest(version)["schema"])

    def _commit(self, manifest: dict) -> None:
        """Two-phase commit: exclusive-create of the version manifest, then
        a token-verified, monotonic pointer swap (Iceberg-style CAS on the
        metadata pointer). Exactly one writer can create v{N}.json (POSIX
        O_EXCL here; the object-store deployment swaps in a conditional
        put — same protocol); the loser rebases to a new version.

        Half-commit recovery never loses a commit: a writer stalled
        between manifest create and pointer swap past the grace period
        gets its manifest ROLLED FORWARD (the recoverer advances the
        pointer to it and rebases its own commit on top) — the stalled
        writer's data files stay referenced and its success report stays
        true. The stalled writer's own late pointer swap is then an
        idempotent no-op, verified by a per-commit writer token; the
        pointer itself only ever moves forward (two recoverers can both
        attempt the roll-forward — the pointer lock serializes them and
        the second sees it already done). Only a manifest that is stale
        AND unparseable (writer died mid-write — it can never finish) is
        quarantined aside so the version number can be reused."""
        v = manifest["version"]
        parent = manifest.get("parent")
        token = uuid.uuid4().hex
        # token FIRST so ownership checks are a tiny head read, not a full
        # manifest parse (manifests carry O(files) state)
        manifest = {"writer": token, **{k: w for k, w in manifest.items()
                                        if k != "writer"}}
        if parent is not None:
            current = self.current_version()
            if current != parent:
                raise ConcurrentWriteError(
                    f"commit of v{v} derived from v{parent}, but table is at "
                    f"v{current} — concurrent writer detected"
                )
        mpath = os.path.join(self._meta_dir, f"v{v:08d}.json")
        for _ in range(2):  # second pass only after quarantining a corrupt
            try:           # half-commit (frees the version for reuse)
                fd = os.open(mpath, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
                break
            except FileExistsError:
                self._recover_half_commit(v, parent, mpath)
        else:
            raise ConcurrentWriteError(
                f"manifest v{v} re-appeared after quarantine — racing "
                f"recoverers; rebase")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        self._advance_pointer(v, parent, token)

    def _manifest_token(self, mpath: str) -> str | None:
        """Writer token from a manifest's head bytes (token is the first
        key — no full parse). None = missing or corrupt/mid-write head."""
        try:
            with open(mpath, "rb") as f:
                head = f.read(256).decode("utf-8", errors="replace")
        except FileNotFoundError:
            return None
        m2 = re.match(r'\s*\{\s*"writer"\s*:\s*"([0-9a-f]{32})"', head)
        return m2.group(1) if m2 else None

    @contextmanager
    def _pointer_lock(self):
        """Serializes pointer reads-then-swaps (the only mutable metadata).
        Held for two metadata ops; a lock older than _POINTER_LOCK_STALE_S
        is a crashed locker and is broken by atomic rename (only one
        breaker wins the rename; everyone still acquires via O_EXCL, so
        there is exactly one holder). Local-FS stand-in for the
        conditional-update pointer a real deployment uses (Iceberg's
        catalog CAS / Delta's LogStore put-if-absent)."""
        import random
        import time as _time

        lock = os.path.join(self._meta_dir, "POINTER.lock")
        deadline = _time.monotonic() + 30.0
        while True:
            try:
                lfd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
                os.close(lfd)
                break
            except FileExistsError:
                try:
                    stale = (_time.time() - os.path.getmtime(lock)
                             > _POINTER_LOCK_STALE_S)
                except FileNotFoundError:
                    continue  # released between EEXIST and stat — retry
                if stale:
                    try:  # rename, not unlink: only ONE breaker can win
                        os.rename(lock, lock + ".broken." + uuid.uuid4().hex)
                    except FileNotFoundError:
                        pass
                    continue
                if _time.monotonic() > deadline:
                    raise ConcurrentWriteError(
                        "pointer lock held beyond deadline — metadata store "
                        "unhealthy")
                _time.sleep(random.uniform(0.001, 0.01))
        try:
            yield
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def _advance_pointer(self, v: int, parent: int | None,
                         token: str) -> None:
        """Move the table pointer to ``v`` — forward-only, ownership-
        verified. Returns normally iff commit ``v`` (ours, by token) is
        visible at or below the current pointer when we're done."""
        mpath = os.path.join(self._meta_dir, f"v{v:08d}.json")
        with self._pointer_lock():
            try:
                cur = self.current_version()
            except FileNotFoundError:
                cur = None  # table creation: no pointer yet
            if cur is None or cur == parent:
                if self._manifest_token(mpath) != token:
                    # we stalled past the grace and a recoverer quarantined
                    # our (then-unreadable) manifest; v may now belong to
                    # someone else — our commit did NOT land
                    raise ConcurrentWriteError(
                        f"commit v{v} was quarantined while this writer "
                        f"was stalled — rebase and retry")
                tmp = os.path.join(self._meta_dir,
                                   f".VERSION.{uuid.uuid4().hex}")
                with open(tmp, "w") as f:
                    f.write(str(v))
                os.replace(tmp, os.path.join(self._meta_dir, "VERSION"))
                return
            # pointer moved while we were stalled: either a recoverer
            # rolled OUR commit forward (idempotent success) or replaced
            # the version (loud failure — caller rebases; data files
            # become orphans for expire_snapshots)
            if cur >= v and self._manifest_token(mpath) == token:
                return
            raise ConcurrentWriteError(
                f"commit v{v} was superseded while this writer was "
                f"stalled (pointer at v{cur}) — rebase and retry")

    def _recover_half_commit(self, v: int, parent: int | None,
                             mpath: str) -> None:
        """Called by the EEXIST loser. Raises ConcurrentWriteError for a
        normal lost race, an in-flight (within-grace) writer, or after
        rolling a stale-but-valid half-commit forward; RETURNS (only) after
        quarantining a stale corrupt manifest so the caller can retry the
        exclusive create of the same version."""
        import time as _time

        if parent is None or self.current_version() != parent:
            raise ConcurrentWriteError(
                f"manifest v{v} already exists — a concurrent writer won "
                f"this version; re-read the manifest and rebase") from None
        try:
            age = _time.time() - os.path.getmtime(mpath)
        except FileNotFoundError:
            # quarantined/vanished between EEXIST and here
            raise ConcurrentWriteError(
                f"manifest v{v} vanished mid-recovery — rebase") from None
        if age <= _ABANDONED_COMMIT_GRACE_S:
            raise CommitInFlightError(
                f"manifest v{v} already exists (written {age:.0f}s ago, "
                f"within the {_ABANDONED_COMMIT_GRACE_S:.0f}s grace) — its "
                f"writer may still be finishing; rebase") from None
        # stale half-commit. Valid manifest -> roll it forward (advance the
        # pointer on the dead writer's behalf; never lose its commit).
        # Unparseable (died mid-write) -> quarantine aside, version reusable.
        with self._pointer_lock():
            if self.current_version() != parent:
                raise ConcurrentWriteError(
                    f"lost the recovery race for v{v} — rebase") from None
            try:
                with open(mpath) as f:
                    dead = json.load(f)
                valid = (dead.get("version") == v
                         and dead.get("parent") == parent)
            except (ValueError, FileNotFoundError):
                valid = False
            if valid:
                tmp = os.path.join(self._meta_dir,
                                   f".VERSION.{uuid.uuid4().hex}")
                with open(tmp, "w") as f:
                    f.write(str(v))
                os.replace(tmp, os.path.join(self._meta_dir, "VERSION"))
            else:
                os.rename(mpath, mpath + ".abandoned." + uuid.uuid4().hex)
                return  # caller may retry the exclusive create of v
        raise ConcurrentWriteError(
            f"rolled forward abandoned commit v{v} (its writer stalled "
            f"after writing the manifest) — rebase onto it") from None

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        *,
        key: str = "url",
        n_buckets: int = 32,
        properties: dict | None = None,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(os.path.join(t.path, _DATA), exist_ok=True)
        if os.path.exists(os.path.join(t._meta_dir, "VERSION")):
            raise FileExistsError(f"table already exists at {path}")
        manifest = {
            "version": 0,
            "parent": None,
            "key": key,
            "n_buckets": n_buckets,
            # bucket function. "murmur3" = pmod(hash(key), n) — chosen to be
            # IDENTICAL to Spark's HashPartitioning placement so that
            # repartition(n_buckets, key) puts bucket b's rows in partition
            # b exactly: one exchange both bucket-aligns a batch AND
            # satisfies groupBy(key)/join(key) clustering, so LWW dedup and
            # the MERGE join run in the same stage with no further shuffle
            # (Iceberg bucket-transform storage-partitioned-join analog).
            # The only layout: manifest() rejects any other value.
            "bucket_hash": "murmur3",
            "schema": schema.jsonValue(),
            "files": {},   # bucket(str) -> [relative paths] (base files)
            "deltas": {},  # bucket(str) -> [relative paths] (MOR deltas)
            "file_rows": {},  # relative path -> row count (commit-time stats)
            # relative path -> [key_min, key_max] (commit-time footer
            # stats; drives read_keys file skipping)
            "file_key_bounds": {},
            "ledger": {"hwm": {}, "recent": [], "applied_count": 0},
            "watermark_seq": -1,
            # event-time watermark (max warc_ts applied, unix micros):
            # drives late-event accounting and the tombstone-expiry bound
            "watermark_ts": None,
            "properties": properties or {},
            "metrics": {},
        }
        t._commit(manifest)
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, _META, "VERSION"))

    # ------------------------------------------------------------------ read
    def _file_schema(self, manifest: dict) -> T.StructType:
        s = T.StructType.fromJson(manifest["schema"])
        fields = list(s.fields)
        fields += [
            T.StructField("_seq", T.LongType(), True),
            T.StructField("_ts", T.TimestampType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
        return T.StructType(fields)

    def _read_files(
        self,
        manifest: dict,
        buckets: list[int] | None = None,
        file_schema: T.StructType | None = None,
        *,
        which: tuple[str, ...] = ("files",),
    ) -> DataFrame:
        """Plain scan of the files that the manifest sections ``which``
        (``"files"`` = base, ``"deltas"`` = MOR deltas) list for
        ``buckets`` (None = every bucket): ONE ``parquet()`` call, so base
        and delta files of the same buckets share one ``FileScan``.

        The paths come from the manifest, so the scan runs no listing job:
        Spark's parallel file listing (more paths than
        ``parallelPartitionDiscovery.threshold``) is scoped off for the
        call. With no path at all the frame is an empty JVM relation
        (``range(0)`` projected onto the file schema) — no Python task,
        unlike ``createDataFrame([])``'s ``defaultParallelism`` empty
        Python partitions."""
        wanted = None if buckets is None else [str(b) for b in buckets]
        paths = [
            os.path.join(self.path, p)
            for sec in which
            for b in (manifest[sec] if wanted is None else wanted)
            for p in manifest[sec].get(b, [])
        ]
        fschema = file_schema or self._file_schema(manifest)
        if not paths:
            return self.spark.range(0).select(*(
                F.lit(None).cast(f.dataType).alias(f.name) for f in fschema))
        # explicit schema: files from pre-evolution snapshots lack new
        # columns; Spark null-fills them (additive evolution read path)
        with _scoped_conf(
                self.spark,
                "spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(len(paths))):
            return self.spark.read.schema(fschema).parquet(*paths)

    def _read_resolved(
        self,
        manifest: dict,
        buckets: list[int] | None = None,
        file_schema: T.StructType | None = None,
    ) -> DataFrame:
        """Base ∪ delta files with per-key LWW resolution (merge-on-read).

        When no deltas are pending (pure COW history) this is a plain scan —
        no resolution shuffle is paid. With deltas, the winner per key is
        max (_ts, _seq) across base+delta rows, exactly the same total order
        MERGE uses, so COW and MOR histories converge to identical states.

        One lazy plan, no Spark action while it is built:

        - **Delta-bucket locality**: only buckets that actually carry
          pending deltas enter resolution; cold buckets' base files stream
          through scan-only. This is Hudi/Iceberg-v2 file-group merging —
          merge cost follows *pending deltas*, never table size.
        - **One scan of the hot buckets**: their base and delta files share
          the file schema, so ``_read_files(which=("files", "deltas"))``
          reads them in one ``FileScan``. A hot bucket always has a delta
          path, so resolution never unions an empty frame; a read with no
          file at all is an empty JVM relation that starts no task.
        - **Bucket-aligned exchange**: the hot buckets' base ∪ delta rows
          are repartitioned at ``n_buckets`` on the key — the table's own
          file layout — and ``row_number`` over ``(_ts, _seq)`` descending
          keeps one row per key. Re-delivered events (equal
          ``(_ts, _seq)``, byte-identical rows) collapse to one, so MOR
          reads stay idempotent under re-delivery. Because the exchange
          equals bucket placement, compaction's and COW targets'
          ``repartition(n_buckets, key)`` reuse it instead of adding one.
        - **Only key predicates pass the Window**: a filter on the key
          (``read_keys``' ``isin``) is pushed below it into the hot scan —
          a key's rows all survive it, so resolution per key is unchanged.
          Any other predicate, ``~_deleted`` included, must stay above: a
          newer tombstone filtered out first would let an older live row
          win.

        Every reader and rewriter resolves through here: ``read``,
        ``read_keys``, ``changes``, COW merge targets, ``merge_into`` and
        ``compact`` — so compaction writes exactly what reads return.
        """
        deltas = manifest["deltas"]
        files = manifest["files"]
        if buckets is None:
            wanted = sorted(set(files) | set(deltas), key=int)
        else:
            wanted = [str(b) for b in buckets]
        hot = [b for b in wanted if deltas.get(b)]
        if not hot:
            return self._read_files(manifest, buckets, file_schema)
        key = manifest["key"]
        w = Window.partitionBy(key).orderBy(F.desc("_ord"))
        resolved = (
            self._read_files(manifest, hot, file_schema,
                             which=("files", "deltas"))
            .repartition(manifest["n_buckets"], F.col(key))
            .withColumn("_ord", _ord())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_ord"))
        cold = [b for b in wanted if not deltas.get(b) and files.get(b)]
        if not cold:
            return resolved
        return self._read_files(manifest, cold, file_schema).unionByName(
            resolved)

    def read(self, version: int | None = None, *, with_system_cols: bool = False) -> DataFrame:
        """Current (or time-travel) state. Tombstones filtered out; pending
        merge-on-read deltas resolved."""
        m = self.manifest(version)
        df = self._read_resolved(m).filter(~F.col("_deleted"))
        if not with_system_cols:
            df = df.drop(*SYS_COLS)
        return df

    def _prune_manifest_for_keys(self, m: dict, keys: list[str]) -> dict:
        """Manifest view restricted to the files that can contain ``keys``:
        bucket pruning (driver-side Spark-identical murmur3 — no job), then
        file skipping on the manifest-resident ``file_key_bounds`` (the
        Iceberg manifest-stats pruning analog). Conservative: a file with
        no recorded bounds is kept. Safe for LWW resolution because
        pruning only drops files that cannot hold a requested key — every
        row of a requested key survives, and resolution is per-key."""
        n = m["n_buckets"]
        by_bucket: dict[str, list[str]] = {}
        for k in keys:
            b = str(_spark_murmur3(k.encode("utf-8")) % n)
            by_bucket.setdefault(b, []).append(k)
        fkb = m["file_key_bounds"]

        def keep(f: str, ks: list[str]) -> bool:
            b = fkb.get(f)
            return b is None or any(b[0] <= k <= b[1] for k in ks)

        def prune(section: dict) -> dict:
            return {
                b: [f for f in section.get(b, []) if keep(f, ks)]
                for b, ks in by_bucket.items()
                if section.get(b)
            }

        return {**m, "files": prune(m["files"]), "deltas": prune(m["deltas"])}

    def read_keys(self, keys, *, version: int | None = None,
                  with_system_cols: bool = False) -> DataFrame:
        """Point lookup: current (or time-travel) rows for the given key
        values, reading only the files that can contain them — O(keys'
        buckets · matching files), never O(table). At 10^9-key scale a
        single-url lookup touches one bucket's few files instead of the
        whole table; pending deltas of those buckets resolve exactly as in
        ``read()``."""
        if isinstance(keys, str):
            keys = [keys]
        keys = list(keys)
        m = self.manifest(version)
        pruned = self._prune_manifest_for_keys(m, keys)
        df = (
            self._read_resolved(pruned)
            .filter(F.col(m["key"]).isin(keys))
            .filter(~F.col("_deleted"))
        )
        if not with_system_cols:
            df = df.drop(*SYS_COLS)
        return df

    def bucket_expr(self, key_col, n_buckets: int | None = None):
        """pmod(murmur3(key), n) — bit-identical to Spark's
        HashPartitioning partition id, so partition b == bucket b after
        repartition(n, key) (see create() note). ``n_buckets`` defaults
        to the current table spec."""
        n = n_buckets or self.manifest()["n_buckets"]
        return F.pmod(F.hash(key_col), F.lit(n)).cast("int")

    # ----------------------------------------------------------------- write
    def _write_snapshot(
        self, df: DataFrame, version: int, key: str, *, kind: str = "snap",
    ) -> tuple[dict[str, list[str]], dict[str, int], dict[str, list]]:
        """Write df (must carry _bucket) hive-partitioned by _bucket; return
        ``(files, file_rows, file_key_bounds)``: per-bucket relative file
        lists and the written files' stats (see _scan_new_file_stats).

        ``kind="delta"`` (MOR delta files) also writes a parquet bloom
        filter on ``key``: delta files are append-ordered, so their key
        min/max bounds span the whole bucket and ``read_keys``'s bounds
        pruning cannot skip them; the bloom lets the scan skip entire row
        groups on pushed key-equality predicates instead of decoding them.
        Base files are key-sorted by compaction, where bounds already
        prune, so they skip the bloom's write+size cost."""
        # unique suffix: two writers deriving from the same parent would
        # otherwise race into the SAME dir (mode=overwrite clobbers the
        # winner's files before the loser's commit is even refused) — with
        # unique dirs the loser's files are simply unreferenced, the
        # manifest CAS (_commit) arbitrates, and a rebase retry can reuse
        # the already-written files because nothing references dir names
        # by version (manifests carry explicit relative paths)
        snap_rel = os.path.join(
            _DATA, f"{kind}-{version:08d}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, snap_rel)
        with _static_plan(self.spark):
            w = df.write.mode("overwrite").partitionBy("_bucket")
            if kind == "delta":
                w = (
                    w.option(f"parquet.bloom.filter.enabled#{key}", "true")
                    # adaptive sizing: parquet keeps candidate filters and
                    # persists the smallest that holds the file's actual
                    # key NDV — measured +3% delta bytes on the 70 B-body
                    # headline batch vs +160% for a static 131k-NDV bloom.
                    # The 64 KB cap bounds cost on huge files (a saturated
                    # bloom degrades to always-maybe: pruning lost, never
                    # wrong). Note: parquet only materializes the bloom
                    # when the column falls back from dictionary encoding
                    # — dictionary pages already give exact row-group
                    # membership, so small/repetitive files pay nothing.
                    .option("parquet.bloom.filter.adaptive.enabled", "true")
                    .option("parquet.bloom.filter.max.bytes", "65536")
                )
            w.parquet(out_dir)
        files: dict[str, list[str]] = {}
        if os.path.exists(out_dir):
            for d in sorted(os.listdir(out_dir)):
                if not d.startswith("_bucket="):
                    continue
                b = d.split("=", 1)[1]
                files[b] = sorted(
                    os.path.join(snap_rel, d, f)
                    for f in os.listdir(os.path.join(out_dir, d))
                    if f.endswith(".parquet")
                )
        return (files, *self._scan_new_file_stats(files, key))

    def _scan_new_file_stats(
        self, files: dict[str, list[str]], key: str
    ) -> tuple[dict[str, int], dict[str, list]]:
        """Per-file stats for files THIS commit wrote, from ONE footer
        read each (metadata only, just-written and page-cache hot):
        row counts (manifest ``file_rows``) and the key column's
        [min, max] bounds (manifest ``file_key_bounds`` — parquet column-
        chunk statistics aggregated over row groups). Recorded at commit
        so no later read, lineage, or point-lookup pass re-touches
        footers; bounds enable file skipping in ``read_keys`` (the
        Iceberg manifest-stats pruning analog). A file whose key chunks
        carry no stats gets no bounds entry (never pruned — safe)."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        rows: dict[str, int] = {}
        bounds: dict[str, list] = {}

        def _md(f):
            return f, pq.ParquetFile(os.path.join(self.path, f)).metadata

        all_files = [f for fl in files.values() for f in fl]
        # footer reads release the GIL on IO; a commit writes one file per
        # touched bucket (32-4096), so this serial-per-commit step is worth
        # overlapping even though each read is page-cache hot
        with ThreadPoolExecutor(max_workers=min(16, max(len(all_files), 1))) as ex:
            metas = list(ex.map(_md, all_files))
        for f, md in metas:
            rows[f] = md.num_rows
            # Locate the key's LEAF column by path_in_schema: the Arrow
            # top-level field index is NOT a parquet leaf index once any
            # multi-leaf column (struct/map) precedes the key, and
            # get_field_index returns -1 (not KeyError) for a missing
            # name. Record no bounds when the key leaf is absent (file
            # is then never pruned — safe).
            idx = None
            if md.num_row_groups > 0:
                rg0 = md.row_group(0)
                for i in range(rg0.num_columns):
                    if rg0.column(i).path_in_schema == key:
                        idx = i
                        break
            if idx is None:
                continue
            lo = hi = None
            ok = md.num_row_groups > 0
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                bounds[f] = [lo, hi]
        return rows, bounds

    @staticmethod
    def _carry_file_stats(
        m: dict,
        files: dict[str, list[str]],
        deltas: dict[str, list[str]],
        new_stats: dict[str, dict],
    ) -> dict[str, dict]:
        """Carry forward per-file stats (``file_rows`` row counts /
        ``file_key_bounds`` key bounds, keyed by manifest field) for files
        still referenced, add this commit's, drop retired ones — the maps
        stay O(live files)."""
        referenced = sorted(
            {f for d in (files, deltas) for fl in d.values() for f in fl})
        out = {}
        for field, new_vals in new_stats.items():
            merged = {**m[field], **new_vals}
            out[field] = {f: merged[f] for f in referenced if f in merged}
        return out

    def _publish_snapshot(
        self,
        m: dict,
        metrics: dict,
        *,
        batch_id: str | None = None,
        new_files: dict[str, list[str]] | None = None,
        rewritten=(),
        appended: dict[str, list[str]] | None = None,
        new_rows: dict | None = None,
        new_bounds: dict | None = None,
        schema: T.StructType | None = None,
        watermark_seq: int | None = None,
        watermark_ts: int | None = None,
        n_buckets: int | None = None,
        rebase=None,
        pre_commit=None,
    ) -> tuple[int, bool]:
        """Build the manifest that follows ``m`` (the snapshot the writer
        read) and commit it — the one commit path of every writer after
        create(). Returns ``(version, noop)``.

        The writer reports what it did: ``rewritten`` buckets (None =
        every bucket: a full rewrite or rebucket) now hold ``new_files``
        as base files, and their deltas as of ``m`` are folded (retired);
        ``appended`` adds delta files; ``new_rows``/``new_bounds`` are the
        new files' stats. ``schema`` merges additively, watermarks take
        the max, ``n_buckets`` (when given) sets the bucket spec, and
        ``batch_id`` enters the ledger. With no files this is the
        ledger-only commit of an empty batch.

        Lost commit race: with ``rebase=None`` the ConcurrentWriteError
        propagates — rewrite writers referenced the superseded base files
        and must re-prepare. Otherwise the same written files are
        re-committed against a re-read manifest, at most _COMMIT_RETRIES
        attempts in all: ``rebase(base)`` raises ConcurrentWriteError when
        that would be unsound, deltas appended after ``m`` stay pending
        (LWW resolution is idempotent, so they resolve identically against
        the new files), and a base whose ledger already holds ``batch_id``
        ends in a committed no-op. ``pre_commit`` (pipelined replay's
        commit-order barrier; requires ``rebase``) runs before the first
        attempt, which then rebases onto the predecessors' snapshot."""
        new_files = new_files or {}
        retired = (m["deltas"] if rewritten is None
                   else {b: m["deltas"].get(b, []) for b in rewritten})
        folded = {f for fl in retired.values() for f in fl}

        def build(base: dict) -> dict:
            if rewritten is None:
                files = dict(new_files)
            else:
                files = dict(base["files"])
                for b in rewritten:
                    # a bucket can legitimately rewrite to zero files (all
                    # rows were tombstones and got dropped)
                    files[b] = new_files.get(b, [])
            deltas = {}
            for b, fl in base["deltas"].items():
                rem = [f for f in fl if f not in folded]
                if rem:
                    deltas[b] = rem
            for b, fl in (appended or {}).items():
                deltas[b] = deltas.get(b, []) + fl
            wm_ts = [t for t in (base["watermark_ts"], watermark_ts)
                     if t is not None]
            return {
                **base,
                "version": base["version"] + 1,
                "parent": base["version"],
                "n_buckets": n_buckets or base["n_buckets"],
                "schema": base["schema"] if schema is None else merge_schemas(
                    T.StructType.fromJson(base["schema"]), schema).jsonValue(),
                "files": files,
                "deltas": deltas,
                **self._carry_file_stats(base, files, deltas, {
                    "file_rows": new_rows or {},
                    "file_key_bounds": new_bounds or {}}),
                "ledger": _ledger_add(base, batch_id),
                "watermark_seq": max(
                    base["watermark_seq"],
                    -1 if watermark_seq is None else watermark_seq),
                "watermark_ts": max(wm_ts, default=None),
                "metrics": metrics,
            }

        base = m
        if pre_commit is not None:
            pre_commit()
            base = self.manifest()
        for attempt in range(_COMMIT_RETRIES):
            if attempt:
                _rebase_backoff(attempt)
                base = self.manifest()  # rebase on the winner's snapshot
            if base is not m:
                if batch_id is not None and _batch_seen(base, batch_id):
                    # a concurrent writer applied THIS batch (shared log,
                    # competing tailers): exactly-once holds — our attempt
                    # dir becomes an orphan (expire_snapshots sweeps it)
                    return base["version"], True
                rebase(base)
            nxt = build(base)
            try:
                self._commit(nxt)
                return nxt["version"], False
            except ConcurrentWriteError:
                if rebase is None or attempt == _COMMIT_RETRIES - 1:
                    raise

    def overwrite(self, df: DataFrame, *, batch_id: str | None = None) -> MergeResult:
        """Bulk first-load fast path (no MERGE join) — analog of the
        reference's neo4j-admin bulk import vs transactional LOAD CSV.
        Replaces the whole table: every base file and every pending delta
        is retired."""
        m = self.manifest()
        key = m["key"]
        new_schema = merge_schemas(T.StructType.fromJson(m["schema"]), df.schema)
        version = m["version"] + 1
        full = df.select(  # one projection (see _conformed_cols)
            *_conformed_cols(df, new_schema),
            F.lit(-1).cast("long").alias("_seq"),
            (F.col("warc_ts") if "warc_ts" in df.columns
             else F.lit(None).cast("timestamp")).alias("_ts"),
            F.lit(False).alias("_deleted"),
            self.bucket_expr(F.col(key), m["n_buckets"]).alias("_bucket"),
        )
        files, new_rows, new_bounds = self._write_snapshot(
            full.repartition(m["n_buckets"], F.col(key)), version, key)
        version, _ = self._publish_snapshot(
            m, {"op": "overwrite"}, batch_id=batch_id, new_files=files,
            rewritten=None, new_rows=new_rows, new_bounds=new_bounds,
            schema=new_schema)
        return MergeResult(version, 0, 0, 0, 0, len(files))

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        updates: DataFrame,
        *,
        batch_id: str | None = None,
        watermark_seq: int | None = None,
        mode: str = "cow",
        extra_metrics: dict | None = None,
        src_aligned: bool = False,
        deferred_watermark=None,
        pre_commit=None,
    ) -> MergeResult:
        """Apply a prepared change batch (replay.prepare_batch output)
        with MERGE semantics.

        ``pre_commit``: zero-arg callable invoked AFTER the batch's data
        files are written but BEFORE its manifest commit (MOR only) —
        the pipelined replay's commit-order barrier. Raising inside it
        aborts the commit (the written files stay unreferenced orphans
        for expire_snapshots).

        ``deferred_watermark``: zero-arg callable consulted AFTER the write
        job when ``watermark_seq`` is None — lets a caller piggyback the
        batch's true log position on the write job itself (an Observation
        over the raw batch) instead of paying a separate stats job; must
        return the max raw event_seq or None.

        ``updates`` contract: one row per key for COW (pre-deduplicated
        via operators.lww; MOR also takes append-all batches), columns =
        [key, event_seq(op ordering long), op(insert|update|delete),
        warc_ts] + payload columns. Payload
        columns not yet in the table trigger additive schema evolution.

        Semantics per key (north_rule):
          - no target row                  -> insert (unless delete: tombstone)
          - target newer ((_ts,_seq) >= (warc_ts,event_seq)) -> stale no-op
          - op in (insert, update)         -> replace row image
          - op == delete                   -> tombstone (read-invisible)

        ``mode``:
          - ``"cow"`` (copy-on-write): full-outer MERGE join against the
            touched buckets, rewrite them. Commit cost O(touched data);
            reads stay plain scans. Right when batches are large relative
            to update locality or reads dominate. A lost commit race
            raises ConcurrentWriteError (the rewrite read superseded base
            files); ``replay.apply_batch`` re-prepares the batch.
          - ``"mor"`` (merge-on-read): append the batch as per-bucket delta
            files — commit cost O(batch), **no join, no target read**; the
            per-key LWW resolution is deferred to read()/compact(), exactly
            like Iceberg v2 / Hudi MOR tables. Right for high-throughput
            CDC tailing; run ``compact()`` on a cadence to re-bound read
            cost. A lost commit race rebases the written delta files onto
            the winner's snapshot. Both modes converge to identical table
            states because resolution uses the same (_ts, _seq) total
            order.

        ``src_aligned``: each bucket of ``updates`` already lies inside one
        partition (prepare_batch's ``repartition(n_buckets, key)``, kept
        at n_buckets partitions by the COW form and coalesced to the core
        count by the MOR form). The COW join then runs at n_buckets, and
        the MOR delta write needs no exchange: each task writes one file
        per bucket it holds. Otherwise merge exchanges the batch into
        bucket layout itself (one delta file per touched bucket).
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        extra = dict(extra_metrics or {})
        m = self.manifest()
        if batch_id is not None and _batch_seen(m, batch_id):
            # exactly-once: replayed micro-batch is a committed no-op
            return MergeResult(m["version"], 0, 0, 0, 0, 0, noop=True)

        key, n_buckets = m["key"], m["n_buckets"]
        payload_cols = [c for c in updates.columns if c not in ("event_seq", "op")]
        payload_schema = T.StructType([updates.schema[c] for c in payload_cols])
        new_schema = merge_schemas(T.StructType.fromJson(m["schema"]), payload_schema)
        all_cols = new_schema.fieldNames()
        src = updates.select(
            *_conformed_cols(updates, new_schema), "event_seq", "op",
            self.bucket_expr(F.col(key), n_buckets).alias("_bucket"),
        )

        if mode == "mor":
            # no persist: the write pass streams source->UDF->parquet once
            # and carries the metrics and watermark (Observation) — there
            # is no second pass for a cache to serve
            return self._merge_mor(
                m, src, all_cols, new_schema,
                batch_id=batch_id, watermark_seq=watermark_seq,
                extra_metrics=extra, src_aligned=src_aligned,
                deferred_watermark=deferred_watermark, pre_commit=pre_commit,
            )

        # persist (COW): the updates lineage (dedup + extraction UDF) is
        # consumed by three actions (touched-buckets, merge write, metrics
        # recompute's source side) — run the expensive upstream exactly once
        src = src.persist()

        # ---- bucket pruning: only read buckets this batch touches.
        # Read with the *evolved* file schema: pre-evolution files null-fill
        # the new columns (additive evolution read path).
        touched = [r[0] for r in src.select("_bucket").distinct().collect()]
        if not touched:
            # empty batch: no snapshot rewrite; still record the batch id so
            # the exactly-once ledger stays accurate
            src.unpersist()
            if batch_id is not None:
                version, _ = self._publish_snapshot(
                    m, {"op": "merge", "batch_id": batch_id, "empty": True,
                        **extra}, batch_id=batch_id)
                return MergeResult(version, 0, 0, 0, 0, 0)
            return MergeResult(m["version"], 0, 0, 0, 0, 0, noop=True)
        evolved_manifest = {**m, "schema": new_schema.jsonValue()}
        # resolved read: if earlier MOR commits left deltas in these buckets,
        # they are folded in here and this COW rewrite retires them
        target = (
            self._read_resolved(m, buckets=touched,
                                file_schema=self._file_schema(evolved_manifest))
            .withColumn("_bucket", self.bucket_expr(F.col(key), n_buckets))
        )
        if src_aligned:
            # explicitly co-partition the target at n_buckets so the MERGE
            # join runs at n_buckets: without this, EnsureRequirements
            # normalizes BOTH sides to spark.sql.shuffle.partitions
            # whenever that differs from n_buckets. With it, the write plan
            # is one exchange per side (src's prepare exchange is hidden
            # from the planner by lww_dedup_agg's struct projection, so src
            # is exchanged once more here) and the join output stays
            # physically bucket-aligned for the exchange-free write below.
            target = target.repartition(n_buckets, F.col(key))

        s_cols = F.struct(
            *[F.col(f"s.{c}").alias(c) for c in all_cols],
            F.col("s.event_seq").alias("_seq"),
            F.col("s.warc_ts").alias("_ts"),
            (F.col("s.op") == "delete").alias("_deleted"),
            F.col("s._bucket").alias("_bucket"),
        )
        t_cols = F.struct(
            *[F.col(f"t.{c}").alias(c) for c in all_cols],
            F.col("t._seq"), F.col("t._ts"), F.col("t._deleted"), F.col("t._bucket"),
        )
        s_key = F.col(f"s.{key}")
        t_key = F.col(f"t.{key}")
        # stale iff (s.warc_ts, s.event_seq) <= (t._ts, t._seq)
        stale = (F.col("s.warc_ts") < F.col("t._ts")) | (
            (F.col("s.warc_ts") == F.col("t._ts"))
            & (F.col("s.event_seq") <= F.col("t._seq"))
        )

        joined = target.alias("t").join(src.alias("s"), t_key == s_key, "full_outer")
        action = (
            F.when(s_key.isNull(), F.lit("keep"))
            .when(t_key.isNull() & (F.col("s.op") == "delete"), F.lit("tombstone_new"))
            .when(t_key.isNull(), F.lit("insert"))
            .when(stale, F.lit("stale"))
            .when(F.col("s.op") == "delete", F.lit("delete"))
            .when(F.col("t._deleted"), F.lit("revive"))
            .otherwise(F.lit("update"))
        )
        row = (
            F.when(action.isin("keep", "stale"), t_cols)
            .otherwise(s_cols)
        )
        resolved = joined.select(action.alias("_action"), row.alias("r")).select(
            "_action", "r.*"
        )

        version = m["version"] + 1
        # action counts piggyback on the write job (Observation — no extra
        # pass over the join); per-bucket row counts come from the written
        # parquet footers (metadata only). An earlier design ran a separate
        # column-pruned metrics job per commit — one whole extra job.
        from pyspark.sql import Observation

        obs = Observation()
        late_thr = _late_threshold_micros(m)
        applied = ~F.col("_action").isin("keep", "stale")
        out = resolved.observe(
            obs,
            *[
                F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)
                for a in ("keep", "insert", "update", "delete",
                          "tombstone_new", "revive", "stale")
            ],
            # event-time watermark + late-data accounting (St3):
            # max applied event time, and applied events older than
            # (previous watermark - lateness horizon). Stale rows are
            # late by definition and already counted above.
            F.max(F.when(applied, F.unix_micros(F.col("_ts")))).alias("_wm_ts"),
            F.sum(F.when(
                applied & (F.unix_micros(F.col("_ts")) < F.lit(late_thr)),
                1).otherwise(0)).alias("_late"),
        ).drop("_action")
        # aligned: both join sides are HashPartitioning(key, n_buckets) and
        # a full-outer SMJ moves no rows — so the join output is already
        # physically bucket-aligned (partition b == bucket b, even though
        # Catalyst reports full-outer output partitioning as unknown).
        # Write it directly, with no further exchange.
        if not src_aligned:
            out = out.repartition(n_buckets, F.col(key))
        new_files, new_rows, new_bounds = self._write_snapshot(
            out, version, key)

        got = obs.get
        a = {k: int(v) for k, v in got.items() if v and not k.startswith("_")}
        metrics = {
            "actions": a,
            "by_bucket": {b: {"rows": sum(new_rows[f] for f in fl)}
                          for b, fl in new_files.items()},
            "late_events": int(got.get("_late") or 0) + a.get("stale", 0),
        }
        wm_ts = got.get("_wm_ts")
        watermark_seq = _batch_watermark(
            watermark_seq, deferred_watermark,
            lambda: src.agg(F.max("event_seq")).first()[0])
        src.unpersist()
        version, _ = self._publish_snapshot(
            m, {"op": "merge", "batch_id": batch_id, **metrics, **extra},
            batch_id=batch_id, new_files=new_files,
            rewritten=[str(b) for b in touched],
            new_rows=new_rows, new_bounds=new_bounds, schema=new_schema,
            watermark_seq=watermark_seq,
            watermark_ts=None if wm_ts is None else int(wm_ts))
        return MergeResult(
            version,
            inserted=a.get("insert", 0) + a.get("revive", 0),
            updated=a.get("update", 0),
            deleted=a.get("delete", 0) + a.get("tombstone_new", 0),
            stale_skipped=a.get("stale", 0),
            touched_buckets=len(touched),
        )

    def _merge_mor(
        self,
        m: dict,
        src: DataFrame,
        all_cols: list[str],
        new_schema: T.StructType,
        *,
        batch_id: str | None,
        watermark_seq: int | None,
        extra_metrics: dict | None = None,
        src_aligned: bool = False,
        deferred_watermark=None,
        pre_commit=None,
    ) -> MergeResult:
        """Merge-on-read commit: append the batch as per-bucket delta
        files. O(batch) — no target read, no join; per-key LWW resolution
        is deferred to _read_resolved/compact (Hudi/Iceberg-v2 MOR analog).
        ``src`` arrives bucketed and schema-conformed, NOT persisted (the
        write job is its only pass: metrics and watermark ride on it), and
        may hold multiple rows per key (prepare_batch's append-all form
        keeps superseded events and re-delivered ties; resolution orders by
        (_ts,_seq) and collapses them)."""
        extra = dict(extra_metrics or {})
        version = m["version"] + 1
        out = src.select(
            *all_cols,
            F.col("event_seq").alias("_seq"),
            F.col("warc_ts").alias("_ts"),
            (F.col("op") == "delete").alias("_deleted"),
            "_bucket",
        )
        # metrics piggyback on the write job itself (Observation fills when
        # the action runs) — a separate metrics pass was a whole extra job
        # per commit; per-bucket row counts come from parquet footers below
        from pyspark.sql import Observation

        obs = Observation()
        late_thr = _late_threshold_micros(m)
        out = out.observe(
            obs,
            F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("deletes"),
            F.sum(F.when(F.col("_deleted"), 0).otherwise(1)).alias("upserts"),
            F.max(F.unix_micros(F.col("_ts"))).alias("_wm_ts"),
            F.sum(F.when(F.unix_micros(F.col("_ts")) < F.lit(late_thr), 1)
                  .otherwise(0)).alias("_late"),
            # the batch's log position when the caller passes none: no
            # separate max(event_seq) job over a recomputed batch
            F.max("_seq").alias("_max_seq"),
        )
        if not src_aligned:
            out = out.repartition(m["n_buckets"], F.col(m["key"]))
        # aligned src (prepare_batch's exchange): each bucket lies inside
        # one partition — append delta files with NO further exchange (the
        # O(batch) commit's only exchange is prepare_batch's)
        new_files, new_rows, new_bounds = self._write_snapshot(
            out, version, m["key"], kind="delta")

        def _same_spec(base: dict) -> None:
            # The delta files were written keyed by m's bucket ids, so if
            # the lost race was a rebucket / full compaction the rebase
            # would merge old-spec file lists into a new-spec manifest —
            # rows invisible to bucket-pruned reads and droppable by the
            # next incremental compaction. Force a full re-prepare under
            # the new spec instead: a spec change can never be absorbed by
            # rebasing these files.
            if base["n_buckets"] != m["n_buckets"]:
                raise ConcurrentWriteError(
                    "bucket spec changed under an in-flight MOR append "
                    f"(n_buckets {m['n_buckets']} -> {base['n_buckets']})"
                    " — re-prepare the batch under the new spec"
                )

        # pre_commit is the pipelined replay's commit-order barrier
        # (replay.py): this batch's data files are fully written — the
        # expensive, freely-overlappable part — so block only at the
        # commit until every earlier batch has committed. Ordered commits
        # keep the ledger's per-namespace high watermark ("every log
        # position <= hwm is applied") truthful under overlapped writes.
        if not new_files:  # empty batch: ledger-only commit (cf. COW path)
            if batch_id is None:
                return MergeResult(m["version"], 0, 0, 0, 0, 0, noop=True)
            version, noop = self._publish_snapshot(
                m, {"op": "merge", "mode": "mor", "batch_id": batch_id,
                    "empty": True, **extra},
                batch_id=batch_id, rebase=_same_spec, pre_commit=pre_commit)
            return MergeResult(version, 0, 0, 0, 0, 0, noop=noop)

        got = obs.get  # filled by the completed write job — no new job
        n_upserts = int(got.get("upserts") or 0)
        n_deletes = int(got.get("deletes") or 0)
        metrics = {
            "mode": "mor",
            "actions": {"append_upsert": n_upserts,
                        "append_delete": n_deletes},
            "late_events": int(got.get("_late") or 0),
            "by_bucket": {b: {"rows": sum(new_rows[f] for f in fl)}
                          for b, fl in new_files.items()},
        }
        wm_ts = got.get("_wm_ts")
        watermark_seq = _batch_watermark(
            watermark_seq, deferred_watermark, lambda: got.get("_max_seq"))
        version, noop = self._publish_snapshot(
            m, {"op": "merge", "batch_id": batch_id, **metrics, **extra},
            batch_id=batch_id, appended=new_files,
            new_rows=new_rows, new_bounds=new_bounds, schema=new_schema,
            watermark_seq=watermark_seq,
            watermark_ts=None if wm_ts is None else int(wm_ts),
            rebase=_same_spec, pre_commit=pre_commit)
        if noop:
            return MergeResult(version, 0, 0, 0, 0, 0, noop=True)
        return MergeResult(
            version, inserted=n_upserts, updated=0,
            deleted=n_deletes, stale_skipped=0, touched_buckets=len(new_files),
        )

    # ---------------------------------------------------------- change feed
    def changes(self, from_version: int,
                to_version: int | None = None,
                *, update_images: str = "post") -> DataFrame:
        """Change-data-feed OUT of the lake (Iceberg changelog / Delta CDF
        analog): net per-key changes between two committed snapshots, for
        downstream incremental consumers.

        Returns ``_change_type`` (insert | update | delete) + the row
        image (new image for insert/update, last visible image for
        delete) with its ``_seq``/``_ts``.

        ``update_images="both"`` emits Delta-CDF-style update pairs —
        ``update_preimage`` (the old row image, old ``_seq``/``_ts``) and
        ``update_postimage`` — instead of a single ``update`` row.
        Differential consumers (incremental aggregate/materialized-view
        maintenance) need the pre-image to RETRACT the old contribution;
        replication consumers only need the post-image and keep the
        default.

        Scale shape — **bucket-pruned diff**: data files are immutable and
        manifests record per-bucket file lists, so any bucket whose base
        AND delta file lists are string-identical across the two
        manifests cannot contain a change and is skipped without reading
        a byte. A steady tailer touching 3 of 4096 buckets per commit
        yields a diff that reads ~3 buckets, not the table. (A
        rebucketing compaction between the versions invalidates the
        bucket correspondence — the diff then degrades to a full
        key-compare, still correct.) Net semantics: a key updated then
        reverted to a byte-identical (_ts,_seq) shows no change; a key
        whose winner changed shows exactly one row."""
        m_to = self.manifest(to_version)
        try:
            m_from = self.manifest(from_version)
        except FileNotFoundError as e:
            raise FileNotFoundError(
                f"snapshot v{from_version} has been expired — change feeds "
                f"can only start from a retained snapshot; size "
                f"expire_snapshots(keep_last=...) beyond the longest "
                f"consumer lag (CDF retention, as in Delta/Iceberg)"
            ) from e
        fschema = self._file_schema(m_to)
        if m_from["n_buckets"] == m_to["n_buckets"]:
            all_b = set(m_from["files"]) | set(m_from["deltas"]) \
                | set(m_to["files"]) | set(m_to["deltas"])
            changed = sorted(
                (b for b in all_b
                 if m_from["files"].get(b, []) != m_to["files"].get(b, [])
                 or m_from["deltas"].get(b, []) != m_to["deltas"].get(b, [])),
                key=int)
        else:
            changed = None  # rebucketed: no bucket correspondence
        key = m_to["key"]
        # old side: what was VISIBLE at from_version. new side: resolved
        # rows INCLUDING tombstones — a key tombstoned between the
        # versions is a 'delete' whose (_ts,_seq) must come from the
        # tombstone event (so a downstream MERGE apply wins LWW) while
        # the payload is the pre-image (what consumers lost). Retention
        # caveat (same as Delta/Iceberg CDF): compact(drop_tombstones)
        # between the two versions physically removes the tombstone —
        # the delete is still emitted (old side present, new side gone)
        # but then carries the pre-image's (_ts,_seq).
        old = (self._read_resolved(m_from, buckets=changed, file_schema=fschema)
               .filter(~F.col("_deleted")))
        new = self._read_resolved(m_to, buckets=changed, file_schema=fschema)
        o = old.select(F.col(key).alias("_ok"), *[c for c in old.columns if c != key])
        j = new.alias("n").join(o.alias("o"), F.col(f"n.{key}") == F.col("o._ok"),
                                "full_outer")
        n_present = F.col(f"n.{key}").isNotNull()
        o_present = F.col("o._ok").isNotNull()
        n_dead = n_present & F.col("n._deleted")
        same_version = (
            F.col("n._ts").eqNullSafe(F.col("o._ts"))
            & F.col("n._seq").eqNullSafe(F.col("o._seq"))
        )
        ctype = (
            F.when(~o_present & n_present & ~F.col("n._deleted"), F.lit("insert"))
            .when(o_present & (n_dead | ~n_present), F.lit("delete"))
            .when(o_present & n_present & ~F.col("n._deleted") & ~same_version,
                  F.lit("update"))
        )
        is_delete = ctype == "delete"
        payload_cols = [c for c in new.columns if c not in (key, *SYS_COLS)]
        image = [
            F.coalesce(F.col(f"n.{key}"), F.col("o._ok")).alias(key),
        ] + [
            # delete -> pre-image payload; insert/update -> new image
            F.when(is_delete, F.col(f"o.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
            for c in payload_cols
        ] + [
            # ordering keys from the NEW side when it exists (tombstone
            # included) so downstream applies win LWW; fall back to the
            # pre-image's for the dropped-tombstone case
            F.when(n_present, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
            for c in ("_seq", "_ts")
        ] + [is_delete.alias("_deleted")]
        if update_images not in ("post", "both"):
            raise ValueError(f"update_images must be post|both, got {update_images!r}")
        base = (
            j.select(ctype.alias("_change_type"), *image)
            .filter(F.col("_change_type").isNotNull())
        )
        if update_images == "post":
            return base
        # CDF pairs: rename update -> update_postimage, add a preimage row
        # per update carrying the OLD image with its OLD (_seq, _ts). Two
        # passes over the diff join (the diff is bucket-pruned and
        # O(changed keys); a cached single pass is not worth the pin).
        post = base.withColumn(
            "_change_type",
            F.when(F.col("_change_type") == "update",
                   F.lit("update_postimage")).otherwise(F.col("_change_type")),
        )
        pre = (
            j.filter(ctype == "update")
            .select(
                F.lit("update_preimage").alias("_change_type"),
                F.col("o._ok").alias(key),
                *[F.col(f"o.{c}").alias(c) for c in payload_cols],
                F.col("o._seq").alias("_seq"),
                F.col("o._ts").alias("_ts"),
                F.lit(False).alias("_deleted"),
            )
        )
        return post.unionByName(pre)

    # ------------------------------------------------------------- evolution
    def evolve(self, new_columns: T.StructType) -> int:
        """Explicit additive ALTER TABLE ADD COLUMNS (merge() also evolves
        implicitly when updates carry new payload columns)."""
        version, _ = self._publish_snapshot(
            self.manifest(), {"op": "evolve"}, schema=new_columns)
        return version

    # ------------------------------------------------------------ housekeeping
    def history(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self._meta_dir)):
            if fn.startswith("v") and fn.endswith(".json"):
                with open(os.path.join(self._meta_dir, fn)) as f:
                    mm = json.load(f)
                out.append({"version": mm["version"], "parent": mm["parent"],
                            "metrics": mm["metrics"],
                            "watermark_seq": mm["watermark_seq"]})
        return out

    def compact(self, *, drop_tombstones: bool = False,
                n_buckets: int | None = None, full: bool = False) -> int:
        """Fold pending MOR deltas into clean base files. **Incremental by
        default**: only buckets that actually carry pending deltas are
        resolved and rewritten; every untouched bucket's base files are
        carried into the new snapshot by reference (same paths — zero read,
        zero write). The steady-state tailer therefore pays O(pending
        deltas + their buckets' base data) per compaction, never O(table):
        at 100 TB a compaction touching 3 of 4096 buckets rewrites ~75 GB,
        not the table.

        ``full=True`` rewrites every bucket (small-file compaction /
        table-wide tombstone expiry). ``n_buckets`` rebuckets the table
        (partition-spec evolution — keys move buckets, so this is
        necessarily a full rewrite), after which every new commit uses the
        new spec; old snapshots stay readable (time travel keeps their
        manifests). ``drop_tombstones`` removes, from whatever buckets this
        compaction rewrites, the tombstones older than the lateness horizon
        (``_late_threshold_micros``); younger ones are kept so a late event
        inside the horizon cannot resurrect its key. Combine with
        ``full=True`` for a table-wide sweep."""
        m = self.manifest()
        key = m["key"]
        new_n = n_buckets or m["n_buckets"]
        full = full or (new_n != m["n_buckets"])
        if full:
            target = None  # every bucket, re-hashed under the new spec
        else:
            target = sorted((b for b, fl in m["deltas"].items() if fl), key=int)
            if not target:
                return m["version"]  # nothing pending — no-op, no commit
        df = self._read_resolved(m, target)
        df = df.withColumn("_bucket", self.bucket_expr(F.col(key), new_n))
        if drop_tombstones:
            df = df.filter(~(F.col("_deleted") & (
                F.unix_micros("_ts") < F.lit(_late_threshold_micros(m)))))
        # key-sorted base files (Iceberg sort-order analog): a partition-
        # local, spill-safe sort on a rewrite that is happening anyway.
        # Tightens parquet row-group key stats so point lookups
        # (read_keys -> isin pushdown) prune ROW GROUPS inside multi-GB
        # bucket files, not just whole files via file_key_bounds. The sort
        # leads with _bucket because the partitionBy("_bucket") write
        # requires that ordering: a bare key sort does not satisfy it, so a
        # planned write adds its own _bucket sort and the optimizer drops
        # the key sort beneath it. Each partition holds one bucket
        # (repartition(new_n, key) == bucket placement), so the _bucket
        # prefix costs nothing.
        out = (df.repartition(new_n, F.col(key))
               .sortWithinPartitions("_bucket", key))
        new_files, new_rows, new_bounds = self._write_snapshot(
            out, m["version"] + 1, key)

        def _rebase_ok(base: dict) -> None:
            """A lost commit race against a live TAILER rebases (the
            background-compactor deployment): the rewrite folded exactly
            the deltas read from ``m``, so deltas appended since stay
            pending against the new base files. Refuse when the bucket
            spec moved or the race was another REWRITE of the same
            buckets (competing compactor — a misconfiguration: exactly
            one compactor per table). Full/rebucket compactions never
            rebase."""
            if base["n_buckets"] != m["n_buckets"]:
                raise ConcurrentWriteError(
                    "bucket spec changed under an in-flight compaction")
            for b in target:
                if base["files"].get(b) != m["files"].get(b):
                    raise ConcurrentWriteError(
                        f"bucket {b} was rewritten by a concurrent "
                        f"compaction — rerun against the new snapshot")

        version, _ = self._publish_snapshot(
            m, {"op": "compact", "n_buckets": new_n, "full": full,
                "rewritten_buckets": new_n if full else len(target)},
            new_files=new_files, rewritten=target, new_rows=new_rows,
            new_bounds=new_bounds, n_buckets=new_n,
            rebase=None if full else _rebase_ok)
        return version

    def pending_delta_files(self) -> int:
        return sum(len(v) for v in self.manifest()["deltas"].values())

    def maybe_compact(self, *, max_delta_files: int = 64,
                      drop_tombstones: bool = False) -> int | None:
        """Compaction policy hook for the tailer: compact when pending MOR
        delta files exceed the threshold (bounds read amplification to
        O(max_delta_files) extra file opens per read). Incremental — only
        delta-bearing buckets are rewritten. Returns the new version or
        None if below threshold."""
        if self.pending_delta_files() <= max_delta_files:
            return None
        return self.compact(drop_tombstones=drop_tombstones)

    def expire_snapshots(self, *, keep_last: int = 10,
                         vacuum: bool = True,
                         find_orphans: bool = False,
                         orphan_older_than_s: float = 3 * 3600.0) -> dict:
        """Expire old snapshot manifests (bounding ``history()`` and meta
        disk) and optionally vacuum the data files they retired (Iceberg
        expire_snapshots analog).

        Keeps the newest ``keep_last`` manifests; time travel earlier than
        that is given up. ``vacuum`` deletes by **manifest diff** — files
        referenced by an expired manifest but by no surviving one —
        touching O(retired files) and never listing the data directory
        (on an object store a full listing is the expensive part; the
        manifests already know every committed file). ``find_orphans``
        additionally walks the data directory to remove files no manifest
        ever referenced (half-written output of crashed jobs — Iceberg's
        separate ``remove_orphan_files``); that one is O(listing) by
        nature, so it is opt-in maintenance rather than part of the
        routine expiry path.

        A writer commits by writing snap/delta parquet BEFORE the
        manifest pointer swap, so a data file can legitimately predate
        its manifest: ``find_orphans`` therefore SKIPS files whose mtime
        is within ``orphan_older_than_s`` of now (default 3 h — the
        Iceberg ``remove_orphan_files(older_than=...)`` convention).
        Even with the grace period, prefer running orphan removal with
        the writer/tailer quiesced; a commit stalled longer than the
        grace window while racing this call could still lose its files."""
        current = self.current_version()
        keep_from = max(0, current - keep_last + 1)

        def refs(manifest: dict) -> set[str]:
            out: set[str] = set()
            for which in ("files", "deltas"):
                for fl in manifest[which].values():
                    out.update(fl)
            return out

        expired_names, surviving_refs = [], set()
        retired_refs: set[str] = set()
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                with open(os.path.join(self._meta_dir, fn)) as f:
                    mm = json.load(f)
                if int(fn[1:-5]) < keep_from:
                    expired_names.append(fn)
                    retired_refs |= refs(mm)
                else:
                    surviving_refs |= refs(mm)
        for fn in expired_names:
            os.remove(os.path.join(self._meta_dir, fn))

        removed_files = 0
        if vacuum:
            for rel in sorted(retired_refs - surviving_refs):
                full = os.path.join(self.path, rel)
                if os.path.exists(full):
                    os.remove(full)
                    removed_files += 1
        orphans = 0
        if find_orphans:
            import time as _time

            cutoff = _time.time() - max(orphan_older_than_s, 0.0)
            known = surviving_refs | retired_refs
            data_root = os.path.join(self.path, _DATA)
            for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
                for fn in filenames:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.path)
                    if fn.endswith(".parquet") and rel not in known:
                        # grace period: an in-flight commit writes data
                        # files before the manifest swap — never remove
                        # recent unreferenced files
                        if os.path.getmtime(full) > cutoff:
                            continue
                        os.remove(full)
                        orphans += 1
                    elif fn.startswith("_") or fn.endswith(".crc"):
                        os.remove(full)  # _SUCCESS / crc markers
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
        return {"expired_manifests": len(expired_names),
                "removed_data_files": removed_files,
                "removed_orphans": orphans}
