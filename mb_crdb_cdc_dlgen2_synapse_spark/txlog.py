"""Minimal transaction-logged parquet table ("txlog") — the engine's
stand-in for a lakehouse table format in a container without one.

The reference's north star is a durable, concurrently readable lake landing
(/root/reference/README.md:136,182; BASELINE.json "Delta sink to Datalake").
Plain directory-of-parquet cannot give readers a consistent view across a
rewrite. This module implements the core of the publicly documented
log-structured table design (Delta Lake, VLDB 2020; Iceberg spec): data
files are immutable, and the table's CONTENT is defined by an append-only
log of JSON commits, each listing files added and removed.

Guarantees (and their mechanisms):

- **Atomic commits** — a commit becomes visible via a single
  put-if-absent of ``_txlog/<version>.json`` (``os.link`` from a temp file:
  fails if the version exists). Readers either see the whole commit or none
  of it; a crash mid-write leaves only invisible staging/tmp files.
- **Optimistic concurrency** — two writers racing for version N: one wins
  the link, the loser re-reads the snapshot and retries at N+1.
- **Snapshot isolation** — readers resolve the file list once; removed
  files stay on disk until ``vacuum()``, so an in-flight reader keeps a
  consistent view across concurrent overwrites.
- **Exactly-once streaming appends** — commits can carry a
  ``txn={"app": ..., "batch": n}`` marker; re-delivered micro-batches (the
  at-least-once half of T8) are detected in the log and skipped.

Scale notes: the log holds file METADATA only (O(files), not O(rows));
commits are a driver-side metadata operation, data moves are per-file
renames (object stores: metadata copies). Partition-aware overwrite
(``overwrite_partitions``) rewrites only the named partition directories —
the transactional twin of dynamic partition overwrite used by the state
merge. A production deployment swaps this for Delta/Iceberg unchanged in
shape; every caller goes through ``append/overwrite/read``.

**Metadata checkpoints** (the Delta ``_last_checkpoint`` design): every
``CHECKPOINT_INTERVAL`` commits, the fully resolved table state (active
files + stats, schema, checks, clustering, deletion-vector set, txn
watermarks) is written as ``_txlog/<version>.checkpoint.json``. Snapshot
resolution then reads ONE checkpoint plus the commit tail after it, so a
streaming sink that has committed 10k micro-batches still resolves its
table in O(interval) file reads instead of replaying 10k JSON commits on
the driver — without this, log replay is the metadata bottleneck at the
design target's commit volume. ``vacuum()`` additionally prunes log
segments older than the retained window (after checkpointing the oldest
retained version), so the log itself stays bounded; history/time-travel/
change-feed reads past the pruned horizon fail loudly with the same
"consume before vacuum" retention contract data files already have.

Txn watermarks: checkpoints record, per writer app, the MAX batch id seen
(Delta's ``setTransaction`` contract) — idempotent-replay detection
therefore assumes batch ids are monotonically increasing per app, which
both Structured Streaming epoch ids and the sync/matview version stamps
guarantee.
"""

from __future__ import annotations

import base64
import bisect
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .localrel import local_df

_LOG_DIR = "_txlog"
_STAGING = "_staging"
_DV_DIR = "_dv"
_CKPT_SUFFIX = ".checkpoint.json"


class TxConflictError(RuntimeError):
    """Raised internally on a version race; commits retry automatically."""


class LogStore:
    """The ONE storage primitive txlog correctness reduces to: an atomic
    put-if-absent of a small metadata file. Two writers racing the same
    path must see exactly one winner, and a reader must never observe a
    partially written file.

    Backend mapping (the reference's lake is ADLS Gen2,
    /root/reference/README.md:50-111):

    - **POSIX / HDFS** (``PosixLogStore``, default): hard-link from a temp
      file — ``link()`` fails with EEXIST if the target exists.
    - **ADLS Gen2 / GCS / S3 (2024+ conditional writes)**: a single PUT
      with ``If-None-Match: *`` — the store returns 412 Precondition
      Failed when the object already exists. Implement ``write_if_absent``
      as that request, mapping 412 to ``False``.
    - **older S3** (no conditional PUT): an external compare-and-set
      coordinator keyed by path (the published delta-rs / S3DynamoDBLogStore
      design); the winner then writes the object.

    Subclasses override ``write_if_absent`` plus the three log-plane I/O
    hooks below (``list_dir``/``read_text``/``delete``); everything else
    in the table format (optimistic retry, snapshot isolation,
    checkpointing, pruning) is backend-independent. A real object-store
    backend LISTS via a paginated prefix-List API call and READS via GET —
    not a directory scan — which is why log resolution never touches the
    filesystem directly. Data files and parquet checkpoint-manifest
    sidecars stay on the data plane (they are referenced BY NAME from log
    entries, never discovered by listing)."""

    def write_if_absent(self, target: str, data: str) -> bool:
        """Atomically create ``target`` with ``data`` iff it does not
        exist. True = this writer won; False = the path already existed."""
        raise NotImplementedError

    def list_dir(self, path: str) -> list[str]:
        """Entry NAMES under the log directory (object-store backend: one
        paginated List call over the prefix). May be momentarily stale on
        eventually-consistent stores — the commit protocol tolerates a
        lagging listing (a stale head loses its CAS and retries), it never
        produces a wrong winner. Sorted, like a real List API (object
        stores return keys in lexicographic order)."""
        return sorted(os.listdir(path))

    def read_text(self, path: str) -> str:
        """Full contents of one committed log object (object-store GET)."""
        with open(path) as f:
            return f.read()

    def delete(self, path: str) -> None:
        """Remove one log object (vacuum's log pruning). Must make the
        object disappear from later ``list_dir`` results."""
        os.remove(path)


class PosixLogStore(LogStore):
    """Put-if-absent via ``os.link`` from an invisible temp file (atomic on
    POSIX filesystems and NFS; the temp file never parses as a commit)."""

    def write_if_absent(self, target: str, data: str) -> bool:
        tmp = os.path.join(
            os.path.dirname(target), f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)


class InMemoryCASLogStore(LogStore):
    """Contract-faithful SECOND implementation, proving the seam: models an
    object store's conditional PUT (ADLS ``If-None-Match: *`` -> 412, GCS
    ``ifGenerationMatch=0``, S3 2024+ ``If-None-Match``) where exclusivity
    comes from the store's compare-and-set — NOT from POSIX ``link``
    semantics. The object index is an in-process dict under a lock (the
    emulated store's metadata CAS, one fake ETag per object); the CAS
    winner then materializes the object for readers via temp-file +
    ``os.replace`` (readers never observe partial content; losers never
    touch storage at all — they got the 412 before writing a byte).

    Like the real object store it emulates, all racing writers must share
    ONE store instance (the dict IS the store). Pre-existing files written
    by another store implementation are honored (absent from the dict but
    present on disk -> treated as existing), so a table can be opened with
    either backend. ``tests/test_logstore.py`` runs the racing-writer,
    checkpoint, vacuum, and clone suites against BOTH implementations.

    Listing comes from the store's OWN object index (the dict), unioned
    with a disk scan for objects another backend wrote — the List API of
    the emulated store, not a directory scan. ``lag_listing()`` hides an
    object from ``list_dir`` to emulate the eventual-consistency shape
    older S3 exhibits (object readable, List not yet caught up); a FAILED
    conditional PUT heals the lag for that path, because the CAS
    coordinator (DynamoDB in the published S3 commit-service design) is
    strongly consistent — once a writer's PUT is refused, that writer
    provably knows the object exists and must see it on its next listing,
    otherwise its commit retry would spin on the same stale head."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self._etags: dict[str, str] = {}
        self._listing_lag: set[str] = set()

    def write_if_absent(self, target: str, data: str) -> bool:
        with self._lock:  # the conditional PUT: object exists -> 412 -> False
            if target in self._etags or os.path.exists(target):
                # negative CAS = proof of existence: index it and heal any
                # simulated listing lag (read-after-CAS consistency)
                self._etags.setdefault(target, uuid.uuid4().hex)
                self._listing_lag.discard(target)
                return False
            self._etags[target] = uuid.uuid4().hex
        tmp = f"{target}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, target)
        return True

    def lag_listing(self, target: str) -> None:
        """Test hook: emulate an eventually-consistent List that has not
        yet caught up with a successful PUT of ``target``."""
        with self._lock:
            self._listing_lag.add(target)

    def list_dir(self, path: str) -> list[str]:
        names: set[str] = set()
        try:
            names |= set(os.listdir(path))
        except FileNotFoundError:
            pass
        prefix = path.rstrip(os.sep) + os.sep
        with self._lock:
            names |= {
                t[len(prefix):]
                for t in self._etags
                if t.startswith(prefix) and os.sep not in t[len(prefix):]
            }
            hidden = {
                t[len(prefix):] for t in self._listing_lag
                if t.startswith(prefix)
            }
        return sorted(names - hidden)

    def read_text(self, path: str) -> str:
        # an object can be indexed (CAS won) microseconds before its
        # materialization lands; a real store's GET never sees that window,
        # so spin briefly rather than surface the emulation artifact
        for _ in range(50):
            try:
                with open(path) as f:
                    return f.read()
            except FileNotFoundError:
                with self._lock:
                    known = path in self._etags
                if not known:
                    raise
                time.sleep(0.002)
        with open(path) as f:
            return f.read()

    def delete(self, path: str) -> None:
        with self._lock:
            self._etags.pop(path, None)
            self._listing_lag.discard(path)
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


class LocalObjectStore(LogStore):
    """Directory-backed OBJECT-STORE emulation that exercises the full
    seam shape a real ADLS/S3/GCS client implements — the drop-in proof
    the format never leans on POSIX semantics:

    - **conditional PUT**: the object body is first materialized fully as
      an internal blob (the store's storage layer — blobs are NOT
      addressable objects and never appear in listings), then committed
      with one atomic create-exclusive of the object name. Losers get the
      412 path without having written an object; readers' GET only ever
      sees complete bodies (a real PUT is all-or-nothing).
    - **paginated List**: ``list_dir`` drives repeated ``_list_page``
      calls with a continuation key and a small page size — the
      ListObjectsV2 / ADLS list-paths shape — never one directory scan.
      ``pages_served`` exposes the call count so tests can pin that
      pagination actually happened.
    - **listing lag**: ``lag_listing(path)`` hides a durable object from
      List until a FAILED conditional PUT for that path heals it
      (read-after-CAS consistency, same model as InMemoryCASLogStore), or
      ``lag_listing(path, listings=k)`` heals after k List calls — the
      time-heal shape of older S3.
    - **GET / DELETE**: ``read_text`` resolves the committed object;
      ``delete`` removes the object AND its blob.
    """

    _BLOB_PREFIX = ".blob-"

    def __init__(self, page_size: int = 5) -> None:
        import threading

        self.page_size = int(page_size)
        self.pages_served = 0
        self._lock = threading.Lock()
        # path -> remaining List calls before heal (None = heal on failed
        # conditional PUT only)
        self._lagged: dict[str, int | None] = {}

    def write_if_absent(self, target: str, data: str) -> bool:
        blob = os.path.join(
            os.path.dirname(target), f"{self._BLOB_PREFIX}{uuid.uuid4().hex}"
        )
        with open(blob, "w") as f:
            f.write(data)
        try:
            # the store's compare-and-set: create-exclusive of the object
            # NAME, pointing at the already-complete body
            os.symlink(os.path.basename(blob), target)
        except FileExistsError:
            os.remove(blob)
            with self._lock:
                # negative CAS is proof of existence: the coordinator is
                # strongly consistent, so this writer's next List sees it
                self._lagged.pop(target, None)
            return False
        return True

    def lag_listing(self, target: str, listings: int | None = None) -> None:
        """Test hook: emulate an eventually-consistent List that has not
        caught up with a successful PUT. Heals on a failed conditional PUT
        for the path, or after ``listings`` further List calls."""
        with self._lock:
            self._lagged[target] = listings

    def _list_page(self, path: str, start_after: str) -> list[str]:
        """One List request: up to ``page_size`` object names after the
        continuation key, lexicographic (every object store's contract)."""
        self.pages_served += 1
        try:
            names = sorted(
                n
                for n in os.listdir(path)
                if not n.startswith(self._BLOB_PREFIX)
                and not n.startswith(".tmp")
            )
        except FileNotFoundError:
            names = []
        i = bisect.bisect_right(names, start_after) if start_after else 0
        return names[i : i + self.page_size]

    def list_dir(self, path: str) -> list[str]:
        names: list[str] = []
        token = ""
        while True:
            page = self._list_page(path, token)
            names.extend(page)
            if len(page) < self.page_size:
                break
            token = page[-1]
        prefix = path.rstrip(os.sep) + os.sep
        with self._lock:
            hidden = set()
            for t, ttl in list(self._lagged.items()):
                if not t.startswith(prefix):
                    continue
                hidden.add(t[len(prefix):])
                if ttl is not None:
                    if ttl <= 1:
                        del self._lagged[t]
                    else:
                        self._lagged[t] = ttl - 1
        return [n for n in names if n not in hidden]

    def read_text(self, path: str) -> str:
        with open(path) as f:  # resolves the object name to its body
            return f.read()

    def sweep_orphan_blobs(self, path: str) -> int:
        """GC for the one leak a hard-killed writer can leave: a blob
        written but never committed (the crash happened between body
        write and the create-exclusive). Removes blobs no object links
        to; returns the count. Safe concurrently with writers only if
        none is mid-PUT in this directory (run it like vacuum — with no
        in-flight writers), the same contract a real store's multipart-
        upload reaper has."""
        try:
            names = os.listdir(path)
        except FileNotFoundError:
            return 0
        referenced = set()
        for n in names:
            p = os.path.join(path, n)
            try:
                referenced.add(os.readlink(p))
            except OSError:
                continue
        removed = 0
        for n in names:
            if n.startswith(self._BLOB_PREFIX) and n not in referenced:
                try:
                    os.remove(os.path.join(path, n))
                    removed += 1
                except FileNotFoundError:
                    pass
        return removed

    def delete(self, path: str) -> None:
        with self._lock:
            self._lagged.pop(path, None)
        blob = None
        try:
            link = os.readlink(path)
            blob = os.path.join(os.path.dirname(path), link)
        except OSError:
            pass  # object written by another backend: plain file
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        if blob is not None:
            try:
                os.remove(blob)
            except FileNotFoundError:
                pass


def _footer_stats(parquet_path: str) -> dict:
    """{"rows": n, "min": {col: v}, "max": {col: v}} from the file's own
    footer. Only top-level int/float/str columns with sound min/max are
    recorded (floats dropped on NaN, strings dropped past 256 chars — a
    truncated max-prefix would prune incorrectly); anything unrecorded is
    simply never pruned on."""
    import pyarrow.parquet as pq

    size_bytes = os.path.getsize(parquet_path)
    md = pq.ParquetFile(parquet_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in dropped:
                continue
            try:
                st = col.statistics
                if st is not None and st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                ok = (
                    st is not None
                    and st.has_min_max
                    and isinstance(st.min, (int, float, str))
                    and not isinstance(st.min, bool)
                    and type(st.min) is type(st.max)
                    and st.min == st.min  # NaN check
                    and st.max == st.max
                    and not (
                        isinstance(st.min, str) and (len(st.min) > 256 or len(st.max) > 256)
                    )
                )
            except Exception:
                # pyarrow can't materialize stats for some types (e.g. decimal:
                # "Cannot extract statistics" raised lazily at st.min access)
                ok = False
            if not ok:
                # one bad row group poisons the column for the whole file
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    return {
        "rows": md.num_rows,
        "bytes": size_bytes,
        "min": mins,
        "max": maxs,
        "nulls": nulls,
    }


def _nullable_normalized(schema_json: str) -> str:
    """Canonical schema json with every nullable flag forced true — the
    comparison form for write-time enforcement (names/order/types only)."""

    def relax(node):
        if isinstance(node, dict):
            return {
                k: (True if k == "nullable" else relax(v)) for k, v in node.items()
            }
        if isinstance(node, list):
            return [relax(v) for v in node]
        return node

    return json.dumps(relax(json.loads(schema_json)), sort_keys=True)


#: digits needed to hold each integer type losslessly in a decimal
_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}
#: integer widening chains (each type may widen to anything later in line)
_INT_CHAIN = ["byte", "short", "integer", "long"]


def _type_widens(src, dst) -> bool:
    """The published Delta type-widening matrix (``typeWidening`` table
    feature), restricted to conversions parquet readers perform losslessly
    on files that physically carry the narrow type:

    - integer chain: byte -> short -> int -> long
    - byte/short/int -> double  (exact in an IEEE double)
    - float -> double
    - any integer -> decimal(p, s) with p - s >= the type's digits
    - decimal(p, s) -> decimal(p', s') with s' >= s and p' - s' >= p - s
    - date -> timestamp_ntz (midnight)
    """
    if src == dst:
        return False
    sname, dname = src.typeName(), dst.typeName()
    if sname in _INT_CHAIN and dname in _INT_CHAIN:
        return _INT_CHAIN.index(sname) < _INT_CHAIN.index(dname)
    if sname in ("byte", "short", "integer") and dname == "double":
        return True
    if sname == "float" and dname == "double":
        return True
    if sname in _INT_DIGITS and dname == "decimal":
        return dst.precision - dst.scale >= _INT_DIGITS[sname]
    if sname == "decimal" and dname == "decimal":
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    if sname == "date" and dname == "timestamp_ntz":
        return True
    return False


def _partition_values(relpath: str) -> dict[str, str]:
    """``key=value`` directory segments of a staged file path (hive layout).
    Values are UNESCAPED back to the stored value: Spark percent-encodes
    special characters when rendering partition directories (Hive's
    escapePathName: space -> %20, colon -> %3A, '%' itself -> %25, ...),
    so comparing the raw path rendering against a predicate literal is
    wrong for any value containing one of those characters — 'a b' <= 'a!'
    is true but 'a%20b' <= 'a!' is false, which would wrongly EXCLUDE a
    file holding matching rows. ``unquote`` is escapePathName's inverse
    for values Spark wrote (it escapes '%' too, so round-trip is exact)."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for seg in relpath.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = unquote(v)
    return out


#: predicate ops accepted by ``TxTable.read(predicates=...)``
_OPS = {
    "==": None,  # point values and key sets: _KeySet.may_match
    ">=": lambda lo, hi, v: not (hi < v),
    ">": lambda lo, hi, v: not (hi <= v),
    "<=": lambda lo, hi, v: not (lo > v),
    "<": lambda lo, hi, v: not (lo >= v),
    "in": None,
    # substring containment: a min/max RANGE can never prove a substring
    # absent, so the range check keeps the file — skipping comes from the
    # trigram bloom index (and exact partition values) in _file_may_match
    "contains": lambda lo, hi, v: True,
}


def _trigrams(needle: str) -> list[str]:
    return [needle[i : i + 3] for i in range(len(needle) - 2)]


def _bloom_positions(value, k: int, m: int) -> list[int]:
    """The k bit positions of ``value`` — md5 of ``"<value>|<i>"`` exactly
    as the Spark-side build computes it (md5(concat(cast(col as string),
    '|<i>'))), so driver-side probing and executor-side building agree
    bit-for-bit."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}|{i}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def _bloom_maybe_contains(bl: dict, value) -> bool:
    """Bloom membership test against a logged per-file filter
    ({"m", "k", "b64"}). True = maybe present; False = PROVEN absent."""
    if not isinstance(value, (str, int)) or isinstance(value, bool):
        return True  # only canonically-stringable types are indexed
    bits = base64.b64decode(bl["b64"])
    for h in _bloom_positions(value, bl["k"], bl["m"]):
        if not (bits[h >> 3] >> (h & 7)) & 1:
            return False
    return True


#: an ``in`` list probes file blooms only up to this many keys; past it
#: spans alone decide (hashing 50 k keys costs more driver time than the
#: skipped files save)
_BLOOM_IN_CAP = 4_096

#: a DV upsert filters its candidate rows by ``in`` lists up to this many
#: keys; a longer list is joined instead (a Column ``isin`` costs one
#: driver round trip per value: ~0.5 ms each, measured on 4 vCPUs)
_IN_FILTER_CAP = 256


class _KeySet:
    """An ``in`` value list (or one ``==`` value) prepared once for a
    whole file listing: NULLs dropped (a NULL equals no key), values
    sorted so each file's [min, max] span is one bisect, bloom positions
    hashed once per key and filter geometry instead of once per key and
    file."""

    def __init__(self, values):
        self.values = [v for v in values if v is not None]
        self._strs: set[str] | None = None  # built on first partition test
        try:
            self.sorted = sorted(self.values)
        except TypeError:
            self.sorted = None  # incomparable values: no span test
        self._pos: dict[tuple, list[int]] = {}

    def may_match(self, col: str, stats: dict | None, parts: dict[str, str]) -> bool:
        """False only when the file's partition value, span or bloom
        PROVES it holds none of the keys."""
        if col in parts:
            if self._strs is None:
                self._strs = {str(v) for v in self.values}
            return parts[col] in self._strs
        if not stats:
            return True
        bl = (stats.get("bloom") or {}).get(col)
        if bl is not None and (
            bl.get("mode") == "trigram" or len(self.values) > _BLOOM_IN_CAP
        ):
            bl = None  # spans alone decide
        keys = self.values
        lo, hi = stats.get("min", {}).get(col), stats.get("max", {}).get(col)
        if lo is not None and hi is not None and self.sorted is not None:
            try:
                i = bisect.bisect_left(self.sorted, lo)
                j = bisect.bisect_right(self.sorted, hi, i)
            except TypeError:
                pass  # incomparable predicate value vs stored stat — keep file
            else:
                if i == j:
                    return False
                keys = self.sorted[i:j] if bl is not None else keys
        if bl is None:
            return bool(keys)
        m, k = bl["m"], bl["k"]
        bits = base64.b64decode(bl["b64"])
        for v in keys:
            if not isinstance(v, (str, int)) or isinstance(v, bool):
                return True  # only canonically-stringable types are indexed
            pos = self._pos.get((m, k, v))
            if pos is None:
                pos = self._pos[(m, k, v)] = _bloom_positions(v, k, m)
            if all((bits[h >> 3] >> (h & 7)) & 1 for h in pos):
                return True
        return False


#: generated-column expression shapes that are MONOTONE NONDECREASING in
#: their source column — the set Delta derives partition filters from.
#: (month()/day() are NOT monotone over timestamps and never qualify.)
_MONOTONE_GEN = [
    re.compile(r"(?is)^\s*year\s*\(\s*(\w+)\s*\)\s*$"),
    re.compile(r"(?is)^\s*(?:to_date|date)\s*\(\s*(\w+)\s*\)\s*$"),
    re.compile(r"(?is)^\s*cast\s*\(\s*(\w+)\s+as\s+date\s*\)\s*$"),
    re.compile(
        r"(?is)^\s*(?:cast\s*\(\s*)?date_trunc\s*\(\s*'(?:year|month|week|day)'\s*,"
        r"\s*(\w+)\s*\)(?:\s*as\s+date\s*\))?\s*$"
    ),
    re.compile(r"(?is)^\s*substr(?:ing)?\s*\(\s*(\w+)\s*,\s*1\s*,\s*\d+\s*\)\s*$"),
]


def _monotone_gen_source(expr: str) -> str | None:
    """The source column of a monotone generated-column expression, or
    None when the shape is not provably monotone."""
    for pat in _MONOTONE_GEN:
        m = pat.match(expr)
        if m:
            return m.group(1)
    return None


def _part_cmp_pair(pv: str, value):
    """(partition-path value, predicate value) as a comparable typed pair,
    or None when coercion is unsafe. Ints/floats parse; dates compare as
    ISO strings (Spark writes date partition values zero-padded ISO);
    plain strings compare raw. Anything else — including datetimes, whose
    path rendering is escaped — refuses (fail OPEN: no pruning)."""
    import datetime

    try:
        if isinstance(value, bool) or value is None:
            return None
        if isinstance(value, int):
            return int(pv), value
        if isinstance(value, float):
            return float(pv), value
        if isinstance(value, datetime.datetime):
            return None
        if isinstance(value, datetime.date):
            return pv, value.isoformat()
        if isinstance(value, str):
            return pv, value
    except (ValueError, TypeError):
        return None
    return None


def _part_range_excludes(pv: str, op: str, value) -> bool:
    """True when the partition value PROVABLY fails ``op value`` — the
    range form of partition pruning (min == max == the path value)."""
    pair = _part_cmp_pair(pv, value)
    if pair is None:
        return False
    tv, v = pair
    try:
        return not _OPS[op](tv, tv, v)
    except (TypeError, KeyError):
        return False


def _part_range_proves(pv: str, op: str, value) -> bool:
    """True when the partition value PROVES every row passes ``op value``."""
    pair = _part_cmp_pair(pv, value)
    if pair is None:
        return False
    tv, v = pair
    try:
        return bool(_ALL_OPS[op](tv, tv, v))
    except (TypeError, KeyError):
        return False


def _concurrently(*thunks):
    """Run INDEPENDENT driver-side thunks as concurrent threads — Spark
    runs several jobs at once inside one application. Each thread is a
    ``pyspark.InheritableThread``: it starts with the caller's Spark
    local properties, so every job it submits keeps the caller's job
    group, description and scheduler pool. Results return in thunk
    order; the first failure re-raises after every thunk has settled,
    so a caller's cleanup never races a still-running leg."""
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = [None] * len(thunks)

    def run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors[i] = e

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(thunks))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def _file_may_match(stats: dict | None, parts: dict[str, str], predicates) -> bool:
    """False only when the file's stats PROVE no row satisfies every
    predicate (conjunction). Missing stats for a column -> may match.
    Point predicates (==, in) additionally consult the file's logged
    bloom filter when the table declares one for the column — the skip
    that works where every file's min/max RANGE overlaps the value.
    An ``in`` value is a plain list or a ``_KeySet`` prepared once for
    many files (``TxTable._candidate_files``)."""
    if stats and stats.get("rows") == 0:
        return False  # zero logged rows: provably nothing to match
    for col, op, value in predicates:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op {op!r} (have {sorted(_OPS)})")
        if op in ("==", "in"):
            # a point value is a one-key set
            ks = value if isinstance(value, _KeySet) else _KeySet(
                value if op == "in" else [value]
            )
            if not ks.may_match(col, stats, parts):
                return False
            continue
        if col in parts:
            # partition value: exact, min == max == path string
            if op == "contains" and str(value) not in parts[col]:
                return False
            if op in (">=", ">", "<=", "<") and _part_range_excludes(
                parts[col], op, value
            ):
                return False
            continue
        if not stats:
            continue
        lo, hi = stats.get("min", {}).get(col), stats.get("max", {}).get(col)
        if lo is not None and hi is not None:
            try:
                if not _OPS[op](lo, hi, value):
                    return False
            except TypeError:
                pass  # incomparable predicate value vs stored stat — keep file
        bl = (stats.get("bloom") or {}).get(col)
        if op == "contains" and bl is not None and bl.get("mode") == "trigram":
            # every trigram of the needle must be maybe-present; a needle
            # under 3 chars has no trigram and never skips (the
            # ClickHouse ngrambf contract)
            for t in _trigrams(str(value)):
                if not _bloom_maybe_contains(bl, t):
                    return False
    return True


#: per-op proof that EVERY value in [lo, hi] satisfies the predicate
_ALL_OPS = {
    "==": lambda lo, hi, v: lo == v and hi == v,
    ">=": lambda lo, hi, v: lo >= v,
    ">": lambda lo, hi, v: lo > v,
    "<=": lambda lo, hi, v: hi <= v,
    "<": lambda lo, hi, v: hi < v,
    "in": lambda lo, hi, vs: lo == hi and lo in set(vs),
    # provable only for single-valued files whose value holds the needle
    "contains": lambda lo, hi, v: lo == hi and str(v) in str(lo),
}


def _file_all_match(stats: dict | None, parts: dict[str, str], predicates) -> bool:
    """True only when metadata PROVES every row satisfies every predicate:
    partition equality decides whole files; min/max bounds decide when the
    whole range lies inside the predicate AND the column has no nulls (null
    rows never satisfy a predicate, and min/max ignore them — commits from
    before null counts were recorded simply stay unprovable)."""
    for col, op, value in predicates:
        if col in parts:
            if op == "==" and str(value) == parts[col]:
                continue
            if op == "in" and parts[col] in {str(v) for v in value}:
                continue
            if op == "contains" and str(value) in parts[col]:
                continue
            if op in (">=", ">", "<=", "<") and _part_range_proves(
                parts[col], op, value
            ):
                continue
            return False
        if not stats:
            return False
        lo, hi = stats.get("min", {}).get(col), stats.get("max", {}).get(col)
        n_null = stats.get("nulls", {}).get(col)
        if lo is None or hi is None or n_null is None or n_null > 0:
            return False
        try:
            if not _ALL_OPS[op](lo, hi, value):
                return False
        except (TypeError, KeyError):
            return False
    return True


def _phys_path(colmap: dict[str, str], lpath: str) -> str:
    """Logical dotted path -> physical dotted path under ``colmap``.
    Each segment resolves independently: the mapping's nested keys are
    logical paths (migrated on ancestor renames), its values physical
    paths (frozen at first write); unmapped segments are identity."""
    segs = lpath.split(".")
    out = []
    for i in range(len(segs)):
        pv = colmap.get(".".join(segs[: i + 1]))
        out.append(pv.rsplit(".", 1)[-1] if pv else segs[i])
    return ".".join(out)


def _to_physical_type(dtype, lprefix: str, colmap: dict[str, str]):
    """Rename struct field names logical->physical at every depth (types
    and order unchanged — renames are order-preserving, and nested schema
    evolution never reaches the logged schema). Structs inside arrays/maps
    are left as-is: renames into them are refused at declaration time."""
    if isinstance(dtype, T.StructType):
        fields = []
        for f in dtype.fields:
            lchild = f"{lprefix}.{f.name}" if lprefix else f.name
            pv = colmap.get(lchild)
            pname = pv.rsplit(".", 1)[-1] if pv else f.name
            fields.append(
                T.StructField(
                    pname, _to_physical_type(f.dataType, lchild, colmap), f.nullable
                )
            )
        return T.StructType(fields)
    return dtype


def _has_nested_map(colmap: dict[str, str], top: str) -> bool:
    prefix = top + "."
    return any(k.startswith(prefix) for k in colmap)


def _rename_struct_expr(col_expr, phys_type, logical_type):
    """Expression converting a physically-named struct VALUE to its
    logically-named type: null-preserving (a NULL struct stays NULL, not
    a struct of NULLs) and — unlike a struct cast — PRUNABLE: Catalyst
    pushes GetStructField through the field-wise rebuild, so a query
    touching one nested field of a renamed struct still scans only that
    field's bytes (a cast forces the whole struct into the ReadSchema).
    Field order and types are identical by construction (renames are
    order-preserving and nested schema evolution never reaches the log),
    so the positional zip is exact."""
    from pyspark.sql import functions as F

    if not isinstance(logical_type, T.StructType):
        return col_expr
    rebuilt = F.struct(
        *[
            _rename_struct_expr(
                col_expr.getField(pf.name), pf.dataType, lf.dataType
            ).alias(lf.name)
            for pf, lf in zip(phys_type.fields, logical_type.fields)
        ]
    )
    return F.when(col_expr.isNotNull(), rebuilt)


def _all_nullable(dtype):
    """Recursively relax nullability — cast targets must not carry NOT
    NULL fields (Spark refuses a nullable->non-nullable struct cast, and
    the format never enforces nullability flags anyway)."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_all_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            _all_nullable(dtype.keyType), _all_nullable(dtype.valueType), True
        )
    return dtype


def _uri_to_local_path(uri: str) -> str | None:
    """``input_file_name()`` URI -> local filesystem path, or None for a
    non-local scheme. URL-decodes percent-escapes (spaces, non-ASCII in
    table paths) — a raw prefix-strip would leave ``%20`` in the path and
    silently fail the relpath match."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        path = unquote(parsed.path) if parsed.scheme else unquote(uri)
        return path or None
    return None


def _string_quantile_cuts(df: DataFrame, col: str, n_buckets: int) -> list[str]:
    """Approximate string quantile boundaries from a bounded sample —
    the string analog of ``approxQuantile`` (which is numeric-only):
    RANDOM-sample ~16k rows (driver-bounded, never a global sort), sort
    them, take every len/n-th as a cut. Bucketing by binary string compare
    then gives ~equal-frequency buckets, which is all Z-order needs (Delta
    ZORDERs strings via the same range-partition-id idea).

    The sample must come BEFORE the distinct/limit: ``distinct().limit(n)``
    returns whichever partitions finish first — on a high-cardinality
    column every cut can land in one value range, collapsing the buckets.
    A seeded random sample approximates the true distribution; the
    sampling fraction is tuned by one cheap approximate count."""
    from pyspark.sql import functions as F

    nn = df.select(col).filter(F.col(col).isNotNull())
    target = 16384
    cnt = nn.count()
    if cnt > 2 * target:
        nn = nn.sample(fraction=(2.0 * target) / cnt, seed=42)
    # the limit is a safety valve only (expected sample size is ~2*target);
    # because the rows are ALREADY a uniform random sample, a rare
    # truncation stays unbiased — unlike limiting the unsampled distinct,
    # which returns whichever partitions finish first
    sample = nn.limit(8 * target).collect()
    vals = sorted({r[0] for r in sample})
    if not vals:
        return []
    step = max(1, len(vals) // n_buckets)
    return vals[step::step][: n_buckets - 1]


def _bucket_expr(df: DataFrame, col: str, bits: int):
    """Quantile-bucket id Column for one column: 2^bits buckets from one
    sampled ``approxQuantile`` pass (string boundaries from a bounded
    distinct sample — never a global sort either way). Nulls sort first
    (bucket 0). Shared by the Z-order and Hilbert keys."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as _T

    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    if isinstance(df.schema[col].dataType, _T.StringType):
        cuts = _string_quantile_cuts(df, col, n_buckets)
    else:
        cuts = df.approxQuantile(col, probs, 1.0 / (4 * n_buckets))
    # strictly increasing cut list (duplicates collapse low-cardinality
    # columns into fewer buckets — harmless)
    uniq: list = []
    for c in cuts:
        if not uniq or c > uniq[-1]:
            uniq.append(c)
    if not uniq:
        return F.lit(0).cast("long")
    # bucket id = number of cuts strictly below the value — one
    # size(filter(...)) over an array literal instead of a 2^bits-term
    # CASE-WHEN chain (the chain's ~300 py4j round trips per column were
    # pure driver-side plan-construction cost; the value is identical,
    # nulls land in bucket 0 either way because a null comparison drops
    # out of filter() exactly as it zeroed each WHEN branch)
    bucket = F.size(F.filter(F.lit(uniq), lambda x: F.col(col) > x))
    return F.coalesce(bucket, F.lit(0)).cast("long")


def _zvalue(df: DataFrame, cols: list[str], bits: int = 6):
    """Morton (Z-order) key column over ``cols``: quantile-bucket each
    column (``_bucket_expr``), then interleave the bucket ids' bits."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for ci, col in enumerate(cols):
        bucket = _bucket_expr(df, col, bits)
        # spread bucket bits to every len(cols)-th position, offset ci
        for b in range(bits):
            z = z + (
                F.shiftright(bucket, b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * len(cols) + ci)).cast("long")
            )
    return z


def _hilbert_index_np(X, bits: int):
    """Skilling's axes -> Hilbert-index transform ("Programming the
    Hilbert curve", AIP CP707, 2004 — the published algorithm Delta's
    liquid clustering uses), vectorized over rows with numpy. ``X`` is a
    (rows, n) int64 array of bucket ids in [0, 2^bits); returns the
    (rows,) int64 Hilbert indexes. Unlike Morton interleaving, every
    consecutive pair of indexes differs in exactly ONE bucket step —
    the locality property that keeps per-file min/max ranges tight on
    every clustered column at once."""
    import numpy as np

    X = np.asarray(X, dtype=np.int64).copy()
    rows, n = X.shape
    M = 1 << (bits - 1)
    Q = M
    while Q > 1:  # inverse undo excess work
        P = Q - 1
        for i in range(n):
            hasq = (X[:, i] & Q) != 0
            X[hasq, 0] ^= P  # invert
            low = ~hasq      # exchange
            t = (X[low, i] ^ X[low, 0]) & P
            X[low, i] ^= t
            X[low, 0] ^= t
        Q >>= 1
    for i in range(1, n):  # Gray encode
        X[:, i] ^= X[:, i - 1]
    t = np.zeros(rows, np.int64)
    Q = M
    while Q > 1:
        m = (X[:, n - 1] & Q) != 0
        t[m] ^= Q - 1
        Q >>= 1
    X ^= t[:, None]
    # transpose format -> index: bit q of dim i lands at q*n + (n-1-i)
    H = np.zeros(rows, np.int64)
    for q in range(bits):
        for i in range(n):
            H |= ((X[:, i] >> q) & 1) << (q * n + (n - 1 - i))
    return H


def _hilbert_value(df: DataFrame, cols: list[str], bits: int = 6):
    """Hilbert-curve key column over ``cols``: the same sampled-quantile
    bucketing as ``_zvalue``, mapped through Skilling's transform in an
    Arrow-batched ``pandas_udf`` (the transform is a per-bit-plane loop
    with data-dependent swaps — numpy vectorizes it over rows, while a
    Catalyst expression tree would blow up exponentially because the
    5*n dependent rewrite steps share no subtrees). Maintenance-path
    Python: compact() only, never a query path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    buckets = F.array(*[_bucket_expr(df, c, bits) for c in cols])

    def hidx(b):
        X = np.stack(b.to_numpy()).astype(np.int64)
        return pd.Series(_hilbert_index_np(X, bits))

    # annotations set as REAL class objects: this module's
    # `from __future__ import annotations` would stringify inline hints,
    # and pandas_udf's get_type_hints could not resolve 'pd.Series'
    # against module globals (pandas is imported function-locally here)
    hidx.__annotations__ = {"b": pd.Series, "return": pd.Series}
    return F.pandas_udf(hidx, "long")(buckets)


class TxTable:
    """A transaction-logged parquet table rooted at ``path`` (local/posix
    paths; an object-store deployment maps these to FS-API calls)."""

    #: write a metadata checkpoint every N commits (0/None disables).
    #: Interval trades checkpoint-write amortization against tail length:
    #: snapshot resolution reads 1 checkpoint + <= N commit files.
    CHECKPOINT_INTERVAL = 20
    #: manifest rows per checkpoint parquet part; above this the manifest
    #: splits into numbered parts (Delta's multi-part checkpoints — one
    #: driver-side parquet write has a practical ceiling at ~10M files)
    MANIFEST_PART_ROWS = 500_000

    def __init__(
        self, spark: SparkSession, path: str, log_store: LogStore | None = None
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log_store = log_store or PosixLogStore()
        os.makedirs(os.path.join(self.path, _LOG_DIR), exist_ok=True)
        # parsed-JSON cache: committed log files are immutable, so entries
        # never go stale; keyed by absolute path, cleared on vacuum()
        self._json_cache: dict[str, dict] = {}
        # f(bound) memo for generated-column predicate derivation — each
        # evaluation is a one-row driver action, and DML paths re-derive
        # the same (expr, value) pairs
        self._gen_eval_cache: dict[tuple, object] = {}
        self._manifest_cache: dict[str, dict] = {}
        # resolved-state memo by version (committed states are immutable);
        # bounded, cleared on vacuum
        self._state_cache: dict[int, dict] = {}
        # read-plan memo: a snapshot read's DataFrame plan is a pure
        # function of (version, predicates, row_ids) — committed
        # snapshots are immutable, so the plan never goes stale. Plan
        # construction costs ~60 ms of driver time per read (grouped
        # basePath readers + DV anti-join + conform projections) and
        # index-maintenance lifecycles re-read the same version many
        # times; cleared on vacuum (file deletion invalidates plans of
        # pruned versions)
        self._read_cache: dict[tuple, DataFrame] = {}

    #: Protocol feature gate (the published Delta reader/writer-feature
    #: design): commits that USE a semantics-changing capability stamp it
    #: into the table's protocol; a snapshot's feature set is the union of
    #: what its history used. Readers REFUSE tables carrying reader
    #: features they do not understand (silently mis-reading a
    #: column-mapped or DV-carrying table returns wrong rows, not an
    #: error); writers refuse writer features likewise. Old snapshots
    #: taken before a feature was introduced resolve without it, so time
    #: travel across a feature boundary still works for an old reader.
    READER_FEATURES = frozenset(
        {"column-mapping", "nested-column-mapping", "deletion-vectors",
         "type-widening"}
    )
    WRITER_FEATURES = READER_FEATURES | frozenset(
        {"generated-columns", "bloom-index", "check-constraints",
         "row-tracking", "default-columns", "identity-columns"}
    )

    def _check_reader_features(self, state: dict) -> None:
        unknown = set(state["protocol"]["reader"]) - self.READER_FEATURES
        if unknown:
            raise ValueError(
                f"table at {self.path!r} requires reader feature(s) "
                f"{sorted(unknown)} this reader does not support; upgrade "
                "the engine (reading anyway would silently return wrong "
                "rows, not an error)"
            )

    def protocol(self, as_of: int | None = None) -> dict:
        """The snapshot's required {"reader": [...], "writer": [...]}
        feature sets."""
        p = self._state(as_of)["protocol"]
        return {"reader": list(p["reader"]), "writer": list(p["writer"])}

    def describe(self) -> dict:
        """One-call table summary: version, schema, feature/property/
        policy surface — log metadata only, zero data I/O."""
        s = self._state()
        return {
            "path": self.path,
            "version": s["version"],
            "schema": s["schema"],
            "n_active_files": len(s["active"]),
            "n_dv_files": len(s["dvs"]),
            "column_mapping": dict(s["colmap"]),
            "generated_columns": dict(s["generated"]),
            "column_defaults": dict(s["defaults"]),
            "identity_columns": {
                k: dict(v) for k, v in s["identity"].items()
            },
            "checks": dict(s["checks"]),
            "clustering": list(s["clustering"]),
            "bloom_index": dict(s["bloom"]),
            "properties": dict(s["props"]),
            "protocol": {
                "reader": list(s["protocol"]["reader"]),
                "writer": list(s["protocol"]["writer"]),
            },
        }

    # -- log primitives ------------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:020d}.json")

    def _list_log(self) -> tuple[dict[int, str], dict[int, str]]:
        """ONE log listing (through the LogStore's List hook — an object
        store lists via API, not a directory scan) ->
        ({version: commit_path}, {version: checkpoint_path}). Tmp files from
        in-flight/crashed commits never parse as either."""
        log_dir = os.path.join(self.path, _LOG_DIR)
        commits: dict[int, str] = {}
        ckpts: dict[int, str] = {}
        for name in self.log_store.list_dir(log_dir):
            if name.endswith(_CKPT_SUFFIX) and name[: -len(_CKPT_SUFFIX)].isdigit():
                ckpts[int(name[: -len(_CKPT_SUFFIX)])] = os.path.join(log_dir, name)
            elif name.endswith(".json") and name[:-5].isdigit():
                commits[int(name[:-5])] = os.path.join(log_dir, name)
        return commits, ckpts

    def _read_json(self, path: str) -> dict:
        got = self._json_cache.get(path)
        if got is None:
            got = json.loads(self.log_store.read_text(path))
            self._json_cache[path] = got
        return got

    def _commits(self) -> list[dict]:
        """All AVAILABLE commits, oldest first (pruned segments excluded)."""
        commits, _ = self._list_log()
        return [self._read_json(p) for _v, p in sorted(commits.items())]

    def version(self) -> int:
        """Latest committed version, -1 for an empty log. One listing, no
        JSON parse."""
        commits, ckpts = self._list_log()
        return max(list(commits) + list(ckpts), default=-1)

    def history(self) -> list[dict]:
        """Available commits, oldest first (the audit log). After a
        ``vacuum()`` log-prune, history starts at the retained window."""
        return self._commits()

    # -- resolved state (checkpoint + tail replay) ---------------------------

    @staticmethod
    def _empty_state() -> dict:
        return {
            "version": -1,
            "active": [],
            "schema": None,
            "checks": {},
            "clustering": [],
            "stats": {},
            "dvs": [],
            "dv_counts": {},
            "dv_covers": {},
            "txn": {},
            "generated": {},
            "colmap": {},
            "retired": [],
            "bloom": {},
            "props": {},
            "protocol": {"reader": [], "writer": []},
            "rowtrack": {"enabled": False, "hwm": 0},
            "defaults": {},
            "identity": {},
            "copied": {},
            "utc": None,
        }

    @staticmethod
    def _apply_commit(state: dict, c: dict) -> None:
        """Fold one commit into a resolved state dict (the single replay
        rule shared by live resolution and checkpoint writing)."""
        removed = set(c.get("removed", []))
        if removed:
            state["active"] = [f for f in state["active"] if f not in removed]
            for f in removed:
                state["stats"].pop(f, None)
        for f in c.get("added", []):
            state["active"].append(f)
            state["stats"][f] = c.get("stats", {}).get(f, {})
        if c.get("schema"):
            state["schema"] = c["schema"]
        if c.get("checks") is not None:
            state["checks"] = dict(c["checks"])
        if c.get("clustering") is not None:
            state["clustering"] = list(c["clustering"])
        if c.get("generated") is not None:
            state["generated"] = dict(c["generated"])
        if c.get("colmap") is not None:
            state["colmap"] = dict(c["colmap"])
        if c.get("retired") is not None:
            state["retired"] = list(c["retired"])
        if c.get("bloom") is not None:
            state["bloom"] = dict(c["bloom"])
        if c.get("props") is not None:
            state["props"] = dict(c["props"])
        if c.get("protocol"):
            # feature sets only ever GROW (monotone union): readers of old
            # snapshots see only the features those snapshots used
            for side in ("reader", "writer"):
                state["protocol"][side] = sorted(
                    set(state["protocol"][side])
                    | set(c["protocol"].get(side, []))
                )
        if c.get("rowtrack"):
            state["rowtrack"] = dict(c["rowtrack"])
        if c.get("defaults") is not None:
            state["defaults"] = dict(c["defaults"])
        if c.get("identity") is not None:
            state["identity"] = {k: dict(v) for k, v in c["identity"].items()}
        if c.get("copied_add"):
            # path -> load timestamp (a re-load after expiry refreshes it)
            copied = dict(state["copied"])
            for f in c["copied_add"]:
                copied[f] = c.get("utc")
            state["copied"] = copied
        for rel, b in (c.get("rowid_assign") or {}).items():
            # enable-time backfill: existing active files get their base
            # row ids without being re-added
            state["stats"][rel] = {
                **(state["stats"].get(rel) or {}), "base_row_id": b,
            }
        if "dv_reset" in c:
            surviving = set(c["dv_reset"])
            state["dvs"] = list(c["dv_reset"])
            state["dv_counts"] = {}
            for f, n in (c.get("dv_reset_counts") or {}).items():
                state["dv_counts"][f] = state["dv_counts"].get(f, 0) + n
            # per-DV covered-file map shrinks with the reset: only the
            # surviving vectors keep their entries (add-time entries never
            # change, so the filtered map IS the historical map)
            state["dv_covers"] = {
                dv: fs
                for dv, fs in state["dv_covers"].items()
                if dv in surviving
            }
        state["dvs"] = state["dvs"] + list(c.get("dv_added", []))
        for f, n in (c.get("dv_counts") or {}).items():
            state["dv_counts"][f] = state["dv_counts"].get(f, 0) + n
        if c.get("dv_added"):
            # explicit per-DV covered-file map (fsck uses it to scope a
            # missing vector's blast radius); legacy commits without it
            # fall back to the commit-level union — every DV in the commit
            # maps to all files the commit's dv_counts touched
            commit_covers = c.get("dv_covers") or {}
            legacy = sorted(c.get("dv_counts") or {})
            for dv in c["dv_added"]:
                state["dv_covers"][dv] = list(commit_covers.get(dv, legacy))
        t = c.get("txn")
        if t and t.get("app") is not None:
            prev = state["txn"].get(t["app"])
            b = t.get("batch")
            state["txn"][t["app"]] = b if prev is None else max(prev, b)
        state["version"] = c["version"]
        state["utc"] = c.get("utc") or state.get("utc")

    def _state(self, as_of: int | None = None) -> dict:
        """Fully resolved table state at ``as_of`` (default head): the
        newest checkpoint at-or-before the target plus the commit tail
        after it — O(CHECKPOINT_INTERVAL) log-file reads regardless of
        total commit count. Raises ``ValueError`` for a version outside
        the log's range and ``FileNotFoundError`` when the needed commits
        were pruned by ``vacuum()`` (the retention contract).

        Resolved states are MEMOIZED by version (a committed version's
        state is immutable): one write operation resolves state several
        times (mapping, generated rules, schema check, snapshot for the
        commit), and without the cache each resolution re-folds the
        checkpoint + tail — at a million active files that is the
        dominant driver-side cost. Callers receive a copy with fresh
        top-level containers (tail replay and DML helpers mutate them);
        the per-file stats dicts are shared read-only."""
        commits, ckpts = self._list_log()
        head = max(list(commits) + list(ckpts), default=-1)
        if head < 0:
            if as_of is not None:
                raise ValueError(f"version {as_of} not in log (empty)")
            return self._empty_state()
        target = head if as_of is None else as_of
        if target < 0 or target > head:
            raise ValueError(f"version {as_of} not in log (head is {head})")
        hit = self._state_cache.get(target)
        if hit is not None:
            self._check_reader_features(hit)
            return self._copy_state(hit)
        base_v = max((v for v in ckpts if v <= target), default=-1)
        missing = [
            v for v in range(base_v + 1, target + 1) if v not in commits
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot resolve version {target}: commit(s) "
                f"{missing[:3]}{'...' if len(missing) > 3 else ''} were pruned "
                f"from the log by vacuum and no earlier checkpoint covers them"
            )
        if base_v >= 0:
            ck = self._read_json(ckpts[base_v])
            if ck.get("manifest"):
                names = ck["manifest"]
                if isinstance(names, str):  # single-file manifest
                    names = [names]
                files = {
                    "active": [], "stats": {}, "dvs": [], "dv_counts": {},
                    "dv_covers": {},
                }
                for name in names:  # multi-part: concatenate in part order
                    part = self._read_manifest(
                        os.path.join(self.path, _LOG_DIR, name)
                    )
                    files["active"].extend(part["active"])
                    files["stats"].update(part["stats"])
                    files["dvs"].extend(part["dvs"])
                    files["dv_counts"].update(part["dv_counts"])
                    files["dv_covers"].update(part["dv_covers"])
            else:  # legacy inline-JSON checkpoint
                files = {
                    "active": list(ck.get("active") or []),
                    "stats": dict(ck.get("stats") or {}),
                    "dvs": list(ck.get("dvs") or []),
                    "dv_counts": dict(ck.get("dv_counts") or {}),
                    "dv_covers": dict(ck.get("dv_covers") or {}),
                }
            state = {
                "version": ck["version"],
                # COPY the (possibly cached) manifest containers: the tail
                # replay mutates them in place
                "active": list(files["active"]),
                "schema": ck.get("schema"),
                "checks": dict(ck.get("checks") or {}),
                "clustering": list(ck.get("clustering") or []),
                "stats": dict(files["stats"]),
                "dvs": list(files["dvs"]),
                "dv_counts": dict(files["dv_counts"]),
                "dv_covers": dict(files["dv_covers"]),
                "txn": dict(ck.get("txn") or {}),
                "generated": dict(ck.get("generated") or {}),
                "colmap": dict(ck.get("colmap") or {}),
                "retired": list(ck.get("retired") or []),
                "bloom": dict(ck.get("bloom") or {}),
                "props": dict(ck.get("props") or {}),
                "protocol": {
                    "reader": list((ck.get("protocol") or {}).get("reader", [])),
                    "writer": list((ck.get("protocol") or {}).get("writer", [])),
                },
                "rowtrack": dict(
                    ck.get("rowtrack") or {"enabled": False, "hwm": 0}
                ),
                "defaults": dict(ck.get("defaults") or {}),
                "identity": {
                    k: dict(v) for k, v in (ck.get("identity") or {}).items()
                },
                "copied": (
                    # legacy checkpoints stored a bare path list (no load
                    # times): keep those entries forever (conservative)
                    {p: None for p in ck["copied"]}
                    if isinstance(ck.get("copied"), list)
                    else dict(ck.get("copied") or {})
                ),
                "utc": ck.get("utc"),
            }
        else:
            state = self._empty_state()
        for v in range(base_v + 1, target + 1):
            self._apply_commit(state, self._read_json(commits[v]))
        if len(self._state_cache) >= 8:  # bound memory on long histories
            self._state_cache.pop(next(iter(self._state_cache)))
        self._state_cache[target] = state
        self._check_reader_features(state)
        return self._copy_state(state)

    @staticmethod
    def _copy_state(s: dict) -> dict:
        """Fresh top-level containers over shared immutable leaves."""
        return {
            "version": s["version"],
            "active": list(s["active"]),
            "schema": s["schema"],
            "checks": dict(s["checks"]),
            "clustering": list(s["clustering"]),
            "stats": dict(s["stats"]),
            "dvs": list(s["dvs"]),
            "dv_counts": dict(s["dv_counts"]),
            "dv_covers": dict(s["dv_covers"]),
            "txn": dict(s["txn"]),
            "generated": dict(s["generated"]),
            "colmap": dict(s["colmap"]),
            "retired": list(s["retired"]),
            "bloom": dict(s["bloom"]),
            "props": dict(s["props"]),
            "protocol": {
                "reader": list(s["protocol"]["reader"]),
                "writer": list(s["protocol"]["writer"]),
            },
            "rowtrack": dict(s["rowtrack"]),
            "defaults": dict(s["defaults"]),
            "identity": {k: dict(v) for k, v in s["identity"].items()},
            "copied": dict(s["copied"]),
            "utc": s["utc"],
        }

    def _read_manifest(self, path: str) -> dict:
        """Load a parquet checkpoint manifest -> {active, stats, dvs,
        dv_counts}. Columnar + cached: the file list of a million-file
        table parses as three arrow columns, not a gigabyte of JSON."""
        got = self._manifest_cache.get(path)
        if got is not None:
            return got
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        kinds = tbl.column("kind").to_pylist()
        paths = tbl.column("path").to_pylist()
        payloads = tbl.column("payload").to_pylist()
        out: dict = {
            "active": [], "stats": {}, "dvs": [], "dv_counts": {},
            "dv_covers": {},
        }
        for kind, p, payload in zip(kinds, paths, payloads):
            if kind == "data":
                out["active"].append(p)
                out["stats"][p] = json.loads(payload) if payload else {}
            elif kind == "dv":
                out["dvs"].append(p)
            elif kind == "dv_count":
                out["dv_counts"][p] = int(payload)
            elif kind == "dv_cover":
                out["dv_covers"][p] = json.loads(payload)
        self._manifest_cache[path] = out
        return out

    def write_checkpoint(self, version: int | None = None) -> str:
        """Write the compacted snapshot manifest for ``version`` (default
        head). Two parts, the Delta parquet-checkpoint design:

        - ``<v>.checkpoint.parquet`` — the FILE MANIFEST (active data
          files + per-file stats as JSON strings, DV files, DV counts) in
          columnar form. The manifest is the part that grows with table
          size; at a million files it loads as arrow columns instead of a
          gigabyte JSON parse (Delta stores checkpoint stats exactly this
          way — a ``stats`` JSON-string column in a parquet checkpoint).
        - ``<v>.checkpoint.json`` — the scalar state head (schema, checks,
          clustering, generated, column mapping, txn watermarks) plus the
          manifest pointer. Its visibility gates the whole checkpoint: the
          manifest lands first, the head commits via the LogStore
          put-if-absent, so a lost race leaves only an orphan manifest
          (identical content, later pruned) — never a head without its
          manifest.

        Idempotent under races: concurrent writers resolve identical state
        for a given version, and the put-if-absent keeps the first head."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self.version() if version is None else version
        s = self._state(v)
        kinds, paths, payloads = [], [], []
        for f in s["active"]:
            kinds.append("data")
            paths.append(f)
            payloads.append(json.dumps(s["stats"].get(f) or {}))
        for f in s["dvs"]:
            kinds.append("dv")
            paths.append(f)
            payloads.append(None)
        for f, n in s["dv_counts"].items():
            kinds.append("dv_count")
            paths.append(f)
            payloads.append(str(n))
        for dv, fs in s["dv_covers"].items():
            kinds.append("dv_cover")
            paths.append(dv)
            payloads.append(json.dumps(sorted(fs)))
        # Multi-part manifests (Delta's multi-part checkpoint design): the
        # manifest is the part that grows with table size, and ONE parquet
        # file has a practical ceiling (a single driver-side write/read of
        # ~10M+ rows). Above MANIFEST_PART_ROWS the rows split into fixed
        # -size parts written independently; the JSON head lists them, and
        # its put-if-absent still gates visibility of the whole set.
        part_rows = max(
            1, self._prop_int("manifest.partRows", int(self.MANIFEST_PART_ROWS))
        )
        n_parts = max(1, -(-len(kinds) // part_rows))
        if n_parts == 1:
            manifest_names = [f"{v:020d}.checkpoint.parquet"]
        else:
            manifest_names = [
                f"{v:020d}.checkpoint.{i + 1:05d}-of-{n_parts:05d}.parquet"
                for i in range(n_parts)
            ]
        for i, manifest_name in enumerate(manifest_names):
            manifest_path = os.path.join(self.path, _LOG_DIR, manifest_name)
            if os.path.exists(manifest_path):
                continue  # racers write identical bytes
            lo, hi = i * part_rows, (i + 1) * part_rows
            tbl = pa.table(
                {
                    "kind": kinds[lo:hi],
                    "path": paths[lo:hi],
                    "payload": payloads[lo:hi],
                },
                schema=pa.schema(
                    [("kind", pa.string()), ("path", pa.string()), ("payload", pa.string())]
                ),
            )
            tmp = manifest_path + f".tmp{uuid.uuid4().hex}"
            pq.write_table(tbl, tmp)
            os.rename(tmp, manifest_path)  # atomic; racers write identical bytes
        entry = {
            "version": v,
            "manifest": (
                manifest_names[0] if n_parts == 1 else manifest_names
            ),
            "schema": s["schema"],
            "checks": s["checks"],
            "clustering": s["clustering"],
            "txn": s["txn"],
            "generated": s["generated"],
            "colmap": s["colmap"],
            "retired": s["retired"],
            "bloom": s["bloom"],
            "props": s["props"],
            "protocol": s["protocol"],
            "rowtrack": s["rowtrack"],
            "defaults": s["defaults"],
            "identity": s["identity"],
            # load-metadata expiry happens HERE: checkpoints are where the
            # set would otherwise compound across the table's whole life
            "copied": self._retained_copied(s),
            "utc": s["utc"],
        }
        target = os.path.join(self.path, _LOG_DIR, f"{v:020d}{_CKPT_SUFFIX}")
        # a racer may already have checkpointed this version — same content,
        # put-if-absent keeps the first
        self.log_store.write_if_absent(target, json.dumps(entry))
        return target

    def _maybe_checkpoint(self, version: int) -> None:
        interval = self._prop_int("checkpoint.interval", self.CHECKPOINT_INTERVAL)
        if not interval or version <= 0:
            return
        if version % interval == 0:
            self.write_checkpoint(version)

    def version_at(self, ts: str) -> int:
        """Latest version committed at or before UTC timestamp ``ts``
        (``YYYY-MM-DDTHH:MM:SSZ`` — lexicographic compare, Delta's
        TIMESTAMP AS OF). Resolvable only within the retained log window:
        commit times come from the available commit files plus the
        checkpoint's carried timestamp; older history was pruned."""
        commits_map, ckpts = self._list_log()
        best = -1
        for v in sorted(ckpts):
            utc = self._read_json(ckpts[v]).get("utc")
            if utc is not None and utc <= ts:
                best = max(best, v)
        for v in sorted(commits_map):
            utc = self._read_json(commits_map[v]).get("utc")
            if utc is not None and utc <= ts:
                best = max(best, v)
        if best < 0:
            raise ValueError(
                f"no commit at or before {ts!r} in the retained log window"
            )
        return best

    def snapshot(self, as_of: int | None = None) -> tuple[int, list[str], str | None]:
        """(version, active data files relative to root, latest schema json).
        Resolved ONCE per call — the reader's consistent view. ``as_of``
        replays the log only through that version (time travel): immutable
        data files + append-only log mean any historical snapshot is
        reconstructible until ``vacuum()`` reclaims its files or prunes the
        log segments that version needs. Resolution cost is one checkpoint
        + the commit tail, never the whole log."""
        s = self._state(as_of)
        return s["version"], list(s["active"]), s["schema"]

    def checks(self) -> dict[str, str]:
        """Active CHECK constraints ({name: sql boolean expr}), carried
        forward commit-to-commit exactly like the schema."""
        return dict(self._state()["checks"])

    def add_check(self, name: str, expr: str) -> int:
        """Delta-style CHECK constraint: validates the EXISTING table first
        (a constraint the current data violates is refused, like Delta's
        ADD CONSTRAINT), then records it in a metadata-only commit; every
        later write verifies its staged files against all active checks
        before the commit link goes in."""
        from pyspark.sql import functions as F

        if self.version() >= 0:
            bad = self.read().filter(~F.expr(expr).cast("boolean")).limit(1).count()
            if bad:
                raise ValueError(
                    f"cannot add CHECK {name!r}: existing rows violate ({expr})"
                )
        state = self._state()
        checks = dict(state["checks"])
        checks[name] = expr
        return self._commit(
            [], lambda active: [], state["schema"], None, "set_check", None,
            checks=checks, base=(state["version"], state["schema"]),
        )

    def drop_check(self, name: str) -> int:
        state = self._state()
        checks = dict(state["checks"])
        checks.pop(name, None)
        return self._commit(
            [], lambda active: [], state["schema"], None, "set_check", None,
            checks=checks, base=(state["version"], state["schema"]),
        )

    def clustering(self) -> list[str]:
        """Active clustering columns (carried commit-to-commit like checks)."""
        return list(self._state()["clustering"])

    def set_clustering(self, cols: list[str]) -> int:
        """Declare clustering columns in table METADATA (one O(1) commit —
        the liquid-clustering idea): every later ``compact()`` /
        auto-compaction Z-orders by them unless the call overrides, so
        maintenance keeps the layout query-optimal without each caller
        re-stating the policy. Pass ``[]`` to clear."""
        state = self._state()
        schema = state["schema"]
        if schema is not None and cols:
            known = set(
                T.StructType.fromJson(json.loads(schema)).fieldNames()
            )
            unknown = [c for c in cols if c not in known]
            if unknown:
                raise ValueError(f"clustering columns not in schema: {unknown}")
        return self._commit(
            [], lambda active: [], schema, None, "set_clustering",
            extra={"clustering": list(cols)},
            base=(state["version"], schema),
        )

    def partitioning(self, as_of: int | None = None) -> list[str]:
        """The table's declared partition spec — LOGICAL column names new
        writes lay files out under (see ``set_partitioning``)."""
        spec = self._state(as_of)["props"].get("partitioning.cols")
        return [c for c in spec.split(",") if c] if spec else []

    def set_partitioning(self, cols: list[str] | None) -> int:
        """PARTITION EVOLUTION (Iceberg's published spec-evolution design;
        Delta fixes partitioning at table creation): declare the table's
        partition spec as METADATA. Writes from now on lay their files out
        under the new spec; files already written keep their old layout
        forever; readers prune BOTH eras because file skipping is per-file
        (each file's own hive path + footer stats decide, never a global
        layout) — so evolving the spec moves zero bytes at any table size.
        At 100 TB this is the difference between a fleet-week of rewrite
        and one metadata commit when the query pattern shifts (e.g. daily
        -> hourly partitions, or adding a tenant dimension).

        ``cols`` may name plain or GENERATED columns (hidden partitioning:
        declare ``day GENERATED ALWAYS AS (to_date(ts))``, then partition
        on ``day`` — raw-``ts`` predicates still prune via
        ``_derived_predicates``). ``None``/``[]`` drops the spec (new
        writes land unpartitioned). Explicit ``partition_by=`` arguments
        on individual writes still override per call."""
        state = self._state()
        if state["schema"] is None:
            raise ValueError("declare partitioning after the first write")
        names = T.StructType.fromJson(json.loads(state["schema"])).fieldNames()
        for c in cols or []:
            if "." in c:
                raise ValueError(
                    f"cannot partition by nested field {c!r}: partition "
                    "values are file-path directories (top-level only)"
                )
            if c not in names:
                raise ValueError(f"partition column {c!r} does not exist")
        return self.set_properties(
            {"partitioning.cols": ",".join(cols) if cols else None}
        )

    def _default_partition_by(
        self, partition_by: list[str] | None
    ) -> list[str] | None:
        """A write with no explicit layout inherits the declared spec."""
        if partition_by is not None:
            return partition_by
        return self.partitioning() or None

    def properties(self, as_of: int | None = None) -> dict[str, str]:
        """Active table properties ({key: value} strings — TBLPROPERTIES).
        ``as_of`` reads the map at a pinned snapshot — readers pairing a
        data read with derived scalar properties (the BM25 index's corpus
        counters) MUST take both from one version or a concurrent
        maintenance commit slips new data under stale scalars."""
        return dict(self._state(as_of)["props"])

    def set_properties(self, props: dict[str, str | None]) -> int:
        """``ALTER TABLE SET/UNSET TBLPROPERTIES``: merge ``props`` into the
        table's property map in one O(1) metadata commit (``None`` value
        removes a key). Properties persist in the log like every other
        piece of table metadata — they survive checkpoints, log pruning,
        and clones — so per-table POLICY lives with the table instead of
        in every writer's code. Recognized policy keys:

        - ``checkpoint.interval``  — commits between metadata checkpoints
          (overrides the CHECKPOINT_INTERVAL class default);
        - ``manifest.partRows``    — manifest rows per checkpoint parquet
          part (multi-part checkpoint split threshold);
        - ``autoCompact.maxFiles`` / ``autoCompact.targetFiles`` — the
          maybe_autocompact policy, read by the streaming sinks;
        - ``manifest.autoUpdate`` — regenerate the symlink-format manifest
          after every data-changing commit (Delta's
          ``symlinkFormatManifest.enabled``); declaring it validates the
          table is representable (no DVs, no column mapping) and writes
          the initial manifest.

        Unrecognized keys are stored verbatim (annotations, ownership,
        pipeline tags)."""
        state = self._state()
        if str(props.get("manifest.autoUpdate", "")).lower() == "true":
            if state["dv_counts"] or state["colmap"]:
                raise ValueError(
                    "manifest.autoUpdate requires a symlink-representable "
                    "table: no active deletion vectors (compact() first) "
                    "and no column mapping"
                )
        cur = dict(state["props"])
        for k, v in props.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = str(v)
        v = self._commit(
            [], lambda active: [], state["schema"], None, "set_properties",
            extra={"props": cur},
            base=(state["version"], state["schema"]),
        )
        if str(props.get("manifest.autoUpdate", "")).lower() == "true":
            self.generate_manifest()  # initial publish
        return v

    def _prop_int(self, key: str, default: int) -> int:
        v = self._state()["props"].get(key)
        try:
            return int(v) if v is not None else default
        except ValueError:
            return default

    def _refuse_if_append_only(self, what: str) -> None:
        """Delta's ``appendOnly`` table property: a table declared
        append-only refuses every operation that removes or rewrites
        existing rows (DELETE/UPDATE/MERGE-with-changes/overwrite/
        replaceWhere). Row-preserving maintenance — compact/Z-order,
        checkpoints, vacuum of already-unreferenced files — stays allowed,
        as in Delta. The audit-log/CDC-sink contract: history can only
        grow."""
        if str(self._state()["props"].get("appendOnly", "")).lower() == "true":
            raise ValueError(
                f"table at {self.path!r} has appendOnly=true: {what} "
                "would remove or rewrite existing rows; unset the "
                "property first if this table is not an audit log"
            )

    def bloom_index(self) -> dict[str, dict]:
        """Active bloom-index config ({logical col: {"m": bits, "k": hashes}})."""
        return dict(self._state()["bloom"])

    def set_bloom_index(
        self, cols: list[str], bits: int = 4096, hashes: int = 3,
        mode: str = "value", auto_size: bool = False,
    ) -> int:
        """Declare a BLOOM FILTER file-skipping index on ``cols`` (Delta's
        bloom filter index): one O(1) metadata commit; every LATER write
        computes a per-file bloom bitset for each indexed column
        (executor-side, one pass over the staged files) and logs it with
        the file's stats. Point predicates (``==`` / ``in``) then skip
        files the filter proves absent — the skip that works where
        every file's min/max RANGE overlaps the value (high-cardinality
        ids appended over time: ranges interleave, blooms don't).
        Existing files keep no filter (never skipped — correct, not yet
        indexed; compact() rewrites them with filters). Pass ``[]`` to
        clear. Only string/integral columns are indexable (their string
        canonicalization is identical in the Spark build and the
        driver-side probe); sizing: ~bits/8 bytes per file per column in
        the log (default 512 B), false-positive rate ~(1-e^(-k*n/m))^k.

        ``mode="trigram"`` (string columns only) builds the filter over
        the 3-grams of each value instead of whole values — the published
        ClickHouse ``ngrambf_v1`` / pg_trgm design. A SUBSTRING predicate
        ``(col, "contains", needle)`` then skips files where any trigram
        of the needle is provably absent (every trigram of a contained
        substring must occur in the file); needles under 3 chars never
        skip. This is the index for ``LIKE '%needle%'`` over a 100 TB
        text lake, where min/max and value blooms are both useless."""
        if cols:
            # validate at DECLARATION time: a bad size accepted here would
            # otherwise crash the NEXT append's _bloom_for_staged (bits not
            # a byte multiple -> short bytearray + IndexError; bits=0 ->
            # division by zero in the position expression)
            if not isinstance(bits, int) or bits <= 0 or bits % 8 != 0:
                raise ValueError(
                    f"bloom bits must be a positive multiple of 8, got {bits!r}"
                )
            if not isinstance(hashes, int) or hashes < 1:
                raise ValueError(f"bloom hashes must be >= 1, got {hashes!r}")
        if mode not in ("value", "trigram"):
            raise ValueError(f"bloom mode must be value|trigram, got {mode!r}")
        _v, _a, schema = self.snapshot()
        if schema is None and cols:
            raise ValueError("declare the bloom index after the first write")
        if cols:
            fields = {
                f.name: f.dataType
                for f in T.StructType.fromJson(json.loads(schema)).fields
            }
            ok_types = (
                (T.StringType,)
                if mode == "trigram"
                else (
                    T.StringType, T.IntegerType, T.LongType, T.ShortType,
                    T.ByteType,
                )
            )
            for c in cols:
                if c not in fields:
                    raise ValueError(f"bloom column {c!r} not in schema")
                if not isinstance(fields[c], ok_types):
                    raise ValueError(
                        f"bloom column {c!r} has type {fields[c].simpleString()}; "
                        f"only {'string' if mode == 'trigram' else 'string/integral'} "
                        "columns are indexable"
                    )
        cfg = {
            c: {"m": int(bits), "k": int(hashes), "mode": mode} for c in cols
        }
        if auto_size:
            # ``bits`` becomes the FULL-file cap (must be a power of two);
            # each staged file's filter folds to the smallest power of two
            # >= 16 bits per LOGGED row. Declares a bits-per-row contract
            # instead of a fixed size — the right shape when file sizes
            # vary 1000x (bootstrap files vs DV-merge increments), where a
            # fixed size is either log bloat on small files or saturated
            # on big ones.
            if bits & (bits - 1):
                raise ValueError(
                    f"auto_size requires power-of-two bits, got {bits!r}"
                )
            for c in cfg:
                cfg[c]["auto"] = True
        return self._commit(
            [], lambda active: [], schema, None, "set_bloom_index",
            extra={"bloom": cfg}, base=(_v, schema),
        )

    def _bloom_for_staged(
        self, relpaths: list[str], stats: dict[str, dict], colmap: dict[str, str]
    ) -> None:
        """Attach per-file bloom bitsets to ``stats`` for every indexed
        column present in the staged files. ONE distributed pass per
        indexed column over the new files only (input_file_name groups
        rows back to their file); the driver folds at most m distinct bit
        positions per file — bounded by the filter size, not the row
        count. Bitsets key by PHYSICAL column name like min/max stats;
        ``file_stats`` remaps them to logical for pruning consumers."""
        from pyspark.sql import functions as F

        cfg = self._state()["bloom"]
        if not cfg or not relpaths:
            return
        paths = [os.path.join(self.path, r) for r in relpaths]
        # driver-side fast path for SMALL staged batches (value mode):
        # the staged rows were just written (page-cache warm, footers in
        # hand) and the position math is the same _bloom_positions the
        # probe uses, so a bounded batch hashes on the driver instead of
        # paying a Spark job per commit (read + distinct + k md5
        # expressions + collect — measured ~0.5 s per keyed merge for
        # ~17k rows of work). Over the cap, or for types whose Spark
        # string cast differs from str() (anything but int/string), the
        # distributed pass below runs unchanged.
        # a file MISSING its row stat counts as over-cap (unknown size):
        # counting it as 0 rows would route arbitrarily large files into
        # the driver-side pyarrow column read (ADVICE r12)
        per_rows = [(stats.get(r) or {}).get("rows") for r in relpaths]
        total_rows = (
            sum(int(x) for x in per_rows)
            if all(x is not None for x in per_rows)
            else self.BLOOM_BUILD_DRIVER_ROWS_CAP + 1
        )
        df = None
        for lcol, bc in cfg.items():
            phys = colmap.get(lcol, lcol) if colmap else lcol
            if (
                bc.get("mode") != "trigram"
                and total_rows <= self.BLOOM_BUILD_DRIVER_ROWS_CAP
                and self._bloom_for_staged_driver(relpaths, stats, phys, bc)
            ):
                continue
            if df is None:
                df = self.spark.read.option("basePath", self.path).parquet(
                    *paths
                )
            if phys not in df.columns:
                continue  # partition column (exact path pruning) or absent
            m, k = int(bc["m"]), int(bc["k"])
            if bc.get("mode") == "trigram":
                # hash the DISTINCT 3-grams of each file, not every
                # occurrence. Two-level explode keeps the generated rows
                # NARROW: exploding trigram positions directly against the
                # value column materializes the full value per trigram row
                # (a 2 KB document x every position = GBs per staged file —
                # measured 100x the plain-append cost), so the value first
                # splits into 64-char chunks overlapping by 2 (boundary
                # trigrams preserved), and positions explode against the
                # 64-byte chunk. The early (file, trigram) distinct then
                # collapses occurrence volume to each file's trigram
                # DIVERSITY (alphabet-bounded) before any hashing.
                chunks = df.select(
                    F.input_file_name().alias("__f"),
                    F.explode_outer(
                        # length guard, twice over: a value under 3 chars
                        # has no trigram, and Spark's sequence(1, 0)
                        # counts DOWN, fabricating bogus sub-3 keys
                        F.when(
                            F.col(phys).isNotNull()
                            & (F.length(F.col(phys)) >= 3),
                            F.expr(
                                f"transform(sequence(0, CAST(ceil((length({phys})"
                                f" - 2) / 62) AS INT) - 1),"
                                f" j -> substring({phys}, j * 62 + 1, 64))"
                            ),
                        )
                    ).alias("__c"),
                )
                keyed = (
                    chunks.select(
                        "__f",
                        F.explode_outer(
                            F.when(
                                F.col("__c").isNotNull()
                                & (F.length("__c") >= 3),
                                F.sequence(F.lit(1), F.length("__c") - 2),
                            )
                        ).alias("__i"),
                        "__c",
                    )
                    .select(
                        "__f",
                        F.when(
                            F.col("__i").isNotNull(),
                            F.expr("substring(__c, __i, 3)"),
                        ).alias("__key"),
                    )
                    .distinct()
                )
            else:
                keyed = df.select(
                    F.input_file_name().alias("__f"),
                    F.col(phys).cast("string").alias("__key"),
                ).distinct()
            pos = [
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.col("__key"), F.lit(f"|{i}"))),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % m
                ).cast("int")
                for i in range(k)
            ]
            # explode_outer keeps a NULL position row for files whose every
            # row is null (or, trigram mode, shorter than 3 chars) in this
            # column, so EVERY scanned file appears in by_rel — which lets
            # us distinguish "no hashable content" (valid all-zero filter)
            # from "URI failed to normalize" (fail OPEN: attach no filter,
            # the file is never bloom-pruned). An all-zero filter attached
            # to an unmatched file would PROVE absence and silently drop
            # matching rows.
            rows = (
                keyed.select(
                    "__f",
                    F.explode_outer(
                        F.when(F.col("__key").isNotNull(), F.array(*pos))
                    ).alias("__pos"),
                )
                .distinct()
                .groupBy("__f")
                .agg(F.collect_set("__pos").alias("__ps"))
                .collect()
            )
            # URI -> staged relpath, SCHEME-AGNOSTIC: staged data files
            # carry uuid basenames, so the basename alone identifies the
            # file within this commit's batch on any store (file:, s3a:,
            # abfss:, ...). Basename collisions inside one batch (never
            # produced by this writer, but defend anyway) fall back to
            # the local-path mapping; anything still unmapped fails OPEN.
            from urllib.parse import unquote, urlparse

            by_base: dict[str, str] = {}
            dupes: set[str] = set()
            for rel in relpaths:
                b = os.path.basename(rel)
                if b in by_base:
                    dupes.add(b)
                by_base[b] = rel
            by_rel: dict[str, list[int]] = {}
            for r in rows:
                uri = r["__f"]
                base = os.path.basename(unquote(urlparse(uri).path or uri))
                rel = by_base.get(base)
                if rel is None or base in dupes:
                    p = _uri_to_local_path(uri)
                    if p is None:
                        continue  # unmappable: fail open below
                    try:
                        rel = os.path.relpath(p, self.path)
                    except ValueError:
                        continue
                by_rel[rel] = list(r["__ps"])
            self._attach_bloom_entries(relpaths, stats, by_rel, phys, bc, m, k)

    #: staged-batch row bound for the driver-side bloom build: below it
    #: the per-commit filter hashes on the driver (<= k x cap md5 calls,
    #: ~0.3 s worst case); above it the distributed pass runs — the
    #: bounded-driver-work-with-distributed-fallback pattern shared with
    #: KEYSET_CAP
    BLOOM_BUILD_DRIVER_ROWS_CAP = 65_536

    def _bloom_for_staged_driver(
        self, relpaths: list[str], stats: dict[str, dict], phys: str, bc: dict
    ) -> bool:
        """Driver-side bloom build for one indexed column over a SMALL
        staged batch: pyarrow-read just that column per file, hash the
        distinct values with the same ``_bloom_positions`` the probe
        uses (bit-for-bit the distributed build's md5 formula). Returns
        False — caller falls back to the distributed pass — when any
        file's column type is not int/string (Spark's string cast must
        equal ``str()``) or a read fails. A file lacking the column
        yields the same all-zero filter the distributed scan's NULL rows
        produce; a PARTITION column (present only in paths) attaches
        nothing, exactly like the distributed ``not in df.columns``
        skip."""
        import pyarrow as pa
        import pyarrow.parquet as _pq

        m, k = int(bc["m"]), int(bc["k"])
        by_rel: dict[str, set] = {}
        part_col = False
        for rel in relpaths:
            if phys in _partition_values(rel):
                part_col = True
                continue
            try:
                schema = _pq.read_schema(os.path.join(self.path, rel))
                if phys not in schema.names:
                    by_rel[rel] = set()  # reads as NULLs: all-zero filter
                    continue
                t = schema.field(phys).type
                if not (pa.types.is_integer(t) or pa.types.is_string(t)
                        or pa.types.is_large_string(t)):
                    return False  # cast-to-string semantics differ: fall back
                col = _pq.read_table(
                    os.path.join(self.path, rel), columns=[phys]
                ).column(0)
                pos: set[int] = set()
                for v in col.unique().to_pylist():
                    if v is None:
                        continue
                    pos.update(_bloom_positions(v, k, m))
                by_rel[rel] = pos
            except (OSError, pa.ArrowException, KeyError):
                # ANY pyarrow failure class (invalid file, unimplemented
                # encoding, memory) falls back — the distributed pass is
                # the safe default (ADVICE r12: ArrowNotImplementedError/
                # ArrowMemoryError are not ArrowInvalid subclasses)
                return False  # unreadable here: the Spark pass decides
        if part_col and by_rel:
            # mixed partition/data presence across staged files — let the
            # distributed pass resolve it (never observed from this writer)
            return False
        if not part_col:
            self._attach_bloom_entries(
                relpaths, stats, by_rel, phys, bc, m, k
            )
        return True

    def _attach_bloom_entries(
        self,
        relpaths: list[str],
        stats: dict[str, dict],
        by_rel: dict[str, list],
        phys: str,
        bc: dict,
        m: int,
        k: int,
    ) -> None:
        """Assemble per-file bloom bitsets from collected bit positions
        and attach them to ``stats`` — the shared tail of the distributed
        and driver-side builds (identical right-sizing and encoding)."""
        for rel in relpaths:
            if rel not in by_rel:
                # normalization failed to map this staged file back to a
                # scanned URI — fail OPEN (no bloom entry; min/max stats
                # still prune, the bloom just never skips this file)
                continue
            positions = by_rel[rel]
            m_eff = m
            # per-file RIGHT-SIZING (value mode, power-of-two cap
            # only): the declared bits size a FULL file; a small file
            # (DV-merge increments, tail partitions) folds to the
            # smallest power of two >= 16 bits/row. Sound because for
            # powers of two with m' | m, md5 % m' == (md5 % m) % m' —
            # the probe recomputes positions from the per-file
            # geometry it reads out of the entry. Without this, a
            # 2^20-bit cap costs 131 KB of log per 100-row file
            # (measured: the blooms were 75% of a small index's disk).
            nrows = (stats.get(rel) or {}).get("rows")
            if (
                bc.get("auto")
                and nrows is not None
                and m & (m - 1) == 0
                and bc.get("mode") != "trigram"
            ):
                want = 16 * max(int(nrows), 1)
                m_small = 1024
                while m_small < want:
                    m_small <<= 1
                if m_small < m:
                    m_eff = m_small
                    positions = {h % m_small for h in positions}
            bits = bytearray(m_eff // 8)
            for h in positions:
                bits[h >> 3] |= 1 << (h & 7)
            st = stats.setdefault(rel, {})
            entry = {
                "m": m_eff,
                "k": k,
                "b64": base64.b64encode(bytes(bits)).decode(),
            }
            if bc.get("mode") == "trigram":
                # the per-file entry is self-describing so the pruning
                # probe needs no config lookup (and an == predicate can
                # never mis-consult a trigram filter's key space)
                entry["mode"] = "trigram"
            st.setdefault("bloom", {})[phys] = entry

    def generated_columns(self) -> dict[str, str]:
        """Active generated-column definitions ({name: sql expr})."""
        return dict(self._state()["generated"])

    def set_generated_column(self, name: str, expr: str) -> int:
        """Delta-style GENERATED ALWAYS AS: declare ``name`` as computed
        from ``expr`` (SQL over the row's other columns) in one O(1)
        metadata commit. Every later ``append``/``overwrite`` either FILLS
        the column (writer omits it — the common case: derive the
        partition key once, at the table, not in every producer) or
        VALIDATES it (writer supplies it; any row where the supplied value
        differs from the expression is refused — Delta's generated-column
        write contract). The canonical lake use: ``ingest_date`` derived
        from the event timestamp, declared once, every producer partitions
        consistently."""
        from pyspark.sql import functions as F

        state = self._state()
        gen = dict(state["generated"])
        gen[name] = expr
        schema = state["schema"]
        if schema is None:
            raise ValueError(
                "declare generated columns after the first write (the "
                "expression's type is inferred against the table schema)"
            )
        extra = {"generated": gen}
        st = T.StructType.fromJson(json.loads(schema))
        if name in st.fieldNames():
            # Declaring a rule over an EXISTING column: _derived_predicates
            # immediately trusts the rule to derive partition/file pruning
            # for reads and DML, so pre-declaration rows that violate the
            # expression would be silently pruned (wrong results). Mirror
            # add_check's backfill validation: scan the active table once
            # and refuse if any stored value differs from the expression.
            # (Delta sidesteps this by only allowing generated columns at
            # table creation; validating here keeps declare-late ergonomics
            # without the correctness hole.)
            if self.version() >= 0:
                bad = (
                    self.read()
                    .filter(~F.col(name).eqNullSafe(F.expr(expr)))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ValueError(
                        f"cannot declare generated column {name!r}: existing "
                        f"rows differ from GENERATED ALWAYS AS ({expr}); "
                        "rewrite the column first or declare before data"
                    )
        else:
            # the declaration IS the DDL: evolve the schema in the SAME
            # metadata commit, typed by analyzing the expression against
            # the current schema (no data touched; pre-declaration rows
            # read as typed NULLs, exactly add_column's contract)
            dtype = (
                self.spark.createDataFrame([], st)
                .select(F.expr(expr).alias(name))
                .schema.fields[0]
                .dataType
            )
            schema = T.StructType(
                st.fields + [T.StructField(name, dtype, True)]
            ).json()
            if name in self._taken_physicals(state):
                colmap = dict(state["colmap"])
                colmap[name] = f"{name}__p{state['version'] + 1}"
                extra["colmap"] = colmap
        return self._commit(
            [], lambda active: [], schema, None, "set_generated", extra=extra,
            base=(state["version"], state["schema"]),
        )

    def drop_generated_column(self, name: str) -> int:
        """Remove the generation rule (the column itself stays in the
        schema — only the fill/validate contract ends)."""
        state = self._state()
        gen = dict(state["generated"])
        gen.pop(name, None)
        return self._commit(
            [], lambda active: [], state["schema"], None, "set_generated",
            extra={"generated": gen},
            base=(state["version"], state["schema"]),
        )

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Fill missing generated columns; validate supplied ones (null-safe
        equality — a single differing row fails the write atomically)."""
        from pyspark.sql import functions as F

        gen = self._state()["generated"]
        for name, expr in gen.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                bad = df.filter(
                    ~F.col(name).eqNullSafe(F.expr(expr))
                ).limit(1)
                if bad.count():
                    raise ValueError(
                        f"generated column {name!r} violated: supplied values "
                        f"differ from GENERATED ALWAYS AS ({expr})"
                    )
        return df

    # -- column defaults / identity / type widening --------------------------

    def column_defaults(self) -> dict[str, str]:
        return dict(self._state()["defaults"])

    def set_column_default(self, name: str, expr: str) -> int:
        """``ALTER TABLE .. ALTER COLUMN .. SET DEFAULT`` (the published
        Delta ``allowColumnDefaults`` writer feature): a metadata-only
        commit declaring that FUTURE writes which omit ``name`` fill it
        with ``expr`` evaluated at write time. Existing rows are untouched
        (they keep reading NULL — the SQL-standard/Delta split: defaults
        are a write-time contract, not a backfill). The expression must be
        constant-foldable (no column references) — the same restriction
        Delta enforces, because a row-dependent default is a generated
        column, which is its own feature (``set_generated_column``)."""
        from pyspark.sql import functions as F

        state = self._state()
        if state["schema"] is None:
            raise ValueError("set defaults after the first write")
        st = T.StructType.fromJson(json.loads(state["schema"]))
        if name not in st.fieldNames():
            raise ValueError(f"column {name!r} does not exist")
        if name in state["generated"]:
            raise ValueError(
                f"column {name!r} is GENERATED ALWAYS AS — a generated "
                "column fills itself; it cannot also carry a DEFAULT"
            )
        if name in state["identity"]:
            raise ValueError(f"column {name!r} is an identity column")
        try:
            # analyzing against a ZERO-column relation proves the
            # expression references no table columns (constant-foldable)
            self.spark.createDataFrame([], T.StructType([])).select(
                F.expr(expr).cast(st[name].dataType).alias(name)
            )
        except Exception as e:
            raise ValueError(
                f"DEFAULT for {name!r} must be a constant-foldable "
                f"expression castable to {st[name].dataType.simpleString()}:"
                f" {e}"
            ) from None
        defaults = dict(state["defaults"])
        defaults[name] = expr
        return self._commit(
            [], lambda active: [], state["schema"], None, "set_default",
            extra={"defaults": defaults},
            base=(state["version"], state["schema"]),
        )

    def drop_column_default(self, name: str) -> int:
        """``ALTER COLUMN .. DROP DEFAULT``: the fill contract ends; the
        column and already-written values stay."""
        state = self._state()
        defaults = dict(state["defaults"])
        defaults.pop(name, None)
        return self._commit(
            [], lambda active: [], state["schema"], None, "set_default",
            extra={"defaults": defaults},
            base=(state["version"], state["schema"]),
        )

    def _apply_defaults(self, df: DataFrame) -> DataFrame:
        """Fill declared defaults for columns the writer omitted (cast to
        the logged column type). Supplied columns — even explicit NULLs —
        are taken as-is: DEFAULT applies to *missing* columns, the
        INSERT-without-column-list contract."""
        from pyspark.sql import functions as F

        state = self._state()
        defaults = state["defaults"]
        if not defaults or state["schema"] is None:
            return df
        st = T.StructType.fromJson(json.loads(state["schema"]))
        for name, expr in defaults.items():
            if name not in df.columns and name in st.fieldNames():
                df = df.withColumn(
                    name, F.expr(expr).cast(st[name].dataType)
                )
        return df

    def widen_column_type(self, name: str, dtype: str) -> int:
        """``ALTER TABLE .. ALTER COLUMN .. TYPE`` (the published Delta
        ``typeWidening`` feature): change a column to a WIDER type in one
        metadata-only commit — zero data I/O at any table size. Existing
        files keep their narrow physical type; scans supply the logged
        (wide) schema and the parquet reader upcasts per file (verified
        native in Spark 4's vectorized reader for the whole matrix:
        integer chain, float->double, int->double, int/decimal->decimal
        widening, date->timestamp_ntz). Narrow-typed producers keep
        working — ``append`` upcasts their rows at the write boundary.
        Stamps the ``type-widening`` READER feature: a reader that trusted
        footer types would mis-type the scan. Time travel to pre-widening
        versions still reads the narrow type. Hive-partition columns
        refuse (their values are path strings typed by the logged schema;
        widening them would re-type pruning comparisons under old paths)."""
        state = self._state()
        if state["schema"] is None:
            raise ValueError("widen after the first write")
        if "." in name:
            raise ValueError(
                "nested-field widening is not supported; widen the "
                "top-level column or rewrite"
            )
        st = T.StructType.fromJson(json.loads(state["schema"]))
        if name not in st.fieldNames():
            raise ValueError(f"column {name!r} does not exist")
        old = st[name].dataType
        # DataType instances are accepted for sessionless callers (the
        # streaming sink's commit hook) — DDL parsing needs a live context
        new = (
            dtype
            if isinstance(dtype, T.DataType)
            else T.StructType.fromDDL(f"x {dtype}").fields[0].dataType
        )
        if not _type_widens(old, new):
            raise ValueError(
                f"cannot widen {name!r}: {old.simpleString()} -> "
                f"{new.simpleString()} is not in the lossless widening "
                "matrix (integer chain, float->double, int->double, "
                "->decimal growth, date->timestamp_ntz)"
            )
        colmap = state["colmap"]
        phys = colmap.get(name, name)
        for rel in state["active"]:
            if phys in _partition_values(rel):
                raise ValueError(
                    f"column {name!r} is a hive partition column of "
                    "active files; widening partition path typing is not "
                    "supported — rewrite (compact) first"
                )
        new_schema = T.StructType(
            [
                T.StructField(name, new, f.nullable) if f.name == name else f
                for f in st.fields
            ]
        ).json()
        return self._commit(
            [], lambda active: [], new_schema, None, "widen_column",
            extra={
                "widen": {
                    "col": name,
                    "from": old.simpleString(),
                    "to": new.simpleString(),
                }
            },
            base=(state["version"], state["schema"]),
        )

    def _widen_incoming(self, df: DataFrame) -> DataFrame:
        """Upcast incoming columns whose type is strictly NARROWER than the
        logged type (and widenable): after ``widen_column_type`` the
        pre-widening producers keep appending int data to a now-long
        column — accepted and upcast at the write boundary so every new
        file carries the wide type. Gated on the table actually carrying
        the ``type-widening`` feature: un-widened tables keep the strict
        type-exact write contract (a narrow write there is a producer bug,
        not a compatibility case)."""
        from pyspark.sql import functions as F

        state = self._state()
        schema = state["schema"]
        if schema is None or "type-widening" not in state["protocol"]["reader"]:
            return df
        ltypes = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(schema)).fields
        }
        out = []
        changed = False
        for f in df.schema.fields:
            lt = ltypes.get(f.name)
            if lt is not None and _type_widens(f.dataType, lt):
                out.append(F.col(f.name).cast(lt).alias(f.name))
                changed = True
            else:
                out.append(F.col(f.name))
        return df.select(*out) if changed else df

    def identity_columns(self) -> dict[str, dict]:
        return {k: dict(v) for k, v in self._state()["identity"].items()}

    def set_identity_column(
        self, name: str, start: int = 1, step: int = 1, always: bool = True
    ) -> int:
        """Delta's ``GENERATED {ALWAYS | BY DEFAULT} AS IDENTITY``: declare
        a NEW bigint column whose value is assigned by the table, unique
        and increasing in insertion order, stable for the row's lifetime.

        Spark-first mechanics: the value IS an affine map of the row-
        tracking id — ``start + step * _row_id`` — so assignment reuses
        the race-safe commit-time base allocation row tracking already
        does (per-file bases from a logged high-water mark inside the
        commit retry loop: no coordinator, no write-path shuffle, unique
        under concurrent writers by construction). Reads resolve
        ``coalesce(stored, start + step * _row_id)``; rewrites stay
        stable because they materialize ``__row_id``. Values are unique
        and increasing but NOT gap-free across deletes/overwrites —
        exactly Delta's published identity contract.

        ``always=True`` refuses writer-supplied values (GENERATED ALWAYS);
        ``always=False`` (BY DEFAULT) stores supplied values physically —
        uniqueness against assigned ids is then the writer's problem, as
        in Delta. Row tracking is enabled implicitly (separate commit)."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        state = self._state()
        if state["schema"] is None:
            raise ValueError("declare identity columns after the first write")
        if not state["rowtrack"].get("enabled"):
            self.enable_row_tracking()
            state = self._state()
        st = T.StructType.fromJson(json.loads(state["schema"]))
        if name in st.fieldNames():
            raise ValueError(
                f"column {name!r} already exists; identity declares a NEW "
                "column (existing values would collide with assignment)"
            )
        new_schema = T.StructType(
            st.fields + [T.StructField(name, T.LongType(), True)]
        ).json()
        extra: dict = {
            "identity": {
                **{k: dict(v) for k, v in state["identity"].items()},
                name: {"start": int(start), "step": int(step),
                       "always": bool(always)},
            }
        }
        if name in self._taken_physicals(state):
            colmap = dict(state["colmap"])
            colmap[name] = f"{name}__p{state['version'] + 1}"
            extra["colmap"] = colmap
        return self._commit(
            [], lambda active: [], new_schema, None, "set_identity",
            extra=extra, base=(state["version"], state["schema"]),
        )

    def _refuse_always_identity(self, df: DataFrame, what: str) -> None:
        ident = self._state()["identity"]
        for name, rule in ident.items():
            if rule.get("always") and name in df.columns:
                raise ValueError(
                    f"column {name!r} is GENERATED ALWAYS AS IDENTITY: "
                    f"{what} may not supply it (declare BY DEFAULT to "
                    "allow explicit values)"
                )

    def _resolve_identity(self, df: DataFrame, state: dict) -> DataFrame:
        """coalesce(stored, start + step * _row_id) for each declared
        identity column (``_row_id`` must already be attached)."""
        from pyspark.sql import functions as F

        for name, rule in state["identity"].items():
            if name in df.columns:
                df = df.withColumn(
                    name,
                    F.coalesce(
                        F.col(name),
                        (
                            F.lit(int(rule["start"]))
                            + F.lit(int(rule["step"])) * F.col("_row_id")
                        ).cast("long"),
                    ),
                )
        return df

    def _enforce_checks(self, added: list[str]) -> None:
        """Verify staged files against active checks BEFORE the commit link:
        an O(new files) columnar scan — the already-written table is never
        re-validated. On violation the staged files are removed and the
        write fails atomically (the table keeps its previous version)."""
        checks = self.checks()
        if not checks or not added:
            return
        from pyspark.sql import functions as F

        df = self.spark.read.option("basePath", self.path).parquet(
            *[os.path.join(self.path, f) for f in added]
        )
        state = self._state()
        colmap = state["colmap"]
        if colmap:
            # staged files are physical; checks speak logical
            inv = self._inv({l: p for l, p in colmap.items() if "." not in l})
            ltypes = {}
            if state["schema"]:
                ltypes = {
                    f.name: f.dataType
                    for f in T.StructType.fromJson(json.loads(state["schema"])).fields
                }

            def to_logical(c: str):
                lname = inv.get(c, c)
                expr = F.col(c)
                if _has_nested_map(colmap, lname) and lname in ltypes:
                    lt = ltypes[lname]
                    expr = _rename_struct_expr(
                        expr, _to_physical_type(lt, lname, colmap), lt
                    )
                return expr.alias(lname)

            df = df.select(*[to_logical(c) for c in df.columns])
        for name, expr in checks.items():
            n_bad = df.filter(~F.expr(expr).cast("boolean")).limit(1).count()
            if n_bad:
                self._unlink(added)
                raise ValueError(
                    f"CHECK constraint {name!r} violated by incoming rows ({expr})"
                )

    def _txn_seen(self, txn: dict | None) -> bool:
        """Idempotent-replay detection via the per-app txn WATERMARK (max
        batch id seen — Delta's ``setTransaction`` contract): a batch at or
        below the watermark was already committed. Assumes batch ids are
        monotonically increasing per app, which Structured Streaming epoch
        ids and the sync/matview version stamps guarantee; the watermark
        survives log pruning because checkpoints carry it."""
        if not txn:
            return False
        latest = self._state()["txn"].get(txn["app"])
        return latest is not None and txn["batch"] <= latest

    # -- staging -------------------------------------------------------------

    def _stage(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        colmap: dict[str, str] | None = None,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> tuple[list[str], dict[str, dict]]:
        """Write df's files into a staging dir, move them under the table
        root (immutable, invisible until committed), return (relpaths,
        per-file stats). Stats are harvested from the parquet footers the
        write already produced — a driver-side metadata read of O(new files),
        no extra Spark job (the same write-time collection Delta does).

        Logical->physical column translation happens HERE (the single
        write-side choke point): with an active column mapping the staged
        files carry physical names, keeping every file ever written
        consistent regardless of later renames. ``colmap`` overrides the
        current state's mapping for schema-introducing writes whose commit
        will carry mapping additions (the staged files must already use
        the about-to-be-committed physicals)."""
        if colmap is None:
            colmap = self._state()["colmap"]
        if colmap:
            from pyspark.sql import functions as F

            def to_phys(c: str):
                expr = F.col(c)
                if _has_nested_map(colmap, c):
                    # nested renames: CAST to the physically-named struct
                    # type — struct casts are positional (names are free),
                    # null-preserving, and types are unchanged by design
                    expr = expr.cast(
                        _all_nullable(
                            _to_physical_type(df.schema[c].dataType, c, colmap)
                        )
                    )
                return expr.alias(colmap.get(c, c))

            df = df.select(*[to_phys(c) for c in df.columns])
            partition_by = (
                [colmap.get(c, c) for c in partition_by] if partition_by else None
            )
            cluster_by = (
                [colmap.get(c, c) for c in cluster_by] if cluster_by else None
            )
        if cluster_by:
            # tight per-file key spans: range-shuffle on (partition cols,
            # cluster cols) then sort within tasks — each staged file
            # covers a narrow cluster-key range inside its partition, so
            # keyed MERGEs and point reads prune to O(touched keys) files
            # instead of every file of the partition (liquid-clustering
            # layout at write time; compact(z_order=...) restores it after
            # un-clustered increments accumulate)
            from pyspark.sql import functions as F

            cols = [
                F.col(c) for c in [*(partition_by or []), *cluster_by]
            ]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        stage = os.path.join(self.path, _STAGING, uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            # with cluster_by, a sorted task splits into SEQUENTIAL chunks
            # — each file a disjoint, tight cluster-key range even when
            # AQE coalesces the range shuffle into few tasks
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        moved: list[str] = []
        stats: dict[str, dict] = {}
        try:
            writer.parquet(stage)
            for dirpath, _dirnames, filenames in os.walk(stage):
                for name in filenames:
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(dirpath, name)
                    rel = os.path.relpath(src, stage)
                    stats[rel] = _footer_stats(src)
                    dst = os.path.join(self.path, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(src, dst)
                    moved.append(rel)
            self._bloom_for_staged(moved, stats, colmap)
        except BaseException:
            # a failed stage leaves nothing behind: not its staging dir,
            # not the files already moved under the root
            self._unlink(moved)
            raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return moved, stats

    def _unlink(self, rels) -> None:
        """Remove uncommitted table-relative files (un-staging), ignoring
        any already gone."""
        for r in rels:
            try:
                os.remove(os.path.join(self.path, r))
            except OSError:
                pass

    def _commit(
        self,
        added: list[str],
        removed_fn,
        schema_json: str,
        txn: dict | None,
        op: str,
        stats: dict[str, dict] | None = None,
        max_retries: int = 20,
        checks: dict[str, str] | None = None,
        extra: dict | None = None,
        base: tuple[int, str | None] | None = None,
        abort_on_files: bool = False,
    ) -> int:
        """Put-if-absent commit with optimistic retry. ``removed_fn`` maps the
        freshly re-read active file list -> files this commit removes (it is
        re-evaluated on every retry, so overwrites stay correct under races).

        Metadata races ABORT rather than retry: ``schema_json``/``extra``
        were computed from the caller's pre-race snapshot, so if a commit
        that lands between our first snapshot and the winning version
        carries schema/colmap/generated/checks/clustering changes, retrying
        would silently revert it with our stale copy (lost update). Delta
        raises a metadata ConcurrentModificationException here; so do we.
        Plain concurrent appends (same schema, no metadata keys) keep the
        retry fast path.

        ``base`` is the (version, schema) the CALLER derived its payload
        from. Metadata-writing callers MUST pass it: their state read
        happens strictly before ``_commit``'s first ``snapshot()``, so
        anchoring the intervening-commit scan here instead would miss a
        metadata commit landing in that gap and silently overwrite it with
        the stale merged map — exactly the lost update the abort exists to
        prevent."""
        self._enforce_checks(added)
        meta_keys = (
            "colmap", "generated", "retired", "clustering", "checks", "bloom",
            "props", "defaults", "identity", "widen", "copied_add",
        )
        feats_r: set[str] = set()
        feats_w: set[str] = set()
        if extra:
            cm = extra.get("colmap")
            if cm:
                feats_r.add("column-mapping")
                if any("." in k for k in cm):
                    feats_r.add("nested-column-mapping")
            if extra.get("dv_added") or extra.get("dv_reset"):
                feats_r.add("deletion-vectors")
            if extra.get("generated"):
                feats_w.add("generated-columns")
            if extra.get("bloom"):
                feats_w.add("bloom-index")
            if extra.get("defaults"):
                feats_w.add("default-columns")
            if extra.get("identity"):
                feats_w.add("identity-columns")
            if extra.get("widen"):
                # old readers trusting footer types would mis-type the
                # upcast scan: widening binds READERS, not just writers
                feats_r.add("type-widening")
        if checks:
            feats_w.add("check-constraints")
        if extra and (extra.get("rowtrack") or {}).get("enabled"):
            feats_w.add("row-tracking")
        feats_w |= feats_r  # every reader feature binds writers too
        # files needing base row ids (tracking on, file lacks one —
        # restored/cloned/materialized files keep theirs); recomputed per
        # retry because the base comes from the CURRENT high-water mark
        rowid_rels = (
            [r for r in sorted(added) if stats and "base_row_id" not in (stats.get(r) or {})]
            if added and stats
            else []
        )
        base_version: int | None = None
        base_schema: str | None = None
        if base is not None:
            base_version, base_schema = base
        for _ in range(max_retries):
            st_now = self._state()
            version, active, cur_schema = (
                st_now["version"], list(st_now["active"]), st_now["schema"],
            )
            # symlink-manifest tables refuse DV-introducing commits BEFORE
            # committing (a post-commit manifest regeneration cannot
            # represent DVs; refusing after the durable commit would strand
            # external readers on a stale snapshot)
            _eff_props = (
                (extra or {}).get("props")
                if (extra or {}).get("props") is not None
                else st_now["props"]
            )
            if (
                str(_eff_props.get("manifest.autoUpdate", "")).lower() == "true"
                and extra
                and (extra.get("dv_added") or extra.get("dv_reset"))
            ):
                raise ValueError(
                    "this table publishes symlink manifests "
                    "(manifest.autoUpdate=true): deletion-vector commits "
                    "would desync external readers — use mode='cow' DML, "
                    "or unset the property first"
                )
            unknown_w = set(st_now["protocol"]["writer"]) - self.WRITER_FEATURES
            if unknown_w:
                raise ValueError(
                    f"table at {self.path!r} requires writer feature(s) "
                    f"{sorted(unknown_w)} this writer does not support; "
                    "writing anyway could corrupt invariants those "
                    "features maintain"
                )
            rowtrack_entry = None
            if st_now["rowtrack"].get("enabled") and rowid_rels:
                # allocate base row ids from the snapshot's high-water
                # mark: fresh rows get (base + position) identities, the
                # commit advances the mark; a lost race re-allocates from
                # the winner's mark, so ids are unique without coordination
                hwm = int(st_now["rowtrack"]["hwm"])
                for rel in rowid_rels:
                    stats[rel]["base_row_id"] = hwm
                    hwm += int(stats[rel].get("rows") or 0)
                rowtrack_entry = {"enabled": True, "hwm": hwm}
            if base_version is None:
                base_version, base_schema = version, cur_schema
            else:
                for v in range(base_version + 1, version + 1):
                    try:
                        c = self._read_json(self._log_path(v))
                    except OSError:
                        raise TxConflictError(
                            f"commit race: intervening commit v{v} is "
                            "unreadable (concurrent vacuum?); aborting "
                            "rather than risk stale metadata"
                        ) from None
                    # did the TABLE's schema move since our snapshot?
                    # (our own schema_json may legitimately differ — we
                    # might be the evolving writer)
                    schema_changed = (
                        c.get("schema")
                        and base_schema
                        and _nullable_normalized(c["schema"])
                        != _nullable_normalized(base_schema)
                    )
                    if schema_changed or any(k in c for k in meta_keys):
                        raise TxConflictError(
                            f"metadata conflict: commit v{v} "
                            f"(op={c.get('op')!r}) changed table metadata "
                            "after this writer's snapshot; re-read the "
                            "table state and retry the operation"
                        )
                    # callers whose payload enumerates the ACTIVE FILE SET
                    # (enable_row_tracking's per-file assign map) must also
                    # abort on plain file-adding/removing commits — a race
                    # a schema/meta scan cannot see (the appended file
                    # would silently miss its payload entry forever)
                    if abort_on_files and (c.get("added") or c.get("removed")):
                        raise TxConflictError(
                            f"file-set conflict: commit v{v} "
                            f"(op={c.get('op')!r}) changed the active file "
                            "set after this writer's snapshot; recompute "
                            "the file-derived payload and retry"
                        )
                base_version, base_schema = version, cur_schema
            entry = {
                "version": version + 1,
                "op": op,
                "added": added,
                "removed": removed_fn(active),
                "schema": schema_json,
                "txn": txn,
                "stats": stats or {},
                # clamp to the previous commit's timestamp: wall clocks can
                # step backwards (NTP, host migration) and TIMESTAMP AS OF
                # / RETAIN-hours retention assume commit times never
                # decrease with version (Delta's in-commit-timestamp
                # monotonicity rule)
                "utc": max(
                    time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    st_now.get("utc") or "",
                ),
            }
            if checks is not None:
                entry["checks"] = checks
            if extra:
                entry.update(extra)
            if rowtrack_entry:
                entry["rowtrack"] = rowtrack_entry
            fw = set(feats_w) | ({"row-tracking"} if rowtrack_entry else set())
            if feats_r or fw:
                entry["protocol"] = {
                    "reader": sorted(feats_r), "writer": sorted(fw),
                }
            target = self._log_path(version + 1)
            # the commit becomes visible via ONE atomic put-if-absent —
            # the LogStore seam an object-store backend implements with a
            # conditional PUT (see LogStore)
            if self.log_store.write_if_absent(target, json.dumps(entry)):
                try:
                    self._maybe_checkpoint(version + 1)
                except Exception:  # noqa: BLE001 — checkpoint is best-effort
                    # the commit is already durable — a failed/raced
                    # checkpoint write (OSError, or pyarrow errors from the
                    # parquet manifest sidecar) must not make a successful
                    # commit look failed; the next interval retries
                    pass
                # symlink-manifest auto-update (Delta's
                # symlinkFormatManifest.enabled post-commit hook): data-
                # changing commits regenerate so external readers follow
                # the new snapshot; DV commits were refused up front, so
                # this cannot raise for representability
                eff_props = (
                    entry["props"]
                    if entry.get("props") is not None
                    else st_now["props"]
                )
                if (
                    str(eff_props.get("manifest.autoUpdate", "")).lower()
                    == "true"
                    and (entry["added"] or entry["removed"])
                ):
                    self.generate_manifest()
                return version + 1
            continue  # lost the race — re-read snapshot, retry
        raise TxConflictError(f"gave up after {max_retries} commit races")

    # -- public write ops ----------------------------------------------------

    def _check_schema(self, df: DataFrame, merge_schema: bool) -> None:
        """Delta-style write-time schema enforcement: appends must match the
        table schema (names, order, types) unless the caller opts into
        evolution. Nullability flags are NOT compared — a merge commit
        relaxes them (join outputs are nullable) and a strict source would
        otherwise be refused for a flag parquet doesn't even enforce.

        A write whose fields are a SUBSET of the table schema (same types)
        is accepted without the evolution flag: after ``add_column`` the
        pre-evolution producers keep working, and readers project the
        missing nullable columns as NULL — Delta's missing-column append
        contract."""
        _v, _files, schema = self.snapshot()
        if schema is None or merge_schema:
            return
        if _nullable_normalized(schema) == _nullable_normalized(df.schema.json()):
            return
        table_fields = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(schema)).fields
        }
        if all(
            f.name in table_fields and table_fields[f.name] == f.dataType
            for f in df.schema.fields
        ):
            return  # subset-compatible producer (pre-evolution writer)
        raise ValueError(
            "txlog schema mismatch: incoming write schema differs from the "
            "table schema; pass merge_schema=True to evolve (readers then "
            "merge parquet footers)"
        )

    def _union_schema_json(self, df: DataFrame) -> str:
        """Schema to RECORD for an append: the table schema with any new df
        fields appended (evolution widens, a subset producer never narrows
        the logged schema back down)."""
        _v, _files, schema = self.snapshot()
        if schema is None:
            return df.schema.json()
        st = T.StructType.fromJson(json.loads(schema))
        have = set(st.fieldNames())
        extra = [f for f in df.schema.fields if f.name not in have]
        if not extra:
            return schema
        return T.StructType(st.fields + extra).json()

    def add_column(self, name: str, dtype: str) -> int:
        """``ALTER TABLE ADD COLUMN`` as a METADATA-ONLY commit — no data
        file is read, rewritten, or even opened (O(1) in table size, the
        same contract as Delta's ``ADD COLUMNS``). The field is appended to
        the logged schema as nullable; files written before the evolution
        simply lack it and ``read()`` projects it as typed NULLs. Time
        travel to a pre-evolution version still shows the old schema."""
        state = self._state()
        schema = state["schema"]
        if schema is None:
            raise ValueError("cannot add a column to a never-written table")
        st = T.StructType.fromJson(json.loads(schema))
        if name in st.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        # accept a DataType instance too: DDL parsing needs an active
        # SparkContext, which callers like the streaming sink's commit
        # hook (Python data-source runner) don't have
        new_field = (
            T.StructField(name, dtype, True)
            if isinstance(dtype, T.DataType)
            else T.StructType.fromDDL(f"{name} {dtype}").fields[0]
        )
        new_schema = T.StructType(st.fields + [new_field]).json()
        colmap = dict(state["colmap"])
        if name in self._taken_physicals(state):
            # the name was used physically before (dropped column, or it is
            # some renamed column's physical): give the NEW column a fresh
            # physical name so old files' bytes can never resurface under it
            colmap[name] = f"{name}__p{state['version'] + 1}"
        return self._commit(
            [], lambda active: [], new_schema, None, "add_column",
            extra={"colmap": colmap}, base=(state["version"], state["schema"]),
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` as a METADATA-ONLY commit: the field
        leaves the logged schema, readers project it away, and the bytes in
        existing files are simply never read again (columnar scan — dropped
        columns cost nothing; the next full rewrite physically discards
        them). Time travel to a pre-drop version still shows the column.
        The dropped column's PHYSICAL name is retired: a later
        ``add_column`` with the same name gets a fresh physical name, so
        the old files' bytes can never resurface under the new column."""
        state = self._state()
        schema = state["schema"]
        if schema is None:
            raise ValueError("cannot drop a column from a never-written table")
        st = T.StructType.fromJson(json.loads(schema))
        if name not in st.fieldNames():
            raise ValueError(f"column {name!r} does not exist")
        if len(st.fields) == 1:
            raise ValueError("cannot drop the only column")
        if name in self.partitioning():
            raise ValueError(
                f"column {name!r} is in the declared partition spec: drop "
                "it from the spec first (set_partitioning / ALTER TABLE "
                "DROP PARTITION FIELD)"
            )
        colmap = dict(state["colmap"])
        retired = list(state["retired"])
        retired.append(colmap.pop(name, name))
        for k in [k for k in colmap if k.startswith(name + ".")]:
            colmap.pop(k)  # nested entries die with their column
        new_schema = T.StructType(
            [f for f in st.fields if f.name != name]
        ).json()
        extra: dict = {"colmap": colmap, "retired": retired}
        if name in state["bloom"]:
            bl = dict(state["bloom"])
            bl.pop(name)
            extra["bloom"] = bl
        if name in state["defaults"]:
            d = dict(state["defaults"])
            d.pop(name)
            extra["defaults"] = d
        if name in state["identity"]:
            ident = {k: dict(v) for k, v in state["identity"].items()}
            ident.pop(name)
            extra["identity"] = ident
        return self._commit(
            [], lambda active: [], new_schema, None, "drop_column", extra=extra,
            base=(state["version"], state["schema"]),
        )

    # -- column mapping (rename without rewrite) -----------------------------

    def column_mapping(self) -> dict[str, str]:
        """{logical name: physical name} for columns whose names diverged
        (renames, retired-name collisions). Identity entries are omitted."""
        return dict(self._state()["colmap"])

    @staticmethod
    def _inv(colmap: dict[str, str]) -> dict[str, str]:
        return {p: l for l, p in colmap.items()}

    def _parts(self, rel: str, colmap: dict[str, str] | None = None) -> dict[str, str]:
        """Hive partition values of a path with LOGICAL column keys (paths
        carry physical names). ``colmap`` defaults to the current state's."""
        parts = _partition_values(rel)
        if colmap is None:
            colmap = self._state()["colmap"]
        if not colmap:
            return parts
        inv = self._inv(colmap)
        return {inv.get(k, k): v for k, v in parts.items()}

    def _taken_physicals(self, state: dict) -> set[str]:
        """Physical names that may exist in data files: every current
        column's physical plus retired (dropped) physicals."""
        phys = set(state["retired"])
        if state["schema"]:
            st = T.StructType.fromJson(json.loads(state["schema"]))
            for f in st.fields:
                phys.add(state["colmap"].get(f.name, f.name))
        return phys

    def _colmap_for_new_fields(
        self, state: dict, new_names: list[str]
    ) -> dict[str, str] | None:
        """Mapping additions for schema-introducing writes (append with
        merge_schema, overwrite with a new schema): a NEW logical column
        whose name is a taken physical — retired by a drop, or serving as
        some mapped column's physical — gets a fresh physical name, so it
        can never read another column's bytes. Returns the extended colmap,
        or None when nothing changed."""
        taken = self._taken_physicals(state)
        colmap = dict(state["colmap"])
        changed = False
        for n in new_names:
            if n in colmap:
                continue
            if n in taken:
                colmap[n] = f"{n}__p{state['version'] + 1}"
                changed = True
        return colmap if changed else None

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` as a METADATA-ONLY commit — the
        published Delta column-mapping design: a column's PHYSICAL name (the
        name in parquet footers and partition paths) is frozen at first
        write; renames only move its LOGICAL name, recorded in the table's
        column mapping. Zero data files read or rewritten at any table
        size; writers translate logical->physical when staging, readers
        read physical and project back to logical; stats and partition
        pruning translate the same way. Time travel to a pre-rename version
        shows the old name (the mapping is versioned state like the
        schema). The change feed renders row images across a rename
        boundary under the range-end logical names (frozen physicals make
        every era readable under the current mapping).

        NESTED struct fields rename via dotted paths —
        ``rename_column("envelope.city", "town")`` (or
        ``"envelope.town"``; a dotted ``new`` must share ``old``'s
        parent). The mapping records the logical dotted path against the
        frozen physical dotted path; writers CAST the parent column to its
        physically-named struct type when staging (struct casts are
        positional and null-preserving; types and field order never
        change), readers cast back. Paths through arrays/maps are refused
        (per-element renames would need the later Delta protocol
        extension); expressions referencing the field (CHECKs, generated
        columns) refuse the rename conservatively — note the word-boundary
        scan sees ``parent.child`` spelled with a dot, not
        ``getField``-style access."""
        state = self._state()
        schema = state["schema"]
        if schema is None:
            raise ValueError("cannot rename a column on a never-written table")
        if "." in old:
            return self._rename_nested(state, old, new)
        if "." in new:
            raise ValueError(
                f"new name {new!r} is a dotted path but {old!r} is a "
                "top-level column"
            )
        st = T.StructType.fromJson(json.loads(schema))
        if old not in st.fieldNames():
            raise ValueError(f"column {old!r} does not exist")
        if new in st.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        import re as _re

        # a column referenced inside a CHECK constraint or another
        # generated-column expression cannot be renamed without breaking
        # the expression — refuse, like Delta's dependent-expression rule
        # (drop or redefine the dependent first). Word-boundary match is
        # conservative: a false positive refuses, never breaks.
        pat = _re.compile(rf"\b{_re.escape(old)}\b")
        for cname, cexpr in state["checks"].items():
            if pat.search(cexpr):
                raise ValueError(
                    f"cannot rename {old!r}: CHECK constraint {cname!r} "
                    f"references it ({cexpr}); drop or redefine it first"
                )
        for gname, gexpr in state["generated"].items():
            if gname != old and pat.search(gexpr):
                raise ValueError(
                    f"cannot rename {old!r}: generated column {gname!r} "
                    f"references it ({gexpr}); drop or redefine it first"
                )
        colmap = dict(state["colmap"])
        phys = colmap.pop(old, old)
        if new != phys:
            colmap[new] = phys
        # nested mapping keys are LOGICAL paths: an ancestor rename
        # migrates their prefix (values stay frozen-physical)
        for k in [k for k in colmap if k.startswith(old + ".")]:
            colmap[new + k[len(old):]] = colmap.pop(k)
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in st.fields
            ]
        ).json()
        extra: dict = {"colmap": colmap}
        if old in state["generated"]:
            # renaming a generated column moves its rule with it
            gen = dict(state["generated"])
            gen[new] = gen.pop(old)
            extra["generated"] = gen
        if state["clustering"] and old in state["clustering"]:
            extra["clustering"] = [
                new if c == old else c for c in state["clustering"]
            ]
        if old in state["bloom"]:
            # the bloom config migrates with the logical name; the logged
            # bitsets stay physical-keyed and keep pruning via file_stats
            bl = dict(state["bloom"])
            bl[new] = bl.pop(old)
            extra["bloom"] = bl
        if old in state["defaults"]:
            # the fill contract follows the logical name (a stale key
            # would silently stop filling after the rename)
            d = dict(state["defaults"])
            d[new] = d.pop(old)
            extra["defaults"] = d
        if old in state["identity"]:
            # identity resolution follows too — a stale key would make
            # virtual rows read NULL (the rule filters on schema names)
            ident = {k: dict(v) for k, v in state["identity"].items()}
            ident[new] = ident.pop(old)
            extra["identity"] = ident
        spec = state["props"].get("partitioning.cols")
        if spec and old in spec.split(","):
            # the declared partition spec speaks logical names: writes
            # after the rename must keep laying files out by this column
            pr = dict(state["props"])
            pr["partitioning.cols"] = ",".join(
                new if c == old else c for c in spec.split(",")
            )
            extra["props"] = pr
        return self._commit(
            [], lambda active: [], new_schema, None, "rename_column", extra=extra,
            base=(state["version"], state["schema"]),
        )

    def _rename_nested(self, state: dict, old: str, new: str) -> int:
        """Dotted-path nested-field rename (see ``rename_column``): one
        metadata commit rewriting the logged schema's field name at depth
        and recording logical-path -> frozen-physical-path in the column
        mapping. Field ORDER and TYPE never change, which is what makes
        the write/read translation a positional struct cast."""
        schema = state["schema"]
        parent_path, old_leaf = old.rsplit(".", 1)
        if "." in new:
            new_parent, new_leaf = new.rsplit(".", 1)
            if new_parent != parent_path:
                raise ValueError(
                    f"cannot rename {old!r} to {new!r}: a rename cannot "
                    "move a field to a different parent"
                )
        else:
            new_leaf = new
        new_path = f"{parent_path}.{new_leaf}"

        # navigate the LOGICAL schema to the parent struct, refusing paths
        # through arrays/maps
        st = T.StructType.fromJson(json.loads(schema))
        dtype = st
        for seg in parent_path.split("."):
            if not isinstance(dtype, T.StructType) or seg not in dtype.fieldNames():
                raise ValueError(f"path {old!r}: no struct field {seg!r}")
            dtype = dtype[seg].dataType
        if not isinstance(dtype, T.StructType):
            raise ValueError(
                f"cannot rename {old!r}: {parent_path!r} is not a struct "
                "(fields inside arrays/maps cannot be renamed)"
            )
        if old_leaf not in dtype.fieldNames():
            raise ValueError(f"field {old!r} does not exist")
        if new_leaf in dtype.fieldNames():
            raise ValueError(f"field {new_path!r} already exists")

        import re as _re

        # dotted spelling (after.city) AND the SQL bracket form
        # (after['city'] / after["city"]) — both are how a CHECK or
        # generated expression can reach the field; either refuses.
        pat = _re.compile(
            rf"\b{_re.escape(old)}\b"
            rf"|\b{_re.escape(parent_path)}\s*\[\s*['\"]"
            rf"{_re.escape(old_leaf)}['\"]\s*\]"
        )
        for cname, cexpr in state["checks"].items():
            if pat.search(cexpr):
                raise ValueError(
                    f"cannot rename {old!r}: CHECK constraint {cname!r} "
                    f"references it ({cexpr}); drop or redefine it first"
                )
        for gname, gexpr in state["generated"].items():
            if pat.search(gexpr):
                raise ValueError(
                    f"cannot rename {old!r}: generated column {gname!r} "
                    f"references it ({gexpr}); drop or redefine it first"
                )

        colmap = dict(state["colmap"])
        phys = colmap.pop(old, None) or _phys_path(colmap, old)
        # descendant keys (the renamed field may itself hold renamed
        # children): migrate their logical prefix, values stay physical
        for k in [k for k in colmap if k.startswith(old + ".")]:
            colmap[new_path + k[len(old):]] = colmap.pop(k)
        if _phys_path(colmap, new_path) != phys:
            colmap[new_path] = phys

        def rebuild(dtype, path: str):
            if not isinstance(dtype, T.StructType):
                return dtype
            fields = []
            for f in dtype.fields:
                child = f"{path}.{f.name}" if path else f.name
                name = new_leaf if child == old else f.name
                fields.append(
                    T.StructField(name, rebuild(f.dataType, child), f.nullable)
                )
            return T.StructType(fields)

        new_schema = rebuild(st, "").json()
        return self._commit(
            [], lambda active: [], new_schema, None, "rename_column",
            extra={"colmap": colmap},
            base=(state["version"], state["schema"]),
        )

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: dict | None = None,
        merge_schema: bool = False,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        props: dict[str, str | None] | None = None,
    ) -> int:
        """Atomic append; with ``txn`` a re-delivered batch is a no-op.
        ``partition_by=None`` inherits the declared partition spec.
        ``cluster_by`` range-clusters the staged files on the given
        columns within each partition (tight per-file key spans —
        see _stage); with ``max_records_per_file`` a sorted task splits
        into bounded disjoint-span files. Layout only, never content.

        ``props`` merges into the table's property map IN THE SAME commit
        (``None`` unsets) — same contract as ``overwrite``: state derived
        from the appended rows (watermarks, exact counters) must advance
        atomically with the rows or a crash between two commits skews it."""
        if self._txn_seen(txn):
            return self.version()
        partition_by = self._default_partition_by(partition_by)
        self._refuse_always_identity(df, "append")
        df = self._apply_defaults(df)
        df = self._apply_generated(df)
        df = self._widen_incoming(df)
        self._check_schema(df, merge_schema)
        state = self._state()
        have = (
            set(T.StructType.fromJson(json.loads(state["schema"])).fieldNames())
            if state["schema"]
            else set()
        )
        new_colmap = self._colmap_for_new_fields(
            state, [c for c in df.columns if c not in have]
        )
        added, stats = self._stage(
            df,
            partition_by,
            colmap=new_colmap,
            cluster_by=cluster_by,
            max_records_per_file=max_records_per_file,
        )
        extra: dict = {}
        if new_colmap is not None:
            extra["colmap"] = new_colmap
        if props is not None:
            extra["props"] = self._merged_props(state, props)
        return self._commit(
            added, lambda active: [], self._union_schema_json(df), txn, "append", stats,
            extra=extra or None,
            # props make this a metadata write: anchor the conflict scan at
            # the snapshot the merged map came from (lost-update guard)
            base=(state["version"], state["schema"]) if props is not None else None,
        )

    @staticmethod
    def _merged_props(
        state: dict, props: dict[str, str | None]
    ) -> dict[str, str]:
        """Current property map + caller deltas (``None`` unsets) — the
        full-map form every props-carrying commit logs."""
        cur = dict(state["props"])
        for k, v in props.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = str(v)
        return cur

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: dict | None = None,
        props: dict[str, str | None] | None = None,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> int:
        """Atomically replace the ENTIRE table content; with ``txn`` a
        re-delivered overwrite (same app/batch id) is a no-op. May define a
        brand-new schema: mapping entries for logical names the new schema
        keeps survive, entries for dropped names retire their physicals,
        and new names colliding with a surviving or retired physical get a
        fresh one (never two logical columns on one physical).

        ``props`` merges into the table's property map IN THE SAME commit
        (``None`` value unsets a key) — for layout-describing properties
        (e.g. the ANN index's ``ann.prefixDims``) a separate
        ``set_properties`` call would leave a window where readers see the
        new layout under the old policy."""
        if self._txn_seen(txn):
            return self.version()
        self._refuse_if_append_only("overwrite")
        spec = self.partitioning()
        partition_by = self._default_partition_by(partition_by)
        self._refuse_always_identity(df, "overwrite")
        df = self._apply_generated(df)
        state = self._state()
        new_names = set(df.columns)
        # an overwrite that drops a declared-spec column from the schema
        # ends that column's role in the spec (like defaults/identity)
        pruned_spec: list[str] | None = None
        if spec and any(c not in new_names for c in spec):
            pruned_spec = [c for c in spec if c in new_names]
            if partition_by == spec:
                partition_by = pruned_spec or None
        # the overwrite's files are the ONLY active files afterward, so the
        # mapping reduces to: keep entries for logical names the new schema
        # retains; a new name whose identity-physical collides with a kept
        # entry's physical gets a fresh one (two logical columns must never
        # share a physical within one snapshot). Retired physicals need no
        # entry — no active file carries their bytes anymore, and
        # time-travel/RESTORE resolve old snapshots under their own mapping.
        colmap = {
            l: p for l, p in state["colmap"].items() if l in new_names
        }
        kept_physicals = set(colmap.values())
        for c in df.columns:
            if c not in colmap and c in kept_physicals:
                colmap[c] = f"{c}__p{state['version'] + 1}"
        added, stats = self._stage(
            df,
            partition_by,
            colmap=colmap,
            cluster_by=cluster_by,
            max_records_per_file=max_records_per_file,
        )
        extra: dict = {"dv_reset": [], "colmap": colmap}
        if props is not None or pruned_spec is not None:
            cur = dict(state["props"])
            if pruned_spec is not None:
                if pruned_spec:
                    cur["partitioning.cols"] = ",".join(pruned_spec)
                else:
                    cur.pop("partitioning.cols", None)
            for k, v in (props or {}).items():
                if v is None:
                    cur.pop(k, None)
                else:
                    cur[k] = str(v)
            extra["props"] = cur
        # an overwrite that DROPS a column from the schema ends that
        # column's default/identity contract with it (a later add_column
        # of the same name is a NEW column and must not inherit the rule)
        if any(k not in new_names for k in state["defaults"]):
            extra["defaults"] = {
                k: v for k, v in state["defaults"].items() if k in new_names
            }
        if any(k not in new_names for k in state["identity"]):
            extra["identity"] = {
                k: dict(v)
                for k, v in state["identity"].items()
                if k in new_names
            }
        meta_write = (
            "props" in extra or "defaults" in extra or "identity" in extra
        )
        return self._commit(
            added, lambda active: list(active), df.schema.json(), txn, "overwrite",
            stats,
            extra=extra,
            # carrying props/rule prunes makes this a metadata write: anchor
            # the conflict scan at the snapshot the merged maps came from
            base=(state["version"], state["schema"]) if meta_write else None,
        )

    def overwrite_partitions(self, df: DataFrame, partition_by: list[str]) -> int:
        """Transactional dynamic partition overwrite: replace exactly the
        partition directories present in ``df`` (other partitions' files are
        untouched). The MERGE-shaped commit used by the CDC state sink.

        Applies the same GENERATED ALWAYS AS fill/validate, DEFAULT fill,
        identity refusal, widening upcast, and new-field physical-name
        guard as append/overwrite — the CDC-sink write path must not be a
        loophole around the declared-column contracts."""
        self._refuse_if_append_only("overwrite_partitions")
        self._refuse_always_identity(df, "overwrite_partitions")
        df = self._apply_defaults(df)
        df = self._apply_generated(df)
        df = self._widen_incoming(df)
        state = self._state()
        have = (
            set(T.StructType.fromJson(json.loads(state["schema"])).fieldNames())
            if state["schema"]
            else set()
        )
        new_colmap = self._colmap_for_new_fields(
            state, [c for c in df.columns if c not in have]
        )
        added, stats = self._stage(df, partition_by, colmap=new_colmap)
        touched_dirs = {os.path.dirname(rel) for rel in added}

        def removed(active: list[str]) -> list[str]:
            return [f for f in active if os.path.dirname(f) in touched_dirs]

        return self._commit(
            added, removed, df.schema.json(), None, "overwrite_partitions", stats,
            extra={"colmap": new_colmap} if new_colmap is not None else None,
        )

    def compact(
        self,
        target_files: int | None = 1,
        z_order: list[str] | None = None,
        predicates: list[tuple] | None = None,
        target_mb: int | None = None,
        curve: str | None = None,
    ) -> int:
        """Rewrite content into ``target_files`` files in ONE commit —
        the OPTIMIZE analog; concurrent readers keep their snapshot.

        ``predicates`` scopes the rewrite (OPTIMIZE ... WHERE): only files
        whose stats/partition values may match are read and replaced; the
        rest of the table is untouched — at 100 TB you compact the hot
        partition of the day, never the table. Scoping is file-granular:
        a matched file's non-matching rows are carried into the rewrite
        unchanged (content is preserved exactly, only layout changes).

        ``z_order`` defaults to the table's declared clustering columns
        (``set_clustering``) so routine maintenance keeps the layout
        query-optimal; pass an explicit list (or ``[]`` for plain
        coalesce) to override. Z-order: numeric columns to cluster by Morton (Z-) order before
        the rewrite — each output file then covers a tight min/max range on
        EVERY listed column, so ``read(predicates=...)`` skips files for
        filters on any of them (a linear sort gives that for the first
        column only). Buckets come from sampled quantiles (one
        ``approxQuantile`` pass at compact time — maintenance cost, same
        trade Delta's OPTIMIZE ZORDER makes), then the interleaved-bit key
        feeds ``repartitionByRange`` + a per-partition sort: no global
        single-partition sort anywhere.

        ``target_mb`` sizes the output from LOGGED bytes instead of a
        hand-picked file count (the OPTIMIZE file-size knob): the commit
        log records each file's size, so the target count is
        ceil(total_bytes / target_mb) — pure metadata, no storage listing.
        At 100 TB "compact to 128 MB files" is the policy you actually
        state; a fixed count is only right for small reference tables.

        ``curve`` picks the space-filling curve for the multi-column key:
        ``"z"`` (Morton interleave, default) or ``"hilbert"`` (Skilling's
        transform — the curve Delta's liquid clustering moved to: every
        consecutive key step moves ONE bucket in ONE dimension, so range
        locality is strictly better than Morton's diagonal jumps), or
        ``"linear"`` — plain lexicographic range-clustering on the listed
        columns (no interleave): the right layout when queries EQUAL-
        filter the leading column and range/point-probe the next (e.g.
        the ANN index's (bucket, vec_id) — bucket-major files with tight
        per-file vec_id spans for the keyed MERGE's key-set pruning).
        Defaults to the table's ``clustering.curve`` property, else Z."""
        if z_order is None:
            z_order = self.clustering() or None  # declared clustering policy
        if curve is None:
            curve = self._state()["props"].get("clustering.curve", "z")
        if curve not in ("z", "hilbert", "linear"):
            raise ValueError(f"curve must be z|hilbert|linear, got {curve!r}")
        keyfn = _hilbert_value if curve == "hilbert" else _zvalue
        scope = self._candidate_files(predicates) if predicates else None
        if target_mb is not None:
            stats0 = self.file_stats()
            total = sum(
                (stats0.get(f) or {}).get("bytes") or 0
                for f in (self.snapshot()[1] if scope is None else scope)
            )
            target_files = max(1, -(-total // (target_mb * 1024 * 1024)))

        def relayout(df: DataFrame) -> DataFrame:
            if z_order and curve == "linear":
                from pyspark.sql import functions as F

                cols = [F.col(c) for c in z_order]
                return df.repartitionByRange(
                    target_files, *cols
                ).sortWithinPartitions(*cols)
            if z_order:
                return (
                    df.withColumn("__z", keyfn(df, z_order))
                    .repartitionByRange(target_files, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            return df.coalesce(target_files)

        if scope is not None:
            # OPTIMIZE ... WHERE: rewrite only files the predicates may touch
            # (file-granular — a matched file's non-matching rows carry over
            # unchanged). _rewrite_files conforms the schema and keeps the
            # hive partition layout (one file per rewritten partition dir);
            # conflicts with concurrent commits abort.
            res = self._rewrite_files(scope, relayout, op="compact")
            return res["version"]
        v0 = self.version()  # scan snapshot — DV commits after it conflict
        if self._state()["rowtrack"].get("enabled"):
            # compaction must not re-mint identities: carry each row's id
            # as a materialized column through the relayout
            df = relayout(
                self.read(row_ids=True).withColumnRenamed("_row_id", "__row_id")
            )
        else:
            df = relayout(self.read())
        df = df.localCheckpoint(eager=True)
        added, stats = self._stage(df, None)

        def removed(active: list[str]) -> list[str]:
            # compact's commit resets the DV set wholesale; a DV committed
            # after our scan would be silently wiped, resurrecting rows a
            # COMMITTED delete removed — abort instead of resetting it
            clash = self._dv_conflict_since(v0, None)
            if clash:
                raise TxConflictError(
                    f"compact conflict: deletion vector committed on "
                    f"{clash!r} after the compaction's scan"
                )
            return list(active)

        logged_out = T.StructType(
            [f for f in df.schema.fields if f.name != "__row_id"]
        )
        return self._commit(
            added, removed, logged_out.json(), None, "compact",
            stats, extra={"dv_reset": []},  # DV deletes become physical here
        )

    def compact_layout(self, max_records_per_file: int | None = None) -> int:
        """Layout-preserving OPTIMIZE for incrementally-maintained index
        tables: rewrite the whole table in ONE commit keeping BOTH the
        hive partition layout (plain ``compact()`` deliberately flattens
        it — wrong for a cid/bucket-partitioned ANN index whose read path
        prunes on partition values) and the declared clustering (linear
        range-clustering within partitions — ``_stage``'s cluster_by),
        with ``max_records_per_file`` bounding each file to a tight,
        disjoint cluster-key span. This is the maintenance rewrite that
        RESTORES the bootstrap layout after trickle catch-ups fragment it
        (~1 small file per touched token/bucket per batch): candidate
        pruning receipts (SCALING.md) assume tight spans + right-sized
        blooms, both of which re-materialize here. Content is byte-for-
        byte preserved; DVs are applied physically and reset."""
        v0 = self.version()
        state0 = self._state()
        track = bool(state0["rowtrack"].get("enabled"))
        if track:
            df = self.read(row_ids=True).withColumnRenamed("_row_id", "__row_id")
        else:
            df = self.read()
        _v, active, _s = self.snapshot()
        if not active:
            return v0
        # layout comes from the DECLARED partition spec when one exists;
        # otherwise from the files — but only if every active file agrees
        # (a table whose partitioning changed across appends must not be
        # silently re-staged under the first file's layout, dropping
        # partition-value pruning for the rest)
        declared = [c for c in self.partitioning() if c in df.columns]
        if declared:
            layout = declared
        else:
            key_sets = {tuple(sorted(self._parts(f))) for f in active}
            if len(key_sets) > 1:
                raise ValueError(
                    f"compact_layout: active files carry differing "
                    f"partition key sets {sorted(key_sets)!r} and no "
                    "partition spec is declared — set_partitioning() the "
                    "intended layout first, or compact() to flatten"
                )
            layout = [k for k in self._parts(active[0]) if k in df.columns]
        cluster = [c for c in (self.clustering() or []) if c in df.columns]
        df = df.localCheckpoint(eager=True)
        added, stats = self._stage(
            df,
            layout or None,
            cluster_by=cluster or None,
            max_records_per_file=max_records_per_file,
        )

        def removed(act: list[str]) -> list[str]:
            clash = self._dv_conflict_since(v0, None)
            if clash:
                raise TxConflictError(
                    f"compact_layout conflict: deletion vector committed on "
                    f"{clash!r} after the compaction's scan"
                )
            return list(act)

        logged_out = T.StructType(
            [f for f in df.schema.fields if f.name != "__row_id"]
        )
        return self._commit(
            added, removed, logged_out.json(), None, "compact",
            stats, extra={"dv_reset": []},
        )

    # -- read / maintenance --------------------------------------------------

    # -- deletion vectors ----------------------------------------------------

    def _active_dvs(self, as_of: int | None = None) -> list[str]:
        """Active deletion-vector files (relpaths under ``_dv/``) at a
        snapshot: commits accumulate ``dv_added``; a commit carrying
        ``dv_reset`` (RESTORE) replaces the set wholesale. DV entries whose
        data files were later rewritten are inert (their (file,pos) keys
        match nothing) and are reclaimed by vacuum."""
        if as_of is not None and as_of < 0:
            return []
        return list(self._state(as_of)["dvs"])

    def _dv_counts(self, as_of: int | None = None) -> dict[str, int]:
        """Deleted-row count per data file from active DVs (log metadata)."""
        if as_of is not None and as_of < 0:
            return {}
        return dict(self._state(as_of)["dv_counts"])

    def _dv_conflict_since(self, v0: int, files: set[str] | None) -> str | None:
        """First data file proving a deletion-vector commit landed AFTER
        version ``v0`` touching ``files`` (``None`` = any file) — the
        write-write conflict a rewrite/compact that scanned at ``v0`` must
        abort on instead of silently resurrecting (rewrite) or resetting
        (compact) the concurrently committed delete. Log metadata only —
        reads just the post-``v0`` commit tail."""
        commits_map, _ = self._list_log()
        for v in sorted(commits_map):
            if v <= v0:
                continue
            for f in self._read_json(commits_map[v]).get("dv_counts", {}):
                if files is None or f in files:
                    return f
        return None

    def _dv_commit_removed_fn(self, dv_files: set[str]):
        """``removed_fn`` for DV commits: re-validated against the freshly
        read snapshot on every retry — if any data file the vector's
        (file, pos) pairs reference left the active set (concurrent
        compact/overwrite/rewrite), the delete would silently become inert,
        so abort instead (the optimistic-concurrency check CoW rewrites
        already have)."""

        def removed(active: list[str]) -> list[str]:
            gone = dv_files - set(active)
            if gone:
                raise TxConflictError(
                    f"dv commit conflict: {len(gone)} referenced data file(s) "
                    f"were replaced by a concurrent commit "
                    f"(e.g. {next(iter(gone))!r})"
                )
            return []

        return removed

    def _rel_file_expr(self):
        """``_metadata.file_path`` (file:/abs or file:///abs) -> relpath
        under the table root — the DV join key."""
        import re as _re

        from pyspark.sql import functions as F

        return F.regexp_replace(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
            "^" + _re.escape(self.path + "/"),
            "",
        )

    #: above this many active DV (file, pos) pairs the reader stops
    #: broadcasting the vector set and falls back to a shuffle anti-join —
    #: DV size is O(deleted rows), and a huge merge-on-read delete must not
    #: be forced through the broadcast limit / driver memory
    DV_BROADCAST_MAX_ROWS = 4_000_000

    #: a merge-on-read (``mode="dv"``) DELETE/UPDATE/MERGE marking more rows
    #: than this auto-routes to the copy-on-write rewrite instead: DVs exist
    #: for SMALL deltas against big files — a majority-of-table delete would
    #: serialize every (file, pos) pair through the single-task vector
    #: write and then tax every subsequent read with a huge anti-join,
    #: while CoW pays one partition-parallel rewrite and is read-free after
    DV_MAX_ROWS = 2_000_000
    #: the schema of every deletion-vector file: supplying it skips the
    #: one-task schema-inference job a bare ``spark.read.parquet`` runs
    DV_SCHEMA = "rel_file STRING, row_index BIGINT"
    #: max distinct keys collected to the driver for an ``in`` predicate
    #: (``read_keys``, ``merge_into`` pruning); past it reads semi-join
    #: and merges prune by the key column's min/max only
    KEYSET_CAP = 100_000
    #: snapshot read-plan memo bound (ADVICE r12): long-lived maintenance
    #: lifecycles commit many versions, each read under several predicate
    #: shapes — an unbounded memo pins one JVM logical plan per
    #: combination forever. FIFO-evict past this count; eviction only
    #: costs a plan re-construction on a later identical read.
    READ_PLAN_CACHE_MAX = 64

    def _scan_files(
        self,
        files: list[str],
        dvs: list[str],
        keep_pos: bool = False,
        schema_json: str | None = None,
        dv_rows: int | None = None,
        colmap: dict[str, str] | None = None,
        rowid_col: bool = False,
    ) -> DataFrame:
        """Scan a set of active data files correctly across PARTITION-LAYOUT
        GENERATIONS: one ``spark.read.parquet`` call cannot span files with
        different hive-partition signatures (rows silently vanish), so
        files are grouped by the partition-key set of their path, each
        group scanned with ``basePath``, and the groups unioned by name —
        Iceberg-style partition evolution as a read-side property.

        With ``schema_json`` the LOGGED schema is supplied to every group
        scan (the Delta model: schema comes from the log, not footers) —
        columns a generation's files lack read as NULLs, dropped columns
        are ignored, and hive partition values are typed per the log
        instead of path inference, all without footer sampling. Active
        deletion vectors are anti-joined once over the union. With
        ``keep_pos`` the (``__rf``, ``__ri``) file/position columns survive
        for DV writers."""
        from functools import reduce

        from pyspark.sql import functions as F

        if colmap is None:
            colmap = self._state()["colmap"]
        read_schema = None
        logical_types: dict[str, object] = {}
        if schema_json:
            # files carry PHYSICAL column names (frozen at first write);
            # the logged schema carries logical ones — read physical (at
            # every struct depth), project back to logical at the end
            logged = T.StructType.fromJson(json.loads(schema_json))
            logical_types = {f.name: f.dataType for f in logged.fields}
            read_schema = T.StructType(
                [
                    T.StructField(
                        colmap.get(f.name, f.name),
                        _to_physical_type(f.dataType, f.name, colmap),
                        True,
                    )
                    for f in logged.fields
                ]
            )
            if rowid_col:
                # materialized row ids (rewritten files carry the column;
                # fresh files lack it and read as NULL — the reader
                # coalesces with base + position)
                read_schema = T.StructType(
                    read_schema.fields
                    + [T.StructField("__row_id", T.LongType(), True)]
                )
        groups: dict[frozenset, list[str]] = {}
        for f in files:
            groups.setdefault(frozenset(_partition_values(f)), []).append(f)
        frames = []
        for _sig, fs in sorted(groups.items(), key=lambda kv: sorted(kv[0])):
            reader = self.spark.read.option("basePath", self.path)
            if read_schema is not None:
                reader = reader.schema(read_schema)
            df = reader.parquet(*[os.path.join(self.path, f) for f in fs])
            frames.append(
                df.withColumn("__rf", self._rel_file_expr()).withColumn(
                    "__ri", F.col("_metadata.row_index")
                )
            )
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
        if dvs:
            dvdf = self.spark.read.schema(self.DV_SCHEMA).parquet(
                *[os.path.join(self.path, f) for f in dvs]
            )
            # broadcast only while the LOGGED deleted-row total (metadata —
            # no file I/O) stays under the cap; unknown counts default to
            # broadcast (legacy commits without dv_counts are small)
            if dv_rows is None or dv_rows <= self.DV_BROADCAST_MAX_ROWS:
                dvdf = F.broadcast(dvdf)
            out = out.join(
                dvdf,
                (F.col("__rf") == F.col("rel_file"))
                & (F.col("__ri") == F.col("row_index")),
                "left_anti",
            )
        if not keep_pos:
            out = out.drop("__rf", "__ri")
        if colmap:
            inv = self._inv({l: p for l, p in colmap.items() if "." not in l})

            def to_logical(c: str):
                if c in ("__rf", "__ri", "__row_id"):
                    return F.col(c)
                lname = inv.get(c, c)
                expr = F.col(c)
                if _has_nested_map(colmap, lname) and lname in logical_types:
                    # inverse of the write-side cast: field-wise rebuild to
                    # the logically-named type (prunable, null-preserving)
                    ltype = logical_types[lname]
                    expr = _rename_struct_expr(
                        expr, _to_physical_type(ltype, lname, colmap), ltype
                    )
                return expr.alias(lname)

            out = out.select(*[to_logical(c) for c in out.columns])
        return out

    def _delete_dv(self, cands: list[str], cond) -> dict | None:
        """Merge-on-read DELETE: instead of rewriting candidate files (CoW),
        record the matching rows' (file, position) pairs as a deletion
        vector; readers anti-join them out. At 100 TB a small delete
        touches kilobytes of DV instead of rewriting gigabytes of data —
        the Delta deletion-vectors / Iceberg positional-deletes design.
        Only VISIBLE rows are marked (existing DVs apply first), so
        overlapping deletes never double-count. A later ``compact()``
        physically drops the rows and retires the DVs."""
        if not cands:
            return {"dv_rows": 0, "version": self.version()}
        scan = self._scan_files(
            cands, self._active_dvs(), keep_pos=True,
            schema_json=self._state()["schema"],
        )
        return self._commit_dv(cands, scan.filter(cond), None, "delete_dv")

    def _commit_dv(
        self,
        cands: list[str],
        marked: DataFrame,
        new_rows: DataFrame | None,
        op: str,
        props: dict[str, str | None] | None = None,
    ) -> dict | None:
        """The ONE merge-on-read commit behind DELETE, UPDATE and MERGE
        ``mode="dv"``. ``marked`` carries the (``__rf``, ``__ri``) file /
        position of every target row the statement retires; ``new_rows``
        (update copies and merge inserts, conformed to the table; ``None``
        for a delete) are appended in the same commit.

        The vector write and the new-row stage are INDEPENDENT Spark jobs,
        so they run concurrently (the statement pays max(dv, stage), not
        the sum). Per-file counts are harvested from the written vector
        driver-side — no eager checkpoint or ``groupBy().collect()`` of
        data this commit writes out anyway. A vector marking more than
        ``DV_MAX_ROWS`` rows un-stages BOTH legs and returns ``None``: the
        caller runs its copy-on-write form instead. A failure in either
        leg un-stages both before re-raising, so nothing uncommitted is
        left under the table root. Vector, new files and merged ``props``
        land in ONE commit; a statement that changed nothing commits
        nothing (or just ``props``)."""
        from pyspark.sql import functions as F

        positions = marked.select(
            F.col("__rf").alias("rel_file"), F.col("__ri").alias("row_index")
        )
        dv_stage = os.path.join(self.path, _STAGING, uuid.uuid4().hex)
        staged: list[str] = []

        def dv_leg() -> tuple[dict[str, int], list[str]]:
            import pyarrow.parquet as _pq

            positions.coalesce(1).write.mode("overwrite").parquet(dv_stage)
            counts: dict[str, int] = {}
            written: list[str] = []
            for name in sorted(os.listdir(dv_stage)):
                if not name.endswith(".parquet"):
                    continue
                fp = os.path.join(dv_stage, name)
                tbl = _pq.read_table(fp, columns=["rel_file"])
                if tbl.num_rows == 0:
                    continue
                written.append(fp)
                for s in tbl.column("rel_file").combine_chunks().value_counts():
                    rel = s["values"].as_py()
                    counts[rel] = counts.get(rel, 0) + s["counts"].as_py()
            return counts, written

        def rows_leg() -> dict[str, dict]:
            if new_rows is None:
                return {}
            # logical partition keys (self._parts translates physical path
            # keys through the column mapping — _partition_values would
            # return the physical names and stage unpartitioned on renamed
            # tables)
            layout = [k for k in self._parts(cands[0]) if k in new_rows.columns]
            added, add_stats = self._stage(new_rows, layout or None)
            staged.extend(added)
            # zero-row part files (nothing to update/insert in a task) are
            # dropped via their own footer row counts — no count() job
            empty = [r for r in added if not (add_stats.get(r) or {}).get("rows")]
            self._unlink(empty)
            for r in empty:
                add_stats.pop(r)
            return add_stats

        def unstage() -> None:
            shutil.rmtree(dv_stage, ignore_errors=True)
            self._unlink(staged)

        try:
            (counts, written), add_stats = _concurrently(dv_leg, rows_leg)
        except BaseException:
            unstage()
            raise
        if sum(counts.values()) > self.DV_MAX_ROWS:
            unstage()
            return None
        dv_rel: list[str] = []
        if counts:
            os.makedirs(os.path.join(self.path, _DV_DIR), exist_ok=True)
            for fp in written:
                rel = os.path.join(_DV_DIR, f"{uuid.uuid4().hex}.parquet")
                os.rename(fp, os.path.join(self.path, rel))
                dv_rel.append(rel)
        shutil.rmtree(dv_stage, ignore_errors=True)
        if not add_stats and not dv_rel:
            if props is not None:
                return {"dv_rows": 0, "version": self.set_properties(props)}
            return {"dv_rows": 0, "version": self.version()}
        st = self._state()
        extra = {
            "dv_added": dv_rel,
            "dv_counts": counts,
            # per-DV blast radius for fsck: each vector written by this
            # commit covers exactly these data files (coalesce(1) means
            # one vector; a multi-file write maps each to the union,
            # still tighter than a cross-commit scan)
            "dv_covers": {rel: sorted(counts) for rel in dv_rel},
        }
        base = None
        if props is not None:
            extra["props"] = self._merged_props(st, props)
            base = (st["version"], st["schema"])
        version = self._commit(
            list(add_stats),
            self._dv_commit_removed_fn(set(counts)),
            st["schema"],
            None,
            op,
            add_stats,
            extra=extra,
            base=base,
        )
        return {"dv_rows": sum(counts.values()), "version": version}

    def file_stats(self, as_of: int | None = None) -> dict[str, dict]:
        """Per-active-file footer stats with LOGICAL column keys
        (data-skipping index). Stats are recorded under physical names at
        write time (footers); this accessor translates through the column
        mapping so every pruning consumer speaks logical names. Log-only
        metadata — no file I/O."""
        state = self._state(as_of)
        stats = dict(state["stats"])
        colmap = state["colmap"]
        if not colmap:
            return stats
        inv = self._inv(colmap)

        def remap(st: dict) -> dict:
            out = dict(st)
            for key in ("min", "max", "nulls", "bloom"):
                if st.get(key):
                    out[key] = {inv.get(c, c): v for c, v in st[key].items()}
            return out

        return {f: remap(st or {}) for f, st in stats.items()}

    # -- row tracking --------------------------------------------------------

    def enable_row_tracking(self) -> int:
        """Stable row identities (the published Delta row-tracking design):
        ONE metadata commit backfills a ``base_row_id`` for every active
        file (id of row *i* of a fresh file = base + i, pure metadata);
        every later commit allocates bases for its added files from a
        logged high-water mark, and every REWRITE (compact, CoW
        DELETE/UPDATE, merge-on-read update copies) carries each row's id
        forward by materializing a ``__row_id`` column in the rewritten
        files. ``read(row_ids=True)`` exposes ``_row_id`` =
        coalesce(materialized, base + position): a row keeps its identity
        for life — across compaction, Z-ordering, updates, restores, and
        clones — which is what lets incremental consumers correlate row
        versions without a key. Ids are unique forever (the mark never
        rewinds; overwrite allocates fresh ids — those are new rows).
        Writer feature ``row-tracking``; readers need nothing (the extra
        physical column is invisible to schema-projected reads)."""
        last_err: Exception | None = None
        for _ in range(20):
            state = self._state()
            if state["schema"] is None:
                raise ValueError("enable row tracking after the first write")
            if state["rowtrack"].get("enabled"):
                return state["version"]
            hwm = 0
            assign: dict[str, int] = {}
            for rel in sorted(state["active"]):
                st = state["stats"].get(rel) or {}
                if "base_row_id" in st:
                    continue
                assign[rel] = hwm
                hwm += int(st.get("rows") or 0)
            try:
                return self._commit(
                    [], lambda active: [], state["schema"], None,
                    "enable_row_tracking",
                    extra={
                        "rowtrack": {"enabled": True, "hwm": hwm},
                        "rowid_assign": assign,
                    },
                    base=(state["version"], state["schema"]),
                    # the assign map ENUMERATES the snapshot's active files:
                    # a plain append landing between our snapshot and the
                    # commit carries no metadata (rowtrack isn't on yet for
                    # that writer) — without this, the appended file would
                    # have no base_row_id and read _row_id NULL forever.
                    # Recompute the map from the winner's state and retry.
                    abort_on_files=True,
                )
            except TxConflictError as e:
                last_err = e
                continue
        raise TxConflictError(
            f"enable_row_tracking kept losing commit races: {last_err}"
        )

    def _attach_row_ids(self, df: DataFrame, state: dict) -> DataFrame:
        """Resolve ``__row_id`` for a position-carrying scan: the
        materialized column where a rewrite wrote one, else base +
        position from the file's logged base (a broadcast of O(files)
        (rel, base) pairs — metadata-sized)."""
        from pyspark.sql import functions as F

        pairs = [
            (rel, int((state["stats"].get(rel) or {}).get("base_row_id")))
            for rel in state["active"]
            if (state["stats"].get(rel) or {}).get("base_row_id") is not None
        ]
        bdf = local_df(self.spark, pairs or [], "___rel string, ___base long")
        out = df.join(
            F.broadcast(bdf), F.col("__rf") == F.col("___rel"), "left"
        )
        return out.withColumn(
            "__row_id",
            F.coalesce(F.col("__row_id"), F.col("___base") + F.col("__ri")),
        ).drop("___rel", "___base")

    def _candidate_files(
        self, predicates: list[tuple], state: dict | None = None
    ) -> list[str]:
        """Active files of ``state`` (default: head) whose logged stats,
        blooms and partition values may hold a row matching every
        predicate — the one log-level file-pruning step behind reads,
        DML, merge, scoped compaction and ``count_rows``. Metadata only.
        Derived (generated-column) predicates join the test: they are
        implication-sound for candidate EXCLUSION (a file provably empty
        under the derived triple holds no row matching the original
        predicate either); row filtering stays the caller's originals.
        Each ``in`` list is prepared once (``_KeySet``) for every file."""
        if state is None:
            state = self._state()
        active = state["active"]
        if not active:
            return []
        stats = self.file_stats(state["version"])
        cm = state["colmap"]
        prune = [
            (c, op, _KeySet(v) if op == "in" else v)
            for c, op, v in predicates + self._derived_predicates(state, predicates)
        ]
        return [
            f for f in active if _file_may_match(stats.get(f), self._parts(f, cm), prune)
        ]

    def _derived_predicates(
        self, state: dict, predicates: list[tuple]
    ) -> list[tuple]:
        """Partition filters DERIVED from generated columns (the published
        Delta optimization): with ``ingest_date GENERATED ALWAYS AS
        to_date(ts)`` partitioning the table, a predicate on raw ``ts``
        implies one on ``ingest_date`` — monotone expressions map range
        bounds (strict ops relax to their inclusive forms: conservative,
        never wrong), equality maps pointwise and an IN list through its
        min and max (a ``>=``/``<=`` pair). The derived triples are
        used for FILE PRUNING only; row filtering stays the caller's
        original predicates. Evaluation of f(bound) runs the expression on
        a one-row literal — driver-side, per (expr, value), no table I/O.
        Any failure falls open (no derivation, no pruning lost beyond
        status quo)."""
        gens = state["generated"]
        if not gens or not predicates:
            return []
        from pyspark.sql import functions as F

        schema = state["schema"]
        fields = (
            {
                f.name: f.dataType
                for f in T.StructType.fromJson(json.loads(schema)).fields
            }
            if schema
            else {}
        )
        relax = {"==": "==", ">=": ">=", "<=": "<=", ">": ">=", "<": "<="}

        def feval(expr: str, src: str, v):
            key = (expr, src, repr(v))
            if key in self._gen_eval_cache:
                return self._gen_eval_cache[key]
            try:
                row = (
                    self.spark.range(1)
                    .select(F.lit(v).cast(fields[src]).alias(src))
                    .select(F.expr(expr).alias("__fv"))
                    .first()
                )
                out = row["__fv"]
            except Exception:  # noqa: BLE001 — fail open, never block the scan
                out = None
            self._gen_eval_cache[key] = out
            return out

        derived: list[tuple] = []
        for gcol, gexpr in gens.items():
            src = _monotone_gen_source(gexpr)
            if src is None or src not in fields:
                continue
            for col, op, value in predicates:
                if col != src:
                    continue
                if op == "in":
                    vals = [v for v in value if v is not None]
                    try:
                        bounds = [(">=", min(vals)), ("<=", max(vals))]
                    except (TypeError, ValueError):
                        continue  # empty or incomparable list: no derivation
                else:
                    bounds = [(relax[op], value)] if op in relax else []
                for gop, v in bounds:
                    fv = feval(gexpr, src, v)
                    if fv is not None:
                        derived.append((gcol, gop, fv))
        return derived

    def _distinct_keys(self, df: DataFrame, cols: list[str]) -> dict | None:
        """Per column of ``cols``, the sorted non-NULL distinct values it
        takes in ``df``, or None when ``df`` holds more than ``KEYSET_CAP``
        distinct ``cols`` tuples — the one capped driver-side key collect
        (one job) behind ``read_keys`` and ``merge_into`` pruning."""
        rows = df.select(*cols).distinct().limit(self.KEYSET_CAP + 1).collect()
        if len(rows) > self.KEYSET_CAP:
            return None
        out = {}
        for i, c in enumerate(cols):
            vals = [r[i] for r in rows if r[i] is not None]
            try:
                vals = sorted(set(vals))
            except TypeError:
                pass  # unhashable or unorderable: a repeat in an in-list is harmless
            out[c] = vals
        return out

    def read_keys(
        self, keys: DataFrame, col: str, as_of: int | None = None
    ) -> DataFrame:
        """Rows whose ``col`` is one of ``keys[col]`` (NULL keys match
        nothing). Up to ``KEYSET_CAP`` distinct keys read with an ``in``
        predicate, so file spans, partition values and blooms skip every
        file that cannot hold a key; past the cap the key set stays
        distributed — a semi-join of the full read, only file skipping is
        lost. Both regimes return the same rows."""
        vals = self._distinct_keys(keys, [col])
        if vals is not None:
            return self.read(as_of=as_of, predicates=[(col, "in", vals[col])])
        return self.read(as_of=as_of).join(
            keys.select(col).distinct(), col, "semi"
        )

    def read(
        self,
        as_of: int | None = None,
        predicates: list[tuple] | None = None,
        as_of_ts: str | None = None,
        row_ids: bool = False,
    ) -> DataFrame:
        """DataFrame over a snapshot's files (partition columns recovered via
        basePath). Empty table -> empty DF with the last committed schema.
        ``row_ids`` (requires ``enable_row_tracking``) appends ``_row_id``
        — the row's stable lifetime identity.

        ``as_of``: time travel — read the table exactly as of that version.
        ``predicates``: conjunctive ``(col, op, value)`` triples (ops
        ``== >= > <= <``). Files whose logged min/max (or hive partition
        path) prove no match are never opened — log-level data skipping, the
        same mechanism as Delta/Iceberg file pruning; at 100 TB this is the
        difference between listing-and-opening every object and touching
        only the relevant ones. The same predicates are then applied as real
        ``filter`` s, so the result equals ``read().filter(...)`` exactly.
        ``as_of_ts``: TIMESTAMP AS OF — resolves to the latest version
        committed at or before that UTC time (see ``version_at``).
        """
        if as_of_ts is not None:
            if as_of is not None:
                raise ValueError("pass as_of OR as_of_ts, not both")
            as_of = self.version_at(as_of_ts)
        state = self._state(as_of)
        _version, active, schema = state["version"], list(state["active"]), state["schema"]
        colmap = state["colmap"]
        predicates = predicates or []
        # snapshot reads are pure functions of (version, predicates,
        # row_ids) plus the DV-broadcast tunable (it gates a plan hint):
        # reuse the constructed plan (immutable DataFrame)
        cache_key = (
            _version, repr(predicates), row_ids, self.DV_BROADCAST_MAX_ROWS
        )
        cached = self._read_cache.get(cache_key)
        if cached is not None:
            return cached
        if active and predicates:
            active = self._candidate_files(predicates, state)
        if row_ids and not state["rowtrack"].get("enabled"):
            raise ValueError(
                "row_ids=True requires enable_row_tracking() on this table"
            )
        logged_names = (
            set(T.StructType.fromJson(json.loads(schema)).fieldNames())
            if schema
            else set()
        )
        # declared identity columns resolve from the row-tracking id
        # (coalesce(stored, start + step * _row_id)) — their presence
        # forces the position-carrying scan even without row_ids=True
        identity = {
            k: v for k, v in state["identity"].items() if k in logged_names
        }
        if identity and not row_ids:
            # fully-materialized fast path: when every active file RECORDS
            # zero nulls for every identity column (explicit BY DEFAULT
            # values everywhere, or every file rewritten with stored
            # values), coalesce(stored, affine) is the stored column —
            # skip the position-carrying scan. Metadata-only decision
            # (logged footer stats); a file missing the column or its
            # null count stays on the resolving path conservatively.
            fstats = self.file_stats(as_of)

            def _stored(rel: str) -> bool:
                st = fstats.get(rel) or {}
                if (st.get("rows") or 0) == 0:
                    return True  # no rows, nothing to resolve
                nulls = st.get("nulls") or {}
                return all(nulls.get(c) == 0 for c in identity)

            if all(_stored(rel) for rel in active):
                identity = {}
        need_ids = row_ids or bool(identity)
        if not active:
            st = T.StructType.fromJson(json.loads(schema)) if schema else T.StructType([])
            if row_ids:
                st = T.StructType(
                    list(st.fields) + [T.StructField("_row_id", T.LongType())]
                )
            return self.spark.createDataFrame([], st)
        from pyspark.sql import functions as F

        df = self._scan_files(
            active,
            self._active_dvs(as_of),
            schema_json=schema,
            dv_rows=sum(self._dv_counts(as_of).values()),
            colmap=colmap,
            keep_pos=need_ids,
            rowid_col=need_ids,
        )
        if need_ids:
            df = self._attach_row_ids(df, state).withColumnRenamed(
                "__row_id", "_row_id"
            ).drop("__rf", "__ri")

        if schema is not None:
            # conform to the LOGGED schema: a metadata-only add_column (or a
            # subset-producer append) leaves active files without the column —
            # project it as typed NULLs; a metadata-only drop_column leaves
            # files WITH the column — project it away (columnar scans never
            # read the dropped bytes); and restore the logged column order
            logged = T.StructType.fromJson(json.loads(schema))
            want = logged.fieldNames() + (["_row_id"] if need_ids else [])
            if df.columns != want:
                for f in logged.fields:
                    if f.name not in df.columns:
                        df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
                df = df.select(*want)
        if identity:
            df = self._resolve_identity(df, state)
        if need_ids and not row_ids:
            df = df.drop("_row_id")

        if predicates:
            df = df.filter(self._predicate_column(predicates))
        self._read_cache[cache_key] = df
        while len(self._read_cache) > self.READ_PLAN_CACHE_MAX:
            # FIFO bound (insertion-ordered dict): drop the oldest plan
            self._read_cache.pop(next(iter(self._read_cache)))
        return df

    def _predicate_column(self, predicates: list[tuple]):
        """Conjunction of ``(col, op, value)`` triples as a boolean Column —
        the same triples ``read(predicates=...)`` accepts, so file pruning
        and row filtering share one vocabulary."""
        from pyspark.sql import functions as F

        ops = {"==": "__eq__", ">=": "__ge__", ">": "__gt__", "<=": "__le__", "<": "__lt__"}
        cond = F.lit(True)
        for col, op, value in predicates:
            if op == "in":
                cond = cond & F.col(col).isin(list(value))
            elif op == "contains":
                cond = cond & F.col(col).contains(F.lit(value))
            else:
                cond = cond & getattr(F.col(col), ops[op])(F.lit(value))
        return cond

    def _rewrite_files(
        self,
        cands: list[str],
        transform,
        op: str = "rewrite",
        extra_df: DataFrame | None = None,
        extra_partition_by: list[str] | None = None,
        txn: dict | None = None,
        props: dict[str, str | None] | None = None,
    ) -> dict:
        """Copy-on-write core shared by DELETE/UPDATE/REPLACE WHERE: read
        only ``cands`` (partition columns recovered via basePath), apply
        ``transform`` (DataFrame -> DataFrame), stage the result preserving
        the hive partition layout, and commit one atomic version that
        removes exactly the candidate files. ``extra_df`` stages additional
        NEW files into the SAME commit (replace_where's incoming data).
        Untouched files keep byte identity — at 100 TB the rewrite cost
        tracks the pruned candidate set, not the table. ``props`` merges
        into the property map in the SAME commit (merge_into's atomic
        watermark/counter contract on the CoW path)."""
        if not cands:
            if props is not None:
                return {"files_rewritten": 0, "version": self.set_properties(props)}
            return {"files_rewritten": 0, "version": self.version()}
        from pyspark.sql import functions as F

        state0 = self._state()
        _v0, schema_json = state0["version"], state0["schema"]
        track = bool(state0["rowtrack"].get("enabled"))
        # layout-aware scan; DV-deleted rows must not be resurrected by a
        # copy-on-write rewrite. With row tracking on, each row's id rides
        # the rewrite as a materialized __row_id column (identity survives
        # the file replacement — the row-tracking contract).
        df = self._scan_files(
            cands, self._active_dvs(), schema_json=schema_json,
            keep_pos=track, rowid_col=track,
        )
        if track:
            df = self._attach_row_ids(df, state0).drop("__rf", "__ri")
        out = transform(self._conform(df, schema_json))
        part_cols = [
            k for k in self._parts(cands[0]) if k in out.columns
        ]
        if part_cols:
            # one output file per rewritten partition dir instead of
            # shuffle-partition-count tiny files per dir — the write-side
            # small-files guard; the shuffle moves only the rewritten rows
            out = out.repartition(*[F.col(c) for c in part_cols])
        # the stage is the rewrite's only consumer: no checkpoint before it
        added, stats = self._stage(out, part_cols or None)
        if extra_df is not None:
            try:
                added2, stats2 = self._stage(extra_df, extra_partition_by)
            except BaseException:
                self._unlink(added)  # the rewrite leg is already staged
                raise
            added = added + added2
            stats = {**stats, **stats2}
        cand_set = set(cands)

        def removed(active: list[str]) -> list[str]:
            missing = cand_set - set(active)
            if missing:
                # a concurrent commit (compact, overwrite, another rewrite)
                # already replaced a file we rewrote from — committing would
                # silently resurrect its rows. Same write-write conflict
                # Delta aborts on.
                raise TxConflictError(
                    f"rewrite conflict: {len(missing)} candidate file(s) were "
                    f"removed by a concurrent commit (e.g. {next(iter(missing))!r})"
                )
            # a DV committed on a candidate AFTER our scan would be silently
            # undone (the rewrite's output still carries the rows, and
            # removing the file makes the vector inert) — abort instead
            clash = self._dv_conflict_since(_v0, cand_set)
            if clash:
                raise TxConflictError(
                    f"rewrite conflict: deletion vector committed on "
                    f"candidate file {clash!r} after the rewrite's scan"
                )
            return list(cand_set)

        out_schema = T.StructType(
            [f for f in out.schema.fields if f.name != "__row_id"]
        )
        extra = None
        base = None
        if props is not None:
            extra = {"props": self._merged_props(state0, props)}
            base = (state0["version"], state0["schema"])
        version = self._commit(
            added, removed, out_schema.json(), txn, op, stats,
            extra=extra, base=base,
        )
        return {"files_rewritten": len(cands), "version": version}

    def replace_where(
        self,
        df: DataFrame,
        predicates: list[tuple],
        partition_by: list[str] | None = None,
        txn: dict | None = None,
    ) -> dict:
        """Delta's ``replaceWhere``: atomically replace exactly the rows
        matching ``predicates`` with ``df`` — ONE commit, so readers never
        observe the gap a delete-then-append pair exposes and a crash
        between the two cannot lose the region. The idempotent-backfill
        contract: re-landing one day/partition/key-range is a single
        transactional statement, re-runnable with ``txn``.

        Constraint (same as Delta): every incoming row must satisfy the
        predicate — a backfill that writes outside its declared region is
        refused before anything stages. Candidate files come from logged
        stats/partition pruning, so replacing one region rewrites only the
        files whose min/max overlap it; the carried (non-matching) rows of
        those files are preserved with DVs applied. A region no current
        file overlaps degenerates to a plain append — still one commit."""
        from pyspark.sql import functions as F

        if self._txn_seen(txn):
            return {"files_rewritten": 0, "version": self.version()}
        self._refuse_if_append_only("replaceWhere")
        self._refuse_always_identity(df, "replace_where")
        df = self._apply_defaults(df)
        df = self._apply_generated(df)
        df = self._widen_incoming(df)
        self._check_schema(df, False)
        cond = self._predicate_column(predicates)
        bad = df.filter(~F.coalesce(cond.cast("boolean"), F.lit(False))).limit(1)
        if bad.count():
            raise ValueError(
                f"replace_where: incoming rows fall outside the replaced "
                f"region {predicates!r} (Delta's replaceWhere constraint)"
            )
        cands = self._candidate_files(predicates)
        if not cands:
            version = self.append(df, partition_by=partition_by, txn=txn)
            return {"files_rewritten": 0, "version": version}
        # carried rows: same NOT(pred) convention as delete_where (null-pred
        # rows drop, matching the SQL-oracle WHERE NOT(...) semantics)
        return self._rewrite_files(
            cands,
            lambda d: d.filter(~cond),
            op="replace_where",
            extra_df=df,
            extra_partition_by=partition_by,
            txn=txn,
        )

    def delete_where(self, predicates: list[tuple], mode: str = "cow") -> dict:
        """DELETE rows matching ALL ``predicates`` (the ``read()`` triple
        vocabulary). Log-level stats + partition values prune the candidate
        file set first: files whose min/max prove no match are never opened.

        ``mode="cow"`` (default) rewrites candidate files without the
        matching rows — read-optimal, write cost tracks candidate size.
        ``mode="dv"`` records deletion vectors instead (merge-on-read): a
        small delete against a huge table writes kilobytes, readers
        anti-join the (file, position) pairs, and the next ``compact()``
        makes it physical — the Delta DV / Iceberg positional-delete trade.
        ``DV_MAX_ROWS`` is judged on the staged vector: one marking more
        rows is discarded unlogged and the delete runs copy-on-write.
        A predicate wholly outside the table's range is a commit-free no-op
        in both modes."""
        self._refuse_if_append_only("DELETE")
        cands = self._candidate_files(predicates)
        cond = self._predicate_column(predicates)
        if mode == "dv":
            res = self._delete_dv(cands, cond)
            if res is not None:
                return res
        return self._rewrite_files(cands, lambda df: df.filter(~cond))

    def update_where(
        self, predicates: list[tuple], assignments: dict, mode: str = "cow"
    ) -> dict:
        """UPDATE rows matching ALL ``predicates``: each ``assignments``
        column is replaced by its expression (a Column or SQL string).

        ``mode="cow"`` rewrites candidate files (non-matching rows pass
        through unchanged). ``mode="dv"`` is merge-on-read: the OLD row
        positions land in a deletion vector and only the UPDATED copies are
        appended, both in ONE atomic commit — a small update against a huge
        table writes the changed rows plus kilobytes of vector (the
        Delta-with-DV UPDATE shape). ``DV_MAX_ROWS`` is judged on the
        staged vector: one marking more rows is discarded unlogged, with
        its staged copies, and the update runs copy-on-write."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        self._refuse_if_append_only("UPDATE")
        ident = self._state()["identity"]
        for col in assignments:
            if (ident.get(col) or {}).get("always"):
                raise ValueError(
                    f"column {col!r} is GENERATED ALWAYS AS IDENTITY: "
                    "UPDATE may not assign it"
                )
        cands = self._candidate_files(predicates)
        cond = self._predicate_column(predicates)
        news = {
            col: expr if isinstance(expr, Column) else F.expr(expr)
            for col, expr in assignments.items()
        }
        if mode == "dv":
            res = self._update_dv(cands, cond, news)
            if res is not None:
                return res

        def apply(df):
            for col, new in news.items():
                df = df.withColumn(col, F.when(cond, new).otherwise(F.col(col)))
            return df

        return self._rewrite_files(cands, apply)

    def _update_dv(self, cands: list[str], cond, news: dict) -> dict | None:
        """Merge-on-read UPDATE: the matched rows' old positions are the
        vector, their updated copies the new rows of one ``_commit_dv``.
        With row tracking on, each copy carries its row's identity
        materialized (the old position is DV-hidden)."""
        if not cands:
            return {"dv_rows": 0, "version": self.version()}
        state = self._state()
        track = bool(state["rowtrack"].get("enabled"))
        matched = self._scan_files(
            cands, self._active_dvs(), keep_pos=True,
            schema_json=state["schema"], rowid_col=track,
        ).filter(cond)
        updated = self._attach_row_ids(matched, state) if track else matched
        updated = updated.drop("__rf", "__ri")
        for col, new in news.items():
            updated = updated.withColumn(col, new)
        return self._commit_dv(
            cands, matched, self._conform(updated, state["schema"]), "update_dv"
        )

    def _conform(self, df: DataFrame, schema_json: str | None) -> DataFrame:
        """``df`` in the logged schema's column order and types with
        nullability relaxed (join/when outputs are nullable and ``.to()``
        refuses to tighten; a nullable-flag difference only costs readers
        a footer mergeSchema). Hive partition columns come back
        TYPE-INFERRED from path strings (bucket=0 -> int, not the logged
        long); committing that drift would fail later strict appends.
        Logged columns ``df`` lacks (files older than an add_column)
        project as typed NULLs; extra ones (older than a drop_column)
        drop. A materialized ``__row_id`` rides along last. Without a
        logged schema ``df`` is returned as is."""
        if not schema_json:
            return df
        from pyspark.sql import functions as F

        fields = [
            T.StructField(f.name, f.dataType, True)
            for f in T.StructType.fromJson(json.loads(schema_json)).fields
        ]
        for f in fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        if "__row_id" in df.columns:
            fields.append(T.StructField("__row_id", T.LongType(), True))
        return df.select(*[f.name for f in fields]).to(T.StructType(fields))

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        delete_when=None,
        update: bool = True,
        insert: bool = True,
        partition_by: list[str] | None = None,
        mode: str = "cow",
        props: dict[str, str | None] | None = None,
        source_materialized: bool = False,
    ) -> dict:
        """Delta-style ``MERGE INTO`` keyed on the ``on`` columns:

        - target rows matching a source key are replaced by the source row
          (``update=True``), kept as-is (``update=False`` — insert-only
          merge), or dropped when ``delete_when`` (a Column/SQL boolean over
          SOURCE columns, e.g. ``"after IS NULL"`` for CDC tombstones) holds;
        - source rows with no target match are inserted (``insert=True``),
          unless they are deletes.

        Scale shape: only files that may hold a source key are read and
        rewritten — the batch's distinct key tuples, collected once, give
        each key column an ``in`` list for the same evaluator as
        ``read_keys`` (``_candidate_files``: hive partition values, logged
        per-key min/max, blooms; a key column past ``KEYSET_CAP`` distinct
        values prunes by its span). A merge of a
        small batch into a huge table touches the few files its keys land
        in, which is why the table should be laid out by a key-derived
        partition (``partition_by``, used when the table is created by
        the first merge). The no-match insert anti-join runs against
        candidate files only: pruning PROVES non-candidates hold no
        matching key. Source must carry every target column and be
        key-unique (reduce CDC streams to latest-per-key first — the
        ``operators.cdc.latest_state`` shape); duplicate source keys would
        fan out matched target rows, as in Delta's multiple-match error.
        Conflicts with concurrent commits abort (see ``_rewrite_files``).

        ``mode="dv"`` merges on-read: matched rows are deletion-vectored
        (updates additionally append the source image), so write cost is
        O(changed + inserted rows) — candidate files are never rewritten.
        The upsert shape (``update`` and ``insert``, no row tracking — the
        index folds and the latest-state sinks) reads the candidates once:
        the key-unique source's non-deleted rows are the new rows, and the
        candidate rows passing the key ``in`` lists are the vector.

        ``props`` merges into the table's property map ATOMICALLY with the
        merge (``None`` unsets): the data-changing commit carries the full
        merged map, and when the merge degenerates to a content no-op the
        props land in a single ``set_properties`` commit instead — either
        way a crash can never separate the merged rows from derived state
        like watermarks or exact delta-maintained counters (the BM25
        index's ``bm25.nDocs``/``bm25.totalDl``/``bm25.srcVersion``).
        """
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        for name, rule in self._state()["identity"].items():
            if rule.get("always"):
                raise ValueError(
                    f"MERGE INTO a table with GENERATED ALWAYS AS IDENTITY "
                    f"column {name!r} is not supported (the source must "
                    "carry every target column, which ALWAYS forbids — "
                    "the same restriction Delta documents); declare BY "
                    "DEFAULT or use append/update_where"
                )
        if update or delete_when is not None:
            # insert-only merges only touch new rows and stay legal
            self._refuse_if_append_only("MERGE with update/delete clauses")
        # generated-column contract holds on the MERGE path too: fill a
        # missing generated column from its rule, refuse contradicting
        # supplied values (no-op when the table declares none)
        src = self._apply_generated(source)
        if delete_when is not None:
            cond = delete_when if isinstance(delete_when, Column) else F.expr(delete_when)
            src = src.withColumn("__s_del", cond.cast("boolean"))
        else:
            src = src.withColumn("__s_del", F.lit(False))
        if not source_materialized:
            # the merge references its source several times (bounds/keyset
            # collects, matched update, no-match anti-join) — pin it once.
            # Callers that ALREADY hand over a locally-checkpointed source
            # (the index apply_changes family) pass source_materialized to
            # skip a second full materialization job; re-evaluating the
            # projection above over checkpointed blocks is free.
            src = src.localCheckpoint(eager=True)

        version, active, _schema = self.snapshot()
        if version < 0 or not active:
            out = src.filter(~F.col("__s_del")).drop("__s_del") if insert else None
            if out is None:
                if props is not None:
                    return {
                        "files_rewritten": 0, "version": self.set_properties(props)
                    }
                return {"files_rewritten": 0, "version": version}
            self.append(out, partition_by=partition_by, props=props)
            return {"files_rewritten": 0, "version": self.version()}

        # candidate files: ONE capped collect of the distinct key tuples
        # (``_distinct_keys``) gives every merge key its ``in`` list for the
        # shared evaluator of ``_candidate_files`` — partition values, each
        # file's span bisected against the sorted keys, blooms — so a small
        # batch of scattered keys touches only the files that may hold one.
        # Past KEYSET_CAP tuples each key column is collected alone, and a
        # column past the cap by itself prunes by its min/max (one aggregate).
        keys = self._distinct_keys(src, list(on))
        if keys is None and len(on) > 1:
            keys = {}
            for k in on:
                keys.update(self._distinct_keys(src, [k]) or {})
        keys = keys or {}
        preds = [(k, "in", keys[k]) for k in on if k in keys]
        need_agg = [k for k in on if k not in keys]
        if need_agg:
            bounds = src.agg(
                *[F.min(k).alias(f"lo_{k}") for k in need_agg],
                *[F.max(k).alias(f"hi_{k}") for k in need_agg],
            ).first()
            for k in need_agg:
                if bounds[f"lo_{k}"] is not None:
                    preds.append((k, ">=", bounds[f"lo_{k}"]))
                if bounds[f"hi_{k}"] is not None:
                    preds.append((k, "<=", bounds[f"hi_{k}"]))
        cands = self._candidate_files(preds)

        # target columns come from the LOGGED schema — constructing a full
        # table scan just to ask for .columns costs a multi-group plan
        # build per merge (profiled as a fixed driver-side tax on every
        # keyed merge); the log is authoritative (Delta model)
        target_cols = (
            T.StructType.fromJson(json.loads(_schema)).fieldNames()
            if _schema
            else self.read().columns
        )

        if not cands:
            # pruning PROVES no target file holds a source key: every
            # non-delete source row is an insert, appended without touching
            # any existing file (preserving the table's partition layout)
            if not insert:
                if props is not None:
                    return {
                        "files_rewritten": 0, "version": self.set_properties(props)
                    }
                return {"files_rewritten": 0, "version": version}
            out = self._conform(
                src.filter(~F.col("__s_del")).select(*target_cols), _schema
            )
            layout = [
                k for k in _partition_values(active[0]) if k in target_cols
            ]
            # merge_schema: conform already fixed order+types; only the
            # nullable flags may differ from the table's logged schema
            self.append(out, partition_by=layout or None, merge_schema=True, props=props)
            return {"files_rewritten": 0, "version": self.version()}

        def transform(tdf: DataFrame) -> DataFrame:
            s_renamed = src.select(
                *[F.col(k) for k in on],
                *[
                    F.col(c).alias(f"__s_{c}")
                    for c in src.columns
                    if c not in on and c != "__s_del"
                ],
                F.col("__s_del"),
                F.lit(True).alias("__s_hit"),
            )
            joined = tdf.join(s_renamed, on, "left")
            matched = F.col("__s_hit").isNotNull()
            kept = joined.filter(~(matched & F.coalesce(F.col("__s_del"), F.lit(False))))
            cols = []
            for c in target_cols:
                if update and c not in on:
                    cols.append(
                        F.when(matched, F.col(f"__s_{c}")).otherwise(F.col(c)).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            track_ids = "__row_id" in tdf.columns
            if track_ids:
                cols.append(F.col("__row_id"))
            result = kept.select(*cols)
            if insert:
                new_rows = (
                    src.filter(~F.col("__s_del"))
                    .join(tdf.select(*on), on, "left_anti")
                    .select(*target_cols)
                )
                if track_ids:
                    # inserts are NEW rows: NULL here, the reader resolves
                    # base + position of the staged file
                    new_rows = new_rows.withColumn(
                        "__row_id", F.lit(None).cast("long")
                    )
                result = result.unionByName(new_rows)
            return self._conform(result, _schema)

        if mode == "dv":
            res = self._merge_dv(
                src, on, preds, cands, target_cols, update, insert, props=props
            )
            if res is not None:
                res["candidates"] = len(cands)
                return res
            # marked-row volume exceeded DV_MAX_ROWS — CoW is the right
            # physical strategy for a merge touching this much of the table
        out = self._rewrite_files(cands, transform, props=props)
        out["candidates"] = len(cands)
        return out

    def _merge_dv(
        self, src, on, preds, cands, target_cols, update, insert,
        props: dict[str, str | None] | None = None,
    ) -> dict | None:
        """Merge-on-read MERGE: matched target rows are the vector (update
        matches additionally append the source image; ``delete_when``
        matches just vanish), and update images plus unmatched source rows
        are the new rows of one ``_commit_dv``. Candidate files never get
        rewritten, so merge write cost is O(changed + inserted rows), not
        O(candidate files). Returns ``None`` when the vector exceeds
        ``DV_MAX_ROWS`` — ``merge_into`` then runs the CoW transform.

        The upsert (``update`` and ``insert``, no row tracking) reads the
        target once: the source is key-unique, so its non-deleted rows ARE
        the new rows (updates and inserts alike), and the marked rows are
        the candidate rows passing the merge's pruning predicates ``preds``
        (``in`` lists up to ``_IN_FILTER_CAP`` keys) — exact for one key
        column filtered by its ``in`` list, else semi-joined to the source
        keys. Other shapes join the candidate keys."""
        from pyspark.sql import functions as F

        state = self._state()
        track = bool(state["rowtrack"].get("enabled"))
        tdf = self._scan_files(
            cands, self._active_dvs(), keep_pos=True,
            schema_json=state["schema"], rowid_col=track,
        )
        if update and insert and not track:
            short = [
                p for p in preds if p[1] != "in" or len(p[2]) <= _IN_FILTER_CAP
            ]
            hit = tdf.filter(self._predicate_column(short)).select(
                *on, "__rf", "__ri"
            )
            if not (len(on) == 1 and [op for _c, op, _v in short] == ["in"]):
                hit = hit.join(src.select(*on), list(on), "left_semi")
            new_rows = self._conform(
                src.filter(~F.col("__s_del")).select(*target_cols), state["schema"]
            )
            return self._commit_dv(cands, hit, new_rows, "merge_dv", props)
        if track:
            tdf = self._attach_row_ids(tdf, state)
        # a merge-on-read never rewrites target rows, so nothing past this
        # point needs their VALUES — only the key (joins), the position
        # (DV), and the row id. Project BEFORE the eager checkpoint:
        # materializing full images of every candidate row turned a keyed
        # merge into an O(candidate bytes) spill (measured: 1M-row
        # embedding table, 64 floats/row — the checkpoint dominated the
        # whole merge).
        keep = list(on) + ["__rf", "__ri"] + (["__row_id"] if track else [])
        tdf = tdf.select(*keep).localCheckpoint(eager=True)
        joined = tdf.join(src.select(*on, "__s_del"), on, "inner")
        if not update:
            joined = joined.filter(F.col("__s_del"))
        new_rows = None
        if update:
            new_rows = (
                src.filter(~F.col("__s_del"))
                .join(joined.select(*on), on, "left_semi")
                .select(*target_cols)
            )
            if track:
                # the update RECREATES the row in a new file under the same
                # identity (min over multi-matches keeps it deterministic)
                tids = tdf.groupBy(*on).agg(F.min("__row_id").alias("__row_id"))
                new_rows = new_rows.join(tids, on, "left")
        if insert:
            inserts = (
                src.filter(~F.col("__s_del"))
                .join(tdf.select(*on), on, "left_anti")
                .select(*target_cols)
            )
            if track:
                inserts = inserts.withColumn("__row_id", F.lit(None).cast("long"))
            new_rows = inserts if new_rows is None else new_rows.unionByName(inserts)
        if new_rows is not None:
            new_rows = self._conform(new_rows, state["schema"])
        return self._commit_dv(cands, joined, new_rows, "merge_dv", props)

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        row_ids: bool = False,
        include_carried: bool = False,
    ) -> DataFrame:
        """Change Data Feed: every row-level change committed AFTER
        ``from_version`` up to ``to_version`` (default head), tagged with
        ``_change_type`` (``insert``/``delete``) and ``_commit_version``.

        Because data files are immutable, the per-commit file lists ARE the
        row-level feed: a commit's added files contribute its inserted rows,
        its removed files the deleted ones; a data-changing rewrite (DML,
        MERGE, overwrite) appears as delete+insert at the same version,
        exactly how Delta CDF renders an overwrite. Pure-relayout commits
        (``op="compact"`` — OPTIMIZE/Z-order/Hilbert/auto-compact/REORG
        PURGE: dataChange=false, same logical rows in new files) emit
        NOTHING by default, matching Delta's published CDF (no rows for
        OPTIMIZE) and this table's own streaming CDF source
        (streaming/source.py), so the batch and streamed feeds agree
        row-for-row. ``include_carried=True`` restores the carried
        delete+insert pairs at the compact version for file-delta
        consumers that want the physical rewrite visible (the pairs
        null-safe-cancel, so net-style consumers see no difference either
        way). Cost tracks the changed files — the
        feed never scans the unchanged table. Files already reclaimed by
        ``vacuum`` raise (same retention contract as the matview refresher);
        an update-in-place rewrite yields a delete of the old row image and
        an insert of the new one. Row images are rendered under the
        RANGE-END logical schema even across column renames (frozen
        physical names make every era's files readable under the end
        mapping — column-mapping-mode CDF): a consumer always sees one
        consistent vocabulary, the one current at ``to_version``.
        ``row_ids`` (requires row tracking) adds ``_row_id``: a delete and
        an insert at one version sharing a ``_row_id`` ARE an update of
        that row (Delta's pre/post-image pairing), which is what lets a
        downstream consumer apply the feed keylessly.
        """
        from pyspark.sql import functions as F

        commits_map, _ckpts = self._list_log()
        hi = self.version() if to_version is None else to_version
        if hi > from_version:
            oldest = min(commits_map, default=hi + 1)
            if from_version + 1 < oldest:
                raise FileNotFoundError(
                    f"change feed needs commit(s) {from_version + 1}.."
                    f"{oldest - 1} already pruned from the log by vacuum: "
                    f"consume changes before vacuum"
                )
        # read ONLY the in-range commit files (one listing + O(range)
        # parses): a lagging consumer on a long-lived table must not
        # re-parse the whole log to pick up its tail
        commits = [
            self._read_json(commits_map[v])
            for v in sorted(commits_map)
            if v > from_version and (to_version is None or v <= to_version)
        ]
        # Renames inside the range are fine: every era's files carry FROZEN
        # physical names, so scanning each commit under the RANGE-END
        # schema + mapping renders all row images in one consistent
        # (end-era) logical vocabulary — the column-mapping-mode CDF
        # behavior. Columns added after a commit's era read as typed
        # NULLs; columns dropped before the end are projected away; a
        # dropped-then-readded name never resurrects old bytes (the new
        # logical column maps to a fresh physical).
        end_state = self._state(hi) if hi >= 0 else self._empty_state()
        if row_ids and not end_state["rowtrack"].get("enabled"):
            raise ValueError(
                "row_ids=True requires enable_row_tracking() on this table"
            )
        # Declared identity columns resolve feed-side exactly as read()
        # resolves them (coalesce(stored, start + step * _row_id)) — a CDC
        # consumer must see the same values a reader sees, not NULLs for
        # virtually-assigned rows. Their presence forces the position-
        # carrying scan even without row_ids=True (the id is dropped again
        # before returning). Pre-declaration commits render under the
        # range-end vocabulary like every other schema change: files the
        # enablement backfill reached resolve to the same affine value
        # read() shows at head; files replaced before enablement render
        # NULL (no id ever existed for them).
        end_names = (
            set(
                T.StructType.fromJson(
                    json.loads(end_state["schema"])
                ).fieldNames()
            )
            if end_state["schema"]
            else set()
        )
        identity = {
            k: v for k, v in end_state["identity"].items() if k in end_names
        }
        need_ids = row_ids or (
            bool(identity) and end_state["rowtrack"].get("enabled")
        )
        # The enablement commit (the only op that writes ``rowid_assign``)
        # is in-range whenever a pre-enablement commit is: it backfilled a
        # base onto every file active at that moment, so ITS era is the
        # earliest base map that can resolve those files' rows.
        enable_v = min(
            (c["version"] for c in commits if "rowid_assign" in c),
            default=None,
        )
        frames = []
        for c in commits:
            if c.get("op") == "compact" and not include_carried:
                # dataChange=false relayout: same logical rows in new
                # files — no change images (Delta CDF / streaming parity)
                continue
            for relpaths, change in ((c.get("removed", []), "delete"), (c.get("added", []), "insert")):
                files = [f for f in relpaths if f]
                if not files:
                    continue
                # Deletion vectors to apply when materializing this commit's
                # row images — rows a DV already hid are NOT part of this
                # commit's change:
                # - removed files: the DVs active just BEFORE the commit
                #   (v-1). A compact/CoW rewrite that removes a DV'd file
                #   must not re-emit its DV-deleted rows as a second delete
                #   (the rewritten added files correctly lack them, so the
                #   pair would never cancel for net-style consumers).
                # - added files: fresh files can't be DV'd (uuid names), so
                #   none — EXCEPT a RESTORE, whose commit re-adds historical
                #   files together with the restored snapshot's DV set
                #   (carried in ``dv_reset``); applying it keeps rows the
                #   restored snapshot had deleted from re-appearing as
                #   phantom inserts.
                if change == "delete":
                    dvs = self._active_dvs(c["version"] - 1)
                else:
                    dvs = list(c.get("dv_reset") or [])
                missing = [
                    f
                    for f in files + dvs
                    if not os.path.exists(os.path.join(self.path, f))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"change feed needs {len(missing)} file(s) already vacuumed "
                        f"(e.g. {missing[0]!r}): consume changes before vacuum"
                    )
                df = self._scan_files(
                    files, dvs, schema_json=end_state["schema"],
                    colmap=end_state["colmap"],
                    keep_pos=need_ids, rowid_col=need_ids,
                )
                if need_ids:
                    # bases resolve under the state where these files were
                    # ACTIVE: the commit itself for added, its predecessor
                    # for removed. Commits from BEFORE row tracking was
                    # enabled have no era bases — resolve through the
                    # enablement era instead (the backfill reached every
                    # file still active then; files already replaced
                    # render NULL: no id ever existed for that file).
                    at = c["version"] if change == "insert" else c["version"] - 1
                    ids_state = self._state(at)
                    if not ids_state["rowtrack"].get("enabled"):
                        ids_state = (
                            self._state(enable_v)
                            if enable_v is not None
                            else end_state
                        )
                    df = (
                        self._attach_row_ids(df, ids_state)
                        .withColumnRenamed("__row_id", "_row_id")
                        .drop("__rf", "__ri")
                    )
                    if identity:
                        df = self._resolve_identity(df, end_state)
                    if not row_ids:
                        df = df.drop("_row_id")
                frames.append(
                    df.withColumn("_change_type", F.lit(change)).withColumn(
                        "_commit_version", F.lit(c["version"])
                    )
                )
            if c.get("dv_added"):
                # a merge-on-read delete moves no data files; its deleted row
                # IMAGES come from joining the DV pairs back to their files
                dvdf = self.spark.read.schema(self.DV_SCHEMA).parquet(
                    *[os.path.join(self.path, f) for f in c["dv_added"]]
                )
                data_files = sorted(c.get("dv_counts", {}))
                missing = [
                    f
                    for f in data_files + list(c["dv_added"])
                    if not os.path.exists(os.path.join(self.path, f))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"change feed needs {len(missing)} file(s) already vacuumed "
                        f"(e.g. {missing[0]!r}): consume changes before vacuum"
                    )
                ddf = self._scan_files(
                    data_files, [], keep_pos=True,
                    schema_json=end_state["schema"], colmap=end_state["colmap"],
                    rowid_col=need_ids,
                )
                if need_ids:
                    ids_state = self._state(c["version"] - 1)
                    if not ids_state["rowtrack"].get("enabled"):
                        ids_state = (
                            self._state(enable_v)
                            if enable_v is not None
                            else end_state
                        )
                    ddf = self._attach_row_ids(
                        ddf, ids_state
                    ).withColumnRenamed("__row_id", "_row_id")
                    if identity:
                        ddf = self._resolve_identity(ddf, end_state)
                helper = {"__rf", "__ri"} | (
                    set() if row_ids else {"_row_id"}
                )
                cols = [x for x in ddf.columns if x not in helper]
                if (
                    sum(c.get("dv_counts", {}).values())
                    <= self.DV_BROADCAST_MAX_ROWS
                ):
                    dvdf = F.broadcast(dvdf)
                deleted = (
                    ddf.join(
                        dvdf,
                        (F.col("__rf") == F.col("rel_file"))
                        & (F.col("__ri") == F.col("row_index")),
                        "left_semi",
                    )
                    .select(*cols)
                )
                frames.append(
                    deleted.withColumn("_change_type", F.lit("delete")).withColumn(
                        "_commit_version", F.lit(c["version"])
                    )
                )
        if not frames:
            schema = self.snapshot(to_version)[2] if self._commits() else None
            st = (
                T.StructType.fromJson(json.loads(schema))
                if schema
                else T.StructType([])
            )
            st = T.StructType(
                list(st.fields)
                + ([T.StructField("_row_id", T.LongType())] if row_ids else [])
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.IntegerType()),
                ]
            )
            return self.spark.createDataFrame([], st)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read_update_pairs(
        self,
        from_version: int,
        to_version: int | None = None,
        include_carried: bool = False,
    ) -> DataFrame:
        """The change feed in Delta CDF's four-way ``_change_type``
        vocabulary — ``insert`` / ``delete`` / ``update_preimage`` /
        ``update_postimage`` — using ROW IDENTITY (requires row tracking)
        to pair each update's two images: a delete and an insert at one
        commit sharing a ``_row_id`` ARE one row's update. This is the
        keyless form of the correlation every CDC consumer otherwise
        rebuilds with a primary key.

        Pure-relayout (compact) commits contribute nothing by default —
        the ``read_changes`` Delta-parity contract; pass
        ``include_carried=True`` to see their carried pairs. CoW rewrites
        from data-changing commits (UPDATE/MERGE touching co-located
        rows) always carry unmodified neighbors, so the feed is
        SELF-DESCRIBING about them: ``_change_unchanged`` is true on both
        images of a pair whose data columns are null-safe-equal, false on
        value-changing pairs and on pure inserts/deletes. Consumers who
        only want value changes filter ``NOT _change_unchanged`` instead
        of re-deriving the comparison."""
        from functools import reduce

        from pyspark.sql import functions as F

        feed = self.read_changes(
            from_version, to_version, row_ids=True,
            include_carried=include_carried,
        )
        dels = feed.filter(F.col("_change_type") == "delete")
        ins = feed.filter(F.col("_change_type") == "insert")
        pair_keys = ["_row_id", "_commit_version"]
        keys_df = dels.select(*pair_keys).intersect(ins.select(*pair_keys))
        data_cols = [c for c in feed.columns if not c.startswith("_")]
        pre_rows = dels.join(keys_df, pair_keys, "left_semi")
        post_rows = ins.join(keys_df, pair_keys, "left_semi")
        same = reduce(
            lambda a, b: a & b,
            [
                F.col(f"__pre_{c}").eqNullSafe(F.col(f"__post_{c}"))
                for c in data_cols
            ],
            F.lit(True),
        )
        flags = (
            pre_rows.select(
                *pair_keys, *[F.col(c).alias(f"__pre_{c}") for c in data_cols]
            )
            .join(
                post_rows.select(
                    *pair_keys,
                    *[F.col(c).alias(f"__post_{c}") for c in data_cols],
                ),
                pair_keys,
            )
            .select(*pair_keys, same.alias("_change_unchanged"))
        )
        pre = pre_rows.join(flags, pair_keys).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = post_rows.join(flags, pair_keys).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        pure_del = dels.join(keys_df, pair_keys, "left_anti").withColumn(
            "_change_unchanged", F.lit(False)
        )
        pure_ins = ins.join(keys_df, pair_keys, "left_anti").withColumn(
            "_change_unchanged", F.lit(False)
        )
        return pure_ins.unionByName(pure_del).unionByName(pre).unionByName(post)

    def count_rows(self, predicates: list[tuple] | None = None) -> int:
        """Metadata-only COUNT(*) when the log can answer it exactly: with no
        predicates, the sum of logged per-file row counts (zero file I/O —
        the table-format optimization Delta/Iceberg use for COUNT(*)); with
        predicates, files are split into provably-all-match / provably-none /
        ambiguous — only the ambiguous files are actually read and counted.
        A partition-equality predicate is decidable for every file, so
        per-partition counts stay metadata-only at any table size."""
        state = self._state()
        predicates = predicates or []
        cands = self._candidate_files(predicates, state)
        stats = self.file_stats() if cands else {}
        dv_counts = self._dv_counts()
        meta_total = 0
        ambiguous: list[str] = []
        # derived (generated-column) predicates only EXCLUDE files (in
        # _candidate_files); the all-match proof keeps the caller's originals
        for f in cands:
            st = stats.get(f) or {}
            if st.get("rows") is not None and _file_all_match(
                st, self._parts(f, state["colmap"]), predicates
            ):
                # every live row matches; DV'd rows also matched, so the
                # logged per-file DV count subtracts exactly (still metadata)
                meta_total += st["rows"] - dv_counts.get(f, 0)
            else:
                ambiguous.append(f)
        if ambiguous:
            df = self._scan_files(
                ambiguous, self._active_dvs(), schema_json=state["schema"],
                dv_rows=sum(dv_counts.values()),
            )
            if predicates:
                df = df.filter(self._predicate_column(predicates))
            meta_total += df.count()
        return meta_total

    def restore(self, version: int) -> int:
        """Delta-style RESTORE: ONE commit that makes the ``version``
        snapshot current again. Purely a log operation over immutable files
        — the restored files are re-referenced, the rolled-back commits'
        files dropped — so it is atomic, concurrent-reader-safe, and itself
        time-travelable (the rolled-back history stays in the log). Fails if
        the target snapshot's files were already vacuumed. Refused on
        appendOnly tables like every other file-removing commit (Delta's
        append-only contract): rewinding history drops rows added after
        the target version."""
        self._refuse_if_append_only("RESTORE")
        try:
            old_state = self._state(version)
        except FileNotFoundError as e:
            raise FileNotFoundError(f"cannot restore v{version}: {e}") from None
        old_active, old_schema = list(old_state["active"]), old_state["schema"]
        missing = [
            f for f in old_active if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore v{version}: {len(missing)} file(s) already "
                f"vacuumed (e.g. {missing[0]!r})"
            )
        # overwrite-shaped commit: drop the whole current file list, add the
        # restored one (re-adding a still-active file after only a partial
        # removal would duplicate it in the snapshot replay). Column mapping
        # and generated-column rules restore WITH the schema (they are
        # schema-consistency state: a restored pre-rename schema must read
        # under the pre-rename mapping); the retired-physical set stays
        # current — it only ever grows, so no later column can ever collide
        # with bytes in the (still on disk, still time-travelable) files of
        # the rolled-back versions.
        return self._commit(
            list(old_active), lambda active: list(active), old_schema, None, "restore",
            # the restored files' logged stats come back with them: data
            # skipping keeps working, and base row ids survive the restore
            # (a re-allocation would change row identities)
            stats=dict(old_state["stats"]),
            extra={
                "dv_reset": self._active_dvs(version),
                "dv_reset_counts": self._dv_counts(version),
                "colmap": dict(old_state["colmap"]),
                "generated": dict(old_state["generated"]),
                "bloom": dict(old_state["bloom"]),
                # defaults/identity are schema-consistency state too: a
                # restore past their declaration must not leave a rule
                # over a column the restored schema lacks (a later
                # add_column of that name would silently inherit it)
                "defaults": dict(old_state["defaults"]),
                "identity": {
                    k: dict(v) for k, v in old_state["identity"].items()
                },
                # properties roll back WITH the restore, like the Metadata
                # action they live in (and like clone_to carries them) —
                # a post-restore reader sees the target version's policy,
                # not a newer set_properties that the restore rolled past
                "props": dict(old_state["props"]),
            },
        )

    MANIFEST_DIR = "_symlink_format_manifest"
    #: seconds after which a crashed regenerator's lock is stolen
    MANIFEST_LOCK_STALE = 60.0
    #: seconds a regenerator waits on a live holder before giving up
    MANIFEST_LOCK_TIMEOUT = 30.0

    def generate_manifest(self, as_of: int | None = None) -> list[str]:
        """``GENERATE symlink_format_manifest`` (the published Delta
        statement): write ``_symlink_format_manifest/<partition dirs>/
        manifest`` text files — one absolute ``file:`` URI per line —
        listing exactly the snapshot's ACTIVE data files. This is the
        layout external engines (Presto / Trino / Hive / Synapse
        serverless, the reference's own serving tier,
        /root/reference/README.md:131-192) use to read a transactional
        lake: each manifest directory is a hive partition whose "data" is
        the symlink list, so an external table over the manifest dir sees
        a consistent snapshot no matter what half-committed files sit in
        the data directories.

        Refusals (the documented Delta restrictions — both would silently
        corrupt EXTERNAL reads): snapshots carrying deletion vectors (a
        raw parquet reader would resurrect DV-deleted rows) and
        column-mapped tables (files carry frozen physical names the
        external schema doesn't know). Stale manifests of partitions that
        no longer exist are removed. Set the ``manifest.autoUpdate``
        table property to regenerate after every data-changing commit
        (Delta's ``delta.compatibility.symlinkFormatManifest.enabled``).
        Returns the relative manifest paths written.

        Concurrent-writer ordering: regenerations are SERIALIZED per
        table (an exclusive lock file under the manifest dir, stale
        holders stolen after ``MANIFEST_LOCK_STALE``s) and publication is MONOTONE
        (a ``_version`` marker records the published snapshot; a
        head-of-table regeneration for an OLDER version than the marker
        is a no-op returning ``[]``). Without this, a writer that
        committed v then stalled could run its post-commit hook AFTER
        the v+1 winner's and leave external readers on a stale or
        mixed-version file list until the next data commit. An explicit
        ``as_of`` bypasses the monotonicity skip (regenerating history
        on purpose) and moves the marker to the published snapshot's
        version — the manifests now DESCRIBE that snapshot, and a marker
        left at head would make every later head-of-table regeneration
        no-op while external readers sit on the historical list."""
        st = self._state(as_of)
        if st["dv_counts"]:
            raise ValueError(
                "symlink manifests cannot represent deletion vectors (an "
                "external parquet reader would resurrect deleted rows): "
                "compact() to materialize the DVs first, or use mode='cow' "
                "DML on manifest-published tables"
            )
        if st["colmap"]:
            raise ValueError(
                "symlink manifests are not supported on column-mapped "
                "tables: data files carry frozen physical column names an "
                "external reader's schema would not match"
            )
        root = os.path.join(self.path, self.MANIFEST_DIR)
        os.makedirs(root, exist_ok=True)
        lock = os.path.join(root, ".lock")
        # sweep orphaned steal-aside residue (left when a restoring link
        # below lost a race to a re-created lock path); only inodes past
        # the stale window are touched, so a steal in flight is never hit
        for name in os.listdir(root):
            if name.startswith(".lock.steal."):
                orphan = os.path.join(root, name)
                try:
                    if (
                        time.time() - os.path.getmtime(orphan)
                        > self.MANIFEST_LOCK_STALE
                    ):
                        os.remove(orphan)
                except OSError:
                    pass
        marker = os.path.join(root, "_version")
        deadline = time.time() + self.MANIFEST_LOCK_TIMEOUT
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                # unique ownership token: stealing verifies THIS token
                # before discarding the lock, so a stealer can never
                # remove a lock that was replaced under it (check-then-
                # remove would let two stealers interleave regenerations)
                os.write(fd, f"{os.getpid()}:{uuid.uuid4().hex}".encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    # staleness and token must describe ONE inode: fstat on
                    # the open fd, not a separate getmtime stat — a release
                    # + re-acquire between two path lookups would pair the
                    # old mtime with the NEW holder's token and steal a
                    # live lock (ADVICE r8).
                    with open(lock) as lf:
                        stale = (
                            time.time() - os.fstat(lf.fileno()).st_mtime
                            > self.MANIFEST_LOCK_STALE
                        )
                except OSError:
                    continue  # holder just released
                if stale:
                    # holder crashed mid-regeneration: steal by atomically
                    # renaming the stale lock aside — only ONE stealer's
                    # rename of the path can succeed — then RE-VERIFY
                    # staleness on the moved inode itself (fstat on the
                    # aside fd). A fresh mtime means the path was
                    # re-acquired between the check and the rename (a LIVE
                    # lock was moved aside): restore it by link (same
                    # inode, owner's release-by-path still works) and go
                    # back to waiting. The aside inode is only ever
                    # removed when ITS OWN mtime proves it stale, so a
                    # live lock inode can never be discarded here; if the
                    # restoring link fails because the path was re-created
                    # meanwhile, the aside file is left in place (orphaned
                    # residue, swept at the next regeneration once stale)
                    # rather than deleting an inode a live holder still
                    # references.
                    aside = lock + f".steal.{uuid.uuid4().hex}"
                    try:
                        os.rename(lock, aside)
                    except OSError:
                        continue  # another stealer won the rename
                    try:
                        with open(aside) as af:
                            moved_stale = (
                                time.time() - os.fstat(af.fileno()).st_mtime
                                > self.MANIFEST_LOCK_STALE
                            )
                    except OSError:
                        continue  # aside vanished: someone else resolved it
                    if moved_stale:
                        os.remove(aside)  # genuinely stale: discarded
                    else:
                        try:
                            os.link(aside, lock)
                            os.remove(aside)
                        except OSError:
                            pass  # path re-created meanwhile: keep aside
                elif time.time() > deadline:
                    raise TimeoutError(
                        f"manifest regeneration lock {lock!r} held for "
                        f">{self.MANIFEST_LOCK_TIMEOUT}s; a concurrent "
                        "GENERATE is stuck"
                    )
                else:
                    time.sleep(0.05)
        try:
            published = -1
            try:
                with open(marker) as f:
                    published = int(f.read().strip())
            except (OSError, ValueError):
                pass
            if as_of is None and published >= st["version"]:
                return []  # a newer snapshot already published: no-op
            by_dir: dict[str, list[str]] = {}
            for rel in st["active"]:
                by_dir.setdefault(os.path.dirname(rel), []).append(rel)
            written: list[str] = []
            for d in sorted(by_dir):
                mdir = os.path.join(root, d) if d else root
                os.makedirs(mdir, exist_ok=True)
                body = "".join(
                    "file://" + os.path.join(self.path, rel) + "\n"
                    for rel in sorted(by_dir[d])
                )
                tmp = os.path.join(mdir, f".manifest.{uuid.uuid4().hex}.tmp")
                with open(tmp, "w") as f:
                    f.write(body)
                os.replace(tmp, os.path.join(mdir, "manifest"))
                written.append(
                    os.path.relpath(os.path.join(mdir, "manifest"), self.path)
                )
            # drop manifests of partitions that no longer hold active files
            # (an external reader would otherwise still see the old region)
            keep = {
                os.path.normpath(os.path.join(root, d) if d else root)
                for d in by_dir
            }
            for dirpath, _dirnames, filenames in os.walk(root, topdown=False):
                if "manifest" in filenames and os.path.normpath(dirpath) not in keep:
                    os.remove(os.path.join(dirpath, "manifest"))
                try:  # prune now-empty partition dirs
                    if os.path.normpath(dirpath) not in keep:
                        os.rmdir(dirpath)
                except OSError:
                    pass
            # the marker records what the on-disk manifests actually
            # describe. Head-of-table regens keep it monotone (unordered
            # post-commit hooks can't roll readers back — the no-op check
            # above). An EXPLICIT historical as_of intentionally publishes
            # an older snapshot, so the marker moves WITH it: otherwise it
            # would stay at head and every subsequent head regeneration
            # (autoUpdate hooks, manual repair) would no-op while external
            # readers sit on the historical list until a strictly newer
            # data commit.
            nv = st["version"] if as_of is not None else max(published, st["version"])
            tmp = os.path.join(root, f"._version.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                f.write(str(nv))
            os.replace(tmp, marker)
            return written
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def clone_to(self, target_path: str, as_of: int | None = None) -> "TxTable":
        """Zero-copy shallow CLONE (the published Delta CLONE semantics): a
        NEW independent table at ``target_path`` whose first commit
        references the source snapshot's data — no data rewritten, cost is
        O(active files) metadata operations regardless of table size.

        Mechanism: every active data file (and active deletion-vector file)
        is HARD-LINKED into the clone under its existing relative path, then
        one ``clone`` commit records the carried state (file list + per-file
        stats, schema, CHECK constraints, clustering policy, DV set).
        Preserving relative paths keeps everything that is keyed by them
        valid unchanged — DV ``rel_file`` references, hive partition
        layout(s), stats-based file pruning. Txn watermarks are NOT carried:
        the clone is a new writer identity (re-pointing a streaming job at a
        clone must not suppress its first batches).

        Independence: links share inodes, so neither table can corrupt the
        other (data files are immutable by design — every writer path
        creates new files). DML on the clone copy-on-writes into the
        clone's own directory; ``vacuum`` on either side only unlinks its
        own name, and the shared inode survives until BOTH tables drop it —
        so unlike a path-referencing shallow clone, vacuuming the source
        can never break the clone.

        Object-store mapping (no hard links): either server-side copy
        (S3 ``CopyObject`` / ADLS copy — metadata-fast, the "deep clone
        lite"), or absolute-path file references plus per-file base-URI
        scanning, which is Delta's actual shallow-clone layout. On a
        filesystem without cross-device links this falls back to a real
        copy per file (correct, no longer zero-copy).

        ``as_of`` clones a historical snapshot (CLONE ... VERSION AS OF).
        The target must not already be a table.
        """
        if self.version() < 0:
            raise ValueError(f"cannot clone {self.path!r}: not a table yet")
        target = TxTable(self.spark, target_path, self.log_store)
        if target.version() >= 0:
            raise ValueError(
                f"clone target {target_path!r} is already a table "
                f"(v{target.version()})"
            )
        s = self._state(as_of)
        for rel in list(s["active"]) + list(s["dvs"]):
            src = os.path.join(self.path, rel)
            dst = os.path.join(target.path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback
        target._commit(
            list(s["active"]),
            lambda active: [],
            s["schema"],
            None,
            "clone",
            stats=dict(s["stats"]),
            checks=dict(s["checks"]),
            extra={
                "clustering": list(s["clustering"]),
                "generated": dict(s["generated"]),
                "colmap": dict(s["colmap"]),
                "retired": list(s["retired"]),
                "bloom": dict(s["bloom"]),
                "props": dict(s["props"]),
                "rowtrack": dict(s["rowtrack"]),
                "defaults": dict(s["defaults"]),
                "identity": {k: dict(v) for k, v in s["identity"].items()},
                "dv_added": list(s["dvs"]),
                "dv_counts": dict(s["dv_counts"]),
                # propagate the source's per-DV covered-file map: without
                # it the clone's v0 commit makes every DV appear to cover
                # every DV-covered file, and losing ONE vector in the
                # clone would fsck-drop them all
                "dv_covers": {
                    dv: sorted(s["dv_covers"].get(dv, []))
                    for dv in s["dvs"]
                    if s["dv_covers"].get(dv)
                },
                "clone_source": self.path,
                "clone_source_version": s["version"],
            },
        )
        return target

    def fsck(self, dry_run: bool = False) -> dict:
        """``FSCK REPAIR TABLE`` (the published Delta recovery statement):
        drop log references to data/DV files that no longer exist on
        storage (manually deleted, lost bucket object, botched restore of
        a partial backup). One metadata commit; the table becomes
        readable again at the cost of the missing files' rows — which are
        already gone; FSCK just makes the log agree with reality.

        A data file whose DELETION VECTOR is the missing object is
        dropped TOO (``dropped_for_missing_dv`` in the report) — Delta's
        FSCK semantics. Keeping the file and forgetting the vector would
        silently resurrect its DV-deleted rows, a compliance hazard (a
        GDPR delete reappearing because one small DV object was lost);
        losing the file's surviving rows is the recoverable failure
        (re-load), un-deleting is not. ``dry_run`` reports what would be
        dropped without committing. O(active files) existence checks
        plus, only when a DV is missing, O(log) commit parses to find the
        data files that DV covered; zero data I/O."""
        state = self._state()
        missing = [
            f
            for f in state["active"]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        missing_dvs = [
            f
            for f in state["dvs"]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        # data files a missing DV covered: the DV parquet itself is gone,
        # but the state's per-DV covered-file map (logged at add time)
        # scopes the drop to exactly the files THAT vector deleted from.
        # DVs without a map entry (legacy commits, resets past the adding
        # commit) fall back to the commit-level union — every dv_counts
        # key of any commit that added one of those vectors.
        dropped_for_dv: list[str] = []
        if missing_dvs:
            covered: set[str] = set()
            unmapped: set[str] = set()
            for dv in missing_dvs:
                fs = state["dv_covers"].get(dv)
                if fs:
                    covered |= set(fs)
                else:
                    unmapped.add(dv)
            if unmapped:
                commits_map, _ckpts = self._list_log()
                for v in sorted(commits_map):
                    c = self._read_json(commits_map[v])
                    if unmapped & set(c.get("dv_added") or []):
                        covered |= set(c.get("dv_counts") or {})
            dropped_for_dv = [f for f in state["active"] if f in covered]
        out = {
            "missing_files": missing,
            "missing_dv_files": missing_dvs,
            "dropped_for_missing_dv": dropped_for_dv,
            "version": state["version"],
        }
        if dry_run or not (missing or missing_dvs):
            return out
        gone = set(missing) | set(dropped_for_dv)
        extra: dict = {}
        if missing_dvs:
            keep = [f for f in state["dvs"] if f not in set(missing_dvs)]
            extra["dv_reset"] = keep
            # surviving vectors keep their per-DATA-FILE deleted-row
            # counts for files that survive the repair (dv_counts is
            # keyed by data-file relpath, NOT dv relpath — filtering by
            # the keep list would always produce {} and silently wipe
            # the metadata counts the fast COUNT(*) path relies on)
            extra["dv_reset_counts"] = {
                f: n
                for f, n in state["dv_counts"].items()
                if f not in gone
            }
        out["version"] = self._commit(
            [], lambda active: [f for f in active if f in gone],
            state["schema"], None, "fsck", extra=extra or None,
            base=(state["version"], state["schema"]),
        )
        return out

    def orphan_sweep(
        self, dry_run: bool = False, grace_seconds: float = 3600.0
    ) -> dict:
        """The storage-side dual of ``fsck``: delete DATA/DV files on disk
        that NO resolvable snapshot references (residue of crashed writers
        — a process killed between staging its files under the table root
        and winning the commit leaves them forever; vacuum never touches
        them because vacuum reasons from the log). Never a log operation:
        the log is already correct, storage has extra bytes.

        Safety is the ``grace_seconds`` mtime window (Delta VACUUM's
        uncommitted-file rule): a file younger than the grace period may
        belong to an IN-FLIGHT write whose commit hasn't landed yet —
        deleting it would corrupt that commit — so young orphans are
        reported but kept. Referenced = the union over every resolvable
        version (oldest checkpoint through head), so time travel is
        untouched. The in-progress ``_staging`` area and the log dir are
        never scanned."""
        import time as _time

        commits, ckpts = self._list_log()
        versions = sorted(set(commits) | set(ckpts))
        referenced: set[str] = set()
        base = min(ckpts) if ckpts else 0
        for v in versions:
            if v < base:
                continue
            try:
                s = self._state(v)
            except (FileNotFoundError, ValueError):
                continue
            referenced |= set(s["active"])
            referenced |= set(s["dvs"])
        now = _time.time()
        orphans: list[str] = []
        young: list[str] = []
        for dirpath, dirnames, filenames in os.walk(self.path):
            rel_dir = os.path.relpath(dirpath, self.path)
            top = rel_dir.split(os.sep)[0]
            if top in (_LOG_DIR, _STAGING):
                dirnames[:] = []
                continue
            for name in filenames:
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.normpath(os.path.join(rel_dir, name))
                if rel.startswith("." + os.sep):
                    rel = rel[2:]
                if rel in referenced:
                    continue
                full = os.path.join(dirpath, name)
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # vanished concurrently
                if age < grace_seconds:
                    young.append(rel)
                    continue
                orphans.append(rel)
                if not dry_run:
                    try:
                        os.remove(full)
                    except OSError:
                        pass
        return {
            "removed" if not dry_run else "would_remove": sorted(orphans),
            "kept_in_grace": sorted(young),
            "referenced": len(referenced),
        }

    def _retained_copied(self, state: dict) -> dict:
        """The loaded-file set under the table's ``copyInto.retainHours``
        property (Snowflake's load-metadata-expiry design — its COPY INTO
        forgets load history after 64 days): entries older than the window
        no longer count as loaded (an expired source file re-loads) and
        are dropped from checkpoints, so the set tracks the retention
        window instead of growing with every file ever loaded. Without
        the property the set is kept whole; entries with no recorded load
        time (legacy checkpoints) are kept conservatively."""
        hours = (state.get("props") or {}).get("copyInto.retainHours")
        copied = state["copied"]
        if hours is None:
            return dict(copied)
        cutoff = time.strftime(
            "%Y-%m-%dT%H:%M:%SZ",
            time.gmtime(time.time() - float(hours) * 3600),
        )
        return {
            p: ts for p, ts in copied.items() if ts is None or ts >= cutoff
        }

    def copy_into(
        self,
        paths: list[str],
        fmt: str = "parquet",
        merge_schema: bool = False,
    ) -> dict:
        """Delta's ``COPY INTO``: idempotent bulk file loading — each
        SOURCE file is ingested exactly once however many times the
        statement re-runs (the retryable-backfill contract). Loaded file
        identities persist in the log (and through checkpoints), so a
        re-run's files anti-join driver-side against the loaded set and
        only genuinely new files are read — O(new data) per run, never
        O(all data ever loaded). ``fmt``: ``parquet`` or ``ndjson``.
        Concurrent COPY INTOs of overlapping file sets are safe: the
        commit aborts when a racing commit moved the loaded set
        (``copied_add`` is a metadata key) and the retry re-reads it —
        the raced file loads exactly once. The ``copyInto.retainHours``
        table property bounds the set's growth (load-metadata expiry,
        see ``_retained_copied``)."""
        if fmt not in ("parquet", "ndjson"):
            raise ValueError(f"copy_into fmt must be parquet|ndjson, got {fmt!r}")
        last_err: Exception | None = None
        for _ in range(10):
            state = self._state()
            seen = set(self._retained_copied(state))
            new = sorted({os.path.abspath(p) for p in paths} - seen)
            if not new:
                return {"loaded_files": 0, "version": state["version"]}
            if fmt == "parquet":
                df = self.spark.read.parquet(*new)
            else:
                df = self.spark.read.json(*new)
            self._refuse_always_identity(df, "copy_into")
            df = self._apply_defaults(df)
            df = self._apply_generated(df)
            df = self._widen_incoming(df)
            self._check_schema(df, merge_schema)
            # loaded rows land under the declared partition spec like any
            # other write (bulk backfill must not break the table layout)
            added, stats = self._stage(df, self._default_partition_by(None))
            try:
                v = self._commit(
                    added, lambda active: [], self._union_schema_json(df),
                    None, "copy_into", stats,
                    extra={"copied_add": new},
                    base=(state["version"], state["schema"]),
                )
                return {"loaded_files": len(new), "version": v}
            except TxConflictError as e:
                last_err = e
                for rel in added:  # unstage the aborted attempt's files
                    try:
                        os.remove(os.path.join(self.path, rel))
                    except OSError:
                        pass
                continue
        raise TxConflictError(f"copy_into kept losing races: {last_err}")

    def vacuum(
        self,
        retain_versions: int = 1,
        prune_log: bool = True,
        retain_hours: float | None = None,
        dry_run: bool = False,
    ) -> int:
        """Delete data files not referenced by any of the newest
        ``retain_versions`` snapshots (default 1 = current only, the
        original contract). A larger retention keeps time travel,
        ``read_changes``, RESTORE, and lagging matview/sync consumers
        working across the retained window — the txlog analog of Delta's
        retention period. Run only when no reader older than the retained
        window is in flight.

        ``retain_hours`` is the WALL-CLOCK retention Delta's
        ``VACUUM ... RETAIN n HOURS`` contract expresses: every version
        COMMITTED within the last ``retain_hours`` (per the commit's
        logged UTC timestamp) is additionally retained, however many
        versions that is — version counts drift with commit cadence (a
        busy streaming sink writes thousands of versions an hour; a batch
        table three a day), so operational retention is set in hours. The
        two modes COMBINE as a union: a reader pinned at ``as_of`` any
        version inside either window never loses files.

        With ``prune_log`` (default), the log itself is bounded to the same
        window: the oldest retained version is checkpointed, then every
        commit it summarizes (and every older checkpoint) is deleted — so a
        long-running streaming sink's log stays O(retained + interval)
        files instead of growing one commit per micro-batch forever.
        Reads past the pruned horizon fail loudly (``FileNotFoundError``),
        the same consume-before-vacuum contract data files already have.
        ``prune_log=False`` reclaims data files only (Delta's split between
        VACUUM and metadata log cleanup). ``dry_run`` deletes NOTHING and
        touches no log state — it returns the count of files a real run
        would reclaim (Delta's ``VACUUM ... DRY RUN``), the audit an
        operator runs before an irreversible retention change."""
        head = self.version()
        if head < 0:
            return 0
        commits, ckpts = self._list_log()
        all_versions = sorted(set(list(commits) + list(ckpts)))
        retained = all_versions[-max(1, retain_versions):]
        if retain_hours is not None:
            cutoff = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime(time.time() - retain_hours * 3600)
            )
            horizon = retained[0]
            for v in all_versions:
                if v >= horizon:
                    break  # already retained by the version window
                utc = None
                if v in commits:
                    utc = self._read_json(commits[v]).get("utc")
                elif v in ckpts:
                    utc = self._read_json(ckpts[v]).get("utc")
                # ISO-8601 UTC strings compare lexicographically; a commit
                # missing its timestamp (legacy) is conservatively KEPT
                if utc is None or utc >= cutoff:
                    retained = sorted(set(range(v, horizon)) & set(all_versions)) + retained
                    break
        keep: set[str] = set()
        for v in retained:
            keep |= set(self.snapshot(v)[1])
            keep |= set(self._active_dvs(v))  # retained snapshots' DVs too
        deleted = 0
        for dirpath, dirnames, filenames in os.walk(self.path):
            dirnames[:] = [d for d in dirnames if d not in (_LOG_DIR, _STAGING)]
            for name in filenames:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.path)
                if name.endswith(".parquet") and rel not in keep:
                    if not dry_run:
                        os.remove(full)
                    deleted += 1
        if dry_run:
            return deleted
        shutil.rmtree(os.path.join(self.path, _STAGING), ignore_errors=True)
        if prune_log and retained:
            v_keep = retained[0]
            # the checkpoint at v_keep REPLACES every commit <= v_keep:
            # all retained versions stay resolvable as checkpoint + tail
            self.write_checkpoint(v_keep)
            # log-object deletes go through the store so its listing index
            # stays consistent (an object-store backend deletes via API)
            for v, p in commits.items():
                if v <= v_keep:
                    self.log_store.delete(p)
            log_dir = os.path.join(self.path, _LOG_DIR)
            for v, p in ckpts.items():
                if v < v_keep:
                    self.log_store.delete(p)
                    # sidecars: single-file AND multi-part manifests share
                    # the "<v>.checkpoint." prefix
                    prefix = f"{v:020d}.checkpoint."
                    for name in self.log_store.list_dir(log_dir):
                        if name.startswith(prefix) and name.endswith(".parquet"):
                            self.log_store.delete(os.path.join(log_dir, name))
            self._json_cache.clear()
            self._manifest_cache.clear()
        self._state_cache.clear()
        self._read_cache.clear()
        return deleted


def maybe_autocompact(
    table: "TxTable", max_files: int | None = None, target_files: int | None = None
) -> bool:
    """Delta-style auto-compaction policy: when the ACTIVE file count
    exceeds ``max_files``, rewrite to ``target_files`` in one commit.
    Returns whether a compaction ran. With ``max_files=None`` the policy
    comes from the TABLE's own properties (``autoCompact.maxFiles`` /
    ``autoCompact.targetFiles`` — set once via set_properties, honored by
    every writer); no property and no argument -> no-op.

    This is THE streaming-lakehouse failure mode: per-trigger appends write
    a file per batch per partition, and a month of 1-minute triggers is
    ~43k files — listing and opening costs swamp the scan. Bounding active
    files keeps reads O(target_files); snapshot isolation means concurrent
    readers are unaffected, and the file-count check is log metadata only
    (no storage listing)."""
    if max_files is None:
        max_files = table._prop_int("autoCompact.maxFiles", 0)
        if not max_files:
            return False
    if target_files is None:
        target_files = table._prop_int("autoCompact.targetFiles", 4)
    _v, active, _s = table.snapshot()
    if len(active) <= max_files:
        return False
    table.compact(target_files=target_files)
    return True


def maybe_compact_index(
    table: "TxTable",
    rows_per_file: int,
    slack: float = 1.5,
    min_files: int = 32,
) -> bool:
    """Auto-compaction cadence for CDF-maintained index tables (BM25
    postings, ANN/IVF/IVF-PQ lists), run at catch-up time: trickle
    maintenance adds ~1 small file per touched token/bucket per batch,
    and at CDC steady state the candidate-pruning receipts decay as the
    fragments pile up. The trigger is RELATIVE to table size — compact
    when the active file count exceeds ``slack`` × the ideal count
    (``ceil(rows / rows_per_file)``, both from log metadata only — no
    storage listing, no scan) plus a ``min_files`` grace so small gates
    and fresh bootstraps never churn. A fixed absolute threshold would be
    wrong at 100 TB (the ideal count grows with the corpus); a ratio
    holds at any scale. The rewrite itself is ``compact_layout`` —
    partition layout + declared clustering + per-file row bound, i.e.
    exactly the bootstrap shape. Disable per table with
    ``autoCompact.index=false``."""
    if str(table.properties().get("autoCompact.index", "")).lower() == "false":
        return False
    _v, active, _s = table.snapshot()
    n_rows = table.count_rows()
    ideal = max(1, -(-int(n_rows) // int(rows_per_file)))
    if len(active) <= slack * ideal + min_files:
        return False
    table.compact_layout(max_records_per_file=rows_per_file)
    return True


def _foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    fn,
    available_now: bool = True,
    output_mode: str = "append",
):
    """Start ``stream`` into the micro-batch sink ``fn(batch, txn)``: the
    one ``foreachBatch`` starter behind every streaming writer of the
    package. ``txn(tag=None)`` returns the batch's exactly-once marker,
    ``{"app": "<tag>:<abs checkpoint>", "batch": <batch id>}`` (the bare
    path when untagged): keyed by the query's checkpoint, the identity a
    restart keeps, so a re-delivered batch is txn-skipped while a second
    query on a fresh checkpoint lands its own batches. Sinks that commit
    to two tables tag each marker."""
    app = os.path.abspath(checkpoint_dir)

    def run(batch: DataFrame, batch_id: int) -> None:
        fn(
            batch,
            lambda tag=None: {
                "app": f"{tag}:{app}" if tag else app, "batch": batch_id
            },
        )

    writer = (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_tx_table(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    autocompact_max_files: int | None = None,
):
    """T8 with real transactions: stream -> ``foreachBatch`` txlog append.

    Each micro-batch commits atomically with a ``txn`` marker derived from
    the checkpoint identity + batch id, so a batch re-delivered after a
    crash/restart is recognized in the log and skipped — exactly-once lake
    appends over at-least-once delivery, the same protocol Structured
    Streaming uses with Delta's idempotent writes.
    """

    def commit_batch(batch: DataFrame, txn) -> None:
        table = TxTable(batch.sparkSession, table_dir)
        table.append(batch, partition_by=partition_by, txn=txn())
        # compaction is its own commit AFTER the append: a crash between
        # them loses only the compaction (re-runs next batch), never data.
        # Policy: explicit arg, else the table's autoCompact.* properties.
        maybe_autocompact(table, autocompact_max_files)

    return _foreach_batch(stream, checkpoint_dir, commit_batch, available_now)


def _first_per_hash(batch: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact within-batch dedup of the dedup-on-ingest sinks: the batch
    with its ``content_hash`` (``dedup.with_content_hash``), keeping the
    first ``doc_id`` per hash."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.dedup import with_content_hash

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        with_content_hash(batch, text_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_dedup_to_tx_table(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    log_store: LogStore | None = None,
):
    """Dedup-on-ingest (X1 as a streaming pipeline): each micro-batch keeps
    only documents whose normalized content hash is new — first doc_id wins
    within the batch, and an anti-join against the committed table drops
    anything seen in ANY earlier batch — then appends atomically with a txn
    marker (exactly-once across restarts, same protocol as
    ``stream_to_tx_table``).

    Scale shape: the state side is only READ (hash column scan — Parquet
    column pruning means the text never moves), never rewritten; per-batch
    cost is O(batch + state-hash-scan), and the anti-join shuffles 16-byte
    hashes. A production deployment puts a bloom/bucket pre-filter in front
    of the anti-join; the dataflow is unchanged.
    """

    def commit_batch(batch: DataFrame, txn) -> None:
        table = TxTable(batch.sparkSession, table_dir, log_store)
        firsts = _first_per_hash(batch, text_col)
        if table.version() >= 0:
            seen = table.read().select("content_hash")
            # reselect in the original order — the USING join moves the key
            # column first, which would trip write-time schema enforcement
            firsts = firsts.join(seen, "content_hash", "left_anti").select(
                *firsts.columns
            )
        table.append(firsts, txn=txn())

    return _foreach_batch(stream, checkpoint_dir, commit_batch, available_now)


def stream_dedup_to_tx_table_bloom(
    stream: DataFrame,
    table_dir: str,
    bloom_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    n_bits: int | None = None,
    n_hashes: int | None = None,
    available_now: bool = True,
):
    """``stream_dedup_to_tx_table`` with the bloom pre-filter its docstring
    promises (operators/bloom.py): a txlog-persisted (word, bits) bloom
    over committed content hashes splits each batch into definitely-new
    keys (bloom miss — PROOF of absence, no exact check needed) and
    candidates (bloom hit — true dups plus <fp-rate noise), and only the
    candidates reach the exact anti-join against state. For mostly-new
    corpora the expensive join's probe side shrinks from |batch| to
    |dups + false positives|.

    Crash-safety ordering: the bloom commit lands BEFORE the state append,
    so the bloom is always a SUPERSET of committed state — a crash between
    the two commits only creates extra candidates (exact-checked next
    batch), never a missed duplicate. Both commits carry the batch txn
    marker, so a re-delivered batch is a no-op on both tables."""
    from pyspark.sql import functions as F

    from .operators import bloom as B

    bits = n_bits or B.DEFAULT_N_BITS
    hashes = n_hashes or B.DEFAULT_N_HASHES

    def commit_batch(batch: DataFrame, txn) -> None:
        spark = batch.sparkSession
        state = TxTable(spark, table_dir)
        bloom_t = TxTable(spark, bloom_dir)
        newdocs = firsts = _first_per_hash(batch, text_col)
        if bloom_t.version() >= 0 and state.version() >= 0:
            flagged = B.with_membership(
                firsts, "content_hash", bloom_t.read(), bits, hashes
            ).localCheckpoint(eager=True)
            sure_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
            cands = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
            seen = state.read().select("content_hash")
            survived = cands.join(seen, "content_hash", "left_anti")
            newdocs = sure_new.unionByName(survived).select(*firsts.columns)
        newdocs = newdocs.localCheckpoint(eager=True)
        batch_bloom = B.build_bloom(newdocs, "content_hash", bits, hashes)
        merged = (
            B.merge_blooms(bloom_t.read(), batch_bloom)
            if bloom_t.version() >= 0
            else batch_bloom
        )
        # bloom FIRST (superset invariant), then the state append
        bloom_t.overwrite(merged.coalesce(1), txn=txn("dedup-bloom-filter"))
        state.append(newdocs, txn=txn("dedup-bloom-state"))

    return _foreach_batch(stream, checkpoint_dir, commit_batch, available_now)


def stream_neardedup_to_tx_table(
    stream: DataFrame,
    table_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """NEAR-duplicate dedup-on-ingest: the streaming form of
    ``operators/dedup.cross_corpus_dedup`` — each micro-batch keeps only
    docs that are novel against BOTH the batch itself and everything
    already committed, where "duplicate" means shingle-Jaccard >=
    ``threshold`` (not just byte equality, which ``stream_dedup_to_tx_table``
    already handles).

    Per batch:
    1. exact within-batch dedup (first doc per content hash);
    2. within-batch near-dedup: exact-Jaccard pairs -> connected components
       (``duplicate_clusters`` — pairwise dropping would break a-b-c
       chains), one representative per cluster (at crawl-scale batch sizes,
       put ``lsh_candidates`` in front — the operators compose);
    3. vs-corpus near-dedup via ``cross_corpus_dedup`` with the corpus band
       keys read PRECOMPUTED from the signature table — the corpus text is
       never re-hashed, per-batch cost tracks the batch and its bucket
       collisions;
    4. the novel docs' band keys append to the signature table, then the
       docs append to the state table.

    Crash-safety ordering mirrors the bloom sink, for the analogous reason:
    the signature table commits FIRST, so it is always a SUPERSET of
    committed state. A crash between the two commits leaves orphan
    signatures; on replay those candidates find no state row to verify
    against and drop out (the Jaccard verify joins state text), so the
    re-delivered batch correctly re-appends to state while the signature
    append is txn-skipped — never a missed duplicate, never a lost doc.
    Both commits carry the batch txn marker.
    """
    from pyspark.sql import functions as F

    from .operators.dedup import (
        _band_entries,
        cross_corpus_dedup,
        duplicate_clusters,
        jaccard_pairs,
    )

    def commit_batch(batch: DataFrame, txn) -> None:
        spark = batch.sparkSession
        state = TxTable(spark, table_dir)
        sigs = TxTable(spark, sig_dir)
        if text_col != "text":  # the shingle/band operators key on "text"
            batch = batch.withColumnRenamed(text_col, "text")
        firsts = _first_per_hash(batch).localCheckpoint(eager=True)
        pairs = jaccard_pairs(firsts, shingle_k=shingle_k, threshold=threshold)
        reps = (
            duplicate_clusters(firsts, pairs)
            .filter(F.col("doc_id") == F.col("cluster_id"))
            .select("doc_id")
        )
        batch_reps = firsts.join(reps, "doc_id", "left_semi")
        if state.version() >= 0 and sigs.version() >= 0:
            verdict = cross_corpus_dedup(
                batch_reps,
                state.read(),
                n_hashes=n_hashes,
                bands=bands,
                shingle_k=shingle_k,
                threshold=threshold,
                corpus_bands=sigs.read(),
            )
            novel = batch_reps.join(
                verdict.filter(F.col("is_novel")).select("doc_id"),
                "doc_id",
                "left_semi",
            )
        else:
            novel = batch_reps
        novel = novel.localCheckpoint(eager=True)
        # signature table FIRST (superset invariant — see docstring)
        sigs.append(
            _band_entries(novel, n_hashes, bands, shingle_k),
            txn=txn("neardedup-sigs"),
        )
        state.append(novel, txn=txn("neardedup-state"))

    return _foreach_batch(stream, checkpoint_dir, commit_batch, available_now)


def stream_semantic_dedup_to_tx_table(
    stream: DataFrame,
    table_dir: str,
    codes_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    radius: int = 1,
    prefix_bits: int = 4,
    available_now: bool = True,
):
    """SEMANTIC dedup-on-ingest for embeddings: the streaming form of
    ``operators/dedup.semantic_dedup_incremental`` — each micro-batch of
    (vec_id, embedding) keeps only vectors that are semantically novel
    (6-dp cosine < ``threshold``) against BOTH the batch itself and the
    committed corpus, probing the CDF-MAINTAINED Hamming codes index
    instead of re-bucketing the corpus (the embedding twin of
    ``stream_neardedup_to_tx_table``).

    Per batch:
    1. the codes index is caught up to the state table's head FIRST
       (``catchup_ann_index`` — watermark-gated, a no-op when aligned),
       so the probe always sees every previously committed vector even
       after a crash between a state commit and its index fold;
    2. within-batch semantic dedup: pairwise rounded cosine >=
       ``threshold`` over the (micro-batch-sized) batch -> connected
       components (``duplicate_clusters`` — pairwise dropping would
       break a-b-c chains), lowest id per cluster survives;
    3. vs-corpus verdict via ``semantic_dedup_incremental`` — bucket
       probe + exact verify, O(batch + collisions), never O(corpus);
    4. the novel vectors append to the state table under the batch txn
       marker (replay = no-op); the NEXT fold's step 1 indexes them.

    The state table is the corpus; the codes table is derived data the
    stream itself maintains — callers query either directly
    (``probed_hamming_topk`` over the codes table keeps working).
    """
    from pyspark.sql import functions as F

    from .operators.ann_index import catchup_ann_index
    from .operators.dedup import duplicate_clusters, semantic_dedup_incremental
    from .operators.similarity import _dot, _norm

    def commit_batch(batch: DataFrame, txn) -> None:
        spark = batch.sparkSession
        state = TxTable(spark, table_dir)
        codes = TxTable(spark, codes_dir)
        if state.version() >= 0:
            catchup_ann_index(state, codes, prefix_bits=prefix_bits)
        batch = batch.select("vec_id", "embedding").localCheckpoint(eager=True)
        if not batch.take(1):
            return
        # within-batch: pairwise rounded cosine -> components -> reps
        a = batch.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
        b = batch.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
        cos = F.round(
            _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))),
            6,
        )
        pairs = (
            a.join(F.broadcast(b), F.col("va") < F.col("vb"))
            .filter(cos >= F.lit(threshold))
            .select(F.col("va").alias("doc_a"), F.col("vb").alias("doc_b"))
        )
        reps = (
            duplicate_clusters(
                batch.select(F.col("vec_id").alias("doc_id")), pairs
            )
            .filter(F.col("doc_id") == F.col("cluster_id"))
            .select(F.col("doc_id").alias("vec_id"))
        )
        batch_reps = batch.join(reps, "vec_id", "left_semi")
        if state.version() >= 0 and codes.version() >= 0:
            verdict = semantic_dedup_incremental(
                codes, state, batch_reps, threshold=threshold, radius=radius
            )
            novel = batch_reps.join(
                verdict.filter(F.col("is_novel")).select("vec_id"),
                "vec_id",
                "left_semi",
            )
        else:
            novel = batch_reps
        novel = novel.localCheckpoint(eager=True)
        if novel.take(1):
            state.append(novel, txn=txn("semdedup-state"))

    return _foreach_batch(stream, checkpoint_dir, commit_batch, available_now)


def sync_changes(
    src: TxTable,
    dst: TxTable,
    on: list[str],
    predicate: str | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Incremental bronze->silver replication driven by the change feed: the
    medallion hop. Consumes ``src.read_changes`` past the last synced
    version (recorded in ``dst``'s log as a metadata commit), reduces the
    feed to the LATEST image per key — within one commit an insert outranks
    the delete half of a rewrite — and MERGEs the net batch into ``dst``.
    Cost per sync tracks the changed files, never the bronze table.

    ``predicate`` (SQL boolean over source columns) filters the silver
    table, with the subtlety a naive filter gets wrong: a row UPDATED out
    of the predicate range must become a silver DELETE, not be silently
    skipped — so failing rows are demoted to deletes rather than dropped.
    Re-running a completed sync is a no-op (the recorded version gates it).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    marker = f"sync:{os.path.abspath(src.path)}"
    # per-app txn watermark (checkpoint-carried — survives log pruning)
    from_v = dst._state()["txn"].get(marker)
    if from_v is None:
        from_v = -1
    head = src.version()
    if head <= from_v:
        return {"from_version": from_v, "to_version": from_v, "rows": 0}
    feed = src.read_changes(from_v, head)
    w = Window.partitionBy(*on).orderBy(
        F.col("_commit_version").desc(), F.col("__ins").desc()
    )
    latest = (
        feed.withColumn("__ins", (F.col("_change_type") == "insert").cast("int"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn("__is_delete", F.col("__ins") == 0)
        .drop("_change_type", "_commit_version", "__ins", "__rn")
    )
    if predicate is not None:
        # rows leaving the predicate range become deletes, not skips
        latest = latest.withColumn(
            "__is_delete",
            F.col("__is_delete") | ~F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False)),
        )
    latest = latest.localCheckpoint(eager=True)
    src_cols = [c for c in latest.columns if c != "__is_delete"]
    if dst.version() < 0:
        dst.append(
            latest.filter(~F.col("__is_delete")).select(*src_cols),
            partition_by=partition_by,
        )
    else:
        dst.merge_into(latest, on=on, delete_when="__is_delete")
    n = latest.count()
    dst._commit([], lambda active: [], dst.snapshot()[2], {"app": marker, "batch": head}, "sync")
    return {"from_version": from_v, "to_version": head, "rows": n}


def scd2_history(
    table: TxTable, from_version: int = -1, exclude_cols: list[str] | None = None
) -> DataFrame:
    """Type-2 slowly-changing-dimension history derived from the Change Data
    Feed: one row per (row image, lifetime interval), with
    ``valid_from``/``valid_to`` commit versions (``valid_to`` NULL = the
    image is current).

    Mechanics — all layout-independent, which is what makes it correct on a
    file-granular feed:

    1. **Net per (version, image)**: a rewrite (MERGE/DML/compact) emits
       delete+insert pairs for every CARRIED row in the rewritten files;
       summing +1/-1 per commit version and full row image cancels them,
       leaving only true inserts/deletes (the same netting as
       ``tx_change_feed_net``).
    2. **Interval pairing**: an interval opens at a net insert's version and
       closes at the EARLIEST net delete of the same image at a later
       version (min-join on image equality). Identical images deleted and
       re-inserted later pair correctly because their intervals cannot
       overlap.

    Scale: one groupBy over changed-file rows (the feed never scans the
    unchanged table) plus one image-equality join between net inserts and
    net deletes — both keyed on the full row image, shuffle size tracks the
    CHANGE volume, not table size. Assumes dimension-style rows (an image
    appears at most once per version after netting).
    """
    from pyspark.sql import functions as F

    ch = table.read_changes(from_version)
    attrs = [
        c
        for c in ch.columns
        if c not in ("_change_type", "_commit_version")
        and c not in (exclude_cols or [])
    ]
    net = (
        ch.groupBy("_commit_version", *attrs)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .filter(F.col("net") != 0)
    )
    ins = net.filter(F.col("net") > 0).select(
        *attrs, F.col("_commit_version").alias("valid_from")
    )
    dels = net.filter(F.col("net") < 0).select(
        *attrs, F.col("_commit_version").alias("del_version")
    )
    cond = [F.col(f"i.{c}").eqNullSafe(F.col(f"d.{c}")) for c in attrs]
    cond.append(F.col("d.del_version") > F.col("i.valid_from"))
    joined = ins.alias("i").join(dels.alias("d"), cond, "left")
    return joined.groupBy(
        *[F.col(f"i.{c}").alias(c) for c in attrs], F.col("i.valid_from")
    ).agg(F.min("d.del_version").alias("valid_to"))
