"""Part manifest — the engine's metadata layer.

Replaces the reference's per-part ``metadata.bin`` (src/part.cpp:125-161)
and directory-scan recovery (src/merge_tree.cpp:164-197) with one JSON
manifest per table, Delta-style. Carries exactly the reference's metadata
fields (src/part.h:12-26): part id, min/max key, min/max timestamp, row
count, disk size, creation time — these drive part-level query pruning (R8)
and compaction scoring (R29) without touching data files.

Swap atomicity (R33): write-temp-then-``os.replace`` — readers of the old
manifest keep a consistent view because parts are immutable; single-writer
assumption matches the reference's single-process model (src/merge_tree.h:34-41).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

# -- key bloom filter (data-skipping index) ----------------------------------
#
# Min/max pruning (R8) answers range queries; a point lookup on a key INSIDE
# a part's [min,max] span still has to scan the part even when the key isn't
# there (sparse keyspaces, post-merge wide parts). The per-part bloom filter
# closes that gap — the Spark analog of a ClickHouse bloom_filter data-
# skipping index, held at part granularity in the manifest instead of
# granule granularity on disk.
#
# The bitmap is BUILT by a distributed aggregate over the part's key column
# but CHECKED on the driver at lookup time, so the hash must be computable
# bit-identically in both places. One MD5 per value over the UTF-8 bytes of
# its canonical string cast; its first two 32-bit big-endian words h1 and h2
# give the k positions by double hashing (Kirsch-Mitzenmacher):
# p_i = (h1 + i * h2) mod m. Spark expresses h1 and h2 as
# conv(substring(md5(...), 1, 8), 16, 10) and (..., 9, 8), hashlib as
# digest[0:4] and digest[4:8]. MD5 (not SHA-256) because this is indexing,
# not crypto: it's the cheapest hash available identically in Spark and
# hashlib. The sums stay below 2^35, so the Spark side never overflows a
# long (ANSI-safe).
# All bitmap sizes are powers of two, so positions taken at BLOOM_CAP_BITS
# fold to any smaller size with a mask ((h mod 2^a) mod 2^b == h mod 2^b).

BLOOM_K = 3              # hash functions per key
BLOOM_BITS_PER_KEY = 16  # target fill → ~0.5% false-positive rate at k=3
# Hash-scheme tag stored per part. A bitmap built under a different scheme
# (e.g. the earlier "md5x3" one, three MD5s per value) must yield "no
# claim", never a false negative — check-side hashes would land on the
# wrong bits. Opening a table rebuilds such blooms once
# (SparkMergeTree._rebuild_missing_metadata).
BLOOM_ALGO = "md5dh3"
BLOOM_MIN_BITS = 1 << 10
BLOOM_CAP_BITS = 1 << 16  # 64 Kib bitmap = 16 KiB hex in the manifest, max


def bloom_positions(key, n_bits: int, k: int = BLOOM_K) -> list[int]:
    """The k bit positions of ``key`` in an ``n_bits`` bitmap (driver side)."""
    d = hashlib.md5(str(key).encode()).digest()
    h1, h2 = int.from_bytes(d[:4], "big"), int.from_bytes(d[4:8], "big")
    return [(h1 + i * h2) % n_bits for i in range(k)]


def bloom_size_for(n_distinct: int) -> int:
    """Power-of-two bitmap size targeting BLOOM_BITS_PER_KEY bits per key,
    clamped to [BLOOM_MIN_BITS, BLOOM_CAP_BITS]."""
    target = max(1, n_distinct) * BLOOM_BITS_PER_KEY
    m = BLOOM_MIN_BITS
    while m < target and m < BLOOM_CAP_BITS:
        m <<= 1
    return m


def bloom_to_hex(positions: list[int], n_bits: int) -> str:
    """Fold hash positions (mod any power of two ≥ n_bits) into a hex bitmap."""
    bits = bytearray(n_bits // 8)
    mask = n_bits - 1
    for pos in positions:
        p = pos & mask
        bits[p >> 3] |= 1 << (p & 7)
    return bits.hex()


def bloom_fold(cap_bitmap: bytes, n_bits: int) -> str:
    """Fold a BLOOM_CAP_BITS bitmap (bit p at byte p >> 3, mask
    1 << (p & 7) — bloom_to_hex's layout) into an ``n_bits`` hex bitmap:
    OR of its n_bits-wide slices, i.e. every position taken mod n_bits."""
    width = n_bits // 8
    acc = 0
    for off in range(0, len(cap_bitmap), width):
        acc |= int.from_bytes(cap_bitmap[off:off + width], "little")
    return acc.to_bytes(width, "little").hex()


@dataclass
class PartMeta:
    """One part's metadata row (reference src/part.h:12-26), plus the
    optional key-bloom skipping index (no reference analog — extension)."""

    part_id: int
    path: str           # directory of the part's parquet files
    min_key: object
    max_key: object
    min_ts: int
    max_ts: int
    row_count: int
    disk_size: int
    created_at: float = field(default_factory=time.time)
    bloom_hex: str | None = None   # hex bitmap over the key column
    bloom_bits: int = 0            # bitmap size (power of two)
    bloom_k: int = BLOOM_K
    bloom_algo: str = ""           # hash scheme tag; "" = legacy/no claim
    # PARTITION BY (ClickHouse MergeTree analog — extension): the canonical
    # string of the partition value every row of this part shares, or None
    # for unpartitioned tables. Drives partition pruning, partition-scoped
    # merges, and metadata-only DROP PARTITION.
    partition: str | None = None
    # minmax skipping index (extension): {col: [min, max]} for the
    # config's minmax_cols — part-level pruning for range predicates on
    # non-key columns. None/absent column ⇒ no pruning claim (never skip).
    col_stats: dict | None = None
    # Schema evolution (ALTER ADD COLUMN analog — extension): the column
    # names physically present in this part's files. None = legacy part
    # written before evolution tracking ⇒ exactly the table's original
    # (pre-evolution) columns. Reads fill columns added after this part
    # was written with their declared defaults.
    columns: list | None = None
    # Projections (ClickHouse PROJECTION analog — extension): name → path
    # of this part's pre-aggregated projection dirs (siblings of ``path``,
    # dropped with the part). None/missing name ⇒ this part has no
    # materialized projection (e.g. written before the projection existed).
    proj_paths: dict | None = None
    # Token bloom filters (ClickHouse ``tokenbf_v1`` skipping-index
    # analog — extension): col → {"hex", "bits", "k", "algo"} over the
    # DISTINCT lowercased word tokens of that string column in this part.
    # Token-containment queries prune parts whose bitmap provably lacks
    # the token. None/missing col ⇒ no claim (never skip).
    token_blooms: dict | None = None
    # N-gram bloom filters (ClickHouse ``ngrambf_v1`` skipping-index
    # analog — extension): col → {"hex", "bits", "k", "algo", "n"} over
    # the DISTINCT lowercased character n-grams of that string column in
    # this part. Substring-containment queries (LIKE '%needle%') prune
    # parts whose bitmap provably lacks ANY n-gram of the needle — a
    # matching row would have to contain all of them. None/missing col ⇒
    # no claim (never skip).
    ngram_blooms: dict | None = None
    # Column-level TTL (ClickHouse ``c TTL ts + INTERVAL`` analog —
    # extension): column names whose values are expired for EVERY row of
    # this part. Reads serve the column's declared default instead of the
    # physical bytes; the next rewrite of the part (merge, mutation,
    # straddling TTL) materializes the default physically, ClickHouse's
    # TTL-at-merge contract. None/[] ⇒ no column expired.
    expired_cols: list | None = None
    # ALTER MODIFY COLUMN (type change — ClickHouse analog, extension):
    # {physical_column_name: ddl} — this part's files physically store the
    # column at the RECORDED (pre-modify) type; reads cast to the current
    # declared type, and the part's next rewrite materializes the new
    # type physically (same lazy contract as ADD/DROP/RENAME). The
    # recorded ddl is the type at FIRST modify — later modifies change
    # only the declared type, never the bytes. None/{} ⇒ physical types
    # match the declared schema.
    cast_cols: dict | None = None
    # set(N) skipping index (ClickHouse ``INDEX ... TYPE set(N)`` analog —
    # extension): {col: [distinct values] | None}. The EXACT value set of
    # the column in this part, or None when the part exceeded the
    # configured N (overflow ⇒ no claim, never skip — ClickHouse's own
    # contract). Equality/IN predicates prune parts whose set provably
    # lacks every probed value. Values are stored canonically as strings
    # (JSON-safe); the membership check canonicalizes the probe the same
    # way. None/missing col ⇒ no claim.
    col_sets: dict | None = None

    def may_match_range(self, col: str, lo, hi) -> bool:
        """minmax skip check: False ⇒ no row of this part has col in
        [lo, hi]. Parts without stats for ``col`` always say True."""
        if not self.col_stats or col not in self.col_stats:
            return True
        mn, mx = self.col_stats[col]
        if mn is None or mx is None:  # all-null column in this part
            return False
        return not (mx < lo or mn > hi)

    def may_contain_token(self, col: str, token: str) -> bool:
        """Token-bloom check: False ⇒ no row of this part's ``col``
        contains the word token. Same position chain as the key bloom,
        over the canonical (lowercased) token."""
        tb = (self.token_blooms or {}).get(col)
        if not tb or not tb.get("hex") or tb.get("algo") != BLOOM_ALGO:
            return True
        bits = bytes.fromhex(tb["hex"])
        for p in bloom_positions(token.lower(), tb["bits"], tb["k"]):
            if not bits[p >> 3] & (1 << (p & 7)):
                return False
        return True

    def may_contain_substring(self, col: str, needle: str) -> bool:
        """N-gram-bloom check: False ⇒ no row of this part's ``col``
        contains ``needle`` as a (case-insensitive) substring. A needle
        shorter than the index's n cannot be checked — no claim. Same
        position chain as the key/token blooms, per n-gram; pruning
        requires EVERY n-gram of the needle to be present (any provably
        absent gram ⇒ no match is possible)."""
        nb = (self.ngram_blooms or {}).get(col)
        if not nb or not nb.get("hex") or nb.get("algo") != BLOOM_ALGO:
            return True
        n = nb.get("n", 0)
        s = needle.lower()
        if n <= 0 or len(s) < n:
            return True
        bits = bytes.fromhex(nb["hex"])
        for i in range(len(s) - n + 1):
            gram = s[i:i + n]
            if not all(bits[p >> 3] & (1 << (p & 7))
                       for p in bloom_positions(gram, nb["bits"], nb["k"])):
                return False
        return True

    def may_match_values(self, col: str, values) -> bool:
        """set(N) skip check: False ⇒ no row of this part has ``col``
        equal to ANY of ``values``. Parts without a stored set for the
        column — or whose set overflowed N at write time (stored None) —
        always say True.

        Membership compares canonical string forms (the index build
        stores Spark's string CAST). Python's str() agrees with that
        cast ONLY for str and int probes — floats (1e-07 vs '1.0E-7'),
        bools ('True' vs 'true'), and dates all diverge, and a
        systematic divergence would wrongly prune EVERY part — so any
        other probe type makes no claim (never skip). The index targets
        low-cardinality string/int columns, where this costs nothing."""
        if not self.col_sets or col not in self.col_sets:
            return True
        stored = self.col_sets[col]
        if stored is None:  # overflowed N: no claim
            return True
        if not all(isinstance(v, (str, int)) and not isinstance(v, bool)
                   for v in values):
            return True  # str() ≠ Spark string cast for this type
        have = set(stored)
        return any(str(v) in have for v in values)

    def overlaps_range(self, start_key, end_key) -> bool:
        """Part-level min/max pruning predicate (reference src/part.cpp:201-203)."""
        return not (self.max_key < start_key or self.min_key > end_key)

    def may_contain_key(self, key) -> bool:
        """Bloom check: False ⇒ the key is definitely not in this part.
        Parts without a bloom (recovered, pre-feature) — or one built
        under a different hash scheme — always say True."""
        if not self.bloom_hex or not self.bloom_bits \
                or self.bloom_algo != BLOOM_ALGO:
            return True
        bits = bytes.fromhex(self.bloom_hex)
        for p in bloom_positions(key, self.bloom_bits, self.bloom_k):
            if not bits[p >> 3] & (1 << (p & 7)):
                return False
        return True


MANIFEST_NAME = "manifest.json"


MAX_LOG_ENTRIES = 256


class Manifest:
    """Atomic JSON manifest of live parts for one SparkMergeTree table.

    Also the snapshot layer (Delta/Iceberg-style, extension — no reference
    analog): every commit (append/swap/remove) bumps ``version`` and logs
    the live part-id set; parts removed under ``retain=True`` become
    tombstones instead of being deleted, so ``parts_at_version`` can
    materialize any retained snapshot. Physical deletion is deferred to
    ``vacuum_tombstones`` (engine policy decides the retention window).
    """

    def __init__(self, base_path: str):
        self.base_path = base_path
        self.file_path = os.path.join(base_path, MANIFEST_NAME)
        self.parts: list[PartMeta] = []
        self.next_part_id: int = 1
        self.version: int = 0
        # [(version, [part_id, ...])] — newest last, capped at MAX_LOG_ENTRIES
        self.log: list[tuple[int, list[int]]] = []
        # removed-but-retained parts: part_id -> (PartMeta, removed_version)
        self.tombstones: dict[int, tuple[PartMeta, int]] = {}
        # table-level metadata that must survive reopen (currently the
        # ALTER ADD COLUMN evolution log: [{name, ddl, default}, ...])
        self.table_meta: dict = {}

    # -- persistence --------------------------------------------------------

    @classmethod
    def load(cls, base_path: str) -> "Manifest":
        """Load the manifest; if absent, recover by scanning part_<id> dirs
        (reference recovery path, src/merge_tree.cpp:164-197)."""
        m = cls(base_path)
        if os.path.exists(m.file_path):
            try:
                with open(m.file_path) as f:
                    doc = json.load(f)
                m.parts = [PartMeta(**p) for p in doc["parts"]]
                m.next_part_id = doc["next_part_id"]
                m.version = doc.get("version", 0)
                m.log = [(int(v), list(ids)) for v, ids in doc.get("log", [])]
                m.tombstones = {
                    int(pid): (PartMeta(**p), int(rv))
                    for pid, (p, rv) in doc.get("tombstones", {}).items()
                }
                m.table_meta = doc.get("table_meta", {})
                return m
            except (json.JSONDecodeError, KeyError, TypeError):
                # Corrupt/truncated manifest (e.g. torn write from a crashed
                # process on a filesystem without atomic replace): parts on
                # disk are still immutable and self-describing, so fall
                # through to the same directory-scan recovery used when the
                # manifest is absent.
                m.parts = []
                m.next_part_id = 1
        # manifest-less recovery: list part_* dirs, resume the id counter
        if os.path.isdir(base_path):
            ids = []
            for name in os.listdir(base_path):
                if name.startswith("part_") and os.path.isdir(
                        os.path.join(base_path, name)):
                    try:
                        ids.append(int(name[5:]))
                    except ValueError:
                        continue
            if ids:
                m.next_part_id = max(ids) + 1
                # metadata must be rebuilt by the engine (needs a scan);
                # record paths with placeholder stats
                m.parts = [
                    PartMeta(part_id=i,
                             path=os.path.join(base_path, f"part_{i}"),
                             min_key=None, max_key=None, min_ts=0, max_ts=0,
                             row_count=-1, disk_size=-1)
                    for i in sorted(ids)
                ]
        return m

    def save(self) -> None:
        """Atomic write-temp-then-rename (R33)."""
        os.makedirs(self.base_path, exist_ok=True)
        tmp = self.file_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({
                "next_part_id": self.next_part_id,
                "parts": [asdict(p) for p in self.parts],
                "version": self.version,
                "log": self.log,
                "tombstones": {
                    pid: (asdict(p), rv)
                    for pid, (p, rv) in self.tombstones.items()
                },
                "table_meta": self.table_meta,
            }, f, indent=1, default=str)
        os.replace(tmp, self.file_path)

    # -- mutation (callers persist with save()) ------------------------------

    def allocate_part_id(self) -> int:
        pid = self.next_part_id
        self.next_part_id += 1
        return pid

    def _commit(self) -> None:
        """Bump the version and log the live part-id set (newest last)."""
        self.version += 1
        self.log.append((self.version, [p.part_id for p in self.parts]))
        if len(self.log) > MAX_LOG_ENTRIES:
            self.log = self.log[-MAX_LOG_ENTRIES:]

    def _take_out(self, removed_ids: list[int]) -> list[PartMeta]:
        removed = set(removed_ids)
        out = [p for p in self.parts if p.part_id in removed]
        self.parts = [p for p in self.parts if p.part_id not in removed]
        return out

    def append(self, part: PartMeta) -> None:
        self.parts.append(part)
        self._commit()

    def swap(self, removed_ids: list[int], added: PartMeta,
             retain: bool = False) -> None:
        """Compaction commit: drop merged-away parts, add the merged part
        (reference perform_merge, src/merge_tree.cpp:245-288). With
        ``retain`` the removed parts become tombstones readable by
        ``parts_at_version`` until vacuumed."""
        out = self._take_out(removed_ids)
        self.parts.append(added)
        self._commit()
        if retain:
            for p in out:
                self.tombstones[p.part_id] = (p, self.version)

    def commit_meta(self) -> None:
        """A versioned commit that changes no parts — used by operations
        whose effect lives in ``table_meta`` but must still be ordered
        against part commits (lightweight deletes: ``query_at_version(v)``
        applies exactly the delete entries with version ≤ v, so each
        delete needs its own point on the version axis)."""
        self._commit()

    def remove(self, removed_ids: list[int], retain: bool = False) -> None:
        """Drop parts without a replacement (TTL whole-part expiry)."""
        out = self._take_out(removed_ids)
        self._commit()
        if retain:
            for p in out:
                self.tombstones[p.part_id] = (p, self.version)

    # -- snapshots -----------------------------------------------------------

    def parts_at_version(self, version: int) -> list[PartMeta]:
        """The part set of a past commit. Raises KeyError if the version
        left the log or a needed part was vacuumed."""
        if version == 0:
            return []
        for v, ids in self.log:
            if v == version:
                index = {p.part_id: p for p in self.parts}
                index.update({pid: p for pid, (p, _) in self.tombstones.items()})
                try:
                    return [index[pid] for pid in ids]
                except KeyError as exc:
                    raise KeyError(
                        f"version {version} references vacuumed part "
                        f"{exc.args[0]}") from None
        raise KeyError(f"version {version} is not in the manifest log "
                       f"(current {self.version}, {len(self.log)} retained)")

    def vacuum_tombstones(self, before_version: int) -> list[PartMeta]:
        """Drop (and return for physical deletion) every tombstone removed
        at or before ``before_version`` — versions ≤ that may no longer
        resolve."""
        victims = [p for pid, (p, rv) in self.tombstones.items()
                   if rv <= before_version]
        for p in victims:
            del self.tombstones[p.part_id]
        return victims

    # -- queries over metadata ----------------------------------------------

    def live_paths(self) -> list[str]:
        return [p.path for p in self.parts]

    def prune(self, start_key, end_key) -> list[PartMeta]:
        """Parts whose [min_key, max_key] intersects the query range (R8)."""
        return [
            p for p in self.parts
            if p.min_key is None or p.overlaps_range(start_key, end_key)
        ]

    def total_rows(self) -> int:
        return sum(p.row_count for p in self.parts)

    def disk_usage(self) -> int:
        return sum(p.disk_size for p in self.parts)
