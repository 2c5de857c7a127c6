"""Minimal ACID table layer: versioned snapshots over plain Parquet.

The lakehouse story (BASELINE.json: "Spark + Delta/Iceberg") needs ACID
appends/overwrites and time travel; neither Delta nor Iceberg is available
in this environment, so this module implements the essential mechanism the
same way those formats do — an append-only **commit log** of versioned
manifests listing immutable data files, made atomic by ``os.rename``
(atomic on POSIX within a filesystem):

    table/
      _log/v00000000.json   {"version":0,"op":"append","files":[...],
                             "stats":{...},"operationMetrics":{...}}
      _log/v00000001.json
      stage-<id>/part-....parquet           (immutable data files)
      stage-<id>/_part-....parquet.bloom    (immutable bloom sidecars)
      deletes-<id>/part-....parquet         (deletion vectors)

- Readers pick the highest committed version (or an explicit one — time
  travel) and read exactly its file list: consistent snapshots, no torn
  reads of half-written data.
- Writers stage data files first, then commit the manifest; a failed write
  leaves orphan files but never a corrupt table.
- Concurrency: optimistic — the commit point is an atomic put-if-absent
  (``os.link``, which raises ``FileExistsError`` if the target exists);
  a writer that loses the race gets :class:`CommitConflict` and retries
  on the new latest version.  Plain ``rename`` would NOT work here:
  POSIX rename silently replaces an existing target, so two racing
  writers could both "succeed" and the later one would clobber the
  earlier committed manifest (a lost append).

Each public call parses its manifest once and serves the whole call from
it — a snapshot is its file list plus its deletion vectors, the way Delta
computes one from the log.  Every read (``read``, ``scan``, ``scan_in``,
``lookup``, ``read_changes``) goes through one pruned-read path that
applies the deletion vectors of the version it reads.

A manifest is small: per data file it holds the footer row count and
min/max, and for bloom columns only the bloom's bit count.  Each file's
blooms are written ONCE, at staging, as a zlib-compressed binary sidecar
beside it (``_`` prefix, so Spark and pyarrow directory listings skip
it); a commit never rewrites them.  What every commit still rewrites is
the file list with its stats, a few hundred bytes a file.  Readers open
a sidecar only for files that survive min/max, and ``vacuum`` deletes
it with its file.  Manifests written before sidecars existed carry their
blooms inline as hex and still read.  Each commit also records
``operationMetrics`` (rows, files and bytes added and removed, vectors
added, staging and bloom time), which :meth:`TransactionalTable.history`
returns.

Every row-level change is merge-on-read: ``delete_where_mor``,
``delete_keys_mor``, ``merge`` and ``apply_cdc`` share one body that
records the (file, row position) of every row they retire as a deletion
vector and stages the rows they insert, both in ONE commit — no data
file is rewritten, so an upsert writes about its own size.  A data file
whose every row the new vector retires leaves the file list instead of
being masked.  Reads carry the vectors until ``optimize``/``compact``
rewrites the table; only ``overwrite``, ``compact`` and ``optimize``
write data files that replace others.

In production swap this for Delta/Iceberg; the engine's call sites are
format-agnostic:

- operators/dedup and operators/similarity stores: through
  :class:`StateStore` (``latest_version``, ``scan_in``, ``append``);
  SemDeDup's assign table directly (``read``, ``delete_keys_mor`` with
  the dirty-cell list, ``append``) — like every merge-on-read table it
  carries its vectors until ``optimize``/``compact``;
- operators/pipeline state pins: ``append``, ``read``;
- plans/incremental views: ``appends_only_between``, ``added_files``,
  ``read``, ``overwrite``;
- streaming/ingest: ``merge``, ``last_txn_batch``;
- declared lakehouse entries: ``append``, ``delete_where_mor``,
  ``apply_cdc``, ``optimize``, ``read`` (time travel included).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType


def _localpath(p: str) -> str:
    """file:///x, file:/x and /x all name the same local file."""
    if p.startswith("file:"):
        p = "/" + p[5:].lstrip("/")
    return p


def _bytes(paths) -> int:
    """Total size of ``paths``; a file already vacuumed counts 0."""
    total = 0
    for p in paths:
        with contextlib.suppress(FileNotFoundError):
            total += os.stat(p).st_size
    return total


class CommitConflict(RuntimeError):
    """Another writer committed this version first — retry on latest."""


class SchemaEvolutionError(ValueError):
    """Incompatible schema change (type change / non-additive evolution)."""


class TransactionalTable:
    def __init__(
        self,
        path: str,
        bloom_columns: tuple[str, ...] = (),
        bloom_bits: int | None = None,
    ):
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        os.makedirs(self.log_dir, exist_ok=True)
        # footer stats for files staged since the last commit, folded into
        # the next manifest (per-file min/max -> reader-side file skipping)
        self._pending_stats: dict[str, dict] = {}
        # staging and bloom time of each staged directory, folded into the
        # operationMetrics of the commit that lands its files
        self._pending_ms: dict[str, dict[str, float]] = {}
        # columns to build per-file bloom filters for at commit time
        # (point-lookup file skipping; min/max stats only help range scans)
        self.bloom_columns = tuple(bloom_columns)
        # bloom sizing is a WRITE-side knob (Delta's bloom-index fpp
        # equivalent): the default 2^16 bits saturates past ~5-10k distinct
        # keys/file, and a saturated bloom admits everything — size it to
        # >= ~15 bits per expected distinct key per file.  Each file's
        # manifest entry records the bits it was BUILT with, so readers
        # never need to know this knob (mixed-size tables probe correctly).
        #
        # Both knobs are also TABLE PROPERTIES persisted in the manifest
        # (round 13, ADVICE r12): a maintenance handle opened bare — e.g.
        # ``TransactionalTable(path).optimize(...)`` — inherits them, so a
        # compaction that merges many small files into few large ones (the
        # exact regime where the 2^16 default saturates) rebuilds blooms
        # at the sizing the table was created with instead of silently
        # dropping back to the default.  Explicit constructor args win.
        # Tables committed before properties existed have none.
        props = (self._manifest() or {}).get("properties", {})
        if not self.bloom_columns and props.get("bloom_columns"):
            self.bloom_columns = tuple(props["bloom_columns"])
        if bloom_bits is None and props.get("bloom_bits") is not None:
            bloom_bits = int(props["bloom_bits"])
        self.bloom_bits = self._BLOOM_BITS if bloom_bits is None else int(bloom_bits)

    # -- log helpers --------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:08d}.json")

    def versions(self) -> list[int]:
        return sorted(
            int(f[1:9]) for f in os.listdir(self.log_dir) if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _manifest(self, version: int | None = None) -> dict | None:
        """The manifest of ``version`` (default: latest), or None for a
        table with no commit yet.  Public calls parse it once here and
        hand the dict to every helper."""
        v = self.latest_version() if version is None else version
        return None if v is None else self._read_manifest(v)

    def _snapshot(self, version: int | None = None) -> dict:
        """:meth:`_manifest` for readers: a table with no commit raises."""
        m = self._manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.path}")
        return m

    _UNSET = object()

    def _commit(
        self,
        files: list[str],
        op: str,
        txn: tuple[str, int] | None = None,
        base: dict | None | object = _UNSET,
        schema: StructType | None = None,
        deletes: list[str] | object = _UNSET,
    ) -> int:
        """Commit ``files`` as the snapshot SUCCEEDING manifest ``base``.

        ``base`` must be the latest manifest the caller READ while
        deriving ``files`` (None for a fresh table).  The committed
        version is always ``base["version"] + 1`` — never re-derived here:
        recomputing "latest" at link time would let a writer holding a
        STALE file list commit on top of a concurrent commit it never saw,
        silently dropping that commit's files (a lost update the
        put-if-absent link alone cannot catch, since the two writers would
        claim different version numbers).  If that version was already
        claimed, the hard link fails atomically and the writer must
        re-read and retry.
        """
        if base is TransactionalTable._UNSET:
            base = self._manifest()
        version = 0 if base is None else base["version"] + 1
        base = base or {}
        # stats carry forward for retained files; newly staged files bring
        # their own footer stats from _pending_stats
        known = {**base.get("stats", {}), **self._pending_stats}
        stats = {f: known[f] for f in files if f in known}
        if deletes is TransactionalTable._UNSET:
            # ops that don't touch deletion vectors carry the base's
            # forward; entries for files no longer in the manifest are
            # dead weight (they anti-join against nothing) until a
            # compact/overwrite clears them
            deletes = base.get("deletes", [])
        before = set(base.get("files", []))
        added = [f for f in files if f not in before]
        removed = before - set(files)
        old_vectors = set(base.get("deletes", []))
        vectors = [d for d in deletes if d not in old_vectors]
        dropped = old_vectors - set(deletes)
        timings = [
            self._pending_ms.get(d, {}) for d in {os.path.dirname(p) for p in added + vectors}
        ]
        manifest = {
            "version": version,
            "op": op,
            "files": files,
            "stats": stats,
            "committed_at": time.time(),
            # Delta's commitInfo.operationMetrics: counts from the staged
            # footers, bytes from os.stat of the data and vector files
            "operationMetrics": {
                "rows_added": sum(stats.get(f, {}).get("rows", 0) for f in added),
                "files_added": len(added),
                "bytes_added": _bytes(added + vectors),
                "files_removed": len(removed),
                "bytes_removed": _bytes(removed | dropped),
                "vectors_added": len(vectors),
                "stage_ms": round(sum(t.get("stage_ms", 0.0) for t in timings), 3),
                "bloom_ms": round(sum(t.get("bloom_ms", 0.0) for t in timings), 3),
            },
        }
        if deletes:
            manifest["deletes"] = deletes
        # table properties: a bloom-building handle records its (possibly
        # adopted) knobs; a handle with no bloom config carries the base's
        # forward untouched, so maintenance commits never erase them
        props = (
            {"bloom_columns": list(self.bloom_columns), "bloom_bits": self.bloom_bits}
            if self.bloom_columns
            else base.get("properties", {})
        )
        if props:
            manifest["properties"] = props
        # ops that don't change the schema carry the base's forward
        schema_json = base.get("schema") if schema is None else schema.jsonValue()
        if schema_json is not None:
            manifest["schema"] = schema_json
        if txn is not None:
            # streaming-sink transaction marker (Delta's txn appId/version):
            # lets an idempotent writer detect an already-committed batch
            manifest["txn"] = {"app": txn[0], "batch": txn[1]}
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        target = self._manifest_path(version)
        try:
            # Atomic put-if-absent: hard-link raises FileExistsError if the
            # target already exists (checked and created in one syscall — no
            # TOCTOU window, unlike exists()+rename which silently replaces).
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflict(f"version {version} already committed")
        finally:
            os.unlink(tmp)
        # drop only the stats we just committed — a concurrent thread may
        # have staged files for its own upcoming commit
        for f in files:
            self._pending_stats.pop(f, None)
        for p in added + vectors:
            self._pending_ms.pop(os.path.dirname(p), None)
        return version

    def _stats(self, version: int) -> dict:
        """Per-file column min/max recorded at commit time (may be absent
        for files staged by older versions of this module)."""
        return self._read_manifest(version).get("stats", {})

    # -- write paths --------------------------------------------------------

    def _stage(self, df: DataFrame) -> list[str]:
        """Write immutable data files into a staging subdir, return paths."""
        stage_dir = os.path.join(self.path, f"stage-{uuid.uuid4().hex}")
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(stage_dir)
        paths = [
            os.path.join(stage_dir, f)
            for f in os.listdir(stage_dir)
            if f.endswith(".parquet")
        ]
        stats = self._collect_stats(paths)
        self._pending_stats.update(stats)
        t1 = time.perf_counter()
        # bloom build is a Spark job (one column-pruned scan of the new
        # files); an all-empty staging has no keys to index, so skip it
        # (round 14 — empty files contribute no bloom words)
        if self.bloom_columns and any(s["rows"] for s in stats.values()):
            for p, blooms in self._build_blooms(
                df.sparkSession, stage_dir, schema=df.schema
            ).items():
                self._pending_stats.setdefault(p, {})["bloom"] = self._write_blooms(p, blooms)
        self._pending_ms[stage_dir] = {
            "stage_ms": (t1 - t0) * 1000.0,
            "bloom_ms": (time.perf_counter() - t1) * 1000.0,
        }
        return paths

    def _stage_nonempty(self, df: DataFrame) -> list[str]:
        """Stage ``df`` and return its file paths, or ``[]`` if it produced
        zero rows (the staged dir is removed and its stats dropped).

        How :meth:`_mutate` stages the rows it inserts: emptiness falls
        out of the parquet footers the write already produces
        (``_collect_stats`` is a driver-side metadata read), so no
        ``limit(1).count()`` probe job recomputes the rows first, and
        ``_stage`` skips the bloom job for an all-empty staging.
        """
        paths = self._stage(df)
        if any(self._pending_stats.get(p, {}).get("rows") for p in paths):
            return paths
        for p in paths:
            self._pending_stats.pop(p, None)
        if paths:
            self._pending_ms.pop(os.path.dirname(paths[0]), None)
            shutil.rmtree(os.path.dirname(paths[0]), ignore_errors=True)
        return []

    # default bloom size: an 8 KB bitmap per column per file, kept small
    # because a point probe reads the sidecar of every file min/max
    # admits; fp rate rises past ~5-10k distinct keys/file, which only
    # costs extra reads, never misses (no false negatives)
    _BLOOM_BITS = 1 << 16
    _BLOOM_HASHES = 7

    @classmethod
    def _canonical_key(cls, value) -> str:
        """The key's CANONICAL string — what Spark's ``CAST(col AS
        STRING)`` produces at bloom build time, so positions computed
        JVM-side and Python-side agree bit-for-bit.

        Python ``str()`` alone is NOT that canonical form for every type
        a caller might pass: ``str(True)`` is ``'True'`` (Spark prints
        ``'true'``) and ``str(777.0)`` is ``'777.0'`` (against a bigint
        column Spark prints ``'777'``).  Either mismatch would make the
        probe hash a string the build never saw and *wrongly prune* files
        containing the key — a false negative, violating the Inexact
        contract.  So: bools map to Spark's lowercase form, exact-integral
        floats coerce to int, and any other float raises (float keys have
        engine-specific printing and are excluded from bloom columns).
        """
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, float):
            if value.is_integer():
                return str(int(value))
            raise TypeError(
                "float bloom probe keys are unsupported (engine-specific "
                f"string form): {value!r}; pass an int or string"
            )
        return str(value)

    @classmethod
    def _bloom_positions(cls, value, bits: int | None = None) -> list[int]:
        """k bit positions for a key, from one md5 of
        :meth:`_canonical_key`, modulo the bloom's OWN bit count (each
        manifest entry records the size it was built with)."""
        import hashlib

        bits = cls._BLOOM_BITS if bits is None else bits
        digest = hashlib.md5(cls._canonical_key(value).encode()).digest()
        out = []
        for i in range(cls._BLOOM_HASHES):
            chunk = int.from_bytes(digest[2 * i : 2 * i + 4], "big")
            out.append(chunk % bits)
        return out

    @staticmethod
    def _sidecar(path: str) -> str:
        """The bloom sidecar of data file ``path``: ``_<name>.bloom`` in
        the same directory."""
        d, name = os.path.split(path)
        return os.path.join(d, f"_{name}.bloom")

    def _write_blooms(self, path: str, blooms: dict[str, int]) -> dict[str, dict]:
        """Write ``path``'s bloom bitmaps once, as its sidecar: the
        columns' little-endian bitmaps in column-name order, concatenated
        and zlib-compressed.  Returns the manifest entry, which keeps only
        each bloom's bit count."""
        nbytes = (self.bloom_bits + 7) // 8
        raw = b"".join(blooms[c].to_bytes(nbytes, "little") for c in sorted(blooms))
        with open(self._sidecar(path), "wb") as f:
            f.write(zlib.compress(raw))
        return {c: {"bits": self.bloom_bits} for c in sorted(blooms)}

    @classmethod
    def _bloom_entry(cls, path: str, blooms: dict, col: str) -> tuple[int, int] | None:
        """Decode data file ``path``'s bloom on ``col`` -> (bits, bitmap),
        or None when the file has no bloom for ``col``.

        ``blooms`` is the file's manifest bloom entry.  Current entries
        (``{"bits": n}``) point at the sidecar; a sidecar that is gone
        decodes as no bloom, so the file is kept.  Manifests written
        before sidecars carry the bitmap inline as hex: a plain string
        (the original fixed 2^16 bits) or ``{"bits", "hex"}``."""
        entry = blooms.get(col)
        if entry is None:
            return None
        if isinstance(entry, str):
            return cls._BLOOM_BITS, int(entry, 16)
        if "hex" in entry:
            return int(entry["bits"]), int(entry["hex"], 16)
        try:
            with open(cls._sidecar(path), "rb") as f:
                raw = zlib.decompress(f.read())
        except FileNotFoundError:
            return None
        offset = 0
        for c in sorted(blooms):
            nbytes = (int(blooms[c]["bits"]) + 7) // 8
            if c == col:
                return int(entry["bits"]), int.from_bytes(raw[offset : offset + nbytes], "little")
            offset += nbytes

    _BLOOM_TYPES = ("int", "bigint", "smallint", "tinyint", "string")

    def _build_blooms(
        self, spark: SparkSession, stage_dir: str, schema: StructType | None = None
    ) -> dict[str, dict[str, int]]:
        """Per-file bloom filters over ``bloom_columns``: ``{path: {col:
        bitmap}}`` with each bitmap a ``bloom_bits``-bit int, which
        :meth:`_write_blooms` stores as the file's sidecar.

        The point-lookup complement of min/max stats: an equality probe on
        a high-cardinality key (user id, doc id, order key) rarely prunes
        by range — every file spans most of the key domain — but a bloom
        answers "definitely not in this file" in O(k) bit tests without
        opening the data file (the Delta/Iceberg bloom-index mechanism; the
        reference has no point-lookup path at all).

        Built as a DISTRIBUTED aggregation over the staged files: each row
        contributes k bit positions per bloom column (md5 split into
        32-bit chunks, all JVM-side expressions), positions fold into
        64-bit words with ``bit_or`` keyed by ``input_file_name()`` — so
        the build cost is one column-pruned scan of the new files
        regardless of their size, and only |files| x |cols| x 1024 words
        ever reach the driver.

        Round 13 (guide §1.2/§5): ONE job for all bloom columns (the
        per-column loop re-scanned the staged files per column), and the
        read is SCHEMA-PINNED from the staging DataFrame — the bare
        ``spark.read.parquet`` re-read every footer for inference and
        planned against inferred stats; pinning measured 0.61-0.72 s ->
        0.40-0.53 s per append on an 8-file commit.
        """
        from pyspark.sql import functions as F

        reader = spark.read.schema(schema) if schema is not None else spark.read
        df = reader.parquet(stage_dir)
        dtypes = dict(df.dtypes)
        want = [c for c in self.bloom_columns if dtypes.get(c) in self._BLOOM_TYPES]
        if not want:
            return {}

        def positions(c):
            md5hex = F.md5(F.col(c).cast("string"))
            return F.array(
                *[
                    # digest[2i : 2i+4] big-endian == hex chars [4i+1, 4i+8]
                    (F.conv(F.substring(md5hex, 1 + 4 * i, 8), 16, 10).cast("bigint") % self.bloom_bits)
                    for i in range(self._BLOOM_HASHES)
                ]
            )

        # (col, pos) pairs for every bloom column of every row, exploded in
        # one pass; null keys contribute an empty array (filtered by the
        # explode), matching the old per-column isNotNull filter
        tagged = F.array(
            *[
                F.struct(
                    F.lit(c).alias("__c"),
                    F.when(F.col(c).isNotNull(), positions(c))
                    .otherwise(F.array().cast("array<bigint>"))
                    .alias("__ps"),
                )
                for c in want
            ]
        )
        words = (
            df.select(F.input_file_name().alias("__f"), F.explode(tagged).alias("__t"))
            .select("__f", F.col("__t.__c").alias("__c"), F.explode("__t.__ps").alias("__pos"))
            .groupBy("__f", "__c", (F.col("__pos") / 64).cast("bigint").alias("__w"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))")
                ).alias("__m")
            )
            .collect()
        )
        per_file: dict[tuple[str, str], int] = {}
        for r in words:
            path = r["__f"].removeprefix("file://")
            key = (path, r["__c"])
            # Java's long is signed: bit 63 comes back negative — mask
            per_file.setdefault(key, 0)
            per_file[key] |= (r["__m"] & ((1 << 64) - 1)) << (64 * r["__w"])
        out: dict[str, dict[str, int]] = {}
        for (path, c), bitmap in per_file.items():
            out.setdefault(path, {})[c] = bitmap
        return out

    @staticmethod
    def _collect_stats(paths: list[str]) -> dict[str, dict]:
        """Read per-file numeric column min/max from the Parquet footers.

        This is the manifest-level statistics index the reference builds as
        a row-group R-tree over footer stats (``pc-io/src/helpers.rs:35-125``)
        — externalized into the commit log so readers can skip whole files
        WITHOUT opening them (planner-side pruning, the Delta/Iceberg
        file-stats mechanism).  Footer reads are metadata-only (no row
        decode); at real scale run this on executors and collect.
        """
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for p in paths:
            md = pq.ParquetFile(p).metadata
            mins: dict[str, float] = {}
            maxs: dict[str, float] = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    if not isinstance(st.min, (int, float)) or isinstance(st.min, bool):
                        continue
                    name = col.path_in_schema
                    mins[name] = st.min if name not in mins else min(mins[name], st.min)
                    maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
            out[p] = {
                "rows": md.num_rows,
                "min": mins,
                "max": maxs,
            }
        return out

    def _evolved_schema(self, base: dict | None, df: DataFrame) -> StructType | None:
        """Schema for a commit appending ``df`` on top of manifest ``base``.

        Additive evolution only (the Delta/Iceberg default): new columns
        join the schema as nullable (old files simply lack them — readers
        see NULL); a same-name column with a DIFFERENT type is rejected,
        because parquet files written under both types would make the
        column unreadable under either.  Column order follows the base
        schema, new columns appended.
        """
        if base is None:
            return df.schema
        schema_json = base.get("schema")
        if schema_json is None:
            # legacy table (committed before schemas were recorded): the full
            # column set is unknown, so committing df.schema could HIDE old
            # files' extra columns behind an explicit narrower read schema —
            # keep the schemaless read path instead
            return None
        prev = StructType.fromJson(schema_json)
        by_name = {f.name: f for f in prev.fields}
        out = list(prev.fields)
        for f in df.schema.fields:
            old = by_name.get(f.name)
            if old is None:
                out.append(StructField(f.name, f.dataType, nullable=True))
            elif old.dataType != f.dataType:
                raise SchemaEvolutionError(
                    f"column {f.name!r} changes type {old.dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()}; only additive evolution is supported"
                )
        return StructType(out)

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """ACID append: new snapshot = previous files + newly staged files.

        The committed schema is the additive merge of the table's and the
        DataFrame's (see :func:`_evolved_schema`) — appending a frame with
        a new column widens the table; old rows read NULL for it.
        """
        new_files = self._stage(df)
        base = self._manifest()
        with self._reclaiming(base, new_files):
            prev = base["files"] if base is not None else []
            schema = self._evolved_schema(base, df)
            return self._commit(prev + new_files, "append", txn=txn, base=base, schema=schema)

    def overwrite(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """ACID overwrite: new snapshot references only the new files.

        Old files stay on disk for time travel until :func:`vacuum`.
        The schema is replaced wholesale (overwrite = new table contents);
        time travel still reads each old version under ITS schema.
        """
        base = self._manifest()
        new_files = self._stage(df)
        with self._reclaiming(base, new_files):
            return self._commit(
                new_files, "overwrite", txn=txn, base=base, schema=df.schema, deletes=[]
            )

    def added_files(self, since_version: int | None, version: int | None = None) -> list[str]:
        """Data files present in ``version`` but not in ``since_version``
        (``None`` = everything).  For append-only history this IS the
        change set — the basis of incremental computation (see
        plans/incremental.py)."""
        v = self.latest_version() if version is None else version
        cur = self._read_manifest(v)["files"]
        if since_version is None:
            return list(cur)
        prev = set(self._read_manifest(since_version)["files"])
        return [f for f in cur if f not in prev]

    def read_changes(
        self, spark: SparkSession, since_version: int | None, version: int | None = None
    ) -> DataFrame:
        """Change feed: rows added in ``(since_version, version]``.

        Valid only across pure appends — a delete/merge/overwrite in the
        window means the file diff is NOT the row diff, and this raises
        rather than return wrong changes (the caller falls back to a full
        diff or recompute, as plans/incremental.py does)."""
        if not self.appends_only_between(since_version, version):
            raise ValueError(
                "non-append commit in the requested window: file diff is not a row diff"
            )
        return self._read(
            spark, self._snapshot(version), self.added_files(since_version, version)
        )

    def appends_only_between(self, since_version: int | None, version: int | None = None) -> bool:
        """True if every commit in (since, version] kept all prior files
        (pure appends) — the precondition for file-diff incremental reads."""
        v = self.latest_version() if version is None else version
        if since_version is None:
            start = 0
        else:
            start = since_version + 1
        for mv in self.versions():
            if start <= mv <= v and self._read_manifest(mv)["op"] != "append":
                return False
        return True

    # -- merge-on-read mutations (deletion vectors) -------------------------

    def _live(
        self, spark: SparkSession, files: list[str], m: dict, tagged: bool = False
    ) -> DataFrame:
        """Read ``files`` of snapshot ``m`` with its deletion vectors
        applied — the one deletion-vector path of every read and mutation.

        Rows are tagged with their physical address (``_dv_file``,
        ``_dv_pos``) from the parquet reader's hidden ``_metadata`` column
        — Spark's native equivalent of Iceberg's (file, position) delete
        key — and vector-masked rows leave through one BROADCAST anti-join
        on that address: deletion vectors are tiny next to the data they
        mask, so the read stays a single scan with a map-side filter,
        never a shuffle.  Tagging happens BEFORE the join
        (``input_file_name()`` refuses the join's second parquet source;
        the metadata column binds to its scan regardless).  The tags are
        kept only when ``tagged`` (mutations locate rows by them); a
        snapshot with no vectors read untagged adds no metadata columns.
        """
        from pyspark.sql import functions as F

        df = self._read_files(spark, files, m)
        deletes = m.get("deletes", [])
        if not (deletes or tagged):
            return df
        df = df.select(
            "*",
            F.col("_metadata.file_path").alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
        )
        if deletes:
            dv = spark.read.parquet(*deletes).select("file_path", "row_index")
            cond = (F.col("_dv_file") == F.col("file_path")) & (
                F.col("_dv_pos") == F.col("row_index")
            )
            df = df.join(F.broadcast(dv), cond, "left_anti")
        return df if tagged else df.drop("_dv_file", "_dv_pos")

    def delete_where_mor(self, spark: SparkSession, condition) -> int:
        """Merge-on-read DELETE (Iceberg-v2-style positional deletes) of
        the rows matching ``condition`` (SQL string or Column): record
        their (file, row position) pairs as a deletion-vector parquet and
        leave every data file untouched.

        The 100 TB trade: a predicate touching 1 row per file makes
        copy-on-write rewrite the whole table; merge-on-read writes
        kilobytes and defers the rewrite to :meth:`compact` / OPTIMIZE,
        which read through :meth:`read` (vectors applied) and commit with
        an empty vector list — materializing the deletes.  Reads pay one
        broadcast anti-join until then.  A file whose every row matches
        leaves the snapshot instead (see :meth:`_mutate`).
        """
        from pyspark.sql import functions as F

        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._mutate(spark, self._manifest(), "delete-mor", lambda live: live.filter(cond))

    def delete_keys_mor(self, spark: SparkSession, keys, key: str) -> int:
        """Merge-on-read DELETE by KEY SET: deletion vectors for every
        live row whose ``key`` appears in ``keys``, a Python iterable or a
        DataFrame with a ``key`` column.

        A key list is an exact IN-list filter whose match scan opens only
        the files the manifest's min/max and blooms admit — the walk
        :meth:`scan_in` prunes with (:meth:`_prune_keys`).  A DataFrame is
        a semi-join over every file, so the key set can be arbitrarily
        large; it is broadcast when small and shuffles otherwise (AQE's
        call).
        """
        m = self._manifest()
        if isinstance(keys, DataFrame):
            ks = keys.select(key).distinct()
            return self._mutate(spark, m, "delete-mor", lambda live: live.join(ks, key, "left_semi"))
        vals = list(keys)
        return self._mutate(
            spark,
            m,
            "delete-mor",
            lambda live: live.filter(self._in_filter(key, vals)),
            scan=self._prune_keys(m, key, vals) if m else [],
        )

    def _mutate(
        self,
        spark: SparkSession,
        m: dict | None,
        op: str,
        match,
        rows: DataFrame | None = None,
        txn: tuple[str, int] | None = None,
        scan: list[str] | None = None,
    ) -> int | None:
        """The one merge-on-read mutation body (``delete_where_mor``,
        ``delete_keys_mor``, ``merge``, ``apply_cdc``): ``match`` narrows
        the live, address-tagged files ``scan`` of snapshot ``m`` (default:
        all of them; else a manifest-pruned superset of the files holding
        matches) to the rows the mutation retires, whose (file, row
        position) pairs become one staged deletion-vector directory;
        ``rows``, if given, are staged as new data files.  Both land in
        ONE commit on top of ``m``, so no reader and no crash sees the
        inserts without the deletes.  No data file is rewritten — the
        rewrite is deferred to :meth:`compact` / :meth:`optimize`.

        The vector is written through ``repartition(1)``, so a mutation
        adds ONE vector file, not one per scan task, to every later
        read's broadcast; the scan keeps its parallelism (``coalesce(1)``
        would not).  The shuffle costs one extra Spark job per mutation
        under adaptive execution, which runs its map stage as a job of
        its own.  The driver then reads the vector's ``file_path`` column
        with pyarrow (no Spark job): a data file it retires whole (its
        count equals the footer ``rows`` in the manifest) leaves the
        commit's file list instead of being masked, and a vector that
        masks nothing else is not committed.  Emptiness of the inserted
        rows comes from their staged parquet footers; when nothing is
        retired or inserted, nothing is committed and ``m``'s version is
        returned.  If staging or the commit fails, :meth:`_reclaiming`
        removes the staged directories unless the version this commit
        claimed references them.
        """
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        files = m["files"] if m else []
        scan = files if scan is None else scan
        # checked before any job: an incompatible column type stages nothing
        schema = None if rows is None else self._evolved_schema(m, rows)
        dirs: list[str] = []
        vectors: list[str] = []
        staged: list[str] = []
        dead: set[str] = set()
        with self._reclaiming(m, vectors, staged, dirs=dirs):
            if scan:
                matched = match(self._live(spark, scan, m, tagged=True)).select(
                    F.col("_dv_file").alias("file_path"), F.col("_dv_pos").alias("row_index")
                )
                stage_dir = os.path.join(self.path, f"deletes-{uuid.uuid4().hex}")
                dirs.append(stage_dir)
                t0 = time.perf_counter()
                matched.repartition(1).write.parquet(stage_dir)
                vectors.extend(
                    os.path.join(stage_dir, f)
                    for f in sorted(os.listdir(stage_dir))
                    if f.endswith(".parquet")
                )
                hits = pq.read_table(vectors, columns=["file_path"])["file_path"].value_counts()
                # _metadata.file_path is a URI (file:/p); manifests store
                # plain local paths
                counts = {_localpath(h["values"]): h["counts"] for h in hits.to_pylist()}
                stats = m.get("stats", {})
                dead = {f for f, n in counts.items() if n == stats.get(f, {}).get("rows")}
                if len(dead) == len(counts):  # empty, or masks only files that leave
                    shutil.rmtree(stage_dir, ignore_errors=True)
                    vectors.clear()
                else:
                    self._pending_ms[stage_dir] = {"stage_ms": (time.perf_counter() - t0) * 1000.0}
            if rows is not None:
                staged.extend(self._stage_nonempty(rows))
            if not (vectors or staged or dead):
                return m["version"] if m else None
            # the schema evolves only when rows land (a delete-only batch
            # keeps the table's schema whatever columns its frame carries)
            return self._commit(
                [f for f in files if f not in dead] + staged,
                op,
                txn=txn,
                base=m,
                schema=schema if staged else None,
                deletes=(m.get("deletes", []) if m else []) + vectors,
            )

    @contextlib.contextmanager
    def _reclaiming(self, m: dict | None, *staged: list[str], dirs: list[str] = ()):
        """Run a body that stages files and commits them on top of ``m``
        (every write path commits inside one).  If it raises, undo the
        staging: remove ``dirs`` and the directories of the ``staged``
        paths (data files, bloom sidecars, vectors) and drop those paths'
        pending stats and timings.  The lists are read only then, so a
        body may fill them as it stages.

        Nothing is removed if the version the commit claimed references
        a staged path: ``_commit``'s ``os.link`` can succeed (the version
        is durable and points at these files) and still raise afterwards;
        deleting then would corrupt the committed version.  A manifest
        that cannot be read proves nothing, so the files are kept."""
        try:
            yield
        except Exception:
            # Exception, not BaseException: an interrupt between the link
            # and the return must not trigger cleanup either
            paths = [p for ps in staged for p in ps]
            try:
                landed = self._read_manifest(0 if m is None else m["version"] + 1)
                refs = set(landed.get("files", [])) | set(landed.get("deletes", []))
            except FileNotFoundError:
                refs = set()
            except (OSError, ValueError):
                refs = None
            if refs is not None and refs.isdisjoint(paths):
                for p in paths:
                    self._pending_stats.pop(p, None)
                for d in set(dirs) | {os.path.dirname(p) for p in paths}:
                    self._pending_ms.pop(d, None)
                    shutil.rmtree(d, ignore_errors=True)
            raise

    def apply_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key: str,
        seq_col: str,
        op_col: str = "op",
    ) -> int:
        """Apply a change-data-capture batch: rows carry an op ('I'/'U'
        emit the new image, 'D' deletes the key) and a sequence column;
        only each key's LATEST change applies (CDC feeds replay history).

        ONE merge-on-read commit per batch, whatever its change volume:
        one deletion vector retires the live row of every key the batch
        touches (upserted or deleted) and the upserted images are staged
        beside it, so no version holds a batch's upserts without its
        deletes.  Key-join-shaped throughout (no collect, no per-row op).
        Keys whose latest change is D are deleted even if earlier changes
        in the same batch upserted them.  A batch that matches no live row
        and upserts nothing commits nothing.  Reads carry the vector until
        :meth:`optimize` / :meth:`compact` rewrites the table.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        # deterministic tie-break on equal seq: op DESC ('U' > 'I' > 'D'),
        # so a same-seq upsert beats a same-seq delete identically on every
        # run — without it row_number resolves ties by arrival order and a
        # (key, seq) collision could apply U or D nondeterministically
        w = Window.partitionBy(key).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        latest = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        ups = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
        return self._mutate(
            spark,
            self._manifest(),
            "cdc",
            lambda live: live.join(latest.select(key), key, "left_semi"),
            rows=ups,
        )

    def last_txn_batch(self, app: str) -> int:
        """Highest batch id committed by ``app``, or -1 (idempotence probe
        for streaming writers — see streaming/ingest.stream_upsert)."""
        best = -1
        for v in self.versions():
            txn = self._read_manifest(v).get("txn")
            if txn and txn["app"] == app:
                best = max(best, txn["batch"])
        return best

    def merge(self, spark: SparkSession, source: DataFrame, key: str, txn: tuple[str, int] | None = None) -> int:
        """Merge-on-read MERGE (upsert): rows of ``source`` replace
        same-``key`` rows in the table; unmatched source rows are inserted.

        One commit: a deletion vector retires every live row whose key is
        in ``source`` (broadcast semi-join against the source keys) and
        ``source`` is staged as new files.  No data file is rewritten, so
        the commit writes the source plus kilobytes of vector, not the
        files the keys land in (Delta's copy-on-write MERGE cost, which
        deletion vectors remove).  Reads carry the vector until
        :meth:`optimize` / :meth:`compact` rewrites the table.  A source
        column the table lacks evolves its schema (:meth:`_evolved_schema`);
        ``txn`` records the streaming-sink marker
        (:meth:`last_txn_batch`).  On a fresh table the source is staged
        and its schema committed.  An empty source commits nothing, on a
        fresh table as on an existing one (a fresh table returns None).
        """
        from pyspark.sql import functions as F

        keys = F.broadcast(source.select(key).distinct())
        return self._mutate(
            spark,
            self._manifest(),
            "merge",
            lambda live: live.join(keys, key, "left_semi"),
            rows=source,
            txn=txn,
        )

    # -- read paths ----------------------------------------------------------

    def _read_files(self, spark: SparkSession, files: list[str], m: dict) -> DataFrame:
        """Read ``files`` under the schema committed in manifest ``m``.

        The explicit schema is what makes additive evolution work: files
        written before a column existed simply lack it in their footer and
        the reader fills NULL — no mergeSchema footer-sweep job (which at
        100 TB reads every footer just to plan the scan)."""
        schema_json = m.get("schema")
        reader = spark.read
        if schema_json is not None:
            reader = reader.schema(StructType.fromJson(schema_json))
        return reader.parquet(*files)

    def _read(
        self, spark: SparkSession, m: dict, files: list[str] | None = None, pred=None
    ) -> DataFrame:
        """The one pruned-read path: ``files`` (default: all of ``m``'s) is
        a manifest-pruned superset of the files holding matches, ``pred``
        the exact re-filter — the reference's Inexact pushdown contract
        (pc-format/src/table.rs:128-155).  Deletion vectors of ``m``
        apply; an empty prune reads the snapshot's shape with no rows, as
        does a snapshot whose every file a mutation retired.

        Each version is read under the schema COMMITTED AT that version —
        time travel to before a column was added shows the old shape.
        """
        if not m["files"]:
            if m.get("schema") is None:
                raise FileNotFoundError("empty snapshot")
            return spark.createDataFrame([], StructType.fromJson(m["schema"]))
        if files is None:
            files = m["files"]
        if not files:
            return self._live(spark, m["files"], m).limit(0)
        df = self._live(spark, files, m)
        return df if pred is None else df.filter(pred)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Consistent snapshot read; ``version`` enables time travel."""
        return self._read(spark, self._snapshot(version))

    @staticmethod
    def _prune(m: dict, keep) -> list[str]:
        """The one walk over a manifest's file stats: the files (in
        manifest order) that ``keep(path, stats)`` admits.  Files without
        recorded stats arrive as ``{}``, which every ``_*_test`` keeps — the
        Inexact contract: pruning may keep extra files, never drop one
        holding a match."""
        stats = m.get("stats", {})
        return [f for f in m["files"] if keep(f, stats.get(f) or {})]

    def prune_files(self, ranges: dict[str, tuple[float, float]], version: int | None = None) -> list[str]:
        """Manifest-stats file skipping: the files a scan with the given
        per-column [lo, hi] predicate must read.

        A file survives if, for every predicated column, its footer
        [min, max] interval intersects [lo, hi] (files without recorded
        stats are conservatively kept).  This is planner-side pruning from
        the COMMIT LOG alone — no file is opened (SURVEY.md §4's
        "externalized manifest index"; same role as the reference's
        row-group R-tree, pc-io/src/helpers.rs:35-125).
        """
        return self._prune(self._snapshot(version), self._range_test(ranges))

    @staticmethod
    def _range_test(ranges: dict[str, tuple[float, float]]):
        def keep(_path: str, st: dict) -> bool:
            mins, maxs = st.get("min", {}), st.get("max", {})
            return not any(
                c in mins and (maxs[c] < lo or mins[c] > hi) for c, (lo, hi) in ranges.items()
            )

        return keep

    def prune_files_by_values(
        self, col: str, values, version: int | None = None
    ) -> list[str]:
        """Files an IN-list scan ``col IN (values)`` must read, from
        manifest min/max stats alone (no file opened; files without
        recorded stats for ``col`` are conservatively kept — the same
        Inexact contract as :meth:`prune_files`).

        The incremental-dedup shape: state tables are written clustered
        by a blocking key (``repartition(key)`` before append puts each
        key in exactly one file), so a batch's dirty-key list prunes the
        store read to the dirty files — the partition-level semi-join
        the reference's row-group R-tree performs inside one file
        (``pc-io/src/helpers.rs:35-125``), lifted to the commit log.
        """
        return self._prune(self._snapshot(version), self._values_test(col, values))

    @staticmethod
    def _values_test(col: str, values):
        vals = sorted(set(values))

        def keep(_path: str, st: dict) -> bool:
            if col not in st.get("min", {}):
                return True
            lo, hi = st["min"][col], st["max"][col]
            return any(lo <= x <= hi for x in vals)

        return keep

    def prune_files_by_keys(
        self, col: str, values, version: int | None = None
    ) -> list[str]:
        """Files an IN-list probe ``col IN (values)`` must read, from the
        per-file BLOOMS — the point-lookup complement of
        :meth:`prune_files_by_values` (whose min/max path needs the table
        RANGE-clustered on ``col``; blooms prune hash-scattered keys too).
        A file is kept iff its bloom admits AT LEAST ONE probe key; files
        without a bloom for ``col`` are conservatively kept (the Inexact
        contract).

        The LSH-index shape (round 12): a near-dup batch probes the
        signature store with its band keys — each key lives in O(1) files
        per commit (hash-clustered writes), so the batch reads the files
        holding true bucket collisions instead of the whole store.
        """
        return self._prune(self._snapshot(version), self._bloom_test(col, values))

    @classmethod
    def _bloom_test(cls, col: str, values):
        keys = set(values)
        pos_cache: dict[int, list[list[int]]] = {}

        def keep(path: str, st: dict) -> bool:
            decoded = cls._bloom_entry(path, st.get("bloom", {}), col)
            if decoded is None:
                return True
            nbits, bitmap = decoded
            if nbits not in pos_cache:
                pos_cache[nbits] = [cls._bloom_positions(x, nbits) for x in keys]
            return any(all(bitmap >> pos & 1 for pos in ps) for ps in pos_cache[nbits])

        return keep

    @staticmethod
    def _in_filter(col: str, vals: list):
        """IN-list predicate built as ONE parsed SQL expression.

        ``F.col(col).isin(vals)`` makes a py4j round trip PER literal —
        measured 1.9-2.2 s of pure driver time at 2716 probe keys
        (guide §5: the driver should do almost no work), while parsing
        the same list as one SQL string costs ~0.1 s and yields the
        identical Catalyst ``In``/``InSet`` predicate.  The SQL fast
        path covers the manifest-key types (string/int/bool — the
        :attr:`_BLOOM_TYPES` domain); anything else falls back to isin.
        """
        from pyspark.sql import functions as F

        if not vals:
            return F.lit(False)
        spark = SparkSession.getActiveSession()
        if all(isinstance(v, str) for v in vals):
            # backslash escaping assumes the DEFAULT parser
            # (spark.sql.parser.escapedStringLiterals=false); under the
            # legacy setting '\\' round-trips differently, so fall back
            # to isin there (ADVICE r13)
            if (
                spark is not None
                and spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
                == "true"
            ):
                return F.col(col).isin(list(vals))
            lits = ",".join(
                "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals
            )
        elif all(isinstance(v, bool) for v in vals):
            lits = ",".join("true" if v else "false" for v in vals)
        elif all(
            isinstance(v, int) and not isinstance(v, bool) and -(2**63) <= v < 2**63
            for v in vals
        ):
            lits = ",".join(str(v) for v in vals)
        else:
            return F.col(col).isin(list(vals))
        return F.expr(f"`{col.replace('`', '``')}` IN ({lits})")

    def scan_in(
        self,
        spark: SparkSession,
        col: str,
        keys,
        version: int | None = None,
        max_prune_keys: int = 100_000,
    ) -> DataFrame:
        """Snapshot read of ``col IN (keys)`` where ``keys`` may be a
        Python iterable OR a single-column DataFrame — the 100 TB shape,
        where a batch's probe set can exceed what a driver should collect
        (the :func:`~agile_lakehouse_spark.operators.dedup.
        minhash_store_backed_update` escape hatch).  The only key-set read:
        :meth:`lookup` is its one-key form.

        DataFrame keys are taken up to ``max_prune_keys``: at or under
        the cap the distinct key list drives manifest pruning — min/max
        range stats AND blooms, intersected (each is a no-false-negative
        filter, so their intersection is too) — plus an exact IN-list
        re-filter.  Over the cap the read degrades gracefully to the full
        file list with a broadcast semi-join: file pruning needs
        driver-side literals by construction (the commit log is
        driver-side metadata), so a probe set too large to collect is
        also too large to prune with, and the semi-join is the honest
        distributed fallback.
        """
        from pyspark.sql import functions as F

        m = self._snapshot(version)
        if isinstance(keys, DataFrame):
            kdf = keys.select(F.col(keys.columns[0]).alias(col)).distinct()
            head = kdf.take(max_prune_keys + 1)
            if len(head) > max_prune_keys:
                return self._read(spark, m).join(F.broadcast(kdf), col, "left_semi")
            vals = [r[0] for r in head]
        else:
            vals = list(keys)
        return self._read(spark, m, self._prune_keys(m, col, vals), self._in_filter(col, vals))

    def _prune_keys(self, m: dict, col: str, vals: list) -> list[str]:
        """The files of ``m`` that can hold ``col IN (vals)``: min/max
        range stats AND blooms, intersected (each is a no-false-negative
        filter, so their intersection is too).  The pruning walk of
        :meth:`scan_in` and of a key-list :meth:`delete_keys_mor`."""
        in_range = self._values_test(col, vals)
        in_bloom = self._bloom_test(col, vals)
        try:
            # the bloom (a sidecar read) is consulted only for files that
            # survive min/max
            return self._prune(m, lambda f, st: in_range(f, st) and in_bloom(f, st))
        except TypeError:
            # float keys: blooms excluded by contract, range stats stand
            return self._prune(m, in_range)

    def lookup(self, spark: SparkSession, col: str, value, version: int | None = None) -> DataFrame:
        """Point lookup ``col = value``: :meth:`scan_in` with one key."""
        return self.scan_in(spark, col, [value], version)

    def scan(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple[float, float]] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read with manifest-level file skipping.

        The range predicate is BOTH used to prune files from the manifest
        stats AND re-applied as a Spark filter (manifest pruning is a
        superset guarantee, exactly like the reference's Inexact pushdown
        contract, pc-format/src/table.rs:128-155).
        """
        from pyspark.sql import functions as F

        m = self._snapshot(version)
        if not ranges:
            return self._read(spark, m)
        pred = F.lit(True)
        for col, (lo, hi) in ranges.items():
            pred = pred & (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        return self._read(spark, m, self._prune(m, self._range_test(ranges)), pred)

    def history(self) -> list[dict]:
        return [self._read_manifest(v) for v in self.versions()]

    # -- maintenance ---------------------------------------------------------

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the current snapshot into fewer files (new version)."""
        df = self.read(spark).repartition(target_files)
        return self.overwrite(df)

    def optimize(
        self,
        spark: SparkSession,
        zorder_by: tuple[str, str] | None = None,
        target_files: int = 8,
        cluster_by: str | tuple[str, ...] | None = None,
    ) -> int:
        """OPTIMIZE [ZORDER BY (a, b) | CLUSTER BY (cols)]: rewrite the
        snapshot so per-file min/max stats become TIGHT on the clustering
        columns (new version; time travel to the pre-optimize layout still
        works).

        Without either option this is plain compaction.  With
        ``zorder_by``, rows are range-partitioned on a Morton interleave
        of the two columns and sorted within files — each file then owns a
        spatially contiguous block, so :meth:`prune_files` / reader
        row-group pruning skip most files for range predicates (Delta
        ``OPTIMIZE ZORDER BY``, built from the same
        `plans/layout.zorder_key` the layout engine uses; oracle-verified
        bit-for-bit in dq70).  With ``cluster_by`` (round 12), rows are
        range-partitioned on the given column(s) directly — the
        maintenance companion of the incremental-dedup stores, whose
        appends grow one file-set per batch: after N batches the manifest
        prune lists grow linearly, and re-clustering restores DISJOINT
        per-file key ranges so :meth:`prune_files_by_values` is tight
        again (reference analogue: the merge/compaction lifecycle,
        ``pc-cli/src/merge.rs:46-84``).

        Scale: one shuffle (the range partitioner samples the key), one
        write; the rewrite parallelizes per output file.
        """
        if zorder_by is None and cluster_by is None:
            return self.compact(spark, target_files)
        from pyspark.sql import functions as F

        if cluster_by is not None:
            if zorder_by is not None:
                raise ValueError("pass zorder_by or cluster_by, not both")
            cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
            clustered = (
                self.read(spark)
                .repartitionByRange(target_files, *cols)
                .sortWithinPartitions(*cols)
            )
            return self.overwrite(clustered)

        from agile_lakehouse_spark.plans.layout import zorder_key

        cx, cy = zorder_by
        df = self.read(spark)
        zk = zorder_key(F.floor(F.col(cx)).cast("bigint"), F.floor(F.col(cy)).cast("bigint"))
        clustered = (
            df.withColumn("__zk", zk)
            .repartitionByRange(target_files, "__zk")
            .sortWithinPartitions("__zk")
            .drop("__zk")
        )
        return self.overwrite(clustered)

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Drop data files unreachable from the newest ``keep_versions``,
        with their bloom sidecars, and unreachable deletion vectors.  A
        staged directory that held such a file and holds no file of a
        kept version goes too, with its ``_SUCCESS`` and checksum files;
        a directory no version lists (a writer's in-flight staging) is
        never touched.

        Returns the deleted data files, vectors and sidecars.  Destroys
        time travel beyond the kept window (same contract as Delta VACUUM).
        ``keep_versions`` must be at least 1 — the newest version is
        always kept — and a smaller value raises ``ValueError`` before
        any file is touched.
        """
        if keep_versions < 1:
            raise ValueError(f"vacuum: keep_versions must be >= 1, got {keep_versions}")
        vs = self.versions()
        keep = set()
        for v in vs[-keep_versions:]:
            m = self._read_manifest(v)
            keep.update(m["files"])
            keep.update(m.get("deletes", []))
        removed = []
        dead_dirs = set()
        for v in vs[:-keep_versions]:
            m = self._read_manifest(v)
            for f in m["files"] + m.get("deletes", []):
                if f in keep:
                    continue
                dead_dirs.add(os.path.dirname(f))
                for p in (f, self._sidecar(f)):
                    if os.path.exists(p):
                        os.unlink(p)
                        removed.append(p)
        for d in dead_dirs - {os.path.dirname(f) for f in keep}:
            if os.path.basename(d).startswith(("stage-", "deletes-")):
                shutil.rmtree(d, ignore_errors=True)
        return removed


class StateStore:
    """The state-store protocol the store-backed dedup family shares
    (exact, MinHash and embedding dedup; SemDeDup's vector table): one
    :class:`TransactionalTable` holds the operator state, each batch
    probes the pre-commit snapshot for the keys it can match, and one
    commit appends the batch's clustered rows.  The operator supplies
    only its key extraction, its match kernel and its clustering.

    - ``probe``: the rows whose key is in the batch's key set, read with
      manifest pruning (:meth:`TransactionalTable.scan_in`); before the
      first commit there is nothing to read and the caller's empty frame
      stands in for the store.
    - ``keep``: persist a frame the match plan reads more than once and
      register it in ``caches`` for the caller to unpersist.
    - ``commit(rows, result)``: pin ``result``, then append ``rows``.

    Why the result is pinned BEFORE the append: the match plan reads the
    pre-commit snapshot by explicit file list, so a caller running
    ``optimize()``/``vacuum()`` between the update and consuming the
    result would otherwise recompute from rewritten or deleted files.
    An eager ``localCheckpoint`` materializes the (small) result once
    and cuts that lineage, so it is safe under any later maintenance.

    Why ``fold_only`` leaves the store bit-identical: the corpus-bootstrap
    shape passes ``result=None`` and skips computing the result it would
    discard.  The appended rows are the same frame either way — they
    never depend on the match plan — so a later batch sees exactly the
    same state (fold-parity pinned in tests/test_store_backed_dedup.py).
    """

    def __init__(
        self,
        path: str,
        bloom_columns: tuple[str, ...] = (),
        bloom_bits: int | None = None,
        caches: list | None = None,
    ):
        self._table = TransactionalTable(path, bloom_columns, bloom_bits)
        self.caches = [] if caches is None else caches

    def keep(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.caches.append(df)
        return df

    def probe(self, spark: SparkSession, col: str, keys, empty, shape=None):
        """``col IN keys`` over the pre-commit snapshot, or ``empty`` when
        the store has no version yet.  ``shape`` projects the scanned rows,
        which are then kept: the probe feeds several branches of the match
        plan and should be read once."""
        if self._table.latest_version() is None:
            return empty
        found = self._table.scan_in(spark, col, keys)
        return found if shape is None else self.keep(shape(found))

    def commit(self, rows: DataFrame, result: DataFrame | None = None) -> DataFrame | None:
        if result is not None:
            result = result.localCheckpoint(eager=True)
        self._table.append(rows)
        return result


def commit_with_retry(fn, retries: int = 5):
    """Run a commit-producing callable under optimistic concurrency.

    The commit log's put-if-absent link makes every version race safe but
    LOSABLE: a concurrent writer claiming the version first raises
    :class:`CommitConflict`.  Writers whose change is derived from the
    latest snapshot must re-derive and retry — this helper is that loop
    (Delta-style optimistic concurrency control).  ``fn`` must re-READ the
    table state on each call; retrying a closure over a stale DataFrame
    would silently resurrect the lost race.
    """
    last: CommitConflict | None = None
    for _ in range(retries):
        try:
            return fn()
        except CommitConflict as e:
            last = e
    raise last
