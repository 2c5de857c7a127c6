"""``lake_mutate``: reads beside commits on bloom-indexed lakehouse tables.

One client runs cycles against a ``TransactionalTable`` of points (bloom
index on ``pid``).  A cycle interleaves, in a fixed order with seeded
arguments, snapshot reads (range ``scan``, ``scan_in`` and ``lookup`` by
pid, time-travel ``read``), three commit kinds (``append``,
``delete_where_mor``, ``merge``), one batch of documents folded through
the store-backed ``exact_dedup_store_backed_update`` and one batch of
document embeddings folded through the store-backed
``embedding_store_backed_update``; both updates commit to tables of their
own.  Each cycle ends with ``optimize(zorder_by=...)`` and ``vacuum``,
then one more round of reads that pays for whatever maintenance left
behind.

Every read is checked against a driver-side model of the live rows, kept
per committed version so time travel is checked too.  Every dedup update
is checked against the duplicates planted in its batch.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np

from perfbench.common import DiskLedger, Op, disk_bytes

ROWS = 100_000  # initial points
ROW_BYTES = 8 * 4  # pid, x, y, z
EXTENT = 1000.0
KEEP_VERSIONS = 4
READ_KINDS = ("scan", "scan_in", "lookup", "read_version")
# One cycle, in this fixed order (the seed picks every operation's
# arguments): a read's cost depends on the commits before it (deletion
# vectors, file counts), so a seeded order would move the figures from
# seed to seed.  A round of the four reads follows each commit; 20 of the
# 27 operations are reads.
CYCLE = (
    *READ_KINDS, "append", *READ_KINDS, "delete_mor", *READ_KINDS, "merge", *READ_KINDS,
    "exact", "embedding", "optimize", "vacuum", *READ_KINDS,
)
WARMUP_ROUNDS = 3  # untimed rounds of the four reads before the first cycle
BATCH_DOCS = 60
BOOT_DOCS = 60
DUP_SHARE = 0.10  # planted duplicates per batch
WORDS = 12  # words per text document, from a vocabulary of VOCAB
VOCAB = 5000
DIM = 64
CELLS = 8
THRESHOLD = 0.9  # cosine at which the embedding store reports a match
# what a snapshot read is checked by; LakeModel.summary computes the same
SUMMARY = ("count(*)", "sum(pid)", "sum(floor(x * 1000.0))")
SMALL_FILE = 64 * 1024  # bytes; smaller data files count as small


# -- driver-side model of the points table --------------------------------------

class LakeModel:
    """The live rows ``pid -> (x, y, z)`` and a summary per version."""

    def __init__(self):
        self.rows: dict[int, tuple[float, float, float]] = {}
        self.versions: dict[int, tuple[int, int, int]] = {}
        self.oldest = 0  # oldest version whose files survive vacuum

    def summary(self) -> tuple[int, int, int]:
        return (
            len(self.rows),
            sum(self.rows),
            sum(math.floor(r[0] * 1000.0) for r in self.rows.values()),
        )

    def scan(self, x0, x1, y0, y1) -> tuple[int, int]:
        hits = [p for p, r in self.rows.items() if x0 <= r[0] <= x1 and y0 <= r[1] <= y1]
        return len(hits), sum(hits)

    def upsert(self, pids, xs, ys, zs) -> None:
        for p, x, y, z in zip(pids, xs, ys, zs):
            self.rows[int(p)] = (float(x), float(y), float(z))

    def delete(self, pids) -> None:
        for p in pids:
            self.rows.pop(int(p), None)


def points_frame(spark, pids, xs, ys, zs):
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"pid": np.asarray(pids, np.int64), "x": xs, "y": ys, "z": zs}).to_pandas()
    )


# -- planted duplicates -------------------------------------------------------------

class VecPlant:
    """Seeded batches of document embeddings with planted exact and near
    duplicates of stored documents, and the model of the embedding store.

    Every duplicate copies, in its cell, a stored original that no other
    duplicate copies; so the matches an update must report against the
    store are exactly the planted ``(dup, src)`` pairs.
    """

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.next_id = 0
        self.vec: dict[int, np.ndarray] = {}
        self.cell: dict[int, int] = {}
        self.free: list[int] = []  # stored originals no duplicate copies yet
        self.stored: list[int] = []

    def batch(self, n: int, dup_share: float):
        """``(ids, planted)``: ``planted`` is the set of ``(dup, src)`` pairs."""
        rng, ids, planted = self.rng, [], set()
        n_dup = int(round(n * dup_share))
        dup_slots = set(rng.choice(np.arange(n), n_dup, replace=False).tolist()) if n_dup else set()
        for slot in range(n):
            i = self.next_id
            self.next_id += 1
            if slot in dup_slots and self.free:
                src = self.free.pop(int(rng.integers(len(self.free))))
                vec = self.vec[src].copy()
                if len(planted) % 2:  # every other one is a near duplicate
                    vec = vec + rng.normal(0.0, 0.01, DIM).astype(np.float32)
                self.vec[i], self.cell[i] = vec, self.cell[src]
                planted.add((i, src))
            else:
                self.vec[i] = rng.normal(0.0, 1.0, DIM).astype(np.float32)
                self.cell[i] = int(rng.integers(CELLS))
            ids.append(i)
        return ids, planted

    def matches(self, ids, threshold: float = THRESHOLD) -> set[tuple[int, int]]:
        """``(id, stored id)`` pairs of one cell whose cosine, rounded to
        four places, reaches ``threshold``: numpy over the whole store."""
        out = set()
        for i in ids:
            v = self.vec[i].astype(np.float64)
            for j in self.stored:
                if self.cell[j] != self.cell[i]:
                    continue
                u = self.vec[j].astype(np.float64)
                if round(float(v @ u / np.linalg.norm(v) / np.linalg.norm(u)), 4) >= threshold:
                    out.add((i, j))
        return out

    def fold(self, ids, planted) -> None:
        """The batch enters the store; its originals may be copied later."""
        dups = {d for d, _ in planted}
        self.free += [i for i in ids if i not in dups]
        self.stored += ids

    def frame(self, spark, ids):
        rows = [(i, int(self.cell[i]), self.vec[i].tolist()) for i in ids]
        return spark.createDataFrame(rows, "vec_id long, cell long, embedding array<float>")

    def doc_bytes(self, ids) -> int:
        return len(ids) * (8 + 8 + 4 * DIM)


class TextPlant:
    """Seeded batches of text documents with planted exact duplicates,
    and the model of the exact-dedup store (text -> kept id).

    A duplicate copies the text of a stored document or of an earlier
    document of its batch, so it always has the larger id."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.next_id = 0
        self.store: dict[str, int] = {}

    def batch(self, n: int, dup_share: float):
        """``(ids, texts, planted)``: ``planted`` is the set of duplicate ids."""
        rng, ids, texts, planted = self.rng, [], [], set()
        n_dup = int(round(n * dup_share))
        dup_slots = set(rng.choice(np.arange(n // 2, n), n_dup, replace=False).tolist()) if n_dup else set()
        for slot in range(n):
            i = self.next_id
            self.next_id += 1
            if slot in dup_slots:
                pool = list(self.store) + texts
                text = pool[int(rng.integers(len(pool)))]
                planted.add(i)
            else:
                text = " ".join(f"w{w}" for w in rng.integers(0, VOCAB, WORDS))
            ids.append(i)
            texts.append(text)
        return ids, texts, planted

    def verdicts(self, ids, texts) -> dict[int, tuple[int, bool]]:
        """``doc_id -> (keep_id, kept)`` as the update must report them: a
        stored text keeps its stored id, a new one the batch's least id."""
        first: dict[str, int] = {}
        for i, t in zip(ids, texts):
            first[t] = min(first.get(t, i), i)
        out = {}
        for i, t in zip(ids, texts):
            keep = self.store.get(t, first[t])
            out[i] = (keep, i == keep)
        return out

    def fold(self, ids, texts) -> int:
        """Enters the batch's new texts into the model; returns their bytes."""
        added = 0
        for i, t in zip(ids, texts):
            if t not in self.store:
                self.store[t] = i
                added += len(t.encode()) + 8
        return added

    @staticmethod
    def frame(spark, ids, texts):
        return spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")

    @staticmethod
    def doc_bytes(texts) -> int:
        return sum(len(t.encode()) + 8 for t in texts)


class LakeMutate:
    batch_rows = BATCH_DOCS
    cycle_s = 20.0  # seconds one cycle takes on a 4-core box

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.setups = 0
        self.caches: list = []

    # -- setup ------------------------------------------------------------------

    def setup(self, warm_up: bool = False) -> None:
        """Creates the table and bootstraps both stores; the warm-up set-up
        is the same (it is small)."""
        from agile_lakehouse_spark.plans.snapshots import TransactionalTable

        shutil.rmtree(os.path.join(self.work, f"setup{self.setups - 1}"), ignore_errors=True)
        base = os.path.join(self.work, f"setup{self.setups}")
        self.setups += 1
        rng = np.random.default_rng([self.seed, 1])
        spark, tr = self.spark, self.tracer
        t0 = time.perf_counter()
        self.model = LakeModel()
        pids = np.arange(ROWS, dtype=np.int64)
        xs, ys = rng.uniform(0, EXTENT, ROWS), rng.uniform(0, EXTENT, ROWS)
        zs = rng.uniform(0, 100, ROWS)
        self.table = TransactionalTable(os.path.join(base, "points"), bloom_columns=("pid",))
        with tr.span("plans.snapshots", "create"):
            v = self.table.append(points_frame(spark, pids, xs, ys, zs).repartition(4))
        self.model.upsert(pids, xs, ys, zs)
        self.model.versions[v] = self.model.summary()
        self.next_pid = ROWS
        self.plant = VecPlant(np.random.default_rng([self.seed, 3]))
        self.stores = os.path.join(base, "stores")
        ids, _ = self.plant.batch(BOOT_DOCS, 0.0)
        with tr.span("operators.similarity", "embedding_update"):
            self._embedding_update(self.plant.frame(spark, ids), fold_only=True)
        self.plant.fold(ids, set())
        self.texts = TextPlant(np.random.default_rng([self.seed, 5]))
        doc_ids, texts, _ = self.texts.batch(BOOT_DOCS, 0.0)
        with tr.span("operators.dedup", "exact_update"):
            self._exact_update(TextPlant.frame(spark, doc_ids, texts), fold_only=True)
        self.setup_s = time.perf_counter() - t0
        self._drop_caches()
        self.base = base
        self.ledger = DiskLedger(base)
        self.ledger.new_bytes()
        self.live_doc_bytes = self.plant.doc_bytes(ids) + self.texts.fold(doc_ids, texts)

    def _drop_caches(self) -> None:
        for df in self.caches:
            df.unpersist()
        self.caches.clear()

    def _embedding_update(self, vecs, fold_only: bool = False):
        from agile_lakehouse_spark.operators import similarity

        return similarity.embedding_store_backed_update(
            self.spark, vecs, f"{self.stores}/embedding", threshold=THRESHOLD,
            caches=self.caches, fold_only=fold_only)

    def _exact_update(self, docs, fold_only: bool = False):
        from agile_lakehouse_spark.operators import dedup

        return dedup.exact_dedup_store_backed_update(
            self.spark, docs, f"{self.stores}/exact", caches=self.caches, fold_only=fold_only)

    def user_bytes(self) -> float:
        return float(len(self.model.rows) * ROW_BYTES + self.live_doc_bytes)

    def space_amp(self) -> float:
        return disk_bytes(self.base) / self.user_bytes()

    # -- the cycle ----------------------------------------------------------------

    def cycle(self, c: int):
        rng = np.random.default_rng([self.seed, 2, c])
        after_vacuum = False
        for unit in CYCLE:
            if unit in READ_KINDS:
                name = "scan_after_maintenance" if after_vacuum and unit == "scan" else None
                yield self._read(rng, unit, name)
            else:
                yield getattr(self, f"_{unit}")(rng)
                after_vacuum = unit == "vacuum"

    def warmup_ops(self):
        """``WARMUP_ROUNDS`` rounds of the four reads, from a stream of their own."""
        rng = np.random.default_rng([self.seed, 4])
        return [self._read(rng, kind) for _ in range(WARMUP_ROUNDS) for kind in READ_KINDS]

    def _committed(self) -> bool:
        """Record the model's live rows as those of the latest version (a
        commit that matched nothing made none, and the rows are unchanged)."""
        self.model.versions[self.table.latest_version()] = self.model.summary()
        return True

    def _read(self, rng, kind: str, name: str | None = None) -> Op:
        spark, t, m = self.spark, self.table, self.model
        if kind == "scan":
            x0, y0 = (float(v) for v in rng.uniform(0, EXTENT - 100.0, 2))
            x1, y1 = x0 + 100.0, y0 + 100.0

            def run():
                r = t.scan(spark, {"x": (x0, x1), "y": (y0, y1)}).selectExpr("count(*)", "sum(pid)").first()
                return r[0], r[1] or 0

            def check(got):
                return tuple(got) == m.scan(x0, x1, y0, y1)

            def probe():
                return {**self._state(), "files_kept": len(t.prune_files({"x": (x0, x1), "y": (y0, y1)}))}
        elif kind in ("scan_in", "lookup"):
            hi = self.next_pid
            keys = sorted({int(k) for k in rng.integers(0, hi, 20 if kind == "scan_in" else 1)})

            def run():
                df = t.scan_in(spark, "pid", keys) if kind == "scan_in" else t.lookup(spark, "pid", keys[0])
                return {r["pid"]: (r["x"], r["y"], r["z"]) for r in df.collect()}

            def check(got):
                return got == {k: m.rows[k] for k in keys if k in m.rows}

            def probe():
                bloom = t.prune_files_by_keys("pid", keys)
                kept = set(bloom) & set(t.prune_files_by_values("pid", keys))
                return {**self._state(), "files_kept": len(kept), "bloom_kept": len(bloom),
                        "bloom_true": sum(holds_any(f, keys) for f in bloom)}
        else:
            # two commits back: a fixed distance, so the read costs the same
            # on every seed (a version before vacuum's horizon has no files)
            known = [v for v in m.versions if v >= m.oldest]
            back = [v for v in known if v <= max(known) - 2]
            v = max(back) if back else min(known)

            def run():
                return tuple(t.read(spark, version=v).selectExpr(*SUMMARY).first())

            def check(got):
                n, sp, sx = got
                return (n, sp or 0, sx or 0) == m.versions[v]

            probe = self._state
        return Op("read", name or kind, "plans.snapshots", run, check, probe=probe)

    def _state(self) -> dict:
        """Table state at the boundary: latest manifest size, deletion
        vectors, and the share of small live data files."""
        log = self.table.log_dir
        latest = max(f for f in os.listdir(log) if f.startswith("v") and f.endswith(".json"))
        man = self.table.history()[-1]
        sizes = [os.path.getsize(f) for f in man["files"]]
        return {
            "manifest_bytes": os.path.getsize(os.path.join(log, latest)),
            "dv_files": len(man.get("deletes", [])),
            "small_file_share": sum(sz < SMALL_FILE for sz in sizes) / max(len(sizes), 1),
            "files_total": len(man["files"]),
        }

    def _append(self, rng) -> Op:
        n = 500
        pids = np.arange(self.next_pid, self.next_pid + n)
        self.next_pid += n
        xs, ys, zs = rng.uniform(0, EXTENT, n), rng.uniform(0, EXTENT, n), rng.uniform(0, 100, n)
        df = points_frame(self.spark, pids, xs, ys, zs).coalesce(1)

        def run():
            return self.table.append(df)

        def check(_):
            self.model.upsert(pids, xs, ys, zs)
            return self._committed()
        return Op("write", "append", "plans.snapshots", run, check, n * ROW_BYTES, self._state)

    def _delete_mor(self, rng) -> Op:
        lo = int(rng.integers(0, self.next_pid - 150))

        def run():
            return self.table.delete_where_mor(self.spark, f"pid >= {lo} AND pid < {lo + 150}")

        def check(_):
            self.model.delete(range(lo, lo + 150))
            return self._committed()
        return Op("write", "delete_mor", "plans.snapshots", run, check, probe=self._state)

    def _merge(self, rng) -> Op:
        live = np.fromiter(self.model.rows, np.int64)
        old = rng.choice(live, 100, replace=False)
        new = np.arange(self.next_pid, self.next_pid + 100)
        self.next_pid += 100
        pids = np.concatenate([old, new])
        xs, ys, zs = rng.uniform(0, EXTENT, 200), rng.uniform(0, EXTENT, 200), rng.uniform(0, 100, 200)
        df = points_frame(self.spark, pids, xs, ys, zs)

        def run():
            return self.table.merge(self.spark, df, "pid")

        def check(_):
            self.model.upsert(pids, xs, ys, zs)
            return self._committed()
        return Op("write", "merge", "plans.snapshots", run, check, 200 * ROW_BYTES, self._state)

    def _optimize(self, rng) -> Op:

        def run():
            return self.table.optimize(self.spark, zorder_by=("x", "y"), target_files=2)

        def check(_):
            return self._committed()
        return Op("write", "optimize", "plans.snapshots", run, check, probe=self._state)

    def _vacuum(self, rng) -> Op:
        def run():
            return self.table.vacuum(keep_versions=KEEP_VERSIONS)

        def check(_):
            vs = self.table.versions()
            self.model.oldest = vs[-min(KEEP_VERSIONS, len(vs))]
            return True
        return Op("write", "vacuum", "plans.snapshots", run, check, probe=self._state)

    def _embedding(self, rng) -> Op:
        plant = self.plant
        ids, planted = plant.batch(BATCH_DOCS, DUP_SHARE)
        vecs = plant.frame(self.spark, ids)
        want = plant.matches(ids)
        nbytes = plant.doc_bytes(ids)

        def run():
            return {(r["vec_id"], r["match_id"]) for r in self._embedding_update(vecs).collect()}

        def check(got):
            plant.fold(ids, planted)
            self.live_doc_bytes += nbytes
            self._drop_caches()
            return got == want == planted
        return Op("write", "embedding_update", "operators.similarity", run, check, nbytes)

    def _exact(self, rng) -> Op:
        plant = self.texts
        ids, texts, planted = plant.batch(BATCH_DOCS, DUP_SHARE)
        docs = TextPlant.frame(self.spark, ids, texts)
        want = plant.verdicts(ids, texts)

        def run():
            verdicts = self._exact_update(docs)
            return {r["doc_id"]: (r["keep_id"], r["kept"]) for r in verdicts.collect()}

        def check(got):
            self.live_doc_bytes += plant.fold(ids, texts)
            self._drop_caches()
            flagged = {i for i, (_, kept) in got.items() if not kept}
            return got == want and flagged == planted
        return Op("write", "exact_update", "operators.dedup", run, check, TextPlant.doc_bytes(texts))


def holds_any(path: str, keys) -> bool:
    """Whether a data file physically holds any of ``keys`` (pyarrow)."""
    import pyarrow.parquet as pq

    pids = pq.read_table(path, columns=["pid"]).column("pid").to_numpy()
    return bool(np.isin(pids, np.asarray(keys, np.int64)).any())

