"""Store-backed MinHash near-dup at scale: does the commit-log BLOOM
prune actually skip the non-colliding signature corpus?

`dedup.minhash_store_backed_update` persists the LSH bucket-membership
index in a TransactionalTable with blooms on the band key; a batch
probes only files admitting one of its own band keys.  Unlike the
SemDeDup store (range stats on a clustered cell column), LSH keys are
hash-scattered — the prune comes from per-file blooms, so its
selectivity tracks the BATCH's band-key count against the store's
per-file key population.  Each rung folds a corpus as batch 1, then a
small batch of exact/near duplicates as batch 2, and records the files
and bytes the batch-2 probe reads vs the store total, plus pair-set
equality (count + xor of pair hashes) against the in-memory incremental
operator on the same split:

    python scripts/scaling_minhash_store.py [n_docs ...]

`--compact` (round 13, VERDICT r12 item 2) runs the store LIFECYCLE rung
— the MinHash analogue of the SemDeDup compaction cadence, reference
merge lifecycle pc-cli/src/merge.rs:46-84: fold FIVE batches (each with
copies of the same duplicated sources, so the shared band keys land in
one file PER COMMIT and a probe must read ~5x files), then
`optimize(cluster_by="bkey", target_files~=keys/6k)` through a BARE
handle (adopting the persisted bloom properties — the ADVICE r12 fix),
then `vacuum()` reclaiming the pre-compaction files, then a FINAL batch
whose pair set must xor-match the in-memory incremental over the union:

    python scripts/scaling_minhash_store.py --compact [n_docs]

`--bigprobe` (round 13, VERDICT r12 item 8) proves the scan_in
broadcast-semi-join FALLBACK at the scale it exists for: fold the corpus
in THREE batches, then match a batch of 30 k mostly-novel docs whose
~120 k distinct band keys exceed scan_in's 100 k `_MAX_PRUNE_KEYS` cap —
the probe then degrades from manifest pruning to a broadcast semi-join
over the full file list (by construction: the cap check happens before
any collect completes), and the pair set must still xor-match the
in-memory incremental over the 3-batch union:

    python scripts/scaling_minhash_store.py --bigprobe [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from agile_lakehouse_spark import get_session
from agile_lakehouse_spark.operators import dedup
from agile_lakehouse_spark.plans.snapshots import TransactionalTable

K, THR = 5, 0.5
BATCH_DOCS = 64  # today's ingest: 64 copies of SRC_DOCS corpus docs
SRC_DOCS = 5  # distinct duplicated sources -> ~SRC_DOCS x bands probe keys
# Two geometry lessons the first runs of this ladder measured (both
# recorded in SCALE.md): (1) at ~100k distinct band keys per file the
# default 2^16-bit blooms SATURATE and admit everything (prune 0.0) —
# size to >= ~15 bits/key-per-file, Delta's bloom-index fpp knob;
# (2) a probe of P keys touches <= P files by construction (hash
# clustering puts each key in one file per commit), so pruning needs
# store_files >> probe keys — 8 files vs 256 true-positive keys also
# pruned 0.0 even with exact blooms.  128 files at 200 k docs keeps
# ~6k keys/file; 2^17-bit blooms give ~2e-4 fp/key there.
BLOOM_BITS = 1 << 17


def synth_docs(spark, n: int):
    """Deterministic corpus: ids < n are distinct documents (word soup
    seeded by id); ids >= n are BATCH docs — exact copies of corpus doc
    (id % SRC_DOCS), so their signatures collide with a bounded key
    set living in at most SRC_DOCS x bands store files."""
    total = n + BATCH_DOCS
    return spark.range(total).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"""concat_ws(' ',
                transform(sequence(1, 24),
                  t -> substring(md5(concat(CAST(if(id < {n}, id, pmod(id, 5)) AS STRING), ':', CAST(t AS STRING))), 1, 8)))"""
        ).alias("text"),
    )


def _pairsum(pairs):
    return pairs.select(
        F.xxhash64("id_a", "id_b", "est_jaccard").alias("h")
    ).select(F.expr("bit_xor(h)").alias("s"), F.count(F.lit(1)).alias("n")).first()


def run_scale(spark, n: int) -> dict:
    out: dict[str, object] = {"n_docs": n, "batch_docs": BATCH_DOCS, "k": K, "bloom_bits": BLOOM_BITS}
    docs = synth_docs(spark, n).persist()
    docs.count()
    old = docs.filter(F.col("doc_id") < n)
    new = docs.filter(F.col("doc_id") >= n)
    store = tempfile.mkdtemp(prefix=f"mhstore_{n}_")
    caches: list = []
    try:
        t0 = time.time()
        dedup.minhash_store_backed_update(
            spark, old, store, k=K, threshold=THR,
            target_files=max(8, n // 1562), bloom_bits=BLOOM_BITS,
            caches=caches,
        )
        out["store_build_s"] = round(time.time() - t0, 2)

        # the prune, measured from the manifest before batch 2 runs
        tbl = TransactionalTable(f"{store}/sigs", bloom_columns=("bkey",))
        v = tbl.latest_version()
        files = tbl._read_manifest(v)["files"]
        sigs2 = dedup.minhash_signatures(new, k=K)
        probe = [
            r[0]
            for r in dedup._lsh_buckets(
                sigs2, dedup.DEFAULT_BANDS, dedup.DEFAULT_ROWS_PER_BAND, "doc_id"
            )
            .withColumn(
                "bkey",
                F.concat_ws(":", F.col("band").cast("string"), F.col("key")),
            )
            .select("bkey").distinct().collect()
        ]
        kept = tbl.prune_files_by_keys("bkey", probe, v)
        tot_b = sum(os.path.getsize(f) for f in files)
        kept_b = sum(os.path.getsize(f) for f in kept)
        out["probe_keys"] = len(probe)
        out["store_files"] = len(files)
        out["files_read"] = len(kept)
        out["bytes_total_mb"] = round(tot_b / 1e6, 1)
        out["bytes_read_mb"] = round(kept_b / 1e6, 1)
        out["prune_frac"] = round(1 - kept_b / tot_b, 3)

        t0 = time.time()
        got = dedup.minhash_store_backed_update(
            spark, new, store, k=K, threshold=THR, bloom_bits=BLOOM_BITS,
            caches=caches,
        )
        cs = _pairsum(got)
        out["store_incremental_s"] = round(time.time() - t0, 2)
        out["pairs"] = cs.n

        t0 = time.time()
        cm = _pairsum(
            dedup.minhash_incremental_pairs(
                new, dedup.minhash_signatures(old, k=K), threshold=THR, k=K,
                persist_sigs=True, caches=caches,
            )
        )
        out["mem_incremental_s"] = round(time.time() - t0, 2)
        assert (cs.s, cs.n) == (cm.s, cm.n), (cs, cm)
        out["agree"] = True
        for c in caches:
            c.unpersist()
    finally:
        shutil.rmtree(store, ignore_errors=True)
        docs.unpersist()
    return out


def synth_multi(spark, n: int, n_batches: int):
    """n distinct filler docs split over n_batches, PLUS BATCH_DOCS copies
    of the SRC_DOCS sources in EVERY batch (ids n+b*BATCH_DOCS+i), so the
    sources' band keys are written by every commit.  The final probe
    batch (ids >= n + n_batches*BATCH_DOCS) repeats the sources again."""
    total = n + (n_batches + 1) * BATCH_DOCS
    return spark.range(total).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"""concat_ws(' ',
                transform(sequence(1, 24),
                  t -> substring(md5(concat(CAST(if(id < {n}, id, pmod(id, 5)) AS STRING), ':', CAST(t AS STRING))), 1, 8)))"""
        ).alias("text"),
    )


def run_compact(spark, n: int, n_batches: int = 5) -> dict:
    out: dict[str, object] = {
        "mode": "compact", "n_docs": n, "n_batches": n_batches,
        "bloom_bits": BLOOM_BITS,
    }
    docs = synth_multi(spark, n, n_batches).persist()
    docs.count()
    per = n // n_batches
    caches: list = []
    store = tempfile.mkdtemp(prefix=f"mhcompact_{n}_")
    try:
        # per-batch writer sizing: each batch holds per filler docs +
        # BATCH_DOCS dup copies -> ~(per+BATCH_DOCS) x bands keys, ~6k/file
        batch_files = max(2, (per + BATCH_DOCS) * dedup.DEFAULT_BANDS // 6000)
        t0 = time.time()
        for b in range(n_batches):
            batch = docs.filter(
                ((F.col("doc_id") >= b * per) & (F.col("doc_id") < (b + 1) * per))
                | (
                    (F.col("doc_id") >= n + b * BATCH_DOCS)
                    & (F.col("doc_id") < n + (b + 1) * BATCH_DOCS)
                )
            )
            dedup.minhash_store_backed_update(
                spark, batch, store, k=K, threshold=THR,
                target_files=batch_files,
                # bloom_bits only on the FIRST fold: later folds (and the
                # bare maintenance handle below) adopt the persisted table
                # property — the ADVICE r12 mechanism, proven here at scale
                bloom_bits=BLOOM_BITS if b == 0 else None,
                caches=caches,
            )
        out["fold_s"] = round(time.time() - t0, 2)
        out["batch_files_per_commit"] = batch_files

        final = docs.filter(F.col("doc_id") >= n + n_batches * BATCH_DOCS)
        sigsF = dedup.minhash_signatures(final, k=K)
        probe = [
            r[0]
            for r in dedup._lsh_buckets(
                sigsF, dedup.DEFAULT_BANDS, dedup.DEFAULT_ROWS_PER_BAND, "doc_id"
            )
            .withColumn("bkey", F.concat_ws(":", F.col("band").cast("string"), F.col("key")))
            .select("bkey").distinct().collect()
        ]
        out["probe_keys"] = len(probe)

        def measure(tbl):
            v = tbl.latest_version()
            files = tbl._read_manifest(v)["files"]
            kept = tbl.prune_files_by_keys("bkey", probe, v)
            tot_b = sum(os.path.getsize(f) for f in files)
            kept_b = sum(os.path.getsize(f) for f in kept)
            return {
                "files": len(files), "files_read": len(kept),
                "bytes_total_mb": round(tot_b / 1e6, 1),
                "bytes_read_mb": round(kept_b / 1e6, 1),
                "prune_frac": round(1 - kept_b / tot_b, 3),
            }

        # BARE handle: bloom_columns/bloom_bits adopted from the manifest
        tbl = TransactionalTable(f"{store}/sigs")
        out["adopted"] = {
            "bloom_columns": list(tbl.bloom_columns), "bloom_bits": tbl.bloom_bits
        }
        out["before"] = measure(tbl)

        total_keys = (n + n_batches * BATCH_DOCS) * dedup.DEFAULT_BANDS
        compact_files = max(2, total_keys // 6000)
        t0 = time.time()
        tbl.optimize(spark, cluster_by="bkey", target_files=compact_files)
        out["optimize_s"] = round(time.time() - t0, 2)
        out["compact_target_files"] = compact_files
        out["after"] = measure(tbl)

        t0 = time.time()
        removed = tbl.vacuum()
        out["vacuum_s"] = round(time.time() - t0, 2)
        out["vacuum_removed_files"] = len(removed)
        assert removed, "vacuum must reclaim the pre-compaction files"

        # the final batch folds on the compacted+vacuumed store and must
        # match the in-memory incremental over the 5-batch union
        union = docs.filter(F.col("doc_id") < n + n_batches * BATCH_DOCS)
        t0 = time.time()
        cs = _pairsum(
            dedup.minhash_store_backed_update(
                spark, final, store, k=K, threshold=THR, caches=caches
            )
        )
        out["store_incremental_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        cm = _pairsum(
            dedup.minhash_incremental_pairs(
                final, dedup.minhash_signatures(union, k=K), threshold=THR,
                k=K, persist_sigs=True, caches=caches,
            )
        )
        out["mem_incremental_s"] = round(time.time() - t0, 2)
        assert (cs.s, cs.n) == (cm.s, cm.n), (cs, cm)
        out["pairs"] = cs.n
        out["agree"] = True
        for c in caches:
            c.unpersist()
    finally:
        shutil.rmtree(store, ignore_errors=True)
        docs.unpersist()
    return out


BIGPROBE_NOVEL = 30_000  # novel batch docs -> ~4x distinct band keys


def synth_bigprobe(spark, n: int):
    """n distinct corpus docs + a final batch of BIGPROBE_NOVEL novel
    docs (word soup seeded differently, so their band keys are distinct
    from the corpus's) + BATCH_DOCS copies of the SRC_DOCS sources for a
    bounded nonzero pair set."""
    total = n + BIGPROBE_NOVEL + BATCH_DOCS
    return spark.range(total).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"""concat_ws(' ',
                transform(sequence(1, 24),
                  t -> substring(md5(concat(
                    if(id < {n}, CAST(id AS STRING),
                       if(id < {n + BIGPROBE_NOVEL}, concat('novel-', CAST(id AS STRING)),
                          CAST(pmod(id, 5) AS STRING))),
                    ':', CAST(t AS STRING))), 1, 8)))"""
        ).alias("text"),
    )


def run_bigprobe(spark, n: int, n_batches: int = 3) -> dict:
    out: dict[str, object] = {
        "mode": "bigprobe", "n_docs": n, "n_batches": n_batches,
        "novel_batch_docs": BIGPROBE_NOVEL, "bloom_bits": BLOOM_BITS,
    }
    docs = synth_bigprobe(spark, n).persist()
    docs.count()
    per = n // n_batches
    caches: list = []
    store = tempfile.mkdtemp(prefix=f"mhbigprobe_{n}_")
    try:
        t0 = time.time()
        for b in range(n_batches):
            batch = docs.filter(
                (F.col("doc_id") >= b * per)
                & (F.col("doc_id") < ((b + 1) * per if b < n_batches - 1 else n))
            )
            dedup.minhash_store_backed_update(
                spark, batch, store, k=K, threshold=THR,
                target_files=max(8, per * dedup.DEFAULT_BANDS // 6000),
                bloom_bits=BLOOM_BITS if b == 0 else None,
                caches=caches,
            )
        out["fold_s"] = round(time.time() - t0, 2)

        final = docs.filter(F.col("doc_id") >= n)
        n_keys = (
            dedup._lsh_buckets(
                dedup.minhash_signatures(final, k=K),
                dedup.DEFAULT_BANDS, dedup.DEFAULT_ROWS_PER_BAND, "doc_id",
            )
            .withColumn("bkey", F.concat_ws(":", F.col("band").cast("string"), F.col("key")))
            .select("bkey").distinct().count()
        )
        out["probe_keys"] = n_keys
        # the cap contract: >100k distinct keys means scan_in's take()
        # overflows and the broadcast-semi-join fallback runs — asserted
        # here so the rung cannot silently measure the pruned path
        assert n_keys > 100_000, f"probe keys {n_keys} under the cap; raise BIGPROBE_NOVEL"

        t0 = time.time()
        cs = _pairsum(
            dedup.minhash_store_backed_update(
                spark, final, store, k=K, threshold=THR, caches=caches
            )
        )
        out["store_incremental_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        cm = _pairsum(
            dedup.minhash_incremental_pairs(
                final, dedup.minhash_signatures(docs.filter(F.col("doc_id") < n), k=K),
                threshold=THR, k=K, persist_sigs=True, caches=caches,
            )
        )
        out["mem_incremental_s"] = round(time.time() - t0, 2)
        assert (cs.s, cs.n) == (cm.s, cm.n), (cs, cm)
        out["pairs"] = cs.n
        out["agree"] = True
        for c in caches:
            c.unpersist()
    finally:
        shutil.rmtree(store, ignore_errors=True)
        docs.unpersist()
    return out


def main() -> None:
    args = sys.argv[1:]
    sizes = [int(a) for a in args if not a.startswith("--")]
    if "--compact" in args:
        fn, sizes = run_compact, sizes or [200_000]
    elif "--bigprobe" in args:
        fn, sizes = run_bigprobe, sizes or [1_000_000]
    else:
        fn, sizes = run_scale, sizes or [200_000]
    spark = get_session("scaling-minhash-store")
    spark.sparkContext.setLogLevel("ERROR")
    for nn in sizes:
        print(json.dumps(fn(spark, nn)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
