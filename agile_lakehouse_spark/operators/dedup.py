"""Deduplication operators over document tables (north-star LLM-pipeline ops).

Five families, all JVM-side expressions (no Python UDFs), all using the
cross-engine portable hash (functions/portable.py) so every one is
DuckDB-oracle-verifiable:

- :func:`exact_dedup`          — hash group-by, keep lowest id per text
- :func:`ngram_jaccard_pairs`  — exact character-shingle Jaccard (the slow
                                  truth; at scale, run only on candidates)
- :func:`minhash_signatures` / :func:`minhash_near_dup` /
  :func:`minhash_incremental_pairs` — MinHash + LSH banding: shingle ->
  60-bit hash -> per-perm min (one narrow map) -> band-bucket self-join
  -> signature-similarity estimate; batch, or a new batch against a
  stored signature table
- :func:`simhash` / :func:`simhash_near_dup` — SimHash (one BIGINT up to
  60 bits, auto-sized or wider as chunk words) with pigeonhole chunk
  blocking (exact for the hamming radius, no O(n²) pass)
- embedding near-dup lives in operators/similarity.py

The MinHash and SimHash pair operators are thin calls into one kernel,
:func:`_signature_pairs`: distinct signatures -> bucket keys (LSH bands
or pigeonhole chunks) -> bucket self-join (and new x corpus join) ->
verify the signature pairs -> expand to doc pairs, plus the pairs of
identical signatures.

Scale shape (100 TB): every step is shuffle-on-key + map-side combine; the
only self-joins are on LSH band buckets / simhash chunks, never all-pairs.
Skewed buckets (boilerplate shingles) are AQE-skew-split.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agile_lakehouse_spark.functions import portable
from agile_lakehouse_spark.functions.portable import round4

DEFAULT_NUM_PERMS = 12
DEFAULT_BANDS = 4
DEFAULT_ROWS_PER_BAND = 3

# analyzed-plan nodes that imply the input went through a shuffle (and is
# therefore spark.sql.shuffle.partitions wide); anchored to the tree-drawing
# prefix so column names can't false-positive
_SHUFFLE_NODE = re.compile(
    # Repartition\w* covers both Repartition (repartition(n)) and
    # RepartitionByExpression (repartition(col), repartitionByRange)
    r"^[\s:+\-]*(Join|Aggregate|Sort|Repartition\w*|RebalancePartitions|Window|"
    r"Deduplicate|Intersect|Except|Distinct)\b",
    re.M,
)


def spread(
    df: DataFrame,
    min_partitions: int | None = None,
    known_partitions: int | None = None,
) -> DataFrame:
    """Rebalance a narrow input before an explode-heavy pipeline.

    Shingle/token explosion amplifies rows ~100-300x WITHOUT a shuffle, so
    a table read as few partitions (one small file, a coalesced upstream)
    would run the whole hash pipeline on a few cores.  Shuffling the
    pre-explode rows (the cheap representation) buys full parallelism for
    the expensive stage.  No-op when the input is already wide enough.

    The width check stays conditional on purpose — an unconditional
    ``repartition`` would re-shuffle an already-balanced corpus, which at
    100 TB costs far more than it saves.  But the check itself must not
    cost physical planning: ``df.rdd.getNumPartitions()`` (round 1-3)
    plans + compiles a row deserializer per fresh DataFrame — measured
    ~0.25 s per call, paid repeatedly in composed pipelines.  The width
    now comes from the ANALYZED plan only (cached by Spark, no physical
    planning): a plan containing a shuffle-inducing node is
    ``spark.sql.shuffle.partitions`` wide; a pure scan is as wide as its
    file count (file splitting only ever increases that).  Callers who
    know the width pass ``known_partitions`` and skip even that.

    CONTRACT: the plan-string probe is a PERF HEURISTIC only — a wrong
    width either re-shuffles an already-wide input (wasted shuffle) or
    under-parallelizes (slow), never a wrong answer, EXCEPT for callers
    whose downstream depends on the input's partitioning surviving
    (range-partition + sortWithinPartitions order).  Those callers MUST
    pass ``known_partitions`` so the no-op is by construction, not by
    parse (``gopher_quality(known_partitions=...)`` is the model).
    """
    sess = df.sparkSession
    target = min_partitions or sess.sparkContext.defaultParallelism
    current = known_partitions
    if current is None:
        try:
            plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
            m = _SHUFFLE_NODE.search(plan)
            if m:
                # an explicit Repartition/RepartitionByExpression COUNT on
                # the topmost shuffle node overrides the conf width: a
                # caller's coalesce(1)/repartition(2) prints as
                # "Repartition 1, false" / "RepartitionByExpression [...], 2"
                # and is genuinely narrow — treating it as
                # shuffle-partitions wide would skip the rebalance and
                # single-thread the downstream explode
                node = plan[m.start():].split("\n", 1)[0]
                m2 = re.search(r"^[\s:+\-]*Repartition (\d+)\b", node) or re.search(
                    r"^[\s:+\-]*RepartitionByExpression \[.*\], (\d+)\s*$", node
                )
                current = (
                    int(m2.group(1))
                    if m2
                    else int(sess.conf.get("spark.sql.shuffle.partitions"))
                )
            else:
                current = len(df.inputFiles())  # 0 for local relations -> spread
        except Exception:  # noqa: BLE001 — private-API guard: public fallback
            current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one surviving (lowest-id) row per distinct text.

    A single hash-aggregate: shuffles once on the text hash, map-side
    combines first.  Returns (id, n_dups) per surviving doc.
    """
    return (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
        .select("keep_id", "n_dups")
    )


def exact_dedup_store(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The checkpointable exact-dedup state: one (text, keep_id) row per
    distinct text — what :func:`exact_dedup_incremental` matches new
    batches against.  A production store would key on a 128-bit hash of
    the (normalized) text instead of the text itself; the text key keeps
    the oracle exact and the join semantics identical."""
    return df.groupBy(text_col).agg(F.min(id_col).cast("bigint").alias("keep_id"))


def exact_dedup_incremental(
    new_df: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INCREMENTAL exact dedup: resolve each NEW document against the
    stored corpus state (:func:`exact_dedup_store`'s (text, keep_id))
    plus the batch itself — (doc_id, keep_id, kept) per new doc, where
    ``keep_id`` is the corpus representative if the text was seen before
    (the corpus was deduped FIRST, so its representative wins even if a
    new id is numerically smaller) and otherwise the batch's min id, and
    ``kept`` marks the docs that enter the corpus.

    Two hash joins on the text key (one against the store, one against
    the batch's own min-id aggregate) — never a scan of the old corpus's
    documents; cost is O(batch + store-join), the exact-dedup twin of
    :func:`minhash_incremental_pairs`.
    """
    newmin = new_df.groupBy(text_col).agg(F.min(id_col).alias("_keep_new"))
    rep = F.coalesce("_keep_old", "_keep_new")
    return (
        new_df.select(F.col(id_col), F.col(text_col))
        .join(
            store.select(F.col(text_col), F.col("keep_id").alias("_keep_old")),
            text_col,
            "left",
        )
        .join(newmin, text_col)
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            rep.cast("bigint").alias("keep_id"),
            (F.col(id_col) == rep).alias("kept"),
        )
        .orderBy(id_col)
    )


def exact_dedup_store_update(
    store: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY a batch to the exact-dedup state: the store plus one
    (text, keep_id) row per text the store has never seen, keyed by the
    batch's min id — the maintenance half of
    :func:`exact_dedup_incremental` (which only REPORTS keep/drop).

    The result is exactly the corpus-representative-wins state the
    incremental matcher assumes: texts already in the store keep their
    stored representative (never re-keyed, even if the batch has a
    numerically smaller id); novel texts enter with the batch minimum —
    the ids ``exact_dedup_incremental`` flags ``kept``.  When batch ids
    INCREASE across batches (the production ingest invariant), folding N
    batches is bit-identical to :func:`exact_dedup_store` over their
    union (round-trip-tested; the dq21j oracle replays the union form
    in SQL and gates this path).

    Cost: one hash agg over the batch + one anti-join on the text key
    against the store — never a scan of the old corpus's documents.
    At a 10 B-row store the anti-join's store-side EXCHANGE becomes the
    bill: persist the store BUCKETED on the text key (the dq160
    co-located-join layout) so only the batch side shuffles; the union
    then appends the novel rows as new files in their buckets.
    """
    newmin = new_df.groupBy(text_col).agg(
        F.min(id_col).cast("bigint").alias("keep_id")
    )
    novel = newmin.join(store.select(text_col), text_col, "left_anti")
    return store.select(text_col, "keep_id").unionByName(
        novel.select(text_col, "keep_id")
    )


def exact_dedup_store_backed_update(
    spark,
    new_df: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_mode: str = "text",
    caches: list | None = None,
    fold_only: bool = False,
) -> DataFrame | None:
    """The PRODUCTION shape of :func:`exact_dedup_incremental` +
    :func:`exact_dedup_store_update`: the (text, keep_id) state lives in
    a :class:`~agile_lakehouse_spark.plans.snapshots.StateStore` under
    ``store_path`` with commit-log BLOOMS on the text key, and the
    batch's store read is pruned at the file level to files containing
    at least one batch text (``prune_files_by_keys`` — hash-scattered
    keys, so blooms prune where range stats cannot; the
    :func:`minhash_store_backed_update` discipline on the exact member).

    Returns the batch verdicts (doc_id, keep_id, kept) — identical to
    :func:`exact_dedup_incremental` against the full store, because a
    batch text missing from every kept file is missing from the store
    (blooms have no false negatives), so the pruned left join and the
    novel-text anti-join see exactly the store rows that can match —
    then appends the novel (text, keep_id) rows RANGE-clustered on the
    text key via ``repartitionByRange`` into 8 files (same key -> one
    file per commit, keeping future probes O(1) files per key; see the
    inline note for why a hash repartition is elided here).

    ``key_mode="fingerprint"`` is the 100 TB shape (round 13, VERDICT
    r12 item 3): the store is keyed on the portable 128-bit md5 content
    fingerprint (``fp``) with the text kept as payload, blooms are built
    on the fixed-width ``fp``, and the probe routes through
    :meth:`TransactionalTable.scan_in`'s DataFrame form — so nothing
    document-sized ever collects to the driver (the probe is 32-char
    hex strings under the cap, a broadcast semi-join over the store
    past it).  md5 equality stands in for text equality at a ~2^-64
    collision rate — the standard content-addressing trade; the default
    text key keeps the byte-exact contract of :func:`exact_dedup_store`.
    Both modes return identical verdicts (doc_id, keep_id, kept) and
    are gated by the same oracle SQL (dq21l / dq21m).

    Why the verdicts are checkpointed before the append, and what
    ``fold_only=True`` (fold the batch, return ``None``) keeps
    unchanged: see :class:`~agile_lakehouse_spark.plans.snapshots.StateStore`.
    """
    from agile_lakehouse_spark.plans.snapshots import StateStore

    if key_mode not in ("text", "fingerprint"):
        raise ValueError(f"key_mode must be 'text' or 'fingerprint', got {key_mode!r}")
    if key_mode == "fingerprint":
        key = "fp"
        batch = new_df.select(
            F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias(key)
        )
    else:
        key = text_col
        batch = new_df.select(F.col(id_col), F.col(text_col))
    state = StateStore(f"{store_path}/state", bloom_columns=(key,), caches=caches)
    # scan_in's DataFrame key form: in fingerprint mode the keys are 32-char
    # hex strings, so nothing document-sized reaches the driver either way
    store = state.probe(
        spark, key, batch.select(key),
        batch.select(F.col(key), F.lit(0).cast("bigint").alias("keep_id")).limit(0),
        lambda found: found.select(key, "keep_id"),
    )
    novel_agg = [F.min(id_col).cast("bigint").alias("keep_id")]
    if key_mode == "fingerprint":
        # text rides as payload: every row in an fp group has the same text
        # (modulo md5 collision); min_by keeps the selection deterministic
        novel_agg.append(F.min_by(F.col(text_col), F.col(id_col)).alias(text_col))
    novel = batch.groupBy(key).agg(*novel_agg).join(
        store.select(key), key, "left_anti"
    )
    # repartitionByRange, NOT repartition(n, key): the groupBy above
    # already hash-partitions on the key, so a hash repartition on
    # the same key is elided as redundant and the write follows the
    # AQE-coalesced agg shuffle — one file, no per-file bloom selectivity.
    # Range partitioning is a different distribution, forcing a real
    # exchange with the explicit partition count.
    return state.commit(
        novel.repartitionByRange(8, key),
        None if fold_only else exact_dedup_incremental(batch, store, key, id_col),
    )


def minhash_store_update(corpus_sigs: DataFrame, new_sigs: DataFrame) -> DataFrame:
    """APPLY a batch to the stored MinHash signature table: append the
    batch's signatures — ALL of them, kept AND dropped.  The batch
    operator (:func:`minhash_near_dup`) computes candidate pairs against
    every document, so a doc dropped as a near-dup still WITNESSES
    future duplicates; a kept-only store would silently pass a third
    copy whose only near-neighbour was itself dropped (near-dup is not
    transitive, unlike exact equality — hence the asymmetry with
    :func:`exact_dedup_store_update`).  Folding N batches therefore
    equals :func:`minhash_signatures` over the union, which keeps
    :func:`minhash_incremental_pairs`' batch-equivalence proof valid at
    every step (round-trip-tested).

    ``new_sigs`` is :func:`minhash_signatures` over the batch — computed
    once by the caller and shared with the matcher via its ``new_sigs``
    parameter, so the batch is never re-shingled.
    """
    return corpus_sigs.unionByName(new_sigs)


def minhash_store_backed_update(
    spark,
    new_df: DataFrame,
    store_path: str,
    k: int = 5,
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_bucket_size: int | None = None,
    target_files: int = 8,
    bloom_bits: int | None = None,
    caches: list | None = None,
    fold_only: bool = False,
) -> DataFrame | None:
    """The PRODUCTION shape of :func:`minhash_incremental_pairs` +
    :func:`minhash_store_update`: the signature store lives in ONE
    :class:`~agile_lakehouse_spark.plans.snapshots.StateStore`
    under ``store_path`` as an LSH bucket-membership index — one row per
    (doc, band) carrying ``bkey`` (the band's bucket key) plus the doc's
    FULL signature — and the incremental match's store read is pruned at
    the FILE level from the commit-log BLOOMS on ``bkey``: a batch probes
    only files that contain at least one of its own band keys (the
    dq148d ``repartitionByRange`` + ``prune_files_by_values`` discipline,
    adapted to hash-scattered LSH keys where range stats can't prune but
    per-file blooms can — files a batch's keys miss are never opened,
    pinned destructively in ``tests/test_semantic_store.py``).

    Returns the batch's near-dup pairs (id_a, id_b, est_jaccard) — at
    least one side new, bit-identical to
    ``minhash_near_dup(old UNION new)`` filtered to pairs touching a new
    id (the dq21h contract) — and appends the batch's bucket rows to the
    store (ALL of them, kept and dropped: near-dup is not transitive, a
    dropped doc must witness the next copy — the
    :func:`minhash_store_update` contract).

    Why the pruned read is EXACT, not approximate: an old signature can
    reach the output only through (a) the cross band-bucket join — which
    requires sharing an exact ``bkey`` with a new signature — or (b) the
    identical-signature equality join — and an identical signature shares
    ALL its band keys.  Either way the old doc has a bucket row whose
    ``bkey`` is in the batch's probe set, blooms have no false negatives,
    and every bucket row carries the full signature, so the candidate
    set reconstructed from the kept files is a superset of every
    signature that can matter.  The ``max_bucket_size`` cap stays exact
    too: a DIRTY bucket's full membership is in the kept files, and only
    dirty buckets produce pairs.

    Scale: per-batch store bytes read grow with the batch's band-key
    population (each key lives in O(1) files per commit — hash-clustered
    writes), never with the clean corpus; the denormalized signature
    costs ``bands``x storage (4x at defaults) — the classic LSH
    index/storage trade.  The probe is carried as a DataFrame through
    ``TransactionalTable.scan_in`` (round 13): the distinct ``bkey``
    column drives manifest pruning while it collects under
    ``scan_in``'s 100 k-key cap and degrades to a broadcast semi-join
    over the full file list past it, so a 1 M-doc batch (4 M band keys
    at defaults) never materializes its probe driver-side.

    Why the pairs are checkpointed before the append, and what
    ``fold_only=True`` (fold the batch, return ``None``) keeps
    unchanged: see :class:`~agile_lakehouse_spark.plans.snapshots.StateStore`.
    """
    from agile_lakehouse_spark.plans.snapshots import StateStore

    sigs = StateStore(
        f"{store_path}/sigs", bloom_columns=("bkey",), bloom_bits=bloom_bits,
        caches=caches,
    )
    mh_cols = [f"mh{j}" for j in range(num_perms)]

    new_sigs = sigs.keep(minhash_signatures(new_df, k, num_perms, text_col, id_col, seed))
    bucket_rows = (
        _lsh_buckets(new_sigs, bands, rows_per_band, id_col)
        .withColumn("bkey", F.concat_ws(":", F.col("band").cast("string"), F.col("key")))
        .join(new_sigs, id_col)
        .select("bkey", id_col, *mh_cols)
    )
    rows = bucket_rows.repartition(max(1, target_files), "bkey")
    if fold_only:
        return sigs.commit(rows)
    cand = sigs.probe(
        spark, "bkey", bucket_rows.select("bkey"),
        new_sigs.limit(0),  # empty corpus: within-batch pairs only
        lambda found: found.select(id_col, *mh_cols).distinct(),
    )
    pairs = minhash_incremental_pairs(
        new_df, cand, num_perms, bands, rows_per_band, threshold,
        k, text_col, id_col, seed,
        persist_sigs=False, max_bucket_size=max_bucket_size,
        caches=sigs.caches, new_sigs=new_sigs,
    )
    return sigs.commit(rows, pairs)


def shingle_df(df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Explode each doc into its distinct character k-gram shingles."""
    df = spread(df)
    return df.select(
        F.col(id_col),
        F.explode(F.expr(portable.shingles_spark(text_col, k))).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard >= threshold).

    Inverted-index join: explode shingles, self-join on the shingle, count
    intersections, derive |A∪B| from per-doc set sizes.  At 100 TB this is
    the *verification* stage after MinHash candidate generation — the join
    key is the shingle so common shingles dominate cost; cap or TF-filter
    ultra-frequent shingles in a real pipeline.
    """
    sh = shingle_df(df, k, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if max_doc_freq is not None:
        # drop boilerplate shingles that appear in too many docs: they blow
        # up the inverted-index join quadratically while contributing almost
        # no discrimination.  NOTE: changes the computed Jaccard slightly
        # (union sizes still use full sets) — use for candidate generation,
        # not for the declared exact query.
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", round4(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "jaccard")
        .orderBy("id_a", "id_b")
    )


def minhash_signatures(
    df: DataFrame,
    k: int = 5,
    num_perms: int = DEFAULT_NUM_PERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """MinHash signature per doc: columns ``mh0..mh{n-1}``.

    Doc ids (``id_col``) must be unique: each input row yields its own
    signature row, so a repeated id yields several (possibly differing)
    signature rows downstream.  Deduplicate ids first if the input may
    repeat them.

    Round 14 (guide §2.4 "remove shuffles outright", §4.1 higher-order
    functions): each signature is computed WITHIN its own row — one
    ``transform`` hashes the doc's distinct shingle array once (md5 +
    hexfold, exactly the expressions the former explode path evaluated
    per exploded row), then each permutation is an ``array_min`` over a
    per-element affine map.  No explode (the ~100-300x row
    amplification), no groupBy — the former plan's ONE shuffle (partial
    mins + final agg on ``id_col``) is gone; the whole operator is a
    narrow whole-stage-codegen map, so its cost scales with input bytes
    and never with ``spark.sql.shuffle.partitions``.  min is
    order-insensitive and the per-shingle arithmetic is bit-identical,
    so the signatures equal the explode+agg form exactly (pinned in
    ``tests/test_llm_ops.py::test_minhash_signatures_narrow_equals_agg``);
    Catalyst keeps the hash array as its own projection (the
    CollapseProject expensive-expression guard), so md5 still runs once
    per shingle — verified: 1 md5 in the optimized plan.

    Per-doc md5 (vs a global shingle dictionary) is deliberate, MEASURED
    in r12/r13: in-line md5 is embarrassingly parallel and adds no plan
    step, while the dictionary needs a distinct + join that costs more
    than the hash evals it saves at any measured size.  Contrast
    :func:`simhash`, where the pair table is post-aggregation (compact,
    already shuffled) and the dictionary DOES win.
    """
    perms = portable.minhash_perms(num_perms, seed)
    p = portable.MERSENNE_P
    df = spread(df)
    hs = (
        f"transform({portable.shingles_spark(text_col, k)}, "
        f"s -> {portable.hexfold_spark('md5(s)')} % {p})"
    )
    base = df.select(F.col(id_col), F.expr(hs).alias("__hs"))
    cols = [
        F.array_min(F.expr(f"transform(__hs, h -> ({a} * h + {b}) % {p})")).alias(f"mh{j}")
        for j, (a, b) in enumerate(perms)
    ]
    return base.select(id_col, *cols)


def _buckets(df: DataFrame, key_col: str, keys: list[Column]) -> DataFrame:
    """(key_col, band, key) bucket membership: one row per entry of
    ``keys``, the signature's bucket keys in band order."""
    entries = [F.struct(F.lit(band).alias("band"), k.alias("key")) for band, k in enumerate(keys)]
    return df.select(F.col(key_col), F.explode(F.array(*entries)).alias("bk")).select(
        key_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _band_keys(mh, bands: int, rows_per_band: int) -> list[Column]:
    """LSH band keys: each band's ``rows_per_band`` minima (``mh(j)`` is
    the j-th) as strings joined by ``_``."""
    return [
        F.concat_ws("_", *[mh(band * rows_per_band + r).cast("string") for r in range(rows_per_band)])
        for band in range(bands)
    ]


def _lsh_buckets(
    sigs: DataFrame,
    bands: int,
    rows_per_band: int,
    id_col: str,
) -> DataFrame:
    """(id, band, key) bucket membership — one row per (doc, band)."""
    return _buckets(sigs, id_col, _band_keys(lambda j: F.col(f"mh{j}"), bands, rows_per_band))


def _bucket_pairs(
    new_b: DataFrame,
    corpus_b: DataFrame | None,
    key_col: str,
    max_bucket_size: int | None,
    population: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The candidate step: ``(id_a, id_b)`` pairs of ``key_col`` values
    sharing a (band, key) bucket — within ``new_b`` (``id_a < id_b``) and,
    when ``corpus_b`` is given, new against corpus (``id_a != id_b``, the
    new side first; ``None`` otherwise).  ``max_bucket_size`` drops every
    bucket whose ``population`` (default ``new_b``) has more members —
    see :func:`lsh_candidate_pairs`."""
    if max_bucket_size is not None:
        ok = (
            (new_b if population is None else population)
            .groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_bucket_size)
            .select("band", "key")
        )
        new_b = new_b.join(ok, ["band", "key"], "left_semi")
        if corpus_b is not None:
            corpus_b = corpus_b.join(ok, ["band", "key"], "left_semi")
    a, b = new_b.alias("a"), new_b.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(F.col(f"a.{key_col}").alias("id_a"), F.col(f"b.{key_col}").alias("id_b"))
        .distinct()
    )
    if corpus_b is None:
        return within, None
    cross = (
        new_b.select(F.col(key_col).alias("id_a"), "band", "key")
        .join(corpus_b.select(F.col(key_col).alias("id_b"), "band", "key"), ["band", "key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return within, cross


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any identical band become a candidate pair.

    Band key = the band's row values concatenated; self-join is per
    (band, key) bucket — never all-pairs.  This is the candidate step of
    every signature-pair operator (:func:`_signature_pairs`).

    ``max_bucket_size`` bounds the self-join fan-out: a bucket of n
    members emits n(n-1)/2 pairs, so ONE hot bucket (a viral doc
    near-duplicated 10M times, boilerplate that collapses a band) can
    emit ~10^13 pairs and sink the stage at 100 TB while every other
    bucket is tiny.  Buckets larger than the cap are DROPPED whole
    (count them first, semi-join the survivors — one extra agg over the
    already-shuffled bucket stream, AQE reuses the exchange).  Recall
    impact: a pair is lost only if EVERY band it collides in is over
    the cap; with b independent bands the miss probability for a pair
    of true near-dups is (hot-band fraction)^b — and members of an
    over-cap bucket are near-dups of a MASS cluster that exact-dedup
    (which precedes near-dup in :func:`pipeline.clean_corpus`) already
    collapses.  Use :func:`lsh_oversized_buckets` to audit exactly what
    a cap drops before committing to it.  Default None = uncapped
    (small-corpus / declared-oracle behavior, bit-identical results).
    """
    return _bucket_pairs(
        _lsh_buckets(sigs, bands, rows_per_band, id_col), None, id_col, max_bucket_size
    )[0]


def _signature_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame | None,
    sig: Column,
    keys,
    name: str,
    score,
    keep,
    ident,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The one signature-pair kernel of the MinHash and SimHash near-dup
    family: block -> verify -> expand over DISTINCT signatures.

    ``sig`` is the signature as a column of ``new_sigs`` (and
    ``corpus_sigs``): a MinHash ``struct(mh0..)``, a narrow SimHash
    ``bigint`` or a wide SimHash ``array<bigint>``.  ``keys(s)`` lists its
    bucket keys (LSH bands, pigeonhole chunks); ``score(a, b)`` is the
    pair's similarity, kept where ``keep(score)`` holds; ``ident`` is the
    score of two identical signatures (``keep`` must accept it as a
    number too).  Returns ``(id_a, id_b, <name>)`` with ``id_a < id_b``,
    ordered — every pair within ``new_sigs`` and, when ``corpus_sigs`` is
    given, every new x corpus pair (the old-old pairs are never formed).

    The score depends only on the SIGNATURES, so the quadratic stage (the
    bucket self-join) runs over distinct signatures and doc pairs are
    expanded afterwards by two signature-equality joins.  Exact
    duplicates share one signature: a doc-level bucket join would
    enumerate every intra-cluster pair per bucket, the distinct one is
    bounded by content diversity, not corpus size.  Identical signatures
    never pair in the bucket join; their doc pairs come from one equality
    join each, with score ``ident``.  ``max_bucket_size`` caps buckets by
    their distinct-signature population over new UNION corpus, the one
    the batch operator sees, so incremental == batch under the cap too.

    Precondition: doc ids are unique across ``new_sigs`` and
    ``corpus_sigs``.  A repeated id would carry several signature rows,
    so it could pair with itself or yield one pair several times.  It is
    not checked: a check costs a distinct-count job per call, and
    :func:`simhash` groups by the id, so a repeated id there already
    arrives as one signature.
    """
    def docs(df, tag):
        return df.select(F.col(id_col).alias(f"_id_{tag}"), sig.alias(f"_sig_{tag}"))

    def buckets(df):
        return _buckets(df, "_sig", keys(F.col("_sig")))

    new = new_sigs.select(sig.alias("_sig")).distinct()
    sides = [new_sigs]
    corpus_b = population = None
    if corpus_sigs is not None:
        old = corpus_sigs.select(sig.alias("_sig")).distinct()
        corpus_b, population = buckets(old), buckets(new.unionByName(old).distinct())
        sides.append(corpus_sigs)
    cands = _bucket_pairs(buckets(new), corpus_b, "_sig", max_bucket_size, population)
    pair = [F.least("_id_a", "_id_b").alias("id_a"), F.greatest("_id_a", "_id_b").alias("id_b")]
    parts = []
    for cand, right in zip(cands, sides):
        verified = (
            cand.select(F.col("id_a").alias("_sig_a"), F.col("id_b").alias("_sig_b"))
            .withColumn(name, score(F.col("_sig_a"), F.col("_sig_b")))
            .filter(keep(F.col(name)))
        )
        parts.append(
            verified.join(docs(new_sigs, "a"), "_sig_a")
            .join(docs(right, "b"), "_sig_b")
            .select(*pair, name)
        )
    if keep(ident):
        same = F.lit(ident).cast(parts[0].schema[name].dataType).alias(name)
        for i, right in enumerate(sides):
            eq = docs(new_sigs, "a").join(docs(right, "b"), F.col("_sig_a") == F.col("_sig_b"))
            parts.append((eq if i else eq.filter(F.col("_id_a") < F.col("_id_b"))).select(*pair, same))
    return (
        functools.reduce(DataFrame.unionByName, parts)
        .select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), name)
        .orderBy("id_a", "id_b")
    )


def _minhash_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame | None,
    num_perms: int,
    bands: int,
    rows_per_band: int,
    threshold: float,
    id_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """:func:`_signature_pairs` over MinHash signatures: LSH band keys,
    est_jaccard = the rounded fraction of matching minima."""
    mh = [f"mh{j}" for j in range(num_perms)]
    return _signature_pairs(
        new_sigs, corpus_sigs, F.struct(*mh),
        lambda s: _band_keys(lambda j: s.getField(f"mh{j}"), bands, rows_per_band),
        "est_jaccard",
        lambda a, b: round4(
            sum(F.when(a.getField(c) == b.getField(c), 1).otherwise(0) for c in mh)
            / F.lit(num_perms)
        ),
        lambda est: est >= threshold,
        1.0,
        id_col,
        max_bucket_size,
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    threshold: float = 0.5,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    persist_sigs: bool = True,
    max_bucket_size: int | None = None,
    caches: list | None = None,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup: match a NEW batch of documents against an
    existing corpus's stored MinHash SIGNATURE table (plus within-batch)
    — the shape a 100 TB ingest actually runs, where the corpus was
    deduped yesterday and today's batch must not re-shingle or re-join
    yesterday's 10 B documents against themselves.

    ``corpus_sigs`` is exactly what :func:`minhash_signatures` returns
    (``id, mh0..mh{n-1}``) — the checkpointed signature table a
    production pipeline maintains.  Ids must be disjoint from the
    batch's and unique (the :func:`_signature_pairs` precondition).
    Returns (id_a, id_b, est_jaccard) pairs with AT LEAST ONE
    side in the new batch, bit-identical to
    ``minhash_near_dup(old_docs UNION new_docs)`` filtered to pairs
    touching a new id (equivalence-tested; the dq21h oracle replays the
    FULL batch pipeline in SQL and filters, so the gate itself proves
    incremental == batch).

    Why it scales where re-running batch doesn't: candidate generation
    probes only buckets containing a NEW signature — the old-old bucket
    self-join (the O(corpus) part) never happens; cost is
    O(new x bucket-collisions), independent of corpus size except for
    the band-key join against the (already materialized, bucketable)
    old signature stream.  It is the batch operator's kernel with a
    corpus side: same distinct-signature decomposition, same
    ``max_bucket_size`` hot-bucket cap, same est_jaccard arithmetic.

    ``new_sigs``: pass the batch's precomputed :func:`minhash_signatures`
    frame to skip re-shingling — the caller that also maintains the
    store (:func:`minhash_store_update`) computes signatures exactly
    once per batch.  ``persist_sigs`` persists the batch signatures the
    kernel reads several times, registered in ``caches``.
    """
    if new_sigs is None:
        new_sigs = minhash_signatures(new_df, k, num_perms, text_col, id_col, seed)
    if persist_sigs:
        new_sigs = new_sigs.persist()
        if caches is None:
            import warnings

            warnings.warn(
                "minhash_incremental_pairs(persist_sigs=True, caches=None) "
                "persists the batch signature table it cannot unpersist "
                "(lazy return); pass a caches= list and unpersist after "
                "materializing, or persist_sigs=False",
                ResourceWarning,
                stacklevel=2,
            )
        else:
            caches.append(new_sigs)
    return _minhash_pairs(
        new_sigs, corpus_sigs, num_perms, bands, rows_per_band, threshold, id_col,
        max_bucket_size,
    )


def lsh_oversized_buckets(
    sigs: DataFrame,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """The audit companion to ``lsh_candidate_pairs(max_bucket_size=...)``:
    (band, key, n_members, n_pairs_avoided) for every bucket the cap
    would drop — the "recorded count" a pipeline operator logs before
    capping.  Same bucket stream, one agg, no self-join."""
    return (
        _lsh_buckets(sigs, bands, rows_per_band, id_col)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
        # integer `div`, not `/`: double division loses integer exactness
        # once n(n-1) passes 2^53 — i.e. exactly the 1e8+-member hot
        # buckets this audit exists to count
        .withColumn(
            "n_pairs_avoided",
            F.expr("(n_members * (n_members - 1)) div 2").cast("bigint"),
        )
        .orderBy(F.desc("n_members"), "band", "key")
    )


def minhash_near_dup(
    df: DataFrame,
    k: int = 5,
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline -> (id_a, id_b, est_jaccard).

    est_jaccard = fraction of matching signature positions on LSH candidate
    pairs only.  Doc ids must be unique (the :func:`_signature_pairs`
    precondition).  ``max_bucket_size`` is :func:`lsh_candidate_pairs`'
    cap — NOTE it caps DISTINCT-SIGNATURE buckets (exact duplicates
    already collapse before banding here), so it guards against
    near-identical-but-distinct mass clusters.

    The signature table is persisted: it feeds five plan branches (the
    distinct signatures and both sides of each expansion join); without
    it Spark recomputes the shingle hashing — the expensive stage — once
    per branch (measured 2-3x on the bench suite).
    """
    sigs = minhash_signatures(df, k, num_perms, text_col, id_col, seed).persist()
    return _minhash_pairs(
        sigs, None, num_perms, bands, rows_per_band, threshold, id_col, max_bucket_size
    )


def _simhash_words(
    df: DataFrame, token_hashes: list[str], width: int, text_col: str, id_col: str
) -> DataFrame:
    """The one SimHash signature builder -> (id, w0..w{n-1} BIGINT): word c
    is the ``width``-bit SimHash under token hash ``token_hashes[c]`` (an
    md5 argument over ``tok``).  Bit k of a word = sign of
    Σ_tokens (±1 by bit k of the token hash).

    Occurrences collapse to DISTINCT (doc, token) pairs first and the
    bit-sums weight by the count — Σ_occurrences ±1 ≡ Σ_distinct ±count,
    but the md5+fold evaluates once per distinct pair instead of once per
    occurrence (natural-language vocabularies repeat heavily; ~20× fewer
    hash evals on the fixture).  The count aggregation map-side combines
    before the shuffle, so shuffle volume also drops from occurrences to
    distinct pairs.
    """
    pairs = (
        spread(df)
        .select(F.col(id_col), F.explode(F.expr(portable.tokens_spark(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    # Global token DICTIONARY: hash each DISTINCT token once, join back —
    # vocabulary << distinct (doc, token) pairs on natural text, so md5
    # evals drop another ~5-20x on top of the occurrences->pairs collapse
    # above.  MEASURED on sf0.1: 1.84 s vs 2.44 s per-pair (the pair table
    # here is post-aggregation — compact and already shuffled — so the
    # persist is cheap, unlike minhash_signatures where the same trick
    # loses).  No broadcast hint: AQE broadcasts the dictionary when small
    # and falls back to a shuffle join on huge vocabularies — scale-safe.
    dic = pairs.select("tok").distinct().select(
        "tok",
        *[F.expr(portable.hexfold_spark(f"md5({t})")).alias(f"h{c}") for c, t in enumerate(token_hashes)],
    )
    words = range(len(token_hashes))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"h{c}"), kk).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"s{c}_{kk}")
        for c in words
        for kk in range(width)
    ]
    agg = pairs.join(dic, "tok").groupBy(id_col).agg(*bit_sums)
    return agg.select(
        F.col(id_col),
        *[
            sum(F.when(F.col(f"s{c}_{kk}") > 0, F.lit(2**kk)).otherwise(F.lit(0)) for kk in range(width))
            .cast("bigint")
            .alias(f"w{c}")
            for c in words
        ],
    )


def simhash(df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash over whitespace tokens -> (id, simhash BIGINT): one
    ``bits``-wide word of :func:`_simhash_words` under ``md5(tok)``."""
    return _simhash_words(df, ["tok"], bits, text_col, id_col).select(
        id_col, F.col("w0").alias("simhash")
    )


# auto_simhash_bits: distinct signatures per pigeonhole bucket it aims at,
# and the narrowest chunk it picks
SIMHASH_OCCUPANCY = 2.0
SIMHASH_MIN_CHUNK_BITS = 8


def auto_simhash_bits(n_docs: int, chunks: int = 4) -> int:
    """Signature width from a cheap corpus count (round-4 verdict item 4).

    Pigeonhole blocking joins per-chunk buckets; with ``w = bits/chunks``
    bit chunks there are ``2^w`` buckets, and the join's candidate volume
    grows with (distinct signatures / 2^w)² per bucket.  The saturation
    the ladder measured (32-bit fine at 20 k docs, dead at 500 k) is
    exactly this occupancy crossing 1 — so derive ``w`` from the count:
    ``w = ceil(log2(n / SIMHASH_OCCUPANCY))``, floored at
    ``SIMHASH_MIN_CHUNK_BITS``.  Deterministic: the same corpus size
    always picks the same width, so auto mode stays oracle-stable at any
    fixed fixture.
    """
    import math

    w = max(SIMHASH_MIN_CHUNK_BITS, math.ceil(math.log2(max(n_docs, 2) / SIMHASH_OCCUPANCY)))
    return w * chunks


def _simhash_chunk_words(
    df: DataFrame, chunks: int, chunk_bits: int, text_col: str, id_col: str
) -> DataFrame:
    """Wide SimHash as ``chunks`` independent words -> (id, sims ARRAY<BIGINT>).

    Beyond 60 bits a single fold can't carry the signature (the portable
    hash yields 60 bits), so each chunk becomes its OWN ``chunk_bits``-wide
    simhash from a per-chunk SALTED token hash — the concatenation is a
    valid simhash of ``chunks * chunk_bits`` bits whose chunk extraction
    is just ``element_at``.
    """
    salted = [f"concat(tok, '#w{c}')" for c in range(chunks)]
    words = _simhash_words(df, salted, chunk_bits, text_col, id_col)
    return words.select(id_col, F.array(*[f"w{c}" for c in range(chunks)]).alias("sims"))


def simhash_near_dup(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int | str = 32,
    chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole blocking — exact, not all-pairs.

    Hamming distance <= ``chunks - 1`` guarantees at least one of ``chunks``
    equal bit-chunks, so candidates come from per-chunk bucket joins; the
    hamming check then verifies.  (``max_hamming`` must be in
    ``[0, chunks)``.)  Doc ids should be unique (the
    :func:`_signature_pairs` precondition; :func:`simhash` merges the
    rows of a repeated id into one signature).

    ``bits="auto"`` sizes the signature from one cheap ``count()`` via
    :func:`auto_simhash_bits` — the knob the round-3 ladder showed must
    track corpus size (32-bit saturates at ~100 k docs) no longer needs
    hand-tuning.  Signatures wider than 60 bits switch to the chunk-word
    representation (:func:`_simhash_chunk_words`); ``bits <= 60`` keeps
    the single-BIGINT signature bit-for-bit identical to round 3 (dq21c's
    oracle depends on it).  Either way the signature table is persisted:
    it feeds the distinct signatures and both sides of each expansion.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming={max_hamming} must be >= 0")
    if max_hamming >= chunks:
        raise ValueError("pigeonhole blocking needs max_hamming < chunks")
    if bits == "auto":
        bits = auto_simhash_bits(df.count(), chunks)
    if bits % chunks:
        raise ValueError(f"bits={bits} not divisible by chunks={chunks}")
    width = bits // chunks
    if bits > 60:
        sims, sig = _simhash_chunk_words(df, chunks, width, text_col, id_col), F.col("sims")

        def chunk(s, c):
            return F.element_at(s, c + 1)
    else:
        sims, sig = simhash(df, bits, text_col, id_col), F.col("simhash")

        def chunk(s, c):
            return F.shiftright(s, c * width).bitwiseAND(F.lit(2**width - 1))
    return _signature_pairs(
        sims.persist(), None, sig,
        lambda s: [chunk(s, c) for c in range(chunks)],
        "hamming",
        lambda a, b: sum(F.bit_count(chunk(a, c).bitwiseXOR(chunk(b, c))) for c in range(chunks)).cast("bigint"),
        lambda h: h <= max_hamming,
        0,
        id_col,
    )


def levenshtein_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    prefix: int = 24,
    max_dist: int = 64,
) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking (DQ40).

    Levenshtein is O(len²) per PAIR — unusable all-pairs.  Blocking on
    (block_col, first ``prefix`` chars) turns it into an equi-join whose
    candidate set is bounded by block sizes, then the exact distance
    (JVM built-in ``levenshtein``, identical classic metric in DuckDB)
    refines.  Recall is prefix-sensitive by design — pair docs whose
    edits are past the prefix; complements MinHash (shingle-based, edit
    position-independent).
    """
    blocked = df.select(
        F.col(id_col),
        F.col(block_col),
        F.col(text_col),
        F.substring(F.col(text_col), 1, prefix).alias("_pfx"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pair_dist = F.levenshtein(F.col(f"a.{text_col}"), F.col(f"b.{text_col}"))
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a._pfx") == F.col("b._pfx"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").cast("bigint").alias("id_a"),
            F.col(f"b.{id_col}").cast("bigint").alias("id_b"),
            pair_dist.cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy("id_a", "id_b")
    )


def _spread_tokens(
    df: DataFrame, text_col: str, id_col: str, out_id: str | None = None
) -> DataFrame:
    """(id, _toks) with the token array HOISTED into its own projection
    (the lambda below slices a bound column instead of re-evaluating
    split() per start position) and the tokenization sitting ABOVE the
    spread: spreading the raw (id, text) rows first (a) runs the
    expensive transform on every core instead of the input's (often
    single-file) partitioning and (b) shuffles the ~50-byte text
    representation, not the ~n-times-fatter gram arrays — measured
    7.0 s -> 0.4 s on a 1-partition 5 k-doc input at sf0.1."""
    return spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias(out_id or id_col),
        F.expr(f"split(trim({text_col}), '\\\\s+')").alias("_toks"),
    )


def _window_gram_array(n: int) -> Column:
    """Array of overlapping n-token windows over the bound ``_toks``
    column, one per start position.  CASE-guarded: Spark's
    ``sequence(1, 0)`` is DESCENDING [1, 0] (not empty), and
    ``slice(toks, 0, n)`` then throws — docs shorter than ``n`` tokens
    must yield [] (the same guard as text._token_ngrams).  Shared by
    :func:`word_gram_pairs` and :func:`duplicate_spans` so the guard
    and any tuning live in ONE place."""
    return F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(1, size(_toks) - {n - 1}), "
        f"p -> concat_ws(' ', slice(_toks, p, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def word_gram_pairs(
    df: DataFrame, n: int, text_col: str, id_col: str, out_id: str
) -> DataFrame:
    """Distinct (doc, word-n-gram) pairs, exploded — the shared candidate
    unit of the decontamination operators."""
    toksed = _spread_tokens(df, text_col, id_col, out_id)
    return toksed.select(
        F.col(out_id), F.explode(F.array_distinct(_window_gram_array(n))).alias("gram")
    )


def contaminated_train_ids(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TRAIN doc ids sharing at least one word n-gram with any test doc —
    the removal set of a decontamination pass (the train-side view of
    :func:`contamination_report`)."""
    tr = word_gram_pairs(train, n, text_col, id_col, "train_id")
    te = word_gram_pairs(test, n, text_col, id_col, "test_id")
    return (
        te.join(tr, "gram")
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C shape): for every TEST
    document, count the TRAIN documents sharing at least one word n-gram
    with it, plus the number of distinct shared n-grams.  Rows with
    ``contaminated = true`` are the train-set removal candidates.

    Plan: distinct (doc, gram) pairs on both sides -> equi-join on the
    gram -> per-test-doc aggregate -> left join back so clean test docs
    appear with zeros.  The join key is the n-gram, so fan-out is bounded
    by per-gram document frequency — never |train| x |test| — and at
    100 TB the train side is the big relation while the test (benchmark)
    side is naturally broadcast-sized.
    """
    tr = word_gram_pairs(train, n, text_col, id_col, "train_id")
    te = word_gram_pairs(test, n, text_col, id_col, "test_id")
    hits = (
        te.join(tr, "gram")
        .groupBy("test_id")
        .agg(
            F.countDistinct("train_id").cast("bigint").alias("n_train_docs"),
            F.countDistinct("gram").cast("bigint").alias("n_shared_grams"),
        )
    )
    return (
        test.select(F.col(id_col).alias("test_id"))
        .join(hits, "test_id", "left")
        .select(
            "test_id",
            F.coalesce("n_train_docs", F.lit(0)).cast("bigint").alias("n_train_docs"),
            F.coalesce("n_shared_grams", F.lit(0)).cast("bigint").alias("n_shared_grams"),
            (F.coalesce("n_train_docs", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("test_id")
    )


# --- paragraph-level dedup (C4/RefinedWeb-style duplicate-span removal) ------


def dedup_paragraphs(
    df: DataFrame,
    para_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove duplicated paragraphs ACROSS documents, keeping each
    distinct paragraph's first global occurrence (ordered by doc id,
    then position) and reconstructing the cleaned text per document —
    the C4 recipe's span-level companion to document-level dedup
    (document dedup drops whole near-copies; this strips boilerplate
    spans recurring inside otherwise-distinct documents).

    Corpora without newlines (the fixture ``documents``) use fixed
    ``para_tokens``-token windows as paragraph surrogates; the operator
    itself only sees an array of spans, so a newline splitter slots in
    unchanged.

    Shape at scale: explode to (doc, pos, para) -> ONE hash shuffle on
    the paragraph string for the first-occurrence window -> one shuffle
    back on doc id to reassemble. Both shuffles are on bounded keys
    (paragraph text / doc id); no all-pairs stage anywhere. Empty or
    sub-window docs short-circuit to an empty span array (the
    ``sequence(1, 0)`` descending-range pitfall — ADVICE round 3).
    """
    from pyspark.sql import Window

    toks = f"split(trim({text_col}), '\\\\s+')"
    n_paras = f"CAST(ceil(size({toks}) / CAST({para_tokens} AS DOUBLE)) AS INT)"
    paras = (
        f"CASE WHEN size({toks}) >= 1 AND NOT (size({toks}) = 1 AND element_at({toks}, 1) = '') "
        f"THEN transform(sequence(0, {n_paras} - 1), "
        f"j -> concat_ws(' ', slice({toks}, j * {para_tokens} + 1, {para_tokens}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    exploded = df.selectExpr(id_col, f"posexplode({paras}) AS (para_idx, para)")
    w = Window.partitionBy("para").orderBy(F.col(id_col).asc(), F.col("para_idx").asc())
    flagged = exploded.withColumn("rn", F.row_number().over(w))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("para_idx", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
            ).alias("cleaned"),
        )
        .select(
            F.col(id_col),
            F.col("n_paras").cast("bigint").alias("n_paras"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            "cleaned",
        )
    )


def duplicate_spans(
    df: DataFrame,
    window_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    exact-substring recipe, arXiv:2107.06499 §4): every maximal token
    span covered by an L-token window that occurs MORE THAN ONCE in the
    corpus (in another document, or at another position of the same
    one).  The suffix-array tool's output — "remove these ranges" —
    re-expressed as three bounded shuffles.

    Correctness rests on the classic window argument: any duplicated
    substring of >= L tokens contains a duplicated L-window at every
    start position, so the union of [pos, pos+L) over duplicated
    windows is exactly the set of positions inside duplicated runs, and
    merging overlapping-or-touching windows (gap <= L) reconstructs the
    maximal spans without a suffix array.

    ``hash_grams=True`` is the 100 TB path: the count/join key becomes
    ``xxhash64(gram)`` (8 bytes) instead of the ~L-word string, shrinking
    the two gram-keyed exchanges ~30x at L=50.  False-positive odds per
    colliding pair are ~2^-64 — acceptable for corpus curation, not for
    the cross-engine oracle (DuckDB has no xxhash64), so the declared
    query keeps the exact string key.  Both paths share every other
    plan node and are equivalence-tested on the fixture.

    Plan: spread raw rows -> posexplode the OVERLAPPING L-windows
    (unlike :func:`dedup_paragraphs`'s disjoint surrogates — overlap is
    what buys the >= L guarantee) -> global per-window-string counts
    (ONE hash agg, map-side combined) -> join back on the window string
    (AQE reuses the exchange) -> per-doc island merge (one window over
    doc id).  The group key is the window STRING for cross-engine
    exactness; a production deployment would key on a 128-bit hash to
    shrink the two gram-keyed exchanges — same plan shape, collision
    odds ~2^-64.  Returns (doc_id, span_start, span_end, n_windows),
    token positions 0-based, end exclusive.
    """
    from pyspark.sql import Window

    L = int(window_tokens)
    base = _spread_tokens(df, text_col, id_col)
    wins = base.select(
        F.col(id_col),
        F.posexplode(_window_gram_array(L)).alias("pos", "gram"),
    )
    if hash_grams:
        wins = wins.select(id_col, "pos", F.xxhash64("gram").alias("gram"))
    counts = wins.groupBy("gram").agg(F.count(F.lit(1)).alias("_n"))
    dup = (
        wins.join(counts, "gram")
        .filter(F.col("_n") > 1)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = dup.withColumn(
        "_new",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > F.lit(L), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("_isl", F.sum("_new").over(w))
    return (
        islands.groupBy(F.col(id_col).cast("bigint").alias(id_col), "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(L)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .drop("_isl")
        .orderBy(id_col, "span_start")
    )
