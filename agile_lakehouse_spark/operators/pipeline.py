"""End-to-end training-data cleaning pipeline (the north-star composition).

One declared operator chaining the LLM-data ops the way a production
corpus-prep job would:

    quality filter  ->  exact dedup (keep lowest id)  ->  MinHash-LSH
    near-dup removal (drop the higher id of every near-dup pair)

Everything stays one lazy Catalyst plan — no materialization between
stages, so column pruning and predicate pushdown cross stage boundaries,
and the whole pipeline is a handful of shuffles (quality is a map, dedup
one agg, near-dup the LSH join) regardless of corpus size.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agile_lakehouse_spark.operators import dedup
from agile_lakehouse_spark.operators.text import quality_score

# How curate_corpus_incremental pins the cross-batch STATE frames
# (SPARK_GRAFT_STATE_PIN, read from the environment AT CALL TIME — tests
# monkeypatch it; an unknown value raises rather than silently meaning
# checkpoint):
# - "checkpoint" (default) = LAZY localCheckpoint — truncates the state's
#   lineage at pin time (batch N+1 plans against a LogicalRDD instead of
#   embedding every prior batch's full pipeline) while the blocks are
#   computed on first use, overlapped with batch N+1's own stages (very
#   large plans make the optimizer itself the bottleneck).
#   The blocks live on executors and are UNRECOVERABLE after an executor
#   loss (the job fails, it cannot recompute): acceptable on local[n],
#   where executor==driver, fatal on a real cluster.  They free at GC or
#   session end; DataFrame.unpersist() does not release them.
# - "table" = the SCALE-SAFE mode: state lands in a TransactionalTable
#   under $SPARK_GRAFT_STATE_PIN_DIR (default: one tempdir per process,
#   removed at exit; a user-set directory is never removed) and reads
#   back as a plain parquet scan — the "production reloads state from the
#   lakehouse between batches" contract, durable across executor AND
#   driver restarts.
# Content is identical in both modes: the same deterministic frame,
# pinned; only lineage/durability differ (pinned by
# test_curate_incremental_state_pin_table_mode).
_STATE_PIN_MODES = ("checkpoint", "table")


def _pin_state(df: DataFrame, caches: list | None) -> DataFrame:
    mode = os.environ.get("SPARK_GRAFT_STATE_PIN", "checkpoint")
    if mode not in _STATE_PIN_MODES:
        raise ValueError(
            f"SPARK_GRAFT_STATE_PIN={mode!r}: expected one of {_STATE_PIN_MODES}"
        )
    if mode == "table":
        df = _pin_state_table(df)
    else:
        df = df.localCheckpoint(eager=False)
    if caches is not None:
        caches.append(df)
    return df


@functools.cache
def _process_pin_dir() -> str:
    """The pin base when SPARK_GRAFT_STATE_PIN_DIR is unset: one temp
    directory per process, created on first use and removed at
    interpreter exit.  A user-set directory is never removed."""
    base = tempfile.mkdtemp(prefix="state_pin_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


def _pin_state_table(df: DataFrame) -> DataFrame:
    """Materialize a state frame into a TransactionalTable and read it
    back: the durable STATE_PIN mode (one table per pin — state frames
    are immutable snapshots, the next batch pins a new one)."""
    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    base = os.environ.get("SPARK_GRAFT_STATE_PIN_DIR") or _process_pin_dir()
    path = tempfile.mkdtemp(prefix="state_", dir=base)
    tbl = TransactionalTable(f"{path}/state")
    tbl.append(df)
    return tbl.read(df.sparkSession)


def clean_corpus(
    df: DataFrame,
    min_quality: float = 0.5,
    shingle_k: int = 5,
    near_dup_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Return the surviving (cleaned) documents: (doc_id, quality).

    Deterministic survivor rule: per exact-duplicate group the lowest id
    survives; per near-dup pair (est_jaccard >= threshold) the higher id is
    dropped.  Output ordered by id.
    """
    scored = quality_score(df, text_col).filter(F.col("quality") >= min_quality)
    keep_exact = (
        scored.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col), F.min("quality").alias("quality"))
        .select(id_col, "quality")
    )
    near = dedup.minhash_near_dup(
        scored.select(id_col, text_col),
        k=shingle_k,
        threshold=near_dup_threshold,
        text_col=text_col,
        id_col=id_col,
    )
    drop = near.select(F.col("id_b").alias(id_col)).distinct()
    return (
        keep_exact.join(drop, id_col, "left_anti")
        .select(F.col(id_col).cast("bigint").alias(id_col), "quality")
        .orderBy(id_col)
    )


def curate_corpus(
    df: DataFrame,
    test_source: str = "src0",
    shingle_k: int = 5,
    near_dup_threshold: float = 0.5,
    contam_n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Full training-set curation as ONE lazy plan (the clean_corpus v2):

    1. Gopher quality rules (token bounds, word length, stopwords,
       repetition guard) over the TRAIN split,
    2. exact dedup on the NORMALIZED fingerprint (case/punct/whitespace
       canonicalized first — raw-text dedup misses trivial variants),
    3. MinHash+LSH near-dup removal (higher id drops),
    4. decontamination: drop train docs sharing any word n-gram with the
       held-out ``test_source`` benchmark split.

    Returns the surviving doc ids, ordered.  Every stage is a hash agg,
    bucketed join, or anti-join — the composition shuffles on doc/gram
    keys only and never materializes intermediate corpora, so Catalyst
    pipelines the stages and AQE sizes the exchanges at any scale.
    """
    from agile_lakehouse_spark.operators.text import gopher_quality, normalize_text

    train = df.filter(F.col(source_col) != test_source)
    test = df.filter(F.col(source_col) == test_source)

    quality_ids = gopher_quality(train, text_col, id_col).filter("keep").select(id_col)
    s0 = train.join(quality_ids, id_col, "left_semi")

    norm = normalize_text(s0, text_col, id_col)
    keep_exact = norm.groupBy("norm_fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    # s1 feeds THREE consumers (near-dup pairs, contamination grams, the
    # survivor output) — compute the quality+dedup prefix once
    s1 = s0.join(keep_exact, id_col, "left_semi").persist()

    near = dedup.minhash_near_dup(
        s1.select(id_col, text_col),
        k=shingle_k,
        threshold=near_dup_threshold,
        text_col=text_col,
        id_col=id_col,
    )
    drop_near = near.select(F.col("id_b").alias(id_col)).distinct()

    contam = dedup.contaminated_train_ids(s1, test, contam_n, text_col, id_col)

    return (
        s1.select(F.col(id_col).cast("bigint").alias(id_col))
        .join(drop_near, id_col, "left_anti")
        .join(contam, id_col, "left_anti")
        .orderBy(id_col)
    )


def curate_corpus_incremental(
    new_df: DataFrame,
    test_df: DataFrame,
    state: dict[str, DataFrame] | None = None,
    shingle_k: int = 5,
    near_dup_threshold: float = 0.5,
    contam_n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    caches: list | None = None,
    ordered: bool = True,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """One INGEST STEP of :func:`curate_corpus`: curate a new train batch
    against the state left by every previous batch, without ever
    re-scanning the old corpus — the production shape at 100 TB, wiring
    the incremental-dedup trio (:func:`dedup.exact_dedup_store_update` /
    :func:`dedup.minhash_incremental_pairs` + ``minhash_store_update``)
    into the end-to-end pipeline.

    Returns ``(survivors, new_state)``.  ``state`` carries two frames a
    production job persists between batches (a lakehouse table each —
    plans/snapshots.py); the returned frames are ALSO ``.persist()``-ed
    here (registered in ``caches``) so in-session multi-batch callers
    don't recompute every prior batch's pipeline inside each later
    batch's store join (quadratic lineage — round-9 advice):

    - ``"fps"``   — (norm_fp, keep_id): the normalized-fingerprint exact
      store.  One representative per fp exists, so storing survivors'
      fps covers every fp ever seen.
    - ``"sigs"``  — MinHash signatures of every post-exact doc, KEPT AND
      DROPPED (near-dup is not transitive; a dropped doc still witnesses
      the next copy — the minhash_store_update contract).

    ``test_df`` is the full held-out benchmark split, static across
    batches (decontamination is per-doc against a fixed gram set, so it
    needs no state).  Batch ids must be disjoint and INCREASING across
    batches; under that invariant the concatenation of every batch's
    survivors is bit-identical to one :func:`curate_corpus` run over the
    union (equivalence-tested; the dq124b oracle replays the batch
    pipeline in SQL against a 2-batch split): quality is per-doc, the fp
    store reproduces union-min exact dedup, pair parity is
    minhash_incremental_pairs' proven equivalence, and the drop-higher
    rule picks the same ids because every cross pair's greater id is the
    new side.

    Stage shape per batch: per-doc quality map, one fp agg + two
    fp-key joins, one signature pass (shared by matcher and store via
    ``new_sigs`` — the batch is never re-shingled), the new-side-only
    bucket probe, one gram join against the test set.  Nothing scales
    with corpus size except the fp/sig store joins, which shuffle on
    their keys only.
    """
    from agile_lakehouse_spark.operators.text import gopher_quality, normalize_text

    spark = new_df.sparkSession
    if state is None:
        nperm = dedup.DEFAULT_NUM_PERMS
        state = {
            "fps": spark.createDataFrame([], "norm_fp BIGINT, keep_id BIGINT"),
            "sigs": spark.createDataFrame(
                [],
                f"{id_col} BIGINT, "
                + ", ".join(f"mh{j} BIGINT" for j in range(nperm)),
            ),
        }

    quality_ids = gopher_quality(new_df, text_col, id_col).filter("keep").select(id_col)
    s0 = new_df.join(quality_ids, id_col, "left_semi")

    # exact stage: batch-min per fp, then drop fps the store already holds
    norm = normalize_text(s0, text_col, id_col)
    batch_min = norm.groupBy("norm_fp").agg(F.min(id_col).cast("bigint").alias("keep_id"))
    novel = batch_min.join(state["fps"].select("norm_fp"), "norm_fp", "left_anti")
    s1 = s0.join(
        novel.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    ).persist()
    if caches is None:
        import warnings

        warnings.warn(
            "curate_corpus_incremental(caches=None) persists the batch's "
            "post-exact survivor frame and its signature table, which it "
            "cannot unpersist (lazy return); pass a caches= list and "
            "unpersist after materializing",
            ResourceWarning,
            stacklevel=2,
        )
    else:
        caches.append(s1)

    # near-dup stage: ONE signature pass feeds the matcher's several plan
    # branches (bucket probe, est-jaccard expansion, identity joins), the
    # sig store, AND the next batch's probe against that store — persist
    # it here (persist_sigs=False below: already persisted)
    sigs = dedup.minhash_signatures(
        s1.select(id_col, text_col), shingle_k, text_col=text_col, id_col=id_col
    ).persist()
    if caches is not None:
        caches.append(sigs)
    pairs = dedup.minhash_incremental_pairs(
        s1.select(id_col, text_col),
        state["sigs"],
        k=shingle_k,
        threshold=near_dup_threshold,
        text_col=text_col,
        id_col=id_col,
        persist_sigs=False,
        new_sigs=sigs,
    )
    drop_near = pairs.select(F.col("id_b").alias(id_col)).distinct()

    contam = dedup.contaminated_train_ids(s1, test_df, contam_n, text_col, id_col)

    survivors = (
        s1.select(F.col(id_col).cast("bigint").alias(id_col))
        .join(drop_near, id_col, "left_anti")
        .join(contam, id_col, "left_anti")
    )
    # ``ordered=False`` skips the per-batch global sort (a range-partition
    # exchange + its sampling pass) for callers that re-order the
    # concatenation themselves — dq124b unions N batches and orders ONCE;
    # the inner sorts were pure overhead (Catalyst does not eliminate a
    # sort below a union under an outer sort).
    if ordered:
        survivors = survivors.orderBy(id_col)
    # Pin the RETURNED state frames too (round-9 advice): they chain a
    # union per batch, so an un-pinned store's lineage re-runs every
    # prior batch's quality/normalize/signature pipeline inside every
    # later batch — quadratic in batch count.  Round 13: pinned via
    # localCheckpoint (STATE_PIN), which also TRUNCATES the
    # lineage — under plain persist batch N+1's analyzed plan still
    # embedded every prior batch's pipeline (dq124b: 221 Exchange nodes,
    # 2.6 s planning for 2 batches, superlinear in batch count), because
    # cache lookup happens at execution, not planning.  The checkpointed
    # state is what a production job reloads from a lakehouse table
    # between batches anyway (plans/snapshots.py) — same plan shape.
    new_state = {
        "fps": _pin_state(state["fps"].unionByName(novel), caches),
        "sigs": _pin_state(dedup.minhash_store_update(state["sigs"], sigs), caches),
    }
    return survivors, new_state
