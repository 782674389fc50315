"""Structured-Streaming ingestion into the Data Vault.

The reference is strictly batch (SURVEY §2.8); this module is the scale
extension that makes the vault continuously loaded:

* :func:`stream_files_to_staging` — file-source stream with the imposed
  metadata schema; each micro-batch goes to the caller's
  ``process_batch`` via ``foreachBatch`` (a vault flow there is safe:
  the anti-join loads are idempotent, which is exactly what
  at-least-once micro-batches need — replays insert nothing).
* :func:`neardup_stream_processor` — the curation crawl gate: in-batch
  dedup, MinHash index probe and append, plus optional gates and
  sidecar stores.

Tests run with ``trigger(availableNow=True)`` on temp dirs; on a cluster
the same code points at cloud storage / Kafka with a real checkpoint
location.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from mallarddv_spark.exceptions import DVConfigurationError
from mallarddv_spark.logging_utils import get_logger

log = get_logger("streaming")


def _refresh_after_batch_write(
    batch_session: SparkSession, table: str, extra_sessions: tuple = ()
) -> None:
    """Invalidate cached relation metadata for ``table`` after a
    ``foreachBatch`` write.

    ``foreachBatch`` hands the callback a DataFrame bound to a CLONED
    SparkSession (Spark isolates each micro-batch's SQL conf), so a
    ``saveAsTable``/``insertInto`` through it refreshes only the clone's
    relation cache. Any OTHER session that already resolved the table —
    the user's main session, the vault facade — keeps serving the stale
    file listing, which reads as silently missing (append) or vanished
    (overwrite) rows. Refreshing both the batch session and the driver's
    active session restores read-your-writes for the normal single-user
    pattern; independent third sessions still follow standard Spark
    semantics (``REFRESH TABLE`` before reading externally-written
    tables). ``extra_sessions`` covers readers known to the caller that
    may be neither (e.g. the vault facade's session)."""
    for s in {batch_session, SparkSession.getActiveSession(), *extra_sessions}:
        if s is not None:
            try:
                s.catalog.refreshTable(table)
            except Exception:  # table may not exist yet in that catalog
                log.debug("refresh of %s after batch write skipped", table,
                          exc_info=True)


def stream_files_to_staging(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    process_batch,
    file_format: str = "csv",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream files landing in ``source_dir`` through ``process_batch``.

    ``process_batch(df, batch_id)`` receives each micro-batch as a plain
    DataFrame — the caller runs the vault load protocol (overwrite staging,
    refresh hash view, run hub/link/sat loads). Idempotent loads make
    replayed batches harmless.
    """
    reader = spark.readStream.schema(schema)
    if file_format == "csv":
        stream = reader.option("header", True).csv(source_dir)
    elif file_format == "parquet":
        stream = reader.parquet(source_dir)
    elif file_format == "json":
        stream = reader.json(source_dir)
    else:
        raise DVConfigurationError(f"unsupported stream format: {file_format}")

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_stream_processor(
    index_path: str,
    sink_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    contamination_bloom_path: str | None = None,
    contamination_table: str | None = None,
    quality_model_path: str | None = None,
    quality_keep_labels: list[str] | None = None,
    quality_table: str | None = None,
    lr_model_path: str | None = None,
    lr_min_score: float = 0.5,
    lr_quality_table: str | None = None,
    lang_model_path: str | None = None,
    lang_keep: list[str] | None = None,
    lang_table: str | None = None,
    bm25_index_path: str | None = None,
    compact_every_n_batches: int | None = None,
    vocab_hll_path: str | None = None,
    doclen_hist_path: str | None = None,
    doclen_tdigest_path: str | None = None,
    docsample_kmv_path: str | None = None,
    pre_screen=None,
    url_col: str | None = None,
    seen_urls_path: str | None = None,
):
    """Ready-made ``process_batch`` for :func:`stream_files_to_staging`:
    the continuous-crawl near-dup gate. Each micro-batch is

    1. exact-deduped on ``id_col`` within itself, and ids ALREADY in the
       index are dropped (a column-pruned scan of the index's stored
       doc_ids — this is what makes a replay of a fully-committed batch a
       no-op),
    2. near-deduped WITHIN the batch (banded LSH pairs at the index's own
       parameters → keep the min id per matching pair-graph component —
       the same article under three urls in one crawl file admits once),
    3. the within-batch survivors are probed against the persisted index
       (:func:`operators.dedup.neardup_against_index`) — documents
       matching ANY stored document at ≥ ``threshold`` signature
       agreement are dropped,
    4. with ``contamination_bloom_path`` set, survivors are screened
       against the stored benchmark Bloom filter
       (``operators.curation.decontaminate_with_bloom`` over a filter
       persisted by ``build_benchmark_bloom`` + ``bloom.save_bloom``) —
       eval-set leakage is dropped at ingest, optionally recorded to
       ``contamination_table`` with the hit count; the filter row is a
       broadcast and the probe a projection, so this step adds no
       shuffle,
    5. with ``quality_model_path`` set (a model persisted by
       ``curation.save_nb_classifier``), survivors are classified by the
       stored hashed-feature Naive Bayes model and only documents whose
       predicted label is in ``quality_keep_labels`` pass — the
       fastText-style quality gate at ingest. Rejects are optionally
       recorded to ``quality_table`` with their predicted label and
       score. Documents with no features (empty text) have no prediction
       and PASS — no evidence is not negative evidence. The model grid
       rides a broadcast; no added corpus shuffle beyond the doc-keyed
       score aggregations. ``lr_model_path`` (a model persisted by
       ``curation.save_lr_classifier``) attaches the TRAINED sigmoid
       sibling instead/as well: documents scoring below ``lr_min_score``
       are dropped (rejects optionally recorded to ``lr_quality_table``
       with their score). Unlike the NB screen, every document gets a
       score — an empty document scores the model's bias prior, so the
       trained base rate decides it rather than a blanket pass.
       ``lang_model_path`` (a model persisted by
       ``curation.save_softmax_classifier``) adds the trained
       LANGUAGE screen — the CCNet routing stage at ingest: each
       survivor is classified and only documents whose predicted
       language is in ``lang_keep`` pass (rejects optionally recorded
       to ``lang_table`` with their predicted language and score; a
       featureless document is assigned the bias-prior language, the
       LR-screen convention). The buckets×K weight table rides a
       broadcast; the softmax/argmax run in-plan,
    6. final survivors append to ``sink_table`` first, then to the
       indexes — so later batches dedup against them without recomputing
       a single history signature. With ``bm25_index_path`` set (an
       index built by ``operators.retrieval.build_bm25_index``),
       survivors ALSO append to the stored BM25 inverted index, keeping
       the ingested corpus searchable as it grows.

    Crash semantics (documented at-least-once): a crash between the sink
    append and the index appends re-admits the batch on replay — the sink
    may hold duplicates (dedup downstream on ``id_col``; the already-
    ingested-id check only consults the MINHASH index) and the indexes
    then catch up. A crash before the sink append loses nothing: only
    documents already visible in the index are dropped.
    ``contamination_table`` and ``quality_table`` records are likewise
    at-least-once (a replayed batch re-screens and re-records; dedup
    downstream on ``(doc_id, batch_id)``). Index-append ORDER is
    load-bearing: the BM25 append runs BEFORE the minhash append,
    because the minhash index is the replay fence — once a batch's ids
    are in it, a replay filters the batch out and can never retroactively
    post missing terms. With BM25 first, the worst crash state is
    duplicated postings (BM25 appended, minhash tore, batch replays) —
    the documented state ``retrieval.bm25_index_compact`` repairs — not
    a silent permanent omission, which nothing could repair.

    ``vocab_hll_path`` (a sketch created by ``sketches.save_hll``)
    maintains a mergeable HyperLogLog of the DISTINCT TOKENS ingested so
    far — the "how big is the vocabulary now" statistic that would
    otherwise need a full corpus rescan. Appends are max-merges, so a
    replayed batch is absorbed exactly (idempotent regardless of crash
    point); the stored register table is ≤ 2^p rows, so the maintenance
    cost per batch is one tokenize + groupBy over the batch.

    ``doclen_hist_path`` (a histogram created by ``sketches.save_hist``;
    its stored geometry governs the bins) maintains the ingested
    DOCUMENT-LENGTH distribution in whitespace tokens: corpus length
    drift — a crawl source suddenly emitting stubs or mega-pages —
    shows up in the running quantiles without a rescan.
    Unlike the HLL, histogram appends ADD counts, so a replayed batch
    double-counts; the append therefore runs AFTER the minhash replay
    fence (exactly-once for fenced batches; a crash between fence and
    histogram append under-counts that one batch — the conservative
    direction for drift monitoring).

    ``doclen_tdigest_path`` (a digest created by ``tdigest.save_tdigest``)
    maintains the same document-length distribution as a merging
    t-digest — the range-FREE variant for when no length ceiling is
    declarable (the histogram clamps everything past its stored ``hi``
    into one overflow bin; the digest keeps resolving p99.9 as
    mega-pages appear). Digest weights ADD like histogram counts, so
    the append runs AFTER the minhash replay fence — same
    exactly-once-for-fenced-batches / rare-one-batch-under-count
    semantics, the conservative direction for drift monitoring.

    ``url_col`` switches on the URL gate — the cheapest screen a crawl
    has, so it runs FIRST (right after the replay fence, before even
    ``pre_screen``): the batch is deduplicated on
    ``curation.canonical_url`` (min-id survivor per canonical form —
    the same page under ``?utm_…``/``www.``/trailing-slash variants in
    one crawl file admits once, before any signature is computed), and
    with ``seen_urls_path`` ALSO set, canonical URLs already admitted
    by PREVIOUS batches are dropped (a plain-parquet canonical-URL set;
    the probe broadcasts the batch's distinct canonicals against it —
    the history-never-shuffles :func:`operators.curation.incremental_dedup`
    shape). Documents whose URL does not canonicalize (no scheme) pass
    — no evidence is not negative evidence; the content screens still
    see them. Admitted canonicals append to the store BEFORE the
    minhash fence: the store has existence semantics, so a replayed
    append is absorbed (duplicate rows change no verdict, and the
    compaction tick rewrites the store distinct); a crash that fences a
    batch before its URLs landed merely degrades those URLs' future
    re-fetches to the content screens. The URL gate screens REFETCHES
    of the same address; the near-dup index screens the same CONTENT
    under different addresses — a crawl wants both.

    ``pre_screen`` is the custom-screen hook: a callable
    ``batch_df -> batch_df`` applied after the replay fence and BEFORE
    the near-dup/bloom/NB work (cheapest-first — e.g.
    ``curation.content_term_filter(...).filter("content_keep")`` drops
    listed content before any signature is computed). The hook owns its
    own dead-lettering; whatever it returns is what the remaining
    screens see. It runs after the fence, so a replayed batch is not
    re-screened — the hook must be deterministic for the at-least-once
    contract to hold.

    ``docsample_kmv_path`` (a sketch created by ``sketches.save_kmv``)
    maintains a KMV bottom-k over ingested document ids — a UNIFORM
    random sample of everything admitted so far (hash order is
    value-blind), for spot-QA: join the sample ids back to the sink
    table to eyeball a representative slice of a month-old crawl
    without scanning it. KMV appends are idempotent (a replayed batch
    merges to the identical sketch), so this needs no fence either
    side.

    ``compact_every_n_batches`` is the small-file policy: every
    micro-batch append writes one file set per touched bucket, so a
    long-running crawl gate accumulates tiny parquet files without
    bound. With this set, every N-th batch (by the checkpointed,
    restart-stable ``batch_id``) runs the crash-safe compactions —
    ``dedup.minhash_index_compact`` and (when a BM25 index is attached)
    ``retrieval.bm25_index_compact`` — inside the single-writer stream,
    which also dedups any replay-doubled postings as a side effect.
    Compaction cost is a full index rewrite: size N so it amortizes
    (e.g. hourly for a minutely trigger), or leave ``None`` and schedule
    compaction externally during quiet windows.
    """

    if quality_model_path is not None and not quality_keep_labels:
        raise DVConfigurationError(
            "neardup_stream_processor: quality_model_path requires "
            "non-empty quality_keep_labels"
        )
    if lang_model_path is not None and not lang_keep:
        raise DVConfigurationError(
            "neardup_stream_processor: lang_model_path requires a "
            "non-empty lang_keep list — a language screen with no "
            "admitted languages drops everything"
        )

    def process(batch_df, batch_id: int) -> None:
        from mallarddv_spark.operators import dedup
        from mallarddv_spark.operators.graph import dedup_assign

        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([id_col]).localCheckpoint(eager=True)
        # open the index through its params FIRST — that heals any
        # compaction interrupted mid-swap, so the sigs read below always
        # resolves a complete directory (reading sigs before healing
        # would wedge the stream after a crashed compact: every restart
        # fails on the missing path before reaching the heal)
        p = dedup._minhash_index_params(spark, index_path)
        # replay fence: ids in sigs (the index's LAST append) were fully
        # processed
        seen = spark.read.parquet(f"{index_path}/sigs").select(
            F.col("doc_id").alias(id_col)
        )
        batch = batch.join(seen, id_col, "left_anti")
        if url_col is not None:
            from mallarddv_spark.operators.curation import (
                canonical_url,
                url_dedup,
            )
            from mallarddv_spark.sources import layout

            # in-batch canonical-URL dedup (min-id survivor; NULL
            # canonicals — non-URLs — always pass)
            uv = url_dedup(batch, id_col, url_col)
            batch = batch.join(
                uv.filter("NOT keep").select(F.col("id").alias(id_col)),
                id_col, "left_anti",
            )
            if seen_urls_path is not None:
                layout.heal_dir_swap(spark, seen_urls_path)
                fs, live = layout.dir_fs(spark, seen_urls_path)
                if fs.exists(live):
                    canon = (
                        batch.select(
                            canonical_url(url_col).alias("canonical_url")
                        )
                        .filter(F.col("canonical_url").isNotNull())
                        .distinct()
                    )
                    # probe the (unboundedly growing) store with the
                    # broadcast batch canonicals — the store never
                    # shuffles; matched set is <= |batch|
                    hits = (
                        spark.read.parquet(seen_urls_path)
                        .join(F.broadcast(canon), "canonical_url")
                        .distinct()
                        .withColumnRenamed("canonical_url", "__cu")
                    )
                    batch = (
                        batch.withColumn(
                            "__cu", canonical_url(url_col)
                        )
                        .join(hits, "__cu", "left_anti")
                        .drop("__cu")
                    )
            batch = batch.localCheckpoint(eager=True)
        if pre_screen is not None:
            # cheapest-first: custom screens (e.g. the C4 term filter)
            # drop documents BEFORE the minhash/bloom/NB work is paid;
            # after the fence so replays are not re-screened
            batch = pre_screen(batch).localCheckpoint(eager=True)
        # within-batch near-dups (same params as the stored index)
        self_pairs = dedup.minhash_lsh_pairs(
            batch, id_col, text_col,
            num_perm=p["num_perm"], bands=p["bands"],
            shingle_size=p["shingle_size"], threshold=threshold,
            max_shingle_df=p["max_shingle_df"], hash_mode=p["hash_mode"],
        )
        verdicts = dedup_assign(batch, id_col, self_pairs)
        batch = batch.join(
            verdicts.filter("NOT keep").select(F.col("id").alias(id_col)),
            id_col, "left_anti",
        ).localCheckpoint(eager=True)
        hits = dedup.neardup_against_index(
            batch, index_path, id_col, text_col, threshold
        )
        dup_ids = hits.select(F.col("new_id").alias(id_col)).distinct()
        fresh = batch.join(dup_ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        if contamination_bloom_path is not None:
            from mallarddv_spark.functions.bloom import heal_bloom
            from mallarddv_spark.operators.curation import (
                decontaminate_with_bloom,
            )

            # a bloom_append killed mid-swap must not dark the screen:
            # resolve any torn staged-rename before reading the filter
            heal_bloom(spark, contamination_bloom_path)
            verdicts = decontaminate_with_bloom(
                fresh, spark.read.parquet(contamination_bloom_path),
                id_col, text_col,
            )
            dirty = verdicts.filter("contaminated")
            if contamination_table is not None:
                dirty.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).saveAsTable(contamination_table)
                _refresh_after_batch_write(spark, contamination_table)
            fresh = fresh.join(
                dirty.select(F.col("doc_id").alias(id_col)),
                id_col, "left_anti",
            ).localCheckpoint(eager=True)
        if quality_model_path is not None:
            from mallarddv_spark.operators.curation import (
                load_nb_classifier,
                nb_classify,
            )

            nb = load_nb_classifier(spark, quality_model_path)
            preds = nb_classify(fresh, id_col, text_col, nb)
            rejects = preds.filter(
                ~F.col("predicted").isin(list(quality_keep_labels))
            )
            if quality_table is not None:
                rejects.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).saveAsTable(quality_table)
                _refresh_after_batch_write(spark, quality_table)
            fresh = fresh.join(
                rejects.select(F.col("doc_id").alias(id_col)),
                id_col, "left_anti",
            ).localCheckpoint(eager=True)
        if lr_model_path is not None:
            from mallarddv_spark.operators.curation import (
                load_lr_classifier,
                lr_classify,
            )

            lrm = load_lr_classifier(spark, lr_model_path)
            lr_rejects = lr_classify(fresh, id_col, text_col, lrm).filter(
                F.col("score") < F.lit(float(lr_min_score))
            )
            if lr_quality_table is not None:
                lr_rejects.withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").saveAsTable(lr_quality_table)
                _refresh_after_batch_write(spark, lr_quality_table)
            fresh = fresh.join(
                lr_rejects.select(F.col("doc_id").alias(id_col)),
                id_col, "left_anti",
            ).localCheckpoint(eager=True)
        if lang_model_path is not None:
            from mallarddv_spark.operators.curation import (
                lang_classify,
                load_softmax_classifier,
            )

            smm = load_softmax_classifier(spark, lang_model_path)
            unknown = [c for c in lang_keep if c not in smm["classes"]]
            if unknown:
                raise DVConfigurationError(
                    f"neardup_stream_processor: lang_keep entries "
                    f"{unknown} are not classes of the stored model "
                    f"({smm['classes']})"
                )
            lang_rejects = lang_classify(
                fresh, id_col, text_col, smm
            ).filter(~F.col("lang").isin([str(c) for c in lang_keep]))
            if lang_table is not None:
                lang_rejects.withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").saveAsTable(lang_table)
                _refresh_after_batch_write(spark, lang_table)
            fresh = fresh.join(
                lang_rejects.select(F.col("doc_id").alias(id_col)),
                id_col, "left_anti",
            ).localCheckpoint(eager=True)
        if not fresh.isEmpty():
            fresh.write.mode("append").saveAsTable(sink_table)
            _refresh_after_batch_write(spark, sink_table)
            # BM25 BEFORE minhash: the minhash append is the replay
            # fence, so anything that must happen at least once per
            # batch has to precede it (see the docstring's crash table)
            if bm25_index_path is not None:
                from mallarddv_spark.operators.retrieval import (
                    bm25_index_append,
                )

                bm25_index_append(fresh, bm25_index_path, text_col)
            if vocab_hll_path is not None:
                from mallarddv_spark.functions.sketches import hll_append

                toks = fresh.select(
                    F.explode(
                        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
                    ).alias("tok")
                ).filter(F.col("tok") != "")
                hll_append(toks, vocab_hll_path, "tok")
            if docsample_kmv_path is not None:
                # KMV appends are IDEMPOTENT (value dedup absorbs a
                # replayed batch), so like the HLL this can safely run
                # before the fence
                from mallarddv_spark.functions.sketches import kmv_append

                kmv_append(fresh, docsample_kmv_path, id_col)
            if url_col is not None and seen_urls_path is not None:
                # BEFORE the fence: the store has existence semantics
                # (duplicate rows change no verdict; compact dedups),
                # so a replayed append self-absorbs — and fencing a
                # batch whose URLs never landed would permanently skip
                # them (the BM25-ordering argument)
                from mallarddv_spark.operators.curation import (
                    canonical_url,
                )

                (
                    fresh.select(
                        canonical_url(url_col).alias("canonical_url")
                    )
                    .filter(F.col("canonical_url").isNotNull())
                    .distinct()
                    .write.mode("append")
                    .parquet(seen_urls_path)
                )
            dedup.minhash_index_append(fresh, index_path, id_col, text_col)
            if doclen_hist_path is not None:
                # AFTER the fence: histogram counts ADD (a replayed
                # batch would double-count); post-fence placement trades
                # that for a rare one-batch under-count on crash — the
                # conservative direction for drift monitoring
                from mallarddv_spark.functions.sketches import hist_append

                lens = fresh.select(
                    F.size(
                        F.split(F.trim(F.col(text_col)), r"\s+")
                    ).cast("double").alias("len")
                )
                hist_append(lens, doclen_hist_path, "len")
            if doclen_tdigest_path is not None:
                # AFTER the fence, like the histogram: digest weights
                # ADD, so the fence is what makes appends exactly-once
                from mallarddv_spark.functions.tdigest import (
                    tdigest_append,
                )

                lens = fresh.select(
                    F.size(
                        F.split(F.trim(F.col(text_col)), r"\s+")
                    ).cast("double").alias("len")
                )
                tdigest_append(lens, doclen_tdigest_path, "len")
        if (
            compact_every_n_batches is not None
            and (batch_id + 1) % int(compact_every_n_batches) == 0
        ):
            dedup.minhash_index_compact(spark, index_path)
            if bm25_index_path is not None:
                from mallarddv_spark.operators.retrieval import (
                    bm25_index_compact,
                )

                bm25_index_compact(spark, bm25_index_path)
            if url_col is not None and seen_urls_path is not None:
                # crash-safe distinct rewrite: dedups replay-doubled
                # rows and collapses the per-batch small files
                from mallarddv_spark.sources import layout

                layout.heal_dir_swap(spark, seen_urls_path)
                fs, live = layout.dir_fs(spark, seen_urls_path)
                if fs.exists(live):
                    # distinct keeps the shuffle's parallelism — the
                    # canonical-URL set is corpus-sized, never a
                    # single-file table
                    (
                        spark.read.parquet(seen_urls_path)
                        .distinct()
                        .write.mode("overwrite")
                        .parquet(seen_urls_path + "__compact")
                    )
                    layout.swap_dir_live(spark, seen_urls_path)

    return process
