"""Structured-Streaming tests: windowed aggregation parity with the batch
twin, and micro-batch DV ingestion via foreachBatch."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mallarddv_spark.api import MallardSparkVault
from mallarddv_spark.sources.catalog import drop_vault
from mallarddv_spark.streaming import ingest
from mallarddv_spark.suite import read_events

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
SF = "/root/testdata/sf0.001"


def test_streaming_dv_ingestion(spark, tmp_path):
    """File stream → foreachBatch running the vault flow: the anti-join
    load protocol absorbs micro-batch replays idempotently."""
    drop_vault(spark)
    vault = MallardSparkVault(spark)
    assert vault.init_vault(
        os.path.join(FIXTURES, "tables.csv"),
        os.path.join(FIXTURES, "transitions.csv"),
    ) == []

    src = str(tmp_path / "landing")
    os.makedirs(src)
    shutil.copy(os.path.join(FIXTURES, "customer.csv"), src)

    from mallarddv_spark.sources.readers import staging_schema
    from mallarddv_spark.plans.model import fetch_table_columns

    cols = fetch_table_columns(spark, "metadata", base_name="customer", rel_type="stg")
    schema = staging_schema(cols, "customer")

    def process(batch_df, batch_id):
        batch_df.write.mode("overwrite").insertInto("stg.customer", overwrite=True)
        errs = vault.execute_flow(
            "customer", "stream", load_date_overwrite="2025-06-01 00:00:00"
        )
        assert errs == []

    q = ingest.stream_files_to_staging(
        spark, src, schema, str(tmp_path / "ckpt2"), process, file_format="csv"
    )
    q.awaitTermination(120)

    assert spark.table("dv.hub_customer").count() == 3  # 2 keys + NULL ghost
    assert spark.table("dv.hsat_customer_details").count() == 2


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (purchase attribution) must
    emit exactly the batch twin's pairs — including pairs whose click and
    purchase arrive in different micro-batches (buffered join state). The
    test watermark is generous so no state is evicted before pairing."""
    from mallarddv_spark.streaming.joins import purchase_attribution

    events = read_events(spark, SF).filter("user_id < 30").select(
        "event_id", "user_id", "ts", "event_type"
    )
    src = str(tmp_path / "attr_src")
    # time-split micro-batches so click→purchase pairs straddle the boundary
    cut = "2024-01-16 00:00:00"
    events.filter(f"ts < timestamp'{cut}'").coalesce(1).write.parquet(f"{src}/b0")
    events.filter(f"ts >= timestamp'{cut}'").coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        purchase_attribution(stream, lookback="1 hour", watermark="100 hours")
        .writeStream.format("memory")
        .queryName("attributed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.purchase_id, r.click_id, r.latency_sec)
        for r in spark.table("attributed").collect()
    }
    expected = {
        (r.purchase_id, r.click_id, r.latency_sec)
        for r in purchase_attribution(events, lookback="1 hour").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_neardup_stream_heals_torn_index(spark, tmp_path):
    """A compaction crash between rename-out and rename-in leaves the
    index's sigs dir absent with only the __pre_compact backup. The
    stream processor must heal-on-open BEFORE its replay-fence read of
    sigs, or every restart dies on the missing path."""
    import os as _os

    from mallarddv_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(
        docs.filter("doc_id < 100"), index_path,
        num_perm=32, bands=8, shingle_size=3,
    )
    # simulate the torn mid-swap state
    _os.rename(f"{index_path}/sigs", f"{index_path}/sigs__pre_compact")
    spark.sql("DROP TABLE IF EXISTS default.heal_sink")

    src = str(tmp_path / "crawl")
    batch = docs.filter("doc_id >= 400 AND doc_id < 410")
    batch.coalesce(1).write.parquet(f"{src}/f1")
    process = ingest.neardup_stream_processor(
        index_path, "default.heal_sink", threshold=0.9
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch.schema, str(tmp_path / "ck"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    assert spark.table("default.heal_sink").count() > 0
    # the backup was restored and the batch appended on top of it
    assert spark.read.parquet(f"{index_path}/sigs").count() > 100
    spark.sql("DROP TABLE IF EXISTS default.heal_sink")


def test_neardup_stream_replays_batch_torn_between_index_appends(
    spark, tmp_path, monkeypatch
):
    """A kill between the MinHash index's two appends must not fence the
    batch out of its replay. The stream's replay fence reads ``sigs``, so
    ``sigs`` is written last: with the ``bands`` write failing, the replay
    re-admits the batch and every admitted document ends up probeable."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mallarddv_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(
        docs.filter("doc_id < 100"), index_path,
        num_perm=32, bands=8, shingle_size=3,
    )
    spark.sql("DROP TABLE IF EXISTS default.fence_sink")
    batch = docs.filter("doc_id >= 400 AND doc_id < 410").localCheckpoint()
    process = ingest.neardup_stream_processor(
        index_path, "default.fence_sink", threshold=0.9
    )

    real_parquet = DataFrameWriter.parquet

    def bands_write_dies(self, path, *a, **k):
        if path.endswith("/bands"):
            raise RuntimeError("killed before the bands append")
        return real_parquet(self, path, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", bands_write_dies)
        with pytest.raises(RuntimeError, match="bands append"):
            process(batch, 0)

    process(batch, 0)  # the replay after restart

    def ids(sub):
        return {
            r.doc_id
            for r in spark.read.parquet(f"{index_path}/{sub}")
            .filter("doc_id >= 400").select("doc_id").distinct().collect()
        }

    admitted = {r.doc_id for r in spark.table("default.fence_sink").collect()}
    assert admitted
    assert ids("bands") == ids("sigs") == admitted
    spark.sql("DROP TABLE IF EXISTS default.fence_sink")


def test_refresh_after_batch_write_logs_missing_table(spark, caplog):
    """A refresh that fails (the table is not in that session's catalog)
    does not fail the batch, and is logged at debug level, not dropped."""
    import logging

    caplog.set_level(logging.DEBUG, logger="mallarddv_spark.streaming")
    ingest._refresh_after_batch_write(spark, "default.no_such_refresh_tbl")
    hits = [r for r in caplog.records
            if "no_such_refresh_tbl" in r.getMessage()]
    assert hits and hits[0].levelno == logging.DEBUG and hits[0].exc_info


def test_neardup_stream_contamination_gate(spark, tmp_path):
    """The crawl processor's optional decontamination screen: documents
    sharing 5-grams with the stored benchmark filter are dropped at
    ingest and recorded; clean documents flow through to sink + index."""
    from pyspark.sql import functions as F

    from mallarddv_spark.functions import bloom as B
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.curation import build_benchmark_bloom

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(
        docs.filter("doc_id < 100"), index_path,
        num_perm=32, bands=8, shingle_size=3,
    )
    # benchmark = one specific crawl doc's text → that doc must be caught
    bench = docs.filter("doc_id = 420")
    bloom_path = str(tmp_path / "bench_bloom")
    B.save_bloom(
        build_benchmark_bloom(bench, "doc_id", "text", shingle_size=5),
        bloom_path,
    )
    spark.sql("DROP TABLE IF EXISTS default.gate_sink")
    spark.sql("DROP TABLE IF EXISTS default.gate_dirty")

    src = str(tmp_path / "crawl")
    batch = docs.filter("doc_id >= 400 AND doc_id < 430")
    batch.coalesce(1).write.parquet(f"{src}/f1")
    process = ingest.neardup_stream_processor(
        index_path, "default.gate_sink", threshold=0.9,
        contamination_bloom_path=bloom_path,
        contamination_table="default.gate_dirty",
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch.schema, str(tmp_path / "ck"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    sink_ids = {r.doc_id for r in spark.table("default.gate_sink").collect()}
    dirty = {r.doc_id: r for r in spark.table("default.gate_dirty").collect()}
    assert 420 not in sink_ids and 420 in dirty
    assert dirty[420].n_hit_shingles > 0
    assert len(sink_ids) > 0
    # contaminated docs never reach the index either
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{index_path}/sigs")
        .select("doc_id").collect()
    }
    assert 420 not in idx_ids and sink_ids <= idx_ids
    spark.sql("DROP TABLE IF EXISTS default.gate_sink")
    spark.sql("DROP TABLE IF EXISTS default.gate_dirty")


def test_neardup_stream_processor(spark, tmp_path):
    """Continuous-crawl near-dup gate: batch 1's fresh docs land in the
    sink AND the index; batch 2 (same texts under new ids) is dropped
    entirely because batch 1 is now part of the index."""
    from pyspark.sql import functions as F

    from mallarddv_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(
        docs.filter("doc_id < 200"), index_path,
        num_perm=32, bands=8, shingle_size=3,
    )
    spark.sql("DROP TABLE IF EXISTS default.crawl_sink")

    src = str(tmp_path / "crawl")
    batch1 = docs.filter("doc_id >= 400 AND doc_id < 450")
    batch1.coalesce(1).write.parquet(f"{src}/f1")

    process = ingest.neardup_stream_processor(
        index_path, "default.crawl_sink", threshold=0.9
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch1.schema, str(tmp_path / "ck1"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    n1 = spark.table("default.crawl_sink").count()
    assert n1 > 0
    idx_n = spark.read.parquet(f"{index_path}/sigs").count()
    assert idx_n == 200 + n1  # survivors joined the index

    # replayed batch (fresh checkpoint forces reprocessing of f1): the
    # already-in-index id fence makes it a strict no-op
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch1.schema, str(tmp_path / "ck_replay"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    assert spark.table("default.crawl_sink").count() == n1
    assert spark.read.parquet(f"{index_path}/sigs").count() == idx_n

    # batch 2: identical texts under shifted ids → all near-dups now;
    # PLUS the same new doc under two ids in ONE batch → admits once
    batch1.withColumn("doc_id", F.col("doc_id") + 100000).coalesce(1).write.parquet(
        f"{src}/f2"
    )
    unique_text = " ".join(f"zq{i}xv" for i in range(40))  # novel tokens
    novel = spark.createDataFrame(
        [(900001, unique_text, "en", "synthetic", len(unique_text)),
         (900002, unique_text, "en", "synthetic", len(unique_text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).select(*batch1.columns)
    novel.coalesce(1).write.parquet(f"{src}/f3")
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch1.schema, str(tmp_path / "ck1"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    sink = spark.table("default.crawl_sink")
    # shifted copies all dropped; the twin novel doc admitted exactly once
    new_rows = sink.filter("doc_id >= 900000").collect()
    assert len(new_rows) == 1, [r.doc_id for r in new_rows]
    assert sink.count() == n1 + 1

    spark.sql("DROP TABLE IF EXISTS default.crawl_sink")


def test_neardup_stream_quality_gate(spark, tmp_path):
    """The crawl processor's optional quality screen: a stored NB model
    (trained on separable vocabularies) classifies each batch; documents
    predicted outside quality_keep_labels are dropped at ingest and
    recorded; empty docs pass (no evidence is not negative evidence)."""
    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.curation import (
        save_nb_classifier,
        train_nb_classifier,
    )

    train = spark.createDataFrame(
        [Row(doc_id=i, label="good",
             text="insightful thorough analysis prose reasoning " * 3)
         for i in range(10)]
        + [Row(doc_id=100 + i, label="spam",
               text="buy cheap pills casino winner click " * 3)
           for i in range(10)]
    )
    nb = train_nb_classifier(train, "label", "text", buckets=512)
    model_path = str(tmp_path / "nb_model")
    save_nb_classifier(nb, model_path)

    seed = spark.createDataFrame(
        [Row(doc_id=1, text="completely unrelated seed document content")]
    )
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    spark.sql("DROP TABLE IF EXISTS default.q_sink")
    spark.sql("DROP TABLE IF EXISTS default.q_rejects")

    batch = spark.createDataFrame(
        [Row(doc_id=500, text="thorough insightful reasoning and analysis"),
         Row(doc_id=501, text="casino winner buy cheap pills now"),
         Row(doc_id=502, text="")]
    )
    src = str(tmp_path / "crawl")
    batch.coalesce(1).write.parquet(f"{src}/f1")
    process = ingest.neardup_stream_processor(
        index_path, "default.q_sink", threshold=0.9,
        quality_model_path=model_path,
        quality_keep_labels=["good"],
        quality_table="default.q_rejects",
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch.schema, str(tmp_path / "ck"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    sink_ids = {r.doc_id for r in spark.table("default.q_sink").collect()}
    rejects = {r.doc_id: r for r in spark.table("default.q_rejects").collect()}
    assert 500 in sink_ids           # classified good
    assert 501 not in sink_ids and 501 in rejects
    assert rejects[501].predicted == "spam"
    assert 502 in sink_ids           # empty doc: no prediction, passes
    # rejected docs never reach the index either
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{index_path}/sigs")
        .select("doc_id").collect()
    }
    assert 501 not in idx_ids
    spark.sql("DROP TABLE IF EXISTS default.q_sink")
    spark.sql("DROP TABLE IF EXISTS default.q_rejects")


def test_quality_gate_requires_keep_labels(spark, tmp_path):
    from mallarddv_spark.exceptions import DVConfigurationError

    with pytest.raises(DVConfigurationError, match="quality_keep_labels"):
        ingest.neardup_stream_processor(
            str(tmp_path / "idx"), "default.x",
            quality_model_path=str(tmp_path / "m"),
        )


def test_neardup_stream_maintains_bm25_index(spark, tmp_path):
    """With bm25_index_path set, batch survivors also append to the
    stored BM25 inverted index — the ingested corpus stays searchable."""
    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.retrieval import (
        bm25_index_probe,
        build_bm25_index,
    )

    seed = spark.createDataFrame(
        [Row(doc_id=1, text="completely unrelated seed document content")]
    )
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    bm25_path = str(tmp_path / "bm25_idx")
    build_bm25_index(seed, bm25_path)
    spark.sql("DROP TABLE IF EXISTS default.b_sink")

    batch = spark.createDataFrame(
        [Row(doc_id=500, text="zebra quagga zebra unique tokens"),
         Row(doc_id=500, text="zebra quagga zebra unique tokens"),  # in-batch dup
         Row(doc_id=501, text="plain other words entirely")]
    )
    src = str(tmp_path / "crawl")
    batch.coalesce(1).write.parquet(f"{src}/f1")
    process = ingest.neardup_stream_processor(
        index_path, "default.b_sink", threshold=0.9,
        bm25_index_path=bm25_path,
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch.schema, str(tmp_path / "ck"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    queries = spark.createDataFrame([Row(query_id="z", query="zebra quagga")])
    hits = bm25_index_probe(spark, bm25_path, queries, k=3).collect()
    assert [r.doc_id for r in hits] == [500]
    # dup row collapsed before the append: tf must reflect ONE copy
    post = spark.read.parquet(f"{bm25_path}/postings")
    tf = {r.term: r.tf for r in post.filter("doc_id = 500").collect()}
    assert tf["zebra"] == 2 and tf["quagga"] == 1
    # totals swapped in: 1 seed doc + 2 survivors
    params = spark.read.parquet(f"{bm25_path}/params").first()
    assert params.n_docs == 3
    spark.sql("DROP TABLE IF EXISTS default.b_sink")


def test_neardup_stream_auto_compact_policy(spark, tmp_path):
    """compact_every_n_batches: every N-th batch runs the crash-safe
    minhash + BM25 compactions inside the single-writer stream, bounding
    the small-file accumulation of per-batch appends. After the policy
    fires, each tbucket directory holds ONE file and probes still equal
    an inline rebuild over everything ingested."""
    import glob

    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.retrieval import (
        bm25_index_probe,
        bm25_topk,
        build_bm25_index,
    )

    seed = spark.createDataFrame(
        [Row(doc_id=1, text="completely unrelated seed document content")]
    )
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    bm25_path = str(tmp_path / "bm25_idx")
    build_bm25_index(seed, bm25_path, term_buckets=8)
    spark.sql("DROP TABLE IF EXISTS default.ac_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.ac_sink", threshold=0.9,
        bm25_index_path=bm25_path, compact_every_n_batches=2,
    )
    batches = [
        spark.createDataFrame(
            [Row(doc_id=500 + 2 * i, text=f"alpha{i} beta{i} gamma shared"),
             Row(doc_id=501 + 2 * i, text=f"delta{i} epsilon{i} words")]
        )
        for i in range(4)
    ]
    for i, b in enumerate(batches):
        process(b, i)  # batch_ids 0..3 → compactions after 1 and 3

    # the final batch triggered a compact: one file per tbucket dir
    for bucket_dir in glob.glob(f"{bm25_path}/postings/tbucket=*"):
        files = glob.glob(f"{bucket_dir}/*.parquet")
        assert len(files) == 1, (bucket_dir, files)

    # probes still match an inline rebuild over seed + every survivor
    everything = seed.unionByName(batches[0])
    for b in batches[1:]:
        everything = everything.unionByName(b)
    queries = spark.createDataFrame(
        [Row(query_id="g", query="gamma shared"),
         Row(query_id="w", query="words")]
    )
    got = [
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_index_probe(spark, bm25_path, queries, k=10)
        .orderBy("query_id", "rnk").collect()
    ]
    want = [
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(everything, queries, k=10)
        .orderBy("query_id", "rnk").collect()
    ]
    assert got == want and len(got) > 0
    # minhash index was compacted too and still holds every survivor
    sig_ids = {r.doc_id for r in
               spark.read.parquet(f"{index_path}/sigs").collect()}
    assert sig_ids == {1} | {500 + i for i in range(8)}
    spark.sql("DROP TABLE IF EXISTS default.ac_sink")


def test_neardup_stream_maintains_vocab_hll(spark, tmp_path):
    """vocab_hll_path: each batch's distinct tokens max-merge into the
    stored sketch; after N batches the estimate equals a one-shot sketch
    over everything the sink accepted (replays absorbed)."""
    from pyspark.sql import Row
    from mallarddv_spark.functions import sketches as sk
    from mallarddv_spark.operators import dedup

    seed = spark.createDataFrame(
        [Row(doc_id=1, text="seed alpha beta")]
    )
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    hll_path = str(tmp_path / "vocab_hll")
    seed_toks = seed.selectExpr(
        "explode(split(trim(lower(text)), '\\\\s+')) AS tok"
    )
    sk.save_hll(sk.hll_registers(seed_toks, "tok", p=12, hash_mode="md5"),
                hll_path, p=12, hash_mode="md5")
    spark.sql("DROP TABLE IF EXISTS default.vh_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.vh_sink", threshold=0.9,
        vocab_hll_path=hll_path,
    )
    batches = [
        spark.createDataFrame(
            [Row(doc_id=500 + i, text=f"tok{i}a tok{i}b shared corpus")]
        )
        for i in range(3)
    ]
    for i, b in enumerate(batches):
        process(b, i)
    process(batches[1], 99)  # replay of an already-ingested batch

    everything = seed
    for b in batches:
        everything = everything.unionByName(b)
    one = sk.hll_registers(
        everything.selectExpr(
            "explode(split(trim(lower(text)), '\\\\s+')) AS tok"
        ),
        "tok", p=12, hash_mode="md5",
    )
    stored, params = sk.load_hll(spark, hll_path)
    assert params["hash_mode"] == "md5"
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, one.collect())
    )
    est = sk.hll_estimate(stored, p=12).first().est_distinct
    # 3 + 2*3 + 2 shared tokens = 11 distinct; tiny range → near-exact
    assert abs(est - 11) < 2, est
    spark.sql("DROP TABLE IF EXISTS default.vh_sink")


def test_neardup_stream_maintains_doclen_hist(spark, tmp_path):
    """doclen_hist_path: each fenced batch's token-length distribution
    sum-merges into the stored histogram; quantiles over the stored
    state reflect everything ingested."""
    from pyspark.sql import Row
    from mallarddv_spark.functions import sketches as sk
    from mallarddv_spark.operators import dedup

    seed = spark.createDataFrame([Row(doc_id=1, text="seed alpha beta")])
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    hist_path = str(tmp_path / "len_hist")
    seed_lens = seed.selectExpr(
        "cast(size(split(trim(text), '\\\\s+')) as double) AS len"
    )
    sk.save_hist(sk.hist_counts(seed_lens, "len", lo=0.0, hi=64.0,
                                n_bins=64), hist_path, 0.0, 64.0, 64)
    spark.sql("DROP TABLE IF EXISTS default.dh_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.dh_sink", threshold=0.9,
        doclen_hist_path=hist_path,
    )
    batches = [
        spark.createDataFrame(
            [Row(doc_id=500 + i, text=" ".join(f"u{i}w{j}" for j in range(4 + i)))]
        )
        for i in range(3)
    ]
    for i, b in enumerate(batches):
        process(b, i)
    stored, params = sk.load_hist(spark, hist_path)
    assert params == {"lo": 0.0, "hi": 64.0, "n_bins": 64}
    # lengths ingested: 3 (seed) + 4, 5, 6 → N=4, median between 4 and 5
    total = stored.agg({"cnt": "sum"}).first()[0]
    assert total == 4
    q = sk.hist_quantiles(stored, 0.0, 64.0, 64, [0.5]).first().est
    assert 4.0 <= q <= 6.0, q
    spark.sql("DROP TABLE IF EXISTS default.dh_sink")


def test_neardup_stream_maintains_doc_sample_kmv(spark, tmp_path):
    """docsample_kmv_path: each batch's admitted ids merge into the
    stored bottom-k — after N batches (including a replay, absorbed by
    KMV idempotence) the stored sketch equals a one-shot sketch over
    every id the sink accepted, and joining the sample back to the sink
    yields a readable document slice."""
    from pyspark.sql import Row
    from mallarddv_spark.functions import sketches as sk
    from mallarddv_spark.operators import dedup

    seed = spark.createDataFrame([Row(doc_id=1, text="seed alpha beta")])
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    kmv_path = str(tmp_path / "doc_sample")
    sk.save_kmv(sk.kmv_sketch(seed, "doc_id", k=64), kmv_path,
                k=64, hash_mode="md5")
    spark.sql("DROP TABLE IF EXISTS default.ks_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.ks_sink", threshold=0.9,
        docsample_kmv_path=kmv_path,
    )
    batches = [
        spark.createDataFrame(
            [Row(doc_id=500 + 10 * i + j, text=f"doc {i} {j} words here")
             for j in range(3)]
        )
        for i in range(3)
    ]
    for i, b in enumerate(batches):
        process(b, i)
    process(batches[1], 99)  # replay — must be absorbed

    everything = seed
    for b in batches:
        everything = everything.unionByName(b)
    one = sk.kmv_sketch(everything, "doc_id", k=64)
    stored, params = sk.load_kmv(spark, kmv_path)
    assert params == {"k": 64, "hash_mode": "md5"}
    as_rows = lambda d: sorted((r.rnk, r.h, r.val) for r in d.collect())
    assert as_rows(stored) == as_rows(one)
    # the QA join: sample ids → sink documents
    sample_docs = spark.table("default.ks_sink").join(
        stored.selectExpr("cast(val as bigint) AS doc_id"), "doc_id"
    )
    assert sample_docs.count() == 9  # all ingested ids (k=64 > corpus)
    spark.sql("DROP TABLE IF EXISTS default.ks_sink")


def test_neardup_stream_pre_screen_hook(spark, tmp_path):
    """pre_screen: a C4-style content screen drops listed documents
    BEFORE the near-dup/index work; survivors flow through, screened
    ids reach neither sink nor index."""
    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.curation import content_term_filter

    seed = spark.createDataFrame([Row(doc_id=1, text="seed alpha beta")])
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    spark.sql("DROP TABLE IF EXISTS default.ps_sink")

    def screen(batch):
        return content_term_filter(
            batch, "doc_id", "text", ["casino", "pills"]
        ).filter("content_keep").drop("term_hits", "content_keep")

    process = ingest.neardup_stream_processor(
        index_path, "default.ps_sink", threshold=0.9, pre_screen=screen,
    )
    batch = spark.createDataFrame(
        [Row(doc_id=500, text="useful unique words entirely here"),
         Row(doc_id=501, text="casino pills casino pills spam")]
    )
    process(batch, 0)
    sink_ids = {r.doc_id for r in spark.table("default.ps_sink").collect()}
    assert sink_ids == {500}
    indexed = {r.doc_id for r in spark.read.parquet(
        f"{index_path}/sigs").collect()}
    assert 501 not in indexed and 500 in indexed
    spark.sql("DROP TABLE IF EXISTS default.ps_sink")


def test_neardup_stream_url_gate(spark, tmp_path):
    """url_col + seen_urls_path: the same canonical URL admits once —
    within a batch (min-id survivor) AND across batches (seen-URL
    store probe); non-URL rows pass to the content screens; the
    compaction tick rewrites the store distinct; a replayed batch is a
    fence no-op."""
    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup

    seed = spark.createDataFrame([Row(doc_id=1, text="seed alpha beta")])
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    urls_path = str(tmp_path / "seen_urls")
    spark.sql("DROP TABLE IF EXISTS default.ug_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.ug_sink", threshold=0.9,
        url_col="url", seen_urls_path=urls_path,
        compact_every_n_batches=2,
    )
    b0 = spark.createDataFrame([
        # 500/501: same canonical URL (utm + www + port variants),
        # different text — min id survives the in-batch URL dedup
        Row(doc_id=500, text="first completely distinct words here",
            url="https://WWW.h.com:443/page?utm_source=x"),
        Row(doc_id=501, text="second unrelated body of other tokens",
            url="https://h.com/page"),
        # non-URL: passes the URL gate untouched
        Row(doc_id=502, text="third document no address given at all",
            url="not a url"),
    ])
    process(b0, 0)
    assert {r.doc_id for r in spark.table("default.ug_sink").collect()} == \
        {500, 502}
    stored = {r.canonical_url
              for r in spark.read.parquet(urls_path).collect()}
    assert stored == {"https://h.com/page"}
    # batch 1: new id + new text under the SAME canonical URL → dropped
    # by the seen-URL probe; a genuinely new URL admits
    b1 = spark.createDataFrame([
        Row(doc_id=600, text="fourth refetch with changed boilerplate",
            url="https://h.com/page?utm_campaign=y"),
        Row(doc_id=601, text="fifth page at a brand new address now",
            url="https://h.com/other"),
    ])
    process(b1, 1)  # batch_id 1 → compaction tick (every 2)
    sink = {r.doc_id for r in spark.table("default.ug_sink").collect()}
    assert sink == {500, 502, 601}
    stored = sorted(
        r.canonical_url for r in spark.read.parquet(urls_path).collect()
    )
    assert stored == ["https://h.com/other", "https://h.com/page"]
    # replay of batch 1: the minhash fence absorbs it entirely
    process(b1, 2)
    assert {r.doc_id
            for r in spark.table("default.ug_sink").collect()} == sink
    spark.sql("DROP TABLE IF EXISTS default.ug_sink")


def test_neardup_stream_maintains_doclen_tdigest(spark, tmp_path):
    """doclen_tdigest_path: each fenced batch's token lengths merge
    into the stored digest — range-free drift quantiles with exact
    total/min/max over everything ingested."""
    from pyspark.sql import Row
    from mallarddv_spark.functions import tdigest as td
    from mallarddv_spark.operators import dedup

    seed = spark.createDataFrame([Row(doc_id=1, text="seed alpha beta")])
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    td_path = str(tmp_path / "len_td")
    seed_lens = seed.selectExpr(
        "cast(size(split(trim(text), '\\\\s+')) as double) AS len"
    )
    td.save_tdigest(*td.tdigest_build(seed_lens, "len", delta=50),
                    path=td_path)
    spark.sql("DROP TABLE IF EXISTS default.td_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.td_sink", threshold=0.9,
        doclen_tdigest_path=td_path,
    )
    batches = [
        spark.createDataFrame(
            [Row(doc_id=700 + i,
                 text=" ".join(f"t{i}w{j}" for j in range(4 + i)))]
        )
        for i in range(3)
    ]
    for i, b in enumerate(batches):
        process(b, i)
    cents, params = td.load_tdigest(spark, td_path)
    # lengths ingested: 3 (seed) + 4, 5, 6
    assert params["total"] == 4.0
    assert params["min"] == 3.0 and params["max"] == 6.0
    q = td.tdigest_quantiles(cents, params, [0.5]).first().est
    assert 4.0 <= q <= 6.0, q
    spark.sql("DROP TABLE IF EXISTS default.td_sink")


def test_neardup_stream_url_store_heals_torn_compact(spark, tmp_path):
    """A compaction swap of the seen-URL store killed mid-rename (staged
    copy written, live still present — the staged+live torn state) must
    heal on the next batch's probe instead of double-counting or
    wedging the stream."""
    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup

    seed = spark.createDataFrame([Row(doc_id=1, text="seed alpha beta")])
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    urls_path = str(tmp_path / "seen_urls")
    spark.sql("DROP TABLE IF EXISTS default.uh_sink")

    process = ingest.neardup_stream_processor(
        index_path, "default.uh_sink", threshold=0.9,
        url_col="url", seen_urls_path=urls_path,
    )
    b0 = spark.createDataFrame(
        [Row(doc_id=800, text="totally original first content",
             url="https://h.com/a")]
    )
    process(b0, 0)
    # fake the torn state: a staged compact copy alongside the live dir
    spark.read.parquet(urls_path).distinct().write.parquet(
        urls_path + "__compact"
    )
    # next batch: heal must drain the staged dir, then the probe must
    # still drop the refetch and admit the new address
    b1 = spark.createDataFrame([
        Row(doc_id=801, text="second unrelated words entirely",
            url="https://h.com/a?utm_source=x"),
        Row(doc_id=802, text="third body of fresh other tokens",
            url="https://h.com/b"),
    ])
    process(b1, 1)
    import os
    assert not os.path.exists(urls_path + "__compact")
    sink = {r.doc_id for r in spark.table("default.uh_sink").collect()}
    assert sink == {800, 802}
    stored = sorted(r.canonical_url
                    for r in spark.read.parquet(urls_path).collect())
    assert stored == ["https://h.com/a", "https://h.com/b"]
    spark.sql("DROP TABLE IF EXISTS default.uh_sink")


def test_neardup_stream_lr_quality_gate(spark, tmp_path):
    """The crawl processor's trained-LR quality screen: a stored
    logistic-regression model scores each batch; documents below
    lr_min_score are dropped at ingest and recorded with their score."""
    from pyspark.sql import Row
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.curation import (
        save_lr_classifier,
        train_lr_classifier,
    )

    train = spark.createDataFrame(
        [Row(doc_id=i, y=1,
             text="insightful thorough analysis prose reasoning " * 3)
         for i in range(12)]
        + [Row(doc_id=100 + i, y=0,
               text="buy cheap pills casino winner click " * 3)
           for i in range(12)]
    )
    model = train_lr_classifier(train, "y", "text", buckets=512, iters=25)
    model_path = str(tmp_path / "lr_model")
    save_lr_classifier(model, model_path)

    seed = spark.createDataFrame(
        [Row(doc_id=1, text="completely unrelated seed document content")]
    )
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    spark.sql("DROP TABLE IF EXISTS default.lrq_sink")
    spark.sql("DROP TABLE IF EXISTS default.lrq_rejects")

    batch = spark.createDataFrame(
        [Row(doc_id=500, text="thorough insightful reasoning and analysis"),
         Row(doc_id=501, text="casino winner buy cheap pills now")]
    )
    src = str(tmp_path / "crawl")
    batch.coalesce(1).write.parquet(f"{src}/f1")
    process = ingest.neardup_stream_processor(
        index_path, "default.lrq_sink", threshold=0.9,
        lr_model_path=model_path,
        lr_min_score=0.5,
        lr_quality_table="default.lrq_rejects",
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch.schema, str(tmp_path / "ck"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    sink_ids = {r.doc_id for r in spark.table("default.lrq_sink").collect()}
    rejects = {r.doc_id: r
               for r in spark.table("default.lrq_rejects").collect()}
    assert sink_ids == {500}
    assert 501 in rejects and rejects[501].score < 0.5
    spark.sql("DROP TABLE IF EXISTS default.lrq_sink")
    spark.sql("DROP TABLE IF EXISTS default.lrq_rejects")


def test_neardup_stream_language_gate(spark, tmp_path):
    """The crawl processor's trained language screen (the CCNet routing
    stage): a stored softmax model classifies each batch; documents
    whose predicted language is not in lang_keep are dropped at ingest
    and recorded with language + score."""
    from pyspark.sql import Row
    from mallarddv_spark.exceptions import DVConfigurationError
    from mallarddv_spark.operators import dedup
    from mallarddv_spark.operators.curation import (
        save_softmax_classifier,
        train_softmax_classifier,
    )

    train = spark.createDataFrame(
        [Row(doc_id=i, lang="en",
             text="the house and the water with work time " * 3)
         for i in range(12)]
        + [Row(doc_id=100 + i, lang="de",
               text="der haus und das wasser mit arbeit zeit " * 3)
           for i in range(12)]
    )
    model = train_softmax_classifier(
        train, "lang", "text", buckets=512, iters=25, lr=2.0
    )
    model_path = str(tmp_path / "sm_model")
    save_softmax_classifier(model, model_path)

    seed = spark.createDataFrame(
        [Row(doc_id=1, text="completely unrelated seed document content")]
    )
    index_path = str(tmp_path / "mh_idx")
    dedup.build_minhash_index(seed, index_path, num_perm=32, bands=8,
                              shingle_size=3)
    spark.sql("DROP TABLE IF EXISTS default.lng_sink")
    spark.sql("DROP TABLE IF EXISTS default.lng_rejects")

    batch = spark.createDataFrame(
        [Row(doc_id=500, text="the house and the water with time"),
         Row(doc_id=501, text="der haus und das wasser mit zeit")]
    )
    src = str(tmp_path / "crawl")
    batch.coalesce(1).write.parquet(f"{src}/f1")
    process = ingest.neardup_stream_processor(
        index_path, "default.lng_sink", threshold=0.9,
        lang_model_path=model_path,
        lang_keep=["en"],
        lang_table="default.lng_rejects",
    )
    q = ingest.stream_files_to_staging(
        spark, f"{src}/*", batch.schema, str(tmp_path / "ck"),
        process, file_format="parquet",
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    sink_ids = {r.doc_id for r in spark.table("default.lng_sink").collect()}
    rejects = {r.doc_id: r
               for r in spark.table("default.lng_rejects").collect()}
    assert sink_ids == {500}
    assert 501 in rejects and rejects[501].lang == "de"
    assert rejects[501].lang_score > 0.5
    spark.sql("DROP TABLE IF EXISTS default.lng_sink")
    spark.sql("DROP TABLE IF EXISTS default.lng_rejects")
    # construction-time guard: a screen with no admitted languages
    with pytest.raises(DVConfigurationError, match="lang_keep"):
        ingest.neardup_stream_processor(
            index_path, "default.lng_sink", lang_model_path=model_path
        )
