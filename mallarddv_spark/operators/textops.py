"""Text-analysis operators for corpus curation: tokenization stats, quality
heuristics, language ID, fingerprinting.

All Column-returning (composable into any projection) and JVM-only — these
run over every document of a 100 TB corpus, so the hot path must stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from mallarddv_spark.exceptions import DVConfigurationError, DVETLError

WS = r"\s+"

#: tiny built-in stopword lists (extend per deployment)
STOPWORDS = {
    "en": ["the", "and", "of", "a", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "los", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "et", "la", "des"],
}


def tokens(text: Column | str) -> Column:
    return F.split(F.trim(text), WS)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def unique_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda x: F.array_contains(arr, x)))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    return F.round(stopword_count(text, lang) / token_count(text), 6)


def alpha_ratio(text: Column | str) -> Column:
    """Share of characters that are ascii letters — a cheap garbage filter.
    Empty text scores 0.0 (a guarded divide: under ANSI mode the naive
    ratio raises DIVIDE_BY_ZERO on zero-length documents, which corpus
    cleanup stages legitimately produce)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.when(
        F.length(t) > 0,
        F.round(
            F.length(F.regexp_replace(F.lower(t), "[^a-z]", "")) / F.length(t),
            6,
        ),
    ).otherwise(F.lit(0.0))


def mean_token_length(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.round(F.length(F.regexp_replace(t, WS, "")) / token_count(t), 6)


def quality_score(text: Column | str, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: stopword presence (fluency proxy),
    alphabetic share, sane mean token length. Deterministic, tunable."""
    sw = stopword_ratio(text, lang)
    ar = alpha_ratio(text)
    mtl = mean_token_length(text)
    len_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        F.least(sw * 4.0, F.lit(1.0)) * 0.4 + ar * 0.4 + len_ok * 0.2, 6
    )


def lang_guess(text: Column | str) -> Column:
    """Stopword-vote language ID (first language whose vote count ties the
    max wins, in STOPWORDS order)."""
    votes = {lang: stopword_count(text, lang) for lang in STOPWORDS}
    mx = F.greatest(*votes.values())
    result = F.lit("unknown")
    for lang in reversed(list(STOPWORDS)):
        result = F.when(votes[lang] >= mx, F.lit(lang)).otherwise(result)
    return F.when(mx > 0, result).otherwise(F.lit("unknown"))


def normalized_fingerprint(text: Column | str) -> Column:
    """md5 of lowercased, punctuation-stripped, whitespace-collapsed text."""
    t = F.col(text) if isinstance(text, str) else text
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(t), "[^a-z0-9 ]", " "), " +", " ")
    )
    return F.md5(norm)


def text_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang: str = "en",
    with_repetition: bool = False,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    lang_model: dict | None = None,
) -> DataFrame:
    """One-pass per-document profile: everything a curation pipeline filters
    on, computed in a single projection (one scan, no shuffle).

    The token array is materialized once in a first projection and every
    metric references it — the naive form re-tokenizes the text per metric
    (~15 regex splits per row), which dominates runtime on long documents.

    ``with_repetition`` appends the Gopher repetition battery
    (:func:`repetition_profile`'s signal columns) to the SAME projection —
    no self-join, still one scan.

    ``lang_model`` (a :func:`~mallarddv_spark.operators.curation.
    train_softmax_classifier` model fit on language-labeled text)
    replaces the marker-word ``lang_guess`` vote with the TRAINED
    prediction — the CCNet/fastText pipeline shape. This is the one
    option that breaks the single-projection guarantee: it adds the
    classifier's explode + groupBy pass and a join back on ``id_col``
    (co-partitioned with the profile's scan when the source is bucketed
    on the id). The column name stays ``lang_guess`` so downstream
    filters are oblivious to which identifier produced it.
    """
    toks = F.col("__toks")
    n_tokens = F.size(toks)

    def stop_cnt(lg: str) -> F.Column:
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    votes = {lg: stop_cnt(lg) for lg in STOPWORDS}
    mx = F.greatest(*votes.values())
    guess = F.lit("unknown")
    for lg in reversed(list(STOPWORDS)):
        guess = F.when(votes[lg] >= mx, F.lit(lg)).otherwise(guess)
    guess = F.when(mx > 0, guess).otherwise(F.lit("unknown"))

    t = F.col(text_col)
    sw_ratio = F.round(stop_cnt(lang) / n_tokens, 6)
    # guarded divide: empty documents (legitimate after corpus cleanup)
    # raise DIVIDE_BY_ZERO under ANSI mode in the naive ratio
    a_ratio = F.when(
        F.length(t) > 0,
        F.round(
            F.length(F.regexp_replace(F.lower(t), "[^a-z]", "")) / F.length(t),
            6,
        ),
    ).otherwise(F.lit(0.0))
    mtl = F.round(F.length(F.regexp_replace(t, WS, "")) / n_tokens, 6)
    len_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    quality = F.round(
        F.least(sw_ratio * 4.0, F.lit(1.0)) * 0.4 + a_ratio * 0.4 + len_ok * 0.2, 6
    )

    cols = [
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length(text_col).alias("n_chars"),
        sw_ratio.alias("stopword_ratio"),
        a_ratio.alias("alpha_ratio"),
        mtl.alias("mean_token_len"),
        quality.alias("quality"),
        guess.alias("lang_guess"),
        normalized_fingerprint(text_col).alias("norm_fp"),
        F.md5(F.concat_ws(" ", F.sort_array(toks))).alias("sorted_fp"),
    ]
    base = df.withColumn("__toks", tokens(text_col))
    if with_repetition:
        trimmed = F.trim(F.col(text_col))
        base = base.withColumn("__t", trimmed).withColumn(
            "__lines", F.split(trimmed, "\n")
        )
        cols.extend(repetition_columns(top_ns, dup_ns))
    prof = base.select(*cols)
    if lang_model is not None:
        from mallarddv_spark.operators.curation import lang_classify

        trained = lang_classify(df, id_col, text_col, lang_model).select(
            F.col("doc_id").alias(id_col), "lang"
        )
        prof = (
            prof.drop("lang_guess")
            .join(trained, id_col, "left")
            .withColumn(
                "lang_guess", F.coalesce("lang", F.lit("unknown"))
            )
            .drop("lang")
        )
    return prof


# ---------------------------------------------------------------------------
# rule-based quality filtering (C4 / Gopher-style published heuristics)
# ---------------------------------------------------------------------------

#: default filter rules, following the published C4 (Raffel et al. 2020)
#: and Gopher (Rae et al. 2021) corpus heuristics — thresholds are the
#: commonly cited ones; tune per corpus.
DEFAULT_QUALITY_RULES = {
    "min_tokens": 50,
    "max_tokens": 100_000,
    "min_mean_token_len": 3.0,
    "max_mean_token_len": 10.0,
    "min_alpha_ratio": 0.6,
    "min_stopword_ratio": 0.01,
    "max_dup_token_ratio": 0.6,
}


def quality_filter(
    df: DataFrame,
    text_col: str,
    rules: dict | None = None,
    lang: str = "en",
) -> DataFrame:
    """Keep/drop verdict per document with machine-readable reasons.

    Adds ``qf_keep`` (boolean) and ``qf_reasons`` (array<string> of failed
    rule names, empty when kept). One projection, whole-stage-codegen'd —
    every rule is a Column expression over the same tokenization, so the
    100 TB pass stays a single scan with no shuffle.

    Rules (all optional, ``None`` disables):
    ``min_tokens``/``max_tokens`` — document length bounds (Gopher);
    ``min_mean_token_len``/``max_mean_token_len`` — mean word length
    window (Gopher 3-10); ``min_alpha_ratio`` — symbol/garbage cut;
    ``min_stopword_ratio`` — fluency proxy (Gopher's stop-word rule);
    ``max_dup_token_ratio`` — repetition cut: 1 - unique/total tokens.
    """
    r = {**DEFAULT_QUALITY_RULES, **(rules or {})}
    t = F.col(text_col)
    checks: list[tuple[str, Column]] = []
    if r.get("min_tokens") is not None:
        checks.append(("min_tokens", token_count(t) >= r["min_tokens"]))
    if r.get("max_tokens") is not None:
        checks.append(("max_tokens", token_count(t) <= r["max_tokens"]))
    if r.get("min_mean_token_len") is not None:
        checks.append(
            ("min_mean_token_len", mean_token_length(t) >= r["min_mean_token_len"])
        )
    if r.get("max_mean_token_len") is not None:
        checks.append(
            ("max_mean_token_len", mean_token_length(t) <= r["max_mean_token_len"])
        )
    if r.get("min_alpha_ratio") is not None:
        checks.append(("min_alpha_ratio", alpha_ratio(t) >= r["min_alpha_ratio"]))
    if r.get("min_stopword_ratio") is not None:
        checks.append(
            ("min_stopword_ratio", stopword_ratio(t, lang) >= r["min_stopword_ratio"])
        )
    if r.get("max_dup_token_ratio") is not None:
        dup_ratio = F.round(
            1 - unique_token_count(t) / token_count(t), 6
        )
        checks.append(("max_dup_token_ratio", dup_ratio <= r["max_dup_token_ratio"]))

    reasons = F.filter(
        F.array(
            *[
                F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                for name, ok in checks
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return df.withColumn("qf_reasons", reasons).withColumn(
        "qf_keep", F.size("qf_reasons") == 0
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_budget: int = 2048,
    n_shards: int | None = None,
    shard_col: Column | None = None,
) -> DataFrame:
    """Assign documents to training-batch bins under a token budget —
    the "concat-and-chunk" packing used to build fixed-length LM batches.

    Deterministic greedy packing in ``id_col`` order: documents are laid
    end-to-end and ``bin_id = floor(running_tokens_before / budget)`` —
    i.e. a document starts a new bin whenever the budget boundary was
    crossed. Oversized documents (> budget) occupy their own bin span.
    Returns (id, n_tokens, shard_id, bin_id, bin_offset).

    Scale shape: a single global running sum would serialize on one
    partition, so documents are first hashed into ``n_shards`` independent
    shards (default: the session's shuffle parallelism) and packed per
    shard — bins are (shard_id, bin_id) pairs, each shard's window runs in
    parallel, and determinism is preserved because the shard hash and the
    in-shard order are both functions of ``id_col``. Pass ``shard_col`` to
    override the shard assignment (e.g. modulo on a numeric id, or a
    date/source column to keep bins homogeneous).
    """
    spark = df.sparkSession
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        (
            shard_col
            if shard_col is not None
            else F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
        )
        .cast("int")
        .alias("shard_id"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn(
            "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "id",
            "n_tokens",
            "shard_id",
            F.floor(F.col("tokens_before") / token_budget).cast("bigint").alias("bin_id"),
            (F.col("tokens_before") % token_budget).cast("bigint").alias("bin_offset"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    token_budget: int = 2048,
    n_shards: int | None = None,
    shard_col: Column | None = None,
    file_format: str = "parquet",
) -> dict:
    """Materialize a packed training corpus: :func:`pack_sequences`
    assignment joined back to the documents, written as
    ``shard_id=<i>/*.parquet`` with in-shard rows ordered ``(bin_id,
    bin_offset)`` — the layout a trainer consumes shard-by-shard — plus a
    ``manifest.json`` (per-shard doc/token/bin counts and totals) written
    LAST, so a manifest's presence certifies a complete write (readers
    key off it; a torn job leaves data files but no manifest).

    The shard write is one hash-partitioned shuffle + ordered write; the
    manifest aggregate is a second pass over the (small) assignment
    output, collected to the driver — control metadata, not data.

    ``file_format="jsonl"`` writes gzipped JSON-lines instead of parquet
    — the interchange format most training stacks ingest directly. Same
    layout, ordering, and manifest; the certify-by-read-back pass
    supplies the writer's schema, so it costs a scan but no inference.
    """
    import json

    if file_format not in ("parquet", "jsonl"):
        raise DVConfigurationError(
            f"write_training_shards: unknown file_format {file_format!r} "
            "(parquet | jsonl)"
        )
    spark = df.sparkSession
    assign = pack_sequences(
        df, id_col, text_col, token_budget, n_shards, shard_col=shard_col
    )
    out = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .join(assign, "id")
        .repartition("shard_id")
        .sortWithinPartitions("shard_id", "bin_id", "bin_offset")
    )
    if file_format == "jsonl":
        out.write.mode("errorifexists").option(
            "compression", "gzip"
        ).partitionBy("shard_id").json(f"{path}/data")
        written = spark.read.schema(out.drop("shard_id").schema).json(
            f"{path}/data"
        )
    else:
        out.write.mode("errorifexists").partitionBy("shard_id").parquet(
            f"{path}/data"
        )
        written = spark.read.parquet(f"{path}/data")
    # the manifest certifies the bytes actually written: stats come from
    # reading the data back, never from re-executing the assignment plan
    # (a second evaluation could pack different rows on non-deterministic
    # inputs, and would pay the full tokenization + window again)
    stats = (
        written
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.max("bin_id") + 1).alias("n_bins"),
        )
        .orderBy("shard_id")
        .collect()
    )
    manifest = {
        "token_budget": token_budget,
        "file_format": file_format,
        "n_shards": len(stats),
        "total_docs": int(sum(r.n_docs for r in stats)),
        "total_tokens": int(sum(r.n_tokens for r in stats)),
        "shards": [
            {
                "shard_id": int(r.shard_id),
                "n_docs": int(r.n_docs),
                "n_tokens": int(r.n_tokens),
                "n_bins": int(r.n_bins),
            }
            for r in stats
        ],
    }
    _write_manifest(spark, path, manifest)
    return manifest


def _read_manifest(spark, path: str, op: str) -> dict:
    """Read ``{path}/manifest.json`` through the Hadoop FS API, raising
    :class:`DVETLError` when it is absent — the manifest is written
    LAST, so absence means an incomplete write or a foreign directory
    (the readers' shared entry check)."""
    import json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/manifest.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise DVETLError(
            f"{op}: no manifest at {path}/manifest.json — the manifest "
            "is written last, so this directory is incomplete or not a "
            "shard directory"
        )
    stream = fs.open(p)
    try:
        # commons-io rides Spark's classpath; py4j passes byte buffers
        # by value, so a Python-side read loop cannot fill one
        payload = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    try:
        return json.loads(payload)
    except ValueError as e:
        # _write_manifest is temp+rename atomic, so this should be
        # unreachable for its own output — but a foreign or damaged
        # file still gets the typed error callers are told to expect
        raise DVETLError(
            f"{op}: manifest at {path}/manifest.json is not valid JSON "
            "(torn write or foreign file) — treat the directory as "
            "uncertified"
        ) from e


def _write_manifest(spark, path: str, manifest: dict) -> None:
    """Write ``{path}/manifest.json`` through the Hadoop FS API so it
    lands next to the data on whatever filesystem the path points at.
    Callers write it LAST: its presence certifies a complete write —
    which only holds if the manifest itself cannot be observed torn, so
    the payload goes to a temp name first and RENAMES into place (the
    filesystem's atomic publish; a crash mid-write leaves only the
    temp file, which the readers' exists() check ignores)."""
    import json

    payload = json.dumps(manifest, indent=2)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/manifest.json")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/.manifest.json.tmp")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(payload.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise DVETLError(
            f"_write_manifest: rename to {path}/manifest.json failed — "
            "manifest not published, directory stays uncertified"
        )


def write_packed_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    ids_col: str = "ids",
    token_budget: int = 2048,
    n_shards: int | None = None,
    file_format: str = "parquet",
    meta: dict | None = None,
) -> dict:
    """Materialize an FFD-packed TOKEN-ID corpus — the last hop of the
    pretraining pipeline (encode → ``bpe.tokens_to_ids`` → here):
    :func:`pack_bins_ffd` assigns whole documents to bins with the
    budget measured in ENCODED IDS (``size(ids_col)`` — what the
    trainer's context window actually holds; a whitespace budget
    under-fills by the tokenizer's fertility), then rows land as
    ``shard_id=<i>/*`` ordered ``(bin_id, id)`` with the id arrays
    intact, plus a ``manifest.json`` written LAST whose stats come from
    READING THE SHARDS BACK — ``total_ids`` certifies token
    conservation against the encoder's own count, the invariant that
    catches any drop/dup between the stages (the
    :func:`write_training_shards` certify-by-read-back discipline;
    ``oversize`` documents — longer than the budget — keep their flag
    so the trainer can truncate or re-chunk them explicitly).

    NULL id elements are REJECTED before anything is written: an open
    vocabulary leaked an unknown token and training on silently-wrong
    ids is the one unrecoverable outcome (pass ``unk_id`` to
    :func:`~mallarddv_spark.operators.bpe.tokens_to_ids` upstream if
    unknowns are expected). The guard rides the input's SINGLE
    materialization pass — an in-plan ``raise_error`` naming the first
    offending document, not a separate validation scan of the corpus.

    ``meta`` is recorded verbatim in the manifest — pass the encoding
    provenance a reader needs to refuse mixing incompatible corpora,
    e.g. :func:`~mallarddv_spark.operators.bpe.vocab_fingerprint` of
    the id table the shards were materialized under (the id↔token
    mapping lives outside the shards, so nothing else ties them to a
    vocabulary; a renumbered vocab silently garbles every shard).

    Scale shape: the input is persisted (memory-then-disk) for the
    duration of the materialization, so the upstream lineage — usually
    a full tokenizer encode — executes ONCE, not once per consumer
    (pack aggregate, join-back, write); the executor spill space this
    holds is the same order as the output being written. Then one pack
    (see :func:`pack_bins_ffd`'s shard contract), one join back on the
    id key, one hash-partitioned shuffle + ordered write; the manifest
    aggregate re-scans only shard-level stats."""
    import json  # noqa: F401  (parity with write_training_shards)

    from pyspark import StorageLevel

    if file_format not in ("parquet", "jsonl"):
        raise DVConfigurationError(
            f"write_packed_shards: unknown file_format {file_format!r} "
            "(parquet | jsonl)"
        )
    spark = df.sparkSession
    # the NULL guard is fused into n_ids: caching materializes every
    # column, so the count below both populates the cache and raises on
    # the first NULL — zero extra corpus passes, nothing written yet.
    # A NULL DOCUMENT id is guarded too: the join-back on the id key
    # would otherwise silently DROP the row (NULL never equi-joins) and
    # the manifest would certify the smaller corpus. The id is
    # coalesced in the message so a doubly-NULL row still raises the
    # typed error, not raise_error(NULL).
    _GUARD = "write_packed_shards: NULL id data in document "
    base = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(ids_col).alias("ids"),
        F.when(
            F.col(id_col).isNull()
            | F.col(ids_col).isNull()
            | F.exists(ids_col, lambda x: x.isNull()),
            F.raise_error(F.concat(
                F.lit(_GUARD),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(" (NULL doc id or NULL id elements) — resolve "
                      "unknown tokens upstream (tokens_to_ids unk_id) "
                      "or fix the id column before materializing "
                      "trainer shards"),
            )),
        ).otherwise(F.size(ids_col)).cast("bigint").alias("n_ids"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        try:
            base.count()
        except Exception as e:
            lines = [ln for ln in str(e).splitlines() if _GUARD in ln]
            if lines:
                raise DVETLError(lines[0].strip()) from e
            raise
        assign = pack_bins_ffd(
            base, "id", length_col="n_ids",
            token_budget=token_budget, n_shards=n_shards,
        )
        out = (
            base.select("id", "ids").join(assign, "id")
            .repartition("shard_id")
            .sortWithinPartitions("shard_id", "bin_id", "id")
            .select("id", "ids", "n_tokens", "shard_id", "bin_id",
                    "oversize")
        )
        if file_format == "jsonl":
            out.write.mode("errorifexists").option(
                "compression", "gzip"
            ).partitionBy("shard_id").json(f"{path}/data")
            written = spark.read.schema(out.drop("shard_id").schema).json(
                f"{path}/data"
            )
        else:
            out.write.mode("errorifexists").partitionBy(
                "shard_id"
            ).parquet(f"{path}/data")
            written = spark.read.parquet(f"{path}/data")
        stats = (
            written.groupBy("shard_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("ids")).alias("n_ids"),
                F.countDistinct("bin_id").alias("n_bins"),
                F.sum(F.col("oversize").cast("int")).alias("n_oversize"),
            )
            .orderBy("shard_id")
            .collect()
        )
    finally:
        base.unpersist()
    total_ids = int(sum(r.n_ids for r in stats))
    total_bins = int(sum(r.n_bins for r in stats))
    manifest = {
        "token_budget": int(token_budget),
        "file_format": file_format,
        "n_shards": len(stats),
        "total_docs": int(sum(r.n_docs for r in stats)),
        "total_ids": total_ids,
        "total_bins": total_bins,
        "total_oversize": int(sum(r.n_oversize for r in stats)),
        "padding_frac": round(
            1.0 - total_ids / (total_bins * int(token_budget)), 6
        ) if total_bins else 0.0,
        "shards": [
            {
                "shard_id": int(r.shard_id),
                "n_docs": int(r.n_docs),
                "n_ids": int(r.n_ids),
                "n_bins": int(r.n_bins),
                "n_oversize": int(r.n_oversize),
            }
            for r in stats
        ],
    }
    if meta is not None:
        manifest["meta"] = dict(meta)
    _write_manifest(spark, path, manifest)
    return manifest


def read_packed_shards(
    spark,
    path: str,
    expected_vocab: dict | None = None,
    verify_totals: bool = True,
) -> DataFrame:
    """Trainer-side reader for a :func:`write_packed_shards` directory —
    the half of the provenance contract that makes the manifest worth
    writing. Refuses to hand out data unless:

    * ``manifest.json`` exists (it is written LAST, so its presence
      certifies a complete write — a crashed materialization leaves a
      directory this reader rejects);
    * with ``expected_vocab``: the manifest's ``meta`` provenance cell
      matches :func:`~mallarddv_spark.operators.bpe.vocab_fingerprint`
      of the token → id table the caller is about to decode with — an
      id corpus under a renumbered or resized vocabulary is refused
      loudly instead of silently garbling every training batch (a
      manifest WITHOUT provenance also fails this check: pass
      ``expected_vocab=None`` to explicitly opt out);
    * with ``verify_totals`` (default): one aggregate over the shards
      re-derives doc and id totals from the BYTES ON DISK and compares
      them to the manifest — the certify-by-read-back discipline,
      applied at read time against rot/truncation.

    Returns the shard frame ``(id, ids, n_tokens, shard_id, bin_id,
    oversize)``. Scale shape: the checks cost one manifest read plus
    (optionally) one aggregate-only scan; the returned frame is the
    plain partitioned source, so shard-pruned reads
    (``WHERE shard_id = k``) stay partition-pruned."""
    manifest = _read_manifest(spark, path, "read_packed_shards")
    if expected_vocab is not None:
        from mallarddv_spark.operators.bpe import vocab_fingerprint

        want = vocab_fingerprint(expected_vocab)
        got = manifest.get("meta") or {}
        mismatched = {
            k: (got.get(k), want[k])
            for k in ("vocab_size", "vocab_order_version", "vocab_md5")
            if got.get(k) != want[k]
        }
        if mismatched:
            raise DVETLError(
                "read_packed_shards: vocabulary provenance mismatch — "
                "these id shards were not materialized under the "
                f"supplied vocabulary ({mismatched}; manifest meta: "
                f"{got or 'ABSENT'}). Decoding would silently garble "
                "every batch; re-materialize or load the original vocab"
            )
    if manifest.get("file_format") == "jsonl":
        df = spark.read.schema(
            "id bigint, ids array<bigint>, n_tokens bigint, "
            "bin_id bigint, oversize boolean"
        ).json(f"{path}/data")
    else:
        df = spark.read.parquet(f"{path}/data")
    if verify_totals:
        got_tot = df.agg(
            F.count("*").alias("docs"),
            F.sum(F.size("ids")).alias("ids"),
        ).collect()[0]
        if (int(got_tot.docs) != manifest["total_docs"]
                or int(got_tot.ids) != manifest["total_ids"]):
            raise DVETLError(
                "read_packed_shards: on-disk totals diverge from the "
                f"manifest (disk docs={int(got_tot.docs)} "
                f"ids={int(got_tot.ids)} vs manifest "
                f"docs={manifest['total_docs']} "
                f"ids={manifest['total_ids']}) — the directory was "
                "modified after certification"
            )
    return df


# ---------------------------------------------------------------------------
# Repetition signals (Gopher §A1.1, Rae et al. 2021) — single projection
# ---------------------------------------------------------------------------

def _run_fold_expr(sorted_arr_sql: str, total_chars_sql: str) -> tuple[str, str]:
    """SQL for (top_frac, dup_frac) over a SORTED string array: one
    ``aggregate`` fold tracking run lengths — ``top`` = chars covered by
    the most frequent element (count x length; lexicographically first
    on a count tie, which the sorted order makes deterministic), ``dup``
    = chars covered by every element occurring more than once (count x
    length, summed). Shared by the n-gram and line signals so both stay
    inside one whole-stage-codegen projection."""
    # `top` is chars of the MOST FREQUENT element (Gopher's definition),
    # not max(count x length) over all elements — `bestn` tracks the
    # winning count so a longer-but-rarer element cannot displace it; on
    # a count tie the sorted order keeps the lexicographically first
    acc0 = (
        "named_struct('prev', cast(NULL as string), 'run', 0L, "
        "'bestn', 0L, 'top', 0L, 'dup', 0L)"
    )
    step = (
        "(acc, x) -> IF(x <=> acc.prev, "
        "named_struct('prev', x, 'run', acc.run + 1L, "
        "  'bestn', IF(acc.run + 1L > acc.bestn, acc.run + 1L, acc.bestn), "
        "  'top', IF(acc.run + 1L > acc.bestn, "
        "            (acc.run + 1L) * length(x), acc.top), "
        "  'dup', acc.dup), "
        "named_struct('prev', x, 'run', 1L, "
        "  'bestn', IF(acc.bestn < 1L, 1L, acc.bestn), "
        "  'top', IF(acc.bestn < 1L, length(x), acc.top), "
        "  'dup', acc.dup + IF(acc.run >= 2, acc.run * length(acc.prev), 0L)))"
    )
    fin = (
        "acc -> named_struct("
        "'top', acc.top, "
        "'dup', acc.dup + IF(acc.run >= 2, acc.run * length(acc.prev), 0L))"
    )
    fold = f"aggregate({sorted_arr_sql}, {acc0}, {step}, {fin})"
    # count x length double-counts characters where occurrences OVERLAP
    # ("spam spam spam": the top 2-gram overlaps itself), so cap at 1 —
    # the signals stay fractions and the published thresholds apply
    top = (
        f"round(least(({fold}).top / greatest({total_chars_sql}, 1L),"
        f" 1.0d), 6)"
    )
    dup = (
        f"round(least(({fold}).dup / greatest({total_chars_sql}, 1L),"
        f" 1.0d), 6)"
    )
    return top, dup


def _ngram_arr_sql(n: int) -> str:
    parts = ", ".join(f"__toks[i+{j}]" for j in range(n))
    return (
        f"IF(size(__toks) >= {n}, "
        f"array_sort(transform(sequence(0, size(__toks)-{n}), "
        f"i -> concat_ws(' ', {parts}))), array())"
    )


def repetition_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Per-document repetition signals — the Gopher repetition battery
    (Rae et al. 2021 §A1.1), each as a fraction of the document's
    characters, computed in ONE shuffle-free projection (sorted-array
    run-length folds; no explode, no groupBy):

    * ``rep_dup_line_frac`` — fraction of lines occurring more than once
      (count over lines).
    * ``rep_dup_line_char_frac`` — fraction of characters in such lines.
    * ``rep_top_{n}gram_char_frac`` (n in ``top_ns``) — characters
      covered by the single most frequent word n-gram (count x length).
    * ``rep_dup_{n}gram_char_frac`` (n in ``dup_ns``) — characters
      covered by all word n-grams occurring more than once (count x
      length, occurrences summed — the datatrove/Dolma convention; exact
      char-coverage with overlap dedup is not expressible without a
      per-position pass and differs negligibly on natural text).

    Denominator is ``length(text)``; empty/short docs read 0. Word
    n-grams use the same whitespace tokenization as the rest of
    :mod:`textops`; lines split on newline. Thresholds for the standard
    Gopher cuts live in :data:`GOPHER_REPETITION_RULES` /
    :func:`repetition_filter`.
    """
    t = F.trim(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        t.alias("__t"),
        F.split(t, r"\s+").alias("__toks"),
        F.split(t, "\n").alias("__lines"),
    )
    return base.select(
        F.col("doc_id"), *repetition_columns(top_ns, dup_ns)
    )


def repetition_columns(
    top_ns: tuple = (2, 3, 4), dup_ns: tuple = (5, 6, 7, 8, 9, 10)
) -> list:
    """The repetition signal Columns, assuming ``__t`` (trimmed text),
    ``__toks`` (whitespace tokens) and ``__lines`` (newline split) are in
    scope — the composition seam that lets :func:`text_profile` append
    the battery to its one-pass projection without a self-join."""
    chars = "length(__t)"
    cols = []
    # line-level: fraction of duplicated lines (count) + their chars
    n_lines = "greatest(size(__lines), 1)"
    sorted_lines = "array_sort(__lines)"
    _, line_dup_chars = _run_fold_expr(sorted_lines, chars)
    dup_line_cnt = "(size(__lines) - size(array_distinct(__lines)))"
    cols.append(
        F.expr(f"round({dup_line_cnt} / {n_lines}, 6)").alias(
            "rep_dup_line_frac"
        )
    )
    cols.append(F.expr(line_dup_chars).alias("rep_dup_line_char_frac"))
    for n in top_ns:
        top, _ = _run_fold_expr(_ngram_arr_sql(n), chars)
        cols.append(F.expr(top).alias(f"rep_top_{n}gram_char_frac"))
    for n in dup_ns:
        _, dup = _run_fold_expr(_ngram_arr_sql(n), chars)
        cols.append(F.expr(dup).alias(f"rep_dup_{n}gram_char_frac"))
    return cols


#: the published Gopher repetition thresholds (Rae et al. 2021, table A1)
GOPHER_REPETITION_RULES: dict = {
    "rep_dup_line_frac": 0.30,
    "rep_dup_line_char_frac": 0.20,
    "rep_top_2gram_char_frac": 0.20,
    "rep_top_3gram_char_frac": 0.18,
    "rep_top_4gram_char_frac": 0.16,
    "rep_dup_5gram_char_frac": 0.15,
    "rep_dup_6gram_char_frac": 0.14,
    "rep_dup_7gram_char_frac": 0.13,
    "rep_dup_8gram_char_frac": 0.12,
    "rep_dup_9gram_char_frac": 0.11,
    "rep_dup_10gram_char_frac": 0.10,
}


def repetition_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rules: dict | None = None,
) -> DataFrame:
    """Keep/drop verdict from the repetition battery: joins nothing —
    :func:`repetition_profile` columns are computed inline and compared
    against ``rules`` (default: the published Gopher thresholds; pass a
    partial dict to override some, None-valued entries disable a cut).
    Adds ``rep_keep`` + ``rep_reasons`` alongside the signal columns."""
    r = {**GOPHER_REPETITION_RULES, **(rules or {})}
    unknown = set(r) - set(GOPHER_REPETITION_RULES)
    if unknown:
        raise DVConfigurationError(
            f"unknown repetition rule(s) {sorted(unknown)} — valid: "
            f"{sorted(GOPHER_REPETITION_RULES)}"
        )
    prof = repetition_profile(df, id_col, text_col)
    checks = [
        (name, F.col(name) <= thr)
        for name, thr in r.items()
        if thr is not None
    ]
    reasons = F.filter(
        F.array(
            *[
                F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                for name, ok in checks
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return prof.withColumn("rep_reasons", reasons).withColumn(
        "rep_keep", F.size("rep_reasons") == 0
    )


# ---------------------------------------------------------------------------
# Bigram-LM fluency scoring (the CCNet/Wenzek et al. 2020 perplexity
# bucket stage, with a relational LM instead of KenLM)
# ---------------------------------------------------------------------------


def _lm_tokens(text_col, lowercase: bool):
    t = F.trim(F.col(text_col) if isinstance(text_col, str) else text_col)
    if lowercase:
        t = F.lower(t)
    return F.split(t, r"\s+")


def train_bigram_lm(
    df: DataFrame, text_col: str, lowercase: bool = True
) -> dict:
    """Count-based bigram language model over a reference corpus — the
    relational stand-in for the KenLM n-gram model CCNet scores crawl
    text with. Returns ``{"unigrams": DF(w, cnt), "bigrams":
    DF(w1, w2, cnt), "total_tokens": int, "lowercase": bool}``; both
    count tables are plain DataFrames, so a trained LM persists as two
    parquet writes and scores any future corpus.

    Reference scope note: no LM stage exists in the reference engine —
    this extends the training-data curation tier.

    Scale shape: two groupBy shuffles over the token/bigram streams
    (map-side partial aggregation makes them near-linear); the model
    size is the vocabulary, not the corpus."""
    toks = _lm_tokens(text_col, lowercase)
    base = df.select(toks.alias("__t"))
    uni = (
        base.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = F.when(
        F.size("__t") >= 2,
        F.expr(
            "transform(sequence(1, size(__t) - 1), "
            "i -> struct(element_at(__t, i) as w1, "
            "element_at(__t, i + 1) as w2))"
        ),
    ).otherwise(F.expr("array()"))
    bi = (
        base.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    total = uni.agg(F.sum("cnt")).first()[0] or 0
    return {
        "unigrams": uni,
        "bigrams": bi,
        "total_tokens": int(total),
        "lowercase": lowercase,
    }


def score_bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: dict,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean bigram log-probability under a
    :func:`train_bigram_lm` model — low scores mark disfluent/garbled
    text (the CCNet head/middle/tail signal). Stupid-backoff chain
    (Brants et al. 2007): ``P(w2|w1) = c(w1,w2)/c(w1)``, else
    ``alpha * c(w2)/N``, else ``alpha * 0.5/N`` for out-of-vocabulary
    words. Returns ``(id, n_bigrams, n_backoff, avg_logprob)``; docs
    with < 2 tokens score NULL (no bigrams to judge).

    Determinism note: each bigram's log-prob is snapped to a 1e-10 grid
    (``round(ln(p) * 1e10)`` as bigint) and summed EXACTLY in integer
    space, so the per-doc mean is independent of partitioning/merge
    order — float summation order would otherwise wobble the low bits
    and break replayed comparisons. The snap error (<= 5e-11 per
    bigram) is ~5 orders below any filtering threshold's resolution.

    Scale shape: three hash joins on word keys (bigram, c(w1), c(w2))
    over the bigram stream, then one groupBy on id. Natural-language
    word frequency is maximally skewed ('the' is ~5% of English
    tokens) — run with AQE skew-join enabled (the session default)."""
    toks = _lm_tokens(text_col, bool(lm.get("lowercase", True)))
    n_total = int(lm["total_tokens"]) or 1
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
    pairs = F.when(
        F.size("__t") >= 2,
        F.expr(
            "transform(sequence(1, size(__t) - 1), "
            "i -> struct(element_at(__t, i) as w1, "
            "element_at(__t, i + 1) as w2))"
        ),
    ).otherwise(F.expr("array()"))
    stream = base.select("__id", F.explode(pairs).alias("p")).select(
        "__id", "p.w1", "p.w2"
    )
    bi = lm["bigrams"].select(
        F.col("w1").alias("__b1"), F.col("w2").alias("__b2"),
        F.col("cnt").alias("__cb"),
    )
    u1 = lm["unigrams"].select(
        F.col("w").alias("__u1"), F.col("cnt").alias("__c1")
    )
    u2 = lm["unigrams"].select(
        F.col("w").alias("__u2"), F.col("cnt").alias("__c2")
    )
    scored = (
        stream.join(
            bi,
            (F.col("w1") == F.col("__b1")) & (F.col("w2") == F.col("__b2")),
            "left",
        )
        .join(u1, F.col("w1") == F.col("__u1"), "left")
        .join(u2, F.col("w2") == F.col("__u2"), "left")
        .select(
            "__id",
            F.col("__cb").isNull().cast("int").alias("__backoff"),
            F.when(
                F.col("__cb").isNotNull(),
                F.log(
                    F.col("__cb").cast("double") / F.col("__c1").cast("double")
                ),
            )
            .when(
                F.col("__c2").isNotNull(),
                F.log(
                    F.lit(alpha) * F.col("__c2").cast("double") / F.lit(n_total)
                ),
            )
            .otherwise(F.log(F.lit(alpha) * F.lit(0.5) / F.lit(n_total)))
            .alias("__lp"),
        )
        .select(
            "__id",
            "__backoff",
            F.round(F.col("__lp") * 1e10).cast("bigint").alias("__lp10"),
        )
    )
    return scored.groupBy(F.col("__id").alias("id")).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("__backoff").cast("bigint").alias("n_backoff"),
        F.round(
            F.sum("__lp10") / (F.lit(1e10) * F.count("*")), 6
        ).alias("avg_logprob"),
    )


def score_kn_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: dict,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean bigram log-probability under interpolated
    Kneser-Ney smoothing (Kneser & Ney 1995; Chen & Goodman 1998) — the
    smoothing family KenLM implements and CCNet actually scores with,
    upgrading :func:`score_bigram_logprob`'s stupid backoff. Uses the
    SAME trained model (:func:`train_bigram_lm`'s count tables); the
    continuation statistics derive from the bigram TYPE table:

    ``P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                 + (D · N1+(w1,·)/c(w1)) · P_cont(w2)``,
    ``P_cont(w2) = N1+(·,w2) / |bigram types|`` — "how many contexts
    does w2 complete", the fix for the Francisco problem: a word
    frequent only after one context ('francisco') gets a LOW
    continuation probability no matter its unigram count.

    Out-of-model fallbacks, both floored so log stays finite: an unseen
    CONTEXT (c(w1) = 0) scores ``P_cont(w2)`` directly; an unseen
    continuation uses the 0.5-type floor ``0.5/|types|``. Returns
    ``(id, n_bigrams, n_oov_ctx, avg_logprob)``; docs with < 2 tokens
    score NULL (no row). Same 1e-10 integer-grid discipline as the
    stupid-backoff scorer, so DuckDB replays the mean bit-for-bit.

    Scale shape: the two continuation tables are groupBy aggregates of
    the vocabulary-sized bigram TYPE table (map-side combine, bounded
    tasks — never a per-key window), then the scoring stream pays four
    hash joins on word keys + one groupBy on id, the same class as
    :func:`score_bigram_logprob`."""
    if not 0.0 < float(discount) < 1.0:
        raise DVConfigurationError(
            "score_kn_logprob: discount must be in (0, 1)"
        )
    d_lit = repr(float(discount))
    toks = _lm_tokens(text_col, bool(lm.get("lowercase", True)))
    bi_types = lm["bigrams"]
    t_types = int(bi_types.count()) or 1
    nf = (
        bi_types.groupBy("w1").agg(F.count("*").alias("__nf"))
        .select(F.col("w1").alias("__f1"), "__nf")
    )
    nb = (
        bi_types.groupBy("w2").agg(F.count("*").alias("__nb"))
        .select(F.col("w2").alias("__p2"), "__nb")
    )
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
    pairs = F.when(
        F.size("__t") >= 2,
        F.expr(
            "transform(sequence(1, size(__t) - 1), "
            "i -> struct(element_at(__t, i) as w1, "
            "element_at(__t, i + 1) as w2))"
        ),
    ).otherwise(F.expr("array()"))
    stream = base.select("__id", F.explode(pairs).alias("p")).select(
        "__id", "p.w1", "p.w2"
    )
    bi = lm["bigrams"].select(
        F.col("w1").alias("__b1"), F.col("w2").alias("__b2"),
        F.col("cnt").alias("__cb"),
    )
    u1 = lm["unigrams"].select(
        F.col("w").alias("__u1"), F.col("cnt").alias("__c1")
    )
    # the expression tree (parenthesization, casts, literal spellings)
    # is mirrored verbatim in the DuckDB oracle — identical IEEE-double
    # operation order is what makes the grid snap replay exactly
    pc = (
        f"(coalesce(cast(__nb as double), 0.5) "
        f"/ cast({t_types} as double))"
    )
    lp = (
        f"CASE WHEN __c1 IS NOT NULL THEN "
        f"ln(greatest(cast(coalesce(__cb, 0) as double) - {d_lit}, "
        f"cast(0 as double)) / cast(__c1 as double) "
        f"+ ({d_lit} * cast(greatest(coalesce(__nf, 0), 1) as double) "
        f"/ cast(__c1 as double)) * {pc}) "
        f"ELSE ln({pc}) END"
    )
    scored = (
        stream.join(
            bi,
            (F.col("w1") == F.col("__b1")) & (F.col("w2") == F.col("__b2")),
            "left",
        )
        .join(u1, F.col("w1") == F.col("__u1"), "left")
        .join(nf, F.col("w1") == F.col("__f1"), "left")
        .join(nb, F.col("w2") == F.col("__p2"), "left")
        .select(
            "__id",
            F.col("__c1").isNull().cast("int").alias("__oov"),
            F.round(F.expr(lp) * 1e10).cast("bigint").alias("__lp10"),
        )
    )
    return scored.groupBy(F.col("__id").alias("id")).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("__oov").cast("bigint").alias("n_oov_ctx"),
        F.round(
            F.sum("__lp10") / (F.lit(1e10) * F.count("*")), 6
        ).alias("avg_logprob"),
    )


def train_trigram_lm(
    df: DataFrame, text_col: str, lowercase: bool = True
) -> dict:
    """Count-based trigram language model — :func:`train_bigram_lm`
    plus a ``trigrams`` table ``(w1, w2, w3, cnt)``, one decade closer
    to the 5-gram KenLM models CCNet actually ships. The returned dict
    is a strict superset of the bigram model's, so every bigram scorer
    accepts it unchanged.

    Scale shape: one more groupBy shuffle over the trigram stream
    (map-side combine); the model size is the trigram-type vocabulary,
    not the corpus."""
    lm = train_bigram_lm(df, text_col, lowercase)
    toks = _lm_tokens(text_col, lowercase)
    base = df.select(toks.alias("__t"))
    triples = F.when(
        F.size("__t") >= 3,
        F.expr(
            "transform(sequence(1, size(__t) - 2), "
            "i -> struct(element_at(__t, i) as w1, "
            "element_at(__t, i + 1) as w2, "
            "element_at(__t, i + 2) as w3))"
        ),
    ).otherwise(F.expr("array()"))
    lm["trigrams"] = (
        base.select(F.explode(triples).alias("p"))
        .select("p.w1", "p.w2", "p.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("cnt"))
    )
    return lm


def score_kn3_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: dict,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean TRIGRAM log-probability under interpolated
    Kneser-Ney (Chen & Goodman 1998's three-level recursion) — the
    :func:`score_kn_logprob` discipline one order higher, proving the
    recursion generalizes the way KenLM's 5-gram models do:

    ``P(w3|w1,w2) = max(c(w1w2w3) - D, 0)/c(w1w2)
                    + (D · N1+(w1w2·)/c(w1w2)) · P_mid(w3|w2)``,
    ``P_mid(w3|w2) = max(N1+(·w2w3) - D, 0)/N1+(·w2·)
                     + (D · Nf_mid(w2)/N1+(·w2·)) · P_cont(w3)``,
    ``P_cont(w3)   = N1+(·w3)/|bigram types|``.

    Every statistic below the top order is a CONTINUATION (type) count
    from the trigram/bigram TYPE tables — the Kneser-Ney insight
    applied at each level: ``N1+(·w2w3)`` counts distinct left contexts
    of the bigram, ``N1+(·w2·)`` distinct (w1,w3) frames around w2,
    ``Nf_mid(w2)`` distinct continuations w3 in the mid-level type
    distribution. Fallback chain for unseen material, every branch
    floored so log stays finite: unseen context (w1,w2) → ``P_mid``
    directly; w2 never a trigram middle → ``P_cont``; OOV w3 → the
    0.5-type floor. Returns ``(id, n_trigrams, n_oov_ctx,
    avg_logprob)``; docs with < 3 tokens score no row. Same 1e-10
    integer-grid sum as every scorer in this module — partition-order
    independent, engine-replayable.

    Scale shape: the four continuation tables are groupBy aggregates of
    the trigram TYPE table (map-side combine, bounded tasks — never a
    per-key window); scoring pays seven hash joins on word keys + one
    groupBy on id. Word keys are Zipf-skewed — the
    :func:`score_bigram_logprob` AQE skew-join note applies."""
    if not 0.0 < float(discount) < 1.0:
        raise DVConfigurationError(
            "score_kn3_logprob: discount must be in (0, 1)"
        )
    if "trigrams" not in lm:
        raise DVConfigurationError(
            "score_kn3_logprob: model lacks a trigram table — train with "
            "train_trigram_lm"
        )
    d_lit = repr(float(discount))
    toks = _lm_tokens(text_col, bool(lm.get("lowercase", True)))
    tri_types = lm["trigrams"]
    bi_types = lm["bigrams"]
    t_bitypes = int(bi_types.count()) or 1
    # top level: context count c(w1,w2) and its distinct-continuation
    # count N1+(w1w2·) — both from the raw tables
    ctx2 = bi_types.select(
        F.col("w1").alias("__x1"), F.col("w2").alias("__x2"),
        F.col("cnt").alias("__c12"),
    )
    nf_hi = (
        tri_types.groupBy("w1", "w2").agg(F.count("*").alias("__nfh"))
        .select(F.col("w1").alias("__h1"), F.col("w2").alias("__h2"), "__nfh")
    )
    # mid level: continuation counts from the trigram TYPE table
    ncb = (
        tri_types.groupBy("w2", "w3").agg(F.count("*").alias("__ncb"))
        .select(F.col("w2").alias("__m2"), F.col("w3").alias("__m3"), "__ncb")
    )
    mid = (
        tri_types.groupBy("w2").agg(
            F.count("*").alias("__nmid"),
            F.countDistinct("w3").alias("__nfm"),
        )
        .select(F.col("w2").alias("__g2"), "__nmid", "__nfm")
    )
    # bottom level: N1+(·w3) over bigram types (the bigram-KN table)
    nb = (
        bi_types.groupBy("w2").agg(F.count("*").alias("__nb"))
        .select(F.col("w2").alias("__p3"), "__nb")
    )
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
    triples = F.when(
        F.size("__t") >= 3,
        F.expr(
            "transform(sequence(1, size(__t) - 2), "
            "i -> struct(element_at(__t, i) as w1, "
            "element_at(__t, i + 1) as w2, "
            "element_at(__t, i + 2) as w3))"
        ),
    ).otherwise(F.expr("array()"))
    stream = base.select("__id", F.explode(triples).alias("p")).select(
        "__id", "p.w1", "p.w2", "p.w3"
    )
    tri = tri_types.select(
        F.col("w1").alias("__t1"), F.col("w2").alias("__t2"),
        F.col("w3").alias("__t3"), F.col("cnt").alias("__c123"),
    )
    # the expression tree is kept in one string so a future oracle can
    # mirror it verbatim (the score_kn_logprob convention)
    pc = (
        f"(coalesce(cast(__nb as double), 0.5) "
        f"/ cast({t_bitypes} as double))"
    )
    pmid = (
        f"CASE WHEN __nmid IS NOT NULL THEN "
        f"greatest(cast(coalesce(__ncb, 0) as double) - {d_lit}, "
        f"cast(0 as double)) / cast(__nmid as double) "
        f"+ ({d_lit} * cast(__nfm as double) / cast(__nmid as double)) "
        f"* {pc} ELSE {pc} END"
    )
    lp = (
        f"CASE WHEN __c12 IS NOT NULL THEN "
        f"ln(greatest(cast(coalesce(__c123, 0) as double) - {d_lit}, "
        f"cast(0 as double)) / cast(__c12 as double) "
        f"+ ({d_lit} * cast(greatest(coalesce(__nfh, 0), 1) as double) "
        f"/ cast(__c12 as double)) * ({pmid})) "
        f"ELSE ln({pmid}) END"
    )
    scored = (
        stream.join(
            tri,
            (F.col("w1") == F.col("__t1")) & (F.col("w2") == F.col("__t2"))
            & (F.col("w3") == F.col("__t3")),
            "left",
        )
        .join(
            ctx2,
            (F.col("w1") == F.col("__x1")) & (F.col("w2") == F.col("__x2")),
            "left",
        )
        .join(
            nf_hi,
            (F.col("w1") == F.col("__h1")) & (F.col("w2") == F.col("__h2")),
            "left",
        )
        .join(
            ncb,
            (F.col("w2") == F.col("__m2")) & (F.col("w3") == F.col("__m3")),
            "left",
        )
        .join(mid, F.col("w2") == F.col("__g2"), "left")
        .join(nb, F.col("w3") == F.col("__p3"), "left")
        .select(
            "__id",
            F.col("__c12").isNull().cast("int").alias("__oov"),
            F.round(F.expr(lp) * 1e10).cast("bigint").alias("__lp10"),
        )
    )
    return scored.groupBy(F.col("__id").alias("id")).agg(
        F.count("*").alias("n_trigrams"),
        F.sum("__oov").cast("bigint").alias("n_oov_ctx"),
        F.round(
            F.sum("__lp10") / (F.lit(1e10) * F.count("*")), 6
        ).alias("avg_logprob"),
    )


def train_ngram_lm(
    df: DataFrame, text_col: str, order: int = 5, lowercase: bool = True
) -> dict:
    """Count-based n-gram language model up to ``order`` (the KenLM
    5-gram shape CCNet actually ships): one count table per order
    1..n, ``(w1..wk, cnt)``, in ``lm["ngrams"][k]``. The returned dict
    also carries ``unigrams``/``bigrams`` (and ``trigrams`` when
    ``order >= 3``) aliases so every lower-order scorer accepts it
    unchanged.

    Scale shape: ONE tokenize + explode pass emits, per token
    position, the up-to-``order``-token slice starting there; each
    order's counts are one groupBy over that shared stream (map-side
    combine — the same near-linear class as :func:`train_bigram_lm`,
    just n aggregations instead of two). Model size is the n-gram-type
    vocabulary, not the corpus. At petabyte scale persist the exploded
    stream before the n aggregations (or let the lake's columnar cache
    absorb the re-reads); the logical plan reuses one scan either way.
    """
    n = int(order)
    if n < 2:
        raise DVConfigurationError("train_ngram_lm: order must be >= 2")
    toks = _lm_tokens(text_col, lowercase)
    base = df.select(toks.alias("__t"))
    grams_stream = base.select(
        F.explode(
            F.expr(f"transform(sequence(1, size(__t)), i -> slice(__t, i, {n}))")
        ).alias("__g")
    )
    ngrams: dict[int, DataFrame] = {}
    for k in range(1, n + 1):
        keys = [
            F.expr(f"element_at(__g, {i + 1})").alias(f"w{i + 1}")
            for i in range(k)
        ]
        ngrams[k] = (
            grams_stream.filter(F.size("__g") >= k)
            .select(*keys)
            .groupBy(*[f"w{i + 1}" for i in range(k)])
            .agg(F.count("*").alias("cnt"))
        )
    total = ngrams[1].agg(F.sum("cnt")).first()[0] or 0
    lm: dict = {
        "ngrams": ngrams,
        "order": n,
        "total_tokens": int(total),
        "lowercase": lowercase,
        # lower-order scorer compatibility aliases (unigram table keeps
        # the bigram trainer's single-column name)
        "unigrams": ngrams[1].withColumnRenamed("w1", "w"),
        "bigrams": ngrams[2],
    }
    if n >= 3:
        lm["trigrams"] = ngrams[3]
    return lm


_SCRIPT_CLASSES = (
    # (name, Java regex class, RE2 class — the oracle mirror's syntax).
    # Doubled backslashes: these land inside SQL string LITERALS, which
    # unescape one level before the regex engine sees them
    ("latin", r"\\p{IsLatin}", r"\\p{Latin}"),
    ("cyrillic", r"\\p{IsCyrillic}", r"\\p{Cyrillic}"),
    ("han", r"\\p{IsHan}", r"\\p{Han}"),
    ("arabic", r"\\p{IsArabic}", r"\\p{Arabic}"),
    ("digit", "0-9", "0-9"),
)


def script_profile(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document Unicode-script composition — the signal that
    catches mislabeled languages and mixed-script spam before any
    model-based language ID runs (a "French" page that is 60% Han is a
    labeling bug; a Latin page stuffed with Cyrillic homoglyphs is an
    evasion pattern): ``(id, n_script_chars, latin_frac,
    cyrillic_frac, han_frac, arabic_frac, digit_frac, other_frac,
    dominant_script)``.

    Fractions are over NON-WHITESPACE characters, on the 1e-6 grid
    (engine-replayable); ``dominant_script`` is the argmax with a
    fixed class order breaking ties; empty/whitespace-only docs get
    zero fractions and ``dominant_script = 'none'``. One projection —
    no shuffle, no Python; Java's ``\\p{IsScript}`` classes have exact
    RE2 ``\\p{Script}`` mirrors (parity pinned in the driver gate)."""
    s = F.col(text_col)
    nz = F.length(F.regexp_replace(s, r"\s", "")).cast("double")
    counts = {
        name: F.size(
            F.expr(
                f"regexp_extract_all({text_col}, '[{java}]', 0)"
            )
        ).cast("double")
        for name, java, _ in _SCRIPT_CLASSES
    }
    fracs = {
        name: F.when(nz > 0, F.round(c / nz, 6)).otherwise(F.lit(0.0))
        for name, c in counts.items()
    }
    other = F.when(
        nz > 0,
        F.round(
            (nz - sum(counts.values())) / nz, 6
        ),
    ).otherwise(F.lit(0.0))
    # dominant: argmax in the fixed class order (first listed wins
    # ties); a doc whose top class is zero-count is 'other'
    return df.select(
        F.col(id_col).alias("id"),
        nz.cast("bigint").alias("n_script_chars"),
        *[fracs[name].alias(f"{name}_frac") for name, _, _ in _SCRIPT_CLASSES],
        other.alias("other_frac"),
        F.expr(
            "CASE WHEN length(regexp_replace(" + text_col
            + ", '\\\\s', '')) = 0 THEN 'none' "
            + " ".join(
                f"WHEN size(regexp_extract_all({text_col}, '[{java}]', 0)) "
                f">= greatest("
                + ",".join(
                    f"size(regexp_extract_all({text_col}, '[{j2}]', 0))"
                    for _, j2, _ in _SCRIPT_CLASSES
                )
                + f") AND size(regexp_extract_all({text_col}, "
                f"'[{java}]', 0)) > 0 THEN '{name}'"
                for name, java, _ in _SCRIPT_CLASSES
            )
            + " ELSE 'other' END"
        ).alias("dominant_script"),
    )


def token_id_histogram(
    df: DataFrame,
    ids_col: str = "ids",
    vocab: dict | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Token-id frequency audit over an encoded/packed corpus —
    ``(id, cnt)`` plus the token string when ``vocab`` is supplied
    (broadcast inverse map; ids outside it — including a
    ``tokens_to_ids`` ``unk_id`` placeholder — get a NULL ``token``,
    so ``WHERE token IS NULL`` is exactly the unknown-rate probe a
    trainer runs before launch). ``top_k`` keeps the most frequent ids
    (ties broken by id for determinism).

    Scale shape: one explode + one map-side-combined groupBy on the id
    key (cardinality ≤ vocabulary size, so the result is
    vocabulary-bounded regardless of corpus size); no collect."""
    out = (
        df.select(F.explode(ids_col).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("cnt"))
    )
    if vocab is not None:
        from mallarddv_spark.operators.bpe import inverse_vocab_map

        out = (
            out.crossJoin(F.broadcast(
                inverse_vocab_map(df.sparkSession, vocab)
            ))
            .withColumn(
                "token",
                F.element_at("__ivmap", F.col("id").cast("bigint")),
            )
            .drop("__ivmap")
        )
    if top_k is not None:
        out = out.orderBy(F.desc("cnt"), F.asc("id")).limit(int(top_k))
    return out


def pack_bins_ffd(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    token_budget: int = 2048,
    n_shards: int | None = None,
    length_col: str | None = None,
) -> DataFrame:
    """Whole-document bin packing under a token budget by first-fit
    DECREASING — the padding-minimizing packing for training WITHOUT
    cross-document attention contamination (each document lands whole
    in exactly one bin; nothing is split across a budget boundary —
    the complement of :func:`pack_sequences`' concat-and-chunk, per
    Krell et al. 2021's packed-BERT analysis: FFD gets within ~1% of
    optimal bin count on natural length distributions).

    Returns ``(id, n_tokens, shard_id, bin_id, oversize)`` —
    ``bin_id`` is per-shard; ``oversize`` marks documents longer than
    the budget, each placed in its own bin (truncate or re-chunk them
    upstream; silently splitting would be pack_sequences' job).

    Scale shape: a global FFD is inherently sequential, so documents
    hash into ``n_shards`` independent shards (the
    :func:`pack_sequences` discipline — deterministic because both
    the shard hash and the in-shard (len DESC, id) order are functions
    of content). Each shard's pack is ONE fold expression over its
    collected doc list; the first-fit scan is O(docs × bins) lambda
    evaluations per shard (≈ µs each, interpreted) and the per-step
    state clone adds O(docs²) int copies, so size shards to keep
    docs × bins ≲ 10⁶ per shard — for the usual regime (mean doc ≪
    budget ⇒ bins ≈ docs × mean/budget) that means n_shards ≈
    corpus_docs / (~500–2000). Measured: 1M docs (mean 500 ids,
    budget 2048) across 2048 shards pack in 48 s on local[32] with
    0.5 % padding; the same corpus at 512 shards (≈2k docs × ~900 bins
    each) runs minutes-per-shard — the knob is shard count, which
    scales out. Shard folds run one per task (the explicit repartition
    below pins that — AQE would otherwise coalesce the tiny aggregate
    output into one partition and serialize every shard). Padding
    fraction is then
    ``1 − Σ tokens / (bins × budget)`` per shard, measurable from the
    output.

    ``length_col`` supplies a precomputed length instead of the
    whitespace ``token_count(text_col)`` — the pretraining shape, where
    the budget is in ENCODED TOKEN IDS (``size(ids)`` after
    ``bpe_encode`` + ``tokens_to_ids``), not whitespace words; a
    whitespace count under-fills bins by exactly the tokenizer's
    fertility ratio. Exactly one of ``text_col``/``length_col`` must be
    given."""
    spark = df.sparkSession
    if int(token_budget) < 1:
        raise DVConfigurationError("pack_bins_ffd: token_budget must be >= 1")
    if (text_col is None) == (length_col is None):
        raise DVConfigurationError(
            "pack_bins_ffd: pass exactly one of text_col (whitespace "
            "count) or length_col (precomputed, e.g. size(ids))"
        )
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    b = int(token_budget)
    base = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        (F.col(length_col) if length_col is not None
         else token_count(F.col(text_col)))
        .cast("bigint").alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(int(n_shards)))
        .cast("int")
        .alias("shard_id"),
    )
    # sort key: length DESC then id ASC — encode as struct(-len, id);
    # ids are cast to bigint (numeric-id contract, pinned by the fold
    # state type). The explicit repartition pins ONE task per shard
    # hash bucket: without it AQE coalesces the tiny (n_shards-row)
    # aggregate output into a single partition and every shard's fold
    # runs SERIALLY on one core (measured: 10 shards of 5k docs
    # serialized >7 min; parallel they are seconds each).
    docs = base.groupBy("shard_id").agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("n_tokens")).alias("nl"),
                                    F.col("id")))
        ).alias("ds")
    ).repartition(int(n_shards), "shard_id")
    # first-fit index over the bin-load array (1-based; 0 = no fit).
    # Spark's sequence(1, 0) DESCENDS, so an empty bin list must
    # short-circuit before the scan
    fit = (
        f"IF(size(st.bins) = 0, 0, "
        f"aggregate(sequence(1, size(st.bins)), 0, (f, j) -> "
        f"IF(f = 0 AND element_at(st.bins, j) - x.nl <= {b}, j, f)))"
    )
    # the fold state appends the chosen bin INDEX per doc (ds order) —
    # a plain int array, not (id, bin) structs: the per-step array
    # clone makes the walk O(docs²) in element copies per shard, and
    # int copies keep the constant small (struct elements measured
    # ~10× slower at 5k-doc shards). ds[i] ↔ asg[i] positionally, so
    # the ids zip back after the fold.
    place_existing = (
        "struct(transform(st.bins, (ld, i) -> "
        "IF(i = fv - 1, ld - x.nl, ld)) as bins, "
        "st.asg || array(fv - 1) as asg)"
    )
    place_new = (
        "struct(st.bins || array(-x.nl) as bins, "
        "st.asg || array(size(st.bins)) as asg)"
    )
    # bind the O(bins) first-fit scan ONCE per fold step: SQL lambdas
    # have no `let`, so a single-element transform scopes the scan
    # result as `fv` — interpreted-lambda mode would otherwise
    # re-evaluate {fit} up to 3× per doc (the IF condition plus both
    # sites in place_existing), tripling the per-shard budget constant
    step = (
        f"element_at(transform(array({fit}), fv -> "
        f"IF(fv = 0, {place_new}, {place_existing})), 1)"
    )
    walk = (
        f"aggregate(ds, struct(cast(array() as array<bigint>) as bins, "
        f"cast(array() as array<int>) as asg), "
        f"(st, x) -> {step})"
    )
    return (
        docs.withColumn("__asg", F.expr(f"({walk}).asg"))
        .select(
            "shard_id",
            F.explode(F.expr(
                "transform(sequence(1, size(ds)), i -> "
                "struct(element_at(ds, i).id as id, "
                "element_at(__asg, i) as bin))"
            )).alias("a"),
        )
        .select(
            F.col("a.id").alias("id"),
            "shard_id",
            F.col("a.bin").cast("bigint").alias("bin_id"),
        )
        .join(base.select("id", "n_tokens"), "id")
        .select(
            "id", "n_tokens", "shard_id", "bin_id",
            (F.col("n_tokens") > F.lit(b)).alias("oversize"),
        )
    )


def score_kn_ngram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: dict,
    discount: float = 0.75,
    order: int | None = None,
) -> DataFrame:
    """Per-document mean ``order``-gram log-probability under
    interpolated Kneser-Ney — the Chen & Goodman 1998 recursion at
    ARBITRARY order, generalizing :func:`score_kn_logprob` (order 2)
    and :func:`score_kn3_logprob` (order 3) to the KenLM 5-gram shape;
    at order 3 it reproduces the trigram scorer bit-for-bit
    (pytest-pinned), so the ``knlm`` gate semantics are unchanged.

    Level structure (highest order n = ``order``):

    * top: raw counts — ``max(c(ctx,w) − D, 0)/c(ctx) +
      (D · N1+(ctx·)/c(ctx)) · P_{n−1}``; unseen context falls through
      to ``P_{n−1}``.
    * middle k (1 < k < n): CONTINUATION counts from the (k+1)-gram
      TYPE table — numerator ``N1+(·u)`` over the k-gram suffix u,
      denominator ``N1+(·mid·)``, bonus weight the distinct
      continuations of mid; missing mid falls through to ``P_{k−1}``.
    * bottom: ``P_1(w) = N1+(·w)/|bigram types|`` with the 0.5-type
      OOV floor.

    Returns ``(id, n_ngrams, n_oov_ctx, avg_logprob)``; docs with
    fewer than ``order`` tokens score no row. Same 1e-10 integer-grid
    sum discipline — partition-order independent, engine-replayable.

    Scale shape: every statistic table is a groupBy aggregate of a
    type/count table (map-side combine, bounded tasks — never a
    per-key window); the lower-order suffix statistics all derive from
    the SAME per-order type tables, so each order contributes one
    aggregation exchange, reused by numerator and denominator. Scoring
    pays ``3(n−1) + 1`` hash joins on word keys + one groupBy on id;
    word keys are Zipf-skewed — the :func:`score_bigram_logprob` AQE
    skew-join note applies."""
    if not 0.0 < float(discount) < 1.0:
        raise DVConfigurationError(
            "score_kn_ngram_logprob: discount must be in (0, 1)"
        )
    grams = lm.get("ngrams")
    if not grams:
        raise DVConfigurationError(
            "score_kn_ngram_logprob: model lacks ngram tables — train "
            "with train_ngram_lm"
        )
    n = int(order if order is not None else lm["order"])
    if n < 2 or n > int(lm["order"]):
        raise DVConfigurationError(
            f"score_kn_ngram_logprob: order must be in [2, {lm['order']}]"
        )
    d_lit = repr(float(discount))
    toks = _lm_tokens(text_col, bool(lm.get("lowercase", True)))
    t_bitypes = int(grams[2].count()) or 1

    base = df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
    fields = ", ".join(
        f"element_at(__t, i + {j}) as w{j + 1}" for j in range(n)
    )
    tuples = F.when(
        F.size("__t") >= n,
        F.expr(
            f"transform(sequence(1, size(__t) - {n - 1}), "
            f"i -> struct({fields}))"
        ),
    ).otherwise(F.expr("array()"))
    stream = base.select("__id", F.explode(tuples).alias("p")).select(
        "__id", *[F.col(f"p.w{i + 1}").alias(f"w{i + 1}") for i in range(n)]
    )

    def _eq(cols_stream, cols_table):
        cond = None
        for a, b in zip(cols_stream, cols_table):
            c = F.col(a) == F.col(b)
            cond = c if cond is None else (cond & c)
        return cond

    # --- top level: raw n-gram counts, raw context counts, N1+(ctx .)
    topk = [f"w{i + 1}" for i in range(n)]
    ctxk = topk[:-1]
    top = grams[n].select(
        *[F.col(f"w{i + 1}").alias(f"__tN{i + 1}") for i in range(n)],
        F.col("cnt").alias("__cN"),
    )
    ctx = grams[n - 1].select(
        *[F.col(f"w{i + 1}").alias(f"__xN{i + 1}") for i in range(n - 1)],
        F.col("cnt").alias("__ctxN"),
    )
    nf_top = (
        grams[n].groupBy(*ctxk).agg(F.count("*").alias("__nfN"))
        .select(
            *[F.col(f"w{i + 1}").alias(f"__hN{i + 1}") for i in range(n - 1)],
            "__nfN",
        )
    )
    scored = (
        stream.join(top, _eq(topk, [f"__tN{i + 1}" for i in range(n)]), "left")
        .join(ctx, _eq(ctxk, [f"__xN{i + 1}" for i in range(n - 1)]), "left")
        .join(
            nf_top, _eq(ctxk, [f"__hN{i + 1}" for i in range(n - 1)]), "left"
        )
    )
    # --- middle levels k = n-1 .. 2: continuation stats from the
    # (k+1)-gram TYPE table; the stream's level-k suffix is positions
    # n-k+1..n (1-based), its mid (context) positions n-k+1..n-1
    for k in range(n - 1, 1, -1):
        ttab = grams[k + 1]  # type table: one row per (k+1)-gram
        suffix = [f"w{i + 1}" for i in range(n - k, n)]
        midkeys = suffix[:-1]
        num = (
            ttab.groupBy(*[f"w{i + 2}" for i in range(k)])
            .agg(F.count("*").alias(f"__ncb{k}"))
            .select(
                *[
                    F.col(f"w{i + 2}").alias(f"__m{k}_{i + 1}")
                    for i in range(k)
                ],
                f"__ncb{k}",
            )
        )
        mid = (
            ttab.groupBy(*[f"w{i + 2}" for i in range(k - 1)])
            .agg(
                F.count("*").alias(f"__nmid{k}"),
                F.countDistinct(f"w{k + 1}").alias(f"__nfm{k}"),
            )
            .select(
                *[
                    F.col(f"w{i + 2}").alias(f"__g{k}_{i + 1}")
                    for i in range(k - 1)
                ],
                f"__nmid{k}", f"__nfm{k}",
            )
        )
        scored = scored.join(
            num, _eq(suffix, [f"__m{k}_{i + 1}" for i in range(k)]), "left"
        ).join(
            mid, _eq(midkeys, [f"__g{k}_{i + 1}" for i in range(k - 1)]),
            "left",
        )
    # --- bottom level: N1+(. w) over bigram types
    nb = (
        grams[2].groupBy("w2").agg(F.count("*").alias("__nb"))
        .select(F.col("w2").alias("__p1"), "__nb")
    )
    scored = scored.join(nb, F.col(f"w{n}") == F.col("__p1"), "left")

    # --- the nested CASE expression, innermost (unigram) out; the tree
    # mirrors score_kn3_logprob verbatim at n = 3 (identity-pinned)
    p = (
        f"(coalesce(cast(__nb as double), 0.5) "
        f"/ cast({t_bitypes} as double))"
    )
    for k in range(2, n):
        p = (
            f"CASE WHEN __nmid{k} IS NOT NULL THEN "
            f"greatest(cast(coalesce(__ncb{k}, 0) as double) - {d_lit}, "
            f"cast(0 as double)) / cast(__nmid{k} as double) "
            f"+ ({d_lit} * cast(__nfm{k} as double) "
            f"/ cast(__nmid{k} as double)) * {p} ELSE {p} END"
        )
    lp = (
        f"CASE WHEN __ctxN IS NOT NULL THEN "
        f"ln(greatest(cast(coalesce(__cN, 0) as double) - {d_lit}, "
        f"cast(0 as double)) / cast(__ctxN as double) "
        f"+ ({d_lit} * cast(greatest(coalesce(__nfN, 0), 1) as double) "
        f"/ cast(__ctxN as double)) * ({p})) "
        f"ELSE ln({p}) END"
    )
    scored = scored.select(
        "__id",
        F.col("__ctxN").isNull().cast("int").alias("__oov"),
        F.round(F.expr(lp) * 1e10).cast("bigint").alias("__lp10"),
    )
    return scored.groupBy(F.col("__id").alias("id")).agg(
        F.count("*").alias("n_ngrams"),
        F.sum("__oov").cast("bigint").alias("n_oov_ctx"),
        F.round(
            F.sum("__lp10") / (F.lit(1e10) * F.count("*")), 6
        ).alias("avg_logprob"),
    )


def perplexity_buckets(
    scored: DataFrame,
    score_col: str = "avg_logprob",
    id_col: str = "id",
    n_buckets: int = 3,
    by: str | None = None,
    labels: tuple = ("head", "middle", "tail"),
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank documents
    by LM score and cut the ranking into ``n_buckets`` equal-count tiles —
    bucket 1 ("head") is the most fluent tier, the usual high-quality
    pretraining slice. ``by`` partitions the ranking (CCNet buckets per
    language, so every language keeps its own head regardless of absolute
    perplexity). Input is any scored frame (e.g.
    :func:`score_bigram_logprob` output); adds ``ppl_bucket`` (1-based)
    and ``ppl_label``.

    Determinism (exact mode): ties and tile boundaries break on ascending
    id; NULL scores (docs too short to judge) sort last, i.e. into the
    tail — the conservative placement for an unjudgeable doc in a quality
    split.

    Scale shape — this is the one operator in the family with an exact /
    approximate fork, and the fork matters:

    * ``exact=True`` (default; the oracle-replayable mode) is an ntile
      window. A window partition must fit ONE task, and ``by=lang`` only
      divides the corpus by a small Zipf-skewed constant — the English
      partition of a 100 TB corpus is one task sorting ~40% of the
      corpus. Exact mode is for small/medium corpora and gate replay,
      NOT the 100 TB path.
    * ``exact=False`` is the corpus-scale mode and matches what CCNet
      itself does (quantile *thresholds*, not a global rank): per-group
      ``percentile_approx`` boundaries — a tiny (#groups × n_buckets-1)
      table computed with map-side sketch merging, broadcast back — and
      bucket assignment becomes a pure projection. No task ever holds
      more than a partition's worth of rows. Boundary-adjacent documents
      may land one bucket off versus exact (sketch ``accuracy`` bounds
      the rank error) and value-ties share a bucket instead of splitting
      at the tile edge; NULL scores still go to the tail.
    """
    if labels and len(labels) != int(n_buckets):
        raise DVConfigurationError(
            f"perplexity_buckets: {len(labels)} labels for {n_buckets} buckets"
        )
    nb = int(n_buckets)
    if exact:
        w = Window.partitionBy(*([by] if by else [])).orderBy(
            F.desc_nulls_last(score_col), F.asc(id_col)
        )
        out = scored.withColumn("ppl_bucket", F.ntile(nb).over(w))
    else:
        # descending thresholds at the (n-1)/n .. 1/n quantiles; bucket =
        # 1 + how many thresholds the score falls below (NULL → tail)
        probs = F.array(*[F.lit((nb - i) / nb) for i in range(1, nb)])
        groups = [by] if by else []
        bounds = scored.groupBy(*groups).agg(
            F.percentile_approx(score_col, probs, F.lit(int(accuracy))).alias(
                "__bounds"
            )
        )
        joined = (
            scored.join(F.broadcast(bounds), groups, "left")
            if groups
            else scored.crossJoin(F.broadcast(bounds))
        )
        below = F.size(
            F.filter("__bounds", lambda t: F.col(score_col) < t)
        )
        out = joined.withColumn(
            "ppl_bucket",
            F.when(F.col(score_col).isNull(), F.lit(nb)).otherwise(
                F.lit(1) + F.greatest(below, F.lit(0))
            ),
        ).drop("__bounds")
    if labels:
        out = out.withColumn(
            "ppl_label",
            F.element_at(F.array(*[F.lit(x) for x in labels]), F.col("ppl_bucket")),
        )
    return out
