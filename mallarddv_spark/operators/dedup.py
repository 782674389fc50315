"""Deduplication operators for large-scale corpus curation.

Four families, all DataFrame-native (JVM expressions in the hot path, no
Python UDFs), designed so no step is O(n²) in the corpus:

* **exact**      — content-hash groupBy; one shuffle on a 16-byte key.
* **MinHash-LSH** — shingle → K-permutation MinHash signature → band
  buckets → candidate pairs only within buckets → exact-Jaccard rerank.
  At 100 TB: the shuffle key is the (band, band_hash) pair, so work scales
  with Σ bucket² not n²; frequent-shingle document-frequency capping bounds
  pathological buckets.
* **SimHash**    — 64-bit signature via per-bit token votes; near-dups have
  small Hamming distance; banding the 64 bits into k chunks gives exact
  candidate recall for distance < k.
* **embedding**  — cosine near-dup via normalized vectors; exact
  (broadcast) for small corpora, random-hyperplane bucketing at scale.

The driver-checked oracle variants of these live in ``suite.py``; this
module is the reusable API over arbitrary columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mallarddv_spark.exceptions import DVConfigurationError

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MH_P = 1_000_000_007

#: portable 60-bit integer from md5 — identical in any engine with md5 +
#: hex→int conversion (DuckDB: ('0x' || substr(md5(s),1,15))::bigint), so
#: pipelines built on it are cross-engine oracle-checkable. xxhash64 stays
#: the default: it is JVM-native and ~3× cheaper than md5 at corpus scale.
_MD5_INT = "cast(conv(substr(md5({col}),1,15),16,10) as bigint)"


def _hash_int(col: str, hash_mode: str) -> F.Column:
    if hash_mode == "md5":
        return F.expr(_MD5_INT.format(col=col))
    if hash_mode == "xxhash64":
        return F.abs(F.xxhash64(col))
    raise ValueError(f"unknown hash_mode {hash_mode!r} (md5|xxhash64)")


def _shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Distinct word-k-gram shingles per document. k=1 → unigram tokens."""
    toks = F.split(F.trim(text_col), r"\s+")
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).filter(
        F.size("toks") >= k
    )
    if k == 1:
        sh = F.explode(F.array_distinct(F.col("toks")))
    else:
        parts = ", ".join(f"toks[i+{j}]" for j in range(k))
        sh = F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(toks)-{k}), i -> concat_ws(' ', {parts}))"
                )
            )
        )
    return d.select("doc_id", sh.alias("shingle"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_size: int = 3,
    max_shingle_df: int | None = None,
    hash_mode: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """K-permutation MinHash signatures as columns ``sig_0..sig_{K-1}``.

    ``shingles`` injects a precomputed :func:`_shingles` frame (same
    ``shingle_size``) — see :func:`minhash_lsh_pairs`.

    Shingle ints come from xxhash64 by default (JVM, fast); permutations
    are universal hashes ``(a·x + b) mod p``. ``hash_mode='md5'`` swaps in
    a portable md5-derived 60-bit int so the whole signature pipeline is
    reproducible in other engines (used by the oracle-checked gate
    queries). ``max_shingle_df`` drops shingles appearing in more than N
    documents — at scale these contribute nothing to discrimination but
    dominate bucket sizes.
    """
    sh = (
        shingles
        if shingles is not None
        else _shingles(df, id_col, text_col, shingle_size)
    )
    if max_shingle_df:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(
            freq.filter(F.col("df") <= max_shingle_df).select("shingle"),
            on="shingle",
            how="left_semi",
        )
    x = (_hash_int("shingle", hash_mode) % _MH_P).alias("x")
    exploded = sh.select("doc_id", x)
    # each permutation min as ONE parsed SQL expression: the per-Column
    # construction (lit * col + lit, % , alias — ~8 py4j round-trips per
    # permutation) measured ~2.5 s of pure driver↔JVM chatter for 32
    # permutations at call time; the parsed text is the same expression
    aggs = [
        F.expr(
            f"min(({97 + 13 * i} * x + {911 + 7919 * i}) % {_MH_P}) "
            f"AS sig_{i}"
        )
        for i in range(num_perm)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def optimal_lsh_params(
    num_perm: int,
    threshold: float,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """The standard LSH banding optimizer (the published datasketch /
    Leskovec-Rajaraman-Ullman procedure): over every ``(bands, rows)``
    with ``bands·rows ≤ num_perm``, numerically integrate the S-curve
    ``P(candidate | J=s) = 1-(1-s^rows)^bands`` to get the false-positive
    mass below ``threshold`` and the false-negative mass above it, and
    return the ``(bands, rows_per_band)`` minimizing their weighted sum.
    Driver-side arithmetic over ≤ num_perm² cells — microseconds; use it
    to pick ``bands`` instead of guessing (or pass ``bands="auto"`` to
    :func:`minhash_lsh_pairs`). Lower thresholds want more bands / fewer
    rows; weight ``fn_weight`` up when recall matters more than candidate
    volume (dedup usually does)."""
    if not 0.0 < threshold < 1.0:
        raise DVConfigurationError(
            f"optimal_lsh_params: threshold must be in (0, 1), "
            f"got {threshold}"
        )
    if fp_weight < 0 or fn_weight < 0 or fp_weight + fn_weight <= 0:
        raise DVConfigurationError(
            "optimal_lsh_params: weights must be non-negative and not "
            "both zero"
        )
    steps = 200
    best = None
    for b in range(1, int(num_perm) + 1):
        max_r = int(num_perm) // b
        for r in range(1, max_r + 1):
            fp = 0.0
            dx = threshold / steps
            for i in range(steps):
                s = (i + 0.5) * dx
                fp += (1.0 - (1.0 - s ** r) ** b) * dx
            fn = 0.0
            dx = (1.0 - threshold) / steps
            for i in range(steps):
                s = threshold + (i + 0.5) * dx
                fn += (1.0 - (1.0 - (1.0 - s ** r) ** b)) * dx
            err = fp_weight * fp + fn_weight * fn
            if best is None or err < best[0]:
                best = (err, b, r)
    return best[1], best[2]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int | str = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
    max_shingle_df: int | None = None,
    hash_mode: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs above a Jaccard ``threshold`` via banded LSH.

    ``shingles`` optionally injects a precomputed :func:`_shingles`
    frame (``(doc_id, shingle)``, distinct per document, built at the
    SAME ``shingle_size``) — a pure sharing hook: the shingle explode
    otherwise runs once for the signature stage and three more times
    inside the exact-Jaccard rerank (set sizes + both join sides), so a
    caller that materializes it once (e.g. an eager localCheckpoint)
    pays the corpus explode exactly once per job. Results are identical
    by construction. The ``max_shingle_df`` cut still applies on top.

    Pipeline: signatures → per-band bucket hash → self-join *within*
    (band, bucket) → distinct candidate pairs → exact Jaccard rerank on the
    candidates only. Signature agreement ≈ Jaccard, so with r rows/band the
    capture probability is 1-(1-t^r)^bands — tune bands/num_perm for recall,
    or pass ``bands="auto"`` to let :func:`optimal_lsh_params` pick the
    banding that minimizes the balanced FP+FN mass for this threshold
    (only the first ``bands·rows`` of the ``num_perm`` signature slots are
    then consumed — the optimizer may leave a remainder unused).
    ``hash_mode='md5'`` makes the candidate generation engine-portable (see
    :func:`minhash_signatures`). Returns (doc_a, doc_b, jaccard).
    """
    if bands == "auto":
        bands, rows_per_band = optimal_lsh_params(num_perm, threshold)
    elif isinstance(bands, str):
        raise DVConfigurationError(
            f"minhash_lsh_pairs: bands must be an int or 'auto', "
            f"got {bands!r}"
        )
    else:
        rows_per_band = num_perm // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_perm, shingle_size, max_shingle_df,
        hash_mode, shingles=shingles,
    )
    # one parsed expression for the whole band array (not a Column build
    # per band — py4j construction cost, see minhash_signatures)
    branches = ", ".join(
        f"struct({b} AS band, md5(concat_ws('-', "
        + ", ".join(
            f"sig_{b * rows_per_band + j}" for j in range(rows_per_band)
        )
        + ")) AS bh)"
        for b in range(bands)
    )
    buckets = sigs.select(
        "doc_id", F.expr(f"explode(array({branches})) AS bk")
    ).select("doc_id", "bk.band", "bk.bh")

    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _exact_jaccard(
        df, id_col, text_col, shingle_size, candidates, threshold,
        max_shingle_df=max_shingle_df, shingles=shingles,
    )


def _exact_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    candidates: DataFrame,
    threshold: float,
    max_shingle_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs only (set sizes + shared-shingle
    counts; never materializes shingle sets per pair).
    ``shingles`` injects a precomputed :func:`_shingles` frame — see
    :func:`minhash_lsh_pairs`.

    ``max_shingle_df`` restricts the shingle universe to shingles appearing
    in ≤ N documents — the same DF-cut the signature stage applies, so the
    rerank scores pairs over the universe the candidates were drawn from
    and the per-shingle join fan-out stays bounded at scale."""
    sh = (
        shingles
        if shingles is not None
        else _shingles(df, id_col, text_col, shingle_size)
    )
    if max_shingle_df:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(
            freq.filter(F.col("df") <= max_shingle_df).select("shingle"),
            on="shingle",
            how="left_semi",
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared candidate machinery for the exact set-overlap family
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): per-pair
    shingle-intersection counts with both set sizes attached —
    ``(doc_a, doc_b, inter, sz_a, sz_b)``, doc_a < doc_b, over the
    ``max_shingle_df``-capped shingle universe."""
    # Shingles are hashed to int64 IN the n-gram transform (xxhash64 over
    # the token triple — no concat string ever built): the groupBy key is
    # 8 bytes instead of a ~30-byte string and the scan stays one pass.
    # Distinctness is preserved modulo 64-bit collisions (~1e-8 at 1e6
    # shingles), so counts match the string-shingle oracle exactly.
    toks = F.split(F.trim(text_col), r"\s+")
    args = ", ".join(f"toks[i+{j}]" for j in range(shingle_size))
    sh = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= shingle_size)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(toks)-{shingle_size}), "
                        f"i -> xxhash64({args}))"
                    )
                )
            ).alias("shingle"),
        )
    )
    if max_shingle_df:
        # drop over-cap shingles BEFORE collect_list, via a groupBy count
        # + semi-join (map-side partial counts, bounded tasks): filtering
        # on size(docs) after the fact would first accumulate a hot
        # boilerplate shingle's entire doc list — 10^9 entries for a
        # "the of and" shingle at web scale — into ONE aggregation
        # buffer, the same single-task hazard class as a per-key window
        below_cap = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= int(max_shingle_df))
            .select("shingle")
        )
        sh = sh.join(below_cap, "shingle", "left_semi")
    by_sh = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    # set sizes re-derived from the capped aggregation itself (one shingle
    # scan total; the exchange below it is reused by the pair branch)
    sizes = (
        by_sh.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    # docs is sorted ascending, so nested index slicing yields each
    # unordered pair exactly once with doc_a < doc_b
    pairs = (
        by_sh.filter(F.size("docs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(slice(docs, 1, size(docs)-1), (x, i) -> "
                    "transform(slice(docs, i+2, size(docs)-i-1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        # SHUFFLE_HASH pins a shuffled hash join for the size re-attach:
        # Catalyst's static size estimate for `inter` (explode → groupBy)
        # is bogus-small, and at 10x the bench SF it statically chose to
        # BROADCAST the corpus-quadratic pair side — driver OOM (caught
        # by the sf1 stress pass). Broadcasting `sizes` instead would be
        # right locally but is one-row-per-document — not broadcastable
        # on a billion-doc corpus; the shuffled hash join is the shape
        # that holds at every scale (inter re-shuffles by doc key, sizes
        # is the per-partition build side).
        inter.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.3,
    max_shingle_df: int | None = 1000,
    pair_counts: DataFrame | None = None,
) -> DataFrame:
    """All near-dup pairs with exact n-gram Jaccard ≥ ``threshold``.

    ``pair_counts`` optionally injects a precomputed
    ``_shingle_pair_counts`` frame (a pure sharing hook — the whole
    candidate machinery is identical for the Jaccard and containment
    scorers, so one materialization can feed both).

    Candidate pairs come from grouping by shingle and exploding intra-group
    combinations JVM-side — the shingle subtree is aggregated once per use
    (no exploded self-join, whose shuffle dominated the join-based shape),
    and per-shingle fan-out is C(df, 2), bounded by ``max_shingle_df``.

    ``max_shingle_df`` is the document-frequency cut: shingles appearing in
    more than N documents are dropped from the universe (both from pair
    generation and from the sizes the Jaccard is computed over). Hot
    shingles — "the of and" at web scale — contribute nothing to
    discrimination but make pair fan-out quadratic in their document count;
    the cut is what keeps this runnable on a 100 TB corpus. Pairs similar
    *only* through dropped shingles are missed (by design); scores are
    Jaccard over the capped universe.

    Returns (doc_a, doc_b, inter, sz_a, sz_b, jaccard), doc_a < doc_b.
    """
    base = (
        pair_counts
        if pair_counts is not None
        else _shingle_pair_counts(
            df, id_col, text_col, shingle_size, max_shingle_df
        )
    )
    return (
        base
        .withColumn(
            "jaccard",
            F.expr("round(cast(inter as double) / (sz_a + sz_b - inter), 6)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    pair_counts: DataFrame | None = None,
) -> DataFrame:
    """Document-pair INCLUSION detection: asymmetric shingle containment
    ``C(A in B) = |S(A) ∩ S(B)| / |S(A)|`` (Broder 1997's *containment*,
    as distinct from the *resemblance* his MinHash estimates).

    This is the dedup axis Jaccard structurally misses: a 100-token
    article quoted verbatim inside a 10 000-token page has Jaccard
    ≈ 0.01 — invisible to :func:`ngram_jaccard_pairs` and to banded
    MinHash-LSH at any usable threshold — but containment 1.0. Training
    corpora are full of exactly this shape (aggregator pages, quote
    farms, partial crawls of the same article), and keeping both the
    fragment and its superset double-counts the shared text.

    Returns ``(doc_a, doc_b, inter, sz_a, sz_b, containment_a,
    containment_b)`` with ``doc_a < doc_b``, ``containment_a`` =
    fraction of A's shingles found in B (and vice versa), keeping pairs
    where EITHER direction reaches ``threshold``. Scores are over the
    ``max_shingle_df``-capped universe (same corpus-scale contract as
    the Jaccard variant: hot boilerplate shingles are cut before the
    quadratic fan-out, and the cap count is a groupBy, never a per-key
    window). Pair generation is exact within the capped universe, so
    the operator replays bit-for-bit in ANSI SQL (the driver oracle);
    downstream policy typically drops the CONTAINED side
    (``sz_a <= sz_b ? doc_a : doc_b``) to keep the superset document.
    """
    base = (
        pair_counts
        if pair_counts is not None
        else _shingle_pair_counts(
            df, id_col, text_col, shingle_size, max_shingle_df
        )
    )
    return (
        base.withColumn(
            "containment_a",
            F.expr("round(cast(inter as double) / sz_a, 6)"),
        )
        .withColumn(
            "containment_b",
            F.expr("round(cast(inter as double) / sz_b, 6)"),
        )
        .filter(
            F.greatest("containment_a", "containment_b") >= float(threshold)
        )
        .select(
            "doc_a", "doc_b", "inter", "sz_a", "sz_b",
            "containment_a", "containment_b",
        )
    )


# ---------------------------------------------------------------------------
# Persisted MinHash index — incremental near-dup at corpus scale
# ---------------------------------------------------------------------------


def _band_rows(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Explode per-doc signatures into (doc_id, band, bh) bucket rows —
    the same banding as :func:`minhash_lsh_pairs`."""
    rows_per_band = num_perm // bands
    band_cols = []
    for b in range(bands):
        cols = [f"sig_{b * rows_per_band + j}" for j in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("-", *cols)).alias("bh"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bh")


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_shingle_df: int | None = None,
    hash_mode: str = "xxhash64",
) -> dict:
    """Materialize a MinHash near-dup index on disk: per-doc signatures
    plus banded bucket rows, so every future crawl batch is checked against
    the corpus WITHOUT recomputing a single history signature.

    Layout under ``path``::

        sigs/*.parquet    (doc_id, sig_0..sig_{num_perm-1})
        bands/*.parquet   (doc_id, band, bh)
        params/*.parquet  (num_perm, bands, shingle_size, max_shingle_df,
                           hash_mode) — pinned so appends/probes can never
                           silently mix incompatible signatures

    This is the daily-crawl shape :func:`curation.incremental_dedup` covers
    for EXACT duplicates, extended to near-dups: the 100 TB history
    contributes one-off signature computation and then only (band, bh)
    join probes.
    """
    spark = df.sparkSession
    sigs = minhash_signatures(
        df, id_col, text_col, num_perm, shingle_size, max_shingle_df, hash_mode
    )
    sigs.write.mode("overwrite").parquet(f"{path}/sigs")
    sigs = spark.read.parquet(f"{path}/sigs")  # reuse the written pass
    _band_rows(sigs, num_perm, bands).write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    from mallarddv_spark.functions.litframe import literal_frame

    literal_frame(
        spark,
        [(num_perm, bands, shingle_size, max_shingle_df, hash_mode)],
        "num_perm int, bands int, shingle_size int, "
        "max_shingle_df int, hash_mode string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")
    return {"path": path, "num_perm": num_perm, "bands": bands}


def _minhash_index_params(spark, path: str) -> dict:
    # opening the index heals any compaction interrupted mid-swap first,
    # so appends/probes always resolve a complete sigs/bands copy
    heal_minhash_index(spark, path)
    row = spark.read.parquet(f"{path}/params").first()
    return row.asDict()


def minhash_index_append(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new batch's signatures + band rows to the stored index
    (parameters come from the index itself — incompatible mixes are
    impossible). Caller dedups ids; appending an existing doc_id simply
    stores a second identical signature.

    ``bands`` is written before ``sigs``: a stream's replay fence reads
    ``sigs``, so a crash between the two appends leaves the batch
    unfenced and its replay re-appends it. The orphan band rows are
    harmless meanwhile — probes inner-join ``sigs``, so a band row without
    its signature never hits — and compaction dedups ``(doc_id, band)``."""
    spark = df.sparkSession
    p = _minhash_index_params(spark, path)
    sigs = minhash_signatures(
        df, id_col, text_col, p["num_perm"], p["shingle_size"],
        p["max_shingle_df"], p["hash_mode"],
    )
    _band_rows(sigs, p["num_perm"], p["bands"]).write.mode("append").parquet(
        f"{path}/bands"
    )
    sigs.write.mode("append").parquet(f"{path}/sigs")


_INDEX_SUBDIRS = ("sigs", "bands")


def heal_minhash_index(spark, path: str) -> dict[str, str]:
    """Resolve a :func:`minhash_index_compact` interrupted mid-swap. The
    swap is rename-out → rename-in → drop-backup per subdirectory, so the
    leftover ``__pre_compact`` backup / ``__compact`` staging directory is
    the detectable signal. States, in swap order (mirrors the table
    protocol in ``sources.layout.heal_compaction``):

    * live + staged, no backup → crashed during/after the staged write:
      drop the incomplete staged copy (``"dropped_staged"``);
    * backup + live → crashed after the swap, before the backup drop: the
      compacted directory is live — drop the backup (``"dropped_backup"``);
    * backup, no live → crashed between rename-out and rename-in: restore
      the backup (``"restored_backup"``), leaving any staged directory for
      the next compaction to overwrite.

    Returns {subdir: action}; empty when the index is clean. Invoked
    automatically whenever the index is opened (append / probe / compact)
    and by the facade's ``recover(minhash_index_paths=...)``.
    """
    from mallarddv_spark.sources import layout

    healed: dict[str, str] = {}
    for sub in _INDEX_SUBDIRS:
        action = layout.heal_dir_swap(spark, f"{path}/{sub}")
        if action:
            healed[sub] = action
    return healed


def minhash_index_compact(spark, path: str) -> dict:
    """Maintenance for an append-heavy index: collapse duplicate
    ``doc_id`` rows (re-appended documents store identical signatures —
    harmless for correctness, wasteful for probe fan-out) and coalesce
    the small files the appends accumulated.

    Crash-safe: each subdirectory is rewritten into a ``__compact``
    staging directory, then swapped live via rename-out (live →
    ``__pre_compact``) → rename-in (staged → live) → drop-backup — the
    same protocol ``sources.layout.rewrite_table`` uses for catalog
    tables, expressed with Hadoop FS directory renames. A crash at any
    point leaves a complete copy resolvable by :func:`heal_minhash_index`
    (which also runs here first, so a torn previous compact self-heals).
    The two subdirectories swap sequentially; a crash between them leaves
    ``sigs`` compacted and ``bands`` not — both fully readable, and the
    dedup is idempotent so re-running completes the job. Probes holding
    the old file listing finish on the old files (renames don't delete
    data); probes that *open* mid-swap heal first and resolve a complete
    copy.
    """
    import math

    from mallarddv_spark.sources import layout

    out: dict = {"healed": heal_minhash_index(spark, path)}
    for sub, key_cols in (("sigs", ["doc_id"]), ("bands", ["doc_id", "band"])):
        d = f"{path}/{sub}"
        df = spark.read.parquet(d)
        before = df.count()
        deduped = df.dropDuplicates(key_cols)
        n_parts = max(1, math.ceil(before / 4_000_000))
        staged = f"{d}__compact"
        deduped.coalesce(n_parts).write.mode("overwrite").parquet(staged)
        after = spark.read.parquet(staged).count()
        layout.swap_dir_live(spark, d)
        out[sub] = {"rows_before": before, "rows_after": after}
    return out


def neardup_against_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """Probe a new batch against a :func:`build_minhash_index` corpus:
    returns ``(new_id, index_id, est_jaccard)`` for every stored document
    sharing ≥1 LSH band with a batch document and whose signature-agreement
    Jaccard estimate reaches ``threshold``.

    Scale shape mirrors ``incremental_dedup``: the batch side (signatures
    AND band rows) is broadcast, the stored index streams through two
    BroadcastHashJoins — history never shuffles. The estimate is plain
    MinHash agreement (fraction of equal signature components) because the
    index intentionally does not retain text; rerank survivors against the
    source-of-truth corpus if exact Jaccard is needed.
    """
    spark = df.sparkSession
    p = _minhash_index_params(spark, path)
    sigs = minhash_signatures(
        df, id_col, text_col, p["num_perm"], p["shingle_size"],
        p["max_shingle_df"], p["hash_mode"],
    )
    new_bands = _band_rows(sigs, p["num_perm"], p["bands"]).select(
        F.col("doc_id").alias("new_id"), "band", "bh"
    )
    stored_bands = spark.read.parquet(f"{path}/bands").select(
        F.col("doc_id").alias("index_id"), "band", "bh"
    )
    candidates = (
        stored_bands.join(F.broadcast(new_bands), ["band", "bh"])
        .filter(F.col("index_id") != F.col("new_id"))
        .select("new_id", "index_id")
        .distinct()
    )
    n = p["num_perm"]
    new_sigs = sigs.select(
        F.col("doc_id").alias("new_id"),
        F.array(*[f"sig_{i}" for i in range(n)]).alias("new_sig"),
    )
    stored_sigs = spark.read.parquet(f"{path}/sigs").select(
        F.col("doc_id").alias("index_id"),
        F.array(*[f"sig_{i}" for i in range(n)]).alias("idx_sig"),
    )
    est = F.expr(
        "round(aggregate(zip_with(new_sig, idx_sig, (a, b) -> "
        f"CASE WHEN a = b THEN 1.0 ELSE 0.0 END), cast(0.0 as double), "
        f"(acc, x) -> acc + x) / {n}, 6)"
    )
    return (
        stored_sigs.join(F.broadcast(candidates), "index_id")
        .join(F.broadcast(new_sigs), "new_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "index_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_bits(hash_mode: str) -> int:
    """Signature width per hash mode: xxhash64 fills 64 bits; the portable
    md5 path derives a 60-bit int (15 hex chars — the widest that fits a
    signed bigint cleanly in every engine)."""
    return 60 if hash_mode == "md5" else 64


def simhash64(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """SimHash per document (token votes, JVM-only): 64-bit via xxhash64,
    60-bit via the portable md5 mode.

    Near-duplicates differ in few bits; pair generation at scale bands the
    bits into chunks (pigeonhole: Hamming distance < k ⇒ some chunk of
    k equal) — see :func:`simhash_pairs`.
    """
    bits = _simhash_bits(hash_mode)
    h = (
        F.expr(_MD5_INT.format(col="tok"))
        if hash_mode == "md5"
        else F.xxhash64("tok")  # raw signed value: all 64 bits carry votes
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.trim(text_col), r"\s+"))).alias("tok"),
    ).withColumn("h", h)
    # per-bit vote sums and the bit-assembly OR chain as parsed SQL text:
    # the per-Column build (when/shiftright/bitwiseAND per bit — ~6 py4j
    # round-trips × 60 bits, plus the 60-term OR chain) measured ~3 s of
    # driver↔JVM chatter per call; identical expressions, one parse each
    votes = [
        F.expr(f"sum(if(((h >> {j}) & 1) = 1, 1, -1)) AS s{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sim = F.expr(
        " | ".join(
            f"if(s{j} > 0, shiftleft(cast(1 as bigint), {j}), "
            f"cast(0 as bigint))"
            for j in range(bits)
        )
    )
    return per_doc.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Banding guarantee: distance ≤ chunks-1 ⇒ at least one bits/chunks-wide
    chunk is identical, so a (chunk_idx, chunk_value) self-join finds all
    such pairs without an O(n²) comparison. Exact Hamming filter reranks
    candidates.
    """
    sigs = simhash64(df, id_col, text_col, hash_mode)
    chunk_bits = _simhash_bits(hash_mode) // chunks
    chunk_cols = [
        F.struct(
            F.lit(i).alias("ci"),
            (
                F.shiftrightunsigned("simhash", i * chunk_bits)
                % F.lit(1 << chunk_bits)
            ).alias("cv"),
        )
        for i in range(chunks)
    ]
    buckets = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_cols)).alias("c")
    ).select("doc_id", "simhash", "c.ci", "c.cv")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucketed: bool = False,
    num_bits: int = 16,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Pairs of rows whose embeddings have cosine ≥ threshold.

    ``bucketed=False`` is the exact path: normalized vectors, self-join
    pruned by id order — O(n²), small corpora only.

    ``bucketed=True`` is the scale path: random-hyperplane LSH signatures
    (:func:`mallarddv_spark.operators.similarity.hyperplane_signatures`)
    split into ``bands``; candidate pairs share ≥1 band bucket, and the
    exact cosine runs on candidates only. Work scales with Σ bucket² of
    the banded signature space, not n². Recall is probabilistic: a pair at
    cosine t agrees on one bit with p = 1 - arccos(t)/π, on a band of
    b = num_bits/bands bits with p^b, and is captured with
    1 - (1 - p^b)^bands — at the defaults (16 bits, 8 bands of 2) a 0.95
    pair is missed with probability ≈ 2e-6. More bands ⇒ higher recall
    and bigger buckets; tune against the corpus's duplicate density.
    """
    if bucketed:
        return _embedding_neardup_bucketed(
            df, id_col, vec_col, threshold, num_bits, bands, seed, dim
        )
    e = df.select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).withColumn(
        "norm", F.expr("sqrt(aggregate(v, cast(0.0 as double), (a, x) -> a + x * x))")
    )
    a = e.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.expr(
                "round(aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double),"
                " (a, x) -> a + x) / (na * nb), 6)"
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _embedding_neardup_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_bits: int,
    bands: int,
    seed: int,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed near-dup: band the hyperplane signature, self-join only
    within (band, band_value) buckets, exact cosine rerank on candidates."""
    from mallarddv_spark.operators.similarity import hyperplane_signatures

    band_bits = num_bits // bands
    mask = (1 << band_bits) - 1
    sigs = hyperplane_signatures(df, id_col, vec_col, num_bits, seed, dim=dim).withColumn(
        "norm", F.expr("sqrt(aggregate(v, cast(0.0 as double), (a, x) -> a + x * x))")
    )
    chunks = [
        F.struct(
            F.lit(b).alias("band"),
            (F.shiftrightunsigned("sig", b * band_bits) % F.lit(mask + 1)).alias("bv"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        "vid", "v", "norm", F.explode(F.array(*chunks)).alias("c")
    ).select("vid", "v", "norm", "c.band", "c.bv")

    # candidate generation is ids-only: the distinct dedups narrow
    # (id_a, id_b) rows instead of shuffling 64-dim vector payloads once
    # per shared band; vectors re-attach afterwards (AQE broadcasts the
    # signature side when it is small, shuffles on id otherwise)
    ids = banded.select("vid", "band", "bv")
    cand_ids = (
        ids.alias("a")
        .join(ids.alias("b"), ["band", "bv"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    vecs = sigs.select("vid", "v", "norm")
    cand = cand_ids.join(
        vecs.select(
            F.col("vid").alias("id_a"), F.col("v").alias("va"),
            F.col("norm").alias("na"),
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("vid").alias("id_b"), F.col("v").alias("vb"),
            F.col("norm").alias("nb"),
        ),
        "id_b",
    )
    return (
        cand.withColumn(
            "cosine",
            F.expr(
                "round(aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double),"
                " (a, x) -> a + x) / (na * nb), 6)"
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucketed: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): rows
    whose embeddings exceed ``threshold`` cosine form near-dup clusters
    (connected components over the pair graph) and one representative per
    cluster survives (min id — deterministic). Returns the survivors with
    the original schema.

    Composition of the existing scale paths: hyperplane-LSH bucketed pair
    generation (``bucketed=True``, the 100 TB default — candidates only
    within signature-band buckets), min-label-propagation connected
    components (O(log diameter) rounds), and an anti-join against the
    non-keepers. The drop set comes straight from the component map
    (``node != component`` — every non-minimum member), which is sized by
    the near-dup pairs, NOT the corpus; the corpus is touched exactly
    twice (pair generation, final anti-join). ``bucketed=False`` switches
    to the exact O(n²) pair path for small corpora.
    """
    from mallarddv_spark.operators.graph import connected_components

    pairs = embedding_neardup_pairs(
        df, id_col, vec_col, threshold=threshold, bucketed=bucketed,
        **lsh_kwargs,
    )
    drops = (
        connected_components(pairs, "id_a", "id_b")
        .filter("node != component")
        .select(F.col("node").alias(id_col))
    )
    return df.join(drops, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# exact-substring dedup (maximal shared token runs)
# ---------------------------------------------------------------------------


def substring_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_run_tokens: int = 20,
    max_kgram_occurrences: int | None = 1000,
) -> DataFrame:
    """Maximal verbatim token runs shared between document pairs — the
    distributed counterpart of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): any ``min_run_tokens``-or-longer token sequence appearing
    in two documents is found, with its exact span in both.

    Reference scope note: the reference engine has no substring-dedup
    operator — this is part of the training-data curation tier this repo
    adds beyond the reference surface (like MinHash-LSH and winnowing).

    Method: every k-gram (k = ``min_run_tokens``) is emitted with its
    token position; two documents sharing a run of R >= k tokens share
    R-k+1 k-grams on ONE diagonal (pos_a - pos_b constant), so matches
    are grouped per (pair, diagonal) and consecutive positions are fused
    into maximal islands via the pos - row_number() gaps-and-islands
    rewrite. Returns one row per maximal shared run:
    ``(doc_a, doc_b, start_a, start_b, run_tokens)`` with doc_a < doc_b;
    overlapping shorter runs are subsumed, never double-reported.

    Scale shape (100 TB): the k-gram stream is linear in corpus tokens;
    the self-join is a hash join on the 64-bit k-gram key, so work is
    sum-of-bucket-squares, not corpus-squared. Boilerplate k-grams
    (license headers, navigation chrome) are the quadratic hazard —
    ``max_kgram_occurrences`` drops any k-gram occurring more than that
    many times corpus-wide. The count is a ``groupBy(key)`` aggregate
    joined back as a semi-join — deliberately NOT a count-over-window:
    a window partitioned by key must colocate every occurrence of a
    boilerplate gram (a license header shared by 10^7 docs) in ONE task
    before the cap can drop it, while the groupBy's map-side partial
    counts keep every task bounded and the join shuffles on the same
    key the self-join shuffles on anyway. A run all of whose k-grams are that
    common is boilerplate by definition; runs with at least one sub-cap
    k-gram survive (possibly split). Set ``None`` to disable (oracle
    replay / small corpora). Matching is by xxhash64 of the k-gram
    (collision odds ~2^-64 per bucket pair — negligible and
    deterministic); downstream shuffles move only ids + positions.
    """
    from pyspark.sql import Window

    if min_run_tokens < 2:
        raise ValueError(
            f"min_run_tokens must be >= 2, got {min_run_tokens}"
        )
    k = int(min_run_tokens)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    d = df.select(F.col(id_col).alias("__id"), toks.alias("__toks")).filter(
        F.size("__toks") >= k
    )
    grams = d.select(
        "__id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(__toks) - {k}), "
                f"i -> xxhash64(concat_ws(' ', slice(__toks, i + 1, {k}))))"
            )
        ).alias("pos", "key"),
    )
    if max_kgram_occurrences is not None:
        below_cap = (
            grams.groupBy("key")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= int(max_kgram_occurrences))
            .select("key")
        )
        grams = grams.join(below_cap, "key", "left_semi")
    a = grams.select(
        F.col("key"), F.col("__id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = grams.select(
        F.col("key").alias("kb"), F.col("__id").alias("doc_b"),
        F.col("pos").alias("pb"),
    )
    matches = a.join(b, F.col("key") == F.col("kb")).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pa")
    return (
        matches.select("doc_a", "doc_b", "pa", "pb", diag)
        .withColumn("__grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "__grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.max("pa") - F.min("pa") + k).cast("bigint").alias("run_tokens"),
        )
        .select(
            "doc_a", "doc_b",
            F.col("start_a").cast("bigint").alias("start_a"),
            F.col("start_b").cast("bigint").alias("start_b"),
            "run_tokens",
        )
    )
