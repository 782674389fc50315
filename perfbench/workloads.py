"""The benchmark workloads.

Each workload takes a :class:`Ctx`, sets up, runs a closed loop with one
client thread for ``ctx.seconds`` seconds, checks its outputs against the
generator's planted truth and returns a :class:`Outcome`. Timings come
from ``time.perf_counter`` around public entry points only; every query
result is consumed (collected) inside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
import model

SETUP_ROUNDS = 3
NEAR_RECALL_BOUND = 0.9  # curation_batches: least near-duplicate recall per batch
IVF_RECALL_BOUND = 0.9   # least share of near duplicates whose IVF top-1 is the source


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    rec: object | None  # spans.SpanRecorder when tracing


@dataclass
class Outcome:
    metrics: dict                      # end-to-end: name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    # raw material for the traced per-layer report
    ops: list = field(default_factory=list)        # (kind, start, end, input file)
    layer: dict = field(default_factory=dict)      # name -> value, workload-measured


class Checker:
    """Counts every operation and correctness check; keeps failure notes."""

    def __init__(self, out: Outcome):
        self.out = out

    def op(self, ok: bool, what: str) -> bool:
        self.out.attempted += 1
        if not ok:
            self.out.failed += 1
            self.out.failures.append(what)
        return ok

    def eq(self, got, want, what: str) -> bool:
        return self.op(got == want, f"{what}: got {got!r}, want {want!r}")


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples no such percentile lies
    above the median, and the maximum is reported instead."""
    n = len(xs)
    if not n:
        return 0.0, 0.0
    s = sorted(xs)
    if n < 20:
        return s[-1], 100.0
    k = n - 10  # samples at or below the tail value
    return s[k - 1], 100.0 * k / n


def _log_samples(**samples: list[float]) -> None:
    """Every timing sample of the run, on standard error."""
    for k, xs in samples.items():
        print(f"samples {k}: " + " ".join(f"{x:.3f}" for x in xs), file=sys.stderr)


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    res = fn(*args, **kwargs)
    return res, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# vault_query_mix
# ---------------------------------------------------------------------------


def vault_query_mix(ctx: Ctx) -> Outcome:
    from mallarddv_spark import MallardSparkVault
    from probes import db_layout

    spark = ctx.spark
    out = Outcome(metrics={})
    chk = Checker(out)
    g = gen.VaultGen(ctx.seed, os.path.join(ctx.work, "in"))
    tables_csv, transitions_csv = model.write_model(os.path.join(ctx.work, "meta"))
    rng = g.rng

    # -- set-up: init_vault several times into fresh databases; the last
    #    vault is the one loaded
    setup = []
    for r in range(SETUP_ROUNDS):
        dbs = {k: f"r{r}_{k[:-3]}" for k in
               ("stg_db", "dv_db", "bv_db", "dm_db", "metadata_db")}
        vault = MallardSparkVault(spark, **dbs)
        errs, dt = _timed(vault.init_vault, tables_csv, transitions_csv)
        chk.eq(errs, [], "init_vault errors")
        setup.append(dt)
    dv, bv, meta = dbs["dv_db"], dbs["bv_db"], dbs["metadata_db"]

    ingested_bytes = 0
    backfill_s = 0.0
    snapshot = g.snapshot()
    for f in snapshot:
        errs, dt = _timed(vault.execute_flow, f.source, "bench", f.path)
        chk.eq(errs, [], f"backfill {f.source}")
        backfill_s += dt
        ingested_bytes += f.bytes
    flows_run = 2

    def flow(source: str):
        f = g.next_delta(source)
        errs, dt = _timed(vault.execute_flow, f.source, "bench", f.path)
        chk.eq(errs, [], f"flow {f.path}")
        return f, dt

    # -- queries: each answer is checked against the generator's state
    segs = gen.SEGMENTS

    def q_point():
        k = int(rng.choice(sorted(g.cust)))
        rows, dt = _timed(lambda: spark.sql(
            f"SELECT c.c_name, c.c_nationkey, CAST(c.c_acctbal AS DOUBLE) bal, "
            f"c.c_mktsegment, c.del_flag FROM {dv}.hub_customer h "
            f"JOIN {bv}.hsat_customer_details_cv c ON h.customer_hk = c.customer_hk "
            f"WHERE h.c_custkey_bk = {k}").collect())
        want = g.customer(k)
        got = [(r.c_name, r.c_nationkey, r.bal, r.c_mktsegment, r.del_flag) for r in rows]
        chk.eq(got, [(*want, False)], f"point customer {k}")
        return dt

    def q_scan():
        seg = segs[int(rng.integers(0, len(segs)))]
        rows, dt = _timed(lambda: spark.sql(
            f"SELECT count(*) n FROM {bv}.hsat_customer_details_cv "
            f"WHERE c_mktsegment = '{seg}' AND NOT del_flag").collect())
        chk.eq(rows[0].n, g.live_segment_count(seg), f"scan segment {seg}")
        return dt

    def q_join():
        lo = int(rng.integers(1, g.sizes.parts - 20))
        hi = lo + 19
        rows, dt = _timed(lambda: spark.sql(
            f"SELECT count(*) n, count_if(s.l_linestatus = 'O') n_open "
            f"FROM {dv}.hub_part p "
            f"JOIN {dv}.link_order_part_supplier l ON l.part_hk = p.part_hk "
            f"JOIN {bv}.lsat_ops_details_cv s "
            f"  ON s.order_part_supplier_hk = l.order_part_supplier_hk "
            f"WHERE p.l_partkey_bk BETWEEN {lo} AND {hi}").collect())
        chk.eq((rows[0].n, rows[0].n_open),
               (g.lines_for_parts(lo, hi), g.open_lines_for_parts(lo, hi)),
               f"join parts {lo}..{hi}")
        return dt

    def q_history():
        rows, dt = _timed(lambda: spark.sql(
            f"SELECT count(*) n, count(DISTINCT order_part_supplier_hk) k "
            f"FROM {dv}.lsat_ops_details").collect())
        chk.eq((rows[0].n, rows[0].k), (g.truth.lsat_rows, g.truth.lines),
               "history aggregate")
        return dt

    queries = {"point": q_point, "scan": q_scan, "join": q_join, "history": q_history}
    kinds = list(queries)

    # -- replay one already-ingested file: it must add nothing, which the
    #    end-of-run row and ledger counts (truth excludes it) confirm
    errs = vault.execute_flow("lineitem", "bench", snapshot[0].path)
    chk.eq(errs, [], "replay errors")

    # -- one untimed (checked) query of each kind: a process's first query
    #    of a shape pays for its planning and codegen once, and mixing those
    #    into the loop would make the query median bimodal
    for q in kinds:
        queries[q]()

    # -- closed loop of whole cycles — one delta flow, then one query of
    #    each kind in a seeded order — so every run has the same mix
    flow_lat, flow_rows, q_lat = [], 0, {k: [] for k in kinds}
    n_flow = n_ops = 0
    cycle: list[str] = []
    t_start = time.perf_counter()
    while cycle or time.perf_counter() - t_start < ctx.seconds:
        t0 = time.time()
        try:
            if not cycle:
                cycle = [kinds[i] for i in rng.permutation(len(kinds))]
                src = "lineitem" if n_flow % 2 == 0 else "customer"
                n_flow += 1
                flows_run += 1
                f, dt = flow(src)
                flow_lat.append(dt)
                flow_rows += f.rows
                ingested_bytes += f.bytes
                out.ops.append(("flow", t0, time.time(), f))
            else:
                kind = cycle.pop()
                dt = queries[kind]()
                q_lat[kind].append(dt)
                out.ops.append((f"query.{kind}", t0, time.time(), None))
        except Exception:  # a raising operation fails; the client goes on
            chk.op(False, f"operation {n_ops} raised:\n{traceback.format_exc()}")
        n_ops += 1
    loop_s = time.perf_counter() - t_start

    # -- end-of-run checks against the planted truth
    t = g.truth
    c = _vault_counts(spark, dv, meta)
    chk.eq(c["hub_order"], len(t.orders), "hub_order rows")
    chk.eq(c["hub_part"], len(t.parts), "hub_part rows")
    chk.eq(c["hub_supplier"], len(t.suppliers), "hub_supplier rows")
    chk.eq(c["hub_customer"], len(t.customers), "hub_customer rows")
    chk.eq(c["link_order_part_supplier"], t.lines, "link rows")
    chk.eq(c["lsat_ops_details"], t.lsat_rows, "lsat rows")
    chk.eq(c["hsat_customer_details"], t.hsat_rows, "hsat rows")
    chk.eq(c["runinfo"], 2 * flows_run, "ledger rows")
    cv = spark.sql(
        f"SELECT (SELECT count(*) FROM {bv}.lsat_ops_details_cv) li, "
        f"(SELECT count_if(NOT del_flag) FROM {bv}.hsat_customer_details_cv) live, "
        f"(SELECT count_if(del_flag) FROM {dv}.hsat_customer_details) tomb").first()
    chk.eq(cv.li, t.lines, "lsat_ops_details_cv rows")
    chk.eq(cv.live, len(t.live_customers), "hsat_customer_details_cv live rows")
    chk.eq(cv.tomb, t.tombstones, "deletion rows")
    golden = spark.sql(
        f"SELECT count(*) n FROM {dv}.hub_order WHERE l_orderkey_bk = 1 "
        f"AND order_hk = '356a192b7913b04c54574d18c28d46e6395428ab'").first().n
    chk.eq(golden, 1, "golden hub key for business key 1")

    lay = db_layout(spark, dv)
    all_q = [x for v in q_lat.values() for x in v]
    _log_samples(setup=setup, backfill=[backfill_s], flow=flow_lat, query=all_q)
    out.metrics = {
        "setup_s": (p50(setup), "s"),
        "backfill_s": (backfill_s, "s"),
        "flow_p50_s": (p50(flow_lat), "s"),
        "load_rows_per_s": (flow_rows / sum(flow_lat) if flow_lat else 0.0, "rows/s"),
        "query_p50_s": (p50(all_q), "s"),
        "ops_per_s": (n_ops / loop_s, "1/s"),
        "storage_amplification": (lay["bytes"] / ingested_bytes, "ratio"),
    }
    ft, fp = tail(flow_lat)
    qt, qp = tail(all_q)
    out.layer.update({
        "tail.flow_s": ft, "tail.flow_pct": fp, "tail.flow_samples": len(flow_lat),
        "tail.query_s": qt, "tail.query_pct": qp, "tail.query_samples": len(all_q),
        "cv.point_p50_s": p50(q_lat["point"]), "cv.scan_p50_s": p50(q_lat["scan"]),
        "cv.join_p50_s": p50(q_lat["join"]), "cv.history_p50_s": p50(q_lat["history"]),
        "layout.dv_files": lay["files"], "layout.dv_small_files": lay["small_files"],
        "layout.dv_bytes": lay["bytes"],
        "satellite.tombstones": cv.tomb,
    })
    return out


def _vault_counts(spark, dv: str, meta: str) -> dict:
    tables = [*model.HUBS, *model.LINKS, *model.SATS]
    sel = ", ".join(f"(SELECT count(*) FROM {dv}.{t}) {t}" for t in tables)
    row = spark.sql(f"SELECT {sel}, (SELECT count(*) FROM {meta}.runinfo) runinfo").first()
    return row.asDict()


# ---------------------------------------------------------------------------
# curation_batches
# ---------------------------------------------------------------------------


def curation_batches(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from mallarddv_spark.operators import curation, dedup, similarity, textops
    from probes import dir_bytes

    spark = ctx.spark
    out = Outcome(metrics={})
    chk = Checker(out)
    cg = gen.CorpusGen(ctx.seed, os.path.join(ctx.work, "in"))
    rec = ctx.rec
    corpus = os.path.join(ctx.work, "corpus")

    def span(name: str):
        return rec.span(name) if rec is not None else contextlib.nullcontext()

    # -- backfill: curate the history into the corpus store
    hist_path, _ = cg.history()
    t0 = time.perf_counter()
    hist = spark.read.parquet(hist_path)
    kept = textops.quality_filter(hist, "text").filter("qf_keep")
    kept.select("doc_id", "text", "embedding").write.mode("overwrite").parquet(corpus)
    backfill_s = time.perf_counter() - t0
    chk.eq(spark.read.parquet(corpus).count(), cg.sizes.history, "history kept by quality filter")

    # -- set-up: build the MinHash and IVF indexes several times over the
    #    stored corpus; the last build is the one probed
    setup, mh_build, ivf_build = [], [], []
    for r in range(SETUP_ROUNDS):
        mh = os.path.join(ctx.work, f"minhash_{r}")
        ivf = os.path.join(ctx.work, f"ivf_{r}")
        docs = spark.read.parquet(corpus)
        with span("dedup.build_minhash_index"):
            _, a = _timed(dedup.build_minhash_index, docs, mh)
        with span("similarity.build_ivf_index"):
            _, b = _timed(similarity.build_ivf_index, docs, ivf, id_col="doc_id")
        mh_build.append(a)
        ivf_build.append(b)
        setup.append(a + b)

    near_found = near_planted = ivf_hits = 0
    kept_docs = batch_docs = dup_docs = qf_docs = 0

    def batch(n: int):
        nonlocal near_found, near_planted, ivf_hits, kept_docs, batch_docs, dup_docs, qf_docs
        b = cg.next_batch()
        t_read0 = time.perf_counter()
        df = spark.read.parquet(b.path)
        with span("textops.quality_filter"):
            qf = (textops.quality_filter(df, "text").filter("qf_keep")
                  .select("doc_id", "text", "embedding").localCheckpoint(eager=True))
        with span("curation.incremental_dedup"):
            verdicts = curation.incremental_dedup(
                qf, spark.read.parquet(corpus), "doc_id", "text").collect()
        qf_ids = {r.id for r in verdicts}
        new_ids = [r.id for r in verdicts if r.keep]
        surv = qf.filter(F.col("doc_id").isin(new_ids))
        with span("dedup.neardup_against_index"):
            near = dedup.neardup_against_index(surv, mh).collect()
        with span("similarity.ivf_probe_topk"):
            top = similarity.ivf_probe_topk(surv, ivf, id_col="doc_id", k=5, nprobe=3) \
                .filter("rank = 1").collect()
        read_s = time.perf_counter() - t_read0
        near_ids = sorted({r.new_id for r in near})
        fin = surv.filter(~F.col("doc_id").isin(near_ids))
        with span("dedup.minhash_index_append"):
            dedup.minhash_index_append(fin, mh)
        with span("similarity.ivf_append"):
            similarity.ivf_append(fin, ivf, id_col="doc_id")
        fin.select("doc_id", "text", "embedding").write.mode("append").parquet(corpus)
        total_s = time.perf_counter() - t_read0

        # checks against the planted truth
        dropped_qf = set(b.ids) - qf_ids
        chk.eq(dropped_qf, b.low_quality, f"batch {n}: quality filter drops")
        hist_dup = {r.id for r in verdicts if r.verdict == "dup_history"}
        batch_dup = {r.id for r in verdicts if r.verdict == "dup_batch"}
        chk.eq(hist_dup, b.exact_hist, f"batch {n}: history duplicates flagged")
        chk.eq(batch_dup, b.exact_batch, f"batch {n}: in-batch duplicates flagged")
        found = len(set(near_ids) & set(b.near))
        if b.near:
            chk.op(found / len(b.near) >= NEAR_RECALL_BOUND,
                   f"batch {n}: near-duplicate recall {found}/{len(b.near)}")
        final_ids = set(new_ids) - set(near_ids)
        chk.eq(b.clean - final_ids, set(), f"batch {n}: clean documents dropped")
        top1 = {r.query_id: r.neighbor_id for r in top}
        hits = sum(top1.get(k) == s for k, s in b.near.items())
        if b.near:
            chk.op(hits / len(b.near) >= IVF_RECALL_BOUND,
                   f"batch {n}: IVF top-1 finds the source {hits}/{len(b.near)}")
        near_found += found
        near_planted += len(b.near)
        ivf_hits += hits
        batch_docs += len(b.ids)
        qf_docs += len(qf_ids)
        dup_docs += len(hist_dup) + len(batch_dup)
        kept_docs += len(final_ids)
        return len(b.ids), read_s, total_s, b.bytes

    lat, read_lat, docs = [], [], 0
    n = 0
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds:
        n += 1
        t0 = time.time()
        try:
            nd, rs, ts, _ = batch(n)
        except Exception:  # a raising batch fails; the client goes on
            chk.op(False, f"batch {n} raised:\n{traceback.format_exc()}")
            continue
        out.ops.append(("batch", t0, time.time(), None))
        lat.append(ts)
        read_lat.append(rs)
        docs += nd
    loop_s = time.perf_counter() - t_start

    mh_bytes, ivf_bytes = dir_bytes(mh), dir_bytes(ivf)
    _log_samples(setup=setup, backfill=[backfill_s], batch=lat, probe=read_lat)
    out.metrics = {
        "setup_s": (p50(setup), "s"),
        "backfill_s": (backfill_s, "s"),
        "flow_p50_s": (p50(lat), "s"),
        "load_rows_per_s": (docs / sum(lat) if lat else 0.0, "rows/s"),
        "query_p50_s": (p50(read_lat), "s"),
        "ops_per_s": (n / loop_s, "1/s"),
        "storage_amplification": ((mh_bytes + ivf_bytes) / dir_bytes(corpus), "ratio"),
    }
    ft, fp = tail(lat)
    qt, qp = tail(read_lat)
    out.layer.update({
        "tail.flow_s": ft, "tail.flow_pct": fp, "tail.flow_samples": len(lat),
        "tail.query_s": qt, "tail.query_pct": qp, "tail.query_samples": len(read_lat),
        "dedup.build_s": p50(mh_build), "similarity.build_s": p50(ivf_build),
        "dedup.neardup_recall": near_found / near_planted if near_planted else 0.0,
        "similarity.top1_recall": ivf_hits / near_planted if near_planted else 0.0,
        "index.minhash_bytes": mh_bytes, "index.ivf_bytes": ivf_bytes,
        "textops.keep_ratio": qf_docs / batch_docs if batch_docs else 0.0,
        "curation.dup_ratio": dup_docs / qf_docs if qf_docs else 0.0,
    })
    return out


WORKLOADS = {
    "vault_query_mix": vault_query_mix,
    "curation_batches": curation_batches,
}
