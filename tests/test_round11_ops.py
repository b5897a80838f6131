"""Round-11 operator tests: the ADVICE fixes proven live —
(a) same-application bucketed-table eviction parks the entry in the
orphan registry instead of DROPping tables a still-live lazy frame
scans, and orphans are reclaimed only once their owning application
is dead; (b) the heavy-Arrow py-path step fix — the Int.MaxValue
maxBytesPerBatch sentinel is applied everywhere, and a type-diverse
Arrow batch no longer multiplies the JVM CPU of later mapInPandas
stages (the round-10 open item, bisected and closed this round; see
SCALE.md and session.RUNTIME_CONFS).
"""

from __future__ import annotations

import os

SF = "/root/testdata/sf0.001"


# ----------------- same-app bucketed eviction parks, never DROPs

def test_bucketed_same_app_eviction_parks_orphan(spark, tmp_path):
    """Filling the bucketed memo past its cap inside ONE application
    must not DROP/rmtree the evicted entry (a lazy `_bucketed_join`
    frame over another corpus still scans it): the entry parks in
    `_SCRATCH_ORPHANS` with its tables, and `_sweep_dead_orphans`
    leaves live-app orphans alone while reclaiming dead-app ones."""
    from ethereum_export_pipeline_spark.plans import eth

    app = spark.sparkContext.applicationId
    saved_memo = dict(eth._BUCKETED_TABLES)
    saved_orph = list(eth._SCRATCH_ORPHANS)
    live_dir = tmp_path / "live_bkt"
    dead_dir = tmp_path / "dead_bkt"
    live_dir.mkdir()
    dead_dir.mkdir()
    try:
        eth._BUCKETED_TABLES.clear()
        eth._SCRATCH_ORPHANS.clear()
        # oldest entry owned by the LIVE application, 7 more behind it
        eth._BUCKETED_TABLES[(app, "/corpus0")] = (
            "bkt_orders_live0", "bkt_lineitem_live0", str(live_dir))
        for i in range(1, 8):
            eth._BUCKETED_TABLES[(app, f"/corpus{i}")] = (
                f"bkt_o_{i}", f"bkt_l_{i}", "/nonexistent")
        ot, lt = eth._bucketed_tables(spark, SF)  # 9th entry → evict
        assert os.path.isdir(live_dir), "same-app eviction rmtree'd"
        assert ((app, str(live_dir),
                 ("bkt_orders_live0", "bkt_lineitem_live0"))
                in eth._SCRATCH_ORPHANS)
        # the freshly built entry works
        assert spark.table(ot).count() > 0

        # live-app orphan survives a sweep; dead-app orphan does not
        eth._SCRATCH_ORPHANS.append(("dead-app", str(dead_dir), ("t0",)))
        eth._sweep_dead_orphans(spark)
        assert os.path.isdir(live_dir)
        assert not os.path.isdir(dead_dir)
        assert [o[0] for o in eth._SCRATCH_ORPHANS] == [app]
    finally:
        eth._BUCKETED_TABLES.clear()
        eth._BUCKETED_TABLES.update(saved_memo)
        eth._SCRATCH_ORPHANS[:] = saved_orph


# ---------------- the heavy-Arrow py-path step (r10 open item)

def test_arrow_bytecap_sentinel_applied(spark):
    """RUNTIME_CONFS must carry the Int.MaxValue maxBytesPerBatch
    sentinel (the only value at which Spark 4.1's JVM→Python writer
    skips the per-row ArrowWriter.sizeInBytes walk — the surface the
    type-pollution step acted on), and ensure_conf must deliver it to
    externally created sessions."""
    from ethereum_export_pipeline_spark.session import (RUNTIME_CONFS,
                                                        ensure_conf)
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    assert RUNTIME_CONFS[key] == "2147483647"
    assert ensure_conf(spark).conf.get(key) == "2147483647"


def test_type_diverse_arrow_batch_does_not_inflate_py_path(spark):
    """The step's mechanism, pinned by CPU TIME (robust to co-tenant
    wall-clock noise): a fixed mapInPandas workload's JVM CPU must not
    multiply after one tiny type-diverse Arrow batch (binary + string
    + double + array columns). Without the sentinel this ratio
    measured ~6× (5.7 → 33 CPU-s on the 8M-row canary); with it,
    ~1.0-1.3×. Threshold 2.5× leaves room for JIT warm-up noise while
    catching any regression of the fix."""
    def _jvm_cpu() -> float:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[-1].split()
        return (int(parts[11]) + int(parts[12])) / 100.0

    def _canary_cpu() -> float:
        def f(pdfs):
            for pdf in pdfs:
                yield pdf.assign(v=(pdf["id"] * 2654435761 % 1000003))
        best = float("inf")
        for _ in range(2):
            c0 = _jvm_cpu()
            spark.range(0, 4_000_000, 1, 8) \
                 .mapInPandas(f, "id long, v long") \
                 .selectExpr("sum(v)").collect()
            best = min(best, _jvm_cpu() - c0)
        return best

    _canary_cpu()  # warm the codegen + worker pool
    before = _canary_cpu()

    def gen(pdfs):
        import pandas as pd
        for pdf in pdfs:
            yield pd.DataFrame({
                "id": pdf["id"], "b": [b"x" * 1024] * len(pdf),
                "s": ["y" * 64] * len(pdf), "d": [1.5] * len(pdf),
                "arr": [[1, 2, 3]] * len(pdf)})

    def rd(pdfs):
        for pdf in pdfs:
            yield pdf[["id"]].assign(n=pdf["b"].str.len())

    (spark.range(0, 64, 1, 8)
          .mapInPandas(gen, "id long, b binary, s string, d double,"
                            " arr array<long>")
          .mapInPandas(rd, "id long, n long")
          .selectExpr("sum(n)").collect())

    after = _canary_cpu()
    assert after < max(before, 0.5) * 2.5, \
        (f"type-diverse Arrow batch re-inflated the py path: "
         f"{before:.2f} → {after:.2f} JVM CPU-s")


# ------- shared ground truth: exact= hook equals the internal pass

def test_recall_reports_with_shared_exact_match_internal(spark):
    """Optimization r11 (guide §2.4 reuse): `matryoshka_recall_report`
    and `sq8_recall_report` accept an already-computed DIM-FILTERED
    `brute_force_topk` frame via `exact=`. The hooked path — including
    MRL's p == dim branch, which reuses the ground-truth frame as the
    full-width "prefix" ranking instead of re-running the brute pass —
    must produce row-for-row the same report as the internal build."""
    from pyspark.sql import functions as F
    from ethereum_export_pipeline_spark.operators.similarity import (
        EMB_DIM, brute_force_topk, matryoshka_recall_report,
        sq8_recall_report)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    shared = (brute_force_topk(
                  emb.where(F.size(F.col("embedding")) == EMB_DIM), k=3)
              .localCheckpoint(eager=True))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(matryoshka_recall_report(emb, k=3, exact=shared)) == \
        rows(matryoshka_recall_report(emb, k=3))
    assert rows(sq8_recall_report(emb, k=3, exact=shared)) == \
        rows(sq8_recall_report(emb, k=3))
