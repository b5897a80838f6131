"""Round-10 operator tests: the JPEG decoder's never-raises contract
under adversarial DHT payloads (out-of-range size symbols that would
overflow the int64 coefficient array, over-subscribed code trees),
the table-driven Huffman LUT agreeing bit-for-bit with the canonical
code assignment, and the artifact-memo eviction fixes (bucketed-table
names scoped per application so a stale prior-app eviction cannot
DROP the live app's tables; dual-precision CSV scratch reclaimed only
when its owning application is dead, so earlier-built lazy frames
keep a readable path).
"""

from __future__ import annotations

import struct

SF = "/root/testdata/sf0.001"


# ------------------------------ adversarial JPEG DHT (ADVICE r09)

def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _jpeg_with_tables(dht_dc: bytes, dht_ac: bytes,
                      entropy: bytes) -> bytes:
    from ethereum_export_pipeline_spark.operators import multimodal as mm
    qt = bytes([0x00]) + bytes([1] * 64)
    return (mm.JPEG_SOI + _seg(0xFFDB, qt)
            + _seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1)
                   + bytes([1, 0x11, 0]))
            + _seg(0xFFC4, dht_dc) + _seg(0xFFC4, dht_ac)
            + _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy + b"\xff\xd9")


def test_jpeg_rejects_oversized_dc_category():
    """A DHT whose DC size symbol exceeds the T.81 baseline limit of
    11 must yield a NULL decode, not an OverflowError escaping the
    documented never-raises contract (one adversarial row would
    otherwise fail the whole mapInPandas batch)."""
    from ethereum_export_pipeline_spark.operators import multimodal as mm
    good_ac = (bytes([0x10]) + bytes(mm._JPEG_AC_BITS)
               + bytes(mm._JPEG_AC_VALS))
    bad_dc = bytes([0x00]) + bytes([1] + [0] * 15) + bytes([200])
    assert mm.decode_jpeg(
        _jpeg_with_tables(bad_dc, good_ac, b"\x00" * 40)) is None


def test_jpeg_rejects_oversized_ac_size_nibble():
    from ethereum_export_pipeline_spark.operators import multimodal as mm
    good_dc = (bytes([0x00]) + bytes(mm._JPEG_DC_BITS)
               + bytes(mm._JPEG_DC_VALS))
    # AC symbol 0x0F: run 0, size 15 — past the baseline max of 10
    bad_ac = bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x0F])
    assert mm.decode_jpeg(
        _jpeg_with_tables(good_dc, bad_ac, b"\x00" * 40)) is None


def test_jpeg_rejects_oversubscribed_code_tree():
    """Length counts claiming three 1-bit codes don't fit the tree;
    the LUT must not be built with phantom entries."""
    from ethereum_export_pipeline_spark.operators import multimodal as mm
    good_ac = (bytes([0x10]) + bytes(mm._JPEG_AC_BITS)
               + bytes(mm._JPEG_AC_VALS))
    oversub = bytes([0x00]) + bytes([3] + [0] * 15) + bytes([0, 1, 2])
    assert mm.decode_jpeg(
        _jpeg_with_tables(oversub, good_ac, b"\x00" * 40)) is None


def test_jpeg_lut_matches_canonical_codes():
    """Every (code, length) the canonical assignment produces must
    resolve through the 16-bit LUT to the same symbol at the same
    length — the LUT is a pure reindexing of _huff_codes."""
    from ethereum_export_pipeline_spark.operators import multimodal as mm
    for bits, vals in ((mm._JPEG_DC_BITS, mm._JPEG_DC_VALS),
                       (mm._JPEG_AC_BITS, mm._JPEG_AC_VALS)):
        codes = mm._huff_codes(list(bits), list(vals))
        table = {(ln, code): sym for sym, (code, ln) in codes.items()}
        key = bytes([0]) + bytes(bits) + bytes(vals)
        lut = mm._huff_lut(key, table)
        for sym, (code, ln) in codes.items():
            peek = code << (16 - ln)
            entry = lut[peek]
            assert entry == (ln << 8) | sym
            # the entire 16-bit extension range resolves identically
            assert lut[peek + (1 << (16 - ln)) - 1] == entry


def test_jpeg_decode_survives_entropy_junk():
    """Random bytes after SOS must produce None or a decode, never an
    exception — the padding-bounded reader turns every overrun into a
    failure."""
    import numpy as np
    from ethereum_export_pipeline_spark.operators import multimodal as mm
    good_dc = (bytes([0x00]) + bytes(mm._JPEG_DC_BITS)
               + bytes(mm._JPEG_DC_VALS))
    good_ac = (bytes([0x10]) + bytes(mm._JPEG_AC_BITS)
               + bytes(mm._JPEG_AC_VALS))
    rng = np.random.RandomState(5)
    for n in (0, 1, 3, 17, 64):
        junk = bytes(rng.randint(0, 256, n).tolist())
        out = mm.decode_jpeg(_jpeg_with_tables(good_dc, good_ac, junk))
        assert out is None or out[2] == 1


# ----------------------- crawl → train-manifest composed flagship

def test_crawl_manifest_composition_invariants(spark):
    """Every row of the composed crawl funnel must satisfy the
    stage predicates it claims to have passed: gates (token floor),
    decontamination (no doc from the bench slice, no doc with a
    bench-shingle hit), dedup (one doc per stripped-content hash),
    split/chunk arithmetic. The DuckDB twin re-derives the whole
    funnel; this pins the Spark-side stage wiring on the tiny corpus."""
    from ethereum_export_pipeline_spark.plans.llm import (
        BENCH_MOD, CHUNK_STRIDE, FUNNEL_MIN_TOKENS, _crawl_manifest)

    rows = _crawl_manifest(spark, SF).collect()
    assert rows, "funnel must keep something on the tiny corpus"
    for r in rows:
        assert r.n_tokens >= FUNNEL_MIN_TOKENS
        assert r.doc_id % BENCH_MOD != 0, "eval slice must not ship"
        assert r.split in ("train", "val")
        assert r.n_chunks == (r.n_tokens - 1) // CHUNK_STRIDE + 1
        assert 10 <= r.rate_pct <= 99


# --------------------------- artifact memo eviction (ADVICE r09)

def test_bucketed_table_names_scoped_per_application(spark):
    """The catalog table names must depend on the applicationId, not
    just the corpus: evicting a stale prior-application entry for the
    same sf_dir DROPs tables by name, and a corpus-only tag would aim
    that DROP at the live application's tables."""
    import hashlib

    from ethereum_export_pipeline_spark.plans import eth

    ot, lt = eth._bucketed_tables(spark, SF)
    corpus_only = hashlib.md5(SF.encode()).hexdigest()[:8]
    assert corpus_only not in ot and corpus_only not in lt
    app = spark.sparkContext.applicationId
    scoped = hashlib.md5(f"{app}|{SF}".encode()).hexdigest()[:8]
    assert scoped in ot and scoped in lt
    # a simulated dead-application eviction must leave them readable
    eth._BUCKETED_TABLES[("dead-app", "/nowhere")] = (
        "bkt_orders_deadbeef", "bkt_lineitem_deadbeef", "/nonexistent")
    eth._BUCKETED_TABLES.pop(("dead-app", "/nowhere"))
    assert spark.table(ot).count() > 0


def test_dualprec_scratch_not_reclaimed_while_app_live(spark):
    """Same-application eviction must NOT rmtree the scratch CSV: a
    lazy frame built from the evicted path earlier in this session
    still scans it. Dead-application entries are reclaimed."""
    import os

    from ethereum_export_pipeline_spark.plans import eth

    live = eth._dualprec_csv(spark, SF)
    assert os.path.isdir(live)
    saved = dict(eth._DUALPREC_CSV)
    try:
        dead_dir = live + "_deadcopy"
        os.makedirs(dead_dir, exist_ok=True)
        # oldest entry owned by a DEAD application → reclaimed
        eth._DUALPREC_CSV.clear()
        eth._DUALPREC_CSV[("dead-app", "/d0")] = dead_dir
        for i in range(1, 8):
            eth._DUALPREC_CSV[("dead-app", f"/d{i}")] = "/nonexistent"
        eth._evict_dualprec_if_full(spark)
        assert not os.path.isdir(dead_dir)
        # oldest entry owned by the LIVE application → path survives
        live_key = (spark.sparkContext.applicationId,
                    os.path.abspath(SF))
        eth._DUALPREC_CSV.clear()
        eth._DUALPREC_CSV[live_key] = live
        for i in range(7):
            eth._DUALPREC_CSV[("dead-app", f"/x{i}")] = "/nonexistent"
        eth._evict_dualprec_if_full(spark)
        assert live_key not in eth._DUALPREC_CSV
        assert os.path.isdir(live), \
            "same-app eviction must not delete scratch a lazy frame uses"
    finally:
        eth._DUALPREC_CSV.clear()
        eth._DUALPREC_CSV.update(saved)
