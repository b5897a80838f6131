"""Checks for the benchmark's own code: generator invariants, the
self-time arithmetic, the status-store reader and the oracle helpers.
No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import decimal
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import chaingen  # noqa: E402
import corpusgen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from workloads import ExportConvert, percentile  # noqa: E402

CHAIN = ExportConvert.CHAIN


@pytest.fixture(scope="module")
def chain(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("chain"))
    truth = chaingen.generate_chain(root, 7, **CHAIN)
    tables = {t: pq.read_table(os.path.join(root, f"{t}.parquet")).to_pandas()
              for t in chaingen.TABLES}
    return truth, tables


def test_chain_is_seeded(tmp_path, chain):
    truth, tables = chain
    again = chaingen.generate_chain(str(tmp_path), 7, **CHAIN)
    assert again.counts == truth.counts and again.wei_sums == truth.wei_sums
    other = chaingen.generate_chain(str(tmp_path / "o"), 8, **CHAIN)
    assert other.wei_sums != truth.wei_sums


def test_chain_keys_reference_existing_rows(chain):
    _, t = chain
    blocks, txs = t["blocks"], t["transactions"]
    assert set(txs.block_number) <= set(blocks.number)
    tx_block = dict(zip(txs.hash, txs.block_number))
    assert len(tx_block) == len(txs)
    for name in ("token_transfers", "logs", "receipts"):
        df = t[name]
        assert all(tx_block[h] == b for h, b in
                   zip(df.transaction_hash, df.block_number)), name
    assert sorted(t["receipts"].transaction_hash) == sorted(txs.hash)
    counts = txs.groupby("block_number").size()
    assert all(blocks.set_index("number").transaction_count.reindex(
        counts.index) == counts)


def test_chain_fixture_invariants(chain):
    _, t = chain
    big = [v for v in t["transactions"].value if v > 2 ** 63]
    assert len(big) > 0.5 * len(t["transactions"])
    assert all(v > 2 ** 63 for v in t["blocks"].difficulty)
    null_share = t["receipts"].contract_address.isna().mean()
    assert 0.9 < null_share < 0.99
    tt = t["token_transfers"]
    assert 0.005 <= tt.token_address.nunique() / len(tt) <= 0.02
    assert set(tt.token_address) == set(t["tokens"].address)
    topics = t["logs"].topics.str.split(",")
    transfer = topics.str[0] == chaingen.TRANSFER_SIG
    assert 0.25 < transfer.mean() < 0.35
    assert (topics.str.len() == 3).all()
    assert (t["logs"].data.str.len() == 66).all()


def test_truth_matches_tables(chain):
    truth, t = chain
    plan = truth.extended_plan
    assert truth.plan == plan[: len(truth.plan)]
    widths = [e - s + 1 for s, e in truth.plan]
    assert widths == sorted(widths, reverse=True) and widths[0] > widths[-1]

    def in_range(df, col, r):
        return df[(df[col] >= r[0]) & (df[col] <= r[1])]
    for r in plan:
        txs = in_range(t["transactions"], "block_number", r)
        hashes = set(txs.hash)
        assert truth.counts["blocks"][r] == len(in_range(t["blocks"], "number", r))
        assert truth.counts["transactions"][r] == len(txs)
        assert truth.counts["receipts"][r] == len(txs)
        assert truth.counts["logs"][r] == t["logs"].transaction_hash.isin(hashes).sum()
        created = t["receipts"][t["receipts"].transaction_hash.isin(hashes)]
        assert truth.counts["contracts"][r] == created.contract_address.notna().sum()
        tt = in_range(t["token_transfers"], "block_number", r)
        assert truth.counts["token_transfers"][r] == len(tt)
        assert truth.counts["tokens"][r] == tt.token_address.nunique()
        assert truth.wei_sums["transactions.value"][r] == sum(
            int(v) for v in txs.value)
        assert truth.wei_sums["token_transfers.value"][r] == sum(
            int(v) for v in tt.value)


def test_transfer_log_truth_decodes_data(chain):
    truth, t = chain
    logs = t["logs"]
    lo, hi = 100, 700
    sel = logs[(logs.topics.str.startswith(chaingen.TRANSFER_SIG))
               & (logs.block_number >= lo) & (logs.block_number <= hi)]
    assert truth.transfer_logs(lo, hi) == (
        len(sel), sum(int(d, 16) for d in sel.data))


def test_wei_sum_is_exact():
    digits = np.array([[9] * 22, [1] + [0] * 21, [0] * 21 + [5]])
    assert chaingen.wei_sum(digits) == (10 ** 22 - 1) + 10 ** 21 + 5


def test_corpus_has_injected_copies(tmp_path):
    c = corpusgen.generate_corpus(str(tmp_path), 3, n_docs=400, n_vecs=200)
    docs = pq.read_table(c.documents).to_pandas()
    assert sorted(docs.doc_id) == list(range(400))
    assert len(docs) - docs.text.nunique() >= c.n_doc_copies // 4
    assert (docs.n_chars == docs.text.str.len()).all()
    emb = pq.read_table(c.embeddings).to_pandas()
    vecs = np.stack(emb.embedding.values)
    assert vecs.shape == (200, corpusgen.EMB_DIM)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1, atol=1e-5)
    again = corpusgen.generate_corpus(str(tmp_path / "b"), 3, 400, 200)
    assert pq.read_table(again.documents).equals(pq.read_table(c.documents))


# ------------------------------------------------------------- spans

def test_covered_merges_and_clips():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.covered([(1, 2), (1, 2)], 0, 10) == 1


def _span(i, start, end, parent=None, name="x"):
    return spans.Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_direct_children_only():
    tree = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 2, 3, 1),
            _span(3, 4, 6, 0)]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10 - 5)       # children cover [1, 6]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2)
    assert sum(st.values()) == pytest.approx(10)  # self times partition the root


def test_tracer_nesting_wrapping_and_errors():
    tr = spans.Tracer("run")

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr.wrap(Owner, "f", "owner.f", lambda a, k: {"arg": a[0]})
    with tr.span("outer") as outer:
        assert Owner.f(1) == 2
    with pytest.raises(ValueError):
        with tr.span("bad"):
            raise ValueError("boom")
    tr.unwrap_all()
    assert Owner.f(1) == 2 and len(tr.spans) == 3
    inner, bad = tr.spans[1], tr.spans[2]
    assert inner.name == "owner.f" and bad.name == "bad"
    assert inner.parent == outer.id and inner.attrs == {"arg": 1}
    assert "boom" in bad.attrs["error"]
    assert [s.id for s in tr.subtree(outer)] == [outer.id, inner.id]


def test_status_store_attributes_stages_and_tasks_to_job_groups():
    jobs = [{"jobId": 0, "jobGroup": "r:1", "stageIds": [0, 1]},
            {"jobId": 1, "stageIds": [2]},
            {"jobId": 2, "jobGroup": "r:3", "stageIds": [1, 3]}]
    stage = lambda status, run_ms, gc_ms=0, shuffle=0, records=0: {
        "status": status, "executorRunTime": run_ms, "jvmGcTime": gc_ms,
        "shuffleWriteBytes": shuffle, "inputRecords": records,
        "outputRecords": 0, "outputBytes": 0}
    stages = {0: stage("SKIPPED", 0), 1: stage("COMPLETE", 400, 20, 64, 7),
              2: stage("COMPLETE", 10), 3: stage("COMPLETE", 5)}
    tasks = {1: [{"schedulerDelay": 30}, {"schedulerDelay": 20}],
             2: [{"schedulerDelay": 1}], 3: [{"schedulerDelay": 2}]}
    stats = spans.group_stats(jobs, stages, tasks)
    g = stats["r:1"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 2)   # stage 0 was skipped
    assert g.run_s == pytest.approx(0.4) and g.gc_s == pytest.approx(0.02)
    assert g.sched_delay_s == pytest.approx(0.05)
    assert (g.shuffle_write_bytes, g.input_records) == (64, 7)
    assert stats[None].jobs == 1 and stats[None].tasks == 1
    # stage 1 belongs to the first job listing it, not to job 2
    assert (stats["r:3"].jobs, stats["r:3"].stages) == (1, 1)
    assert stats["r:3"].run_s == pytest.approx(0.005)


def test_failed_ops_are_counted_and_the_cycle_goes_on():
    tr = spans.Tracer("run")
    with tr.span("cycle") as root:
        with workloads.guarded(tr, "phase_a"):
            with tr.span("op1", op="x"):
                pass
            with tr.span("op2", op="x"):
                raise ValueError("in an op")
        with workloads.guarded(tr, "phase_b"):
            raise ValueError("outside any op")
        with workloads.guarded(tr, "op3", op="x"):
            pass
    ops = workloads._ops_in(tr, root)
    assert [(o.span.name, o.failed) for o in ops] == [
        ("op1", False), ("op2", True), ("op3", False), ("phase_b", True)]


def test_missing_layer_is_an_error():
    s = [_span(0, 0, 1, name="a")]
    assert workloads.named(s, "a") == s
    with pytest.raises(workloads.MissingLayer):
        workloads.named(s, "b")


def test_workloads_own_every_workload_specific_metric():
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           os.pardir, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["per_layer"]]
    owned = [n for w in workloads.WORKLOADS.values() for n in w.METRICS]
    assert len(owned) == len(set(owned))           # no name owned twice
    assert set(owned) <= set(names)
    shared = {n for n in names if n not in owned}
    assert all(n.split(".")[0] in ("session", "spark", "trace", "host")
               or "." not in n for n in shared), shared


# ------------------------------------------------------------ oracle

def test_components_label_with_component_minimum():
    comp = oracle.components([(5, 3), (3, 9), (7, 8), (9, 4)])
    assert comp == {3: 3, 4: 3, 5: 3, 9: 3, 7: 7, 8: 7}


def test_rows_normalizes_engine_types():
    spark_like = [(decimal.Decimal("12"), 0.1 + 0.2, "a")]
    duck_like = [(12, 0.3, "a")]
    assert oracle.rows(spark_like) == oracle.rows(duck_like)


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([5.0], 95) == 5.0
