"""Seeded, vectorized synthetic Ethereum chain for the benchmark.

Writes the 7 fixture tables (`{root}/{table}.parquet`, the layout
`sources.chain.FixtureChain` reads) and returns a `ChainTruth` holding
everything the correctness checks need without asking Spark: the
expected row count per (table, range), exact wei sums per range, and
per-log arrays for the Transfer-decode check.

Invariants kept (FIXTURES.md):
  * every transaction's block exists; token transfers and logs point
    at an existing transaction of the same block; receipts are 1:1;
  * wei columns are decimal(38,0) and mostly exceed 2^63;
  * `receipts.contract_address` is null for ~95% of rows;
  * token transfers draw from a token set of ~1% of the transfer count;
  * ~30% of logs are well-formed ERC-20 Transfer events.

Volume grows with block number (later blocks carry more transactions),
which is why the range plan is tiered: one wide range, then narrower
tiers (`partitioning.volume_balanced_plan`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRANSFER_SIG = ("0xddf252ad1be2c89b69c2b068fc378daa"
                "952ba7f163c4a11628f55a4df523b3ef")
WEI = pa.decimal128(38, 0)
WEI_DIGITS = 22          # 10^21 > 2^63: every "big" wei value overflows int64
TRANSFER_SHARE = 0.30
CREATION_SHARE = 0.05
TABLES = ("blocks", "transactions", "token_transfers", "receipts", "logs",
          "contracts", "tokens")

_HEX = np.frombuffer(b"0123456789abcdef", np.uint8)
_DIG = np.frombuffer(b"0123456789", np.uint8)


def _prefixed(codes: np.ndarray, prefix: bytes) -> np.ndarray:
    """Prepend the same ASCII `prefix` to every row of a code matrix."""
    pre = np.broadcast_to(np.frombuffer(prefix, np.uint8),
                          (codes.shape[0], len(prefix)))
    return np.concatenate([pre, codes.astype(np.uint8)], axis=1)


def _ascii(codes: np.ndarray, prefix: bytes = b"") -> pa.Array:
    """(n, w) uint8 ASCII codes → pyarrow string array, one row each
    (trailing NUL codes are dropped, which gives variable lengths)."""
    if prefix:
        codes = _prefixed(codes, prefix)
    w = codes.shape[1]
    flat = np.ascontiguousarray(codes, dtype=np.uint8).view(f"S{w}").ravel()
    return pa.array(flat).cast(pa.string())


def rand_hex(rng: np.random.Generator, n: int, nchars: int) -> pa.Array:
    """n random lowercase `0x…` strings of `nchars` hex digits."""
    return _ascii(_HEX[rng.integers(0, 16, (n, nchars))], b"0x")


def _hex_of(values: np.ndarray, nchars: int) -> np.ndarray:
    """uint64 values → (n, nchars) ASCII hex codes, zero-padded."""
    shifts = np.arange(nchars - 1, -1, -1, dtype=np.uint64) * np.uint64(4)
    nib = (values.astype(np.uint64)[:, None] >> shifts[None, :]) & np.uint64(15)
    return _HEX[nib.astype(np.int64)]


def rand_wei(rng: np.random.Generator, n: int,
             small_share: float = 0.2) -> tuple[pa.Array, np.ndarray]:
    """n decimal(38,0) wei values and their digit matrix (for exact
    sums). ~`small_share` of them fit in 9 digits; the rest have 22
    digits, i.e. exceed 2^63."""
    digits = rng.integers(0, 10, (n, WEI_DIGITS)).astype(np.int64)
    digits[:, 0] = rng.integers(1, 10, n)
    small = rng.random(n) < small_share
    digits[small, : WEI_DIGITS - 9] = 0
    text = _ascii(_DIG[digits])
    return text.cast(WEI), digits


def wei_sum(digits: np.ndarray) -> int:
    """Exact sum of the values a digit matrix spells (column sums stay
    far below int64, the weighting happens in Python ints)."""
    col = digits.sum(axis=0)
    w = digits.shape[1]
    return sum(int(c) * 10 ** (w - 1 - j) for j, c in enumerate(col))


def tiered_plan(end: int, wide: int, mid_bound: int, mid_width: int,
                narrow_width: int) -> list[tuple[int, int]]:
    """The reference's tiered plan shape scaled to the synthetic
    chain: [0, wide) as one range, then `mid_width` ranges up to
    `mid_bound`, then `narrow_width` ranges to `end` (inclusive)."""
    from ethereum_export_pipeline_spark.partitioning import volume_balanced_plan
    return volume_balanced_plan(
        end, [(wide, wide), (mid_bound, mid_width), (end + 1, narrow_width)])


@dataclass
class ChainTruth:
    """What the generator knows about the chain it wrote."""
    root: str
    plan: list[tuple[int, int]]
    extended_plan: list[tuple[int, int]]
    #: table → (start, end) → expected exported rows (all extended ranges)
    counts: dict[str, dict[tuple[int, int], int]] = field(default_factory=dict)
    #: "table.column" → (start, end) → exact wei sum
    wei_sums: dict[str, dict[tuple[int, int], int]] = field(default_factory=dict)
    input_bytes: int = 0
    #: per-log arrays for the Transfer-decode check
    log_block: np.ndarray | None = None
    log_is_transfer: np.ndarray | None = None
    log_value_hi: np.ndarray | None = None
    log_value_lo: np.ndarray | None = None

    def rows(self, plan: list[tuple[int, int]]) -> int:
        """Rows landed by exporting `plan` (all tables)."""
        return sum(self.counts[t][r] for t in TABLES for r in plan)

    def transfer_logs(self, lo: int, hi: int) -> tuple[int, int]:
        """(count, exact value sum) of Transfer logs in blocks [lo, hi]."""
        m = (self.log_is_transfer & (self.log_block >= lo)
             & (self.log_block <= hi))
        return (int(m.sum()),
                (int(self.log_value_hi[m].sum()) << 32)
                + int(self.log_value_lo[m].sum()))


def _per_range(block: np.ndarray,
               plan: list[tuple[int, int]]) -> dict[tuple[int, int], int]:
    starts = np.array([s for s, _ in plan])
    idx = np.searchsorted(starts, block, side="right") - 1
    out = np.bincount(idx, minlength=len(plan))
    return {r: int(out[i]) for i, r in enumerate(plan)}


def _per_range_wei(block: np.ndarray, digits: np.ndarray,
                   plan: list[tuple[int, int]]) -> dict[tuple[int, int], int]:
    return {(s, e): wei_sum(digits[(block >= s) & (block <= e)])
            for s, e in plan}


def generate_chain(root: str, seed: int, n_blocks: int, wide: int,
                   mid_bound: int, mid_width: int, narrow_width: int,
                   new_ranges: int = 1, tx_scale: float = 6.0) -> ChainTruth:
    """Write a chain of `n_blocks` planned blocks plus `new_ranges`
    narrow-tier ranges past the plan's end (the blocks an incremental
    rerun picks up) under `root`; return its `ChainTruth`. The plan is
    `tiered_plan(n_blocks - 1, wide, mid_bound, mid_width, narrow_width)`.
    """
    rng = np.random.default_rng(seed)
    plan = tiered_plan(n_blocks - 1, wide, mid_bound, mid_width, narrow_width)
    total = n_blocks + new_ranges * narrow_width
    extended = tiered_plan(total - 1, wide, mid_bound, mid_width, narrow_width)

    # ---- blocks: transaction count grows with height
    number = np.arange(total, dtype=np.int64)
    lam = 1.0 + tx_scale * number / n_blocks
    tx_count = rng.poisson(lam).astype(np.int64)
    block_hash = rand_hex(rng, total, 64)
    difficulty, diff_digits = rand_wei(rng, total, small_share=0.0)
    gas_limit = np.full(total, 8_000_000, np.int64)
    miners = rand_hex(rng, 50, 40)
    blocks = pa.table({
        "number": number,
        "hash": block_hash,
        "parent_hash": pa.concat_arrays(
            [pa.array(["0x" + "0" * 64]), block_hash.slice(0, total - 1)]),
        "nonce": rand_hex(rng, total, 16),
        "sha3_uncles": rand_hex(rng, total, 64),
        "logs_bloom": rand_hex(rng, total, 512),
        "transactions_root": rand_hex(rng, total, 64),
        "state_root": rand_hex(rng, total, 64),
        "miner": miners.take(pa.array(rng.integers(0, 50, total))),
        "difficulty": difficulty,
        "total_difficulty": _ascii(_DIG[np.concatenate(
            [_digits_of(number + 1, 8), np.zeros((total, 21), np.int64)],
            axis=1)]).cast(WEI),
        "size": rng.integers(500, 50_000, total),
        "extra_data": rand_hex(rng, total, 8),
        "gas_limit": gas_limit,
        "gas_used": rng.integers(0, 8_000_000, total),
        "timestamp": 1_438_269_973 + 15 * number,
        "transaction_count": tx_count,
    })

    # ---- transactions
    n_tx = int(tx_count.sum())
    tx_block = np.repeat(number, tx_count)
    tx_index = np.arange(n_tx) - np.repeat(np.cumsum(tx_count) - tx_count, tx_count)
    tx_hash = rand_hex(rng, n_tx, 64)
    value, value_digits = rand_wei(rng, n_tx)
    creation = rng.random(n_tx) < CREATION_SHARE
    to_addr = rand_hex(rng, n_tx, 40)
    input_len = np.array([0, 8, 136])[rng.integers(0, 3, n_tx)]
    full_input = _HEX[rng.integers(0, 16, (n_tx, 136))]
    input_text = np.where(
        input_len[:, None] > np.arange(136)[None, :], full_input, 0)
    transactions = pa.table({
        "hash": tx_hash,
        "nonce": rng.integers(0, 1000, n_tx),
        "block_hash": block_hash.take(pa.array(tx_block)),
        "block_number": tx_block,
        "transaction_index": tx_index,
        "from_address": rand_hex(rng, n_tx, 40),
        "to_address": pa.array(to_addr.to_numpy(zero_copy_only=False),
                               mask=creation, type=pa.string()),
        "value": value,
        "gas": np.full(n_tx, 21_000, np.int64),
        "gas_price": rng.integers(10 ** 9, 10 ** 11, n_tx),
        "input": _ascii(input_text, b"0x"),
    })

    # ---- receipts (1:1) and contracts (the ~5% creations)
    contract_addr = rand_hex(rng, n_tx, 40)
    receipts = pa.table({
        "transaction_hash": tx_hash,
        "transaction_index": tx_index,
        "block_number": tx_block,
        "cumulative_gas_used": 21_000 * (tx_index + 1),
        "gas_used": np.full(n_tx, 21_000, np.int64),
        "contract_address": pa.array(
            contract_addr.to_numpy(zero_copy_only=False), mask=~creation,
            type=pa.string()),
        "status": (rng.random(n_tx) < 0.9).astype(np.int64),
    })
    c_idx = np.flatnonzero(creation)
    contracts = pa.table({
        "address": contract_addr.take(pa.array(c_idx)),
        "bytecode": rand_hex(rng, len(c_idx), 32),
        "is_erc20": rng.random(len(c_idx)) < 0.5,
        "is_erc721": rng.random(len(c_idx)) < 0.2,
        "block_number": tx_block[c_idx],
    })

    # ---- logs: 0-3 per transaction, ~30% well-formed Transfers
    per_tx_logs = rng.integers(0, 4, n_tx)
    n_logs = int(per_tx_logs.sum())
    log_tx = np.repeat(np.arange(n_tx), per_tx_logs)
    log_index = (np.arange(n_logs)
                 - np.repeat(np.cumsum(per_tx_logs) - per_tx_logs, per_tx_logs))
    is_transfer = rng.random(n_logs) < TRANSFER_SHARE
    val_hi = rng.integers(0, 1 << 40, n_logs).astype(np.uint64)
    val_lo = rng.integers(0, 1 << 32, n_logs).astype(np.uint64)
    # data: 0x + 46 zeros + 10 hex (hi) + 8 hex (lo) = a 72-bit uint256
    data_codes = np.concatenate([
        np.full((n_logs, 46), ord("0"), np.uint8),
        _hex_of(val_hi, 10), _hex_of(val_lo, 8)], axis=1)
    comma = np.full((n_logs, 1), ord(","), np.uint8)
    random_topic0 = _prefixed(_HEX[rng.integers(0, 16, (n_logs, 64))], b"0x")
    topic0 = np.where(is_transfer[:, None],
                      np.frombuffer(TRANSFER_SIG.encode(), np.uint8)[None, :],
                      random_topic0)
    pad24 = b"0x" + b"0" * 24   # a 20-byte address right-aligned in 32
    topics = np.concatenate([
        topic0, comma,
        _prefixed(_HEX[rng.integers(0, 16, (n_logs, 40))], pad24), comma,
        _prefixed(_HEX[rng.integers(0, 16, (n_logs, 40))], pad24)], axis=1)
    logs = pa.table({
        "transaction_hash": tx_hash.take(pa.array(log_tx)),
        "log_index": log_index,
        "address": rand_hex(rng, n_logs, 40),
        "data": _ascii(data_codes, b"0x"),
        "topics": _ascii(topics),
        "block_number": tx_block[log_tx],
    })

    # ---- token transfers over a token set of ~1% of their count
    n_tt = max(int(n_tx * 0.5), 300)
    n_tokens = max(3, n_tt // 100)
    token_set = rand_hex(rng, n_tokens, 40)
    tt_tx = np.sort(rng.integers(0, n_tx, n_tt))
    tt_token = rng.integers(0, n_tokens, n_tt)
    tt_value, tt_digits = rand_wei(rng, n_tt)
    token_transfers = pa.table({
        "token_address": token_set.take(pa.array(tt_token)),
        "from_address": rand_hex(rng, n_tt, 40),
        "to_address": rand_hex(rng, n_tt, 40),
        "value": tt_value,
        "transaction_hash": tx_hash.take(pa.array(tt_tx)),
        "log_index": rng.integers(0, 10, n_tt),
        "block_number": tx_block[tt_tx],
    })
    supply, _ = rand_wei(rng, n_tokens, small_share=0.0)
    tokens = pa.table({
        "address": token_set,
        "symbol": pa.array([f"TK{i}" for i in range(n_tokens)]),
        "name": pa.array([f"Token {i}" for i in range(n_tokens)]),
        "decimals": np.full(n_tokens, 18, np.int64),
        "total_supply": supply,
    })

    os.makedirs(root, exist_ok=True)
    input_bytes = 0
    for name, tbl in (("blocks", blocks), ("transactions", transactions),
                      ("token_transfers", token_transfers),
                      ("receipts", receipts), ("logs", logs),
                      ("contracts", contracts), ("tokens", tokens)):
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(tbl, path)
        input_bytes += os.path.getsize(path)

    # ---- truth: rows per (table, range) and exact wei sums
    truth = ChainTruth(root=root, plan=plan, extended_plan=extended,
                       input_bytes=input_bytes)
    truth.counts["blocks"] = _per_range(number, extended)
    truth.counts["transactions"] = _per_range(tx_block, extended)
    truth.counts["receipts"] = truth.counts["transactions"]
    truth.counts["token_transfers"] = _per_range(tx_block[tt_tx], extended)
    truth.counts["logs"] = _per_range(tx_block[log_tx], extended)
    truth.counts["contracts"] = _per_range(tx_block[c_idx], extended)
    starts = np.array([s for s, _ in extended])
    tt_range = np.searchsorted(starts, tx_block[tt_tx], side="right") - 1
    distinct = np.unique(tt_range * n_tokens + tt_token) // n_tokens
    tok = np.bincount(distinct, minlength=len(extended))
    truth.counts["tokens"] = {r: int(tok[i]) for i, r in enumerate(extended)}
    truth.wei_sums["blocks.difficulty"] = _per_range_wei(
        number, diff_digits, extended)
    truth.wei_sums["transactions.value"] = _per_range_wei(
        tx_block, value_digits, extended)
    truth.wei_sums["token_transfers.value"] = _per_range_wei(
        tx_block[tt_tx], tt_digits, extended)
    truth.log_block = tx_block[log_tx]
    truth.log_is_transfer = is_transfer
    truth.log_value_hi = val_hi.astype(np.int64)
    truth.log_value_lo = val_lo.astype(np.int64)
    return truth


def _digits_of(values: np.ndarray, width: int) -> np.ndarray:
    """Non-negative ints → (n, width) zero-padded decimal digit matrix."""
    pow10 = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return (values[:, None] // pow10[None, :]) % 10
