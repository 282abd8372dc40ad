"""Seeded generator of the sync_enrich inputs.

A transfer stream keyed by `block_number` (every transaction inside one
block, 1-4 transfers each), Zipf-skewed `token_address` with one hot token
(token 0), token metadata missing a fixed fraction of the tokens, and a
price table missing a fixed fraction of the metadata symbols. `spec.json`
beside them records the shape for the harness.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The backlog is exactly `batches` ranges of `blocks_per_batch` blocks once
# `lag` blocks are held back from the head.
SYNC = {"batches": 16, "blocks_per_batch": 8, "lag": 4, "tx_per_block": 40,
        "tokens": 400, "zipf_s": 1.1, "unsupported_frac": 0.1,
        "unpriced_frac": 0.1}
SYNC_WARM = dict(SYNC, batches=3)


def _parquet(table, path, files=1):
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"), compression="snappy")


def write(out_dir, spec, seed):
    """Write transfers/, metadata/, prices/ and spec.json for one sync."""
    rng = np.random.default_rng(seed)
    blocks = spec["batches"] * spec["blocks_per_batch"] + spec["lag"]
    n_tx = blocks * spec["tx_per_block"]
    per_tx = rng.integers(1, 5, n_tx)
    rows = int(per_tx.sum())
    tx = np.repeat(np.arange(n_tx, dtype=np.int64), per_tx)
    starts = np.repeat(np.cumsum(per_tx) - per_tx, per_tx)
    k = np.arange(1, spec["tokens"] + 1, dtype=np.float64)
    zipf = k ** -spec["zipf_s"]
    tokens = np.array([f"0x{i:08x}" for i in range(spec["tokens"])], dtype=object)
    senders = rng.integers(0, 5000, n_tx)
    transfers = pa.table({
        "block_number": pa.array(tx // spec["tx_per_block"], pa.int64()),
        "transaction_id": pa.array(tx, pa.int64()),
        "transfer_seq": pa.array(np.arange(rows) - starts, pa.int32()),
        "token_address": pa.array(tokens[rng.choice(spec["tokens"], rows, p=zipf / zipf.sum())],
                                  pa.string()),
        "coin_value": pa.array(rng.integers(1, 1000000001, rows), pa.int64()),
        "fee": rng.integers(0, 100000, rows) / 100.0,
        "type": pa.array(rng.integers(0, 4, rows), pa.int32()),
        "sender_address": pa.array([f"0xa{s:07x}" for s in np.repeat(senders, per_tx)]),
        "receiver_address": pa.array([f"0xb{r:07x}" for r in rng.integers(0, 5000, rows)])})
    _parquet(transfers, os.path.join(out_dir, "transfers"), files=4)

    unsupported = rng.choice(np.arange(1, spec["tokens"]),
                             round(spec["tokens"] * spec["unsupported_frac"]), replace=False)
    supported = np.setdiff1d(np.arange(spec["tokens"]), unsupported)
    unpriced = rng.choice(supported[1:], round(len(supported) * spec["unpriced_frac"]),
                          replace=False)
    priced = np.setdiff1d(supported, unpriced)
    _parquet(pa.table({
        "token_address": pa.array(tokens[supported], pa.string()),
        "symbol": pa.array([f"SYM{i}" for i in supported]),
        "decimals": pa.array(supported % 19, pa.int32())}),
        os.path.join(out_dir, "metadata"))
    _parquet(pa.table({
        "symbol": pa.array([f"SYM{i}" for i in priced]),
        "coin_price_usd": rng.integers(1, 500001, len(priced)) / 100.0}),
        os.path.join(out_dir, "prices"))
    with open(os.path.join(out_dir, "spec.json"), "w") as f:
        json.dump(dict(spec, hot_share=float(zipf[0] / zipf.sum())), f)
