"""Seeded synthetic inputs for the token-ETL workloads.

Everything here is plain numpy/pandas: the library under test only ever
sees the frames these functions return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BLOCK0 = 27_479_303
START_TS = 1_681_931_734
SECONDS_PER_BLOCK = 3
DAYS = 14
N_BLOCKS = DAYS * 86_400 // SECONDS_PER_BLOCK

#: (contract address, symbol, whale threshold, circulating supply)
TOKENS = [
    ("0x" + "aa" * 20, "VALAS", 0.0005, 1_000_000.0),
    ("0x" + "bb" * 20, "VENUS", 0.005, 500_000.0),
    ("0x" + "cc" * 20, "CAKE", 0.003, 2_000_000.0),
]


def address(i: int) -> str:
    return "0x" + f"{i:040x}"


def raw_transfers(rng: np.random.Generator, n_rows: int, n_wallets: int) -> pd.DataFrame:
    """``raw_transfer_event`` rows: Zipf-skewed senders, uniform
    receivers, three tokens, blocks spread over ``DAYS``. Every row has
    its own transaction hash, so each yields one distinct edge key."""
    ranks = np.arange(1, n_wallets + 1, dtype=np.float64)
    weights = 1.0 / ranks ** 1.1
    senders = rng.choice(n_wallets, size=n_rows, p=weights / weights.sum())
    receivers = rng.integers(0, n_wallets, size=n_rows)
    wallets = np.array([address(i + 1) for i in range(n_wallets)])
    blocks = BLOCK0 + np.sort(rng.integers(0, N_BLOCKS, size=n_rows))
    hashes = rng.integers(0, 2**62, size=n_rows, dtype=np.int64)
    return pd.DataFrame(
        {
            "contract_address": np.array([t[0] for t in TOKENS])[rng.integers(0, len(TOKENS), size=n_rows)],
            "transaction_hash": ["0x" + f"{h:016x}{i:046x}" for i, h in enumerate(hashes)],
            "log_index": rng.integers(0, 300, size=n_rows).astype(np.int32),
            "block_number": blocks.astype(np.int32),
            "from_address": wallets[senders],
            "to_address": wallets[receivers],
            "value": np.round(rng.exponential(100.0, size=n_rows), 6),
        }
    )


def redelivery(raw: pd.DataFrame, rng: np.random.Generator, n_rows: int) -> pd.DataFrame:
    """``n_rows`` already-sent events again, with changed values: the
    same edge keys, so an upsert replaces the first delivery."""
    again = raw.iloc[np.sort(rng.choice(len(raw), size=n_rows, replace=False))].copy()
    again["value"] = np.round(again["value"].to_numpy() + rng.uniform(1.0, 50.0, size=n_rows), 6)
    return again


def latest(raw: pd.DataFrame, again: pd.DataFrame) -> pd.DataFrame:
    """``raw`` with the re-delivered rows in place of their first
    delivery (latest version per key of everything sent)."""
    out = raw.copy()
    out.loc[again.index, "value"] = again["value"]
    return out


def block_timestamps(raw: pd.DataFrame, rng: np.random.Generator) -> pd.DataFrame:
    """One row per block the events use, minus one seeded block: the
    events of that block enrich to a NULL ``transact_at``."""
    blocks = np.unique(raw["block_number"].to_numpy())
    missing = blocks[rng.integers(0, len(blocks))]
    blocks = blocks[blocks != missing]
    return pd.DataFrame(
        {
            "block_number": blocks.astype(np.int32),
            "timestamp": (START_TS + (blocks.astype(np.int64) - BLOCK0) * SECONDS_PER_BLOCK).astype(np.int64),
        }
    )


def token_metadata() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "contract_address": addr, "name": sym.title(), "symbol": sym,
                "decimals": "18", "logo": f"https://img.example/{sym}.png",
                "total_supply": 1_000_000, "max_supply": 2_000_000,
                "circulating_supply": supply, "whale_threshold": thr,
            }
            for addr, sym, thr, supply in TOKENS
        ]
    )


def dapp_registry() -> pd.DataFrame:
    """Three dapps: one with two contract addresses (one of them a hot,
    low-rank wallet), one with a NULL image, one never matched."""
    return pd.DataFrame(
        [
            {"_id": "dapp-swap", "name": "SwapX", "image": "swap.png",
             "contract_addresses": [address(1), address(7)]},
            {"_id": "dapp-lend", "name": "LendY", "image": None,
             "contract_addresses": [address(3)]},
            {"_id": "dapp-miss", "name": "NeverSeen", "image": "x.png",
             "contract_addresses": ["0x" + "ee" * 20]},
        ]
    )
