import copy

import numpy as np
import pandas as pd
from pyspark.sql import Row

import checks
import tokengen
import workloads


def _etl_inputs(seed=5):
    rng = np.random.default_rng(seed)
    raw = tokengen.raw_transfers(rng, 600, 20)
    return raw, tokengen.block_timestamps(raw, rng), tokengen.token_metadata(), tokengen.dapp_registry()


def test_etl_replay_accepts_itself_and_spark_shaped_rows():
    expected = checks.etl_expected(*_etl_inputs(), workloads.WINDOW)
    actual = copy.deepcopy(expected)
    # Spark collects map values as Rows, DuckDB replays them as dicts
    actual["wallets"]["balanceChangeLogs"] = [
        {k: Row(**v) for k, v in m.items()} for m in actual["wallets"]["balanceChangeLogs"]
    ]
    actual["wallets"] = actual["wallets"].iloc[::-1]  # row order is free
    assert checks.check_etl(actual, expected) == []


def test_etl_checker_rejects_perturbed_collections():
    expected = checks.etl_expected(*_etl_inputs(), workloads.WINDOW)
    assert len(expected["transfers"]) == 600
    assert expected["transfers"]["transact_at"].isna().any()  # the missing block

    wallets = copy.deepcopy(expected)
    first = wallets["wallets"].at[0, "balanceChangeLogs"]
    ts = next(iter(first))
    # a new map object: frame copies share the ones they hold
    wallets["wallets"].at[0, "balanceChangeLogs"] = {
        **first, ts: {**first[ts], "balance": first[ts]["balance"] + 1e-3}
    }
    assert any(p.startswith("wallets:") for p in checks.check_etl(wallets, expected))

    tokens = copy.deepcopy(expected)
    tokens["tokens"] = tokens["tokens"].iloc[1:]
    assert any(p.startswith("tokens:") for p in checks.check_etl(tokens, expected))

    edges = copy.deepcopy(expected)
    edges["transfers"].loc[3, "value"] += 1.0
    assert any(p.startswith("transfers:") for p in checks.check_etl(edges, expected))

    missing = {k: v for k, v in expected.items() if k != "dapps"}
    assert checks.check_etl(missing, expected) == ["dapps: collection missing"]


def test_etl_checker_rejects_a_lost_redelivery():
    raw, bt, meta, registry = _etl_inputs()
    again = tokengen.redelivery(raw, np.random.default_rng(1), 4)
    expected = checks.etl_expected(tokengen.latest(raw, again), bt, meta, registry, workloads.WINDOW)
    first_only = checks.etl_expected(raw, bt, meta, registry, workloads.WINDOW)
    assert checks.check_etl(expected, expected) == []
    assert any(p.startswith("transfers:") for p in checks.check_etl(first_only, expected))


def test_query_checker_rejects_perturbed_output():
    expected = pd.DataFrame({"user_id": [1, 2, 3], "balance": [1.5, -2.0, 0.25]})
    actual = expected.sample(frac=1.0, random_state=0).rename(columns={"balance": "BALANCE"})
    assert checks.compare("q", actual, expected) == []
    wrong = expected.copy()
    wrong.loc[1, "balance"] = -2.0001
    assert checks.compare("q", wrong, expected)
    assert checks.compare("q", expected.iloc[:2], expected)
    assert checks.compare("q", expected.rename(columns={"user_id": "uid"}), expected)
