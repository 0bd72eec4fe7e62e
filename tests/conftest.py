from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from windflow_spark.session import get_spark  # noqa: E402
import datagen  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # streaming=True → RocksDB state store: every streaming test runs on
    # the production state backend
    s = get_spark(
        "windflow-tests", master="local[4]", shuffle_partitions=4, streaming=True
    )
    yield s


@pytest.fixture(scope="session")
def cb_grid() -> pd.DataFrame:
    return datagen.gen_cb_grid(length=200, keys=4)


@pytest.fixture(scope="session")
def tb_grid() -> pd.DataFrame:
    return datagen.gen_tb_grid(length=200, keys=4, seed=0)


@pytest.fixture(scope="session")
def transcripts() -> pd.DataFrame:
    return datagen.gen_transcripts(n_convs=30, seed=42, mean_turns=24)


def assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame, sort_by: list[str]):
    """Row-for-row equality sorted by key columns (test_all_cb.cpp:185-190
    analogue)."""
    g = got.sort_values(sort_by, kind="stable").reset_index(drop=True)
    w = want.sort_values(sort_by, kind="stable").reset_index(drop=True)
    g = g[sorted(g.columns)]
    w = w[sorted(w.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=1e-9)


def counted(df):
    """``df`` behind a pass-through ``mapInPandas`` that adds each row
    it passes to a Spark accumulator: returns (frame, accumulator). After
    an action the accumulator holds how many rows of ``df`` it evaluated:
    n for one pass over n rows, k·n when the plan re-runs ``df`` k times."""
    acc = df.sparkSession.sparkContext.accumulator(0)

    def _count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(_count, df.schema), acc
