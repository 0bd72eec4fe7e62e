"""Seeded, vectorised input generators owned by the benchmark.

Three inputs, each a pure function of ``(seed, size)``:

- ``events``: the testdata ``events`` schema plus the ``orders`` and
  ``customer`` tables ``ysb_pipeline`` joins, shaped like sf0.1 (user
  activity, event types, values and table ratios);
- ``transcripts``: the ``(conv_id, turn_idx, role, text, tool, ts)``
  transcript schema with FIXTURES.md F1's Zipf(1.2) conversation
  lengths, written as time-ordered part files for a streaming backlog;
- ``documents``: a corpus modelled on the sf0.1 documents table (its
  31-word vocabulary, 10-100 word lengths, language and source mix)
  with near-duplicate and exact-duplicate plants at the rates measured
  there.

Each generator writes parquet into a cache directory keyed by kind,
seed and size, so a second run with the same seed reuses the files.
Timestamps are written as microsecond ``TIMESTAMP_NTZ``, as in the
testdata tables.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever a generator's output changes, so stale caches are not
# reused.
VERSION = 3

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
# sf0.1 events: 1,500 users for 100,000 events; per-user counts have
# variance/mean 1.01, the Poisson spread of uniform draws, so users are
# drawn uniformly. orders and customer have 1.5 and 0.15 rows per event.
EVENTS_PER_USER = 100_000 / 1_500
ORDERS_PER_EVENT, CUSTOMERS_PER_EVENT = 1.5, 0.15
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

# FIXTURES.md F1 (datagen.gen_transcripts): lengths are Zipf(1.2)
# draws scaled to a mean of 40 turns, clipped to [4, 200 * 40].
ZIPF_A, MEAN_TURNS, MIN_TURNS, MAX_TURNS = 1.2, 40, 4, 8000
ROLE_CYCLE = np.array(["user", "assistant", "tool", "assistant"])
TOOLS = np.array(["search", "python", "browser"])
TURN_WORDS = np.array(
    "stream window pane tuple shuffle spark agent turn reply tool call "
    "result state key slide batch plan join merge emit flush check run".split()
)
TRANSCRIPTS_START_US = 1_767_225_600_000_000  # 2026-01-01 00:00:00 UTC

# sf0.1 documents: vocabulary, language mix and source count, and the
# near-/exact-duplicate rates tools/gen_sf1.py measured there.
DOC_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
DOC_LANGS = np.array(["en", "zh", "es", "fr", "de"])
DOC_LANG_P = np.array([0.4118, 0.1506, 0.1488, 0.1484, 0.1404])
DOC_SOURCES = 20
NEAR_DUP_RATE = 0.047
EXACT_DUP_RATE = 0.0016


def write_parquet(table: pd.DataFrame, path: Path) -> None:
    pq.write_table(
        pa.Table.from_pandas(table, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def _us(values: np.ndarray) -> np.ndarray:
    return values.astype("datetime64[us]")


def gen_events(seed: int, n_events: int) -> dict[str, pd.DataFrame]:
    """events, orders and customer tables at sf0.1's shape."""
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(EVENTS_START_US + rng.integers(0, EVENTS_SPAN_US, n_events))
    n_users = round(n_events / EVENTS_PER_USER)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _us(ts),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pd.Series(rng.integers(0, 100, n_events)).map('{{"k": {}}}'.format),
        }
    )
    n_cust = round(n_events * CUSTOMERS_PER_EVENT)
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pd.Series(np.arange(n_cust)).map("Customer#{:09d}".format),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)],
        }
    )
    n_ord = round(n_events * ORDERS_PER_EVENT)
    day_us = 86_400 * 1_000_000
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n_ord), 2),
            # 1992-01-01 .. 2002-12-31, whole days
            "o_orderdate": _us(694_224_000_000_000 + rng.integers(0, 4017, n_ord) * day_us),
            "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n_ord)],
        }
    )
    return {"events": events, "orders": orders, "customer": customer}


def zipf_quantiles(n: int, a: float = ZIPF_A) -> np.ndarray:
    """The Zipf(a) values at survival probabilities (k - 0.5) / n for
    k = 1..n, largest first: exact below 10**6, by the tail's integral
    approximation ``S(x) = x^(1-a) / ((a-1) zeta(a))`` above."""
    big = 10**6
    x = np.arange(1, big, dtype=np.float64)
    pmf = x ** -a
    zeta = pmf.sum() + big ** (1 - a) / (a - 1) + 0.5 * big ** -a
    surv = 1 - np.concatenate([[0.0], np.cumsum(pmf)[:-1]]) / zeta  # P(X >= x)
    s = (np.arange(1, n + 1) - 0.5) / n
    out = np.empty(n)
    tail = s < surv[-1]
    out[tail] = (s[tail] * (a - 1) * zeta) ** (1 / (1 - a))
    out[~tail] = x[np.searchsorted(-surv, -s[~tail], side="right") - 1]
    return out


def conversation_sizes(n_convs: int) -> np.ndarray:
    """F1's length law with its draws replaced by the Zipf(1.2)
    quantiles, so every seed gets the same multiset of lengths (F1's
    random draws move the total turns of 2,000 conversations between
    16k and 36k from seed to seed)."""
    raw = zipf_quantiles(n_convs)
    return np.clip(np.round(raw / raw.mean() * MEAN_TURNS), MIN_TURNS, MAX_TURNS).astype(np.int64)


def gen_transcripts(seed: int, n_convs: int) -> pd.DataFrame:
    """Transcript turns in ts order. Conversation lengths are
    ``conversation_sizes`` (the same multiset for every seed, so the
    seed decides who gets which length, not the total work);
    conversations start uniformly over one hour and turns are 0.2-4 s
    apart, so turn_idx rises with ts inside every conversation."""
    rng = np.random.default_rng([seed, 2])
    sizes = conversation_sizes(n_convs)[rng.permutation(n_convs)]
    n_rows = int(sizes.sum())
    conv = np.repeat(np.arange(n_convs), sizes)
    first = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn = (np.arange(n_rows) - first).astype(np.int32)
    gaps = rng.integers(200_000, 4_000_000, n_rows)
    gaps[turn == 0] = 0
    cum = np.cumsum(gaps)
    start = rng.integers(0, 3_600_000_000, n_convs)
    ts = TRANSCRIPTS_START_US + np.repeat(start, sizes) + cum - cum[first]
    roles = ROLE_CYCLE[turn % 4]
    tools = np.where(roles == "tool", TOOLS[rng.integers(0, len(TOOLS), n_rows)], "none")
    phrases = pd.Series(
        [" ".join(p) for p in TURN_WORDS[rng.integers(0, len(TURN_WORDS), (1024, 6))]]
    )
    conv_id = pd.Series(conv).map("conv-{:06d}".format)
    text = (
        pd.Series(roles) + " turn " + pd.Series(turn).astype(str) + " of "
        + conv_id + ": " + phrases.iloc[rng.integers(0, 1024, n_rows)].reset_index(drop=True)
    )
    df = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn,
            "role": roles,
            "text": text,
            "tool": tools,
            "ts": _us(ts),
        }
    )
    return df.sort_values(["ts", "conv_id"], kind="stable").reset_index(drop=True)


def gen_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Word-soup documents over the sf0.1 vocabulary, 10-100 words
    each, with near-duplicates (tail of another doc re-drawn) and
    exact duplicates planted at the sf0.1 rates."""
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(10, 101, n_docs)
    words = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    near = rng.choice(n_docs, int(NEAR_DUP_RATE * n_docs), replace=False)
    src = rng.integers(0, n_docs, len(near))
    cut = rng.integers(1, 6, len(near))
    for i, j, c in zip(near, src, cut):
        w = texts[j].split()
        keep = max(1, len(w) - int(c))
        texts[i] = " ".join(w[:keep] + list(DOC_VOCAB[rng.integers(0, len(DOC_VOCAB), len(w) - keep)]))
    exact = rng.choice(n_docs, max(1, int(EXACT_DUP_RATE * n_docs)), replace=False)
    for i, j in zip(exact, rng.integers(0, n_docs, len(exact))):
        texts[i] = texts[j]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": DOC_LANGS[np.searchsorted(np.cumsum(DOC_LANG_P), rng.random(n_docs) * DOC_LANG_P.sum())],
            "source": pd.Series(rng.integers(0, DOC_SOURCES, n_docs)).map("src{}".format),
        }
    )
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    return df


class Inputs:
    """Generated inputs cached under ``root``; ``gen_s`` accumulates the
    time spent generating (zero when every input came from the cache)."""

    def __init__(self, root: Path):
        self.root = root
        self.gen_s = 0.0

    def _cached(self, name: str, build) -> Path:
        out = self.root / f"{name}-v{VERSION}"
        if (out / "_DONE").exists():
            return out
        t0 = time.perf_counter()
        tmp = self.root / f".{name}-v{VERSION}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        (tmp / "_DONE").touch()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        self.gen_s += time.perf_counter() - t0
        return out

    def events(self, seed: int, n_events: int) -> Path:
        """Directory holding events/orders/customer ``.parquet`` files,
        laid out like a testdata scale-factor directory."""

        def build(d: Path) -> None:
            for name, df in gen_events(seed, n_events).items():
                write_parquet(df, d / f"{name}.parquet")

        return self._cached(f"events-s{seed}-n{n_events}", build)

    def transcripts(self, seed: int, n_convs: int, n_files: int) -> Path:
        """Directory of ``n_files`` ts-ordered part files; file k's
        mtime is k seconds after file 0's, so a file-stream source
        lists them in ts order."""

        def build(d: Path) -> None:
            df = gen_transcripts(seed, n_convs)
            bounds = np.linspace(0, len(df), n_files + 1).astype(int)
            for k in range(n_files):
                path = d / f"part-{k:05d}.parquet"
                write_parquet(df.iloc[bounds[k]:bounds[k + 1]], path)
                os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

        return self._cached(f"transcripts-s{seed}-c{n_convs}-f{n_files}", build)

    def documents(self, seed: int, n_docs: int) -> Path:
        def build(d: Path) -> None:
            write_parquet(gen_documents(seed, n_docs), d / "documents.parquet")

        return self._cached(f"documents-s{seed}-n{n_docs}", build)
